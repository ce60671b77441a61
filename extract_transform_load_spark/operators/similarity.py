"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors for a (small) query
  set against the full corpus. The query side is broadcast, the corpus
  side streams — no shuffle of the corpus; per-row dot products run
  JVM-side via ``aggregate``/``zip_with`` inside codegen. This is the
  correctness baseline and is also the right plan whenever
  |queries| × dim fits in a broadcast (the common "probe batch" case).

- ``lsh_topk``: random-hyperplane LSH. Corpus vectors are bucketed by a
  b-bit sign signature (deterministic hyperplanes derived from a seed);
  probes only rerank candidates whose signature matches in at least one
  band. At 100 TB the bucket table is the partitioned index; candidate
  rerank touches a small fraction of the corpus.

Float policy: embeddings are float32 on disk; all arithmetic is done in
float64 after per-element cast, accumulating in index order, so Spark and
any sequential re-implementation (the DuckDB oracle) agree bitwise.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


MAX_PROBE_BATCH = 10_000


def collect_probe_batch(
    queries: DataFrame,
    query_id_col: str,
    vec_col: str,
    max_rows: int = MAX_PROBE_BATCH,
) -> list:
    """Collect a PROBE batch to the driver, guarded.

    The PQ/IVF search paths ship the query vectors driver-side to build
    lookup tables — correct for probe batches (the serving shape), a
    silent OOM if a caller passes the corpus as ``queries``
    (queries==corpus self-join). The guard turns that mistake into an
    immediate, named error instead: batches beyond ``max_rows`` must go
    through the bucketed pair paths (minhash/simhash LSH, semantic_dedup)
    or chunk the probe set.
    """
    rows = queries.select(query_id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"probe batch exceeds {max_rows} rows: the driver-side LUT "
            "path is for bounded query batches — chunk the probes or use "
            "a bucketed pair operator for corpus-vs-corpus search"
        )
    return rows


def ann_recall_audit(ann: DataFrame, exact: DataFrame, min_recall: float) -> DataFrame:
    """Per-query recall audit of an ANN result against exact ground truth.

    Returns ``(query_id, n_results, recall_ok)`` where ``recall_ok`` is
    ``|ann ∩ exact| / |exact| >= min_recall``. This is the
    oracle-checkable presentation of an ANN operator: index internals
    (hyperplanes, centroids, codebooks) differ across engines, so the
    cross-engine contract is the *derived property* — result count and
    a recall floor — which a SQL oracle recomputing only the exact side
    can pin (``TRUE`` per query). A regressing index flips the boolean
    and fails the driver hash. Both inputs carry (query_id, neighbor_id);
    the audit is two O(queries·k) aggregates — negligible next to either
    search.
    """
    n_res = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_results"))
    n_hit = (
        ann.join(
            exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    n_ex = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n_exact"))
    return (
        n_res.join(n_hit, "query_id", "left")
        .join(n_ex, "query_id")
        .select(
            "query_id",
            "n_results",
            (
                F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
                / F.col("__n_exact").cast("double")
                >= F.lit(min_recall)
            ).alias("recall_ok"),
        )
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, neighbor_id, cos_sim, rank). Self-matches
    (query_id == neighbor_id) are excluded. Ties broken by neighbor_id
    for determinism.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar vectors with a DIFFERENT label.

    The near-miss negatives (high cosine, wrong class) are the pairs a
    contrastive or reranker objective learns most from; random negatives
    are trivially separable. Returns (query_id, neighbor_id,
    neighbor_label, cos_sim, rank). Same physical shape as
    ``cosine_topk_bruteforce`` — anchors broadcast, corpus streams once,
    per-anchor top-k via WindowGroupLimit — plus the label disequality
    pushed INTO the stream before scoring, so excluded candidates never
    pay the O(dim) dot product. Cosine is +,*,/ and sqrt only — all
    correctly-rounded IEEE, so the oracle hash-matches with no decimal
    discipline needed. Scale path: swap the brute-force stream for the
    IVF/LSH candidate generators (operators/pq.py) and keep this ranking
    tail.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("__qlabel"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            (
                _dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 7) -> np.ndarray:
    """Deterministic pseudo-random ±1 hyperplanes from splitmix64 stream."""
    idx = np.arange(dim * n_bits, dtype=np.uint64) + np.uint64(seed * 0x9E3779B9)
    mixed = _splitmix64(idx)
    signs = ((mixed & np.uint64(1)).astype(np.float64) * 2.0) - 1.0
    return signs.reshape(n_bits, dim)


def _probe_rows(norm_c, n_probe: int):
    """(query_id, cell) rows for a query batch — each query's n_probe
    nearest (normalized-cosine) centroids. Shared by ivf_topk and
    ivf_topk_over_store so the probe routine cannot drift between the
    in-memory and store-backed paths."""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"query_id": [], "cell": []})
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(mat @ norm_c.T), axis=1)[:, :n_probe]
            qids, cells = [], []
            for qid, row in zip(pdf.iloc[:, 0], order):
                qids.extend([qid] * len(row))
                cells.extend(row.tolist())
            yield pd.DataFrame({"query_id": qids, "cell": cells})

    return probe


def _id_type(df: DataFrame, col: str) -> str:
    """Declared type of an id column — mapInPandas schemas must mirror
    the input instead of hardcoding long (string/int doc keys work like
    longs; cf. textops.winnow_anchor_rows, sampling.pack_sequences)."""
    return df.schema[col].dataType.simpleString()


def sign_signatures(
    df: DataFrame,
    dim: int,
    n_bits: int = 8,
    n_bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band int, signature int) — banded sign-LSH bucket keys.

    ``n_bands`` independent ``n_bits``-bit signatures per vector (total
    n_bands*n_bits hyperplanes); two vectors are candidates when ANY band
    matches — the same AND/OR amplification as MinHash banding.
    Vectorized numpy matmul via mapInPandas, no shuffle.
    """
    planes = _hyperplanes(dim, n_bits * n_bands, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(mat) == 0:
                yield pd.DataFrame({"id": [], "band": [], "signature": []})
                continue
            proj = mat @ planes.T  # (N, n_bands*n_bits)
            bits = (proj > 0).astype(np.int64)
            ids, bands, sigs = [], [], []
            for band in range(n_bands):
                sig = np.zeros(len(mat), dtype=np.int64)
                for j in range(n_bits):
                    sig |= bits[:, band * n_bits + j] << j
                ids.extend(pdf[id_col].tolist())
                bands.extend([band] * len(mat))
                sigs.extend(sig.tolist())
            yield pd.DataFrame({"id": ids, "band": bands, "signature": sigs})

    return df.select(id_col, vec_col).mapInPandas(
        compute, schema=f"id {_id_type(df, id_col)}, band int, signature long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 8,
    n_bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share any sign-LSH band bucket, then
    exact cosine rerank. Recall tunes via (n_bits, n_bands): fewer bits /
    more bands → bigger candidate sets → higher recall, more rerank."""
    c_sig = sign_signatures(corpus, dim, n_bits, n_bands, seed, id_col, vec_col).withColumnRenamed(
        "id", "neighbor_id"
    )
    q_sig = sign_signatures(
        queries, dim, n_bits, n_bands, seed, query_id_col, vec_col
    ).withColumnRenamed("id", "query_id")
    # Band join over ids only: attaching vectors to the banded rows
    # would replicate every corpus vector n_bands times through the
    # join; instead the deduped candidate PAIRS re-attach vectors once
    # (same slim-join shape as dedup.minhash_lsh_pairs).
    pair_ids = (
        c_sig.join(F.broadcast(q_sig), ["band", "signature"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    cand = pair_ids.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            _norm(F.col(vec_col)).alias("__cn"),
        ),
        "neighbor_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
                _norm(F.col(vec_col)).alias("__qn"),
            )
        ),
        "query_id",
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-partitioned scale path
# ---------------------------------------------------------------------------


def _assign_cells(df: DataFrame, centroids: np.ndarray, id_out: str) -> DataFrame:
    """(id, cell) nearest-centroid assignment; vectorized numpy matmul
    against the broadcast centroid matrix (rows L2-normalized)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "cell": []})
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cells = (mat @ norm_c.T).argmax(axis=1)
            yield pd.DataFrame({"id": pdf.iloc[:, 0].to_numpy(), "cell": cells})

    id_t = df.schema[df.columns[0]].dataType.simpleString()
    return df.mapInPandas(compute, schema=f"id {id_t}, cell int").withColumnRenamed("id", id_out)


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic mini k-means: seed with the ``n_centroids`` lowest
    ids, refine with Lloyd iterations computed distributively.
    Centroid matrix is tiny (K×dim) and lives on the driver — the same
    shape FAISS IVF stores in its coarse quantizer.

    Each iteration is ONE fused Arrow pass (r11, guide §2.2/§4): the
    per-partition closure assigns cells (broadcast-matmul argmax, the
    exact `_assign_cells` arithmetic) AND accumulates per-cell raw-sum
    / count partials in the same batch loop, emitting K rows per
    partition. The tiny partial frame (K×partitions rows, corpus-size
    independent) is the only thing that crosses an exchange — the
    previous shape joined the assignment frame BACK to the corpus on
    ``id_col`` (a shuffle join re-fetching vectors the Arrow batch
    already held) and posexploded N×dim element rows through a full
    aggregation exchange per iteration. Mean = sum/count in float64
    as before; only the summation ORDER changes, which the oracle
    rows already tolerate (Spark's avg order varies run-to-run).
    Cells with no members keep their previous centroid, as before.
    """
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    centroids = np.asarray([np.asarray(r[0], dtype=np.float64) for r in seeds])
    k = len(centroids)
    vecs = corpus.select(F.col(vec_col))
    for _ in range(iterations):
        cents = centroids

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            norm_c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
            acc_s = np.zeros((k, dim), dtype=np.float64)
            acc_n = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]]
                )
                normed = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
                )
                cells = (normed @ norm_c.T).argmax(axis=1)
                np.add.at(acc_s, cells, mat)
                acc_n += np.bincount(cells, minlength=k)
            nz = np.nonzero(acc_n)[0]
            if len(nz):
                yield pd.DataFrame(
                    {"cell": nz.astype("int32"), "s": list(acc_s[nz]), "n": acc_n[nz]}
                )

        agg = (
            vecs.mapInPandas(partials, schema="cell int, s array<double>, n long")
            .select("cell", "n", F.posexplode("s"))
            .groupBy("cell", "pos")
            .agg(F.sum("col").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = centroids.copy()
        for r in agg:
            new[r["cell"], r["pos"]] = r["s"] / r["n"]
        centroids = new
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells, each query probes
    its ``n_probe`` nearest cells and exact-reranks only those vectors.

    At 100 TB the cell assignment is the table's physical partitioning
    (write once, prune at read); expected rerank fraction ≈
    n_probe / n_centroids of the corpus per query batch.
    """
    centroids = train_ivf_centroids(corpus, dim, n_centroids, iterations, id_col, vec_col)
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    c_cells = _assign_cells(
        corpus.select(F.col(id_col), F.col(vec_col)), centroids, "neighbor_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    ).join(c_cells, "neighbor_id")

    # query → its n_probe nearest cells (shared probe routine)
    q_cells = queries.select(F.col(query_id_col), F.col(vec_col)).mapInPandas(
        _probe_rows(norm_c, n_probe),
        schema=f"query_id {_id_type(queries, query_id_col)}, cell int",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).join(q_cells, "query_id")

    cand = c.join(F.broadcast(q), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-accelerated hard-negative mining — the scale path
    ``hard_negative_topk`` promises: each anchor probes its ``n_probe``
    nearest cells and exact-reranks only different-label vectors there.

    The label disequality is pushed into the cell-join candidate stream
    BEFORE the O(dim) dot product, exactly as in the brute-force form —
    NOT applied as a post-filter on an unlabeled top-k (which silently
    starves anchors whose nearest neighbors mostly share their label).
    Returns (query_id, neighbor_id, neighbor_label, cos_sim, rank).
    Audit with ``ann_recall_audit`` against ``hard_negative_topk``.
    """
    centroids = train_ivf_centroids(corpus, dim, n_centroids, iterations, id_col, vec_col)
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    c_cells = _assign_cells(
        corpus.select(F.col(id_col), F.col(vec_col)), centroids, "neighbor_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    ).join(c_cells, "neighbor_id")

    q_cells = queries.select(F.col(query_id_col), F.col(vec_col)).mapInPandas(
        _probe_rows(norm_c, n_probe),
        schema=f"query_id {_id_type(queries, query_id_col)}, cell int",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).join(q_cells, "query_id")

    cand = c.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_label") != F.col("__qlabel")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        (
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the compressed embedding store
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "embedding_q"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(x_i·127/s),
    s = max|x_i|.

    The point at 100 TB is the STORE: a float32 embedding column shrinks
    4x (plus better parquet byte-stream compression), so a corpus scan
    for candidate rerank reads a quarter of the bytes and the hot index
    fits 4x more vectors per executor. Cosine is scale-invariant, so the
    per-vector scale drops out of cos(q_a, q_b) and nothing but the
    tinyint array needs to be read at query time. All JVM-side
    (transform/aggregate inside codegen) — no Python in the write path.

    Zero vectors quantize to zero vectors (guarded division).
    """
    v = F.col(vec_col)
    s = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    safe = F.when(s > 0, s).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x.cast("double") * 127.0 / safe).cast("tinyint"))
    return df.withColumn(out_col, q)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product with the JVM's fold order.

    Spark's ``aggregate(zip_with(a, b, *), 0.0, +)`` is a sequential
    left fold: ((0 + p0) + p1) + ... . ``np.cumsum`` computes exactly
    those prefix sums (a running accumulation, NOT the pairwise/blocked
    summation ``np.sum`` uses), so the last column is bitwise the JVM's
    result — up to the sign of zero: the JVM fold starts at ``0.0 + p0``
    while cumsum starts at ``p0``, so an all ``-0.0`` product row yields
    ``-0.0`` here vs ``+0.0`` JVM-side. Spark orders/compares
    ``-0.0 == 0.0``, so ranking and equality are unaffected; for
    int8-quantized inputs both forms are exact integers anyway
    (|dot| <= dim * 127^2 << 2^53).
    """
    if a.shape[1] == 0:
        return np.zeros(a.shape[0], dtype=np.float64)
    return np.cumsum(a * b, axis=1, dtype=np.float64)[:, -1]


def _quantized_topk_kernel(
    query_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    corpus_elems_integral: bool = False,
):
    """mapInPandas closure for :func:`cosine_topk_quantized`.

    Per corpus batch, scores every (query, corpus-row) pair with the
    fold-exact cosine and emits only each query's LOCAL top-k under the
    output window's TOTAL order (NaN greatest — Spark double ordering —
    then cos desc, nulls last, ties by neighbor id asc), so the global
    window over (#batches x Q x k) rows reproduces the full-pair result
    exactly while the Arrow return traffic stays bounded by the batch
    count, not the corpus. Rows mirroring the JVM join/expression
    semantics: null ids drop (the join condition is null), a null,
    null-ELEMENT or length-mismatched vector scores null (the
    null-propagating zip_with fold), zero norms score NaN (0.0/0.0).
    Null elements: the collected query rows keep ``None`` distinct, and
    on the corpus side ``corpus_elems_integral`` (the declared Spark
    element type) identifies them — Arrow converts a list<int> holding a
    null to float64-with-NaN, so with an integral declared type a NaN
    can ONLY be a null element and the row joins the null group. For
    float-typed corpora a NaN element is genuine NaN and propagates as
    NaN, matching the JVM fold. NaN crosses the boundary as a
    (null, __isnan=true) pair because pandas cannot hold NaN-vs-null
    distinctly; the caller restores the NaN literal JVM-side.
    """
    prep = []  # (qid, qvec float64 | None, qnorm | None)
    for r in query_rows:
        qid, qv = r[0], r[1]
        if qid is None:
            continue  # join condition NOT(nb = qid) is null -> row drops
        if qv is None or any(x is None for x in qv):
            # a null ELEMENT null-propagates through the JVM zip_with
            # fold exactly like a null vector: every cosine is null
            prep.append((qid, None, None))
            continue
        arr = np.asarray(qv, dtype=np.float64)
        qn = float(np.sqrt(_fold_dot(arr[None, :], arr[None, :])[0]))
        prep.append((qid, arr, qn))

    def empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": pd.Series([], dtype=object),
                "neighbor_id": pd.Series([], dtype=object),
                "cos_sim": pd.Series([], dtype=np.float64),
                "__isnan": pd.Series([], dtype=bool),
            }
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0 or not prep:
                yield empty()
                continue
            ids_ser = pdf[id_col]
            vecs = pdf[vec_col].to_numpy(dtype=object)
            if ids_ser.isna().any():
                keep = ids_ser.notna().to_numpy()
                ids_ser, vecs = ids_ser[keep], vecs[keep]
            ids = ids_ser.to_numpy()
            n = len(ids)
            if n == 0:
                yield empty()
                continue
            arrs = [np.asarray(v) if v is not None else None for v in vecs]
            if corpus_elems_integral:
                # declared element type is integral, so a float-dtype
                # conversion carrying NaN means Arrow hit a null ELEMENT
                # (list<int> + null -> float64/NaN): the JVM fold
                # null-propagates those rows -> null group
                arrs = [
                    None
                    if a is not None
                    and np.issubdtype(a.dtype, np.floating)
                    and bool(np.isnan(a).any())
                    else a
                    for a in arrs
                ]
            has_vec = np.array([a is not None for a in arrs], dtype=bool)
            lens = np.array([len(a) if a is not None else -1 for a in arrs])
            # stack per length group once; reused across queries. int8
            # inputs (the quantize_embeddings contract) stack as int64,
            # so dots/norms are ONE exact-integer BLAS matmul per batch
            # — order-free because every value and partial sum is an
            # exact integer in float64 (|dot| <= dim * 127^2 << 2^53),
            # hence bitwise equal to the JVM fold; non-integer inputs
            # fall back to the fold-order-exact cumsum path.
            groups: dict[int, tuple] = {}
            for length in set(lens[has_vec].tolist()):
                idx = np.nonzero(lens == length)[0]
                sub = [arrs[i] for i in idx]
                integral = all(
                    np.issubdtype(s.dtype, np.integer) and s.dtype.itemsize <= 2
                    for s in sub
                )
                if length == 0:
                    cmat = np.zeros((len(idx), 0), dtype=np.int64)
                    integral = True
                elif integral:
                    cmat = np.stack(sub).astype(np.int64)
                else:
                    cmat = np.stack(sub).astype(np.float64)
                if integral:
                    sq = (
                        (cmat * cmat).sum(axis=1, dtype=np.int64)
                        if length
                        else np.zeros(len(idx), dtype=np.int64)
                    )
                    cnorm = np.sqrt(sq.astype(np.float64))
                else:
                    cnorm = np.sqrt(_fold_dot(cmat, cmat))
                groups[length] = (idx, cmat, cnorm, integral)
            out_frames = []
            for qid, qarr, qn in prep:
                # ordering group: 0 = NaN (sorts first under desc),
                # 1 = valid value, 2 = null (desc_nulls_last)
                grp = np.full(n, 2, dtype=np.int8)
                cos = np.full(n, np.nan, dtype=np.float64)
                if qarr is not None:
                    dim = qarr.shape[0]
                    if dim in groups:
                        idx, cmat, cnorm, integral = groups[dim]
                        # the exact-integer matmul needs both sides
                        # provably small ints (int8 is the quantize
                        # contract); anything else takes the
                        # fold-order-exact cumsum path
                        q_int = bool(
                            np.all(qarr == np.trunc(qarr))
                            and np.all(np.abs(qarr) <= 127)
                        )
                        with np.errstate(invalid="ignore", divide="ignore"):
                            if integral and q_int and dim > 0:
                                d = (cmat @ qarr.astype(np.int64)).astype(
                                    np.float64
                                )
                            elif dim > 0:
                                d = _fold_dot(
                                    cmat.astype(np.float64),
                                    np.broadcast_to(qarr, cmat.shape),
                                )
                            else:
                                d = np.zeros(len(idx))
                            c = d / (qn * cnorm)
                        cos[idx] = c
                        grp[idx] = np.where(np.isnan(c), 0, 1)
                cand = np.nonzero(ids != qid)[0]
                if len(cand) == 0:
                    continue
                g, cs, nb = grp[cand], cos[cand], ids[cand]
                key_val = np.where(g == 1, -cs, -np.inf)  # desc within valid
                order = np.lexsort((nb, key_val, g))[:k]
                sel = cand[order]
                out_frames.append(
                    pd.DataFrame(
                        {
                            "query_id": [qid] * len(sel),
                            "neighbor_id": ids[sel],
                            # NaN in a pandas float column crosses Arrow as
                            # NULL — exactly right for the null group, and
                            # the NaN group is re-materialized JVM-side
                            # from __isnan
                            "cos_sim": cos[sel],
                            "__isnan": grp[sel] == 0,
                        }
                    )
                )
            yield pd.concat(out_frames) if out_frames else empty()

    return kernel


def cosine_topk_quantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding_q",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors (same result contract
    as :func:`cosine_topk_bruteforce`; inputs come from
    :func:`quantize_embeddings`). Quantization noise shifts cos_sim by
    O(1/127) — the recall bound is asserted in tests.

    One contract difference from the brute-force form: the query side is
    a PROBE batch and is collected driver-side through
    :func:`collect_probe_batch`, so query batches beyond
    ``MAX_PROBE_BATCH`` (10,000) rows fail loudly instead of running —
    chunk the probe set, or use the bucketed pair operators
    (minhash/simhash LSH, :func:`semantic_dedup`) for corpus-vs-corpus
    search.

    Physical form (r11): the brute-force delegation evaluated three
    interpreted higher-order aggregates per (query x corpus-row) pair —
    codegen cannot compile ``aggregate``/``zip_with`` lambdas, so the
    scoring stage was O(Q x N x dim) interpreted lambda calls. This form
    collects the (guarded, probe-sized) query batch once and scores each
    corpus Arrow batch with one NumPy pass per query; results are
    BITWISE identical (pinned by test): quantized dots/norms are exact
    integers in float64, the fold order is reproduced by ``_fold_dot``
    for the general case, and the final divide/sqrt are the same
    correctly-rounded IEEE ops in the same order. Each batch emits only
    its local top-k per query, so the Arrow return traffic and the final
    window's input are O(batches x Q x k) — never corpus-sized.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    rows = collect_probe_batch(queries_q, query_id_col, vec_col)
    elem_t = corpus_q.schema[vec_col].dataType.elementType
    elems_integral = isinstance(elem_t, (ByteType, ShortType, IntegerType, LongType))
    kernel = _quantized_topk_kernel(
        rows, k, id_col, vec_col, corpus_elems_integral=elems_integral
    )
    qid_t = _id_type(queries_q, query_id_col)
    id_t = _id_type(corpus_q, id_col)
    raw = corpus_q.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kernel,
        schema=f"query_id {qid_t}, neighbor_id {id_t}, cos_sim double, __isnan boolean",
    )
    scored = raw.select(
        "query_id",
        "neighbor_id",
        F.when(F.col("__isnan"), F.lit(float("nan")))
        .otherwise(F.col("cos_sim"))
        .alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF store maintenance — append deltas without retraining
# ---------------------------------------------------------------------------


def ivf_write_store(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus as a cell-partitioned parquet store.

    The cell id becomes the table's PHYSICAL partitioning, so a probe's
    cell filter prunes at plan time (see the layout test) — at 100 TB
    the index is the directory structure, not a sidecar."""
    cells = _assign_cells(corpus.select(F.col(id_col), F.col(vec_col)), centroids, id_col)
    corpus.join(cells, id_col).write.partitionBy("cell").mode(mode).parquet(path)


def ivf_append_delta(
    delta: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit a delta batch into an existing IVF store without retraining.

    The incremental-index twin of ``dedup_delta_exact`` (q72): new
    vectors are assigned against the FROZEN coarse centroids and
    appended into their cell partitions — O(delta) work, existing files
    untouched, and a search over the store is identical to a full
    rebuild with the same centroids (tested). The trade is staleness:
    appends shift the true cell means, so recall decays as the corpus
    drifts from the training snapshot — watch the q81/q82
    centroid-drift monitors and retrain + rewrite when they trip;
    FAISS makes the same frozen-quantizer trade on add().
    """
    ivf_write_store(delta, centroids, path, id_col, vec_col, mode="append")


def ivf_topk_over_store(
    spark,
    path: str,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search against a cell-partitioned store: probe each query's
    ``n_probe`` nearest cells, scan ONLY those partitions, exact-rerank.

    The probed-cell set is collected driver-side (≤ Q × n_probe ints —
    a query batch is small by definition) so the cell filter is a
    literal ``isin`` the planner turns into static partition pruning;
    a join-based filter would need runtime DPP to avoid reading the
    whole store."""
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    # guarded like the PQ LUT path: (queries × n_probe) assignment pairs
    # come to the driver — bounded for probe batches, a named error for
    # corpus-sized query sets (see collect_probe_batch).
    cap = MAX_PROBE_BATCH * n_probe
    qid_t = _id_type(queries, query_id_col)
    q_cells = (
        queries.select(F.col(query_id_col), F.col(vec_col))
        .mapInPandas(_probe_rows(norm_c, n_probe), schema=f"query_id {qid_t}, cell int")
        .limit(cap + 1)
        .collect()
    )
    if len(q_cells) > cap:
        raise ValueError(
            f"probe assignment exceeds {cap} rows: chunk the query batch "
            "or use a bucketed pair operator for corpus-vs-corpus search"
        )
    probed = sorted({r["cell"] for r in q_cells})
    q_cells_df = spark.createDataFrame(
        [(r["query_id"], r["cell"]) for r in q_cells], f"query_id {qid_t}, cell int"
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).join(q_cells_df, "query_id")

    store = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    c = store.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
        "cell",
    )
    cand = c.join(F.broadcast(q), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    n_clusters: int = 16,
    threshold: float = 0.9,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings with the deterministic mini k-means coarse quantizer, then
    drop any point whose cosine similarity to a LOWER-id point in the
    same cluster reaches ``threshold`` — each semantic-duplicate chain
    keeps its minimum id, the same keep rule the exact dedup paths (q40,
    q65) use, so downstream keep/drop joins compose.

    Returns the KEPT set ``(id, cell)`` — the keep-filtered projection of
    :func:`semantic_dedup_flags`, which holds the single implementation
    of the drop rule (one definition; the q99 soundness audit exercises
    it). Pass pre-trained ``centroids`` to share the driver-side k-means
    with other consumers of the same assignment.

    Scale shape: clustering makes the quadratic step linear-ish — pairs
    are only formed within a cell (N²/K per cell in expectation), and the
    pair join shuffles on ``cell`` so each cluster's comparisons are
    partition-local. Skewed/huge cells are the known failure mode: at
    real scale raise ``n_clusters`` so cells stay ~10⁴-10⁵ points (the
    paper uses 11k clusters for 5B points) and salt any residual hot
    cell. The drop decision is pairwise (not centroid-based) so the only
    approximation vs brute-force dedup is cross-cluster misses — measured
    by the q53 brute-force twin on the gate corpus.
    """
    flags = semantic_dedup_flags(
        corpus,
        dim,
        n_clusters=n_clusters,
        threshold=threshold,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
    )
    return flags.filter(F.col("keep")).select(F.col(id_col), F.col("cell"))


def semantic_dedup_flags(
    corpus: DataFrame,
    dim: int,
    n_clusters: int = 16,
    threshold: float = 0.9,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """:func:`semantic_dedup` with the full verdict exposed: every corpus
    row as ``(id, vec, cell, keep)``. Auditors need the CELL of dropped
    rows too — a drop is only ever caused by a lower-id neighbor in the
    SAME cell, so a soundness audit can re-verify each drop against its
    cell (O(drops × cell size)) instead of the whole corpus
    (O(drops × corpus), which stops being runnable long before 100 TB).

    Pass pre-trained ``centroids`` when the caller also needs the cell
    assignment for its own joins — training is a driver-side sample
    collect and should run once per pipeline, not once per reference.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, dim, n_clusters, iterations, id_col, vec_col)
    assigned = _assign_cells(
        corpus.select(id_col, vec_col),
        centroids,
        id_col,
    ).join(corpus.select(id_col, vec_col), id_col)
    a = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    drops = (
        a.join(b, "cell")
        .filter((F.col("__ida") < F.col("__idb")) & (cos >= threshold))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(drops, id_col, "left").select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )
