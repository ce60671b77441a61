"""Deduplication operators for large text corpora.

Four strategies, in increasing fuzziness — each designed around one
hash-partitioned shuffle so the plan scales linearly with corpus size:

- ``exact_duplicates``     : group by content fingerprint (md5 of
  normalized text). One shuffle on the 128-bit key; at 100 TB this is
  the canonical map-side-combine groupBy.
- ``ngram_jaccard_pairs``  : exact word-shingle Jaccard via an inverted
  index self-join (shingle → doc list). SQL-expressible → oracle-checked.
- ``minhash_lsh_pairs``    : MinHash signatures (xxhash64 family,
  fully JVM-side) banded into LSH buckets; candidate pairs verified by
  signature similarity, or exactly by ``minhash_lsh_verified_pairs``.
  The scale path: candidate generation touches only bucket-colliding
  docs instead of all pairs sharing any shingle.
- ``simhash_pairs_portable``: 60-bit md5-derived SimHash signatures;
  near-dup pairs = equal band keys (6×10-bit bands ⇒ every pair within
  Hamming distance 5 shares some band), verified by popcount on the XOR.

Both hash families are deterministic functions of the text, so results
are reproducible run-to-run and machine-to-machine, and an SQL engine
replaying them produces the identical pair set.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .textops import fingerprint, word_shingles, words

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by normalized-content fingerprint.

    Returns (fingerprint, keep_id = min doc id, n_dups). Deterministic
    representative choice mirrors the reference's insert-if-absent
    idempotency (first writer wins — SURVEY §2.A A20).
    """
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted shingle index
# ---------------------------------------------------------------------------


def shingle_sets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the inverted-index edge list."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs (a < b) with word-k-gram Jaccard >= threshold.

    Plan shape: explode to (doc, shingle) distinct → self-join on shingle
    (one shuffle, hash-partitioned by shingle) → count intersections per
    pair → join per-doc set sizes → Jaccard filter. Hot shingles create
    quadratic bucket blowup: a boilerplate shingle shared by d docs
    contributes d²/2 join rows. ``max_df`` is the standard df-cut —
    shingles appearing in more than that many documents are dropped from
    the index BEFORE the join (the per-shingle count rides the same
    shingle-hash exchange the join needs). Set sizes still count every
    shingle, so scores only drop (never rise): the cut is conservative —
    it can miss pairs whose overlap is mostly boilerplate, by design.
    AQE skew-join splitting handles residual imbalance under the cut.
    """
    sh = shingle_sets(docs, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    if max_df is not None:
        from pyspark.sql import Window

        df_count = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = (
            sh.withColumn("__df", df_count)
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard-threshold pairs via PPJoin-style prefix filtering
    (Xiao et al., WWW'08) — same result set as
    :func:`ngram_jaccard_pairs`, asymptotically fewer candidate pairs.

    The all-pairs inverted index joins every shared shingle; a shingle
    shared by d documents costs d²/2 join rows whether or not any pair
    can clear the threshold. Prefix filtering makes the index
    *threshold-aware*: order every document's shingles by one global
    rare-first order (document frequency asc, shingle asc — ties
    broken identically everywhere), and index only each doc's first
    ``|d| - ceil(t·|d|) + 1`` shingles. Lossless: if J(A,B) >= t the
    smallest common shingle under the global order must sit inside
    BOTH prefixes (else the overlap fits in a suffix of length
    ceil(t·|d|)-1 < t·|d|, contradicting the required overlap), so
    every qualifying pair still collides. A length filter
    (t·|a| <= |b| on both sides) prunes further at the join, and
    candidates are verified exactly with ``array_intersect`` on the
    full shingle arrays — no false positives survive.

    Scale trade vs the naive join: more (cheap) exchanges — df count,
    per-doc ranking window, candidate distinct — but the quadratic
    term now runs over prefix collisions only, ~(1-t) of the index
    rows and a far smaller hot-shingle blowup (rare-first ordering
    puts the boilerplate shingles in suffixes, exactly where they are
    never indexed). At t=0.5 the prefix index is about half the full
    index and candidate volume drops by the product of both sides'
    cuts; at t=0.9 it is a tenth. The df-cut heuristic of
    ``ngram_jaccard_pairs(max_df=...)`` trades recall for the same
    effect; this keeps recall exact.
    """
    from pyspark.sql import Window

    sh = shingle_sets(docs, text_col, id_col, k)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    by_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfc, "shingle")
        .withColumn(
            "rnk",
            F.row_number().over(by_doc.orderBy(F.col("df").asc(), F.col("shingle").asc())),
        )
        .withColumn("set_size", F.count(F.lit(1)).over(by_doc))
    )
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
    )
    pre = ranked.filter(F.col("rnk") <= prefix_len).select(
        "doc_id", "shingle", "set_size"
    )
    a, b = pre.alias("a"), pre.alias("b")
    length_ok = (
        F.col("b.set_size") >= F.ceil(F.lit(threshold) * F.col("a.set_size"))
    ) & (F.col("a.set_size") >= F.ceil(F.lit(threshold) * F.col("b.set_size")))
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & length_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sset"),
        F.count(F.lit(1)).alias("set_size"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("set_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("set_b"),
        F.col("set_size").alias("size_b"),
    )
    n_common = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            n_common.cast("double")
            / (F.col("size_a") + F.col("size_b") - n_common).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, signature array<long>) — fully JVM-side MinHash.

    The hash family hashes each shingle string ONCE
    (``base = xxhash64(shingle)``) and derives the ``num_hashes`` family
    members as ``xxhash64(i, base)`` — re-mixing a fixed 8-byte long per
    seed instead of re-hashing the variable-length string 64×
    (measured ~15% off the signature stage at sf0.1; ANSI mode rules out
    cheaper splitmix-style ``a*h+b`` mixing because bigint overflow
    throws). The signature is assembled with ``num_hashes`` partial-min
    aggregates in ONE groupBy over the exploded (doc, shingle) pairs —
    map-side combine means the shuffle carries one 64-long vector per
    doc per map task, not the shingle stream. This is the 100 TB
    formulation: no Python in the hot path, no quadratic anything.

    Docs with fewer than k words have no shingles and drop out (they
    cannot be near-duplicates under a k-shingle model).
    """
    # No distinct() before the aggregation: MIN is idempotent over
    # duplicate shingles, so the exploded stream feeds the groupBy
    # directly — map-side partial mins collapse each map task's shingles
    # to one 64-vector per doc, and the only shuffle moves those vectors.
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("base"))
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("base"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("signature"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, scored by signature agreement.

    rows_per_band = num_hashes/bands; a pair collides in some band with
    probability 1-(1-j^r)^b — the classic S-curve. Output:
    (doc_a, doc_b, est_jaccard = fraction of agreeing minhashes) filtered
    to est_jaccard >= threshold.

    Shuffles: one on (band, band_hash) to build buckets (ids only — see
    the slim-join note below), one dedup on the candidate pair, plus two
    O(|docs|) signature re-attach joins (broadcast under AQE at small
    scale; at 100 TB persist the signature table once and let both the
    banding and the attach read it instead of recomputing the
    aggregate). Bucket blowup is bounded in the typical case
    because equal band-slices imply near-identical docs — but a 100 TB
    corpus has degenerate clusters (boilerplate, empty-ish docs) whose
    buckets go quadratic. ``max_bucket_size`` is the guard: buckets
    larger than the cap are dropped from candidate generation (their
    members still pair through their OTHER bands' smaller buckets, and a
    cluster big enough to blow the cap is better handled by exact-dedup
    first — `exact_duplicates` collapses it in one linear pass). The
    windowed bucket count rides the same (band, band_hash) exchange the
    join needs, so the guard adds no extra shuffle of the banded stream.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, k, text_col, id_col)

    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sigs.select("doc_id", "signature", band_idx).select(
        "doc_id",
        "signature",
        "band",
        F.xxhash64(F.col("band"), F.slice("signature", F.col("band") * r + 1, r)).alias("band_hash"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bucket_n = F.count(F.lit(1)).over(
            Window.partitionBy("band", "band_hash")
        )
        banded = (
            banded.withColumn("__bucket_n", bucket_n)
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )

    # The bucket self-join carries only (doc_id, band, band_hash) — 24
    # bytes/row — NOT the 64-long signature: shipping signatures through
    # the banded exchange would amplify them x bands x 2 sides (~40x the
    # bytes at bands=16). Signatures re-attach per DISTINCT candidate
    # pair afterwards: two O(|docs|) joins (broadcast at small scale,
    # hash at 100 TB) instead of an O(|docs| x bands) wide exchange.
    slim = banded.drop("signature")
    a = slim.alias("a")
    b = slim.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = pair_ids.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")),
        "doc_b",
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        cand.withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_verify_state(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, signature array<long>, shset array<long>) — the fused
    per-doc MinHash verify state, computed in ONE corpus scan (r11).

    The signature mins and the exact-verify shingle sets both derive
    from the same exploded (doc, shingle-hash) stream, so ONE groupBy
    computes both and a lazy ``localCheckpoint`` freezes the |docs|-row
    result. The r3 A/B found the shared groupBy ALONE to be a
    plan-level no-op — Catalyst column-prunes the combined aggregate
    back into separate per-branch aggregates, one corpus scan each —
    but the checkpoint makes the sharing physical: the corpus is
    tokenized + hashed exactly once, and every consumer (the banding,
    both verify set-attach sides, and — via :func:`curation_delta` —
    the store-probe signatures) scans |docs| checkpointed narrow rows
    instead of re-running the explode. Semantics are unchanged vs the
    separate helpers: MIN over duplicate shingle hashes is idempotent
    and collect_set dedups, so neither aggregate needs a pre-distinct;
    ``signature`` is bit-identical to :func:`minhash_signatures` (same
    base hash, same per-seed re-mix)."""
    sh0 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("base"))
    combined_mins = [
        F.min(F.xxhash64(F.lit(i), F.col("base"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh0.groupBy("doc_id")
        .agg(*combined_mins, F.collect_set("base").alias("shset"))
        .select(
            "doc_id",
            F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("signature"),
            "shset",
        )
        .localCheckpoint(eager=False)
    )


def minhash_lsh_verified_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
    state: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with EXACT Jaccard — the production
    MinHash pipeline (candidate generation prunes the pair space; the
    verify step restores exact precision).

    ``state`` (r11): a precomputed :func:`minhash_verify_state` frame
    for ``docs`` (same num_hashes/k/text/id). When given, ``docs`` is
    not scanned at all — callers that need the signatures for another
    leg too (:func:`curation_delta`'s store probe) share ONE corpus
    scan across both. The caller owns consistency of the state's
    parameters with this call's.

    Candidates come from a banded bucket-explode — groupBy(band,
    band_hash) collects each bucket's sorted members once and
    posexplode + slice emits each pair exactly once, so the signatures
    are computed once and the banded stream shuffles once (a self-join
    on the band key would plan both twice); ``max_bucket_size`` caps a
    degenerate bucket's array, and its members still pair via their
    other bands. There is no signature-agreement filter — verification
    replaces it: each candidate pair joins its two distinct-
    shingle-hash sets and scores ``|A∩B| / |A∪B|`` exactly with
    ``array_intersect`` — no Python, no re-tokenize. Shingle sets ride
    as arrays of xxhash64 values (collision-free in practice), so the
    verify join moves two bounded arrays per candidate, not the shingle
    stream.

    Precision is exact by construction. Recall is the banding S-curve
    ``1-(1-j^r)^b``; for near-dup corpora (j ≈ 0.8+) it is ~1, which is
    what makes the output oracle-checkable against the all-pairs SQL
    (q41) — the equality is asserted by the driver gate at three SFs.
    At 100 TB this replaces q41's shared-shingle quadratic join with
    bucket-bounded candidate generation + an O(candidates) verify.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    combined = (
        minhash_verify_state(docs, num_hashes, k, text_col, id_col)
        if state is None
        else state
    )
    sigs = combined.select("doc_id", "signature")

    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sigs.select("doc_id", "signature", band_idx).select(
        "doc_id",
        "band",
        F.xxhash64(F.col("band"), F.slice("signature", F.col("band") * r + 1, r)).alias(
            "band_hash"
        ),
    )
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket_size))
    )
    cand = (
        buckets.select(F.posexplode("members").alias("pos", "doc_a"), F.col("members"))
        .select(
            "doc_a",
            F.explode(F.slice("members", F.col("pos") + 2, F.size("members"))).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = combined.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a")
    )
    sb = combined.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b")
    )
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    jaccard = n_common.cast("double") / (
        F.size("set_a") + F.size("set_b") - n_common
    ).cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_PORTABLE_BITS = 60  # 15 hex chars of md5 — fits BIGINT in any engine


def simhash_signatures_portable(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash bigint) — 60-bit SimHash, fully JVM-side and
    engine-portable.

    Token hash = first 15 hex chars of md5(token) (60 bits — the same
    conv-from-md5 trick as sampling.hash_split), so ANY engine with md5
    reproduces the identical signature — which is what lets q43 carry a
    complete SQL oracle (signatures + banding + verify replicated in
    DuckDB) instead of a rows-only check. NULL, empty and
    whitespace-only documents have no tokens and drop out — they cannot
    be near-duplicates under a token model (the rule
    :func:`minhash_signatures` follows too).

    Plan shape: explode tokens (multiset — duplicate tokens vote
    repeatedly, per the SimHash definition), one groupBy(doc) with 60
    conditional-sum aggregates (map-side combine collapses each task to
    one 60-int row per doc), then the signature assembles bit-wise. No
    Python, no UDF; the shuffle carries O(docs) rows.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
    ).filter(F.col("t") != "")
    # bind the token hash ONCE in a projection below the aggregate: the
    # 60 vote expressions reference the bound column, not the md5+conv
    # subtree (which would otherwise be duplicated into each aggregate)
    tok = tok.withColumn(
        "th", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint")
    )
    th = F.col("th")
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(th, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{j}")
        for j in range(SIMHASH_PORTABLE_BITS)
    ]
    sig = None
    for j in range(SIMHASH_PORTABLE_BITS):
        term = F.when(F.col(f"__v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return (
        tok.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_pairs_portable(
    docs: DataFrame,
    max_hamming: int = 8,
    n_bands: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash banding + exact Hamming verify, over
    the portable 60-bit signature.

    6 bands × 10 bits: lossless to Hamming 5 by pigeonhole (any pair
    within Hamming ``n_bands - 1`` agrees on at least one band; fewer,
    wider bands mean smaller buckets and a tighter radius); beyond that
    recall is the banding curve — but because the signature AND the
    banding are deterministic functions of the text, an oracle engine
    replaying the same construction produces the identical pair set,
    probabilistic recall and all. That replay is q43's DuckDB oracle.
    """
    if SIMHASH_PORTABLE_BITS % n_bands:
        raise ValueError(f"n_bands must divide {SIMHASH_PORTABLE_BITS}")
    band_bits = SIMHASH_PORTABLE_BITS // n_bands
    band_mask = (1 << band_bits) - 1
    sigs = simhash_signatures_portable(docs, text_col, id_col)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_key", F.expr(f"shiftrightunsigned(simhash, band * {band_bits}) & {band_mask}")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Incremental (delta-vs-corpus) dedup — the production shape at 100 TB
# ---------------------------------------------------------------------------


def _band_table(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, signature, band, band_hash) — the LSH bucket key stream.

    Same banding as ``minhash_lsh_pairs``; factored for delta joins so a
    stored corpus band table and a fresh delta batch band identically.
    """
    r = num_hashes // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sigs.select("doc_id", "signature", band_idx).select(
        "doc_id",
        "signature",
        "band",
        F.xxhash64(F.col("band"), F.slice("signature", F.col("band") * r + 1, r)).alias(
            "band_hash"
        ),
    )


def dedup_delta_exact(
    delta: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit only delta docs whose content fingerprint is new.

    A daily batch must not re-dedup the whole corpus: the state that
    matters is just the fingerprint set (one md5 per unique doc — a few
    TB of keys for a 100 TB corpus, not the corpus). Within the delta
    the smallest id per fingerprint wins (same first-writer-wins rule as
    ``exact_duplicates``); against history, anything already in
    ``seen_fingerprints`` is rejected. Returns the admitted rows with
    their ``fingerprint`` — append it to the store and the operator is
    its own state maintenance.

    Scale: one window shuffle over the delta (small) + one anti-join
    against the store on the fingerprint. Bucket the store by
    fingerprint (`sources/layout.py`) and the anti-join co-locates
    without reshuffling the store side.
    """
    from pyspark.sql import Window

    d = delta.withColumn("fingerprint", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fingerprint")
    in_batch = d.withColumn("__keep", F.col(id_col) == F.min(id_col).over(w)).filter(
        F.col("__keep")
    ).drop("__keep")
    return in_batch.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )


def minhash_delta_pairs(
    delta: DataFrame,
    corpus_sigs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    delta_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a fresh delta and the stored corpus.

    ``corpus_sigs`` is the persisted (doc_id, signature) table that
    ``minhash_signatures`` produced when each historical batch was
    admitted — the corpus TEXT is never touched again. The delta batch
    computes its own signatures, bands identically, and joins its band
    keys against the corpus band table: candidate generation cost is
    (delta size × collision rate), independent of corpus size. Output:
    (delta_doc, corpus_doc, est_jaccard >= threshold).

    Equivalence: restricted to cross pairs, this returns exactly what a
    full-corpus ``minhash_lsh_pairs`` re-run would (same hash family,
    same bands, same scoring) — tested in tests/test_datapipe.py.

    ``delta_sigs`` (r11): a precomputed (doc_id, signature) frame for
    the delta (e.g. projected from :func:`minhash_verify_state`, whose
    signatures are bit-identical to :func:`minhash_signatures`). When
    given, the delta text is not scanned — :func:`curation_delta`
    passes it so its batch-pair and store-probe legs share ONE
    tokenize+hash scan of the survivor text.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    delta_band = _band_table(
        minhash_signatures(delta, num_hashes, k, text_col, id_col)
        if delta_sigs is None
        else delta_sigs.select("doc_id", "signature"),
        num_hashes,
        bands,
    )
    corpus_band = _band_table(corpus_sigs, num_hashes, bands)

    a, b = delta_band.alias("a"), corpus_band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("delta_doc"),
            F.col("b.doc_id").alias("corpus_doc"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["delta_doc", "corpus_doc"])
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        cand.withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("delta_doc", "corpus_doc", "est_jaccard")
    )


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 25,
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring spans for removal, the span-granular
    dedup flavor of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): find the char ranges of each doc covered
    by substrings that occur ``min_count``+ times anywhere in the corpus
    (other docs or the same doc), with overlapping hits merged into
    maximal spans.

    Where the paper builds a corpus-wide suffix array, the distributed
    shape is anchor-based: winnowing anchors (content-defined, q58's
    guarantee — any repeat of length >= k + w - 1 shares an anchor
    fingerprint across its copies) are counted globally, anchors of
    repeated fingerprints become [pos, pos+k) hit ranges, and a
    gaps-and-islands window per doc merges them. Repeats shorter than
    k + w - 1 chars may be missed (detection grain), and a span's edges
    extend at most k-1 chars past the true repeat — the precision trade
    that replaces suffix-array construction with two key shuffles.

    Plan: anchor extraction is scan-local and evaluated ONCE via the
    Arrow-batched extractor (textops.winnow_anchor_rows — C md5 + O(n)
    deque selection; measured 2.4x over the higher-order-function form,
    whose O(n*w) window minima were ~60% of this operator's round-1
    runtime). The global repeat count is a window over the fp
    partitioning instead of an agg + join-back (the join formulation
    evaluates the anchor scan subplan twice — no subplan sharing across
    join sides — measured 2x the window form end-to-end). Shuffle 1
    groups fingerprints for the count window; shuffle 2 is the per-doc
    island window + span aggregate. Text never shuffles. At 100 TB both
    shuffles carry anchors (~2/(w+1) of chars), not documents.
    """
    from pyspark.sql import Window

    from .textops import winnow_anchor_rows

    anchors = winnow_anchor_rows(docs, text_col=text_col, id_col=id_col, k=k, w=w)
    cnt = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    occ = (
        anchors.withColumn("__cnt", cnt)
        .filter(F.col("__cnt") >= min_count)
        .select(F.col(id_col), F.col("pos"), (F.col("pos") + k).alias("e"))
    )
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("e").over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    ranked = occ.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    )
    island = F.sum("new_island").over(by_doc.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ranked.withColumn("island", island)
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max("e").cast("bigint").alias("span_end"),
            (F.max("e") - F.min("pos")).cast("bigint").alias("span_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .drop("island")
    )


def cross_doc_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 25,
    w: int = 8,
    min_len: int = 80,
    max_fp_docs: int = 8,
    max_fp_occurrences: int = 64,
    thin_seeds: bool = True,
    share_candidate_text: bool = False,
) -> DataFrame:
    """Maximal exact shared substrings BETWEEN document pairs — the
    cross-document flavor of Lee et al. 2022 exact substring dedup,
    suffix-array-free. Where :func:`repeated_spans` answers "which char
    ranges of each doc are repeated ANYWHERE" (per-doc coverage, for
    span removal), this answers "which doc PAIRS share which exact
    spans" (attribution: contamination tracing, license forensics,
    near-dup explanation), with every span verified by real character
    comparison and grown to maximality.

    Shape (never all-pairs):
    1. winnowing anchors (textops.winnow_anchor_rows, q58's machinery):
       any shared substring of length >= k + w - 1 selects the same
       fingerprint at the same relative offset in both copies, so every
       qualifying repeat is seeded — content-defined, alignment-robust;
    2. anchor fingerprints kept only when their DISTINCT-doc frequency
       is in [2, max_fp_docs]: the hot-fingerprint cut (q41's df-cut —
       ubiquitous boilerplate grams would make bucket joins quadratic
       and belong to frequency-based scrubbing, not pair attribution);
       AND their total occurrence count is <= max_fp_occurrences — the
       PERIODIC-text guard the doc-count cut cannot provide: in a run
       like "aaaa..." or "----" every window's leftmost-min makes EVERY
       position an anchor on ONE fingerprint, so two such docs alone
       would seed |occ|^2 pairs each paying O(run) extension. Periodic
       runs are a repetition-filter signal (q122), not pair evidence;
    3. seed pairs = per-fingerprint occurrence cross product with
       a_doc < b_doc, built by ONE groupBy + explode over the bounded
       buckets (no self-join: the Arrow anchor extraction is evaluated
       once, not once per join side);
    4. both texts join onto the bounded seed set (two hash joins keyed
       on doc id — only candidate docs' text moves; at warehouse scale
       the seed side is the small build side);
    5. Arrow-batched extension: each seed grows left/right by direct
       char comparison to the MAXIMAL equal span; seeds inside the same
       repeat at the same alignment converge to one span and collapse
       under the final distinct.

    Output: (a_doc, b_doc, a_start, a_end, b_start, b_end, span_len),
    1-based [start, end) char ranges, span_len >= min_len. Repeats
    shorter than k + w - 1 chars may be missed (winnowing detection
    grain — the documented trade that replaces the suffix array);
    everything emitted is exact by construction, not probabilistic.
    """
    from .textops import winnow_anchor_rows

    anchors = winnow_anchor_rows(docs, text_col=text_col, id_col=id_col, k=k, w=w)
    buckets = anchors.groupBy("fp").agg(
        F.collect_list(F.struct(F.col(id_col).alias("doc"), F.col("pos"))).alias("occ")
    )
    n_docs = F.size(F.array_distinct(F.transform("occ", lambda o: o["doc"])))
    pairs = (
        buckets.filter(
            (n_docs >= 2)
            & (n_docs <= max_fp_docs)
            & (F.size("occ") <= max_fp_occurrences)
        )
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "occ",
                            lambda a: F.transform(
                                "occ", lambda b: F.struct(a.alias("a"), b.alias("b"))
                            ),
                        )
                    ),
                    lambda p: p["a"]["doc"] < p["b"]["doc"],
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.doc").alias("a_doc"),
            F.col("p.a.pos").alias("apos"),
            F.col("p.b.doc").alias("b_doc"),
            F.col("p.b.pos").alias("bpos"),
        )
    )
    # Same-diagonal seed thinning (round-7, VERDICT r06 ranked task 4):
    # a shared span of length L seeds ~L/w anchor pairs on ONE diagonal
    # (a_doc, b_doc, apos - bpos), and each seed would carry BOTH full
    # texts through the joins below before converging under the final
    # distinct — the traffic scales with span length, not span count.
    # Keeping only the first seed of each same-diagonal cluster (gap
    # <= k-1) is LOSSLESS, not heuristic: consecutive same-diagonal
    # anchors with apos gap <= k-1 have overlapping matching k-grams,
    # so the chars between them match contiguously and both seeds grow
    # to the SAME maximal span. A cluster split (gap > k-1 inside one
    # true span — possible only when w > k-1, outside the operator's
    # sane regime) merely grows the same span from two seeds and
    # collapses under the final distinct, so the safety direction is
    # one-sided. The window runs over the already-bounded seed set
    # (df-cut + occurrence-cap upstream), not the corpus.
    # ``thin_seeds=False`` is an audit knob only (scripts/
    # bench_datapipe_scale.py measures the traffic it saves; the
    # property suite pins output equality between both settings).
    if thin_seeds:
        from pyspark.sql import Window

        diag = Window.partitionBy(
            "a_doc", "b_doc", (F.col("apos") - F.col("bpos")).alias("__diag")
        ).orderBy("apos")
        pairs = (
            pairs.withColumn("__prev", F.lag("apos").over(diag))
            .filter(
                F.col("__prev").isNull() | (F.col("apos") - F.col("__prev") > k - 1)
            )
            .drop("__prev")
        )
    # Only CANDIDATE docs' text may move: a broadcast semi-join on the
    # candidate id set (ids only — bytes per candidate) filters the
    # corpus scan-locally, so the two doc-id joins below shuffle
    # candidate text, not the corpus. The candidate-id branches share
    # the fp-groupBy shuffle with the seed branch (identical canonical
    # subplans — AQE's shuffle-stage cache materializes it once at
    # runtime; observed as a single 32-task extraction stage), so the
    # Arrow anchor extraction still runs exactly once per query.
    cand_ids = (
        pairs.select(F.col("a_doc").alias(id_col))
        .unionByName(pairs.select(F.col("b_doc").alias(id_col)))
        .distinct()
    )
    # The candidate-text frame feeds TWO joins (a_text, b_text) whose
    # different aliases defeat subplan sharing, so the corpus scan +
    # semi-join runs once PER SIDE. ``share_candidate_text`` persists it
    # (MEMORY_AND_DISK; persist rather than localCheckpoint so the
    # semi-join guard stays VISIBLE in the plan — the q128 plan audit
    # pins it; release via spark.catalog.clearCache() in long-lived
    # sessions, the curation drop-list story). DEFAULT OFF, by 100x
    # measurement (r12, scripts/bench_cross_doc_scale100.py): against a
    # parquet-backed corpus the duplicate side is a cheap columnar
    # re-read and the cache boundary can flip the text joins off the
    # broadcast path — wash at a realistic ~1% dup rate (21.3 vs
    # 21.0 s), 3.9x SLOWER when every doc is a candidate (3.9 vs
    # 15.1 s). Turn it ON when ``docs`` is an EXPENSIVE DERIVED frame
    # (union/join-built corpora — q128's registered form, 5.0 -> 3.1 s),
    # where replaying the construction per side dwarfs the bounded
    # candidate-text cache.
    t = docs.select(F.col(id_col), F.col(text_col)).join(
        F.broadcast(cand_ids), id_col, "left_semi"
    )
    if share_candidate_text:
        from pyspark import StorageLevel

        t = t.persist(StorageLevel.MEMORY_AND_DISK)
    seeds = pairs.join(
        t.withColumnRenamed(id_col, "a_doc").withColumnRenamed(text_col, "a_text"),
        "a_doc",
    ).join(
        t.withColumnRenamed(id_col, "b_doc").withColumnRenamed(text_col, "b_text"),
        "b_doc",
    )
    id_type = docs.schema[id_col].dataType.simpleString()

    def extend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            a_docs, b_docs, a_s, a_e, b_s, b_e = [], [], [], [], [], []
            ln: list[int] = []
            md5s: list[str] = []
            for ad, bd, ap, bp, at, bt in zip(
                pdf["a_doc"], pdf["b_doc"], pdf["apos"], pdf["bpos"],
                pdf["a_text"], pdf["b_text"],
            ):
                i, j = int(ap) - 1, int(bp) - 1  # 0-based gram starts
                lx = 0
                while i - lx - 1 >= 0 and j - lx - 1 >= 0 and at[i - lx - 1] == bt[j - lx - 1]:
                    lx += 1
                rx = 0
                la, lb = len(at), len(bt)
                while i + rx < la and j + rx < lb and at[i + rx] == bt[j + rx]:
                    rx += 1
                if lx + rx >= min_len:
                    a_docs.append(ad)
                    b_docs.append(bd)
                    a_s.append(int(ap) - lx)
                    a_e.append(int(ap) + rx)
                    b_s.append(int(bp) - lx)
                    b_e.append(int(bp) + rx)
                    ln.append(lx + rx)
                    # content digest: puts the span TEXT (not just its
                    # boundaries) under any downstream hash compare —
                    # by construction identical from either side
                    md5s.append(
                        hashlib.md5(at[i - lx : i + rx].encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "a_doc": a_docs,
                    "b_doc": b_docs,
                    "a_start": pd.Series(a_s, dtype="int64"),
                    "a_end": pd.Series(a_e, dtype="int64"),
                    "b_start": pd.Series(b_s, dtype="int64"),
                    "b_end": pd.Series(b_e, dtype="int64"),
                    "span_len": pd.Series(ln, dtype="int64"),
                    "span_md5": md5s,
                }
            )

    return seeds.mapInPandas(
        extend,
        f"a_doc {id_type}, b_doc {id_type}, a_start bigint, a_end bigint, "
        "b_start bigint, b_end bigint, span_len bigint, span_md5 string",
    ).distinct()


def tf_cosine_pairs(
    docs: DataFrame,
    min_cos: float = 0.6,
    df_min: int = 2,
    df_max: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs (a < b) with term-frequency cosine >= min_cos.

    The count-weighted sibling of :func:`ngram_jaccard_pairs` (set
    overlap) and q73's BM25 (query-vs-doc): cosine over raw per-doc term
    counts catches near-dups whose similarity lives in SHARED VOCABULARY
    PROPORTIONS rather than shared k-grams — reorderings, shuffled
    boilerplate, template instantiations. Jaccard on 3-grams misses a
    word-order shuffle entirely; TF cosine is order-blind by
    construction.

    Plan shape: one token explode -> per-(doc,term) counts -> df-cut
    [df_min, df_max] (the q41 rule: a term in d docs contributes d^2/2
    join rows, so posting lists are BOUNDED before the self-join; terms
    below df_min pair with nothing and are dead weight) -> self-join on
    term -> integer dot products -> norm join -> threshold. Norms are
    computed over the SAME cut term space, so the score is the exact
    cosine of the cut vectors (conservative like q41's: boilerplate
    similarity is excluded by design, both engines agree exactly).
    Cross-engine exactness needs NO decimal discipline: dot and
    norm-squares are exact integer sums; the final expression is
    +,*,/,sqrt on exact inputs — all correctly-rounded IEEE.

    At 100 TB: the df-cut bounds every posting list at df_max, making
    candidate generation linear in corpus tokens with a d^2-bounded
    constant — the same contract q41/q42 run under; AQE skew-join
    splits any residual imbalance.
    """
    toks = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= df_min) & (F.col("df") <= df_max))
        .select("term")
    )
    kept = tf.join(dft, "term")
    norms = kept.groupBy(id_col).agg(F.sum(F.col("tf") * F.col("tf")).alias("__ss"))
    a = kept.select(F.col(id_col).alias("doc_a"), "term", F.col("tf").alias("__tf_a"))
    b = kept.select(F.col(id_col).alias("doc_b"), "term", F.col("tf").alias("__tf_b"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("__tf_a") * F.col("__tf_b")).alias("__dot"))
    )
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__ss_a").cast("double")) * F.sqrt(F.col("__ss_b").cast("double"))
    )
    return (
        dots.join(
            norms.select(F.col(id_col).alias("doc_a"), F.col("__ss").alias("__ss_a")),
            "doc_a",
        )
        .join(
            norms.select(F.col(id_col).alias("doc_b"), F.col("__ss").alias("__ss_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cos)
    )
