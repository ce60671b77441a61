"""Quality verification for the non-SQL-expressible (rows-only) data
pipeline operators: LSH candidate generation is probabilistic, so these
assert recall/error bounds against exact ground truth computed by the
oracle-checked exact operators."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from extract_transform_load_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs_portable,
    simhash_signatures_portable,
)
from extract_transform_load_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_recovers_exact_high_jaccard_pairs(docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.7}
    if high:
        recall = len(high & set(est)) / len(high)
        assert recall >= 0.9, f"minhash missed high-jaccard pairs: recall={recall}"
    for pair, e in est.items():
        if pair in exact:
            assert abs(exact[pair] - e) < 0.15, f"{pair}: est {e} vs exact {exact[pair]}"


def test_simhash_finds_duplicate_pairs(docs):
    pairs = simhash_pairs_portable(docs, max_hamming=8, n_bands=6).collect()
    assert len(pairs) > 0
    assert all(r["hamming"] <= 8 for r in pairs)
    # exact near-dups (jaccard >= 0.9) should be simhash-close
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    if exact:
        recall = len(exact & found) / len(exact)
        assert recall >= 0.8, f"simhash recall on jaccard>=0.9 dups: {recall}"


def test_simhash_identical_texts_equal_signatures(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures_portable(d).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_ann_lsh_recall_vs_bruteforce(emb):
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(emb, q, k=10).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, q, dim=64, k=10, n_bits=3, n_bands=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall@10 = {recall}"


def test_bruteforce_topk_self_excluded_and_ranked(emb):
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = cosine_topk_bruteforce(emb, q, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True), f"ranks not by sim for {qid}"
        assert len(rs) == 5


def test_ivf_recall_vs_bruteforce(emb):
    from extract_transform_load_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(emb, q, k=10).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, dim=64, k=10, n_centroids=16, n_probe=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall@10 = {recall}"


def test_winnowing_overlap_guarantee(spark):
    """Any shared substring of length >= k + w - 1 = 11 must contribute a
    common selected fingerprint (the MOSS guarantee); disjoint texts
    share none."""
    from extract_transform_load_spark.operators.textops import winnow_fingerprints

    shared = "a quick brown fox jumped over the lazy dog today"
    rows = [
        (1, "PREFIX ONE " + shared),
        (2, shared + " SUFFIX TWO"),
        (3, "zzzz completely unrelated content qqqq 1234567890"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string").select(
        "doc_id", winnow_fingerprints(F.col("text"), k=8, w=4).alias("fps")
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in df.collect()}
    assert fps[1] & fps[2], "docs sharing a 49-char substring must share fingerprints"
    assert not (fps[1] & fps[3])
    # density: winnowing selects ~2/(w+1) of positions, far fewer than grams
    assert len(fps[1]) < len(rows[0][1]) - 8 + 1


def test_winnowing_short_doc_guards(spark):
    from extract_transform_load_spark.operators.textops import winnow_fingerprints

    rows = [(1, "tiny"), (2, "exactly8!"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string").select(
        "doc_id", winnow_fingerprints(F.col("text"), k=8, w=4).alias("fps")
    )
    got = {r["doc_id"]: r["fps"] for r in df.collect()}
    assert got[1] == [] or len(got[1]) <= 1  # < k chars -> no grams
    assert len(got[2]) == 1  # 2 grams < w -> single whole-doc window
    assert got[3] == []


def test_winnow_arrow_equals_column_form(spark, sf_dir):
    """The Arrow extractors (winnow_anchor_rows / winnow_summary_rows)
    must be bit-identical to the higher-order-function column forms they
    replaced on the hot path — same md5 grams, same per-window
    first-occurrence minima — across real docs plus unicode/short/empty
    edge cases."""
    from extract_transform_load_spark.operators.textops import (
        winnow_anchor_positions,
        winnow_anchor_rows,
        winnow_fingerprints,
        winnow_summary_rows,
    )

    edge = spark.createDataFrame(
        [
            (9001, "naïve — café résumé über ße 漢字テキスト repeated repeated repeated!"),
            (9002, "tiny"),
            (9003, ""),
            (9004, None),
            (9005, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),  # all-equal grams: tie rules
        ],
        "doc_id bigint, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").unionByName(edge)

    for k, w in ((25, 8), (8, 4)):
        hof = docs.select(
            "doc_id",
            F.explode(F.array_distinct(winnow_anchor_positions(F.col("text"), k, w))).alias("a"),
        ).select("doc_id", F.col("a.pos").alias("pos"), F.col("a.fp").alias("fp"))
        arrow = winnow_anchor_rows(docs, k=k, w=w)
        assert arrow.exceptAll(hof).count() == 0 and hof.exceptAll(arrow).count() == 0, (k, w)

    hof_sum = docs.select(
        "doc_id", winnow_fingerprints(F.col("text"), k=8, w=4).alias("fps")
    ).select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.get("fps", 0).alias("first_fp"),
        F.get("fps", F.size("fps") - 1).alias("last_fp"),
    )
    arrow_sum = winnow_summary_rows(docs, k=8, w=4)
    assert arrow_sum.exceptAll(hof_sum).count() == 0 and hof_sum.exceptAll(arrow_sum).count() == 0


def test_ivf_cell_partitioned_layout_prunes_scan(spark, sf_dir, tmp_path):
    """The IVF scale path: materialize the corpus partitioned by cell id,
    and a probe's cell filter must prune at plan time (PartitionFilters
    on the scan), reading only the probed cells."""
    from extract_transform_load_spark.operators.similarity import (
        _assign_cells,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(emb, dim=64, n_centroids=8, iterations=1)
    cells = _assign_cells(emb.select("vec_id", "embedding"), cents, "vec_id")
    out = str(tmp_path / "emb_by_cell")
    emb.join(cells, "vec_id").write.partitionBy("cell").parquet(out)

    probed = spark.read.parquet(out).filter(F.col("cell").isin(0, 1))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in pf, plan
    n_all = spark.read.parquet(out).count()
    n_probed = probed.count()
    assert 0 < n_probed < n_all
    # per-cell row counts agree with the unpartitioned assignment
    want = cells.filter(F.col("cell").isin(0, 1)).count()
    assert n_probed == want


def test_minhash_bucket_cap_drops_degenerate_cluster(spark):
    """A boilerplate cluster larger than the cap must not generate
    candidate pairs from its (identical-signature) buckets, while normal
    near-dup pairs still surface."""
    from extract_transform_load_spark.operators.dedup import minhash_lsh_pairs

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    near_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    near_b = "the quick brown fox jumps over the lazy dog near the river bank now"
    rows = [(i, boiler) for i in range(20)] + [(100, near_a), (101, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5)
    capped = minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5, max_bucket_size=10
    )
    unc = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cap = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in unc and (100, 101) in cap  # small buckets unaffected
    assert any(a < 20 and b < 20 for a, b in unc)  # cluster pairs exist uncapped
    assert not any(a < 20 and b < 20 for a, b in cap)  # cap drops the cluster


def test_quantized_cosine_recall_and_store_shrink(emb, tmp_path):
    """int8-quantized cosine top-10 must keep recall >= 0.9 vs exact
    float top-10, and the quantized parquet store must be substantially
    smaller than the float32 one (the 100 TB rationale)."""
    import os

    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=10)
    qcorpus = quantize_embeddings(emb).select("vec_id", "embedding_q")
    qqueries = quantize_embeddings(queries).select("query_id", "embedding_q")
    approx = cosine_topk_quantized(qcorpus, qqueries, k=10)

    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall

    fdir, qdir = str(tmp_path / "f"), str(tmp_path / "q")
    emb.select("vec_id", "embedding").write.parquet(fdir)
    qcorpus.write.parquet(qdir)
    size = lambda d: sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert size(qdir) < 0.55 * size(fdir), (size(qdir), size(fdir))


def _rows_bitwise_equal(a, b) -> bool:
    import math

    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        ta, tb = tuple(ra), tuple(rb)
        for va, vb in zip(ta, tb):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va) and math.isnan(vb):
                    continue
                if va != vb:
                    return False
            elif va != vb:
                return False
    return True


def test_quantized_topk_kernel_bitwise_equals_jvm_form(spark, emb):
    """The r11 Arrow-kernel form of cosine_topk_quantized must be
    BITWISE equal to the JVM expression form it replaced (the
    brute-force delegation over quantized frames): on the real fixture,
    and on a corner fixture exercising zero vectors (NaN cosine — Spark
    orders NaN greatest, so NaN rows win a descending top-k), null
    vectors (null cosine — desc_nulls_last), null ELEMENTS inside a
    vector (the zip_with fold null-propagates: null cosine on both the
    corpus and the query side — Arrow converts list<tinyint>+null to
    float64/NaN, so the kernel must reclassify, not score, those rows),
    and exact score ties (neighbor-id tie-break)."""
    from extract_transform_load_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    def run_both(qcorpus, qqueries, k):
        old = cosine_topk_bruteforce(
            qcorpus, qqueries, k=k, vec_col="embedding_q"
        )
        new = cosine_topk_quantized(qcorpus, qqueries, k=k)
        key = ["query_id", "rank"]
        return old.orderBy(*key).collect(), new.orderBy(*key).collect()

    qcorpus = quantize_embeddings(emb).select("vec_id", "embedding_q")
    qqueries = quantize_embeddings(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    ).select("query_id", "embedding_q")
    old, new = run_both(qcorpus, qqueries, k=10)
    assert len(old) > 0 and _rows_bitwise_equal(old, new)

    schema = "vec_id bigint, embedding_q array<tinyint>"
    corner_corpus = spark.createDataFrame(
        [
            (1, [1, 2, 3]),
            (2, [2, 4, 6]),  # colinear with 1 -> cos ties with id 5
            (4, None),  # null vector -> null cosine, must rank LAST
            (5, [1, 2, 3]),  # identical to 1 -> exact tie, id asc breaks
            (6, [-1, -2, -3]),  # cos = -1
            (7, [3, -1, 0]),
            (8, [1, None, 3]),  # null ELEMENT -> null cosine (null group)
        ],
        schema=schema,
    )
    corner_queries = spark.createDataFrame(
        [
            (1, [1, 2, 3]),  # normal query (also a self-exclusion case)
            (91, None),  # null query: every cosine null
            (92, [1, None, 3]),  # null-element query: every cosine null
        ],
        schema="query_id bigint, embedding_q array<tinyint>",
    )
    old, new = run_both(corner_corpus, corner_queries, k=6)
    assert len(old) == 18 and _rows_bitwise_equal(old, new)
    q1 = [r for r in old if r["query_id"] == 1]
    assert q1[0]["neighbor_id"] in (2, 5)  # the tie family leads
    # both null shapes (whole-null id 4, null-element id 8) rank LAST
    assert q1[-2]["cos_sim"] is None and q1[-2]["neighbor_id"] == 4
    assert q1[-1]["cos_sim"] is None and q1[-1]["neighbor_id"] == 8
    q92 = [r for r in old if r["query_id"] == 92]
    assert len(q92) == 6 and all(r["cos_sim"] is None for r in q92)

    # Zero-norm vectors: the replaced JVM expression form ABORTED under
    # ANSI (DIVIDE_BY_ZERO); the kernel is strictly more defined — IEEE
    # 0/0 = NaN, ranked greatest like Spark (and DuckDB) order doubles.
    import math

    zero_corpus = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [2, 4, 6]), (3, [0, 0, 0])], schema=schema
    )
    zero_queries = spark.createDataFrame(
        [(1, [1, 2, 3]), (90, [0, 0, 0])],
        schema="query_id bigint, embedding_q array<tinyint>",
    )
    got = (
        cosine_topk_quantized(zero_corpus, zero_queries, k=2)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in got] == [3, 2, 1, 2]
    assert math.isnan(got[0]["cos_sim"])  # zero-norm corpus row leads q1
    assert all(math.isnan(r["cos_sim"]) for r in got if r["query_id"] == 90)


def test_prefix_jaccard_equals_allpairs_join(docs):
    """Prefix filtering is lossless: at t=0.5 and a stricter t=0.8 the
    PPJoin-style result set equals the all-pairs inverted-index join
    exactly (pairs AND scores)."""
    from extract_transform_load_spark.operators.dedup import prefix_jaccard_pairs

    for t in (0.5, 0.8):
        naive = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pp = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in prefix_jaccard_pairs(docs, threshold=t).collect()
        }
        assert set(pp) == set(naive)
        assert all(abs(pp[p] - naive[p]) < 1e-12 for p in pp)


def test_prefix_jaccard_prunes_candidate_volume(spark):
    """The point of the prefix index: a hot boilerplate shingle shared
    by every doc contributes NO candidate pairs (rare-first ordering
    pushes it into the never-indexed suffix), while true duplicates
    still collide and verify."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.dedup import (
        prefix_jaccard_pairs,
        shingle_sets,
    )

    boiler = "terms of service apply to all"
    rows = [
        (0, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),  # dup of 0
        *[(i, f"unique{i} text{i} body{i} is here now {boiler}") for i in range(2, 12)],
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # at t=0.8 only the true duplicate clears (boilerplate-tail pairs sit
    # at J = 7/13); at t=0.5 those tail pairs legitimately qualify
    out = {(r["doc_a"], r["doc_b"]) for r in prefix_jaccard_pairs(df, threshold=0.8).collect()}
    assert out == {(0, 1)}

    # candidate volume: all-pairs join rows vs prefix-join rows
    sh = shingle_sets(df)
    naive_rows = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    # every boilerplate shingle pairs all 12 docs: 66 pairs each — the
    # prefix index must beat that by an order of magnitude here
    assert naive_rows > 300
    # reproduce the operator's internal prefix to count its join rows
    from pyspark.sql import Window

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
    pre = ranked.filter(
        F.col("rnk") <= F.col("set_size") - F.ceil(F.lit(0.8) * F.col("set_size")) + 1
    )
    prefix_rows = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    assert prefix_rows * 10 <= naive_rows


def test_heavy_hitters_exact_matches_groupby_under_pruning(spark):
    """q160's operator on a planted Zipf-ish fixture where k is far
    below the distinct count, so the Misra-Gries summaries genuinely
    decrement (the registry fixture's 31-word vocabulary never
    prunes): the two-pass result must still EQUAL the full
    groupBy-count derivation — candidate completeness + exact verify
    make pruning invisible to the output, per-partitioning included."""
    from extract_transform_load_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    # item i in [0, 400): frequency 400 - i  => N = sum = 80200;
    # phi = 0.02 -> threshold 1604 ... none qualify; use phi such that
    # a handful qualify: counts run 1..400, N = 80200, phi = 0.0045
    # -> threshold 360.9 -> items with count >= 361 are ids 0..39
    rows = [(f"it{i:03d}",) for i in range(400) for _ in range(400 - i)]
    df = spark.createDataFrame(rows, "w string").repartition(8)
    out = heavy_hitters_exact(df, "w", phi=0.0045)
    got = {r["item"]: (r["n_occurrences"], r["share"]) for r in out.collect()}
    n_total = len(rows)
    expected = {
        f"it{i:03d}": (400 - i, (400 - i) / n_total)
        for i in range(400)
        if (400 - i) >= 0.0045 * n_total
    }
    assert got == expected
    assert len(expected) == 40  # non-vacuous, and pruning was real:
    # k = ceil(1/0.0045) = 223 counters < 400 distinct items

    # a different partitioning must not change the result (the
    # determinism contract the docstring claims)
    out2 = heavy_hitters_exact(df.repartition(3), "w", phi=0.0045)
    assert {
        r["item"]: (r["n_occurrences"], r["share"]) for r in out2.collect()
    } == expected


def test_heavy_hitters_validation_and_empty(spark):
    import pytest

    from extract_transform_load_spark.operators.sketches import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    df = spark.createDataFrame([("a",)], "w string")
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters_exact(df, "w", phi=0.0)
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters_exact(df, "w", phi=1.0)
    with pytest.raises(ValueError, match="k must"):
        misra_gries_candidates(df, "w", 0)
    empty = spark.createDataFrame([], "w string")
    out = heavy_hitters_exact(empty, "w", phi=0.1)
    assert out.columns == ["item", "n_occurrences", "share"]
    assert out.count() == 0
    # NULL items are excluded from both the candidates and N
    nulls = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), (None,)], "w string"
    )
    row = heavy_hitters_exact(nulls, "w", phi=0.5).collect()
    assert [(r["item"], r["n_occurrences"], r["share"]) for r in row] == [
        ("a", 2, 1.0)
    ]


def test_misra_gries_candidates_lower_bound_and_completeness(spark):
    """The PODS'12 contract the exact pass builds on: every summed
    estimate is a LOWER bound of the true count, the global
    under-count is <= N/(k+1), and every item with true count >
    N/(k+1) survives as a candidate."""
    from extract_transform_load_spark.operators.sketches import (
        misra_gries_candidates,
    )

    # long tail (200 light items) + two heavy heads that MUST survive:
    # N ~ 8.6k, slack N/(k+1) ~ 410 < 1500/2000
    rows = [(f"x{i}",) for i in range(200) for _ in range(1 + (i * 7) % 50)]
    rows += [("BIG1",)] * 2000 + [("BIG2",)] * 1500
    df = spark.createDataFrame(rows, "w string").repartition(4)
    k = 20
    partials = misra_gries_candidates(df, "w", k).collect()
    n_total = sum(r["est"] for r in partials if r["is_meta"])
    assert n_total == len(rows)
    true = {}
    for (w,) in rows:
        true[w] = true.get(w, 0) + 1
    ests = {r["item"]: r["est"] for r in partials if not r["is_meta"]}
    slack = n_total / (k + 1)
    for item, est in ests.items():
        assert est <= true[item], f"{item}: est {est} > true {true[item]}"
    for item, t in true.items():
        if t > slack:
            assert item in ests and ests[item] > 0, (
                f"guaranteed hitter {item} (true {t} > N/(k+1) {slack:.1f}) "
                "missing from candidates"
            )


def test_bm25_topk_hand_checked(spark):
    """q161's operator against a by-hand Okapi/Lucene computation on a
    four-doc corpus: scores, ranking, self-exclusion, and the
    distinct-query-terms convention."""
    import math

    from extract_transform_load_spark.operators.ranking import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
            (4, "durian apple"),
        ],
        "doc_id long, text string",
    )
    # query 1 is ALSO doc 1 (self-excluded); 'apple apple' collapses to
    # the distinct term {'apple'}
    queries = spark.createDataFrame(
        [(1, "apple apple banana")], "query_id long, text string"
    )
    out = bm25_topk(docs, queries, k=10, k1=1.2, b=0.75)
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in out.collect()}

    # hand computation with the same formula
    corpus = {1: "apple banana apple", 2: "banana cherry",
              3: "cherry cherry cherry durian", 4: "durian apple"}
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / n
    df = {}
    for t in toks.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1
    def idf(w):
        return math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
    def score(d, qws):
        s = 0.0
        for w in qws:
            tf = toks[d].count(w)
            if tf == 0:
                continue
            s += idf(w) * (tf * 2.2) / (
                tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)
            )
        return s
    expected = {d: score(d, {"apple", "banana"}) for d in (2, 4)}
    assert 1 not in got  # self-match excluded
    assert 3 not in got  # no shared term -> no row
    assert set(got) == {2, 4}
    for d in (2, 4):
        assert abs(got[d][0] - expected[d]) < 1e-9, (d, got[d], expected[d])
    ranked = sorted(got.items(), key=lambda kv: kv[1][1])
    assert [d for d, _ in ranked] == sorted(
        expected, key=lambda d: (-expected[d], d)
    )


def test_bm25_df_cut_and_validation(spark):
    import pytest

    from extract_transform_load_spark.operators.ranking import bm25_topk

    docs = spark.createDataFrame(
        [(1, "the apple"), (2, "the banana"), (3, "the cherry"),
         (4, "the apple pie")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(99, "the apple")], "query_id long, text string")
    # 'the' is in 4/4 docs; max_df_frac=0.5 cuts it, so doc 2/3 (which
    # share ONLY 'the' with the query) drop out entirely
    out = bm25_topk(docs, q, k=10, max_df_frac=0.5)
    assert {r["doc_id"] for r in out.collect()} == {1, 4}
    # without the cut they score (on 'the' alone)
    full = bm25_topk(docs, q, k=10, max_df_frac=1.0)
    assert {r["doc_id"] for r in full.collect()} == {1, 2, 3, 4}
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(docs, q, k=0)
    with pytest.raises(ValueError, match="max_df_frac"):
        bm25_topk(docs, q, max_df_frac=0.0)


def test_hll_sketch_estimates_and_lossless_merge(spark, sf_dir):
    """Sketch accuracy vs exact distincts, and the property the whole
    design rests on: folding per-day sketches == sketching the range
    directly (merge is lossless in the sketch algebra)."""
    from extract_transform_load_spark.operators.sketches import (
        build_distinct_sketches,
        merge_distinct_estimate,
    )
    from extract_transform_load_spark.sources.tables import load

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "user_id"
    )
    daily = build_distinct_sketches(e, ["day", "event_type"], "user_id")

    folded = {
        r["event_type"]: r["n_distinct"]
        for r in merge_distinct_estimate(daily, ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: r["n_distinct"]
        for r in merge_distinct_estimate(
            build_distinct_sketches(e, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(folded) == set(exact)
    for t, n in exact.items():
        assert abs(folded[t] - n) / n < 0.05, f"{t}: est {folded[t]} vs exact {n}"
        assert folded[t] == direct[t], "daily-fold must equal direct sketch"

    # grand total (empty grouping) folds the same sketch table
    total = merge_distinct_estimate(daily, []).collect()[0]["n_distinct"]
    exact_total = e.agg(F.count_distinct("user_id")).collect()[0][0]
    assert abs(total - exact_total) / exact_total < 0.05


def test_jaccard_df_cut_drops_boilerplate_shingles(spark):
    """max_df removes hot boilerplate shingles before the self-join:
    near-identical docs still pair, but a shingle shared by ALL docs no
    longer contributes d^2 join rows (and scores never increase)."""
    from extract_transform_load_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply to all"
    docs = [
        (0, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),  # dup of 0
        *[(i, f"unique{i} text{i} body{i} is here now {boiler}") for i in range(2, 12)],
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncut = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    cut = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.2, max_df=5).collect()
    }
    assert (0, 1) in cut  # true duplicates survive the cut
    # the cut is conservative: no new pairs, no increased scores
    assert set(cut) <= set(uncut)
    assert all(cut[p] <= uncut[p] + 1e-12 for p in cut)
    # boilerplate-only pairs (sharing just the common tail) are gone
    boiler_only = {p for p, j in uncut.items() if p != (0, 1)}
    assert boiler_only and not (boiler_only & set(cut))


def test_pq_topk_recall_and_code_store_shrink(emb, tmp_path):
    """PQ codes (16 bytes vs 256 float bytes) + ADC shortlist + exact
    rerank: recall@10 >= 0.8 vs exact cosine on the weak-neighbor
    synthetic embeddings (measured ~0.9), and the code store is a small
    fraction of the float store."""
    import os

    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from extract_transform_load_spark.operators.similarity import cosine_topk_bruteforce

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(emb, queries, k=10).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, queries, dim=64, k=10, m=16, n_codes=32, refine_factor=5).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, recall

    books = train_pq_codebooks(emb, dim=64, m=16, k=32)
    fdir, cdir = str(tmp_path / "f"), str(tmp_path / "c")
    emb.select("vec_id", "embedding").write.parquet(fdir)
    pq_encode(emb, books).write.parquet(cdir)
    size = lambda d: sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert size(cdir) < 0.25 * size(fdir), (size(cdir), size(fdir))


def test_ivfpq_recall_vs_bruteforce(emb):
    """The composed IVF-PQ index (cells prune + 16-byte codes + exact
    rerank) keeps recall@10 >= 0.75 vs exact cosine (measured ~0.88)."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.pq import ivfpq_topk
    from extract_transform_load_spark.operators.similarity import cosine_topk_bruteforce

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(emb, queries, k=10).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in ivfpq_topk(emb, queries, dim=64, k=10).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.75, recall


def test_residual_ivfpq_recall_vs_bruteforce(emb):
    """Residual encoding (q70) holds the same recall floor as q67;
    measured 0.92 vs 0.88 at refine_factor=5 on this corpus."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.pq import ivfpq_topk
    from extract_transform_load_spark.operators.similarity import cosine_topk_bruteforce

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(emb, queries, k=10).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, dim=64, k=10, residual=True).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.75, recall


def test_residual_codes_reconstruct_better_than_raw(spark):
    """The point of by_residual: when the corpus HAS cluster structure
    (the regime IVF targets), the same (m, k) code budget reconstructs
    ĉ(cell) + decode(residual code) strictly better than raw-vector PQ.
    Uses seeded clustered vectors — the shared testdata corpus is
    near-uniform on the sphere, where residuals are *wider* than raw
    vectors and the property intentionally does not hold."""
    import numpy as np

    from extract_transform_load_spark.operators.pq import (
        _normalized_matrix,
        train_pq_codebooks,
        train_residual_codebooks,
    )
    from extract_transform_load_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[np.arange(512) % 8] + 0.15 * rng.normal(size=(512, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    m, k = 16, 32
    centroids = train_ivf_centroids(df, dim=64, n_centroids=8)
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    raw_books = train_pq_codebooks(df, dim=64, m=m, k=k)
    res_books = train_residual_codebooks(df, centroids, dim=64, m=m, k=k)

    mat = _normalized_matrix(list(vecs))
    cells = (mat @ norm_c.T).argmax(axis=1)
    d_sub = 64 // m

    def decode_err(vectors: np.ndarray, books: np.ndarray) -> float:
        err = 0.0
        for s in range(m):
            sub = vectors[:, s * d_sub : (s + 1) * d_sub]
            d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).sum()
        return err

    raw_err = decode_err(mat, raw_books)
    res_err = decode_err(mat - norm_c[cells], res_books)
    assert res_err < raw_err, (res_err, raw_err)


def test_minhash_delta_pairs_match_full_rerun(docs):
    """Delta-vs-corpus LSH returns exactly the cross pairs a full-corpus
    re-run would find — the stored signature table loses nothing."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.dedup import (
        minhash_delta_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    split_at = 400
    corpus = docs.filter(F.col("doc_id") < split_at)
    delta = docs.filter(F.col("doc_id") >= split_at)

    corpus_sigs = minhash_signatures(corpus)
    got = {
        frozenset((r["delta_doc"], r["corpus_doc"]))
        for r in minhash_delta_pairs(delta, corpus_sigs).collect()
    }
    full_cross = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in minhash_lsh_pairs(docs).collect()
        if (r["doc_a"] < split_at) != (r["doc_b"] < split_at)
    }
    assert got == full_cross
    assert got  # the synthetic corpus has cross near-dups; empty = broken


def test_minhash_shared_state_paths_identical(docs):
    """r11: the precomputed-state paths (verify_state -> verified_pairs
    / delta_pairs) return byte-identical rows to the text-scanning
    defaults — the one-scan sharing in curation_delta changes nothing
    but the scan count."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.dedup import (
        minhash_delta_pairs,
        minhash_lsh_verified_pairs,
        minhash_signatures,
        minhash_verify_state,
    )

    split_at = 400
    corpus = docs.filter(F.col("doc_id") < split_at)
    delta = docs.filter(F.col("doc_id") >= split_at)
    corpus_sigs = minhash_signatures(corpus)
    state = minhash_verify_state(delta)

    base_pairs = sorted(
        map(tuple, minhash_lsh_verified_pairs(delta).collect())
    )
    state_pairs = sorted(
        map(tuple, minhash_lsh_verified_pairs(delta, state=state).collect())
    )
    assert state_pairs == base_pairs and base_pairs

    base_cross = sorted(
        map(tuple, minhash_delta_pairs(delta, corpus_sigs).collect())
    )
    state_cross = sorted(
        map(
            tuple,
            minhash_delta_pairs(delta, corpus_sigs, delta_sigs=state).collect(),
        )
    )
    assert state_cross == base_cross and base_cross

    # the state's signatures ARE minhash_signatures' — bit-identical
    sig_a = {r["doc_id"]: r["signature"] for r in minhash_signatures(delta).collect()}
    sig_b = {r["doc_id"]: r["signature"] for r in state.select("doc_id", "signature").collect()}
    assert sig_a == sig_b


def test_pack_sequences_coverage_budget_determinism(docs):
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.sampling import pack_sequences

    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    tokens = {r["doc_id"]: r["n_tokens"] for r in d.collect()}
    budget = 1024

    def run():
        return pack_sequences(d, "doc_id", "n_tokens", budget, partitions=4).collect()

    packs = run()
    seen: list[int] = []
    for p in packs:
        assert p["n_docs"] == len(p["doc_ids"])
        assert p["total_tokens"] == sum(tokens[i] for i in p["doc_ids"])
        # budget holds unless a single doc overflows it alone
        assert p["total_tokens"] <= budget or p["n_docs"] == 1
        seen.extend(p["doc_ids"])
    assert sorted(seen) == sorted(tokens)  # every doc packed exactly once

    fill = sum(p["total_tokens"] for p in packs) / (len(packs) * budget)
    assert fill >= 0.6, fill  # greedy fill is actually efficient here

    a = sorted((p["pack_key"], tuple(p["doc_ids"])) for p in packs)
    b = sorted((p["pack_key"], tuple(p["doc_ids"])) for p in run())
    assert a == b  # deterministic composition


def test_training_shard_roundtrip(docs, tmp_path):
    """write_training_shards → read_training_shards is lossless and the
    shard files respect the row cap."""
    import glob

    from extract_transform_load_spark.operators.sampling import (
        read_training_shards,
        write_training_shards,
    )

    spark = docs.sparkSession
    out = str(tmp_path / "shards")
    sel = docs.select("doc_id", "lang", "text")
    write_training_shards(sel, out, "doc_id", rows_per_shard=120)

    back = read_training_shards(spark, out, sel.schema)
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in sel.collect()
    )
    assert back.schema == sel.schema
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            assert sum(1 for _ in fh) <= 120


def test_mixture_sample_balances_and_keeps_binding_group(docs):
    from extract_transform_load_spark.operators.sampling import mixture_sample

    targets = {g: 0.2 for g in ("de", "en", "es", "fr", "zh")}
    before = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = mixture_sample(docs.select("doc_id", "lang"), "lang", "doc_id", targets)
    after = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}

    binding = min(before, key=lambda g: before[g] / targets[g])
    # The binding group is kept whole (acceptance probability exactly 1).
    assert after[binding] == before[binding]
    # Every group thins toward the binding group's size: expected count is
    # the same for all groups here (equal targets), noise is +/- sqrt(n).
    expected = before[binding]
    for g, n in after.items():
        assert abs(n - expected) <= 4 * expected**0.5, (g, n, expected)
    # Deterministic: a second run selects the identical set.
    again = mixture_sample(docs.select("doc_id", "lang"), "lang", "doc_id", targets)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_mixture_sample_rejects_bad_targets(docs):
    from extract_transform_load_spark.operators.sampling import mixture_sample

    with pytest.raises(ValueError):
        mixture_sample(docs, "lang", "doc_id", {})
    with pytest.raises(ValueError):
        mixture_sample(docs, "lang", "doc_id", {"en": 0.0})


def test_ivf_delta_append_equals_full_rebuild(spark, emb, tmp_path):
    """Incremental IVF maintenance: appending a delta batch against the
    frozen centroids must yield a store whose assignments AND search
    results are identical to rebuilding the store from the full corpus
    with the same centroids — the q72-style O(delta) admission, for ANN."""
    from extract_transform_load_spark.operators.similarity import (
        ivf_append_delta,
        ivf_topk_over_store,
        ivf_write_store,
        train_ivf_centroids,
    )

    full = emb.select("vec_id", "embedding")
    initial = full.filter(F.col("vec_id") % 5 != 0)
    delta = full.filter(F.col("vec_id") % 5 == 0)
    cents = train_ivf_centroids(initial, dim=64, n_centroids=8, iterations=1)

    rebuilt, grown = str(tmp_path / "rebuilt"), str(tmp_path / "grown")
    ivf_write_store(full, cents, rebuilt)
    ivf_write_store(initial, cents, grown)
    ivf_append_delta(delta, cents, grown)

    def snapshot(path):
        return {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(path).select("vec_id", "cell").collect()
        }

    assert snapshot(grown) == snapshot(rebuilt)

    queries = full.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    res_a = ivf_topk_over_store(spark, grown, cents, queries, k=5, n_probe=3)
    res_b = ivf_topk_over_store(spark, rebuilt, cents, queries, k=5, n_probe=3)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
    assert sorted(map(key, res_a.collect())) == sorted(map(key, res_b.collect()))
    assert res_a.count() > 0


def test_ivf_store_search_prunes_partitions(spark, emb, tmp_path):
    from extract_transform_load_spark.operators.similarity import (
        ivf_topk_over_store,
        ivf_write_store,
        train_ivf_centroids,
    )

    corpus = emb.select("vec_id", "embedding")
    cents = train_ivf_centroids(corpus, dim=64, n_centroids=8, iterations=1)
    path = str(tmp_path / "store")
    ivf_write_store(corpus, cents, path)

    queries = corpus.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    res = ivf_topk_over_store(spark, path, cents, queries, k=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in pf, plan  # the isin filter prunes cell directories
    assert res.count() > 0


def test_per_cell_residual_codebooks_reconstruct_better(spark):
    """Local codebooks: per-cell residual fits must reconstruct clustered
    corpora at least as well as one shared residual codebook (each cell's
    k-means sees only its own residual distribution)."""
    import numpy as np

    from extract_transform_load_spark.operators.pq import (
        _normalized_matrix,
        train_residual_codebooks,
    )
    from extract_transform_load_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[np.arange(512) % 8] + 0.15 * rng.normal(size=(512, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    m, k = 16, 32
    centroids = train_ivf_centroids(df, dim=64, n_centroids=8)
    norm_c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    shared = train_residual_codebooks(df, centroids, dim=64, m=m, k=k)
    local = train_residual_codebooks(df, centroids, dim=64, m=m, k=k, per_cell=True)
    assert local.shape == (8, m, k, 64 // m)

    mat = _normalized_matrix(list(vecs))
    cells = (mat @ norm_c.T).argmax(axis=1)
    resid = mat - norm_c[cells]
    d_sub = 64 // m

    def err(books_for_row) -> float:
        total = 0.0
        for s in range(m):
            sub = resid[:, s * d_sub : (s + 1) * d_sub]
            for i in range(len(sub)):
                b = books_for_row(i)[s]
                total += ((sub[i][None, :] - b) ** 2).sum(axis=1).min()
        return total

    shared_err = err(lambda i: shared)
    local_err = err(lambda i: local[cells[i]])
    assert local_err <= shared_err, (local_err, shared_err)


def test_per_cell_ivfpq_recall(emb):
    """End-to-end per-cell-codebook IVF-PQ holds the recall floor on the
    shared corpus and stays self-consistent (refine rerank is exact)."""
    from extract_transform_load_spark.operators.pq import ivfpq_topk
    from extract_transform_load_spark.operators.similarity import cosine_topk_bruteforce

    corpus = emb.select("vec_id", "embedding")
    queries = (
        corpus.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
    )
    got = ivfpq_topk(
        corpus, queries, dim=64, k=5, m=16, n_codes=32, n_centroids=16,
        n_probe=8, residual=True, per_cell_codebooks=True,
    )
    want = cosine_topk_bruteforce(corpus, queries, k=5)
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    w = {(r["query_id"], r["neighbor_id"]) for r in want.collect()}
    recall = len(g & w) / len(w)
    assert recall >= 0.75, recall


# --- q99 SemDeDup ---------------------------------------------------------


def test_semantic_dedup_exact_given_assignment(spark, emb):
    """Given the cell assignment (same deterministic quantizer), the
    keep/drop rule must match a numpy re-derivation exactly: drop i iff
    some j < i in the same cell has cosine >= threshold."""
    import numpy as np

    from extract_transform_load_spark.operators.similarity import (
        _assign_cells,
        semantic_dedup,
        train_ivf_centroids,
    )

    dim, tau = 64, 0.5
    cents = train_ivf_centroids(emb, dim, n_centroids=16, iterations=2)
    assigned = _assign_cells(emb.select("vec_id", "embedding"), cents, "vec_id")
    cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}
    by_cell: dict[int, list[int]] = {}
    for vid, c in cells.items():
        by_cell.setdefault(c, []).append(vid)
    expected_kept = set()
    for members in by_cell.values():
        members.sort()
        mat = np.stack([vecs[v] / np.linalg.norm(vecs[v]) for v in members])
        cos = mat @ mat.T
        for i, vid in enumerate(members):
            if not any(cos[i, j] >= tau for j in range(i)):
                expected_kept.add(vid)

    got = semantic_dedup(emb, dim=dim, n_clusters=16, threshold=tau)
    got_kept = {r["vec_id"] for r in got.collect()}
    assert got_kept == expected_kept
    # the rows carry the assignment they were deduped under
    got_cells = {r["vec_id"]: r["cell"] for r in got.collect()}
    assert all(cells[v] == c for v, c in got_cells.items())


# --- q100 BPE -------------------------------------------------------------


def test_bpe_driver_and_distributed_paths_identical(docs):
    from extract_transform_load_spark.operators.bpe import learn_bpe

    sample = docs.limit(120)
    fast = learn_bpe(sample, n_merges=12)
    dist = learn_bpe(sample, n_merges=12, collect_threshold=0)
    assert fast == dist
    assert len(fast) == 12


def test_bpe_batched_equals_sequential(docs, spark):
    """The batched distributed path must be merge-for-merge identical to
    the sequential one — _select_batch only fuses pairs whose counts
    provably cannot interact (disjoint symbols, strictly-above-the-cut
    counts, no fused-string collisions)."""
    from extract_transform_load_spark.operators.bpe import learn_bpe

    sample = docs.limit(120)
    seq = learn_bpe(sample, n_merges=12, collect_threshold=0)
    bat = learn_bpe(sample, n_merges=12, collect_threshold=0, batch=8)
    assert bat == seq and len(bat) == 12

    # adversarial corpora over a 2-letter alphabet: count ties resolved
    # by pair order, and fused strings that collide with symbols built
    # by earlier merges ("ab"+"a" vs "a"+"ba" both spell "aba")
    import random

    rng = random.Random(7)
    for trial in range(3):
        text = " ".join(
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
            for _ in range(60)
        )
        tiny = spark.createDataFrame([(1, text)], "doc_id long, text string")
        s = learn_bpe(tiny, n_merges=8, min_pair_count=1, collect_threshold=0)
        b = learn_bpe(tiny, n_merges=8, min_pair_count=1, collect_threshold=0, batch=4)
        assert b == s, f"trial {trial}: {b} != {s} on {text[:60]}"


def test_bpe_batched_self_pair_repro(spark):
    """Adversarial-review repro: a self-pair merge (a,a) creates pairs
    ((aa,a) from 'aaa' runs) whose count is bounded by the ACCEPTED
    pair's own count, not the cut — so nothing batched after a self-pair
    is provably the sequential argmax. Word counts {aaa:15, aa:7, a:1,
    abbbbb:3, aabaab:1}, batch=4: the old selector accepted
    [(a,a),(b,b)] while sequential BPE's merge 2 is the newly created
    (aa,a)=15. The batch must end at the self-pair."""
    from extract_transform_load_spark.operators.bpe import learn_bpe

    words = {"aaa": 15, "aa": 7, "a": 1, "abbbbb": 3, "aabaab": 1}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(words.items())]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seq = learn_bpe(docs, n_merges=6, min_pair_count=1, collect_threshold=0)
    bat = learn_bpe(docs, n_merges=6, min_pair_count=1, collect_threshold=0, batch=4)
    assert seq[:2] == [("a", "a"), ("aa", "a")]
    assert bat == seq


def test_bpe_batched_exact_selector_fuzz_self_pair_heavy():
    """Driver-side fuzz of the ACTUAL selector over self-pair-heavy
    corpora (runs of one letter): simulate the distributed batched loop
    in pure Python against the sequential trainer as oracle. 400 random
    corpora — the adversarial review found 21/6000 diverging under the
    old rule, so this density catches a regression with margin."""
    import random

    from extract_transform_load_spark.operators.bpe import (
        _learn_driver_side,
        _select_batch,
    )

    def batched_learn(word_counts: dict[str, int], n_merges: int, batch: int):
        vocab: dict[tuple[str, ...], int] = {}
        for w, c in word_counts.items():
            t = tuple(w)
            vocab[t] = vocab.get(t, 0) + c
        alphabet = {s for syms in vocab for s in syms}
        merges: list[tuple[str, str]] = []
        while len(merges) < n_merges:
            want = min(batch, n_merges - len(merges))
            counts: dict[tuple[str, str], int] = {}
            for syms, cnt in vocab.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + cnt
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            top = [
                {"a": a, "b": b, "c": c}
                for (a, b), c in ranked[: want * 8 + 1]
                if c >= 1
            ]
            if not top:
                break
            if want <= 1:
                round_merges = [(top[0]["a"], top[0]["b"])]
            else:
                round_merges = _select_batch(top, alphabet, want)
            if not round_merges:
                break
            merges.extend(round_merges)
            for a, b in round_merges:
                alphabet.add(a + b)
            for a, b in round_merges:
                fused = a + b
                nv: dict[tuple[str, ...], int] = {}
                for syms, cnt in vocab.items():
                    out: list[str] = []
                    i = 0
                    n = len(syms)
                    while i < n:
                        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                            out.append(fused)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    key = tuple(out)
                    nv[key] = nv.get(key, 0) + cnt
                vocab = nv
        return merges

    rng = random.Random(20260814)
    diverged = []
    for trial in range(400):
        n_words = rng.randint(2, 6)
        wc: dict[str, int] = {}
        for _ in range(n_words):
            if rng.random() < 0.5:  # run of one letter — self-pair bait
                w = rng.choice("ab") * rng.randint(1, 7)
            else:
                w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 7)))
            wc[w] = wc.get(w, 0) + rng.randint(1, 20)
        pairs = list(wc.items())
        seq = _learn_driver_side(pairs, 8, 1)
        for batch in (2, 4, 8):
            bat = batched_learn(wc, 8, batch)
            if bat != seq:
                diverged.append((trial, batch, wc, seq, bat))
    assert not diverged, f"{len(diverged)} divergences, first: {diverged[0]}"


def test_bpe_fast_batch_cuts_rounds(docs, spark):
    """exact=False is the throughput mode: up to `batch` disjoint merges
    per driver round, deterministic, valid merges (encode stays
    lossless), rounds ~ n/batch instead of n."""
    from extract_transform_load_spark.operators import bpe

    sample = docs.limit(120)
    calls = {"n": 0}
    orig = bpe._select_batch_fast

    def spy(top, alphabet, max_accept):
        calls["n"] += 1
        return orig(top, alphabet, max_accept)

    bpe._select_batch_fast = spy
    try:
        fast = bpe.learn_bpe(
            sample, n_merges=24, collect_threshold=0, batch=8, exact=False
        )
        again = bpe.learn_bpe(
            sample, n_merges=24, collect_threshold=0, batch=8, exact=False
        )
    finally:
        bpe._select_batch_fast = orig
    assert fast == again  # deterministic
    assert len(fast) == 24 and len(set(fast)) == 24
    assert calls["n"] <= 2 * (24 // 8 + 2)  # ~batch-x fewer rounds (2 runs)

    # merges are applicable: encoding reproduces the text losslessly
    enc = bpe.encode_bpe(sample.select("doc_id", "text"), fast)
    ok = (
        sample.join(enc, "doc_id")
        .select(
            (
                F.array_join("tokens", "")
                == F.replace(F.col("text"), F.lit(" "), F.lit(""))
            ).alias("ok")
        )
        .collect()
    )
    assert ok and all(r["ok"] for r in ok)


def test_bpe_hand_checked_merges(spark):
    from extract_transform_load_spark.operators.bpe import learn_bpe

    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest widest")],
        "doc_id long, text string",
    )
    merges = learn_bpe(docs, n_merges=4, min_pair_count=2)
    # Hand-derived: (w,e)=6 (2x lower + 4x newest) wins round 1; round 2
    # ties (l,o)=5 with (s,t)=5 and pair-asc tie-break picks (l,o); then
    # (s,t)=5; round 4 ties at 4 and (e,we) < (n,e) < (we,st).
    assert merges == [("w", "e"), ("l", "o"), ("s", "t"), ("e", "we")]


def test_bpe_encode_round_trip_and_trained_words(docs):
    from extract_transform_load_spark.operators.bpe import encode_bpe, learn_bpe

    sample = docs.limit(60).select("doc_id", "text")
    merges = learn_bpe(sample, n_merges=15)
    enc = encode_bpe(sample, merges)
    joined = sample.join(enc, "doc_id").select(
        (F.array_join("tokens", "") == F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .alias("ok"),
        F.size("tokens").alias("n_tokens"),
        F.size(F.split("text", " ")).alias("n_words"),
    )
    rows = joined.collect()
    assert all(r["ok"] for r in rows)          # lossless concatenation
    assert all(r["n_tokens"] >= r["n_words"] for r in rows)  # >=1 token per word
    # merges actually fire: token count strictly below char count
    chars = sample.select(F.sum(F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias("c")).collect()[0]["c"]
    toks = enc.select(F.sum(F.size("tokens")).alias("t")).collect()[0]["t"]
    assert toks < chars


def test_kll_quantile_sketch_rank_error_and_determinism(spark, sf_dir):
    """q106: each folded-sketch quantile estimate must sit within the
    KLL rank-error bound of the exact distribution (k=200 -> ~1.65%
    single-sided; assert 5%), and repeated evaluation is deterministic
    (a flapping estimate would break cached gold serving)."""
    from extract_transform_load_spark.plans.registry import REGISTRY
    from extract_transform_load_spark.sources.tables import load

    from extract_transform_load_spark.operators.sketches import (
        build_quantile_sketches,
        merge_quantile_estimates,
    )

    e = load(spark, sf_dir, "events")
    daily = build_quantile_sketches(
        e.select(F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "value"),
        ["day", "event_type"],
        "value",
    )
    est = merge_quantile_estimates(daily, ["event_type"], (0.5, 0.9, 0.99))
    r1 = sorted(map(tuple, est.collect()))
    r2 = sorted(map(tuple, est.collect()))
    assert r1 == r2, "KLL fold must be deterministic"

    # the registry form carries the audit booleans — all must hold
    audit = REGISTRY["q106_sketch_quantiles"].fn(spark, sf_dir).collect()
    assert audit and all(r["p50_ok"] and r["p90_ok"] and r["p99_ok"] for r in audit)
    vals = {
        t: sorted(
            r["value"] for r in e.filter(F.col("event_type") == t).select("value").collect()
        )
        for t in {row[0] for row in r1}
    }
    import bisect

    for t, p50, p90, p99 in r1:
        xs = vals[t]
        for quantile, est in ((0.5, p50), (0.9, p90), (0.99, p99)):
            rank = bisect.bisect_right(xs, est) / len(xs)
            assert abs(rank - quantile) <= 0.05, (t, quantile, est, rank)


def test_theta_sketch_exact_mode_precondition(spark, sf_dir):
    """q107's oracle asserts EXACT equality, which holds while cohort
    cardinalities stay under the sketch's nominal 2^12 entries. If the
    driver ever regenerates testdata past that, this test fails with a
    readable message instead of a bare hash mismatch at the gate."""
    from extract_transform_load_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    n = e.select(F.count_distinct("user_id").alias("n")).collect()[0]["n"]
    assert n < 4096, (
        f"{n} distinct users exceeds theta exact mode; q107's oracle must "
        "switch to an error-bound rows-only check"
    )


def test_incremental_curation_equals_full_recompute(spark, sf_dir):
    """The corpus-curation pipeline must be maintainable one batch at a
    time: curating day-1, persisting the fingerprint store, then
    admitting day-2 through dedup_delta_exact must keep EXACTLY the
    docs a full q65-style recompute keeps (quality floor and split are
    per-doc pure functions, so dedup admission is the only stateful
    step). Holds when ids arrive monotonically — the delta operator's
    first-batch-wins and q65's min-id rule then agree; out-of-order
    backfills need the q72 reconciliation instead."""
    from pyspark.sql import Window

    from extract_transform_load_spark.operators.dedup import dedup_delta_exact
    from extract_transform_load_spark.operators.sampling import hash_split
    from extract_transform_load_spark.operators.textops import fingerprint as fp_col

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = d.approxQuantile("doc_id", [0.5], 0.0)[0]

    # full recompute: q65's keep rule, doc grain
    keep = F.col("doc_id") == F.min("doc_id").over(Window.partitionBy(fp_col(F.col("text"))))
    full_kept = {
        r["doc_id"]
        for r in d.select("doc_id", keep.alias("k")).filter("k").collect()
    }

    empty_store = spark.createDataFrame([], "fingerprint string")
    b1 = dedup_delta_exact(d.filter(F.col("doc_id") < mid), empty_store)
    store1 = b1.select("fingerprint")
    b2 = dedup_delta_exact(d.filter(F.col("doc_id") >= mid), store1)
    inc_kept = {r["doc_id"] for r in b1.unionByName(b2).select("doc_id").collect()}
    assert inc_kept == full_kept

    # downstream stages commute with batching: same curated (doc, split)
    def curate(df):
        w = F.split(F.col("text"), " ")
        ttr = F.size(F.array_distinct(w)).cast("double") / F.size(w)
        return {
            (r["doc_id"], r["split"])
            for r in hash_split(df.withColumn("ttr", ttr), "doc_id")
            .filter(F.col("ttr") >= 0.3)
            .select("doc_id", "split")
            .collect()
        }

    assert curate(b1.unionByName(b2)) == curate(
        d.join(spark.createDataFrame([(i,) for i in full_kept], "doc_id long"), "doc_id")
    )


def test_funnel_strict_ordering_edges(spark):
    """Hand-built sequences pin the funnel's matching rules: strict
    time ordering between steps (equal-ts click after view does NOT
    advance), greedy-earliest matching (a later re-view can't reset a
    completed chain), and step filtering (unrelated types ignored)."""
    from datetime import datetime

    from extract_transform_load_spark.operators.funnel import (
        funnel_report,
        funnel_stages,
    )

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1: clean view->click->purchase
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: click BEFORE view, then nothing after -> stage 1 only
        (2, t(0), "click"), (2, t(1), "view"),
        # u3: equal-ts view+click cannot chain; later click advances
        (3, t(0), "view"), (3, t(0), "click"), (3, t(5), "click"),
        # u4: noise types ignored; purchase without click stays stage 1
        (4, t(0), "view"), (4, t(1), "error"), (4, t(2), "purchase"),
        # u5: never views -> stage 0
        (5, t(0), "purchase"),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    got = {r["user_id"]: r["stage"] for r in funnel_stages(e, steps).collect()}
    assert got == {1: 3, 2: 1, 3: 2, 4: 1, 5: 0}

    rep = {r["stage"]: (r["step_name"], r["n_users"]) for r in funnel_report(e, steps).collect()}
    assert rep == {1: ("view", 4), 2: ("click", 2), 3: ("purchase", 1)}


def test_repetition_profile_hand_checked(spark):
    from extract_transform_load_spark.operators.textops import repetition_profile

    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "x"), (2, "q q q")], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    r0 = rows[0]  # words a,b,a,b,c; bigrams "a b"x2,"b a","b c"; trigrams distinct
    assert r0["n_words"] == 5
    assert r0["top_word_frac"] == pytest.approx(2 / 5)
    assert r0["dup_word_frac"] == pytest.approx(4 / 5)
    assert r0["top_bigram_frac"] == pytest.approx(2 / 4)
    assert r0["dup_bigram_frac"] == pytest.approx(2 / 4)
    assert r0["top_trigram_frac"] == pytest.approx(1 / 3)
    assert r0["dup_trigram_frac"] == 0.0
    r1 = rows[1]  # single word: no bigrams/trigrams exist -> NULL fracs
    assert r1["n_words"] == 1
    assert r1["top_word_frac"] == 1.0
    assert r1["top_bigram_frac"] is None
    assert r1["dup_trigram_frac"] is None
    r2 = rows[2]  # q q q: total repetition at every granularity that exists
    assert r2["top_word_frac"] == 1.0
    assert r2["dup_word_frac"] == 1.0
    assert r2["top_bigram_frac"] == 1.0
    assert r2["dup_trigram_frac"] == 0.0  # one trigram occurrence, not duplicated


def test_repetition_profile_never_shuffles_text(spark):
    """The corpus text column must not survive past the scan stage —
    only exploded grams and per-doc aggregates may cross an exchange."""
    from extract_transform_load_spark.operators.textops import repetition_profile

    df = spark.createDataFrame([(0, "a b c")], "doc_id int, text string")
    plan = repetition_profile(df)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_repetition_profile_one_doc_keyed_rollup(spark):
    """r11: the per-n stats are conditional aggregates in ONE doc-keyed
    groupBy straight after the (doc, gram) count — no groupBy(doc, n)
    hop and no pivot, so the plan holds exactly TWO hashpartitioning
    exchanges (gram counts; the doc rollup) and no pivotfirst."""
    import re

    from extract_transform_load_spark.operators.textops import repetition_profile

    df = spark.createDataFrame([(0, "a b a b c")], "doc_id int, text string")
    plan = repetition_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "pivotfirst" not in plan
    # two aggregate exchanges plus ONE for the docs side of the spine
    # join — the stats-less local fixture plans SMJ there (the parquet
    # query broadcasts the |docs|-row wide frame and never shuffles
    # docs; q122's committed plan file shows BroadcastHashJoin). The
    # old pivot shape had four: (doc,gram), (doc,n), pivot(doc), join.
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3


def test_oov_rate_hand_checked(spark):
    from extract_transform_load_spark.operators.textops import build_vocab

    df = spark.createDataFrame(
        [(0, "s0", "a a b c"), (1, "s1", "a d d e")],
        "doc_id int, source string, text string",
    )
    # freq: a=3, d=2, b=c=e=1 -> top-2 vocab = [a, d] (count desc, word asc)
    vocab = {r["word"] for r in build_vocab(df, size=2).collect()}
    assert vocab == {"a", "d"}
    toks = df.select("source", F.explode(F.split("text", " ")).alias("w"))
    joined = toks.join(
        build_vocab(df, size=2).withColumnRenamed("word", "w").select("w"),
        "w",
        "left_semi",
    )
    assert joined.count() == 5  # a,a,a,d,d in vocab; b,c,e OOV


def test_repetition_profile_matches_python_reference(spark):
    """Randomized cross-check: per-doc top/dup gram mass for n=1..3 vs a
    Counter-based reference, including docs shorter than n."""
    import random
    from collections import Counter

    from extract_transform_load_spark.operators.textops import repetition_profile

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    for i, text in rows:
        ws = text.split(" ")
        r = got[i]
        assert r["n_words"] == len(ws)
        for n, label in ((1, "word"), (2, "bigram"), (3, "trigram")):
            grams = [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
            if not grams:
                assert r[f"top_{label}_frac"] is None
                assert r[f"dup_{label}_frac"] is None
                continue
            c = Counter(grams)
            assert r[f"top_{label}_frac"] == pytest.approx(max(c.values()) / len(grams))
            dup = sum(v for v in c.values() if v >= 2)
            assert r[f"dup_{label}_frac"] == pytest.approx(dup / len(grams))


def test_gram_cardinality_exact_and_hll_bound(spark):
    from extract_transform_load_spark.plans.datapipe import q124_gram_cardinality

    df = spark.createDataFrame(
        [(0, "a b c a b"), (1, "a b x y z")], "doc_id long, text string"
    )
    # run the registered plan against a toy frame via monkeypatched load
    import extract_transform_load_spark.plans.datapipe as dp

    orig = dp.load
    try:
        dp.load = lambda spark_, sf_, name: df
        rows = {r["n"]: r for r in q124_gram_cardinality(spark, "unused").collect()}
    finally:
        dp.load = orig
    # words: a,b,c,x,y,z -> 6 distinct; bigrams: "a b" (both docs),
    # "b c","c a","b x","x y","y z" -> 6 distinct; trigrams: 3 per doc,
    # all distinct -> 6; n=5: "a b c a b" + "a b x y z" -> 2; n=8: none
    assert rows[1]["n_distinct_exact"] == 6
    assert rows[2]["n_distinct_exact"] == 6
    assert rows[3]["n_distinct_exact"] == 6
    assert rows[5]["n_distinct_exact"] == 2
    assert 8 not in rows  # no 8-grams exist in 5-word docs
    assert all(rows[n]["approx_ok"] for n in rows)


def test_gram_cardinality_single_scan_no_text_shuffle(spark):
    """q124's plan must read documents ONCE (the tagged explode serves
    all five gram sizes) and shuffle only grams/aggregates, never text."""
    from extract_transform_load_spark.plans.datapipe import q124_gram_cardinality

    df = spark.createDataFrame([(0, "a b c d e f g h i")], "doc_id long, text string")
    import extract_transform_load_spark.plans.datapipe as dp

    orig = dp.load
    try:
        dp.load = lambda spark_, sf_, name: df
        plan = (
            q124_gram_cardinality(spark, "unused")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        dp.load = orig
    assert plan.count("LocalTableScan") + plan.count("Scan ExistingRDD") <= 1
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line


def test_contamination_coverage_hand_checked(spark):
    """q125 on a toy corpus: bench doc 0 shares its first 8-gram with
    corpus doc 1 (prefix overlap) but not its second; doc 200 shares
    nothing. Coverage fractions are exact."""
    from extract_transform_load_spark.plans.datapipe import q125_contamination_coverage
    import extract_transform_load_spark.plans.datapipe as dp

    w = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 words -> two 8-grams
    rows = [
        (0, w),                                  # bench (0 % 200 == 0)
        (200, "x1 x2 x3 x4 x5 x6 x7 x8"),        # bench, disjoint
        (1, "w1 w2 w3 w4 w5 w6 w7 w8 zz"),       # corpus: shares gram #1 only
        (2, "unrelated " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dp.load
    try:
        dp.load = lambda spark_, sf_, name: df
        got = {r["doc_id"]: r for r in q125_contamination_coverage(spark, "x").collect()}
    finally:
        dp.load = orig
    assert got[0]["n_grams"] == 2 and got[0]["n_matched"] == 1
    assert got[0]["coverage_frac"] == pytest.approx(0.5)
    assert got[200]["n_grams"] == 1 and got[200]["n_matched"] == 0
    assert got[200]["coverage_frac"] == 0.0


def test_contamination_coverage_plan_broadcasts_bench_side(spark):
    """q125's executed plan: the bench gram set rides a broadcast
    exchange, and no shuffle exchange ever carries the corpus text."""
    from extract_transform_load_spark.plans.datapipe import q125_contamination_coverage
    import extract_transform_load_spark.plans.datapipe as dp

    df = spark.createDataFrame(
        [(0, "a b c d e f g h i"), (1, "a b c d e f g h z")],
        "doc_id long, text string",
    )
    orig = dp.load
    try:
        dp.load = lambda spark_, sf_, name: df
        plan = (
            q125_contamination_coverage(spark, "x")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        dp.load = orig
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line:
            assert "text" not in line


def test_char_entropy_hand_checked(spark):
    """Uniform 4-char doc hits ln(4); single-char doc is 0; a base64-ish
    blob scores above the prose-like doc."""
    import math

    from extract_transform_load_spark.plans.datapipe import q126_char_entropy
    import extract_transform_load_spark.plans.datapipe as dp

    rows = [
        (0, "abcd"),                      # uniform over 4 chars -> ln 4
        (1, "aaaa"),                      # degenerate -> 0
        (2, "the the the the the"),       # repetitive prose-ish
        (3, "aGVsbG8gd29ybGQhPz8/Kys="),  # base64-shaped blob
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dp.load
    try:
        dp.load = lambda s_, sf_, n_: df
        got = {r["doc_id"]: r for r in q126_char_entropy(spark, "x").collect()}
    finally:
        dp.load = orig
    assert got[0]["entropy_nats"] == pytest.approx(math.log(4), abs=1e-9)
    assert got[1]["entropy_nats"] == pytest.approx(0.0, abs=1e-12)
    assert got[1]["n_distinct_chars"] == 1
    assert got[3]["entropy_nats"] > got[2]["entropy_nats"]
    # reference entropy for the prose-ish doc, computed independently
    from collections import Counter

    text = rows[2][1]
    c = Counter(text)
    n = len(text)
    h = -sum((v / n) * math.log(v / n) for v in c.values())
    assert got[2]["entropy_nats"] == pytest.approx(h, abs=1e-9)
    assert got[2]["n_chars"] == n


def test_cross_doc_spans_exact_boundaries(spark):
    """A planted shared substring must come back as ONE maximal pair
    span with exact char boundaries — grown by real char comparison,
    not anchor-granular like repeated_spans."""
    from extract_transform_load_spark.operators.dedup import cross_doc_spans

    shared = "the quick brown fox jumps over the lazy dog while the band plays on and the crowd waves banners all night"
    assert len(shared) >= 80 + 25  # min_len + detection grain headroom
    # boundary chars differ on BOTH sides of the plant in the two docs,
    # so the maximal span is exactly the planted substring (a shared
    # boundary char would correctly extend the span past the plant)
    pre1, suf1 = "alpha beta gamma delta X-", "!Y epsilon zeta"
    pre2, suf2 = "one two three four five Q:", "?R six seven"
    docs = spark.createDataFrame(
        [
            (1, pre1 + shared + suf1),
            (2, pre2 + shared + suf2),
            (3, "completely different content with no repeats of any kind here at all beyond this"),
        ],
        "doc_id long, text string",
    )
    rows = cross_doc_spans(docs, k=25, w=8, min_len=80).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_doc"], r["b_doc"]) == (1, 2)
    # 1-based [start, end): the span is exactly the planted substring
    assert r["a_start"] == len(pre1) + 1 and r["a_end"] == len(pre1) + 1 + len(shared)
    assert r["b_start"] == len(pre2) + 1 and r["b_end"] == len(pre2) + 1 + len(shared)
    assert r["span_len"] == len(shared)
    import hashlib

    assert r["span_md5"] == hashlib.md5(shared.encode()).hexdigest()


def test_cross_doc_spans_hot_fingerprint_cut(spark):
    """Boilerplate shared by MORE than max_fp_docs docs is cut by the
    anchor df guard: every INTERIOR anchor (selected identically in all
    copies) has df=12 > 8 and is cut, collapsing the would-be-quadratic
    66 pairs. The cut is a seeding bound, not an exactness filter: near
    the span's edges the winnowing window also sees each doc's unique
    context, so a common gram can be SELECTED in only a subset of docs,
    land in [2, max_fp_docs], and seed that subset's pairs — a
    deterministic (md5-fixed) leak of 7 true-positive pairs here, each
    still grown to the exact shared span. Raising the cap to the doc
    count admits all 66 pairs."""
    from extract_transform_load_spark.operators.dedup import cross_doc_spans

    shared = "repeated boilerplate sentence that appears in every single document of this batch verbatim"
    docs = spark.createDataFrame(
        [(i, f"unique prefix number {i} <<< " + shared + f" >>> unique tail {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    out8 = cross_doc_spans(docs, k=25, w=8, min_len=80, max_fp_docs=8).collect()
    assert len(out8) == 7  # edge-anchor leakage only, not the 66 all-pairs
    # every leaked pair is a TRUE span: " <<< " + shared + " >>> unique tail "
    # with digit-dependent boundary extension (112/113 chars)
    assert all(r["span_len"] >= len(shared) + 10 for r in out8)
    # the same corpus pairs fully when the cap admits it
    out = cross_doc_spans(docs, k=25, w=8, min_len=80, max_fp_docs=12)
    assert out.count() == 12 * 11 / 2
    assert all(r["span_len"] >= len(shared) + 10
               for r in out.select("span_len").distinct().collect())


def test_cross_doc_spans_periodic_text_guard(spark):
    """Periodic runs make EVERY position an anchor on one fingerprint
    (leftmost-min of an all-equal window is every window's first gram),
    so without the occurrence cap two such docs would seed |occ|^2
    extensions. The cap cuts them — periodic boilerplate is q122's
    repetition signal, not pair-attribution evidence — while a normal
    shared span in the same corpus still pairs."""
    import time

    from extract_transform_load_spark.operators.dedup import cross_doc_spans

    shared = "a genuinely distinctive shared sentence that should still be attributed to exactly one doc pair"
    docs = spark.createDataFrame(
        [
            (1, "x" * 4000),
            (2, "x" * 4000),
            (3, "prefix one <<" + shared + ">> tail one"),
            (4, "prefix two ((" + shared + ")) tail two"),
        ],
        "doc_id long, text string",
    )
    t0 = time.monotonic()
    rows = cross_doc_spans(docs, k=25, w=8, min_len=80).collect()
    assert time.monotonic() - t0 < 60  # bounded, not |occ|^2
    assert {(r["a_doc"], r["b_doc"]) for r in rows} == {(3, 4)}
    assert rows[0]["span_len"] == len(shared)

    # lifting the cap really is what admits the periodic pair again
    # (tiny run so the quadratic seed set stays testable)
    small = spark.createDataFrame(
        [(1, "y" * 120), (2, "y" * 120)], "doc_id long, text string"
    )
    assert cross_doc_spans(small, k=25, w=8, min_len=80).count() == 0
    lifted = cross_doc_spans(
        small, k=25, w=8, min_len=80, max_fp_occurrences=1_000_000
    )
    assert lifted.count() >= 1  # the full 120-char run pairs once uncapped


def test_curation_pipeline_stage_attribution(spark, tmp_path):
    """q131's sequential drop attribution, hand-checked on a planted
    corpus: an exact duplicate that is ALSO a near-duplicate must be
    attributed to the exact stage (stage order is the contract), the
    near-dup stage must see only exact-dedup survivors, and kept_words
    counts kept docs only."""
    from extract_transform_load_spark.plans.datapipe import q131_curation_pipeline

    base_words = [f"w{i:02d}" for i in range(30)]
    doc1 = " ".join(base_words)                       # kept (TTR = 1.0)
    doc2 = doc1.upper() + "!!!"                       # exact dup of doc1 (normalized)
    near = " ".join(base_words[:-1] + ["zz"])         # near dup (1 word differs)
    spam = " ".join(["spam"] * 10)                    # TTR 0.1 -> low_quality
    uniq = " ".join(f"u{i:02d}" for i in range(20))   # kept
    rows = [
        (1, doc1), (2, doc2), (3, near), (4, spam), (5, uniq),
    ]
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = q131_curation_pipeline(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "test"
    assert r["n_input"] == 5
    assert r["n_exact_dropped"] == 1     # doc2, NOT attributed to near-dup
    assert r["n_neardup_dropped"] == 1   # doc3 clusters with doc1 (min id keeps)
    assert r["n_quality_dropped"] == 1   # doc4
    assert r["n_kept"] == 2              # doc1, doc5
    assert r["kept_words"] == 30 + 20

    # sanity: the near-dup plant really is above the verify threshold
    sh1 = {" ".join(base_words[i:i + 3]) for i in range(28)}
    sh3 = {" ".join((base_words[:-1] + ["zz"])[i:i + 3]) for i in range(28)}
    j = len(sh1 & sh3) / len(sh1 | sh3)
    assert j >= 0.5, j


def test_curation_pipeline_no_text_shuffle(spark):
    """q131's scale contract: corpus text is consumed in-scan (metrics,
    fingerprint, shingle hashes) and NEVER crosses an exchange. The
    drop lists are duplicates-only id sets, so at any realistic dup rate
    AQE turns every join back into a broadcast — assert on the FINAL
    adaptive plan (the static plan legitimately contains SMJ exchanges
    that AQE replaces at runtime; round-6 lesson: never assert AQE
    behavior on the pre-execution plan string)."""
    import extract_transform_load_spark.plans.datapipe as dp
    from extract_transform_load_spark.plans.datapipe import q131_curation_pipeline

    base = " ".join(f"w{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base, "en", "s", 1), (2, base + "!", "en", "s", 1),
         (3, " ".join(["x"] * 8), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = dp.load
    try:
        dp.load = lambda spark_, sf_, name: docs
        out = q131_curation_pipeline(spark, "unused")
        out.collect()
    finally:
        dp.load = orig
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # toString appends the PRE-adaptive "== Initial Plan ==" (which
    # legitimately contains the SMJs AQE replaced) — judge the final
    # section only
    final = plan.split("== Initial Plan ==")[0]
    # no shuffled join survives at this scale -> text stayed scan-local
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final

    # belt and braces: no remaining exchange's (or window's) INPUT
    # carries the text column — the exact-stage window is legal because
    # it runs over the pruned (fingerprint, id) frame, never text
    jvm = spark._jvm
    formatted = out._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    blocks = formatted.split("\n\n")
    for block in blocks:
        lines = block.splitlines()
        if lines and (") Exchange" in lines[0] or ") Window" in lines[0]):
            for ln in lines:
                if ln.startswith("Input"):
                    assert "text#" not in ln, lines[0] + " carries text: " + ln


def test_curation_operator_api(spark):
    """The reusable operator form of the q131 recipe: per-doc stage
    labels, drop-list-anti-join corpus materialization (original columns
    intact), and the report rollup equal to the registered query's."""
    from extract_transform_load_spark.operators.curation import (
        curated_corpus,
        curation_report,
        curation_stages,
    )

    base = " ".join(f"w{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s", 1),
            (2, base.upper() + "!", "en", "s", 1),          # exact dup
            (3, " ".join(base.split()[:-1] + ["zz"]), "en", "s", 1),  # near dup
            (4, " ".join(["spam"] * 10), "en", "s", 1),     # low quality
            (5, " ".join(f"u{i:02d}" for i in range(20)), "en", "s", 1),
            # null text must NEVER reach 'kept' (review r8): null
            # fingerprints group together (6 keeps the group, 7 is its
            # exact_dup), and the surviving null doc fails the quality
            # gate via the explicit null guard
            (6, None, "en", "s", 0),
            (7, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    stages = curation_stages(docs)
    by_id = {r["doc_id"]: r["stage"] for r in stages.collect()}
    assert by_id == {1: "kept", 2: "exact_dup", 3: "near_dup",
                     4: "low_quality", 5: "kept",
                     6: "low_quality", 7: "exact_dup"}

    kept = curated_corpus(docs, stages)
    assert kept.columns == docs.columns  # originals intact
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5]

    rep = curation_report(stages).collect()
    assert len(rep) == 1 and rep[0]["n_kept"] == 2 and rep[0]["kept_words"] == 50


def test_curation_delta_hand_checked(spark):
    """curation_delta against a planted store: exact-dup-of-store,
    batch-internal exact dup, near-dup-of-store via signature estimate
    (store text never read), within-batch near-dup chain through a
    store hit (the sentinel component: BOTH batch docs drop because one
    of them collides with the store), quality gate, and null text."""
    from extract_transform_load_spark.operators.curation import curation_delta
    from extract_transform_load_spark.operators.dedup import (
        exact_duplicates,
        minhash_signatures,
    )

    base = " ".join(f"w{i:02d}" for i in range(30))
    stored = " ".join(f"s{i:02d}" for i in range(30))
    store = spark.createDataFrame(
        [(100, base), (101, stored)], "doc_id long, text string"
    )
    near_stored = " ".join(stored.split()[:-1] + ["zz"])     # ~store doc 101
    near_of_near = " ".join(stored.split()[:-1] + ["qq"])    # ~near_stored (and ~store)
    delta = spark.createDataFrame(
        [
            (1, base.upper() + "?!", "s"),     # exact dup of store doc 100:
                                               # the fingerprint lowers case and
                                               # strips punctuation
            (2, stored, "s"),                  # exact dup of store (same fp)
            (3, near_stored, "s"),             # near dup of store (signature est)
            (4, near_of_near, "s"),            # chains to store through 3's component
            (5, " ".join(["spam"] * 10), "s"), # low quality
            (6, " ".join(f"u{i:02d}" for i in range(20)), "s"),  # kept
            (7, None, "s"),                    # null text -> low_quality
        ],
        "doc_id long, text string, source string",
    )
    out = curation_delta(
        delta,
        seen_fingerprints=exact_duplicates(store).select("fingerprint"),
        corpus_sigs=minhash_signatures(store, num_hashes=64, k=3),
    )
    by_id = {r["doc_id"]: r["stage"] for r in out.collect()}
    assert by_id == {
        1: "exact_dup",     # fingerprint normalizes case/punctuation
        2: "exact_dup",
        3: "near_dup",      # store sentinel component
        4: "near_dup",      # connected to the store THROUGH doc 3
        5: "low_quality",
        6: "kept",
        7: "low_quality",   # null text never kept
    }
    # fingerprint rides the output for store maintenance
    fps = {r["doc_id"]: r["fingerprint"] for r in out.collect()}
    assert fps[6] is not None and fps[7] is None


def test_curation_delta_with_empty_state_equals_batch_recipe(spark, sf_dir):
    """Invariant tying the two curation forms together: a delta curated
    against an EMPTY store must produce exactly the batch recipe's
    verdicts (no store fingerprints -> the exact stage is the in-batch
    window; no store signatures -> the pair graph is within-batch only;
    same quality gate). Run over the fixture corpus so the equivalence
    is exercised on real near-dup/quality structure, not a toy."""
    from extract_transform_load_spark.operators.curation import (
        curation_delta,
        curation_stages,
    )
    from extract_transform_load_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    batch = {
        r["doc_id"]: r["stage"] for r in curation_stages(docs).collect()
    }
    empty_fps = spark.createDataFrame([], "fingerprint string")
    empty_sigs = spark.createDataFrame([], "doc_id long, signature array<bigint>")
    delta = {
        r["doc_id"]: r["stage"]
        for r in curation_delta(docs, empty_fps, empty_sigs).collect()
    }
    assert batch == delta


def test_semantic_delta_hand_checked(spark):
    """semantic_delta on planted vectors: a store hit, a transitive
    chain (B ~ A-in-store-hit's component), a within-batch pair (min id
    keeps), an unblocked (different-label) lookalike that must survive,
    and the NULL max_store_sim contract for a block with no store
    vectors."""
    from extract_transform_load_spark.operators.curation import semantic_delta

    def v(*coords):
        out = [0.0] * 8
        for i, x in enumerate(coords):
            out[i] = float(x)
        return out

    store = spark.createDataFrame(
        [(100, "a", v(1, 0)), (101, "a", v(0, 1))],
        "vec_id long, label string, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [
            (1, "a", v(0.9, 0.436)),   # cos 0.9 vs store 100 -> direct hit
            (2, "a", v(0.7, 0.714)),   # diagonal: cos ~0.70/0.71 vs BOTH
                                       # store vectors (no direct hit) but
                                       # cos ~0.94 vs doc 1 -> drops ONLY
                                       # through the chain
            (3, "a", v(-1, 1)),        # far from everything -> kept
            (4, "b", v(1, 0)),         # same direction as store 100 but
                                       # label-blocked -> kept, NULL sim
                                       # (no label-b store vectors)
            (5, "a", v(0, 0, 1)),      # kept; batch-pairs with 6
            (6, "a", v(0, 0, 0.99, 0.01)),  # ~5 -> batch dup (5 keeps)
        ],
        "vec_id long, label string, embedding array<float>",
    )
    out = semantic_delta(delta, store, threshold=0.8, block_col="label")
    rows = {r["vec_id"]: r for r in out.collect()}
    assert {k: r["stage"] for k, r in rows.items()} == {
        1: "semantic_dup", 2: "semantic_dup", 3: "kept",
        4: "kept", 5: "kept", 6: "semantic_dup",
    }
    assert rows[4]["max_store_sim"] is None  # no store vector shares label b
    assert rows[1]["max_store_sim"] >= 0.79
    assert rows[2]["max_store_sim"] < 0.8    # proves 2 dropped via the chain


def test_semantic_delta_prefilter_equals_exact(spark):
    """The escalation path the unblocked cap advertises (r9 verdict
    ranked task 6): prefilter='lsh' and prefilter='ivf' must agree with
    the EXACT unblocked form on a fixture where prefilter recall is
    provably 1.0 — all >= threshold pairs are bit-identical vectors
    (identical sign signatures in every band; identical cell
    assignments for any centroid draw)."""
    from extract_transform_load_spark.operators.curation import semantic_delta

    def v(*coords):
        out = [0.0] * 8
        for i, x in enumerate(coords):
            out[i] = float(x)
        return out

    store = spark.createDataFrame(
        [(100, v(1, 0)), (101, v(0, 1)), (102, v(0, 0, 1)), (103, v(0.6, 0.8))],
        "vec_id long, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [
            (1, v(1, 0)),        # identical to store 100 -> semantic_dup
            (2, v(0, 0, 1)),     # identical to store 102 -> semantic_dup
            (3, v(-1, 0, 0, 1)), # below 0.9 vs everything -> kept
            (4, v(0, -1, 0, 0, 1)),  # kept
            (5, v(0, -1, 0, 0, 1)),  # identical to 4 -> within-batch dup
        ],
        "vec_id long, embedding array<float>",
    )
    expected = {1: "semantic_dup", 2: "semantic_dup", 3: "kept",
                4: "kept", 5: "semantic_dup"}
    exact = semantic_delta(delta, store, threshold=0.9)
    assert {r["vec_id"]: r["stage"] for r in exact.collect()} == expected
    lsh = semantic_delta(delta, store, threshold=0.9, prefilter="lsh", dim=8)
    assert {r["vec_id"]: r["stage"] for r in lsh.collect()} == expected
    ivf = semantic_delta(
        delta, store, threshold=0.9, prefilter="ivf", dim=8,
        ivf_centroids=3, ivf_probe=2,
    )
    assert {r["vec_id"]: r["stage"] for r in ivf.collect()} == expected
    # identical pairs are ALWAYS candidates, so their candidate-max is
    # the exact max (cos 1.0); sub-threshold rows may see fewer
    # candidates, which is the documented semantics
    by = {r["vec_id"]: r["max_store_sim"] for r in lsh.collect()}
    assert by[1] is not None and by[1] > 0.999
    assert by[2] is not None and by[2] > 0.999


def test_semantic_delta_recall_audit_counts_and_floor(spark):
    """q159's operator (r10 verdict ranked task 4): the audit's counts
    must equal a direct recomputation from the two semantic_delta
    forms, subset_ok is structurally TRUE, and the floor boolean flips
    exactly at the measured recall."""
    from extract_transform_load_spark.operators.curation import (
        semantic_delta,
        semantic_delta_recall_audit,
    )

    # near-duplicate (NOT identical) perturbed copies — q159's fixture
    # shape in miniature: zero the first coordinate of every store
    # vector
    base = [
        [3.0, 1.0, 0.5, 2.0], [1.0, 4.0, 0.0, 1.0],
        [0.5, 0.5, 3.0, 1.0], [2.0, 0.0, 1.0, 3.0],
    ]
    store = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [(i, [0.0] + v[1:]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    kw = dict(threshold=0.8, dim=4, prefilter="lsh", lsh_bits=3, lsh_bands=4)
    row = semantic_delta_recall_audit(delta, store, min_recall=0.0, **kw).first()

    exact = semantic_delta(delta, store, threshold=0.8)
    pref = semantic_delta(
        delta, store, threshold=0.8, prefilter="lsh", dim=4,
        lsh_bits=3, lsh_bands=4,
    )
    ed = {r["vec_id"] for r in exact.collect() if r["stage"] == "semantic_dup"}
    pd_ = {r["vec_id"] for r in pref.collect() if r["stage"] == "semantic_dup"}
    assert row["prefilter"] == "lsh"
    assert row["n_delta"] == 4
    assert row["n_exact_dup"] == len(ed)
    assert ed  # non-vacuous: some perturbed copy clears 0.8
    assert row["subset_ok"] and pd_.issubset(ed)
    measured = len(pd_ & ed) / len(ed)
    assert abs(row["recall"] - measured) < 1e-9
    assert row["recall_ok"]  # floor 0.0 always passes
    # a floor strictly above the measured recall must flip the boolean
    over = semantic_delta_recall_audit(
        delta, store, min_recall=measured + 1e-6, **kw
    ).first()
    assert not over["recall_ok"]

    # no exact dups at an unreachable threshold -> recall defined 1.0
    none = semantic_delta_recall_audit(
        delta, store, threshold=0.999999, dim=4, prefilter="lsh",
        min_recall=0.9, lsh_bits=3, lsh_bands=4,
    ).first()
    assert none["n_exact_dup"] == 0
    assert none["recall"] == 1.0 and none["recall_ok"] and none["subset_ok"]


def test_semantic_delta_prefilter_bypasses_cap_and_validates(spark):
    """A prefiltered call's pair space is bounded by the bucket
    structure, so the unblocked cap must NOT fire; prefilter+block_col
    is a contract error, as is prefilter without dim."""
    import pytest

    from extract_transform_load_spark.operators.curation import semantic_delta

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    store = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    # 6 rows > cap 5, but prefiltered -> runs
    out = semantic_delta(
        vecs, store, max_unblocked_delta=5, prefilter="lsh", dim=2
    )
    assert out.count() == 6
    with pytest.raises(ValueError, match="not both"):
        semantic_delta(vecs, store, block_col="label", prefilter="lsh", dim=2)
    with pytest.raises(ValueError, match="requires dim"):
        semantic_delta(vecs, store, prefilter="lsh")
    with pytest.raises(ValueError, match="prefilter must be"):
        semantic_delta(vecs, store, prefilter="annoy", dim=2)


def test_delta_operators_reject_negative_ids(spark):
    """The -1 store sentinel must sort below every real id; a negative
    id would silently become its component's keeper and flip a dup
    verdict to kept — so both delta operators verify the data, not just
    the column type (review r8)."""
    import pytest

    from extract_transform_load_spark.operators.curation import (
        curation_delta,
        semantic_delta,
    )

    docs = spark.createDataFrame(
        [(-2, "some text here", "s")], "doc_id long, text string, source string"
    )
    fps = spark.createDataFrame([], "fingerprint string")
    sigs = spark.createDataFrame([], "doc_id long, signature array<bigint>")
    with pytest.raises(ValueError, match="negative ids"):
        curation_delta(docs, fps, sigs)

    vecs = spark.createDataFrame(
        [(-2, "a", [1.0, 0.0])], "vec_id long, label string, embedding array<float>"
    )
    store = spark.createDataFrame(
        [(100, "a", [0.0, 1.0])], "vec_id long, label string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="negative ids"):
        semantic_delta(vecs, store, block_col="label")


def test_semantic_delta_unblocked_cap_fails_loud(spark):
    """block_col=None schedules an honest |delta|^2 crossJoin — past
    the cap it must raise with advice, never silently run (the sibling
    pagerank/fuzzy_pairs cap discipline; r8 judge find)."""
    import pytest

    from extract_transform_load_spark.operators.curation import semantic_delta

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)], "vec_id long, embedding array<float>"
    )
    store = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="max_unblocked_delta"):
        semantic_delta(vecs, store, max_unblocked_delta=5)
    # at the cap it runs (and the blocked form never counts at all)
    out = semantic_delta(vecs, store, max_unblocked_delta=6)
    assert out.count() == 6


def test_semantic_delta_releases_its_cache(spark):
    """The internal store-similarity persist must be GONE when the call
    returns: a per-microbatch caller (streaming semantic_sink) would
    otherwise accrete one pinned frame per batch (r8 judge find). The
    SQL CacheManager is the observable: persist registers there,
    localCheckpoint does not."""
    from extract_transform_load_spark.operators.curation import semantic_delta

    spark.catalog.clearCache()
    store = spark.createDataFrame(
        [(100, "a", [1.0, 0.0])], "vec_id long, label string, embedding array<float>"
    )
    delta = spark.createDataFrame(
        [(1, "a", [0.9, 0.1]), (2, "a", [0.0, 1.0])],
        "vec_id long, label string, embedding array<float>",
    )
    for _ in range(3):  # the soak shape: repeated per-batch calls
        out = semantic_delta(delta, store, threshold=0.8, block_col="label")
        assert out.count() == 2
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# Model-based quality filtering (round 8): hashed classifier + backoff LM
# ---------------------------------------------------------------------------


def test_quality_classifier_forms_are_row_for_row_equal(spark, docs):
    """The broadcast-join (oracle) and literal-array (production) scoring
    forms must agree EXACTLY — same decimal model values, order-free
    decimal sums. A drift here means the 100 TB plan silently diverges
    from the plan the gate checks."""
    from extract_transform_load_spark.operators.quality_model import (
        learn_log_odds,
        score_hashed,
        score_hashed_local,
    )

    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    w = learn_log_odds(docs, pos)
    ref = {r["doc_id"]: r for r in score_hashed(docs, w).collect()}
    loc = {r["doc_id"]: r for r in score_hashed_local(docs, w).collect()}
    assert set(ref) == set(loc) and len(ref) == docs.count()
    for k, a in ref.items():
        b = loc[k]
        assert (a["n_features"], a["clf_score"], a["keep"]) == (
            b["n_features"],
            b["clf_score"],
            b["keep"],
        ), (a, b)


def test_quality_classifier_production_form_has_no_shuffle(spark, sf_dir):
    """score_hashed_local is scan-local: no Exchange anywhere in its plan."""
    from extract_transform_load_spark.operators.quality_model import (
        learn_log_odds,
        score_hashed_local,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = learn_log_odds(docs, F.col("lang") == "en")
    plan = score_hashed_local(docs, w)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_quality_classifier_separates_the_seed_slice(docs):
    """Sanity on the model's direction: the positive-labeled slice must
    score higher on average than the rest (it defines the target)."""
    from extract_transform_load_spark.operators.quality_model import (
        learn_log_odds,
        score_hashed,
    )

    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    w = learn_log_odds(docs, pos)
    scored = score_hashed(docs, w).join(
        docs.select("doc_id", pos.alias("is_pos")), "doc_id"
    )
    means = (
        scored.groupBy("is_pos").agg(F.avg("clf_score").alias("m")).collect()
    )
    by = {r["is_pos"]: r["m"] for r in means}
    assert by[True] > by[False], by


def test_hashed_features_single_word_doc_has_no_bigrams(spark):
    from extract_transform_load_spark.operators.quality_model import hashed_features

    df = spark.createDataFrame([("solo",), ("two words",)], "text string")
    sizes = [r[0] for r in df.select(F.size(hashed_features(F.col("text")))).collect()]
    assert sizes == [1, 3]  # 1 unigram; 2 unigrams + 1 bigram


def test_backoff_bigram_lm_terms_partition_correctly(docs):
    """Context hits score via ln(c12/c1); everything else via the
    unigram backoff — per-doc hit counts bounded by bigram counts, and
    a doc made ONLY of the corpus's hottest bigram must out-score a doc
    of the same words in context-breaking order."""
    from extract_transform_load_spark.operators.quality_model import (
        learn_backoff_bigram,
        score_backoff_bigram,
    )

    blp, ulp = learn_backoff_bigram(docs)
    out = score_backoff_bigram(docs, blp, ulp)
    rows = out.collect()
    assert rows and all(0 <= r["n_context_hits"] <= r["n_bigrams"] for r in rows)
    assert all(r["avg_logprob"] < 0 for r in rows)

    top = blp.orderBy(F.col("lp").desc()).limit(1).collect()[0]
    w1, w2 = top["w1"], top["w2"]
    spark = docs.sparkSession
    probe = spark.createDataFrame(
        [(1, f"{w1} {w2} {w1} {w2} {w1} {w2}"), (2, f"{w2} {w2} {w1} {w1} {w2} {w1}")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in score_backoff_bigram(probe, blp, ulp).collect()}
    assert got[1]["n_context_hits"] >= 3
    assert got[1]["avg_logprob"] > got[2]["avg_logprob"], got


def test_hard_negatives_exclude_same_label_and_rank_correctly(emb):
    from extract_transform_load_spark.operators.similarity import (
        cosine_topk_bruteforce,
        hard_negative_topk,
    )

    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    out = hard_negative_topk(emb, probes, k=10).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.filter(F.col("vec_id") < 5).collect()}
    assert len(out) == 5 * 10
    per_q = {}
    for r in out:
        assert r["neighbor_label"] != labels[r["query_id"]]
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, 11))
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)

    # Consistency with the unfiltered exact search: any top-10 overall
    # neighbor that HAS a different label must appear here with >= rank.
    exact = cosine_topk_bruteforce(emb, probes, k=10).collect()
    hard = {(r["query_id"], r["neighbor_id"]) for r in out}
    nl = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in exact:
        if nl[r["neighbor_id"]] != labels[r["query_id"]]:
            assert (r["query_id"], r["neighbor_id"]) in hard


def test_curation_model_stage_composes_with_correct_precedence(docs, spark):
    """The opt-in classifier stage: disabled-by-default output is
    byte-identical to the historical recipe; enabled, model_filtered
    applies ONLY to docs every earlier stage kept, and the production
    composition adds ZERO exchanges to the plan (the score is a literal
    array inside the same scan projection)."""
    from extract_transform_load_spark.operators.curation import (
        curation_report,
        curation_stages,
    )
    from extract_transform_load_spark.operators.quality_model import (
        collect_weights,
        learn_log_odds,
    )

    base = {r["doc_id"]: r["stage"] for r in curation_stages(docs).collect()}

    w = collect_weights(learn_log_odds(docs, F.col("source").isin("src0", "src1")))
    # threshold above every score: every previously-kept doc must flip
    gated = curation_stages(docs, model_weights=w, model_threshold=1e9)
    got = {r["doc_id"]: r["stage"] for r in gated.collect()}
    assert set(got) == set(base)
    for k, s in base.items():
        assert got[k] == ("model_filtered" if s == "kept" else s), (k, s, got[k])

    # plan parity: enabling the stage adds no Exchange. Compare
    # pure (uncached) plans — the default persist substitutes
    # InMemoryRelation subtrees at different times for the two builds
    # and makes raw Exchange counts incomparable.
    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    n_ex_base = n_exchanges(curation_stages(docs, cache_drop_list=False))
    n_ex_gated = n_exchanges(
        curation_stages(
            docs, cache_drop_list=False, model_weights=w, model_threshold=1e9
        )
    )
    assert n_ex_gated == n_ex_base

    rep = curation_report(gated, include_model=True).collect()
    for r in rep:
        assert (
            r["n_input"]
            == r["n_exact_dropped"] + r["n_neardup_dropped"]
            + r["n_quality_dropped"] + r["n_model_dropped"] + r["n_kept"]
        )


def test_curation_model_stage_threshold_zero_matches_classifier_keep(docs):
    """At the default threshold the stage agrees with q134's keep bit on
    every doc that reaches it."""
    from extract_transform_load_spark.operators.curation import curation_stages
    from extract_transform_load_spark.operators.quality_model import (
        collect_weights,
        learn_log_odds,
        score_hashed,
    )

    wdf = learn_log_odds(docs, F.col("source").isin("src0", "src1", "src2", "src3"))
    w = collect_weights(wdf)
    gated = curation_stages(docs, model_weights=w)
    keep = {r["doc_id"]: r["keep"] for r in score_hashed(docs, wdf).collect()}
    for r in gated.collect():
        if r["stage"] in ("kept", "model_filtered"):
            assert (r["stage"] == "kept") == keep[r["doc_id"]], r


def test_fused_doc_state_replays_learn_score_and_stages_byte_identical(spark, docs):
    """The r12 scan fusion (q134/q137): learning weights and scoring
    from the per-doc feature HISTOGRAM state must be byte-identical to
    the text-scan forms — the integer counts are the occurrence counts,
    and the decimal sum over (weight_b * count_b) is exactly the
    per-occurrence decimal sum. Exercised on the real fixture corpus
    PLUS planted corner docs (null text -> null score/absent row; a
    one-word doc -> no bigrams)."""
    from extract_transform_load_spark.operators.curation import (
        curation_doc_state,
        curation_stages,
    )
    from extract_transform_load_spark.operators.quality_model import (
        collect_weights,
        featurized_doc_state,
        learn_log_odds,
        learn_log_odds_from_state,
        score_hashed,
        score_hashed_from_state,
    )

    corner = spark.createDataFrame(
        [
            (900001, None, "en", "srcX", 0),     # null text
            (900002, "solo", "en", "src0", 4),   # single word: no bigrams
            (900003, "a b a b a", "en", "src1", 9),  # repeated features
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(corner.select(*docs.columns))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")

    state = featurized_doc_state(corpus, pos, passthrough_cols=())
    w_old_df = learn_log_odds(corpus, pos)
    w_new_df = learn_log_odds_from_state(state)
    w_old = w_old_df.orderBy("bucket").collect()
    w_new = w_new_df.orderBy("bucket").collect()
    assert len(w_old) == 256 and w_old == w_new  # decimal-exact equality

    s_old = score_hashed(corpus, w_old_df).orderBy("doc_id").collect()
    s_new = score_hashed_from_state(state, w_new_df).orderBy("doc_id").collect()
    assert len(s_old) > 0 and _rows_bitwise_equal(s_old, s_new)
    # the null-text doc is absent from BOTH (no feature rows)
    assert all(r["doc_id"] != 900001 for r in s_new)

    # curation_stages(doc_state=...) == the text-scan path, byte for byte
    w = collect_weights(w_old_df)
    cstate = curation_doc_state(corpus, pos)
    a = curation_stages(
        corpus, model_weights=w, model_threshold=0.0
    ).orderBy("doc_id").collect()
    b = curation_stages(
        corpus, model_weights=w, model_threshold=0.0, doc_state=cstate
    ).orderBy("doc_id").collect()
    assert len(a) == corpus.count() and a == b
    # and the fused q137 registered form agrees with the unfused recipe
    from extract_transform_load_spark.operators.curation import curation_report

    rep_a = curation_report(
        curation_stages(corpus, model_weights=w, model_threshold=0.0),
        include_model=True,
    ).orderBy("source").collect()
    rep_b = curation_report(
        curation_stages(
            corpus, model_weights=w, model_threshold=0.0, doc_state=cstate
        ),
        include_model=True,
    ).orderBy("source").collect()
    assert rep_a == rep_b


def test_score_hashed_from_state_rejects_sparse_weights(spark):
    """score_hashed_from_state counts every feature occurrence, so it
    only agrees with score_hashed on dense weights: a filtered weights
    frame must raise, not score silently."""
    from extract_transform_load_spark.operators.quality_model import (
        featurized_doc_state,
        learn_log_odds_from_state,
        score_hashed_from_state,
    )

    docs = spark.createDataFrame(
        [(1, "a b a", "src0"), (2, "c d", "srcX")],
        "doc_id long, text string, source string",
    )
    state = featurized_doc_state(docs, F.col("source") == "src0")
    weights = learn_log_odds_from_state(state)
    assert score_hashed_from_state(state, weights).count() == 2
    with pytest.raises(ValueError, match="dense weights"):
        score_hashed_from_state(state, weights.filter(F.col("bucket") < 128))


def test_tf_cosine_catches_word_order_shuffles_jaccard_misses(spark):
    """The q138 differentiator: a word-order-shuffled duplicate keeps an
    identical TF vector (cosine 1.0) but destroys 3-gram shingles —
    ngram_jaccard_pairs produces NO pair for it."""
    from extract_transform_load_spark.operators.dedup import (
        ngram_jaccard_pairs,
        tf_cosine_pairs,
    )

    base = [f"w{i:02d}" for i in range(24)]
    shuffled = base[::-1]
    filler = [
        (10 + i, " ".join(f"x{i}{j:02d}" for j in range(24)))
        for i in range(3)
    ]
    docs = spark.createDataFrame(
        [(1, " ".join(base * 2)), (2, " ".join(shuffled * 2)), *filler],
        "doc_id bigint, text string",
    )
    cos = {(r["doc_a"], r["doc_b"]): r["cos_sim"]
           for r in tf_cosine_pairs(docs, min_cos=0.6).collect()}
    # 1.0 up to one sqrt rounding (dot/(sqrt(ss)*sqrt(ss)) can land one
    # ulp above 1 when ss is not a perfect square)
    assert cos.get((1, 2)) is not None and abs(cos[(1, 2)] - 1.0) < 1e-12, cos
    jac = {(r["doc_a"], r["doc_b"])
           for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) not in jac


def test_tf_cosine_df_cut_bounds_posting_lists(spark, docs):
    """Terms outside [df_min, df_max] never reach the self-join: with
    df_max=1 no pairs at all; and pair scores are symmetric-bounded."""
    from extract_transform_load_spark.operators.dedup import tf_cosine_pairs

    assert tf_cosine_pairs(docs, df_min=2, df_max=1).count() == 0
    rows = tf_cosine_pairs(docs).collect()
    assert all(0.6 <= r["cos_sim"] <= 1.0 + 1e-12 for r in rows)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_ivf_hard_negatives_recall_and_label_exclusion(emb):
    """The IVF form never returns a same-label vector, returns full
    result sets, and recalls >= 0.8 of the exact hard-negative top-10
    per anchor at the q54 index settings."""
    from extract_transform_load_spark.operators.similarity import (
        hard_negative_topk,
        ivf_hard_negatives,
    )

    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    ann = ivf_hard_negatives(emb, probes, dim=64, k=10, n_centroids=16, n_probe=8)
    rows = ann.collect()
    labels = {r["vec_id"]: r["label"] for r in emb.filter(F.col("vec_id") < 5).collect()}
    assert len(rows) == 50
    assert all(r["neighbor_label"] != labels[r["query_id"]] for r in rows)

    exact = hard_negative_topk(emb, probes, k=10, query_id_col="query_id").collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid, exact_ids in ex.items():
        recall = len(got[qid] & exact_ids) / len(exact_ids)
        assert recall >= 0.8, (qid, recall)


def test_epoch_shard_plan_permutes_differently_per_epoch(docs, spark):
    """Epochs produce different orders; each epoch is reproducible; pos
    is dense [0, shard_size) within every shard; and the plan sorts
    per-shard, never globally."""
    from extract_transform_load_spark.operators.sampling import epoch_shard_plan

    e1 = epoch_shard_plan(docs, "doc_id", epoch=1, n_shards=16)
    e2 = epoch_shard_plan(docs, "doc_id", epoch=2, n_shards=16)
    r1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in e1.collect()}
    r1b = {r["doc_id"]: (r["shard"], r["pos"]) for r in e1.collect()}
    r2 = {r["doc_id"]: (r["shard"], r["pos"]) for r in e2.collect()}
    assert r1 == r1b  # reproducible
    assert r1 != r2  # epoch changes the permutation
    assert set(r1) == set(r2)  # membership never changes

    by_shard = {}
    for shard, pos in r1.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard

    plan = e1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan  # no global sort


def test_learn_log_odds_hash_sample_form(docs):
    """The 100 TB learn form: weights fitted from a deterministic
    id-hash sample are dense, reproducible, and directionally agree
    with the full-corpus model (positive-slice mean stays higher)."""
    from extract_transform_load_spark.operators.quality_model import (
        collect_weights,
        learn_log_odds,
        score_hashed,
    )

    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    w1 = learn_log_odds(docs, pos, sample_out_of_256=128)
    w2 = learn_log_odds(docs, pos, sample_out_of_256=128)
    a1, a2 = collect_weights(w1), collect_weights(w2)
    assert a1 == a2  # deterministic sample -> identical model
    assert len(a1) == 256

    scored = score_hashed(docs, w1).join(
        docs.select("doc_id", pos.alias("is_pos")), "doc_id"
    )
    by = {
        r["is_pos"]: r["m"]
        for r in scored.groupBy("is_pos").agg(F.avg("clf_score").alias("m")).collect()
    }
    assert by[True] > by[False], by

    import pytest

    with pytest.raises(ValueError):
        learn_log_odds(docs, pos, sample_out_of_256=0)


# ---------------------------------------------------------------------------
# Z-order layout keys (round 9): operators/zorder.py
# ---------------------------------------------------------------------------


class TestZorder:
    def _keyed(self, spark, rows, cols, bits, **kw):
        from extract_transform_load_spark.operators.zorder import zorder_key

        schema = ", ".join(f"{c} double" for c in ["x", "y", "w"][: len(cols)])
        df = spark.createDataFrame(rows, f"rid bigint, {schema}")
        return {
            r["rid"]: r["zval"]
            for r in zorder_key(df, cols, bits=bits, **kw).collect()
        }

    def test_two_bit_curve_hand_checked(self, spark):
        # bits=1, 2 cols: the four corners land on the canonical
        # 1-level z curve (x contributes bit 0, y bit 1). Linear mode:
        # the exact-arithmetic hand check (quantile edges on a 2-point
        # distribution are sketch-placement-dependent by design)
        rows = [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 0.0, 1.0), (3, 1.0, 1.0)]
        got = self._keyed(spark, rows, ["x", "y"], bits=1, quantize="linear")
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_dominance_is_monotone(self, spark):
        # a row >= another in EVERY dimension never gets a smaller key
        import random

        rng = random.Random(7)
        rows = [
            (i, float(rng.randint(0, 100)), float(rng.randint(0, 100)))
            for i in range(60)
        ]
        got = self._keyed(spark, rows, ["x", "y"], bits=6)
        by = {r[0]: (r[1], r[2]) for r in rows}
        for a in by:
            for b in by:
                if by[a][0] <= by[b][0] and by[a][1] <= by[b][1]:
                    assert got[a] <= got[b]

    def test_null_and_constant_columns(self, spark):
        from extract_transform_load_spark.operators.zorder import zorder_key

        df = spark.createDataFrame(
            [(1, None, 5.0), (2, 0.0, 5.0), (3, 3.0, 5.0)],
            "rid bigint, x double, y double",
        )
        # linear mode: a constant column contributes bucket 0
        # everywhere and NULL quantizes to bucket 0 — exact zeros
        out = {
            r["rid"]: r["zval"]
            for r in zorder_key(df, ["x", "y"], bits=4, quantize="linear").collect()
        }
        assert out[1] == 0 and out[2] == 0 and out[3] > 0
        # quantile mode: a constant column contributes the SAME bucket
        # to every row (locality unaffected), NULLs sort first — the
        # ordering invariant is what matters for layout
        q = {r["rid"]: r["zval"] for r in zorder_key(df, ["x", "y"], bits=4).collect()}
        assert q[1] < q[2] < q[3]

    def test_skewed_column_quantile_spreads_linear_collapses(self, spark):
        # THE reason quantile is the default (VERDICT r9 "What's wrong"
        # #2): on a power-law column, linear min/max buckets collapse —
        # most rows land in a handful of buckets and z-locality dies —
        # while equal-mass rank buckets keep every bucket ~1/k of the
        # rows. 7 decades of magnitude, ~uniform mass per decade:
        rows = [(i, float(10 ** (i % 7))) for i in range(700)]
        lin = self._keyed(spark, rows, ["x"], bits=8, quantize="linear")
        qnt = self._keyed(spark, rows, ["x"], bits=8)

        def top_share(keys):
            from collections import Counter

            counts = Counter(keys.values())
            return max(counts.values()) / len(keys), len(counts)

        lin_share, lin_distinct = top_share(lin)
        qnt_share, qnt_distinct = top_share(qnt)
        # linear: decades 1..10^3 all quantize to bucket 0 of 256
        # (10^3/10^6 * 256 < 1) -> >half the rows share one key
        assert lin_share > 0.5, (lin_share, lin_distinct)
        # quantile: every decade gets its own rank bucket
        assert qnt_distinct == 7 and qnt_share < 0.2, (qnt_share, qnt_distinct)

    def test_validation(self, spark):
        import pytest

        from extract_transform_load_spark.operators.zorder import zorder_key

        df = spark.createDataFrame([(1, 2.0)], "rid bigint, x double")
        with pytest.raises(ValueError, match="at least one"):
            zorder_key(df, [])
        with pytest.raises(ValueError, match="int64"):
            zorder_key(df, ["x"], bits=63)

    def test_quantile_sketch_is_one_job_for_any_key_width(self, spark):
        # ADVICE r10 / VERDICT r10 wrong #1: the quantile edges for ALL
        # clustered columns must come from ONE multi-column
        # approxQuantile scan (StatFunctions.multipleApproxQuantiles),
        # not len(cols) separate full passes — at 100 TB a 3-column key
        # costing 3 extra table scans contradicts the module's
        # one-bounded-driver-pass contract. Pin it by counting the
        # Spark jobs the key build launches under a dedicated job
        # group: the same count for a 1-column key and a 3-column key
        # (approxQuantile's internals may use a fixed handful of jobs —
        # treeAggregate levels — but the count must not scale with
        # len(cols), which is what the old per-column loop did).
        from extract_transform_load_spark.operators.zorder import zorder_key

        df = spark.range(2000).selectExpr(
            "id as rid",
            "cast(id % 97 as double) as x",
            "cast(id % 31 as double) as y",
            "cast(id % 7 as double) as z",
        )
        sc = spark.sparkContext

        def jobs_for(group, cols):
            sc.setJobGroup(group, "zorder quantile sketch")
            try:
                out = zorder_key(df, cols, bits=4)
            finally:
                sc.setJobGroup("", "")
            return out, len(sc.statusTracker().getJobIdsForGroup(group))

        _, one_col = jobs_for("zq_w1", ["x"])
        out, three_col = jobs_for("zq_w3", ["x", "y", "z"])
        assert three_col == one_col, (
            f"quantile sketch launched {three_col} jobs for 3 columns vs "
            f"{one_col} for 1 — the scan count must not scale with key width"
        )
        # and the key itself still works end to end
        assert out.select("zval").distinct().count() > 1

    def test_quantile_multi_column_matches_per_column_edges(self, spark):
        # the single-pass refactor must not change the KEY: recompute
        # each column's edges the old one-column-at-a-time way and
        # rebuild the bucket expression — byte-equal zval out
        import pyspark.sql.functions as F

        from extract_transform_load_spark.operators.zorder import (
            _bucket_quantile,
            zorder_key,
        )

        df = spark.range(500).selectExpr(
            "id as rid",
            "cast(id * id % 101 as double) as x",
            "cast(id % 13 as double) as y",
        )
        bits, levels = 4, 16
        probes = [i / levels for i in range(1, levels)]
        z = F.lit(0).cast("bigint")
        for i, c in enumerate(["x", "y"]):
            edges = sorted(
                set(
                    df.select(F.col(c).cast("double").alias("__q"))
                    .stat.approxQuantile("__q", probes, 0.01)
                )
            )
            b = _bucket_quantile(F.col(c), edges)
            for j in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(b, j).bitwiseAND(F.lit(1)), j * 2 + i
                    )
                )
        old = {r["rid"]: r["z"] for r in df.select("rid", z.alias("z")).collect()}
        new = {
            r["rid"]: r["zval"]
            for r in zorder_key(df, ["x", "y"], bits=bits).collect()
        }
        assert old == new

    def test_plan_is_scan_local(self, spark):
        # after the one min/max job, the key is a pure projection:
        # no Exchange anywhere in the returned plan
        from extract_transform_load_spark.operators.zorder import zorder_key

        df = spark.range(100).selectExpr(
            "id as rid", "cast(id % 10 as double) as x", "cast(id as double) as y"
        )
        out = zorder_key(df, ["x", "y"], bits=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_write_zordered_locality(self, spark, tmp_path):
        # a 32x32 grid written in 8 z-ranges: every file covers a
        # narrow range of BOTH dimensions (the pruning property a
        # single-column sort cannot give) — range sampling is
        # approximate, so assert the average, generously
        from extract_transform_load_spark.operators.zorder import write_zordered

        rows = [(i, float(i % 32), float(i // 32)) for i in range(1024)]
        df = spark.createDataFrame(rows, "rid bigint, x double, y double")
        path = str(tmp_path / "zorder")
        write_zordered(df, path, ["x", "y"], bits=5, partitions=8)

        import pyspark.sql.functions as F

        got = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("rx"),
                (F.max("y") - F.min("y")).alias("ry"),
            )
            .collect()
        )
        assert len(got) >= 4  # actually split across files
        avg_rx = sum(r["rx"] for r in got) / len(got)
        avg_ry = sum(r["ry"] for r in got) / len(got)
        assert avg_rx < 0.75 * 31 and avg_ry < 0.75 * 31
        # zval itself is dropped from the files
        assert "zval" not in spark.read.parquet(path).columns

    def test_write_zordered_skew_pruning_survives(self, spark, tmp_path):
        # the end-to-end form of the skew argument: on a power-law
        # column, the DEFAULT (quantile) layout keeps file-level
        # min/max footers useful — a head predicate (amount <= 20, the
        # bottom two decades, ~1/4 of rows) touches ~sqrt(1/4) of the
        # files (the 2-D Morton locality law) — while the same write
        # under LINEAR quantization collapses 5 of 8 decades into
        # Morton bucket 0, so low-amount rows order purely by the
        # OTHER column and the head smears across essentially every
        # file (no pruning at all).
        import pyspark.sql.functions as F

        from extract_transform_load_spark.operators.zorder import write_zordered

        rows = [
            (i, float(10 ** (i % 8)) * (1 + (i % 13) / 13.0), float(i % 97))
            for i in range(4096)
        ]
        df = spark.createDataFrame(rows, "rid bigint, amount double, other double")

        def head_fraction(path):
            per_file = (
                spark.read.parquet(path)
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.min("amount").alias("lo"))
                .collect()
            )
            assert len(per_file) >= 8
            return sum(1 for r in per_file if r["lo"] <= 20.0) / len(per_file)

        qpath, lpath = str(tmp_path / "zq"), str(tmp_path / "zl")
        write_zordered(df, qpath, ["amount", "other"], bits=5, partitions=16)
        write_zordered(
            df, lpath, ["amount", "other"], bits=5, partitions=16,
            quantize="linear",
        )
        q_frac, l_frac = head_fraction(qpath), head_fraction(lpath)
        # linear: the head reaches (nearly) every file — footers useless
        assert l_frac > 0.85, (q_frac, l_frac)
        # quantile: a minority of files — near the sqrt(1/4) Morton bound
        assert q_frac <= 0.65, (q_frac, l_frac)

    def test_quantize_mode_validation(self, spark):
        import pytest

        from extract_transform_load_spark.operators.zorder import zorder_key

        df = spark.createDataFrame([(1, 2.0)], "rid bigint, x double")
        with pytest.raises(ValueError, match="quantize"):
            zorder_key(df, ["x"], quantize="ntile")
