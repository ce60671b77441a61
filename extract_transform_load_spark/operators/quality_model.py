"""Hashed-feature quality classifier: the fasttext-style model filter.

The reference pipeline scores documents with a linear classifier over
hashed word n-gram features (the CCNet / fasttext quality-filter shape;
q98's DSIR docstring promises exactly this as the 100 TB form: "hash
terms into B buckets first"). This module is that form:

* **Features** are unigrams plus adjacent-word bigrams, hashed into a
  FIXED bucket space (``hash_bucket`` — first md5 byte, engine-portable)
  — so the model table is ``n_buckets`` rows regardless of corpus size.
  No vocabulary join anywhere: at 100 TB a vocab table is billions of
  rows and its join a giant shuffle; a 256-slot weight array is 2 KB.
* **Learning** is one conditional aggregate over the hashed token
  stream (map-side combine collapses every partition to ≤ n_buckets
  rows before the exchange): add-one-smoothed log-odds of the
  positive-labeled slice vs the rest — a Naive-Bayes-style linear model,
  the deterministic stand-in for fasttext's SGD (which is not
  reproducible cross-engine and therefore not oracle-checkable).
* **Scoring** has two pinned-equal physical forms:
  ``score_hashed`` (explode + 256-row broadcast join — the
  oracle-checked reference form) and ``score_hashed_local`` (the
  production form: weights collected once into a literal array, the
  score computed scan-local inside codegen with a DECIMAL(38,12)
  accumulator — zero shuffle, zero join on the 100 TB side of the
  plan). Exact equality holds because both sum the SAME per-occurrence
  decimal-rounded weight and decimal addition is order-free;
  tests/test_datapipe.py pins it.

Cross-engine exactness follows the house discipline (q76/q98): weights
are doubles built from exact integer counts (IEEE division + ln agree
between DuckDB and the JVM at these magnitudes), rounded to
DECIMAL(38,12) BEFORE any per-doc summation, so the fold order never
touches the result.

Reference parity: extends the text-quality family
(operators/textops.py; reference scoring loop in filter.rs-style
pipelines) with the model-based stage those heuristics feed.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .sampling import hash_bucket
from .textops import words

DEFAULT_BUCKETS = 256
_WEIGHT_DECIMAL = "decimal(38,12)"


def hashed_features(text: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Bucket stream for a document: unigrams + adjacent bigrams.

    Returns ``array<int>`` of hash buckets, one entry per feature
    OCCURRENCE (multiplicity preserved — the model is count-based).
    Bigrams join with ``_`` so "a b" and the unigram "a_b" collide only
    by hash, never by construction. Scan-local: no shuffle, stays in
    whole-stage codegen.
    """
    toks = words(text)
    n = F.size(toks)
    bigrams = F.when(
        n > 1,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigrams)
    return F.transform(feats, lambda f: hash_bucket(f, n_buckets))


def _feature_rows(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) rows, one per feature occurrence."""
    return docs.select(
        F.col(id_col),
        F.explode(hashed_features(F.col(text_col), n_buckets)).alias("bucket"),
    )


def learn_log_odds(
    docs: DataFrame,
    positive: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    sample_out_of_256: int | None = None,
) -> DataFrame:
    """Per-bucket add-one-smoothed log-odds weights.

    ``positive`` is a boolean Column over ``docs`` (the weak label: a
    curated seed slice vs the rest). Returns (bucket int, weight
    decimal(38,12)) with EVERY bucket present (missing buckets get the
    pure-smoothing weight), so the scoring forms can index a dense
    array. One shuffle, pre-aggregated map-side to ≤ n_buckets rows.

    ``sample_out_of_256`` learns from a deterministic hash-sample of
    documents (keep where ``hash_bucket(id) < k``, i.e. k/256 of the
    corpus) — the realistic 100 TB form: 256 weights don't need a
    100 TB scan, and the id-hash sample is reproducible and stable
    under corpus growth (the q64 splits argument). The registered q134
    learns from the full fixture so its oracle stays a literal
    replication; production callers pass e.g. 8 (≈3%).
    """
    if sample_out_of_256 is not None:
        if not 1 <= sample_out_of_256 <= 256:
            raise ValueError("sample_out_of_256 must be in [1, 256]")
        from .sampling import hash_bucket as _hb

        docs = docs.filter(_hb(F.col(id_col), 256) < sample_out_of_256)
    # Deliberately NOT spread_small_scan'd (r11, measured): the feature
    # explode over a single-row-group fixture runs on one core, but the
    # work is ~1 s at sf0.1 and the repartition exchange + extra stage
    # cost more than the parallelism buys (A/B in one session: 1.0 s
    # without vs 1.9 s with). At warehouse scale the scan carries its
    # own parallelism, and the sampled form (sample_out_of_256) bounds
    # the learning pass anyway.
    labeled = docs.select(F.col(text_col), F.col(id_col), positive.alias("__pos"))
    feat = labeled.select(
        F.explode(hashed_features(F.col(text_col), n_buckets)).alias("bucket"),
        "__pos",
    )
    counts = feat.groupBy("bucket").agg(
        F.count(F.when(F.col("__pos"), 1)).alias("pos_cnt"),
        F.count(F.when(~F.col("__pos"), 1)).alias("neg_cnt"),
    )
    return _log_odds_from_counts(counts, docs.sparkSession, n_buckets)


def _log_odds_from_counts(counts: DataFrame, spark, n_buckets: int) -> DataFrame:
    """Shared tail of the two learning paths: densify the per-bucket
    (pos_cnt, neg_cnt) table over [0, n_buckets) and compute the
    add-one-smoothed log-odds. Both :func:`learn_log_odds` (occurrence
    rows from a text scan) and :func:`learn_log_odds_from_state`
    (histogram sums from the fused doc state) feed IDENTICAL integer
    counts in, so the weights are identical by construction."""
    all_buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        all_buckets.join(counts, "bucket", "left")
        .fillna(0, subset=["pos_cnt", "neg_cnt"])
        .crossJoin(
            F.broadcast(
                counts.agg(
                    F.sum("pos_cnt").alias("pos_tot"), F.sum("neg_cnt").alias("neg_tot")
                )
            )
        )
    )
    w = F.log(
        (F.col("pos_cnt").cast("double") + 1.0)
        / (F.col("pos_tot").cast("double") + float(n_buckets))
    ) - F.log(
        (F.col("neg_cnt").cast("double") + 1.0)
        / (F.col("neg_tot").cast("double") + float(n_buckets))
    )
    return dense.select("bucket", w.cast(_WEIGHT_DECIMAL).alias("weight"))


def featurized_doc_state(
    docs: DataFrame,
    positive: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough_cols=(),
    extra_cols: Sequence[Column] = (),
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """ONE corpus scan emitting the bounded per-doc model state (r12;
    guide §1.2/§4.2): everything the learn→score round trip needs,
    WITHOUT a second text read.

    Returns a lazily ``localCheckpoint``-ed frame with one row per doc:
    ``(id_col, *passthrough_cols, *extra_cols, __pos boolean,
    __nf bigint, __hb array<int>, __hc array<int>)`` where
    ``(__hb, __hc)`` is the feature-bucket HISTOGRAM (sorted distinct
    buckets + occurrence counts; NULL for null text, mirroring
    ``hashed_features``) and ``__nf`` is ``size(features)``. The
    histogram is the key move: the classifier score is
    ``sum_b(count_b * weight_b) / n_features`` — exactly (in DECIMAL
    arithmetic, bit-for-bit) the per-occurrence sum the scoring forms
    compute — so both the WEIGHT aggregation and the per-doc score can
    be replayed from ≤ ``n_buckets`` entries per doc instead of
    re-tokenizing the corpus. Previously ``learn_log_odds`` + any
    scorer meant two full text scans; at 100 TB the state is bounded
    (≤ 256 (int,int) entries/doc — never text, never the token-scale
    feature stream) and the corpus is read once.

    Metrics and the feature array are computed as JVM expressions in
    the scan projection (only the projected columns cross the Arrow
    boundary — text does not); the Python side only bincounts the
    in-flight feature array per doc (vectorized, no md5/tokenize
    replication, so there is no cross-language semantics risk). The
    checkpoint materializes on first use and is released with the
    frame (no unpersist bookkeeping).

    Caveats:

    - ``passthrough_cols`` and ``extra_cols`` cross the Arrow boundary
      through pandas, which mangles two kinds of value silently: a NaN
      double comes back as NULL, and a nullable integer travels as
      float64, so one above 2^53 loses precision. Neither may reach
      this function. The internal columns are safe (``n_words``,
      ``__ttr`` and ``__fp`` are never NaN, since ``words('')`` yields
      ``['']``).
    - the state is bounded by ``n_buckets``, not by the text, so on
      very short documents it approaches the text's own size: a doc of
      a few distinct words keeps one (int, int) histogram entry per
      word."""
    import numpy as np

    feats = hashed_features(F.col(text_col), n_buckets)
    sel = docs.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough_cols],
        *extra_cols,
        positive.alias("__pos"),
        F.size(feats).cast("bigint").alias("__nf"),
        feats.alias("__feats"),
    )
    out_fields = [f for f in sel.schema.fields if f.name != "__feats"]
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    ddl += ", __hb array<int>, __hc array<int>"

    def compute(batches):
        for pdf in batches:
            hb, hc = [], []
            for v in pdf["__feats"]:
                if v is None:
                    hb.append(None)
                    hc.append(None)
                    continue
                cnt = np.bincount(np.asarray(v, dtype=np.int64))
                nz = np.nonzero(cnt)[0]
                hb.append(nz.astype(np.int32))
                hc.append(cnt[nz].astype(np.int32))
            yield pdf.drop(columns=["__feats"]).assign(__hb=hb, __hc=hc)

    return sel.mapInPandas(compute, schema=ddl).localCheckpoint(eager=False)


def learn_log_odds_from_state(
    state: DataFrame, *, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """:func:`learn_log_odds` replayed from :func:`featurized_doc_state`
    — identical weights (pinned by test), zero text scans: the
    per-bucket pos/neg occurrence counts are sums of the per-doc
    histogram counts (integers — exactly the occurrence-row counts the
    text-scan form aggregates), and the densify/log/decimal tail is the
    shared :func:`_log_odds_from_counts`."""
    occ = state.select(
        "__pos",
        F.explode(F.arrays_zip(F.col("__hb"), F.col("__hc"))).alias("__e"),
    ).select(
        "__pos",
        F.col("__e.__hb").alias("bucket"),
        F.col("__e.__hc").alias("__cnt"),
    )
    counts = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("__pos"), F.col("__cnt")).otherwise(0)).alias("pos_cnt"),
        F.sum(F.when(~F.col("__pos"), F.col("__cnt")).otherwise(0)).alias("neg_cnt"),
    )
    return _log_odds_from_counts(counts, state.sparkSession, n_buckets)


def state_score_columns(
    weights: list, n_buckets: int = DEFAULT_BUCKETS
) -> tuple[Column, Column]:
    """(n_features, clf_score) computed from the state HISTOGRAM —
    bit-identical to :func:`local_score_columns` over the text: each
    term ``weight_b * count_b`` is an EXACT decimal(37,12) product of a
    decimal(26,12) weight and an int count, the accumulator casts are
    the same-scale no-rounding casts the per-occurrence form uses, and
    decimal addition is order-free exact — so the total equals the
    sequential per-occurrence sum as a rational number, hence as a
    decimal, hence as the final double. NULL histogram (null text)
    yields NULL score, exactly like ``aggregate`` over a NULL feature
    array."""
    if len(weights) != n_buckets:
        raise ValueError(f"expected {n_buckets} weights, got {len(weights)}")
    acc_t = "decimal(26,12)"
    warr = F.array(*[F.lit(v).cast(acc_t) for v in weights])
    total = F.aggregate(
        F.arrays_zip(F.col("__hb"), F.col("__hc")),
        F.lit(0).cast(acc_t),
        lambda acc, e: (
            acc + (F.element_at(warr, e["__hb"] + 1) * e["__hc"]).cast(acc_t)
        ).cast(acc_t),
    )
    n_feat = F.col("__nf")
    score = (total.cast("double") / n_feat).cast("double")
    return n_feat, score


def score_hashed_from_state(
    state: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """:func:`score_hashed` replayed from :func:`featurized_doc_state` —
    identical rows (pinned by test), zero text scans. The reference
    form's per-doc ``SUM(weight)`` over occurrence rows equals
    ``sum_b(weight_b * count_b)`` exactly in decimal: the weight is
    cast decimal(38,12)→(26,12) first (value-preserving — |weight| < 30
    — so the int product stays within precision 37 instead of
    triggering Spark's precision-loss scale reduction at 49), each
    product is exact, and the decimal sum is order-free. Docs with no
    feature rows (null text) are absent, exactly as the groupBy over
    zero exploded rows leaves them absent.

    ``weights`` must be dense: one row per bucket in [0, n_buckets), as
    the learners return it. ``n_features`` counts every occurrence, while
    the reference form's inner join counts only occurrences whose bucket
    has a weight, so a filtered weights frame would make the two forms
    disagree. Its row count is checked eagerly (one job) and a mismatch
    raises ``ValueError``."""
    n_weights = weights.count()
    if n_weights != n_buckets:
        raise ValueError(
            f"score_hashed_from_state needs dense weights: expected "
            f"{n_buckets} rows (one per bucket), got {n_weights}"
        )
    occ = state.select(
        F.col(id_col),
        F.col("__nf"),
        F.explode(F.arrays_zip(F.col("__hb"), F.col("__hc"))).alias("__e"),
    ).select(
        id_col,
        "__nf",
        F.col("__e.__hb").alias("bucket"),
        F.col("__e.__hc").alias("__cnt"),
    )
    scored = occ.join(
        F.broadcast(
            weights.select(
                "bucket", F.col("weight").cast("decimal(26,12)").alias("__w26")
            )
        ),
        "bucket",
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max("__nf").alias("n_features"),
            (
                F.sum(F.col("__w26") * F.col("__cnt")).cast("double")
                / F.max("__nf")
            )
            .cast("double")
            .alias("clf_score"),
        )
        .withColumn("keep", F.col("clf_score") > 0.0)
    )


def score_hashed(
    docs: DataFrame,
    weights: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Reference scoring form: explode features, broadcast-join weights.

    Returns (id, n_features bigint, clf_score double, keep boolean).
    ``clf_score`` is the mean per-occurrence log-odds; ``keep`` is the
    zero-threshold decision. The weight join is an ≤ n_buckets-row
    broadcast — never a shuffle of the corpus side beyond the per-doc
    regroup.
    """
    feat = _feature_rows(docs, text_col, id_col, n_buckets)
    scored = feat.join(F.broadcast(weights), "bucket")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_features"),
        (F.sum("weight").cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("clf_score"),
    ).withColumn("keep", F.col("clf_score") > 0.0)


def score_hashed_local(
    docs: DataFrame,
    weights: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Production scoring form: scan-local array lookup, zero shuffle.

    Collects the (tiny, dense) weight table ONCE into a literal
    ``array<decimal(38,12)>`` and scores each document inside the scan:
    ``aggregate`` over the feature buckets with a decimal accumulator —
    the exact same per-occurrence rounded weights ``score_hashed`` sums,
    so the two forms are equal row-for-row (pinned in tests). This is
    the 100 TB plan: the corpus never shuffles, never joins; the model
    rides along as 2 KB of literals inside whole-stage codegen.
    """
    arr = collect_weights(weights, n_buckets)
    n_feat, score = local_score_columns(F.col(text_col), arr, n_buckets)
    return docs.select(
        F.col(id_col),
        n_feat.alias("n_features"),
        score.alias("clf_score"),
        (score > 0.0).alias("keep"),
    )


def collect_weights(weights: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> list:
    """Materialize a dense (bucket, weight) table into a Python list —
    the frozen-model artifact the scan-local scorers embed as literals
    (and the form a streaming sink ships: learn offline once, score
    every microbatch with no model job)."""
    rows = weights.select("bucket", "weight").collect()
    arr = [None] * n_buckets
    for r in rows:
        arr[r["bucket"]] = r["weight"]
    if any(v is None for v in arr):
        raise ValueError("weights must be dense over [0, n_buckets)")
    return arr


def local_score_columns(
    text: Column, weights: list, n_buckets: int = DEFAULT_BUCKETS
) -> tuple[Column, Column]:
    """(n_features, clf_score) column pair, computed scan-local.

    Accumulator discipline: decimal(38,12)+decimal(38,12) is
    decimal(38,11) under Spark's precision-loss rule — one scale digit
    gone, and the scan-local form would drift from the broadcast-join
    form in the 12th decimal. decimal(26,12) terms add to (27,12)
    EXACTLY; the cast back to (26,12) is same-scale (no rounding,
    overflow only past 1e14 — a 6e12-token document at max |weight|,
    far beyond any real doc, and it would surface as NULL, not a silent
    wrong answer).
    """
    if len(weights) != n_buckets:
        raise ValueError(f"expected {n_buckets} weights, got {len(weights)}")
    acc_t = "decimal(26,12)"
    warr = F.array(*[F.lit(v).cast(acc_t) for v in weights])
    feats = hashed_features(text, n_buckets)
    total = F.aggregate(
        feats,
        F.lit(0).cast(acc_t),
        lambda acc, b: (acc + F.element_at(warr, b + 1)).cast(acc_t),
    )
    n_feat = F.size(feats).cast("bigint")
    score = (total.cast("double") / n_feat).cast("double")
    return n_feat, score


# ---------------------------------------------------------------------------
# Backoff bigram language model (the KenLM-style perplexity filter, with
# context). q76's unigram score ignores word order entirely; this model
# conditions on the previous word for the contexts that matter and backs
# off to the unigram everywhere else (Katz-style, fixed backoff mass).
#
# Design for 100 TB — and for cross-engine exactness, which here point the
# SAME way: the context table is capped at top-M bigrams, so
#   * the model is a bounded artifact (M rows) that BROADCASTS — scoring
#     never joins the corpus against its own full bigram table (that join
#     is the full token stream shuffled twice, and the table itself is
#     O(corpus) rows);
#   * every ln argument comes from a bounded set (M context ratios + one
#     arg per DISTINCT unigram count), each rounded to DECIMAL(38,12)
#     once at the MODEL level. JVM Math.log and libm ln disagree in the
#     last ulp on ~7% of arbitrary doubles (PERFORMANCE.md q73 rule;
#     measured this round), so an UNBOUNDED per-bigram ln — e.g. the
#     interpolated form ln(l*p12 + (1-l)*p2) — cannot hash-match DuckDB
#     at scale. Bounding + model-level rounding keeps the exposure an
#     order below the already-green q76 pattern.
# ---------------------------------------------------------------------------

BACKOFF_MASS = 0.4
DEFAULT_CONTEXTS = 512

# Model-level rounding for the backoff LM: one order COARSER than the
# classifier's decimal(38,12), because the exposure scales differently.
# A rounded ln only drifts cross-engine when the JVM-vs-libm last-ulp
# disagreement straddles a quantum boundary, P ~ ulp/quantum per
# argument; the classifier has 512 bounded args (P*512 negligible at
# 1e-12), but the unigram backoff table is VOCAB-sized — at sf0.1
# (~50k distinct ln args) the 1e-12 quantum was measured hitting 4
# boundary cases (strict-gate red, 2026-08-16). At 1e-6 the per-arg
# probability drops ~1e6x (ulp(ln p) ~ 4e-16 => ~4e-10), keeping even
# a 100x-vocabulary replica below 1e-3 expected hits, and a 1e-6
# per-term quantum is far below any quality-threshold resolution.
_LM_DECIMAL = "decimal(38,6)"


def bigram_stream(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2) rows — one per adjacent word pair occurrence."""
    toks = words(F.col(text_col))
    n = F.size(toks)
    pairs = F.when(
        n > 1,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return docs.select(F.col(id_col), F.explode(pairs).alias("__bg")).select(
        id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
    )


def learn_backoff_bigram(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_contexts: int = DEFAULT_CONTEXTS,
    backoff: float = BACKOFF_MASS,
) -> tuple[DataFrame, DataFrame]:
    """Fit the model: (bigram_lp, unigram_lp) tables.

    ``bigram_lp``: the top-``n_contexts`` bigrams by count (ties broken
    lexicographically — deterministic) with lp = ln(c12/c1) as
    DECIMAL(38,12). ``unigram_lp``: every word with
    blp = ln(backoff * c/N), same rounding. Two token-stream aggregates;
    the top-M cut compiles to TakeOrderedAndProject(limit=M) — a
    per-partition top-M with a driver-side merge of M rows, so M rows,
    not the bigram table, leave the count aggregate (plan-asserted in
    tests/test_plan_audit.py; the row_number Window then runs over
    those M rows only).
    """
    toks = words(F.col(text_col))
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    ntot = uni.agg(F.sum("c1").alias("n_tokens"))
    bgc = (
        bigram_stream(docs, text_col=text_col, id_col=id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    wnd = Window.orderBy(F.col("c12").desc(), F.col("w1"), F.col("w2"))
    top = (
        bgc.withColumn("__rk", F.row_number().over(wnd))
        .filter(F.col("__rk") <= n_contexts)
        .drop("__rk")
    )
    bigram_lp = top.join(
        uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c_w1"), "w1"
    ).select(
        "w1",
        "w2",
        F.log(F.col("c12").cast("double") / F.col("c_w1").cast("double"))
        .cast(_LM_DECIMAL)
        .alias("lp"),
    )
    unigram_lp = uni.crossJoin(F.broadcast(ntot)).select(
        F.col("w").alias("w2"),
        F.log(
            F.lit(backoff)
            * (F.col("c1").cast("double") / F.col("n_tokens").cast("double"))
        )
        .cast(_LM_DECIMAL)
        .alias("blp"),
    )
    return bigram_lp, unigram_lp


def score_backoff_bigram(
    docs: DataFrame,
    bigram_lp: DataFrame,
    unigram_lp: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc LM score under the fitted backoff model.

    Returns (id, n_bigrams bigint, n_context_hits bigint, avg_logprob
    double). The M-row context table broadcasts; the unigram table joins
    on w2 (broadcast at test SFs, SMJ past the threshold — either is
    fine: it's vocab-sized, not corpus-sized). Terms are model-level
    decimals, so the per-doc sum is order-free exact.
    """
    terms = (
        bigram_stream(docs, text_col=text_col, id_col=id_col)
        .join(F.broadcast(bigram_lp), ["w1", "w2"], "left")
        .join(unigram_lp, "w2")
        .select(
            id_col,
            F.coalesce(F.col("lp"), F.col("blp")).alias("__t"),
            F.col("lp").isNotNull().cast("int").alias("__hit"),
        )
    )
    return terms.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("__hit").cast("bigint").alias("n_context_hits"),
        (F.sum("__t").cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("avg_logprob"),
    )
