"""Fuzzy record linkage — blocked edit-distance matching.

Entity resolution over dirty dimensions (duplicate customers, vendor
master dedup, author disambiguation in a training corpus) is a join the
relational layer cannot express: equality fails on typos, and the naive
fix is an O(n²) cross join with an edit-distance filter. The standard
scale answer (Fellegi–Sunter / Christen's "Data Matching", public) is
**blocking**: only records sharing a cheap deterministic block key are
compared, turning O(n²) into sum-of-block-sizes² with a recall contract
that is explicit rather than accidental.

Pipeline shape (all JVM-side, zero Python in the hot path):

1. normalize (lower/trim) — scan-local;
2. block key (default: normalized prefix) — scan-local;
3. self-join within block — ONE hash shuffle of each side by block key,
   the only data movement in the operator;
4. candidate prefilter ``abs(len_a - len_b) <= max_dist`` — a free
   lower bound on edit distance that skips the O(|a|·|b|) DP for most
   pairs (length difference alone already exceeds the threshold);
5. ``levenshtein() <= max_dist`` verify — Spark built-in, whole-stage
   codegen, and present in DuckDB for the oracle twin.

Recall semantics (documented, not hidden): a pair whose names differ
inside the block prefix is NEVER compared — that is the blocking
tradeoff. :func:`fuzzy_pairs_multi` is the recall fix: it runs multiple
passes with complementary keys (prefix + suffix + a consonant-skeleton
"phonetic-ish" key by default) and unions the pair sets — a typo that
moves a record out of one pass's block leaves at least one other key
untouched for most single-edit positions, and every pass keeps its own
skew audit. Multi-pass raises recall; it does not complete it (a
middle-of-the-name edit on a short string can escape every key — the
residual is the operator's stated contract, same as Christen's
canonical multi-pass blocking).

Skew guard: one cheap aggregate audits the largest block BEFORE the
quadratic join; a block past ``max_block`` fails loudly with the block
key named (a 10M-row block would otherwise quietly schedule a
100-trillion-pair task at 100 TB).

Clusters, not pairs: feed the result to
``operators.components.connected_components`` for transitive entity
groups — the same pairs→clusters step near-dup dedup uses.

Reference parity: no linkage operator exists in the reference engine;
beyond-reference LLM-pipeline layer (SURVEY.md §6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _normalized_base(df: DataFrame, id_col: str, name_col: str, key) -> DataFrame:
    norm = F.lower(F.trim(F.col(name_col)))
    return df.select(
        F.col(id_col).alias("rid"), norm.alias("name"), key(norm).alias("block")
    ).filter(F.col("name").isNotNull() & (F.length("name") > 0))


def _audit_blocks(base: DataFrame, max_block: int, per_pass: bool = False) -> None:
    """Skew audit: ONE tiny aggregate job finds the largest block before
    any quadratic work schedules. With ``per_pass`` the frame carries a
    ``p`` pass column and the audit groups by (p, block) — the fused
    multi-pass form checks every pass's worst block in the same single
    job (r11: was one eager audit job PER pass)."""
    keys = ["p", "block"] if per_pass else ["block"]
    top = (
        base.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc())
        .limit(1)
        .collect()
    )
    if top and top[0]["n"] > max_block:
        where = f"pass {top[0]['p']} block" if per_pass else "block"
        raise ValueError(
            f"fuzzy matching: {where} {top[0]['block']!r} holds {top[0]['n']} rows "
            f"(> max_block={max_block}); the within-block join would schedule "
            f"~{top[0]['n'] ** 2:,} comparisons — tighten block_expr (longer "
            "prefix, add a second key column) or raise max_block deliberately"
        )


def _keyed_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    key,
    max_dist: int,
    max_block: int | None,
) -> DataFrame:
    """One blocking pass: normalize, block by ``key(norm)``, audit,
    self-join within block, length-prefilter, levenshtein verify."""
    base = _normalized_base(df, id_col, name_col, key)
    if max_block is not None:
        _audit_blocks(base, max_block)

    # Parallelism of the quadratic stage: the build side broadcasts (a
    # dimension's worth of (id, name, block) is small even when the
    # base table is huge relative to block count), so the verify work
    # is distributed by the PROBE side's partitioning — and a dimension
    # read from one parquet split would run every comparison on ONE
    # task (measured: 95s -> 12s at sf0.1). spread_small_scan
    # repartitions ONLY an undersized probe (no-op at warehouse scale,
    # where the table carries thousands of row groups); if the join
    # ever degrades to SMJ past the broadcast threshold, Spark
    # re-shuffles by block anyway (AQE skew-split then handles
    # oversized blocks).
    from .spread import spread_small_scan

    a = spread_small_scan(
        base.select(
            F.col("rid").alias("id_a"), F.col("name").alias("name_a"), "block"
        )
    )
    b = base.select(
        F.col("rid").alias("id_b"), F.col("name").alias("name_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        # free lower bound: |len(a)-len(b)| <= levenshtein(a,b); prunes
        # the DP for pairs that cannot possibly pass
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(max_dist)
        )
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_len: int = 8,
    max_dist: int = 1,
    block_expr: Column | None = None,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b, name_a, name_b, dist)`` with
    ``dist = levenshtein(norm_a, norm_b) <= max_dist``, compared only
    within blocks of equal ``block_expr`` (default: first ``block_len``
    chars of the lower/trimmed name). ``id_a < id_b`` canonical order.

    ``max_block=None`` skips the skew audit (callers who already bound
    block size upstream); otherwise the audit is one tiny aggregate
    job over (block, count) before any quadratic work is scheduled.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    key = (
        (lambda _n: block_expr)
        if block_expr is not None
        else (lambda n: F.substring(n, 1, block_len))
    )
    return _keyed_pairs(df, id_col, name_col, key, max_dist, max_block)


def _resolve_keys(keys, block_len: int) -> list:
    """Built-in block keys, all expressible identically in DuckDB for
    the oracle twins (right() keeps the whole string when shorter than
    block_len in BOTH engines; DuckDB's regexp_replace needs the 'g'
    flag to match Spark's replace-all):
      prefix   — first block_len chars (the fuzzy_pairs default);
      suffix   — LAST block_len chars (catches edits near the head);
      skeleton — first block_len chars after stripping vowels and
                 spaces (a cheap phonetic-ish key: vowel typos,
                 missing/extra spaces and vowel insertions collapse to
                 the same consonant skeleton).
    Callables pass through: normalized_name_col -> block_col."""
    if not keys:
        raise ValueError("multi-pass blocking needs at least one block key")
    builtin = {
        "prefix": lambda n: F.substring(n, 1, block_len),
        "suffix": lambda n: F.right(n, F.lit(block_len)),
        "skeleton": lambda n: F.substring(
            F.regexp_replace(n, "[aeiou ]", ""), 1, block_len
        ),
    }
    out = []
    for k in keys:
        if callable(k):
            out.append(k)
        elif k in builtin:
            out.append(builtin[k])
        else:
            raise ValueError(
                f"unknown block key {k!r}: use one of "
                f"{sorted(builtin)} or pass a callable"
            )
    return out


def fuzzy_pairs_multi(
    df: DataFrame,
    id_col: str,
    name_col: str,
    keys=("prefix", "suffix", "skeleton"),
    block_len: int = 8,
    max_dist: int = 1,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Multi-pass blocked fuzzy matching — the recall composition over
    :func:`fuzzy_pairs` (Christen's standard multi-pass blocking): one
    pass per entry of ``keys``, pair sets unioned and deduplicated on
    ``(id_a, id_b)``. ``dist`` is a pure function of the two normalized
    names, so the dedup is value-stable whichever pass found the pair.

    ``keys`` entries are either built-in names — ``"prefix"`` (first
    ``block_len`` chars), ``"suffix"`` (last ``block_len`` chars),
    ``"skeleton"`` (first ``block_len`` chars with vowels/spaces
    stripped) — or callables ``normalized_name_col -> block_col`` for
    custom keys (phonetic codes, sorted-token keys).

    Recall contract: a single edit at position p changes the prefix key
    iff p <= block_len and the suffix key iff p > len - block_len, so
    any edit on a name longer than ``2*block_len`` is caught by at
    least one of the two positional passes; vowel/space edits are
    additionally caught by the skeleton pass regardless of position.
    Residual misses (consonant edits in the middle of short names) are
    the documented tradeoff — add a custom key rather than widening
    ``max_block``.

    Scale shape (r11 fusion): the passes share ONE physical pipeline —
    the input is normalized and keyed in a single scan that explodes
    each row into one (p, block) row per key, the skew audit checks
    every pass's worst block in ONE aggregate job (an oversized block
    in any pass still fails loudly before quadratic work schedules),
    and the within-block self-join runs ONCE on (p, block) — blocks of
    different passes never meet, so the join equals the old per-pass
    union exactly, row for row, before the shared distinct. The
    pre-fusion form paid one audit job plus two input scans PER PASS
    (q148 plan: 3 self-joins over 6 scans -> 1 join over 2). ``keys``
    must produce one common block type (the built-ins are all strings);
    a mixed-type custom key set fails loudly at analysis.
    """
    key_fns = _resolve_keys(keys, block_len)
    ident = lambda n: F.lit("")  # noqa: E731 — normalize once, key below
    base = _normalized_base(df, id_col, name_col, ident).drop("block")
    keyed = base.select(
        "rid",
        "name",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("p"),
                        key_fn(F.col("name")).alias("block"),
                    )
                    for i, key_fn in enumerate(key_fns)
                ]
            )
        ).alias("__k"),
    ).select("rid", "name", F.col("__k.p").alias("p"), F.col("__k.block").alias("block"))
    if max_block is not None:
        _audit_blocks(keyed, max_block, per_pass=True)
    # Parallelism of the quadratic stage: same contract as _keyed_pairs
    # — the build side broadcasts, the probe side is spread iff its
    # scan is undersized (no-op at warehouse scale).
    from .spread import spread_small_scan

    a = spread_small_scan(
        keyed.select(
            F.col("rid").alias("id_a"), F.col("name").alias("name_a"), "p", "block"
        )
    )
    b = keyed.select(
        F.col("rid").alias("id_b"), F.col("name").alias("name_b"), "p", "block"
    )
    out = (
        a.join(b, ["p", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(max_dist))
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    # (id_a, id_b) determines (name_a, name_b, dist) — names come from
    # the same normalized rows and dist is a function of the names — so
    # a full-row distinct IS the pair dedup, and it keeps the plan
    # oracle-twin-able as a plain SELECT DISTINCT over the pass union.
    return out.distinct()


def fuzzy_pairs_delta(
    delta: DataFrame,
    store: DataFrame,
    id_col: str = "rid",
    name_col: str = "name",
    block_len: int = 8,
    max_dist: int = 1,
    max_block: int | None = 10_000,
    max_delta_broadcast: int = 10_000_000,
) -> DataFrame:
    """Fuzzy matches between a FRESH batch and the stored entity table —
    the incremental leg (the dedup_delta / minhash_delta /
    semantic_delta shape, applied to entity resolution): a nightly
    customer load must not re-link the whole master, only probe its new
    rows against it.

    Same normalize/block/prefilter/verify chain as :func:`fuzzy_pairs`,
    but candidates come only from (delta x store) within a block —
    never (store x store), so the cost is (delta size x block hit
    rate), independent of master size. Output ``(delta_id, store_id,
    delta_name, store_name, dist)``; ids come from different tables, so
    no canonical ordering is imposed.

    Scale: the delta is small and the store is the 100 TB side — so the
    DELTA broadcasts (build side) and the store streams through the
    verify with no shuffle at all when the store is pre-bucketed by
    block; the skew audit runs on the store side, where the quadratic
    risk lives.

    Probe-side parallelism contract (the asof.py probe-memo style of
    documentation): the store is passed through ``spread_small_scan``,
    which repartitions IFF the planned scan carries fewer partitions
    than ``sparkContext.defaultParallelism`` — i.e. exactly when the
    store is a small/few-row-group table whose broadcast-join probe
    would otherwise serialize every levenshtein onto one task (measured:
    64s single-task at 1x vs 10s at 100x, whose many files parallelize
    naturally). At warehouse scale the predicate is false and the store
    NEVER shuffles; the no-op condition is
    ``store_scan_partitions >= defaultParallelism``.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    key = lambda n: F.substring(n, 1, block_len)  # noqa: E731
    d = _normalized_base(delta, id_col, name_col, key)
    s = _normalized_base(store, id_col, name_col, key)
    _guard_delta(d, max_delta_broadcast, "fuzzy_pairs_delta")
    return _keyed_delta(d, s, max_dist, max_block)


def _guard_delta(d: DataFrame, max_delta_broadcast: int, who: str) -> None:
    # the delta is FORCE-broadcast below, bypassing Spark's own size
    # threshold — so guard it the way pagerank guards its rank vector
    # and asof its dimension: a "delta" that is secretly a backfill of
    # the whole master must fail loudly, not OOM the executors
    n_delta = d.limit(max_delta_broadcast + 1).count()
    if n_delta > max_delta_broadcast:
        raise ValueError(
            f"{who}: delta holds > max_delta_broadcast="
            f"{max_delta_broadcast} rows — this is a backfill, not an "
            "incremental batch; run fuzzy_pairs over the unioned tables (or "
            "raise max_delta_broadcast deliberately)"
        )


def _keyed_delta(
    d: DataFrame, s: DataFrame, max_dist: int, max_block: int | None
) -> DataFrame:
    """One (delta x store) blocked pass over pre-normalized, pre-keyed
    (rid, name, block) frames — audit, broadcast-probe, verify."""
    if max_block is not None:
        _audit_blocks(s, max_block)
    # the STORE is the probe side of the broadcast verify: a small
    # single-row-group store would serialize every comparison onto one
    # task (measured: the 1x bench leg ran 64s single-task vs 10s for
    # the 100x store, whose many files parallelize naturally) —
    # spread_small_scan is a no-op exactly when the store is big
    from .spread import spread_small_scan

    return (
        spread_small_scan(
            s.select(
                F.col("rid").alias("store_id"),
                F.col("name").alias("store_name"),
                "block",
            )
        )
        .join(
            F.broadcast(
                d.select(
                    F.col("rid").alias("delta_id"),
                    F.col("name").alias("delta_name"),
                    "block",
                )
            ),
            "block",
        )
        .filter(
            F.abs(F.length("delta_name") - F.length("store_name"))
            <= F.lit(max_dist)
        )
        .select(
            "delta_id",
            "store_id",
            "delta_name",
            "store_name",
            F.levenshtein("delta_name", "store_name").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )


def fuzzy_pairs_delta_multi(
    delta: DataFrame,
    store: DataFrame,
    id_col: str = "rid",
    name_col: str = "name",
    keys=("prefix", "suffix", "skeleton"),
    block_len: int = 8,
    max_dist: int = 1,
    max_block: int | None = 10_000,
    max_delta_broadcast: int = 10_000_000,
) -> DataFrame:
    """Multi-pass :func:`fuzzy_pairs_delta` — the recall composition
    applied to the incremental leg: the same nightly batch probes the
    master once per complementary block key (``keys`` as in
    :func:`fuzzy_pairs_multi`), match sets unioned and deduplicated.
    The case that motivates it: a feed whose upstream re-keyed or
    corrupted the HEAD of the name field matches nothing under prefix
    blocking, so the single-pass delta would happily re-admit the whole
    batch as new entities — the suffix pass catches exactly that.

    The passes keep the single-pass scale shape (delta broadcasts,
    store streams, store-side skew audit) but share ONE physical
    pipeline (r11 fusion, same as :func:`fuzzy_pairs_multi`): both
    sides are keyed in a single scan that explodes each row into one
    (p, block) row per key, the store-side skew audit checks every
    pass's worst block in ONE aggregate job, and the broadcast verify
    join runs ONCE on (p, block) — blocks of different passes never
    meet, so the join equals the old per-pass union exactly before the
    shared distinct (pre-fusion: one audit job and one store scan PER
    pass). The delta-size guard runs ONCE; the guarded delta frame is
    still checkpointed eagerly before keying — it is bounded by
    ``max_delta_broadcast``, and without the truncation the broadcast
    would re-execute the delta normalization plan (ADVICE r9). Dedup
    on the full row is the (delta_id, store_id) dedup, since names
    and dist are functions of the id pair.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    key_fns = _resolve_keys(keys, block_len)
    ident = lambda n: F.lit("")  # noqa: E731 — normalize once, key below
    d = _normalized_base(delta, id_col, name_col, ident).drop("block")
    s = _normalized_base(store, id_col, name_col, ident).drop("block")
    _guard_delta(d, max_delta_broadcast, "fuzzy_pairs_delta_multi")
    d = d.localCheckpoint(eager=True)

    def _explode_keys(frame: DataFrame) -> DataFrame:
        return frame.select(
            "rid",
            "name",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).cast("int").alias("p"),
                            key_fn(F.col("name")).alias("block"),
                        )
                        for i, key_fn in enumerate(key_fns)
                    ]
                )
            ).alias("__k"),
        ).select(
            "rid", "name", F.col("__k.p").alias("p"), F.col("__k.block").alias("block")
        )

    keyed_s = _explode_keys(s)
    if max_block is not None:
        _audit_blocks(keyed_s, max_block, per_pass=True)
    from .spread import spread_small_scan

    out = (
        spread_small_scan(
            keyed_s.select(
                F.col("rid").alias("store_id"),
                F.col("name").alias("store_name"),
                "p",
                "block",
            )
        )
        .join(
            F.broadcast(
                _explode_keys(d).select(
                    F.col("rid").alias("delta_id"),
                    F.col("name").alias("delta_name"),
                    "p",
                    "block",
                )
            ),
            ["p", "block"],
        )
        .filter(
            F.abs(F.length("delta_name") - F.length("store_name")) <= F.lit(max_dist)
        )
        .select(
            "delta_id",
            "store_id",
            "delta_name",
            "store_name",
            F.levenshtein("delta_name", "store_name").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    return out.distinct()
