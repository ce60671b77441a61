"""As-of (point-in-time) join.

The reference implements this as a correlated ``LEFT JOIN LATERAL ...
WHERE price_ts <= event_ts ORDER BY ts DESC LIMIT 1`` against the price
table (SURVEY.md §2.B B7; reference `dao/postgre/ls_opening.rs:1460-1467`,
`mp_asset.rs:125-187`). Postgres runs that as an index probe per row —
O(rows) random lookups, which does not translate to a scan engine.

One semantics, two physical forms, one entry point:

- :func:`as_of_join` (*union-sort*, any size): tag right rows (the tick
  series) with their values and left rows with nulls, union them, and
  run ``last(row, ignorenulls)`` over ``Window.partitionBy(keys)
  .orderBy(ts, side)``, right rows sorting *before* left rows at equal
  timestamps (a tick at exactly the event time is visible to the
  event). Exactly ONE shuffle of (|L| + |R|) rows hash-partitioned by
  key — no range-explosion, no per-row probes, no broadcast
  requirement; skewed keys can be AQE-split.
- the *broadcast* form (dimension-scale right side, zero shuffle): one
  sorted tick array per key, packed in a single task (the right side
  coalesced to one partition, so the packing needs no exchange),
  broadcast onto the left and picked scan-locally by binary search.

:func:`as_of_join_auto` chooses between them from one probe of the
right side's shape; enrichment (``pipeline/enrich.py``), the PnL close
pricing and q118/q129 go through it, so a price series at dimension
scale is priced by broadcast and a deeper one by union-sort. q15 calls
:func:`as_of_join` directly. Both forms answer as LATERAL does: the
latest tick is returned whole, NULL fields included; a tick with a NULL
key or timestamp matches nothing; a left row with a NULL key or
timestamp gets NULL values. Among right rows sharing a timestamp the
one with the greatest ``right_order`` column wins (the reference's
``ORDER BY ts DESC, idx DESC LIMIT 1``). Both keep the left frame's
columns in order and append the values.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Dimension scale for the broadcast form: beyond either cap the packed
# tick table (built in one task, collected to the driver and broadcast
# whole, its key's array carried by every joined left row) stops paying
# off, and as_of_join_auto takes union-sort instead.
MAX_KEYS = 100_000
MAX_TICKS_PER_KEY = 20_000

# Session-scoped memo of the dimension-scale probe, so a pipeline that
# prices against one series pays the probe job once. The key is what
# the probe reads: the canonical plan of ``right.select(*on)``
# (canonicalization drops alias names, so views of one series that name
# its key differently share an entry), a hash of the files that plan
# scans, and the probe limit. A rewritten table lists new part files,
# so it misses the memo whoever wrote it. The memo feeds only the
# choice of form, never an answer: both forms are exact at any depth.
_PROBE_MEMO: dict[tuple[int, int, int], tuple[int, int]] = {}
_PROBE_MEMO_CAP = 256


def _probe_right_stats(right: DataFrame, on: Sequence[str]) -> tuple[int, int]:
    """(n_keys, max_ticks_per_key) of ``right`` grouped by ``on``, via a
    guarded ``limit(MAX_KEYS + 1)`` count — the similarity.py probe
    pattern. n_keys saturates at MAX_KEYS + 1 (enough to fail the cap
    check); memoized as the module note says."""
    keys = right.select(*on)
    # the file list is hashed on the JVM: a fixed number of py4j calls
    # however many files the plan scans, and no Spark job
    files = keys.sparkSession._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        keys._jdf.inputFiles()
    )
    key = (keys.semanticHash(), files.hashCode(), MAX_KEYS)
    # one get, not a check then a read: a concurrent miss may clear the memo
    stats = _PROBE_MEMO.get(key)
    if stats is not None:
        return stats
    counts = keys.groupBy(*on).count().limit(MAX_KEYS + 1).collect()
    stats = (len(counts), max((r["count"] for r in counts), default=0))
    if len(_PROBE_MEMO) >= _PROBE_MEMO_CAP:
        _PROBE_MEMO.clear()
    _PROBE_MEMO[key] = stats
    return stats


def quote_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_order: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For each ``left`` row, attach the values of the latest ``right``
    row with the same keys ``on`` and ``right_ts <= left_ts`` (the
    reference's as-of price lookup; pandas ``merge_asof`` backward).

    Returns all ``left`` columns plus ``{value_col}{suffix}`` for each
    requested value column (null when no matching right row exists). A
    right row with a NULL key or timestamp matches nothing, and a left
    row with a NULL key or timestamp gets nulls, as under LATERAL.
    Costs exactly ONE shuffle of (|L| + |R|) rows on the join keys.
    """
    on = list(on)
    value_cols = list(value_cols)
    out_cols = [f"{c}{suffix}" for c in value_cols]
    q = quote_ident
    keys, outs = ", ".join(map(q, on)), ", ".join(map(q, out_cols))

    # The plan is built from whole SQL expressions, and the union fills
    # each side's missing columns with typed nulls by name, so no step
    # lists the left columns: construction costs the same few dozen py4j
    # calls however wide the left frame is (each PySpark Column call
    # costs about a dozen). Side marker: right=0 sorts before left=1 at
    # equal timestamps. A right row with a NULL key or timestamp can
    # never satisfy LATERAL's `p.k = e.k AND p.ts <= e.ts`, so it is
    # dropped before the union rather than joining the NULL-key window.
    rord = f"CAST({q(right_order)} AS DOUBLE)" if right_order else "0.0D"
    r_tagged = right.selectExpr(
        *map(q, on),
        "0 AS __side",
        f"{q(right_ts)} AS __ts",
        f"{rord} AS __rord",
        *[f"{q(c)} AS {q(o)}" for c, o in zip(value_cols, out_cols)],
    ).filter(" AND ".join(f"{c} IS NOT NULL" for c in [*map(q, on), "__ts"]))
    unioned = left.selectExpr("*", "1 AS __side", f"{q(left_ts)} AS __ts").unionByName(
        r_tagged, allowMissingColumns=True
    )
    # The matched right ROW travels as ONE struct (non-null exactly for
    # right rows), so last(ignorenulls) picks the latest right row
    # ATOMICALLY. Filling each value column independently would skip a
    # legitimately-NULL field back to an OLDER tick and mix fields from
    # different right rows. The LATERAL ... LIMIT 1 semantics this
    # mirrors return the latest ROW, NULL fields included.
    unioned = unioned.withColumn(
        "__row", F.expr(f"CASE WHEN __side = 0 THEN struct({outs}) END")
    ).drop(*out_cols)
    # Running last over ascending time. NULLS FIRST puts a
    # NULL-timestamp left row before every tick, so it matches nothing.
    latest = F.expr(
        f"last(__row, true) OVER (PARTITION BY {keys} "
        "ORDER BY __ts ASC NULLS FIRST, __side ASC, __rord ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        unioned.withColumn("__row", latest)
        .filter("__side = 1")
        .selectExpr("*", *[f"__row.{q(o)} AS {q(o)}" for o in out_cols])
        .drop("__side", "__ts", "__rord", "__row")
    )


def _broadcast_pick(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_order: str | None,
    suffix: str,
    pick_when: Column | None,
) -> DataFrame:
    """The broadcast form, for a DIMENSION-SCALE right side (a price
    table = symbols x poll ticks — the thing the reference keeps in an
    in-memory cache, `configuration.rs:543-562`). Union-sort is the
    wrong shape there: its window partitions by join key, so a handful
    of hot symbols caps parallelism at |keys| tasks AND the big left side
    pays a full shuffle. Instead the right side collapses to ONE row per
    key carrying its ticks as a ts-sorted array, that row is
    broadcast-hash-joined onto the left, and the latest tick
    ``<= left_ts`` is picked scan-locally, O(log |ticks of its key|) per
    row. The left never moves: scan -> broadcast join -> project.
    :func:`as_of_join_auto` calls it within the caps."""
    q = quote_ident
    on = list(on)
    rkeys = [f"__k{i}" for i in range(len(on))]
    rord = [f"{q(right_order)} AS __rord"] if right_order else []
    tick = ", ".join([f"{q(right_ts)} AS __ts", *rord, *map(q, value_cols)])
    # A tick with a NULL key or timestamp matches nothing, so it is not
    # packed. One partition already satisfies the aggregate's
    # distribution, so the packed table is built inside the broadcast's
    # own job, with no shuffle-map job before it; the whole table is
    # collected to the driver for the broadcast anyway. The right keys
    # get private names and the join is an explicit equi-join, so the
    # output keeps the left frame's column order (a USING join would move
    # the keys to the front), and lookups into one series by differently
    # named keys pack the same plan, which the later ones reuse.
    packed = (
        right.filter(" AND ".join(f"{c} IS NOT NULL" for c in map(q, [*on, right_ts])))
        .selectExpr(*[f"{q(k)} AS {r}" for k, r in zip(on, rkeys)], f"struct({tick}) AS __tick")
        .coalesce(1)
        .groupBy(*rkeys)
        .agg(F.expr("sort_array(collect_list(__tick))").alias("__ticks"))
    )
    cond = " AND ".join(f"{q(k)} = {r}" for k, r in zip(on, rkeys))
    joined = left.join(F.broadcast(packed), F.expr(cond), "left")
    # The array is sorted on (ts, right_order, values), so the ticks at
    # or before left_ts are a prefix of it and the latest one is the
    # prefix's last element, which keeps the ORDER BY ts DESC,
    # right_order DESC LIMIT 1 tie rule. The prefix length is found by
    # binary search: 31 halvings cover any array (fewer than 2^31
    # elements), and a step after convergence returns its state, so a
    # left row costs O(log |ticks|), not a scan of its key's ticks.
    # ``get`` answers NULL for index -1 (no tick qualifies, or left_ts is
    # NULL and every comparison fails) and for a NULL array (a key with
    # no packed row).
    mid = "shiftright(__s.lo + __s.hi, 1)"
    latest = F.expr(
        f"get(__ticks, aggregate(sequence(1, 31), named_struct('lo', 0, 'hi', size(__ticks)), "
        f"(__s, __i) -> IF(__s.lo < __s.hi, IF(__ticks[{mid}].__ts <= {q(left_ts)}, "
        f"named_struct('lo', {mid} + 1, 'hi', __s.hi), named_struct('lo', __s.lo, 'hi', {mid})), "
        f"__s)).lo - 1)"
    )
    if pick_when is not None:
        # Spark's If is lazy: gated-out rows skip the search
        latest = F.when(pick_when, latest)
    return (
        joined.withColumn("__tick", latest)
        .selectExpr("*", *[f"__tick.{q(c)} AS {q(c + suffix)}" for c in value_cols])
        .drop("__ticks", "__tick", *rkeys)
    )


def as_of_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_order: str | None = None,
    suffix: str = "_asof",
    pick_when: Column | None = None,
) -> tuple[DataFrame, str]:
    """:func:`as_of_join`'s answer, in the physical form picked from the
    right side's MEASURED shape — the operator-level analogue of
    Catalyst choosing a join strategy from statistics. One memoized
    probe (``MAX_KEYS`` + 1 rows of one ``groupBy(on).count()``)
    decides:

    - right side within (``MAX_KEYS``, ``MAX_TICKS_PER_KEY``) → the
      broadcast form — zero shuffle, the left never moves;
    - otherwise → :func:`as_of_join` (union-sort) — one shuffle, any
      size.

    The probe is one aggregate scan of the RIGHT side: free for a
    tick/price series, but a real cost if the right side is fact-scale;
    when the series is known to be big, call :func:`as_of_join`
    directly. Returns ``(result, form)`` with ``form`` in
    {"broadcast", "union_sort"}. Both forms give the same answers
    (property-tested), so the choice changes only the plan.

    ``pick_when``, a predicate over the left frame's columns, gates the
    lookup per row: rows where it is false get NULL values, rows where
    it is true get exactly the ungated answer. The broadcast form skips
    the search on gated-out rows; union-sort masks their values.
    """
    n_keys, worst = _probe_right_stats(right, list(on))
    if n_keys <= MAX_KEYS and worst <= MAX_TICKS_PER_KEY:
        out = _broadcast_pick(
            left, right, on, left_ts, right_ts, value_cols, right_order, suffix, pick_when
        )
        return out, "broadcast"
    out = as_of_join(
        left, right, on, left_ts, right_ts, value_cols, right_order=right_order, suffix=suffix
    )
    if pick_when is not None:
        outs = [f"{c}{suffix}" for c in value_cols]
        out = out.withColumns({o: F.when(pick_when, F.col(quote_ident(o))) for o in outs})
    return out, "union_sort"
