"""As-of (point-in-time) join.

The reference implements this as a correlated ``LEFT JOIN LATERAL ...
WHERE price_ts <= event_ts ORDER BY ts DESC LIMIT 1`` against the price
table (SURVEY.md §2.B B7; reference `dao/postgre/ls_opening.rs:1460-1467`,
`mp_asset.rs:125-187`). Postgres runs that as an index probe per row —
O(rows) random lookups, which does not translate to a scan engine.

One semantics, two physical forms:

- :func:`as_of_join` (*union-sort*, any size): tag right rows (the tick
  series) with their values and left rows with nulls, union them, and
  run ``last(row, ignorenulls)`` over ``Window.partitionBy(keys)
  .orderBy(ts, side)``, right rows sorting *before* left rows at equal
  timestamps (a tick at exactly the event time is visible to the
  event). Exactly ONE shuffle of (|L| + |R|) rows hash-partitioned by
  key — no range-explosion, no per-row probes, no broadcast
  requirement; skewed keys can be AQE-split.
- :func:`as_of_join_broadcast` (dimension-scale right side, zero
  shuffle): one sorted tick array per key, packed in a single task
  (the right side coalesced to one partition, so the packing needs no
  exchange), broadcast onto the left and picked scan-locally. The
  output keeps the left frame's column order, as union-sort does.

:func:`as_of_join_auto` chooses between them from one probe of the
right side's shape; the ingest enrichment (``pipeline/enrich.py``)
goes through it, so a price series at dimension scale is priced by
broadcast and a deeper one by union-sort. Both forms answer as LATERAL
does: the latest tick is returned whole, NULL fields included; a tick
with a NULL key or timestamp matches nothing; a left row with a NULL
key or timestamp gets NULL values. Among right rows sharing a timestamp
the one with the greatest ``right_order`` column wins (the reference's
``ORDER BY ts DESC, idx DESC LIMIT 1``).
"""

from __future__ import annotations

import time
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Dimension scale for the broadcast form: beyond either cap the packed
# tick table (built in one task, collected to the driver and broadcast
# whole, its key's array carried by every joined left row) stops paying
# off.
MAX_KEYS = 100_000
MAX_TICKS_PER_KEY = 20_000

# Session-scoped memo for the dimension-scale probe, keyed on (semantic
# hash of the right side's key columns, probe limit), so a pipeline that
# re-enriches against an already validated series pays the probe job
# once. The key is the canonical plan of ``right.select(*on)``: the
# probe reads nothing else, and canonicalization drops alias names, so
# views of one series that name its key differently share one entry.
# The memo feeds only the guard and the dispatch decision, never
# answers: the join always reads the actual data. A memo hit on a plan
# whose source has since GROWN could skip the cap error, so:
#
# 1. every in-repo path that mutates a parquet table
#    (``sources.merge.merge_parquet``, ``replace_dir``) must call
#    :func:`clear_probe_memo` after the mutation lands;
# 2. entries expire after ``_PROBE_MEMO_TTL`` seconds (monotonic clock),
#    which bounds the lag behind an out-of-session writer to one TTL.
_PROBE_MEMO: dict[tuple[int, int], tuple[float, tuple[int, int]]] = {}
_PROBE_MEMO_CAP = 256
_PROBE_MEMO_TTL = 300.0


def clear_probe_memo() -> None:
    """Drop memoized dimension-scale probe stats (see module note on
    growing sources). Called automatically by the in-repo table-mutation
    paths; call it manually after appending to a series through any
    OTHER channel inside the TTL window."""
    _PROBE_MEMO.clear()


def _probe_right_stats(right: DataFrame, on: Sequence[str]) -> tuple[int, int]:
    """(n_keys, max_ticks_per_key) of ``right`` grouped by ``on``, via a
    guarded ``limit(MAX_KEYS + 1)`` count — the similarity.py probe
    pattern. n_keys saturates at MAX_KEYS + 1 (enough to fail the cap
    check); memoized per canonical plan of the key columns within the
    session."""
    max_keys = MAX_KEYS
    keys = right.select(*on)
    key = None
    try:
        key = (keys.semanticHash(), max_keys)
    except Exception:  # pragma: no cover - semanticHash unavailable
        pass
    now = time.monotonic()
    if key is not None and key in _PROBE_MEMO:
        born, stats = _PROBE_MEMO[key]
        if now - born <= _PROBE_MEMO_TTL:
            return stats
        # expired: re-probe below. pop, not del — two concurrent
        # enrichment threads can both see the entry expired, and the
        # second del would raise KeyError out of the join.
        _PROBE_MEMO.pop(key, None)
    counts = keys.groupBy(*on).count().limit(max_keys + 1).collect()
    stats = (len(counts), max((r["count"] for r in counts), default=0))
    if key is not None:
        if len(_PROBE_MEMO) >= _PROBE_MEMO_CAP:
            _PROBE_MEMO.clear()
        _PROBE_MEMO[key] = (now, stats)
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
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each ``left`` row, attach the matching ``right`` values,
    matching on key columns ``on`` — pandas ``merge_asof`` semantics:

    - ``backward`` (default): latest right with ``right_ts <= left_ts``
      (the reference's as-of price lookup);
    - ``forward``: earliest right with ``right_ts >= left_ts`` (e.g.
      "next price tick after the event");
    - ``nearest``: whichever of the two is closer in time, backward on
      ties (pandas' rule).

    Returns all ``left`` columns plus ``{value_col}{suffix}`` for each
    requested value column (null when no matching right row exists). A
    right row with a NULL key or timestamp matches nothing, and a left
    row with a NULL key or timestamp gets nulls, as under LATERAL.

    ``tolerance_seconds`` bounds staleness (pandas ``merge_asof``
    tolerance): a match farther than the bound yields nulls instead —
    the domain rule that a price tick from last week must not enrich
    today's event. Implemented by carrying the matched tick's timestamp
    through the same window (one extra filled column, no extra shuffle).

    All directions cost exactly ONE shuffle of (|L| + |R|) rows on the
    join keys; ``forward`` re-sorts the same partitions descending and
    ``nearest`` evaluates both window passes over one exchange.
    """
    on = list(on)
    value_cols = list(value_cols)
    out_cols = [f"{c}{suffix}" for c in value_cols]
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
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
        f"CAST({q(right_ts)} AS TIMESTAMP) AS __vts",
        *[f"{q(c)} AS {q(o)}" for c, o in zip(value_cols, out_cols)],
    ).filter(" AND ".join(f"{c} IS NOT NULL" for c in [*map(q, on), "__ts"]))
    unioned = left.selectExpr("*", "1 AS __side", f"{q(left_ts)} AS __ts").unionByName(
        r_tagged, allowMissingColumns=True
    )
    # The matched right ROW travels as ONE struct (non-null exactly for
    # right rows), so last(ignorenulls) picks the latest right row
    # ATOMICALLY. Filling each value column independently would skip a
    # legitimately-NULL field back to an OLDER tick — stale values
    # passing the tolerance check (computed against the newer tick's
    # __vts) and multi-column results mixing fields from different
    # right rows. The LATERAL ... LIMIT 1 semantics this mirrors return
    # the latest ROW, NULL fields included.
    unioned = unioned.withColumn(
        "__row", F.expr(f"CASE WHEN __side = 0 THEN struct(__vts, {outs}) END")
    ).drop("__vts", *out_cols)

    # backward: running last over ascending time. forward: its descending
    # twin — walking from the future backward, the running last right row
    # is the EARLIEST right at/after the current row (side still ascends,
    # so a right row at the exact left ts is visible). nearest runs both
    # passes over the same exchange, then picks per row. NULLS FIRST in
    # both orders puts a NULL-timestamp left row before every tick, so
    # it matches nothing in either pass.
    def last_row(order: str):
        return F.expr(
            f"last(__row, true) OVER (PARTITION BY {keys} "
            f"ORDER BY __ts {order} NULLS FIRST, __side ASC, __rord {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )

    passes = {
        "backward": {"__row": "ASC"},
        "forward": {"__row": "DESC"},
        "nearest": {"__row_b": "ASC", "__row_f": "DESC"},
    }[direction]
    result = unioned.withColumns({c: last_row(o) for c, o in passes.items()}).filter("__side = 1")
    lts = f"unix_micros(CAST({q(left_ts)} AS TIMESTAMP))"
    if direction == "nearest":
        use_b = (
            f"__row_f.__vts IS NULL OR (__row_b.__vts IS NOT NULL"
            f" AND {lts} - unix_micros(__row_b.__vts) <= unix_micros(__row_f.__vts) - {lts})"
        )
        result = result.withColumn(
            "__row", F.expr(f"CASE WHEN {use_b} THEN __row_b ELSE __row_f END")
        )
    if tolerance_seconds is not None:
        # backward matches sit at or before the left ts, forward ones at
        # or after it: the staleness is the absolute gap either way
        tol = int(tolerance_seconds * 1_000_000)
        result = result.withColumn(
            "__row",
            F.expr(f"CASE WHEN abs({lts} - unix_micros(__row.__vts)) <= {tol} THEN __row END"),
        )
    return result.selectExpr("*", *[f"__row.{q(o)} AS {q(o)}" for o in out_cols]).drop(
        "__side", "__ts", "__rord", "__row", "__row_b", "__row_f"
    )


def as_of_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_order: str | None = None,
    suffix: str = "_asof",
    pick_when: Column | None = None,
) -> DataFrame:
    """As-of join for a DIMENSION-SCALE right side: zero shuffle.

    When the right series is a dimension (a price table = symbols x
    poll ticks — the thing the reference keeps in an in-memory cache,
    `configuration.rs:543-562`), the union-sort formulation is the
    wrong shape: its window partitions by join key, so a handful of hot
    symbols caps parallelism at |keys| tasks AND the big left side pays
    a full shuffle. Instead:

    1. collapse the right side to ONE row per key carrying its ticks as
       a ts-sorted ``array<struct(ts, values...)>`` (struct ordering is
       field-order, so ts leads the sort);
    2. broadcast-hash-join that per-key row onto the left (|keys| rows
       — always under the broadcast threshold by precondition);
    3. pick the latest tick ``<= left_ts`` scan-locally, by binary
       search over the sorted array.

    The left side never moves: the plan is scan -> broadcast join ->
    project. Per row, the joined row carries its key's tick array and
    the pick makes O(log |ticks of its key|) comparisons — the right
    tradeoff while |ticks| is dimension-scale; a big right side belongs
    in :func:`as_of_join` (one shuffle, any size).
    Answers match :func:`as_of_join` with ``direction="backward"``
    (property-tested in tests/test_properties.py).

    The dimension-scale precondition is ENFORCED, not trusted: a guarded
    probe (``MAX_KEYS`` + 1 rows of one ``groupBy(on).count()``,
    memoized per canonical plan of the key columns, see
    :func:`clear_probe_memo`) checks that
    the right side has at most ``MAX_KEYS`` keys and ``MAX_TICKS_PER_KEY``
    ticks on its densest key before anything is packed or broadcast, and
    fails loudly beyond either cap instead of packing and broadcasting
    an oversized table.

    ``pick_when`` gates the pick per row: rows where it is false skip
    the search (Spark's If is lazy) and get NULL; rows where it is true
    get exactly the ungated answer.
    """
    n_keys, worst = _probe_right_stats(right, list(on))
    if n_keys > MAX_KEYS:
        raise ValueError(
            f"as_of_join_broadcast: right side has more than {MAX_KEYS} "
            f"distinct keys on {list(on)} — the packed per-key tick table is "
            "collected to the driver and broadcast whole, so this shape "
            "belongs in as_of_join (one shuffle, any size), or let "
            "as_of_join_auto choose"
        )
    if worst > MAX_TICKS_PER_KEY:
        raise ValueError(
            f"as_of_join_broadcast: densest right key carries {worst} "
            f"ticks (> {MAX_TICKS_PER_KEY}) — one task packs each key's "
            "ticks into an array that every joined left row of the key "
            "carries, O(|ticks|) per row, so a deep series makes every "
            "left row pay for it; use as_of_join (one shuffle, sorted "
            "window), or let as_of_join_auto choose"
        )
    return _broadcast_pick(
        left, right, on, left_ts, right_ts, value_cols, right_order, suffix, pick_when
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
    pick_when: Column | None = None,
) -> DataFrame:
    """The broadcast form's plan, with the dimension-scale check already
    made by the caller."""
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
) -> tuple[DataFrame, str]:
    """Pick the physical as-of form from the right side's MEASURED
    shape — the operator-level analogue of Catalyst choosing a join
    strategy from statistics. One probe (the broadcast guard's, so the
    broadcast path pays one probe job in all, memoized per canonical
    plan of the key columns) decides:

    - right side within (``MAX_KEYS``, ``MAX_TICKS_PER_KEY``) → the
      broadcast form — zero shuffle, the left never moves;
    - otherwise → :func:`as_of_join` (union-sort) — one shuffle, any
      size.

    The probe is one aggregate scan of the RIGHT side: free for a
    tick/price series, but a real cost if the right side is fact-scale;
    when the series is known to be big, call :func:`as_of_join`
    directly. Returns ``(result, form)`` with ``form`` in
    {"broadcast", "union_sort"}. Both forms give the same answers
    (property-tested), so the choice changes only the plan; direction
    and tolerance stay explicit parameters of :func:`as_of_join`.
    """
    n_keys, worst = _probe_right_stats(right, list(on))
    if n_keys <= MAX_KEYS and worst <= MAX_TICKS_PER_KEY:
        out = _broadcast_pick(left, right, on, left_ts, right_ts, value_cols, right_order, suffix)
        return out, "broadcast"
    out = as_of_join(
        left, right, on, left_ts, right_ts, value_cols, right_order=right_order, suffix=suffix
    )
    return out, "union_sort"
