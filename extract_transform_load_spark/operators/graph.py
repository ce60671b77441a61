"""Link-graph operators as DataFrame rounds — PageRank, min-label
propagation, k-core peeling and triangle counting.

Near-dup mining gives a *pair graph* (components.py collapses it);
large-scale corpus curation also wants a *ranking* over a link graph —
per-host authority for crawl prioritization, per-source importance for
mixture weighting (the same role PageRank plays in production
crawl/curation stacks; Page et al. 1999, public). Vanilla Spark SQL has
no iterative-fixpoint operator, so each round is expressed as one join +
one aggregation over the cached edge list — the Pregel superstep
(Malewicz et al., SIGMOD 2010) lowered onto DataFrames. Every round
loop here steps through :func:`_supersteps`.

Determinism discipline (the cross-engine oracle constraint): every
arithmetic step is **64-bit integer fixed-point** (1 rank unit =
1e-12). Integer sums are order-independent and engine-exact, integer
floor-division is identical everywhere, so a Spark run and a DuckDB
recursive re-derivation agree bit-for-bit — no float summation-order
drift, no decimal-rounding-mode mismatch. The quantization error is
≤ outdeg ulps per node per round (documented, bounded, and irrelevant
at 1e-12 granularity). The SAME integer math runs under both physical
engines below, so they are byte-equal by construction (pinned in
tests/test_graph_linkage.py).

Two physical engines (100 TB link graph, 1000 executors). The engine is
chosen from the measured graph size (:func:`_engine`), never by an
option; a caller that needs the shuffle engine on a small graph passes
a threshold of 0.

broadcast — host-level graphs (|V| up to ~5e7):
- the edge list is aggregated once to ``(src, dst)`` distinct rows and
  cached; every round reuses that one shuffle-partitioned frame —
  iteration adds NO new edge shuffles beyond the per-round groupBy.
- the rank vector is |V| rows — orders of magnitude smaller than |E|
  (hosts vs links). It is broadcast into the join, so each round costs
  one map-side hash join over edges plus one ``groupBy(dst)`` partial
  aggregation; edges never re-shuffle.

shuffle — page-level graphs (|V| beyond the broadcast ceiling; a
per-round 1 GB+ rank broadcast stops fitting executors):
- edges are hash-partitioned ONCE by ``src`` (the one |E| shuffle);
  ranks, outdeg, the node spine and every per-round contribution frame
  are |V|-row frames hash-partitioned on the node key with the same
  partition count, so every per-round join is co-partitioned — Catalyst
  inserts NO exchange on the edge side, ever.
- per round exactly ONE exchange moves data: the ``groupBy(dst)``
  message aggregation (|E| in, |V| out, map-side combined). The
  |V|-bounded joins use SHUFFLE_HASH hints: a sort-merge plan would
  re-sort the |E| frame every round; a hash build over the |V| side
  streams the edges untouched.
- nothing is ever broadcast, so the operator has NO width ceiling: the
  working set per round is |E|/P + 2|V|/P per partition — scale P with
  the cluster, not with executor memory.

Dangling nodes (outdeg 0) contribute no mass — the "mass leak"
PageRank variant. Callers who need a stochastic matrix should
symmetrize or add self-loops before calling (q143 feeds a symmetrized
bipartite graph, so every node has outdeg >= 1).

Reference parity: the reference engine has no graph operator; this is
part of the beyond-reference LLM-pipeline layer (SURVEY.md §6).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from functools import partial
from types import SimpleNamespace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: 1.0 of rank mass, in fixed-point units (1e-12 granularity).
UNIT = 10**12

#: Edge rows per frozen-frame partition in the shuffle engines. An edge
#: row is two or three int64s (~25-50 B shuffled), so 2M rows ≈
#: 50-100 MB — the guide's fewer-larger-partitions band (§2.2) for the
#: per-round exchanges that AQE cannot coalesce here (round plans
#: compile with AQE off; see _compile_window).
_EDGE_ROWS_PER_PARTITION = 2_000_000

_AQE = "spark.sql.adaptive.enabled"
_FANOUT = "spark.sql.shuffle.partitions"
_WINDOW_LOCK = threading.Lock()
#: id(SparkSession) -> [saved AQE flag, then the fan-out each open
#: window replaced, innermost last].
_WINDOWS: dict[int, list] = {}


@contextmanager
def _compile_window(spark, n_rows: int):
    """The shuffle engines' plan-construction window. Yields ``win``:
    build the round plans at fan-out ``win.num`` and set ``win.out`` to
    the final frame, whose physical plan is frozen before the window
    closes.

    Inside the window:

    - AQE is off. Under AQE a localCheckpoint captures
      UnknownPartitioning — the adaptive plan's final layout isn't
      known at checkpoint-creation time, eager or not (measured) —
      which would re-insert an |E|-sized exchange above the edge scan
      EVERY round. What AQE would contribute per round — skew splitting
      on the groupBy hot keys — is absorbed by map-side partial
      aggregation instead.
    - ``spark.sql.shuffle.partitions`` is pinned to a scale-adaptive
      fan-out, so the per-round groupBy exchanges land at the SAME
      partition count as the frozen edge/state frames and the
      co-partitioned joins stay exchange-free. The session conf stays
      the CEILING (a cluster operator sizes it for the cluster, and a
      100 TB edge list always saturates it), but a small graph gets
      proportionally fewer, larger partitions: AQE's coalescing never
      sees these plans, and without the scaling every per-round
      exchange schedules conf-many tiny tasks regardless of |E|
      (measured at sf0.1: the fan-out, not the data, dominated the
      round cost).
    - the final plan is frozen: direct consumers (collect, the plan
      audits) reuse the cached plan — one exchange per round at the
      adaptive fan-out. A consumer that composes further
      (orderBy/limit) re-plans at the session conf, which costs at most
      one extra |V|-row exchange on the last round, under AQE.

    The window covers only plan CONSTRUCTION: execution (whenever the
    caller acts) and every other query are unaffected. Overlapping
    windows on one session are safe: state transitions are serialized
    under a lock, the FIRST entry saves the AQE flag and the LAST exit
    restores it, and exits restore the saved fan-outs last-in first-out
    (a nested window hands its enclosing one the enclosing fan-out
    back; the last exit restores the session's own). Inherent residual
    (a session-global conf has no narrower scope): an UNRELATED query
    compiled inside someone else's window sees its conf for that
    compile.
    """
    try:
        cap = int(spark.conf.get(_FANOUT))
    except (TypeError, ValueError):  # "auto" under some AQE configs
        cap = spark.sparkContext.defaultParallelism
    need = -(-max(1, n_rows) // _EDGE_ROWS_PER_PARTITION)  # ceil div
    win = SimpleNamespace(num=max(1, min(cap, need)), out=None)
    key = id(spark)
    with _WINDOW_LOCK:
        saved = _WINDOWS.setdefault(key, [spark.conf.get(_AQE, "true")])
        saved.append(spark.conf.get(_FANOUT, None))
        spark.conf.set(_AQE, "false")
        spark.conf.set(_FANOUT, str(win.num))
    try:
        yield win
        if win.out is not None:
            win.out._jdf.queryExecution().executedPlan()
    finally:
        with _WINDOW_LOCK:
            saved = _WINDOWS[key]
            fanout = saved.pop()
            if fanout is None:
                spark.conf.unset(_FANOUT)
            else:
                spark.conf.set(_FANOUT, fanout)
            if len(saved) == 1:
                spark.conf.set(_AQE, saved[0])
                del _WINDOWS[key]


def _engine(
    count_nodes,
    max_nodes_broadcast: int,
    n_edges: int | None = None,
    max_edges_broadcast: int | None = None,
) -> str:
    """The size dispatch: ``"broadcast"`` or ``"shuffle"``.

    Every operator routes to shuffle past ``max_nodes_broadcast`` — the
    MEMORY guard: past it the per-round |V|-row broadcast stops fitting
    executors. Label propagation and k-core also pass their canonical
    edge count, and route to shuffle past ``max_edges_broadcast`` — the
    measured COST crossover. An edge count already past its threshold
    decides alone, so ``count_nodes`` (a zero-argument callable) is not
    called. Byte-equal engines make the dispatch invisible to results.

    Why pagerank dispatches on NODES ONLY — the per-family cost model:

    ======================  ===============================  ==========
    operator                broadcast per-round cost         edge cap?
    ======================  ===============================  ==========
    pagerank                O(|E|) MAP-SIDE against the      no
                            frozen edge checkpoint — the
                            edge frame is never filtered or
                            re-materialized, so per-round
                            work matches the shuffle
                            engine's minus its up-front |E|
                            exchange
    kcore                   O(|E|) RE-MATERIALIZED — the     yes
                            surviving edge frame is
                            semi-joined and rewritten every
                            round, vs delta peeling's
                            deaths-only messages (measured
                            30x at 100x, ~50M edges)
    label_propagation       label column rewritten over       yes
                            the full |E| frame per round
                            vs co-partitioned MIN-merge
                            (measured 1.6x at 100x)
    ======================  ===============================  ==========

    So for pagerank the broadcast form is never asymptotically worse
    per round — the ONLY reason to leave it is rank-vector WIDTH
    (executor memory), which is exactly ``max_nodes_broadcast``; an
    edge-count cap would route mid-size graphs onto the engine with
    one extra |E| exchange for no per-round saving (PERFORMANCE.md's
    100x table: broadcast 480 s vs shuffle 349 s in one session, 313 s
    vs 477 s in another — within tenant noise of each other, both
    spill-free, neither dominant — against kcore's unambiguous
    2155 s -> 71 s).
    """
    if n_edges is not None and n_edges > max_edges_broadcast:
        return "shuffle"
    return "broadcast" if count_nodes() <= max_nodes_broadcast else "shuffle"


def _run(engine: str, spark, count_rows, build) -> DataFrame:
    """Build a round loop under ``engine``: ``build(small, num)`` gets
    the join hint for the |V|-bounded sides and the frozen frames'
    fan-out (``None`` under broadcast). ``count_rows`` sizes the
    shuffle engine's fan-out and is called only for that engine."""
    if engine == "broadcast":
        # broadcast EXPLICITLY: checkpointed RDDs carry no stats, so
        # left to itself Catalyst would SMJ the small sides and could
        # re-shuffle the edge list
        return build(F.broadcast, None)
    with _compile_window(spark, count_rows()) as win:
        # co-partitioned inputs make the join exchange-free either way;
        # the hash build avoids SMJ re-sorting the |E| frame every round
        win.out = build(lambda df: df.hint("shuffle_hash"), win.num)
    return win.out


def _supersteps(state: DataFrame, rounds: int, step):
    """Run up to ``rounds`` supersteps from ``state``; return the final
    state and whether the loop stopped early.

    ``step(state)`` returns ``(next_state, changes)``. ``changes`` is
    ``None`` for a round that always runs, or a frame of what this round
    changes: when it is empty the fixpoint is reached (every later round
    would be a no-op too), so the loop stops and returns the state that
    round started from — saving every no-op round's stages.
    ``count() == 0`` rather than ``isEmpty()``: the count is one job,
    where ``limit(1)`` may scan partition batches job by job.

    Lineage is truncated BETWEEN rounds (an unchecked k-round plan
    drowns Catalyst analysis); ``Dataset.localCheckpoint`` keeps the
    physical output partitioning in the LogicalRDD, so the shuffle
    engines' co-partitioning survives the truncation. The LAST round
    stays a live plan, so callers — and the plan audits — see the real
    per-round physical shape, not a checkpoint scan.
    """
    for i in range(rounds):
        if i:
            state = state.localCheckpoint(eager=False)
        nxt, changes = step(state)
        if changes is not None and changes.count() == 0:
            return state, True
        state = nxt
    return state, False


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The loop-free, distinct, symmetric ``(u, v)`` edge set: each
    undirected edge once per direction. The canonical half is
    checkpointed, so both directions read one materialization."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _spine(e: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct node ids over both endpoint columns of ``e``."""
    return (
        e.select(F.col(a).alias("node"))
        .union(e.select(F.col(b).alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    max_nodes_broadcast: int = 50_000_000,
    assume_distinct: bool = False,
    weight: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Returns ``(node, rank_units, rank)`` — ``rank_units`` is the exact
    BIGINT fixed-point mass (what the oracle re-derives), ``rank`` the
    human-facing double ``rank_units / 1e12`` (one exact division).

    ``damping_pct`` is an integer percentage so the damped update
    ``d * contrib + (1 - d) / N`` stays in integer arithmetic:
    ``(contrib_sum * damping_pct) DIV 100 + ((100 - damping_pct) *
    (UNIT DIV 100)) DIV N``.

    ``weight`` names a POSITIVE INTEGER edge-weight column (link
    multiplicity, order counts): each edge then carries
    ``(rank * w) DIV sum_w(src)`` instead of an equal split — still
    pure int64, so still bit-exact cross-engine. Weights must stay
    below ~9.2e6 (rank_units reaches 1e12, and 1e12 * w must fit
    int64); ANSI mode makes an overflow throw rather than wrap, and
    weighted edges are NOT deduped (multiplicity is the caller's
    semantics — ``assume_distinct`` is implied).

    ``seeds`` (a one-column frame of node ids) switches to PERSONALIZED
    PageRank: teleport mass and the initial distribution concentrate on
    the seed set (restricted to graph nodes; empty intersection fails
    loudly), ranking every node by walk-proximity to the seeds — the
    topic-sensitive / crawl-frontier form. The initial distribution is
    keyed off seed MEMBERSHIP, not off a nonzero teleport, so the
    degenerate ``damping_pct=100`` (teleport 0) still seeds the walk.

    The physical engine follows the node count (same math, byte-equal
    results): up to ``max_nodes_broadcast`` nodes the |V|-row rank
    vector is re-broadcast each round; past it ranks and edges are
    co-partitioned by node and that partitioning is reused across
    rounds (no width ceiling; one extra |E| shuffle up front). See
    :func:`_engine` for why pagerank has no edge cap.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")

    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("bigint").alias("w"))
    e = edges.select(*cols)
    # ``assume_distinct`` lets a caller who already deduped skip the
    # one big shuffle in here. It matters more than it looks: a raw
    # fact-table feed (orders x lineitem at 100x = 120M rows) pays a
    # hash aggregate that spilled 9.4 GB under the 24g clamp; the same
    # graph pre-deduped BEFORE symmetrizing distincts 60M and flips the
    # result — measured in scripts/bench_graph_linkage_scale100.py.
    if not assume_distinct and weight is None:
        e = e.distinct()
    # checkpoint BEFORE deriving the node spine, so the (possibly
    # expensive) upstream build runs once and both the spine and every
    # round read its blocks; the shuffle engine re-checkpoints its
    # repartitioned copy, which is one cheap shuffle over these same
    # blocks, not a second build. EAGER on purpose: the node count
    # below consumes it immediately anyway, and a lazy checkpoint here
    # lets the round-1 broadcast-exchange thread race the main job into
    # materializing the full upstream build TWICE (measured at 100x on
    # the weighted feed: two 10.8 GB fact-join stages, 1.7-5.9 GB of
    # sort spill in the broadcast copy; eager => one build, no spill).
    e = e.localCheckpoint(eager=True)
    nodes = _spine(e, "src", "dst").localCheckpoint(eager=False)
    # ONE counting job resolves everything the plan needs eagerly: the
    # node count (teleport denominator + engine dispatch) and, for the
    # personalized form, the in-graph seed count — the seed flag join is
    # lazily checkpointed first so the count job materializes it and the
    # spine below reuses the same blocks.
    flagged = None
    if seeds is not None:
        seed_ids = seeds.select(
            F.col(seeds.columns[0]).alias("node")
        ).distinct()
        # seeds outside the graph would silently leak teleport mass —
        # restrict to graph nodes via the left join's membership flag
        flagged = nodes.join(
            seed_ids.withColumn("__s", F.lit(1)), "node", "left"
        ).localCheckpoint(eager=False)
        counts = flagged.agg(
            F.count(F.lit(1)).alias("n"), F.sum("__s").alias("s")
        ).first()
        n_nodes, n_seeds = counts["n"], int(counts["s"] or 0)
        if n_nodes and n_seeds == 0:
            raise ValueError(
                "pagerank: seeds contain no node of the graph — "
                "personalized teleport would have nowhere to land"
            )
    else:
        n_nodes, n_seeds = nodes.count(), 0

    if n_nodes == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("bigint").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    engine = _engine(lambda: n_nodes, max_nodes_broadcast)
    # e is an eager checkpoint: the shuffle engine's sizing count reads
    # cached blocks
    return _run(
        engine, edges.sparkSession, e.count,
        partial(
            _pagerank_rounds, e, nodes, flagged, n_nodes, n_seeds,
            iterations, damping_pct, weight,
        ),
    )


def _pagerank_rounds(
    e: DataFrame,
    nodes: DataFrame,
    flagged: DataFrame | None,
    n_nodes: int,
    n_seeds: int,
    iterations: int,
    damping_pct: int,
    weight: str | None,
    small,
    num: int | None,
) -> DataFrame:
    """The round loop, shared by both engines — identical int64 math,
    different physical strategy for the |V|-bounded sides."""
    if num is not None:
        # the ONE |E| shuffle of the shuffle engine: hash-partition
        # edges by src at the window's fan-out and freeze that layout
        # for all rounds — with AQE off the checkpoint keeps
        # HashPartitioning(src), so no round re-exchanges the edge frame
        e = e.repartition(num, "src").localCheckpoint(eager=False)

    outdeg = e.groupBy("src").agg(
        (
            F.sum("w") if weight is not None else F.count(F.lit(1))
        ).alias("outdeg")
    )
    # teleport mass, exact integer: (100-d)% of one UNIT. Uniform PageRank
    # spreads it over all N nodes; PERSONALIZED PageRank concentrates
    # teleport AND the initial mass on the seed set (Page et al. §6; the
    # crawl-prioritization form). Same integer discipline: the teleport
    # becomes a per-node column on the node spine instead of a scalar.
    total_teleport = (100 - damping_pct) * (UNIT // 100)
    if flagged is None:
        spine = nodes.select(
            "node", F.lit(total_teleport // n_nodes).cast("bigint").alias("tele")
        )
    else:
        # the spine keeps the seed flag itself (not ``tele > 0``): with
        # damping_pct=100 the teleport is 0 everywhere, and an initial
        # distribution keyed off a nonzero teleport would be all zeros —
        # the walk must start FROM THE SEEDS regardless of teleport
        # (pinned by test_damping_100_still_seeds).
        spine = flagged.select(
            "node",
            F.when(F.col("__s").isNotNull(), F.lit(total_teleport // n_seeds))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("tele"),
            F.col("__s").isNotNull().alias("__seed"),
        )
    if num is not None:
        # node-hash the spine once, so the per-round contrib join and
        # the state derived from it stay co-partitioned on the node key
        spine = spine.repartition(num, "node")

    # Fold the STATIC outdeg onto the spine once (guide §2.4: two
    # operations keyed the same way share one exchange — here the join
    # disappears entirely): the state frame carries
    # (node, tele, outdeg, rank_units) across rounds, so each round is
    # exactly one edge join + one groupBy(dst) + one state update.
    # Dangling nodes keep a NULL outdeg, and the give projection
    # filters them out.
    state = spine.join(
        small(outdeg.withColumnRenamed("src", "node")), "node", "left"
    )
    if flagged is None:
        start = F.lit(UNIT // n_nodes)
    else:
        start = F.when(F.col("__seed"), F.lit(UNIT // n_seeds)).otherwise(F.lit(0))
    state = state.select(
        "node", "tele", "outdeg", start.cast("bigint").alias("rank_units")
    )
    # per-src outgoing mass, integer floor division (DIV truncates
    # toward zero == floor on the nonnegative units; DuckDB's //
    # floors identically — the cross-engine-exact step a double
    # intermediate would break, since Spark's double->bigint cast
    # truncates where DuckDB's rounds). Weighted: the split is per-EDGE
    # ((rank * w) DIV sum_w), so the build side carries (rank, sum_w)
    # and the division happens in the edge join's projection — still
    # one groupBy(dst) per round.
    if weight is None:
        give_cols = [F.expr("rank_units DIV outdeg").cast("bigint").alias("give")]
        got = F.sum("give")
    else:
        give_cols = ["rank_units", F.col("outdeg").alias("sw")]
        got = F.sum(F.expr("(rank_units * w) DIV sw")).cast("bigint")

    def step(state):
        give = small(
            state.filter(F.col("outdeg").isNotNull()).select(
                F.col("node").alias("g_src"), *give_cols
            )
        )
        contrib = (
            e.join(give, F.col("src") == F.col("g_src"))
            .groupBy("dst")
            .agg(got.alias("got"))
        )
        nxt = state.join(
            small(contrib), state.node == contrib.dst, "left"
        ).select(
            "node", "tele", "outdeg",
            (
                F.expr(f"(coalesce(got, 0L) * {damping_pct}) DIV 100")
                + F.col("tele")
            )
            .cast("bigint")
            .alias("rank_units"),
        )
        return nxt, None

    state, _ = _supersteps(state.localCheckpoint(eager=False), iterations, step)
    return state.select(
        "node",
        "rank_units",
        (F.col("rank_units") / F.lit(float(UNIT))).alias("rank"),
    )


def min_label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    max_nodes_broadcast: int = 50_000_000,
    max_edges_broadcast: int = 10_000_000,
) -> DataFrame:
    """Bounded-radius min-label propagation over the UNDIRECTED edge
    set: after R synchronous rounds every node carries the minimum node
    id within R hops — ``(node, label)``. This is the fixed-cost
    complement to ``components.connected_components``: exact CC runs
    until convergence (diameter-many rounds, unbounded on a web-scale
    link graph), while R-hop labels give a deterministic R-round budget
    — the community-seed / crawl-frontier-expansion pass (label == the
    R-hop neighborhood's representative; two nodes sharing a label are
    provably <= 2R hops apart). On a graph whose diameter <= R the
    labels ARE the connected components.

    Same physical discipline as :func:`pagerank`, both engines: labels
    are the |V|-row frame, one ``groupBy(dst) MIN`` message exchange
    per round; the broadcast engine broadcasts labels into the edge
    join, the shuffle engine co-partitions labels and edges by node
    with the AQE-off checkpoint compilation so nothing re-exchanges the
    |E| frame. MIN is idempotent/associative, so the result is
    byte-equal across engines and summation-order-free by construction
    (no fixed-point discipline even needed).

    Measured at 100x (PERFORMANCE.md r10 table): the shuffle engine is
    ~1.6x faster than broadcast (111 vs 178 s, both spill-free) — the
    broadcast engine rebuilds the |V|-row label broadcast each round
    while the shuffle engine's exchange carries only the per-round MIN
    messages. The engine is therefore shuffle past
    ``max_nodes_broadcast`` (the memory guard) OR past
    ``max_edges_broadcast`` (the measured cost crossover), like
    :func:`kcore`.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _undirected(edges, src, dst).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    # eager, for the same reason as pagerank: the counts consume it
    # now, and a lazy checkpoint lets the round-1 broadcast thread race
    # the main job into building the upstream twice
    e = e.localCheckpoint(eager=True)
    nodes = _spine(e, "src", "dst").localCheckpoint(eager=False)
    # reads e's checkpoint blocks — cheap relative to even one
    # propagation round (2|E| symmetric rows)
    n_sym = e.count()
    engine = _engine(nodes.count, max_nodes_broadcast, n_sym // 2, max_edges_broadcast)
    return _run(
        engine, edges.sparkSession, lambda: n_sym,
        partial(_label_rounds, e, nodes, rounds),
    )


def _label_rounds(
    e: DataFrame, nodes: DataFrame, rounds: int, small, num: int | None
) -> DataFrame:
    """min_label_propagation's round loop, shared by both engines."""
    if num is not None:
        e = e.repartition(num, "src").localCheckpoint(eager=False)
        nodes = nodes.repartition(num, "node").localCheckpoint(eager=False)

    def step(labels):
        msgs = (
            e.join(
                small(
                    labels.select(
                        F.col("node").alias("g_src"),
                        F.col("label").alias("lbl"),
                    )
                ),
                F.col("src") == F.col("g_src"),
            )
            .groupBy("dst")
            .agg(F.min("lbl").alias("m"))
        )
        nxt = labels.join(
            small(msgs), labels.node == msgs.dst, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("m"), F.col("label"))
            ).alias("label"),
        )
        return nxt, None

    labels = nodes.select("node", F.col("node").alias("label"))
    return _supersteps(labels, rounds, step)[0]


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 10,
    check_converged: bool = True,
    max_nodes_broadcast: int = 50_000_000,
    max_edges_broadcast: int = 10_000_000,
) -> DataFrame:
    """Iterative k-core peeling over an undirected edge list — the
    density filter of the graph family: the k-core is the maximal
    subgraph where every node keeps degree >= k. On a near-dup pair
    graph it separates dense boilerplate/spam farms (deep cores) from
    chains of borderline matches (peeled immediately); on a
    customer-supplier graph it isolates the entrenched trading core.
    Returns ``(node, degree)`` for surviving nodes, with ``degree``
    measured INSIDE the final core.

    Peeling is confluent: the k-core is unique regardless of removal
    order (Seidman 1983, public), and a round applied to a converged
    core removes nothing — so extra rounds are idempotent and
    ``rounds`` is an upper bound, not a semantic knob. Both engines
    stop at the first round with no deaths. ``check_converged`` adds
    one tiny aggregate (min surviving degree >= k) and fails loudly if
    the peel needs more rounds — never silently returns a non-core.

    Two physical engines (same layer-synchronous peel, identical
    (node, degree) output — pinned byte-equal in
    tests/test_graph_linkage.py):

    broadcast (small graphs): each round is one degree aggregation over
    the surviving symmetric edge set plus two broadcast semi-joins
    against the |V|-bounded survivor list — edges shuffle only in the
    per-round groupBy, over a monotonically SHRINKING frame.

    shuffle (no width ceiling): **delta peeling.** The symmetric edge
    frame is hash-partitioned ONCE by ``u`` and frozen; the round state
    is the |V|-row live-degree table, co-partitioned on the same key.
    Per round, only the NEWLY dead nodes (live degree just dropped
    below k) send messages: their edges are selected with a
    co-partitioned semi-join (exchange-free), aggregated by the far
    endpoint (``groupBy(v)`` — the ONE per-round exchange, bounded by
    the edges incident to this round's deaths, not |E|), and the
    decrements land on the live-degree table through another
    co-partitioned SHUFFLE_HASH join. Nothing is broadcast, nothing
    |E|-sized moves after the initial partition, and across the WHOLE
    peel each edge is shuffled at most twice (once per endpoint death)
    — cheaper asymptotics than the broadcast engine's per-round |E|
    scan, at the price of one up-front |E| exchange. Decrements
    addressed to nodes that died the same round fall out naturally
    (the join target is the live table). Layer-synchronous equality
    with the broadcast engine holds by induction: round i's newly-dead
    set is exactly the broadcast engine's round-i removal set, so
    after R rounds both hold the same survivors with the same
    in-core degrees.

    Dispatch: shuffle past ``max_edges_broadcast`` (the COST dispatch:
    measured at 100x — PERFORMANCE.md r10 table — the delta engine is
    ~30x faster on a ~50M-edge graph, 71 vs 2155 s both spill-free,
    because the broadcast engine re-materializes the full shrinking
    frame every round while delta rounds move only the deaths'
    incident edges; broadcast wins only when the whole graph is small
    — 1x: 8.0 vs 11.0 s, the up-front |E| repartition dominating) or
    past ``max_nodes_broadcast`` (the MEMORY guard). The edge count
    comes first and reads the canonical edge checkpoint; the node
    count runs only when the edge count leaves the choice open.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    both = _undirected(edges, src, dst)
    # materializes the canonical edge checkpoint both engines iterate
    # over, so it is not a throwaway pass
    n_both = both.count()
    engine = _engine(
        lambda: both.select("u").distinct().count(), max_nodes_broadcast,
        n_both // 2, max_edges_broadcast,
    )
    rounds_fn = _kcore_broadcast_rounds if engine == "broadcast" else _kcore_delta_rounds
    deg = _run(
        engine, edges.sparkSession, lambda: n_both,
        partial(rounds_fn, both, k, rounds),
    )
    final = deg.select(
        F.col("u").alias("node"), F.col("deg").cast("bigint").alias("degree")
    )
    if check_converged:
        lo = final.agg(F.min("degree")).first()[0]
        if lo is not None and lo < k:
            raise ValueError(
                f"kcore: a surviving node still has degree {lo} < k={k} "
                f"after {rounds} rounds — the peel has not converged; "
                "raise rounds (extra rounds past convergence are idempotent "
                "and cheap: each is one aggregate over the shrunken core)"
            )
    return final


def _kcore_broadcast_rounds(
    both: DataFrame, k: int, rounds: int, small, _num: None
) -> DataFrame:
    """Broadcast engine: re-filter the shrinking edge set each round.
    Returns the ``(u, deg)`` survivor degrees. Each round's death count
    reads the checkpointed |V|-row degree table, which the chained lazy
    checkpoints would have materialized at the final action anyway; at
    the fixpoint that table already IS the result."""
    deg = None

    def step(alive):
        nonlocal deg
        deg = alive.groupBy("u").agg(
            F.count(F.lit(1)).alias("deg")
        ).localCheckpoint(eager=False)
        keep = deg.filter(F.col("deg") >= k).select("u")
        nxt = alive.join(small(keep), "u", "left_semi").join(
            small(keep.select(F.col("u").alias("v"))), "v", "left_semi"
        )
        return nxt, deg.filter(F.col("deg") < k)

    alive, settled = _supersteps(both.localCheckpoint(eager=False), rounds, step)
    if settled:
        return deg
    return alive.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))


def _kcore_delta_rounds(
    both: DataFrame, k: int, rounds: int, small, num: int
) -> DataFrame:
    """Shuffle engine: Pregel-style delta peeling over a frozen,
    u-partitioned edge frame — only newly-dead nodes send degree
    decrements, so the per-round exchange is bounded by the deaths'
    incident edges and each edge moves at most twice across the peel.
    Returns the ``(u, deg)`` survivor degrees."""
    # the ONE |E| shuffle of this engine; with AQE off at compile time
    # the checkpoint preserves HashPartitioning(u), so the per-round
    # semi-join and the degree aggregation below are exchange-free
    e = both.repartition(num, "u").localCheckpoint(eager=False)

    def step(deg):
        dead = deg.filter(F.col("deg") < k).select("u")
        # edges whose near endpoint just died, keyed by the far one:
        # the semi-join is co-partitioned on u (free); the groupBy(v)
        # is THE per-round exchange, carrying only the dead nodes'
        # incident edges (map-side combined to <= |V| rows out)
        msgs = (
            e.join(small(dead), "u", "left_semi")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        # land the decrements on the live table; both sides hash on the
        # node key at the same fan-out (ProjectExec is alias-aware, so
        # the v->u rename keeps msgs' partitioning visible), so the
        # SHUFFLE_HASH join is exchange-free — and decrements addressed
        # to same-round deaths vanish here because the left side is the
        # LIVE table only
        nxt = deg.filter(F.col("deg") >= k).join(
            small(msgs.select(F.col("v").alias("u"), "dec")), "u", "left"
        ).select(
            "u", (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg")
        )
        return nxt, dead

    # live-degree table: |V| rows, co-partitioned with e on the node
    # key (groupBy("u") over a u-partitioned frame inserts no exchange
    # and emits the same HashPartitioning)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    deg, _ = _supersteps(deg.localCheckpoint(eager=False), rounds, step)
    # deg == 0 means every neighbor died: the node has NO surviving
    # edges, so the broadcast engine (degree recomputed from surviving
    # edges) never emits it — drop it here too so the engines agree
    # byte-for-byte even on a non-converged peel's final table (a
    # 0-degree node can never sit in a k>=1 core, so this never removes
    # a true core member).
    return deg.filter(F.col("deg") > 0)


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the local clustering signal (a dedup-pair graph whose nodes sit in
    many triangles is a dense boilerplate cluster; one with few is
    chains of borderline matches — different cleanup actions).

    Algorithm: **degree orientation** (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011 — public).
    Each undirected edge is oriented from the (degree, id)-smaller
    endpoint to the larger; every triangle then has exactly ONE node
    with two outgoing oriented edges, so joining oriented edges (u,v),
    (u,w) and probing (v,w) counts each triangle once — and the join
    fan-out per node is bounded by its ORIENTED out-degree, which the
    orientation caps near sqrt(|E|) even for celebrity nodes. That
    bound is the whole point at 100 TB: the naive (u,v)(v,w) join
    explodes on the highest-degree node; the oriented one cannot.

    Wedges are generated by a self-join on the oriented source, then
    closed with ONE semi-ish inner join against the symmetric edge set.
    Returns (node, triangles) for EVERY node that appears in ``edges``
    — including nodes whose only edges are self-loops (loops can't
    form triangles but their endpoints are still graph nodes) —
    zero-filled.
    """
    # checkpoint the INPUT once: it is re-read by the canonical edge
    # set below AND the node spine at the end — without truncation the
    # upstream edge producer (e.g. a quadratic fuzzy-pair join)
    # re-executes for every reuse (measured: 172s -> 8s at sf0.01 on
    # q145 when only `sym` was checkpointed and the spine read `both`)
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=False
    )
    # ...and the canonical set once more (in _undirected): degree,
    # orientation and closure all branch from here
    both = _undirected(raw, "u", "v")
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    # orient by (degree, id): strict total order, so exactly one
    # direction survives per edge. Every join in the wedge pipeline is
    # SHUFFLE_HASH-hinted: SMJ would SORT the streamed side, and at
    # 100x that side is the ~|E|*sqrt(|E|)-row wedge frame — measured
    # 13.1 GB of sort spill on the closure join alone before the hints
    # (420 s wall); the hash build sides (degrees, oriented edges, the
    # symmetric edge set) are all |E|-bounded or smaller and partition
    # cleanly, so the big frame streams unsorted.
    d1 = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    d2 = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        both.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(d1.hint("shuffle_hash"), "a")
        .join(d2.hint("shuffle_hash"), "b")
        .filter(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )

    w1 = oriented.select(F.col("a").alias("pivot"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a").alias("pivot"), F.col("b").alias("y"))
    wedges = w1.join(w2.hint("shuffle_hash"), "pivot").filter(F.col("x") < F.col("y"))
    # close against `both` (one step from the checkpoint): oriented +
    # its reverse IS the symmetric edge set, and rebuilding it from
    # `oriented` would re-run the two orientation joins a third and
    # fourth time. Build on the edge set, STREAM the
    # wedges — the asymmetric side sizes are the whole point of the
    # hint here.
    closed = wedges.join(
        both.select(F.col("u").alias("x"), F.col("v").alias("y")).hint(
            "shuffle_hash"
        ),
        ["x", "y"],
    )

    # ONE pass over the closed triangles: explode the three corners
    # instead of unioning three projections of `closed` — the union
    # form re-plans (and re-executes) the wedge+closure join pipeline,
    # the most expensive subtree in the operator, once PER CORNER
    # (three copies under the final aggregate).
    # explode triples the row count of a frame that already exists
    # instead of tripling the joins; counts are identical.
    per_node = (
        closed.select(
            F.explode(F.array("pivot", "x", "y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    # node spine from the RAW edges, not the loop-filtered set: a node
    # whose only edge is a self-loop is still a node and must appear
    # zero-filled
    return _spine(raw, "u", "v").join(per_node, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles")
    )
