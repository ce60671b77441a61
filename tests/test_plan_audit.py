"""Executable plan audits: the PERFORMANCE.md claims as assertions.

Each test pins a physical-plan property that the 100 TB design depends
on (pushdown reaching the scan, broadcasts instead of fact shuffles,
single-exchange window chains, map-side partial aggregation). Plan
strings come from the pre-execution executed plan — pushdown and
explicit broadcasts are static properties, so the assertions hold at
any SF. If a refactor or a Spark conf change regresses a plan shape,
this file fails before PERFORMANCE.md goes stale.
"""

from __future__ import annotations

import pytest

from extract_transform_load_spark.plans.registry import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read.count(":") <= 8  # 7 columns of 16 — pruning reached the scan


def test_q02_point_lookup_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_point_lookup")
    assert "EqualTo(o_custkey,42)" in plan.replace(" ", "")


def test_q11_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q11_dim_join_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q17_chain_all_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q17_multiway_chain")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q15_asof_single_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q15_asof_join")
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_q16_range_join_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q16_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q26_latest_per_key_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q26_latest_per_key")
    assert "partial_max_by" in plan


def test_q59_sessionization_one_exchange_one_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q59_sessionization")
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort ") + plan.count("+- *Sort ") >= 1
    # window chain + session groupBy reuse the one user partitioning
    assert plan.count("Exchange") == 1


def test_q63_quantized_topk_no_corpus_shuffle(spark, sf_dir):
    """The corpus side must stream: the probe batch is collected
    driver-side into the Arrow kernel closure (r11 — no broadcast join
    at all), so the ONLY exchange left is the final top-k window's, and
    its input is batch-local top-k rows, never the scored corpus."""
    plan = plan_of(spark, sf_dir, "q63_quantized_topk")
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 1
    assert "BroadcastNestedLoopJoin" not in plan and "SortMergeJoin" not in plan


def test_q64_hash_split_scan_local(spark, sf_dir):
    """Split assignment adds no exchange beyond the rollup's own."""
    plan = plan_of(spark, sf_dir, "q64_hash_split")
    assert plan.count("Exchange") == 1


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q26_latest_per_key", "q50_rollup_totals"],
)
def test_aggregates_are_codegen(spark, sf_dir, name):
    """Hot aggregation paths stay inside whole-stage codegen (the `*(n)`
    stage markers only appear in the finalized adaptive plan, so
    execute first)."""
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan  # at least one whole-stage-codegen stage


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """When a selective dim filter feeds a shuffle join, Spark injects a
    Bloom filter from the dim side into the fact scan (might_contain
    pre-filter) — runtime row pruning before the shuffle. The
    application-side size gate (default 10 GB) is what keeps it off for
    toy inputs, so the test zeroes it; a 100 TB fact table clears the
    default gate on its own."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter was not injected"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q68_stratified_sample_windowgrouplimit(spark, sf_dir):
    # the rank-limit must sit BELOW the exchange (Partial) so the
    # shuffle carries ~N rows per stratum per input partition
    plan = plan_of(spark, sf_dir, "q68_stratified_sample")
    assert "WindowGroupLimit" in plan
    partial = plan.split("Exchange")[-1]  # below the (only) exchange
    assert "WindowGroupLimit" in partial and "Partial" in partial
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read  # only doc_id + lang leave the scan


def test_q69_decontamination_semi_join_no_text_in_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q69_decontamination")
    assert "LeftSemi" in plan  # train-gram membership is a semi join
    assert "CartesianProduct" not in plan


def test_q72_dedup_delta_pushdown_and_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q72_dedup_delta")
    # the delta/corpus split predicates reach both parquet scans
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(doc_id,400)" in flat
    assert "LessThan(doc_id,400)" in flat
    assert "LeftAnti" in plan  # store rejection is an anti join


def test_q73_bm25_broadcasts_stats(spark, sf_dir):
    # df + (N, avgdl) scalars must broadcast; the tf stream must not
    # sort-merge against them
    plan = plan_of(spark, sf_dir, "q73_bm25_ranking")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q74_weighted_sample_takeordered(spark, sf_dir):
    # top-n must be TakeOrdered (n per partition), never a global sort
    plan = plan_of(spark, sf_dir, "q74_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


@pytest.mark.parametrize("name", ["q77_leakage_safe_split", "q78_chunking", "q84_pii_scrub"])
def test_scan_local_queries_have_no_exchange(spark, sf_dir, name):
    # split assignment and chunking are pure scan-side expressions —
    # any Exchange here is a regression
    plan = plan_of(spark, sf_dir, name)
    assert "Exchange" not in plan, name


def test_q83_mixture_probe_side_broadcast_only(spark, sf_dir):
    # the corpus side must join the 5-row probability table by broadcast
    # and never sort-merge; the only exchanges belong to the tiny
    # per-group count aggregate feeding the broadcast
    plan = plan_of(spark, sf_dir, "q83_mixture_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q88_skew_report_takeordered(spark, sf_dir):
    # the hot-key top-N must be TakeOrdered over the count aggregate —
    # a rangepartitioned global sort of the key space is the regression
    plan = plan_of(spark, sf_dir, "q88_skew_report")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q89_boilerplate_two_shuffle_budget(spark, sf_dir):
    # gram count + doc rollup; the gram/count join must reuse the gram
    # hash partitioning rather than add a third shuffle of the grams
    plan = plan_of(spark, sf_dir, "q89_boilerplate_mass")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_q93_roundtrip_is_one_scan_one_exchange(spark, sf_dir):
    # encode + decode run as constant-map lookups INSIDE the corpus
    # scan projection (textops.vocab_maps): no joins of any kind, and
    # the only exchange is the final per-language aggregate. The join
    # formulation this replaced needed two broadcast joins plus two
    # token-stream shuffles.
    plan = plan_of(spark, sf_dir, "q93_roundtrip_fidelity")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial+final of ONE aggregate
    assert "CartesianProduct" not in plan


def test_q95_scd2_single_window_exchange(spark, sf_dir):
    # both window operators (no-op dedupe lag + version-closing lead)
    # must share ONE per-key exchange; the stale-change filter joins
    # via broadcast, and history/current never cartesian
    plan = plan_of(spark, sf_dir, "q95_scd2_dimension")
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q94_scrub_shuffle_budget(spark, sf_dir):
    # gram doc-frequency, occurrence/frequent-gram join, per-doc
    # coverage collapse, coverage/docs join — bounded exchange budget
    # and no text column in any exchange-feeding projection beyond the
    # final doc join
    plan = plan_of(spark, sf_dir, "q94_boilerplate_scrub")
    assert plan.count("Exchange hashpartitioning") <= 5
    assert "CartesianProduct" not in plan


def test_q98_dsir_totals_broadcast(spark, sf_dir):
    """The three model scalars broadcast; the only shuffles are the two
    token-stream aggregates, the term join, and the final per-doc agg."""
    plan = plan_of(spark, sf_dir, "q98_dsir_selection")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q101_paragraph_dedup_two_key_shuffles(spark, sf_dir):
    """Chunking is scan-local; budget = chunk-keyed window exchange +
    doc-keyed reassembly exchange (plus their sorts), nothing else."""
    plan = plan_of(spark, sf_dir, "q101_paragraph_dedup")
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan


def test_q102_decontamination_test_side_broadcast(spark, sf_dir):
    """Train never shuffles for the similarity step: the test set
    broadcasts into a nested-loop cross join, and the only hash
    exchange is the per-train-vector max combine."""
    plan = plan_of(spark, sf_dir, "q102_embedding_decontamination")
    assert "BroadcastNestedLoopJoin" in plan
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_winnowing_arrow_scan_local(spark, sf_dir):
    """Winnowing runs on the Arrow extractor, once, scan-locally.

    q58 must be a single MapInPandas over the scan with ZERO exchange
    (the per-doc summary is computed inside the map). q103 must extract
    anchors exactly once (one MapInPandas — the round-1 join-back
    formulation evaluated the extraction subplan per join side, 2x the
    runtime) and shuffle only anchors: two exchanges (fp count window,
    per-doc island window)."""
    import re

    q58 = plan_of(spark, sf_dir, "q58_winnowing")
    assert "MapInPandas" in q58, q58
    # no KEY shuffle ever; a RoundRobin spread may appear only for
    # under-parallelized small fixtures (operators.spread.spread_small_scan)
    assert "Exchange hashpartitioning" not in q58, q58

    q103 = plan_of(spark, sf_dir, "q103_repeated_spans")
    assert q103.count("MapInPandas") == 1, q103
    assert len(re.findall(r"Exchange hashpartitioning", q103)) <= 2, q103


def test_pagination_is_takeordered_no_window(spark, sf_dir):
    """Offset pagination (q04/q05/q36) must plan as TakeOrderedAndProject
    — per-partition top-(offset+limit) merged on the driver — with NO
    row_number window anywhere: a global Window.orderBy funnels the
    whole filtered set through one task, the round-1 scale-weak spot."""
    for name in ("q04_search_paginated", "q05_txs_filtered_paged", "q36_history_union_paged"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_pagination_deep_offset_guard():
    """Offsets past max_offset raise toward keyset_page instead of
    silently buffering offset+limit rows in every partition."""
    import pytest as _pytest

    from extract_transform_load_spark.operators.pagination import paginate

    with _pytest.raises(ValueError, match="keyset_page"):
        paginate(None, [], offset=100_001, limit=10)


def test_probe_collect_guard(spark):
    """PQ/IVF driver-side LUT paths must refuse corpus-sized query sets
    (queries==corpus would collect the corpus to the driver)."""
    import pytest as _pytest

    from extract_transform_load_spark.operators.similarity import collect_probe_batch

    big = spark.range(0, 11_000).selectExpr("id AS query_id", "array(1.0) AS embedding")
    with _pytest.raises(ValueError, match="probe batch"):
        collect_probe_batch(big, "query_id", "embedding")


def test_q27_cumulative_no_unpartitioned_series_window(spark, sf_dir):
    """q27's per-row cumulative window must be PARTITIONED (by month
    bucket); the only orderBy-without-partition window allowed is the
    bucket-offset pass over O(months) rows. Detect by asserting every
    Window node that sorts by ts carries a partition spec."""
    plan = plan_of(spark, sf_dir, "q27_cumulative_sum")
    series_windows = [
        seg.split("\n")[0] for seg in plan.split("Window ")[1:] if "ts" in seg.split("\n")[0]
    ]
    assert series_windows, "expected the per-row window over (ts, event_id)"
    # the series window spec must include the bucket partition expression
    assert all("__bucket" in head for head in series_windows), plan[:2000]


# ---------------------------------------------------------------------------
# Pipeline layer (§2.A snapshots/PnL) — the 100 TB claims behind q111-q120.
# ---------------------------------------------------------------------------


def test_ls_state_incremental_delta_pushdown(spark, tmp_path):
    """The hourly roll-forward's value at 100 TB is that the delta scan
    partition-prunes to the (prev_ts, ts] window: the time filters must
    reach the parquet scan, not evaluate post-scan."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.pipeline.snapshots import ls_state_incremental

    events = spark.range(0, 1000).select(
        F.col("id").alias("LS_contract_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias("LS_timestamp"),
        F.lit(False).alias("LS_loan_close"),
        F.lit(100).cast("decimal(38,0)").alias("LS_principal_stable"),
        F.lit(500).cast("decimal(38,0)").alias("LS_payment_amnt_stable"),
    )
    path = str(tmp_path / "repayments")
    events.write.parquet(path)
    rep = spark.read.parquet(path)
    empty = rep.limit(0)
    prev = spark.range(0, 10).select(
        F.col("id").alias("LS_contract_id"),
        F.lit(1000).cast("decimal(38,0)").alias("LS_amnt_stable"),
        F.lit(900).cast("decimal(38,0)").alias("LS_principal_stable"),
        F.lit(0).cast("decimal(38,0)").alias("LS_repaid_stable"),
    )
    opening = spark.range(0, 0).select(
        F.col("id").alias("LS_contract_id"),
        F.timestamp_seconds(F.lit(1700000000)).alias("LS_timestamp"),
        F.lit(0).cast("decimal(38,0)").alias("LS_loan_amnt_stable"),
        F.lit(0).cast("decimal(38,0)").alias("LS_cltr_amnt_stable"),
    )
    out = ls_state_incremental(
        prev, opening, rep, empty, empty, empty.select("LS_contract_id", "LS_timestamp"),
        "2023-11-15 00:00:00", "2023-11-16 00:00:00",
    )
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = out._jdf.queryExecution().executedPlan().toString().replace(" ", "")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "PushedFilters:[IsNotNull(LS_timestamp),GreaterThan(LS_timestamp" in plan, plan[:3000]
    assert "LessThanOrEqual(LS_timestamp" in plan


@pytest.mark.parametrize(
    "name", ["q111_ls_state_snapshot", "q112_realized_pnl", "q117_ls_state_incremental"]
)
def test_pipeline_queries_no_window_no_single_partition(spark, sf_dir, name):
    """Snapshots and PnL are joins + partial aggregates only: no window
    operator serializing per-key history through one task, and no
    single-partition exchange anywhere in the plan. q112's round-5 as-of
    LPN price lookup specifically must be the BROADCAST form
    (operators/asof.py::as_of_join_auto picks it for the dimension-scale
    price series — sorted-tick arrays behind a broadcast join), NOT the
    union-sort window, whose |symbols|-way partitioning would cap the
    closed-contract frame's parallelism at 7 tasks."""
    plan = plan_of(spark, sf_dir, name)
    assert "Window" not in plan, name
    assert "Exchange SinglePartition" not in plan, name
    if name == "q112_realized_pnl":
        # the packed tick arrays (collect_list aggregate) behind a
        # broadcast join; sort_array itself lives in a Project
        # expression the plan printer truncates
        assert "collect_list" in plan and "BroadcastHashJoin" in plan


def test_ls_state_snapshot_partial_aggregation(spark, sf_dir):
    """Per-contract cumulative sums must map-side combine (partial_sum)
    so the shuffle carries one row per contract per map task."""
    plan = plan_of(spark, sf_dir, "q111_ls_state_snapshot")
    assert "partial_sum" in plan


def test_q121_bloom_corpus_side_never_exchanges_before_verify(spark, sf_dir):
    """The Bloom prefilter must be a scan-local filter and the verify
    join a broadcast: on the LeftSemi verify join, the STREAMED (corpus)
    side must run scan → bloom filter → join with no exchange — the only
    gram exchange allowed is the benchmark side's tiny distinct under
    its BroadcastExchange."""
    plan = plan_of(spark, sf_dir, "q121_bloom_decontamination")
    assert plan.count("SortMergeJoin") == 0
    semi = plan.split("LeftSemi", 1)[1]
    corpus_side = semi.split("BroadcastExchange", 1)[0]  # streamed side prints first
    assert "shiftrightunsigned" in corpus_side  # the bloom probe sits here
    assert "FileScan" in corpus_side
    assert "Exchange" not in corpus_side, "corpus grams were shuffled before verify"


# -- A12-A17 cadence at 100 TB: the aggregation round over a date-
# -- partitioned silver layout must read one interval, not history ---------


def test_aggregation_round_partition_pruned_end_to_end(spark, tmp_path):
    """Round-4 verdict task 6, executable: write the silver tables
    date-partitioned (`event_date = to_date(ts)`), run the REAL
    run_aggregation_round against the parquet, and assert that

    - every windowed PL_State leg's file scan carries BOTH a
      PartitionFilters entry on event_date (directory pruning — the
      100 TB lever) and PushedFilters timestamp bounds (row-group
      pruning inside the surviving partitions), and
    - the partitioned plan returns the exact rows of the in-memory
      plan (the date predicates are implied, never semantic).
    """
    from datetime import datetime

    import pyspark.sql.functions as F

    from extract_transform_load_spark.pipeline.snapshots import run_aggregation_round

    from .domain_fixtures import build_domain_tables

    mem = build_domain_tables(spark)
    # the fixture's LS_Close_Position is empty, and a partitioned write
    # of an empty frame emits no readable files; one inert row (unknown
    # contract, zero amount, non-terminal) is shared by BOTH runs so
    # every table exercises the partitioned path without changing any
    # snapshot or rollup value
    from datetime import datetime as _dt
    from decimal import Decimal as _D

    mem["LS_Close_Position"] = mem["LS_Close_Position"].unionByName(
        spark.createDataFrame(
            [(0, 0, "no-such-lease", _D(0), _dt(2023, 6, 1), False)],
            mem["LS_Close_Position"].schema,
        )
    )
    ts_col = {
        "LS_Opening": "LS_timestamp",
        "LS_Repayment": "LS_timestamp",
        "LS_Close_Position": "LS_timestamp",
        "LS_Liquidation": "LS_timestamp",
        "LS_Closing": "LS_timestamp",
        "LP_Deposit": "LP_timestamp",
        "LP_Withdraw": "LP_timestamp",
        "TR_Profit": "TR_Profit_timestamp",
        "TR_Rewards_Distribution": "TR_Rewards_timestamp",
    }
    silver: dict = {}
    for name, tcol in ts_col.items():
        path = str(tmp_path / name)
        dated = mem[name].withColumn("event_date", F.to_date(F.col(tcol)))
        dated.write.partitionBy("event_date").parquet(path)
        silver[name] = spark.read.parquet(path)

    args = dict(
        agg_timestamp=datetime(2024, 3, 1),
        prev_timestamp=datetime(2024, 1, 15),
        prev_prev_timestamp=datetime(2020, 1, 1),
    )
    out = run_aggregation_round(silver, **args)
    pl = out["PL_State"]
    plan = pl._jdf.queryExecution().executedPlan().toString()

    # every parquet scan of a windowed leg prunes partitions AND pushes
    # the timestamp bounds; scans of (lo, hi] legs carry both bounds.
    # The ONLY scans allowed without a date bound are join-side
    # LS_Opening reads (pools_borrowed, the OUT_LS leg): a lease closed
    # inside the window may have opened arbitrarily long ago, so those
    # are time-unboundable by semantics — they carry no timestamp
    # filter at all, and their probe side is the pruned one.
    scans = [s for s in plan.split("FileScan parquet")[1:]]
    assert scans, "no parquet scans in the PL_State plan"

    def part_filters(s: str) -> str:
        return s.split("PartitionFilters:")[1].split("]")[0] if "PartitionFilters:" in s else ""

    def data_filters(s: str) -> str:
        return s.split("DataFilters:")[1].split("]")[0] if "DataFilters:" in s else ""

    unpruned = [s for s in scans if "event_date" not in part_filters(s)]
    for s in unpruned:
        assert "timestamp" not in data_filters(s).lower(), (
            "a time-filtered scan did not prune partitions: " + s[:300]
        )
    assert len(unpruned) <= 2, f"{len(unpruned)} unbounded scans (expected the 2 join-side opening reads)"
    both_bounds = [
        s
        for s in scans
        if "GreaterThan(" in s.split("PushedFilters:")[1].split("]")[0]
        and "LessThan" in s.split("PushedFilters:")[1].split("]")[0]
    ]
    # the (last_ts, ts] legs: repayments, deposits, withdrawals, profit,
    # rewards, closings, openings — at least those seven scans carry
    # both pushed bounds (snapshot legs carry only the upper bound)
    assert len(both_bounds) >= 7, f"only {len(both_bounds)} scans push both window bounds"

    # identical rows vs the in-memory (unpartitioned) run
    mem_out = run_aggregation_round(mem, **args)
    assert pl.collect() == mem_out["PL_State"].collect()
    got = out["LS_State"].orderBy("LS_contract_id").collect()
    want = mem_out["LS_State"].orderBy("LS_contract_id").collect()
    assert [r["LS_contract_id"] for r in got] == [r["LS_contract_id"] for r in want]


def test_windowed_partition_bound_requires_matching_provenance(spark):
    """ADVICE r5: the event_date bound is only implied when event_date
    derives from the filtered timestamp column. With mismatched
    provenance declared, windowed() must keep the row whose secondary
    timestamp falls on a different date than its partition."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.pipeline.snapshots import windowed

    df = spark.createDataFrame(
        [("c1",)], "id string"
    ).select(
        "id",
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("created_ts"),
        F.lit("2024-03-05 10:00:00").cast("timestamp").alias("closed_ts"),
    ).withColumn("event_date", F.to_date("created_ts"))

    lo, hi = "2024-03-01 00:00:00", "2024-03-31 00:00:00"
    # mismatched provenance declared: date bound skipped, row kept
    assert windowed(df, "closed_ts", lo=lo, hi=hi,
                    partition_from="created_ts").count() == 1
    # default assumes event_date = to_date(ts_col): here that contract
    # is violated by construction, and the row is (correctly per the
    # declared contract, wrongly per the data) pruned — the reason the
    # parameter exists
    assert windowed(df, "closed_ts", lo=lo, hi=hi).count() == 0
    # matching provenance: bound emitted and correct
    assert windowed(df, "created_ts",
                    lo="2024-01-01 00:00:00", hi="2024-01-31 00:00:00").count() == 1


def test_q128_candidate_semi_join_guards_text_shuffle(spark, sf_dir):
    """cross_doc_spans' scale posture: the corpus text reaches the
    pair-extension joins only through the broadcast LEFT-SEMI candidate
    filter, so non-candidate documents never leave their scan. The seed
    side is built by one groupBy + bounded bucket explode — no anchor
    self-join in the plan."""
    plan = plan_of(spark, sf_dir, "q128_cross_doc_spans")
    # candidate filter: broadcast semi-joins on the id set guard every
    # path text takes into the extension joins (the printed tree repeats
    # the shared subplan per referencing branch)
    assert plan.count("LeftSemi, BuildRight") >= 2
    # exactly one Arrow extension stage and no pandas cogroup/self-join
    assert plan.count("MapInPandas extend") == 1


def test_q127_production_gram_cardinality_single_exchange(spark, sf_dir):
    """The production gram-cardinality form must never pay the exact
    distinct: one exchange total (the per-n partial->final HLL merge),
    no count(distinct) anywhere. Its audit twin q124 pays a second
    exchange for the exact column — by design, and only q124."""
    p127 = plan_of(spark, sf_dir, "q127_gram_cardinality_hll")
    assert "approx_count_distinct" in p127
    assert "count(distinct" not in p127  # exact distinct absent
    assert p127.count("Exchange") == 1  # map-side partial HLL merge only

    p124 = plan_of(spark, sf_dir, "q124_gram_cardinality")
    assert "partial_count(distinct" in p124  # the audit scaffold, kept there


def test_q134_classifier_weights_broadcast_never_shuffle_join(spark, sf_dir):
    """The 256-row model joins the feature stream as a broadcast; the
    only hash exchanges are the learn-side bucket aggregate and the
    per-doc score regroup — the corpus never shuffles on a model key.
    (The production scan-local form has NO exchange at all —
    tests/test_datapipe.py pins that plus row-for-row equality.)"""
    plan = plan_of(spark, sf_dir, "q134_quality_classifier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_q136_bigram_lm_context_table_broadcasts(spark, sf_dir):
    """The capped top-512 context table must reach the scoring stream
    as a broadcast (the whole point of bounding the model at 100 TB);
    no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "q136_bigram_lm_score")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_q136_top_context_cut_is_take_ordered_not_global_sort(spark, sf_dir):
    """The top-512 context cut must compile to TakeOrderedAndProject
    (per-partition top-M, driver merges M rows) — never a
    single-partition sort of the full bigram count table, which at
    100 TB is the difference between 512 rows and the whole model
    crossing one executor."""
    from extract_transform_load_spark.operators.quality_model import (
        learn_backoff_bigram,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blp, _ = learn_backoff_bigram(docs)
    plan = blp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_q141_source_cap_window_group_limit(spark, sf_dir):
    """The per-source cap must push a top-5 below the exchange
    (WindowGroupLimit), not sort whole groups."""
    plan = plan_of(spark, sf_dir, "q141_source_caps")
    assert "WindowGroupLimit" in plan


def test_q142_linkage_broadcast_and_parallel_probe(spark, sf_dir):
    """The within-block verify joins against a BROADCAST build side, and
    the probe side is round-robin repartitioned so the quadratic stage
    parallelizes past the dimension's input-split count (the measured
    95s->12s defect at sf0.1)."""
    plan = plan_of(spark, sf_dir, "q142_fuzzy_linkage")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "RoundRobinPartitioning" in plan
    # levenshtein runs inside the join condition/filter, JVM-side —
    # no Python evaluation anywhere in the operator
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q143_pagerank_ranks_broadcast_edges_never_reshuffle(spark, sf_dir):
    """Each PageRank round joins the rank vector into the edge list via
    an explicit broadcast — the edge list (the 100 TB side) must never
    be re-shuffled per round. localCheckpoint truncates lineage, so the
    final plan shows only the LAST round: one broadcast join for the
    rank/outdeg handoff and no SortMergeJoin anywhere."""
    plan = plan_of(spark, sf_dir, "q143_pagerank")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-20 must be TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_q146_weighted_pagerank_same_physical_shape(spark, sf_dir):
    """The weighted form must keep q143's round shape: broadcast
    |V|-bounded state into the edge join, no SortMergeJoin, top-20 as
    TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "q146_pagerank_weighted")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
