"""``ingest``: the write path.

Setup lands the seeded bronze blocks (replays included) with
``livefeed.land_block``, nine times into fresh landing dirs. Then one bulk
batch of the first ``PREFILL_BLOCKS`` blocks goes through
``parsers.dispatch``, enrichment and ``ingest.dedup_batch`` and is written
as the silver tables. It fills silver and warms the JVM. ``setup_s`` is
the median landing plus the bulk batch: the batch is program work done
before the timed window, so work moved into it shows there.

The timed window is one micro-batch of the next ``BLOCKS_PER_BATCH``
blocks, run through the program's public functions:

    read bronze -> parsers.dispatch -> enrich (as-of prices)
        -> ingest.dedup_batch -> merge.merge_parquet into each silver table

followed by one aggregation round: ``snapshots.run_aggregation_round``
(written to state tables, concurrently), ``pnl.compute_loan_closings`` and
``gold.GoldLayer.refresh`` (``LS_State`` plus two hot endpoints). The
batch holds late replays of blocks that are already in silver, so its
merges rewrite non-empty tables and must leave the replayed rows as they
are. The merges of the independent silver tables run on a few threads.

Untraced, the batch is the program's own lazy chain per table, as a
streaming ``merge_sink`` runs it: each merge's write computes its table's
dispatch, enrichment and dedup. A traced batch persists each step's output
and fills it in one Spark job before the next step, so every step's Spark
work lands in its own span (all of it is released before the batch ends);
those barriers are part of the tracing overhead.

A batch costs about 13 s on 4 cores (about 27 s traced), so the window
holds one batch and one round whatever ``--seconds`` says. The checks
after the window compare the silver row counts with the generator's and
roll the gold ``LS_State`` forward incrementally against a full snapshot.
"""

from __future__ import annotations

import functools
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

import bronzegen
import common
import domaingen
from extract_transform_load_spark.api.endpoints import ENDPOINTS
from extract_transform_load_spark.pipeline.enrich import (
    attach_asof_price,
    enrich_ls_opening,
    in_stable,
)
from extract_transform_load_spark.pipeline.gold import GoldLayer, GoldTable
from extract_transform_load_spark.pipeline.ingest import dedup_batch
from extract_transform_load_spark.pipeline.parsers import dispatch
from extract_transform_load_spark.pipeline.pnl import compute_loan_closings
from extract_transform_load_spark.pipeline.snapshots import (
    ls_state_incremental,
    ls_state_snapshot,
    run_aggregation_round,
)
from extract_transform_load_spark.sources.livefeed import land_block
from extract_transform_load_spark.sources.merge import merge_parquet
from spans import subtree, total

PREFILL_BLOCKS = 60
BLOCKS_PER_BATCH = 10
LATE_EVERY = 4  # one late replay of a prefilled block every this many fresh blocks

# silver table -> (primary key, dedup order column)
SILVER = {
    "LS_Opening": (["LS_contract_id"], "Block"),
    "LS_Closing": (["LS_contract_id"], None),
    "LS_Repayment": (["LS_repayment_height", "LS_repayment_idx"], None),
    "LS_Close_Position": (["LS_position_height", "LS_position_idx"], None),
    "LS_Liquidation": (["LS_liquidation_height", "LS_liquidation_idx"], None),
    "LS_Liquidation_Warning": (["LS_contract_id", "LS_timestamp"], None),
    "LS_Auto_Close_Position": (["LS_contract_id", "LS_timestamp"], None),
    "LS_Slippage_Anomaly": (["LS_contract_id", "LS_timestamp"], None),
    "Reserve_Cover_Loss": (["LS_height", "LS_idx"], None),
    "LP_Deposit": (["LP_deposit_height", "LP_deposit_idx"], None),
    "LP_Withdraw": (["LP_withdraw_height", "LP_withdraw_idx"], None),
    "TR_Profit": (["TR_Profit_height", "TR_Profit_idx"], None),
    "TR_Rewards_Distribution": (["TR_Rewards_height", "TR_Rewards_idx"], None),
}
# tables priced in stable units at event time: (symbol, ts, amount, out)
PRICED = {
    "LS_Repayment": ("LS_payment_symbol", "LS_timestamp", "LS_payment_amnt", "LS_payment_amnt_stable"),
    "LS_Close_Position": ("LS_payment_symbol", "LS_timestamp", "LS_payment_amnt", "LS_payment_amnt_stable"),
    "LS_Liquidation": ("LS_payment_symbol", "LS_timestamp", "LS_payment_amnt", "LS_payment_amnt_stable"),
    "LP_Deposit": ("LP_symbol", "LP_timestamp", "LP_amnt_asset", "LP_amnt_stable"),
    "LP_Withdraw": ("LP_symbol", "LP_timestamp", "LP_amnt_asset", "LP_amnt_stable"),
    "TR_Profit": ("TR_Profit_symbol", "TR_Profit_timestamp", "TR_Profit_amnt", "TR_Profit_amnt_stable"),
    "TR_Rewards_Distribution": (
        "TR_Rewards_symbol", "TR_Rewards_timestamp", "TR_Rewards_amnt", "TR_Rewards_amnt_stable",
    ),
}
# the native-token amount rides along unpriced
NATIVE_AMOUNT = {"TR_Profit": ("TR_Profit_amnt", "TR_Profit_amnt_nls"),
                 "TR_Rewards_Distribution": ("TR_Rewards_amnt", "TR_Rewards_amnt_nls")}
ENRICHED = ("LS_Opening", *PRICED)
LS_TABLES = ("LS_Opening", "LS_Repayment", "LS_Close_Position", "LS_Liquidation", "LS_Closing")


class Pipeline:
    def __init__(self, spark, work, prices: DataFrame, tracer):
        self.spark, self.prices, self.tracer = spark, prices, tracer
        self.silver = work.sub("silver")
        self.state = work.sub("state")
        self.batch_stats: list[dict] = []
        self.round_span = None
        self.round_ts = None
        self.clock = {"now": None, "prev": None}  # the gold builders' timestamps
        self.gold = self._gold_layer(work.sub("gold"))

    # -- one micro-batch ---------------------------------------------------

    def enriched(self, t: str, df: DataFrame) -> DataFrame:
        """Stable-unit columns the snapshots and PnL read, priced as of
        the event time (lazy)."""
        if t == "LS_Opening":
            return enrich_ls_opening(df, self.prices)
        if t not in PRICED:
            return df
        sym, ts, amt, out = PRICED[t]
        df = attach_asof_price(df, self.prices, symbol_col=sym, ts_col=ts, out_col="__price")
        df = df.withColumn(out, in_stable(F.col(amt), F.col("__price"))).drop("__price")
        if t in NATIVE_AMOUNT:
            src, dst = NATIVE_AMOUNT[t]
            df = df.withColumn(dst, F.col(src))
        return df

    def batch(self, files: list[str], op: str) -> dict:
        span, spark = self.tracer.span, self.spark
        held, stats = [], {}

        def keep(frames: dict) -> tuple[dict, dict]:
            # untraced, the steps stay lazy: the merges' writes run them
            if not self.tracer.enabled:
                return frames, {}
            held.extend(frames.values())
            for df in frames.values():
                df.persist()
            return frames, count_rows(frames)

        with span("ingest.batch", op=op) as root:
            with span("sources.read"):
                bronze = spark.read.parquet(*files)
            with span("pipeline.parsers.dispatch"):
                parsed, n = keep(dispatch(bronze))
                stats["read"] = sum(n.values())
            with span("pipeline.enrich"):
                priced, _ = keep({t: self.enriched(t, parsed[t]) for t in ENRICHED})
                enriched = {**parsed, **priced}
            with span("pipeline.ingest.dedup_batch"):
                deduped, n = keep(
                    {t: dedup_batch(enriched[t], pk, order) for t, (pk, order) in SILVER.items()}
                )
                stats["kept"] = sum(n.values())
            with span("sources.merge.merge_parquet"):
                concurrently(
                    spark,
                    lambda t: merge_parquet(
                        spark, f"{self.silver}/{t}", deduped[t], SILVER[t][0], order_col=SILVER[t][1]
                    ),
                    SILVER,
                )
            for df in held:
                df.unpersist()
        stats["span"] = root
        return stats

    def prefill(self, files: list[str]) -> None:
        """Write the silver tables from one bulk batch: dispatch, enrich and
        dedup, then one plain write per table, all tables at once."""
        parsed = dispatch(self.spark.read.parquet(*files))
        concurrently(
            self.spark,
            lambda t: dedup_batch(self.enriched(t, parsed[t]), *SILVER[t])
            .write.mode("overwrite").parquet(f"{self.silver}/{t}"),
            SILVER,
        )

    # -- aggregation round -------------------------------------------------

    def tables(self, names=tuple(SILVER)) -> dict:
        return {t: self.spark.read.parquet(f"{self.silver}/{t}") for t in names}

    def round(self, agg_ts):
        """The run's aggregation round; no earlier round precedes it."""
        span, spark = self.tracer.span, self.spark
        with span("ingest.round", op="r0") as root:
            tables = self.tables()
            with span("pipeline.snapshots.round"):
                snaps = run_aggregation_round(tables, agg_ts, None, None)
                concurrently(
                    spark, lambda t: snaps[t].write.mode("append").parquet(f"{self.state}/{t}"), snaps
                )
            with span("pipeline.pnl.loan_closings"):
                closings = compute_loan_closings(*(tables[t] for t in LS_TABLES))
                closings.write.mode("overwrite").parquet(f"{self.state}/LS_Loan_Closing")
            with span("pipeline.gold.refresh"):
                self.clock = {"now": agg_ts, "prev": None}
                concurrently(spark, lambda name: self.gold.refresh(spark, name), GOLD)
        self.round_ts = agg_ts
        return root

    def _gold_layer(self, gold: str) -> GoldLayer:
        """``LS_State`` rolled forward incrementally, plus two hot
        endpoints materialised on the aggregation cadence."""
        layer = GoldLayer()

        def ls_args():
            t = self.tables(LS_TABLES)
            return [t[n] for n in LS_TABLES]

        layer.register(GoldTable(
            "LS_State",
            builder=lambda s: ls_state_snapshot(*ls_args(), self.clock["now"]),
            path=f"{gold}/LS_State",
            incremental=lambda s, prev: ls_state_incremental(
                prev, *ls_args(), self.clock["prev"], self.clock["now"]),
        ))
        layer.register(GoldTable(
            "realized_stats",
            builder=lambda s: ENDPOINTS["pnl/realized-stats"](
                {"LS_Loan_Closing": s.read.parquet(f"{self.state}/LS_Loan_Closing")}),
            path=f"{gold}/realized_stats",
        ))
        layer.register(GoldTable(
            "revenue_series",
            builder=lambda s: ENDPOINTS["treasury/revenue-series"](self.tables(["TR_Profit"])),
            path=f"{gold}/revenue_series",
        ))
        return layer


GOLD = ("LS_State", "realized_stats", "revenue_series")


def concurrently(spark, fn, items) -> None:
    """Run ``fn`` over independent tables on a few threads. Each thread
    inherits the caller's Spark job group, so the work stays in the
    caller's span."""
    with ThreadPoolExecutor(common.CORES) as pool:
        list(pool.map(inheritable_thread_target(spark)(fn), list(items)))


def count_rows(frames: dict) -> dict[str, int]:
    """Row count of every frame in one Spark job. Over persisted frames
    that job fills their caches (a cache is built whole, whichever
    columns its first reader needs)."""
    tagged = [df.select(F.lit(t).alias("t")) for t, df in frames.items()]
    rows = functools.reduce(DataFrame.unionByName, tagged).groupBy("t").count().collect()
    counts = {t: 0 for t in frames}
    counts.update({r["t"]: r["count"] for r in rows})
    return counts


def split(deliveries: list[tuple[int, str]], height: int) -> tuple[list, list]:
    """Cut the delivery stream before the first delivery of ``height``:
    the blocks before it, and the rest with the replays that arrive among
    them."""
    cut = next(i for i, (h, _) in enumerate(deliveries) if h == height)
    return deliveries[:cut], deliveries[cut:]


def run(spark, work, seed: int, seconds: float, tracer) -> dict:
    chain = bronzegen.generate(
        seed, PREFILL_BLOCKS + BLOCKS_PER_BATCH, late_after=PREFILL_BLOCKS, late_every=LATE_EVERY
    )
    land_ms: list[float] = []

    def setup(i: int) -> list[str]:
        landing = work.sub(f"landing{i}")
        files = []
        for h, rows in chain.deliveries:
            t0 = time.perf_counter()
            files.append(land_block(landing, h, rows))
            land_ms.append((time.perf_counter() - t0) * 1000)
        return files

    # landing takes about 0.1 s: more repeats keep its median steady
    land_s, files = common.timed_setup(setup, repeats=9)

    prices_path = f"{work.sub('prices')}/MP_Asset.parquet"
    domaingen.write_table(prices_path, domaingen.SCHEMAS["MP_Asset"], chain.prices)
    pipe = Pipeline(spark, work, spark.read.parquet(prices_path), tracer)

    prefill, batch = split(
        list(zip((h for h, _ in chain.deliveries), files)), bronzegen.FIRST_HEIGHT + PREFILL_BLOCKS
    )
    t0 = time.perf_counter()
    pipe.prefill([f for _, f in prefill])
    prefill_s = time.perf_counter() - t0
    common.log(f"landing: {land_s:.2f} s, prefill: {len(prefill)} deliveries, {prefill_s:.1f} s")
    merged = {h for h, _ in prefill}
    late = sum(1 for h, _ in batch if h in merged)

    gc0 = common.gc_ms(spark)
    t0 = time.perf_counter()
    st = pipe.batch([f for _, f in batch], "b0")
    batch_ms = (time.perf_counter() - t0) * 1000
    common.log(f"batch: {len(batch)} deliveries ({late} late replays), {batch_ms:.0f} ms")
    new = {h for h, _ in batch} - merged
    merged |= new
    if tracer.enabled:
        tracer.resolve()
        pipe.batch_stats.append({**st, "events": sum(sum(chain.landed[h].values()) for h in new)})
    t0 = time.perf_counter()
    root = pipe.round(bronzegen.block_time(max(merged)).replace(tzinfo=None))
    round_s = time.perf_counter() - t0
    gc_window = common.gc_ms(spark) - gc0
    common.log(f"round: {round_s:.1f} s")
    if tracer.enabled:
        tracer.resolve()
        pipe.round_span = root

    t0 = time.perf_counter()
    failures = check(spark, pipe, chain, merged)
    if not late:
        failures.append("late_replays: the timed batch holds no late replay")
    common.log(f"check: {time.perf_counter() - t0:.1f} s")
    out = {
        "setup_s": land_s + prefill_s,
        "ops_ms": [batch_ms],
        "round_s": round_s,
        "attempted": 2 + len(CHECKS),
        "failures": failures,
        "gc_ms": gc_window,
        "layers": {},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, pipe, land_ms)
    return out


def _layers(tracer, pipe: Pipeline, land_ms: list[float]) -> dict:
    spans = tracer.spans
    steps = {
        "pipeline.parsers.dispatch": [], "pipeline.enrich": [],
        "pipeline.ingest.dedup_batch": [], "sources.merge.merge_parquet": [],
    }
    scans, read, kept, written = [], 0, 0, 0
    for st in pipe.batch_stats:
        by = {s.name: s for s in subtree(spans, st["span"])}
        for name, ms in steps.items():
            ms.append(by[name].ms)
        # stages under dispatch that read files: the bronze scans
        scans.append(by["pipeline.parsers.dispatch"].stats.get("scan_stages", 0))
        written += total(subtree(spans, by["sources.merge.merge_parquet"]), "output_bytes")
        read += st["read"]
        kept += st["kept"]
    silver_files = sum(
        len([f for f in os.listdir(f"{pipe.silver}/{t}") if f.endswith(".parquet")]) for t in SILVER
    )

    def round_ms(name):
        return next(s.ms for s in subtree(spans, pipe.round_span) if s.name == name)

    return {
        "sources.livefeed.land_block_ms": common.median(land_ms),
        "pipeline.parsers.dispatch_ms": common.median(steps["pipeline.parsers.dispatch"]),
        "pipeline.parsers.bronze_scans_per_batch": common.median(scans),
        "pipeline.enrich_ms": common.median(steps["pipeline.enrich"]),
        "pipeline.ingest.dedup_batch_ms": common.median(steps["pipeline.ingest.dedup_batch"]),
        "pipeline.ingest.kept_ratio": kept / max(1, read),
        "sources.merge.merge_parquet_ms": common.median(steps["sources.merge.merge_parquet"]),
        "sources.merge.bytes_written_per_event": written / max(1, sum(st["events"] for st in pipe.batch_stats)),
        "sources.merge.files_written": silver_files,
        "pipeline.snapshots.round_ms": round_ms("pipeline.snapshots.round"),
        "pipeline.pnl.loan_closings_ms": round_ms("pipeline.pnl.loan_closings"),
        "pipeline.gold.refresh_ms": round_ms("pipeline.gold.refresh"),
    }


# ---------------------------------------------------------------------------
# output checks (run after the timed window)
# ---------------------------------------------------------------------------

CHECKS = ("silver_counts", "gold_ls_state", "late_replays")


def check(spark, pipe: Pipeline, chain, merged: set[int]) -> list[str]:
    failures = []
    # replays must not add rows, neither those inside one batch nor the
    # late ones re-merged into silver that already holds their block:
    # silver holds each landed event once
    expect = chain.expected_counts(merged)
    got = count_rows(pipe.tables())
    bad = [f"{t} {got[t]} rows, expected {expect[t]}" for t in SILVER if got[t] != expect[t]]
    if bad:
        failures.append("silver_counts: " + "; ".join(bad))

    # the gold LS_State, rolled forward incrementally, equals a full snapshot
    later = pipe.round_ts + timedelta(hours=1)
    pipe.clock = {"now": later, "prev": pipe.round_ts}
    pipe.gold.refresh(spark, "LS_State", incremental=True)
    gold = pipe.gold.read(spark, "LS_State")
    t = pipe.tables(LS_TABLES)
    full = ls_state_snapshot(*(t[n] for n in LS_TABLES), later)
    g = common.digest(gold.columns, [tuple(r) for r in gold.collect()])
    f = common.digest(full.columns, [tuple(r) for r in full.collect()])
    if g != f:
        failures.append("gold_ls_state: gold LS_State differs from a full ls_state_snapshot")
    return failures
