"""Job census of the ingest micro-batch: what Spark runs for one untraced
batch of the benchmark's ``ingest`` workload.

Lands the seeded bronze chain (``perfbench/bronzegen.py``, same block
counts and late replays), writes the silver tables from the bulk batch
as the workload's setup does (``Pipeline.prefill``), then runs the timed
batch (``Pipeline.batch``, tracer off, so every table is one lazy chain
that its merge's write runs) under one Spark job group and prints:

- the jobs, stages (skipped ones left out) and tasks the group fired,
  read from the driver's status store;
- the Janino classes compiled during the batch (``CodegenMetrics``);
- the batch's wall time and each table's ``merge_parquet`` wall span,
  in milliseconds from the start of the batch.

    python scripts/ingest_census.py --seed 1

The counts repeat run to run for one seed; the times swing with load.
The benchmark's modules are imported, never written: the per-table
spans come from wrapping the workload module's ``merge_parquet`` name
in this process.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bronzegen  # noqa: E402
import common  # noqa: E402
import domaingen  # noqa: E402
import ingest as workload  # noqa: E402
from spans import Span, Tracer, _span_stats  # noqa: E402

from extract_transform_load_spark.sources.livefeed import land_block  # noqa: E402

GROUP = "ingest-census"


def compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    work = common.WorkDir()
    spark = common.start_session(work)
    sc = spark.sparkContext
    merge = workload.merge_parquet
    try:
        chain = bronzegen.generate(
            args.seed,
            workload.PREFILL_BLOCKS + workload.BLOCKS_PER_BATCH,
            late_after=workload.PREFILL_BLOCKS,
            late_every=workload.LATE_EVERY,
        )
        landing = work.sub("landing")
        files = [land_block(landing, h, rows) for h, rows in chain.deliveries]
        prefill, batch = workload.split(
            list(zip((h for h, _ in chain.deliveries), files)),
            bronzegen.FIRST_HEIGHT + workload.PREFILL_BLOCKS,
        )
        prices_path = f"{work.sub('prices')}/MP_Asset.parquet"
        domaingen.write_table(prices_path, domaingen.SCHEMAS["MP_Asset"], chain.prices)
        pipe = workload.Pipeline(
            spark, work, spark.read.parquet(prices_path), Tracer(spark, enabled=False)
        )
        pipe.prefill([f for _, f in prefill])

        spans: dict[str, tuple[float, float]] = {}
        lock = threading.Lock()

        def timed_merge(spark_, path, *a, **kw):
            t0 = time.perf_counter()
            try:
                return merge(spark_, path, *a, **kw)
            finally:
                with lock:
                    spans[os.path.basename(path)] = (t0, time.perf_counter())

        workload.merge_parquet = timed_merge
        c0 = compiles(spark)
        sc.setJobGroup(GROUP, GROUP)
        t0 = time.perf_counter()
        pipe.batch([f for _, f in batch], "b0")
        batch_ms = (time.perf_counter() - t0) * 1000
        sc.setLocalProperty("spark.jobGroup.id", None)
        janino = compiles(spark) - c0

        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        stats = _span_stats(Span(0, GROUP, None, None, 0.0, 0.0, GROUP), sc.statusTracker(),
                            jsc.statusStore())
        print(f"seed {args.seed}, {len(batch)} deliveries, batch {batch_ms:.0f} ms")
        print(f"jobs {stats['jobs']}, stages {stats['stages']}, tasks {stats['tasks']}, "
              f"janino compiles {janino}")
        print("merge_parquet spans (ms from batch start):")
        for t, (a, b) in sorted(spans.items(), key=lambda kv: kv[1]):
            print(f"  {t:<24} {(a - t0) * 1000:7.0f} -> {(b - t0) * 1000:7.0f}  "
                  f"({(b - a) * 1000:.0f} ms)")
    finally:
        workload.merge_parquet = merge
        common.stop_session(spark)
        work.remove()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
