"""Job census of the ingest micro-batch: what Spark runs for one untraced
batch of the benchmark's ``ingest`` workload.

Lands the seeded bronze chain (``perfbench/bronzegen.py``, same block
counts and late replays), writes the silver tables from the bulk batch
as the workload's setup does (``Pipeline.prefill``), then runs the timed
batch (``Pipeline.batch``, tracer off, so every table is one lazy chain
that its merge's write runs). The prefill and the batch each run under
their own Spark job group, and for each the script prints:

- the wall time, and the jobs, stages (skipped ones left out) and tasks
  the group fired, read from the driver's status store;
- the Janino classes compiled meanwhile (``CodegenMetrics``);
- for the prefill, the as-of dimension-scale probes: calls, memo misses
  (each one collects a probe query) and their wall time, summed and
  longest. The prefill's worker threads share one set of Spark local
  properties, so the probes' jobs cannot get a job group of their own;
  they are counted in the prefill's;
- for the batch, each table's ``merge_parquet`` wall span, in
  milliseconds from the start of the batch.

    python scripts/ingest_census.py --seed 1

The counts repeat run to run for one seed; the times swing with load.
The benchmark's modules are imported, never written: the per-table
spans and the probe timings come from wrapping the workload module's
``merge_parquet`` name and the as-of module's probe in this process.
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

from extract_transform_load_spark.operators import asof  # noqa: E402
from extract_transform_load_spark.sources.livefeed import land_block  # noqa: E402

GROUP = "ingest-census"
PREFILL_GROUP = "ingest-census-prefill"


def compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def census(spark, group: str, run) -> tuple[float, float, int, dict]:
    """Run ``run()`` under job group ``group``: (start, wall ms, Janino
    compiles, the group's job/stage/task stats)."""
    sc = spark.sparkContext
    c0 = compiles(spark)
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ms = (time.perf_counter() - t0) * 1000
    janino = compiles(spark) - c0
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stats = _span_stats(Span(0, group, None, None, 0.0, 0.0, group), sc.statusTracker(),
                        jsc.statusStore())
    return t0, ms, janino, stats


def report(label: str, ms: float, janino: int, stats: dict) -> None:
    print(f"{label}: {ms:.0f} ms, jobs {stats['jobs']}, stages {stats['stages']}, "
          f"tasks {stats['tasks']}, janino compiles {janino}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    work = common.WorkDir()
    spark = common.start_session(work)
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
        probe, probe_ms, misses = asof._probe_right_stats, [], []

        class Memo(dict):
            def __setitem__(self, key, stats):  # only a miss stores
                misses.append(key)
                super().__setitem__(key, stats)

        def timed_probe(right, on):
            t = time.perf_counter()
            try:
                return probe(right, on)
            finally:
                probe_ms.append((time.perf_counter() - t) * 1000)

        asof._PROBE_MEMO = Memo(asof._PROBE_MEMO)
        asof._probe_right_stats = timed_probe
        try:
            _, prefill_ms, prefill_janino, prefill_stats = census(
                spark, PREFILL_GROUP, lambda: pipe.prefill([f for _, f in prefill])
            )
        finally:
            # the batch finds the entries the prefill left, as in the workload
            asof._probe_right_stats = probe
            asof._PROBE_MEMO = dict(asof._PROBE_MEMO)

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
        t0, batch_ms, janino, stats = census(
            spark, GROUP, lambda: pipe.batch([f for _, f in batch], "b0")
        )

        print(f"seed {args.seed}, {len(prefill)} prefill and {len(batch)} batch deliveries")
        report("prefill", prefill_ms, prefill_janino, prefill_stats)
        print(f"as-of probes: {len(probe_ms)} calls, {len(misses)} memo misses "
              f"({len(set(misses))} distinct keys), {sum(probe_ms):.0f} ms summed, "
              f"longest {max(probe_ms, default=0):.0f} ms")
        report("batch", batch_ms, janino, stats)
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
