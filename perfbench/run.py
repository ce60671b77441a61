"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, runs it, checks its outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run opens spans
around its calls into the program and the metrics are the per-layer ones.
Exits 1 on a wrong output, 2 when the program is not in the checkout.
A traced run writes its spans to standard error, one JSON line each.
See README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import importlib
import os
import signal
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from spans import Tracer  # noqa: E402

# analytics runs on demand; BENCHMARK.json registers serve and ingest, and
# a traced serve run also reports the plans layer
WORKLOADS = ("serve", "ingest", "analytics")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_p80_ms": "ms",
    "round_s": "s",
}

PER_LAYER = {
    "api.build_ms": "ms",
    "api.exec_ms": "ms",
    "api.driver_ms": "ms",
    "api.executor_cpu_ms": "ms",
    "api.jobs_per_req": "count",
    "api.build_jobs_per_req": "count",
    "api.rows_scanned_per_row_out": "ratio",
    "sources.tables.bind_ms": "ms",
    "sources.livefeed.land_block_ms": "ms",
    "pipeline.parsers.dispatch_ms": "ms",
    "pipeline.parsers.bronze_scans_per_batch": "count",
    "pipeline.enrich_ms": "ms",
    "pipeline.ingest.dedup_batch_ms": "ms",
    "pipeline.ingest.kept_ratio": "ratio",
    "sources.merge.merge_parquet_ms": "ms",
    "sources.merge.bytes_written_per_event": "B",
    "sources.merge.files_written": "count",
    "pipeline.snapshots.round_ms": "ms",
    "pipeline.pnl.loan_closings_ms": "ms",
    "pipeline.gold.refresh_ms": "ms",
    "session.start_s": "s",
    "session.gc_ms": "ms",
    "session.persisted_rdds_end": "count",
    "session.cached_plans_end": "count",
    "trace.overhead_pct": "%",
    "trace.op_p50_ms": "ms",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="serve at seed 0 only: rewrite the pinned per-request digests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        common.log(f"no {common.PACKAGE}/ package next to {os.path.basename(HERE)}/: nothing to measure")
        return 2
    sys.path.insert(0, common.ROOT)

    # collected timestamps come back in the process's zone: make it UTC,
    # the session's zone and the generators'
    os.environ["TZ"] = "UTC"
    time.tzset()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = importlib.import_module(args.workload)
    if args.pin and (args.workload != "serve" or args.seed != 0):
        ap.error("--pin writes the digests of serve at seed 0")
    work = common.WorkDir()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_session(work)
        start_s = time.perf_counter() - t0
        common.log(f"session start: {start_s:.1f} s")
        tracer = Tracer(spark, bool(args.trace))
        pin = {"pin": True} if args.pin else {}
        res = workload.run(spark, work, args.seed, args.seconds, tracer, **pin)
        persisted = common.persisted_rdds(spark)
        cached = common.cached_plans(spark)
        pid = common.jvm_pid(spark)
        py_mb, jvm_mb = common.vm_hwm_mb(), (common.vm_hwm_mb(pid) if pid else 0.0)
        rss = py_mb + jvm_mb
        common.log(f"peak rss: python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB")
    finally:
        if spark is not None:
            common.stop_session(spark)
        work.remove()

    tracer.dump(sys.stderr)
    failures = res["failures"]
    attempted = res["attempted"]
    for f in failures[:20]:
        common.log(f"WRONG: {f}")
    if args.trace:
        layers = dict(res["layers"])
        layers.update(
            {
                "session.start_s": start_s,
                "session.gc_ms": res["gc_ms"],
                "session.persisted_rdds_end": persisted,
                "session.cached_plans_end": cached,
                "trace.overhead_pct": 100.0 * tracer.self_s / max(1e-9, sum(res["ops_ms"]) / 1000.0),
                "trace.op_p50_ms": common.percentile(res["ops_ms"], 50),
            }
        )
        names = {**PER_LAYER, **importlib.import_module("analytics").PER_LAYER}
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in names.items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "peak_rss_mb": rss,
            "op_p50_ms": common.percentile(res["ops_ms"], 50),
            "op_p80_ms": common.percentile(res["ops_ms"], 80),
            "round_s": res["round_s"],
        }
        metrics = {k: (float(values[k]), u) for k, u in END_TO_END.items()}
    print(
        f"{args.workload}: {len(res['ops_ms'])} ops, failed_frac="
        f"{len(failures) / max(1, attempted):.4f}, session start {start_s:.1f} s",
        flush=True,
    )
    common.emit(not failures, attempted, len(failures), metrics)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
