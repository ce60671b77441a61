"""Construction probe for the ingest micro-batch: what it costs the driver
to BUILD (not run) the batch's DataFrames, and what plans come out.

Lands the seeded bronze chain of the benchmark's ``ingest`` workload
(``perfbench/bronzegen.py``, same block counts and late replays), takes
its timed batch, and builds, on the benchmark's own session settings:

- ``dispatch``: ``parsers.dispatch`` over the batch's bronze read;
- ``enrich``: the 8 enriched frames, through the benchmark's own
  ``Pipeline.enriched`` (10 as-of joins in all);
- ``dedup``: ``ingest.dedup_batch`` over all 13 tables.

For each step it prints the py4j commands the building thread sent (the
count is the same on every warm build) and the median build time over
``--repeats`` warm builds after one cold build. Nothing is executed:
every number is driver-side analysis and py4j traffic.

With ``--plans DIR`` it also writes each table's optimized plan
(dispatch -> enrich -> dedup) to ``DIR/<table>.txt``, expression ids
normalized (and the identity hashes of folded array literals), for
diffing two checkouts.

    python scripts/ingest_build_probe.py --seed 1 --repeats 5 [--plans DIR]
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bronzegen  # noqa: E402
import common  # noqa: E402
import domaingen  # noqa: E402
import ingest as workload  # noqa: E402
from py4j.clientserver import ClientServerConnection  # noqa: E402
from spans import Tracer  # noqa: E402

from extract_transform_load_spark.pipeline.ingest import dedup_batch  # noqa: E402
from extract_transform_load_spark.pipeline.parsers import dispatch  # noqa: E402
from extract_transform_load_spark.sources.livefeed import land_block  # noqa: E402


class CommandCounter:
    """py4j commands sent by the thread that created the counter."""

    def __init__(self) -> None:
        self.n = 0
        self._me = threading.get_ident()
        self._send = ClientServerConnection.send_command
        counter = self

        def counting(conn, command):
            if threading.get_ident() == counter._me:
                counter.n += 1
            return counter._send(conn, command)

        ClientServerConnection.send_command = counting

    def close(self) -> None:
        ClientServerConnection.send_command = self._send


def normalized_plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # expression ids, and the identity hash a folded array literal prints
    return re.sub(r"@[0-9a-f]+\b", "@N", re.sub(r"#\d+L?", "#N", plan))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--plans", help="write each table's optimized plan here")
    args = ap.parse_args(argv)

    work = common.WorkDir()
    spark = common.start_session(work)
    try:
        chain = bronzegen.generate(
            args.seed,
            workload.PREFILL_BLOCKS + workload.BLOCKS_PER_BATCH,
            late_after=workload.PREFILL_BLOCKS,
            late_every=workload.LATE_EVERY,
        )
        landing = work.sub("landing")
        files = [land_block(landing, h, rows) for h, rows in chain.deliveries]
        _, batch = workload.split(
            list(zip((h for h, _ in chain.deliveries), files)),
            bronzegen.FIRST_HEIGHT + workload.PREFILL_BLOCKS,
        )
        prices_path = f"{work.sub('prices')}/MP_Asset.parquet"
        domaingen.write_table(prices_path, domaingen.SCHEMAS["MP_Asset"], chain.prices)
        pipe = workload.Pipeline(
            spark, work, spark.read.parquet(prices_path), Tracer(spark, enabled=False)
        )
        bronze = spark.read.parquet(*(f for _, f in batch))

        steps = {
            "dispatch": lambda state: state.update(parsed=dispatch(bronze)),
            "enrich": lambda state: state.update(enriched={
                t: pipe.enriched(t, state["parsed"][t]) for t in workload.ENRICHED
            }),
            "dedup": lambda state: state.update(deduped={
                t: dedup_batch({**state["parsed"], **state["enriched"]}[t], pk, order)
                for t, (pk, order) in workload.SILVER.items()
            }),
        }
        runs: dict[str, list[tuple[int, float]]] = {s: [] for s in steps}
        counter = CommandCounter()
        try:
            for i in range(args.repeats + 1):
                state: dict = {}
                for name, step in steps.items():
                    n0, t0 = counter.n, time.perf_counter()
                    step(state)
                    if i:  # the first build is cold
                        runs[name].append((counter.n - n0, (time.perf_counter() - t0) * 1000))
        finally:
            counter.close()

        print(f"seed {args.seed}, {len(batch)} deliveries, {args.repeats} warm builds")
        for name, rs in runs.items():
            cmds = sorted({n for n, _ in rs})
            print(f"{name:>9}: {'/'.join(map(str, cmds))} commands, "
                  f"median {statistics.median(ms for _, ms in rs):.0f} ms")
        both = [a[1] + b[1] for a, b in zip(runs["dispatch"], runs["enrich"])]
        print(f"dispatch + enrich: {runs['dispatch'][0][0] + runs['enrich'][0][0]} commands, "
              f"median {statistics.median(both):.0f} ms")

        if args.plans:
            # print every field of wide structs and projections
            spark.conf.set("spark.sql.debug.maxToStringFields", 10_000)
            os.makedirs(args.plans, exist_ok=True)
            for t, df in state["deduped"].items():
                with open(os.path.join(args.plans, f"{t}.txt"), "w") as f:
                    f.write(normalized_plan(df))
            print(f"plans: {len(state['deduped'])} tables -> {args.plans}")
    finally:
        common.stop_session(spark)
        work.remove()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
