"""100x scale measurement for the round-9/10 operators that lacked
100x rows (PERFORMANCE.md; the r9 verdict's ranked task 5):

- ``kcore`` (both engines, forced by ``max_edges_broadcast``) over the
  100x orders+lineitem edge replica
  (the q150 feed at 100x; reuses bench_pipeline_scale100's replica).
  Edge-scaling rule: each replica-shifted custkey reproduces its
  original supplier set, so distinct edges scale ~100x while the
  PER-CUSTOMER degree distribution is invariant — the peel depth
  (rounds to converge at k=30) matches 1x, so the rows isolate the
  per-round cost at 100x width. Supplier-side degrees grow ~100x
  (they aggregate all replicas), which is exactly the hub shape the
  degree aggregation's map-side combine must absorb.
- ``min_label_propagation`` (both engines; the broadcast leg runs
  under the default thresholds, the shuffle leg forces
  ``max_edges_broadcast=0``) over the 100x fuzzy-pair
  graph (the q153 feed at 100x; |E| scales linearly with customers —
  the q145 scaling rule: 9-digit regenerated names keep prefix blocks
  <= 1000 rows and a constant ~27 dist-1 neighbors per name).
- ``write_zordered`` (quantile default) over the 100x lineitem
  replica, PLUS a file-pruning proof: the fraction of output files a
  two-column conjunctive predicate can skip on parquet min/max
  footers alone — the number the whole layout exists to move.

Run from the repo root: ``python scripts/bench_graph_zorder_scale100.py
[subset names...]``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from _benchutil import measure  # noqa: E402
from bench_pipeline_scale100 import REPLICA_PATH, build_replica  # noqa: E402
from bench_graph_linkage_scale100 import (  # noqa: E402
    CUST_PATH,
    SUPPLIER_OFFSET,
    build_customer_replica,
    noop,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ZPATH = "/tmp/zorder_scale"
ZCOLS = ["l_quantity", "l_extendedprice", "l_discount"]


def main() -> None:
    from extract_transform_load_spark.operators.graph import (
        kcore,
        min_label_propagation,
    )
    from extract_transform_load_spark.operators.linkage import fuzzy_pairs
    from extract_transform_load_spark.operators.zorder import write_zordered
    from extract_transform_load_spark.sources.tables import load

    from extract_transform_load_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.enabled": "true"})  # REST metrics
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_replica(spark, load)
    build_customer_replica(spark, load)
    print(f"replica build/load {time.time() - t0:.0f}s", flush=True)

    def edges_from(sf_dir: str):
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey"))
                .cast("bigint")
                .alias("dst"),
            )
            .distinct()
        )

    def run_kcore(sf_dir: str) -> None:
        # force the broadcast engine: the 100x replica's edge count is
        # past the default cost crossover (max_edges_broadcast)
        noop(kcore(edges_from(sf_dir), k=30, rounds=10, max_edges_broadcast=10**12))

    def run_kcore_shuffle(sf_dir: str) -> None:
        # a zero edge threshold forces the shuffle engine
        noop(kcore(edges_from(sf_dir), k=30, rounds=10, max_edges_broadcast=0))

    def pair_graph(sf_dir: str):
        return fuzzy_pairs(
            load(spark, sf_dir, "customer"),
            id_col="c_custkey",
            name_col="c_name",
            block_len=15,
            max_dist=1,
        )

    def run_labelprop(sf_dir: str) -> None:
        noop(
            min_label_propagation(
                pair_graph(sf_dir), src="id_a", dst="id_b", rounds=3
            )
        )

    def run_labelprop_shuffle(sf_dir: str) -> None:
        noop(
            min_label_propagation(
                pair_graph(sf_dir),
                src="id_a",
                dst="id_b",
                rounds=3,
                max_edges_broadcast=0,  # force the shuffle engine
            )
        )

    def run_zorder_write(sf_dir: str) -> None:
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", *ZCOLS
        )
        # partition count scales with the leg so file sizes stay
        # comparable (~250k rows/file both legs)
        parts = 256 if sf_dir == REPLICA_PATH else 8
        shutil.rmtree(ZPATH, ignore_errors=True)
        write_zordered(li, ZPATH, ZCOLS, bits=8, partitions=parts)

    def pruning_proof() -> dict:
        """Fraction of the just-written files a two-column conjunctive
        predicate skips on min/max footers alone (quantity <= 10 AND
        discount <= 0.02 — each ~20% selective; the footer check is the
        same file.min > bound test the parquet reader runs)."""
        per_file = (
            spark.read.parquet(ZPATH)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_quantity").alias("qlo"),
                F.min("l_discount").alias("dlo"),
            )
            .collect()
        )
        skipped = sum(
            1 for r in per_file if r["qlo"] > 10.0 or r["dlo"] > 0.02
        )
        return {
            "files": len(per_file),
            "skipped": skipped,
            "skip_fraction": round(skipped / max(1, len(per_file)), 3),
        }

    only = set(sys.argv[1:])
    results = {}
    for qname, fn, dirs in (
        ("kcore_k30_10r", run_kcore, (SF_DIR, REPLICA_PATH)),
        ("kcore_shuffle_k30_10r", run_kcore_shuffle, (SF_DIR, REPLICA_PATH)),
        ("label_propagation_3r", run_labelprop, (SF_DIR, CUST_PATH)),
        (
            "label_propagation_shuffle_3r",
            run_labelprop_shuffle,
            (SF_DIR, CUST_PATH),
        ),
        ("zorder_write", run_zorder_write, (SF_DIR, REPLICA_PATH)),
    ):
        if only and qname not in only:
            continue
        fn(SF_DIR)  # warm codegen
        row = {}
        for label, d in (("1x", dirs[0]), ("100x", dirs[1])):
            row[label] = measure(spark, lambda: fn(d))
            if qname == "zorder_write":
                row[f"{label}_pruning"] = pruning_proof()
        row["ratio"] = round(row["100x"]["wall_s"] / row["1x"]["wall_s"], 1)
        results[qname] = row
        print(f"{qname}: {json.dumps(row)}", flush=True)
    shutil.rmtree(ZPATH, ignore_errors=True)
    print(json.dumps({"sf_dir": SF_DIR, "results": results}))


if __name__ == "__main__":
    main()
