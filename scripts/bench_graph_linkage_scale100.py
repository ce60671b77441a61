"""100x scale measurement for the round-8 graph/linkage operators
(PERFORMANCE.md "Measured scale-up: 100x" table rows):

- ``pagerank`` over the 100x orders+lineitem replica (~6M distinct
  customer-supplier edges from 60M ledger rows; reuses the
  bench_pipeline_scale100 replica builder and its key-shift protocol).
  Suppliers sit at the q143 wrapper's 1e12 offset — far above every
  replica-shifted custkey.
- ``fuzzy_pairs`` over a 100x customer replica (150k names). Names are
  REGENERATED from the shifted key (the vocabulary-renaming lesson from
  the docs replica): copying names verbatim would put 100 copies of
  every name in one block and measure the skew guard, not the operator.
- ``fuzzy_pairs_delta``: a 1x-sized fresh batch (15k renamed rows)
  probed against the 100x store — the incremental leg whose cost must
  track the DELTA, not the store.

Round-9 additions (the r8 verdict's ranked task 4):

- ``pagerank(max_nodes_broadcast=0)`` (the shuffle engine, forced by
  a zero node threshold) over the same 100x edge replica — the
  width-scaling engine's cost relative to broadcast AT A WIDTH WHERE
  BROADCAST STILL WINS (its advantage is surviving |V| > 5e7, not
  speed here; the row pins the co-partitioned round cost and shuffle
  bytes so the crossover is predictable).
- weighted and personalized PageRank over the 100x replica — q146/q147
  previously inherited q143's row.
- ``triangle_count`` over the 100x fuzzy-pair graph. Edge-count
  scaling rule: the replica regenerates names from 9-digit shifted
  keys, so prefix-15 blocks stay <= 1000 rows (the last 3 digits vary
  within a block) and each name pairs with a CONSTANT ~27 dist-1
  neighbors (one-digit edits among the last 3) — |E| therefore scales
  LINEARLY with customers (~100x), and the degree-oriented wedge bound
  stays ~sqrt(|E|) per node.

Run from the repo root: ``python scripts/bench_graph_linkage_scale100.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from _benchutil import measure  # noqa: E402
from bench_pipeline_scale100 import REPLICA_PATH, build_replica  # noqa: E402
from extract_transform_load_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CUST_PATH = "/tmp/customer100x"
SHIFT = 10_000_000
SUPPLIER_OFFSET = 1_000_000_000_000


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def build_customer_replica(spark, load) -> None:
    dst = f"{CUST_PATH}/customer.parquet"
    if os.path.exists(dst):
        return
    base = load(spark, SF_DIR, "customer")
    for batch in range(10):
        parts = []
        for i in range(10):
            r = batch * 10 + i
            parts.append(
                base.withColumn("c_custkey", F.col("c_custkey") + F.lit(r * SHIFT))
            )
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        # regenerate the name from the shifted key — replica-degenerate
        # blocks (100 copies of each name) would only exercise the guard
        big = big.withColumn(
            "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
        )
        big.repartition(8).write.mode(
            "overwrite" if batch == 0 else "append"
        ).parquet(dst)


def main() -> None:
    from extract_transform_load_spark.operators.graph import pagerank
    from extract_transform_load_spark.operators.linkage import (
        fuzzy_pairs,
        fuzzy_pairs_delta,
    )
    from extract_transform_load_spark.sources.tables import load

    spark = get_spark(extra_conf={"spark.ui.enabled": "true"})  # REST metrics
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_replica(spark, load)
    build_customer_replica(spark, load)
    for table, path in (
        ("orders", REPLICA_PATH),
        ("lineitem", REPLICA_PATH),
        ("customer", CUST_PATH),
    ):
        nb = load(spark, SF_DIR, table).count()
        nr = spark.read.parquet(f"{path}/{table}.parquet").count()
        print(f"{table} 1x={nb} 100x={nr}")
        if nr != 100 * nb:
            raise SystemExit(
                f"replica {table} holds {nr} rows, expected {100 * nb}"
                " - delete the directory and rerun"
            )
    print(f"replica build/load {time.time() - t0:.0f}s")

    def edges_from(sf_dir: str):
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        fwd = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey"))
                .cast("bigint")
                .alias("dst"),
            )
            .distinct()  # distinct-then-flip: see q143's wrapper
        )
        fwd = fwd.localCheckpoint(eager=False)  # one build for both branches
        return fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def run_pagerank(sf_dir: str) -> None:
        noop(pagerank(edges_from(sf_dir), iterations=5, assume_distinct=True))

    def run_pagerank_shuffle(sf_dir: str) -> None:
        noop(
            pagerank(
                edges_from(sf_dir),
                iterations=5,
                assume_distinct=True,
                max_nodes_broadcast=0,  # force the shuffle engine
            )
        )

    def weighted_edges_from(sf_dir: str):
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        fwd = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy(
                F.col("o_custkey").alias("src"),
                (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey"))
                .cast("bigint")
                .alias("dst"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )
        fwd = fwd.localCheckpoint(eager=False)  # one build for both branches
        return fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )

    def run_pagerank_weighted(sf_dir: str) -> None:
        noop(pagerank(weighted_edges_from(sf_dir), iterations=5, weight="w"))

    def run_pagerank_personalized(sf_dir: str) -> None:
        # seeds: custkeys < 100 — present in every replica's r=0 shift,
        # so the seed SET is identical on both legs (q147's shape)
        seeds = (
            load(spark, sf_dir, "orders")
            .select(F.col("o_custkey").alias("node"))
            .filter(F.col("node") < 100)
        )
        noop(
            pagerank(
                edges_from(sf_dir), iterations=5, assume_distinct=True, seeds=seeds
            )
        )

    def run_triangles(sf_dir: str) -> None:
        from extract_transform_load_spark.operators.graph import triangle_count

        pairs = fuzzy_pairs(
            load(spark, sf_dir, "customer"),
            id_col="c_custkey",
            name_col="c_name",
            block_len=15,
            max_dist=1,
        )
        noop(triangle_count(pairs, src="id_a", dst="id_b"))

    def run_fuzzy(sf_dir: str) -> None:
        noop(
            fuzzy_pairs(
                load(spark, sf_dir, "customer"),
                id_col="c_custkey",
                name_col="c_name",
                block_len=15,
                max_dist=1,
            )
        )

    def run_delta(store_dir: str) -> None:
        # Fixed 15k-row batch, IDENTICAL on both legs: keys < 15000
        # exist in the 1x store and in the 100x store's r=0 replica
        # (shift 0), so the same rows are drawn either way. Ids are
        # renumbered but names KEPT — every delta row therefore lands
        # in a live store block and pays the dist-0 + dist-1 verify.
        # (The first cut of this bench renamed the delta into blocks
        # the store never populates — zero candidates, so it measured
        # an empty probe; review find.)
        store = load(spark, store_dir, "customer")
        delta = store.filter(F.col("c_custkey") < 15_000).withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(7_000_000_000)
        )
        noop(
            fuzzy_pairs_delta(
                delta,
                store,
                id_col="c_custkey",
                name_col="c_name",
                block_len=15,
                max_dist=1,
                # the 100x store legitimately holds 1000-row blocks; the
                # audit budget scales with what we ask it to scan
                max_block=100_000,
            )
        )

    only = set(sys.argv[1:])  # optional: measure a subset by name
    results = {}
    for qname, fn, dirs in (
        ("pagerank_5it", run_pagerank, (SF_DIR, REPLICA_PATH)),
        ("pagerank_shuffle_5it", run_pagerank_shuffle, (SF_DIR, REPLICA_PATH)),
        ("pagerank_weighted_5it", run_pagerank_weighted, (SF_DIR, REPLICA_PATH)),
        ("pagerank_personalized_5it", run_pagerank_personalized, (SF_DIR, REPLICA_PATH)),
        ("triangle_count", run_triangles, (SF_DIR, CUST_PATH)),
        ("fuzzy_pairs", run_fuzzy, (SF_DIR, CUST_PATH)),
        ("fuzzy_pairs_delta", run_delta, (SF_DIR, CUST_PATH)),
    ):
        if only and qname not in only:
            continue
        fn(SF_DIR)  # warm codegen
        row = {}
        for label, d in (("1x", dirs[0]), ("100x", dirs[1])):
            row[label] = measure(spark, lambda: fn(d))
        row["ratio"] = round(row["100x"]["wall_s"] / row["1x"]["wall_s"], 1)
        results[qname] = row
        print(f"{qname}: {json.dumps(row)}", flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "results": results}))


if __name__ == "__main__":
    main()
