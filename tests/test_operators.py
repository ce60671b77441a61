"""Unit tests for the reusable operators, each against a hand-checked
tiny frame (the reference has no test corpus — SURVEY.md §5 — so these
define the expected semantics explicitly)."""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from extract_transform_load_spark.operators.asof import as_of_join
from extract_transform_load_spark.operators.gaps import find_gaps, find_gaps_scalable
from extract_transform_load_spark.operators.latest import latest_per_key
from extract_transform_load_spark.operators.pagination import paginate
from extract_transform_load_spark.pipeline.ingest import dedup_batch, idempotent_append


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def prices(spark):
    return spark.createDataFrame(
        [
            ("A", ts("2024-01-01 00:00:00"), 10.0, 1),
            ("A", ts("2024-01-01 01:00:00"), 11.0, 2),
            ("A", ts("2024-01-01 01:00:00"), 12.0, 3),  # same ts, higher idx wins
            ("B", ts("2024-01-01 02:00:00"), 99.0, 4),
        ],
        "symbol string, pts timestamp, price double, idx int",
    )


def test_asof_basic(spark, prices):
    events = spark.createDataFrame(
        [
            (1, "A", ts("2024-01-01 00:30:00")),  # -> 10.0
            (2, "A", ts("2024-01-01 01:00:00")),  # tie ts: price at == event ts counts -> 12.0
            (3, "A", ts("2024-01-01 05:00:00")),  # -> 12.0 (latest, tie broken by idx)
            (4, "B", ts("2024-01-01 01:00:00")),  # before first B price -> null
            (5, "C", ts("2024-01-01 01:00:00")),  # no prices at all -> null
        ],
        "event_id long, symbol string, ets timestamp",
    )
    out = as_of_join(
        events, prices, on=["symbol"], left_ts="ets", right_ts="pts",
        value_cols=["price"], right_order="idx",
    )
    got = {r["event_id"]: r["price_asof"] for r in out.collect()}
    assert got == {1: 10.0, 2: 12.0, 3: 12.0, 4: None, 5: None}


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01 00:00:00"), 1, "a"),
            (1, ts("2024-01-02 00:00:00"), 2, "b"),
            (1, ts("2024-01-02 00:00:00"), 3, "c"),  # tie ts -> higher tiebreak wins
            (2, ts("2024-01-05 00:00:00"), 4, "d"),
        ],
        "k long, t timestamp, idx int, v string",
    )
    out = latest_per_key(df, ["k"], "t", ["idx"])
    assert {r["k"]: r["v"] for r in out.collect()} == {1: "c", 2: "d"}


def test_gap_detection_variants(spark):
    ids = [1, 2, 3, 7, 8, 12, 20]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    expected = {(4, 6), (9, 11), (13, 19)}
    for fn in (find_gaps, find_gaps_scalable):
        got = {(r["gap_start"], r["gap_end"]) for r in fn(df, "id").collect()}
        assert got == expected, fn.__name__


def test_gap_detection_scalable_many_partitions(spark):
    # ids 0..999 with 10 known holes, forced through many range partitions
    holes = {100, 205, 333, 401, 502, 640, 777, 803, 904, 950}
    df = spark.createDataFrame([(i,) for i in range(1000) if i not in holes], "id long")
    got = {(r["gap_start"], r["gap_end"]) for r in find_gaps_scalable(df, "id", num_ranges=16).collect()}
    assert got == {(h, h) for h in holes}


def test_paginate_total_order(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "id long, grp long")
    page = paginate(df, [F.col("grp").asc(), F.col("id").asc()], offset=5, limit=4)
    assert [r["id"] for r in page.collect()] == [15, 18, 1, 4]


def test_dedup_batch_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "first"), (1, 5, "earliest"), (2, 1, "only")],
        "pk long, seq int, v string",
    )
    out = dedup_batch(df, ["pk"], order_col="seq")
    got = {r["pk"]: r["v"] for r in out.collect()}
    assert got == {1: "earliest", 2: "only"}


def test_idempotent_append(spark):
    existing = spark.createDataFrame([(1,), (2,)], "pk long")
    batch = spark.createDataFrame([(2, "dup"), (3, "new")], "pk long, v string")
    out = idempotent_append(existing, batch, ["pk"])
    assert [(r["pk"], r["v"]) for r in out.collect()] == [(3, "new")]


def test_salted_agg_matches_plain(spark):
    from extract_transform_load_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", i % 7) for i in range(1000)] + [("cold", 5), ("cold", 9)],
        "k string, v long",
    )
    got = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"total": ("v", "sum"), "n": ("v", "count"), "mx": ("v", "max")}
        ).collect()
    }
    import pyspark.sql.functions as F

    want = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


def test_salted_broadcast_join_matches_plain(spark):
    from extract_transform_load_spark.operators.skew import salted_broadcast_join

    fact = spark.createDataFrame([("a", i) for i in range(500)] + [("b", 1)], "k string, v long")
    dim = spark.createDataFrame([("a", "alpha"), ("b", "beta")], "k string, name string")
    got = salted_broadcast_join(fact, dim, "k").groupBy("k", "name").count().collect()
    want = fact.join(dim, "k").groupBy("k", "name").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_rechunk_restores_scan_parallelism(spark, sf_dir, tmp_path):
    """A single-row-group table plans one scan task; rechunking restores
    one task per row group with identical content. Tiny tables copy
    through untouched."""
    import pyarrow.parquet as pq

    from extract_transform_load_spark.sources.layout import rechunk_parquet_dir

    dst = str(tmp_path / "chunked")
    rechunk_parquet_dir(sf_dir, dst, target_chunks=8, min_rows_per_chunk=64)

    src_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dst_li = spark.read.parquet(f"{dst}/lineitem.parquet")
    import os

    assert len(os.listdir(f"{dst}/lineitem.parquet")) >= 8
    assert dst_li.rdd.getNumPartitions() > src_li.rdd.getNumPartitions()
    assert dst_li.count() == src_li.count()
    assert dst_li.exceptAll(src_li).count() == 0
    # region has 5 rows: below min_rows_per_chunk, byte-identical copy
    assert pq.ParquetFile(f"{dst}/region.parquet").metadata.num_row_groups == 1


def test_write_partitioned_prunes(spark, tmp_path):
    from extract_transform_load_spark.sources.layout import write_partitioned

    df = spark.createDataFrame(
        [(i, ts(f"2024-01-{(i % 3) + 1:02d} 00:00:00")) for i in range(30)],
        "id long, t timestamp",
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, "t", sort_keys=["id"], mode="overwrite")
    back = spark.read.parquet(path)
    assert back.count() == 30
    one_day = back.filter(F.col("__date") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert one_day.count() == 10
    # partition filter must reach the scan (pruning, not post-filter)
    assert "__date" in plan


def test_plan_backfill_batches(spark):
    from extract_transform_load_spark.pipeline.ingest import plan_backfill

    ranges = spark.createDataFrame([(10, 35), (100, 100)], "gap_start long, gap_end long")
    got = sorted(
        (r["batch_start"], r["batch_end"]) for r in plan_backfill(ranges, batch_size=10).collect()
    )
    assert got == [(10, 19), (20, 29), (30, 35), (100, 100)]


def test_approx_distinct_mau_error_bound(spark, sf_dir):
    """HLL++ rsd=0.01 must land within 5% of exact per month (far inside
    the 3-sigma bound for these cardinalities)."""
    import pyspark.sql.functions as F
    from extract_transform_load_spark.plans.registry import REGISTRY
    from extract_transform_load_spark.sources.tables import load

    approx = {
        r["month"]: r["mau_approx"]
        for r in load(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("mau_approx"))
        .collect()
    }
    exact = {
        r["month"]: r["mau"]
        for r in load(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(F.countDistinct("user_id").alias("mau"))
        .collect()
    }
    assert set(approx) == set(exact)
    for month, mau in exact.items():
        assert abs(approx[month] - mau) <= max(1, 0.05 * mau), (month, approx[month], mau)
    # the registry form carries the audit boolean the oracle pins TRUE
    audit = REGISTRY["q60_approx_distinct_mau"].fn(spark, sf_dir).collect()
    assert audit and all(r["approx_ok"] for r in audit)


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-bucketed tables on the join key must join without any Exchange
    (the bucketing pre-pays the shuffle once at write time): the only
    Exchange in the whole plan is the final groupBy's."""
    import pyspark.sql.functions as F
    from extract_transform_load_spark.sources.layout import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], num_buckets=8,
                   sort_keys=["o_orderkey"])
    write_bucketed(lineitem, "t_lineitem_b", ["l_orderkey"], num_buckets=8,
                   sort_keys=["l_orderkey"])
    # broadcast would hide the point at this SF: force the SMJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("Exchange") == 1, plan  # only the final agg shuffles

        got = {r["o_orderpriority"]: r["n"] for r in joined.collect()}
        want = {
            r["o_orderpriority"]: r["n"]
            for r in orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_keyset_pagination_walks_whole_set_and_pushes_down(spark, sf_dir):
    """Walking pages by cursor visits every row exactly once in order,
    and the cursor predicate reaches the parquet scan as PushedFilters."""
    import pyspark.sql.functions as F
    from extract_transform_load_spark.operators.pagination import keyset_page

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    n = o.count()
    seen, cursor, pages = [], None, 0
    while True:
        page = keyset_page(o, ["o_orderkey"], after=cursor, limit=500, max_limit=500).collect()
        if not page:
            break
        seen.extend(r["o_orderkey"] for r in page)
        cursor = (page[-1]["o_orderkey"],)
        pages += 1
    assert len(seen) == n
    assert seen == sorted(seen)
    assert pages >= 2

    plan = (
        keyset_page(o, ["o_orderkey"], after=(1000,), limit=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThan(o_orderkey,1000)" in pushed, plan


def test_keyset_composite_key_lexicographic(spark):
    from extract_transform_load_spark.operators.pagination import keyset_page

    rows = [(a, b) for a in (1, 2) for b in ("a", "b", "c")]
    df = spark.createDataFrame(rows, "k1 int, k2 string")
    page = keyset_page(df, ["k1", "k2"], after=(1, "b"), limit=3).collect()
    assert [(r["k1"], r["k2"]) for r in page] == [(1, "c"), (2, "a"), (2, "b")]
    page_d = keyset_page(df, ["k1", "k2"], after=(2, "b"), limit=2, descending=True).collect()
    assert [(r["k1"], r["k2"]) for r in page_d] == [(2, "a"), (1, "c")]


def test_merge_parquet_partition_pruned_upsert(spark, tmp_path):
    """Copy-on-write MERGE over partitioned parquet: only touched
    partitions are rewritten; untouched partition files stay byte-for-
    byte in place (same file list) — the Delta-style upsert path."""
    import os

    from extract_transform_load_spark.sources.merge import merge_parquet

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "id long, day int, v string"
    ).write.partitionBy("day").parquet(target)

    def files(part):
        d = f"{target}/day={part}"
        return sorted(
            (f, os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d0, before_d1 = files(0), files(1)

    updates = spark.createDataFrame(
        [(4, 1, "UPDATED"), (100, 1, "NEW")], "id long, day int, v string"
    )
    deletes = spark.createDataFrame([(7, 1)], "id long, day int")
    swapped = merge_parquet(
        spark, target, updates, ["id"], partition_col="day", deletes=deletes
    )
    assert swapped == ["day=1"]

    out = {r["id"]: (r["day"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert out[4] == (1, "UPDATED")
    assert out[100] == (1, "NEW")
    assert 7 not in out
    assert len(out) == 30  # 30 - 1 delete + 1 insert
    assert out[3] == (0, "v3") and out[5] == (2, "v5")
    # untouched partitions: identical file names AND mtimes (never rewritten)
    assert files(0) == before_d0
    assert files(1) != before_d1


def test_merge_parquet_order_col_last_writer_wins(spark, tmp_path):
    from extract_transform_load_spark.sources.merge import merge_parquet

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "old", 0)], "id long, v string, ver int"
    ).write.parquet(target)
    updates = spark.createDataFrame(
        [(1, "mid", 5), (1, "final", 9), (2, "new", 1)], "id long, v string, ver int"
    )
    merge_parquet(spark, target, updates, ["id"], order_col="ver")
    out = {r["id"]: (r["v"], r["ver"]) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("final", 9), 2: ("new", 1)}


def test_merge_parquet_replay_of_old_batch_is_noop(spark, tmp_path):
    """order_col last-writer-wins runs across existing AND updates:
    re-merging an already-applied older batch changes nothing — the
    idempotency contract the at-least-once streaming sink relies on."""
    from extract_transform_load_spark.sources.merge import merge_parquet

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "new", 9), (2, "kept", 3)], "id long, v string, ver int"
    ).write.parquet(target)
    stale = spark.createDataFrame([(1, "old", 2)], "id long, v string, ver int")
    merge_parquet(spark, target, stale, ["id"], order_col="ver")
    out = {r["id"]: (r["v"], r["ver"]) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("new", 9), 2: ("kept", 3)}


def test_connected_components_chain_and_clusters(spark):
    """A 12-node path (worst case for naive label propagation — O(n)
    rounds) plus a separate triangle: large-star/small-star must collapse
    both to their minima within the O(log n) iteration budget."""
    from extract_transform_load_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    chain = [(i, i + 1) for i in range(100, 112)]
    tri = [(7, 9), (9, 8), (8, 7)]
    df = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    # both execution paths: driver union-find (small graph) and the
    # distributed large-star/small-star rounds (threshold disabled)
    for thr in (2_000_000, None):
        comps = {
            r["node"]: r["component"]
            for r in connected_components(
                df, "doc_a", "doc_b", max_iter=10, small_graph_threshold=thr
            ).collect()
        }
        assert all(comps[n] == 100 for n in range(100, 113))
        assert all(comps[n] == 7 for n in (7, 8, 9))

    clusters = dedup_clusters(df).collect()
    keep = {r["doc_id"] for r in clusters if r["keep"]}
    assert keep == {100, 7}
    assert len(clusters) == 16  # every node in the pair graph is assigned


def test_connected_components_null_edges_drop_on_both_paths(spark):
    """Null-keyed edges (a join miss upstream) drop identically on the
    driver union-find fast path and the distributed star rounds — the
    fast path must not crash on unorderable None ids."""
    from extract_transform_load_spark.operators.components import connected_components

    rows = [(1, 2), (2, 3), (None, 5), (6, None), (None, None), (8, 9)]
    df = spark.createDataFrame(rows, "src long, dst long")
    want = {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}
    for thr in (2_000_000, None):
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, small_graph_threshold=thr).collect()
        }
        assert got == want, f"threshold={thr}"


def test_approx_percentile_rank_error_bound(spark, sf_dir):
    """approx_percentile(accuracy=10000) guarantees rank error <=
    n/10000 per group: the returned value must sit between the exact
    values at ranks floor((q-eps)n) and ceil((q+eps)n)."""
    from extract_transform_load_spark.plans.registry import REGISTRY
    from extract_transform_load_spark.sources.tables import load

    import pyspark.sql.functions as F

    approx = {
        r["o_orderpriority"]: (r["median_price"], r["p90_price"], r["n"])
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("median_price"),
            F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("p90_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    # the registry form carries the audit booleans the oracle pins TRUE
    audit = REGISTRY["q62_approx_percentiles"].fn(spark, sf_dir).collect()
    assert audit and all(r["median_ok"] and r["p90_ok"] for r in audit)
    rows = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice").collect()
    by_group: dict[str, list[float]] = {}
    for r in rows:
        by_group.setdefault(r["o_orderpriority"], []).append(float(r["o_totalprice"]))
    eps = 1.0 / 10000
    for grp, vals in by_group.items():
        vals.sort()
        n = len(vals)
        assert approx[grp][2] == n
        for q, got in ((0.5, approx[grp][0]), (0.9, approx[grp][1])):
            lo = vals[max(0, int((q - eps) * n) - 1)]
            hi = vals[min(n - 1, int((q + eps) * n) + 1)]
            assert lo <= float(got) <= hi, (grp, q, got, lo, hi)


def test_hash_split_stability_and_ratios(spark):
    """Split assignment is a pure function of the id: stable under
    corpus growth (the first 1000 docs keep their split when 1000 more
    arrive), ratios land near 80/10/10, and deterministic_sample is a
    subset-consistent prefix (0.1-sample ⊂ 0.25-sample)."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    small = spark.range(1000)
    big = spark.range(2000)
    s_small = {r["id"]: r["split"] for r in hash_split(small, "id").collect()}
    s_big = {r["id"]: r["split"] for r in hash_split(big, "id").collect()}
    assert all(s_big[i] == s for i, s in s_small.items())

    from collections import Counter

    c = Counter(s_big.values())
    assert abs(c["train"] / 2000 - 205 / 256) < 0.04
    assert abs(c["val"] / 2000 - 26 / 256) < 0.03
    assert abs(c["test"] / 2000 - 25 / 256) < 0.03

    s10 = {r["id"] for r in deterministic_sample(big, "id", 0.1).collect()}
    s25 = {r["id"] for r in deterministic_sample(big, "id", 0.25).collect()}
    assert s10 <= s25
    assert abs(len(s25) / 2000 - 0.25) < 0.05


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must each cover a small rectangle of the 2-D key
    space: for BOTH columns the mean per-file value span is a fraction
    of the global span, whereas single-column sorting leaves the second
    column's per-file span at ~100%. That per-file min/max footprint is
    exactly what parquet footer pruning skips on."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.zorder import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def mean_file_span(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .first()[0]
        )
        total = li.agg(F.max(col) - F.min(col)).first()[0]
        return float(per_file) / float(total)

    zpath = str(tmp_path / "z")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], partitions=16)
    spath = str(tmp_path / "s")
    li.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(spath)

    z_ok = mean_file_span(zpath, "l_orderkey")
    z_pk = mean_file_span(zpath, "l_partkey")
    s_pk = mean_file_span(spath, "l_partkey")
    # single-column sort: partkey uncorrelated with orderkey -> ~full span
    assert s_pk > 0.9, s_pk
    # z-order: both dimensions clustered well below the global span
    assert z_ok < 0.5, z_ok
    assert z_pk < 0.5, z_pk


def test_training_shards_deterministic_and_bounded(spark, tmp_path):
    """Shards are size-capped JSONL and byte-deterministic across runs
    (resumable export); the shuffle decorrelates ingest order."""
    import hashlib
    import os

    from extract_transform_load_spark.operators.sampling import (
        shuffled,
        write_training_shards,
    )

    df = spark.range(1000).selectExpr("id", "concat('doc ', id) AS text")

    def digest(path):
        # filenames carry the write-job UUID; shard ORDER + contents are
        # the deterministic part
        return [
            hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(path))
            if f.endswith(".json")
        ]

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df.coalesce(1), p1, "id", rows_per_shard=300)
    write_training_shards(df.coalesce(1), p2, "id", rows_per_shard=300)
    d1, d2 = digest(p1), digest(p2)
    assert d1 == d2 and len(d1) >= 4  # 1000 rows / 300 cap -> >= 4 shards

    rows = spark.read.json(p1).count()
    assert rows == 1000
    # decorrelated: the hash order is not the ingest order
    first = [r["id"] for r in shuffled(df, "id").limit(10).collect()]
    assert first != sorted(first)


def test_pii_redact_and_counts(spark):
    from extract_transform_load_spark.operators.textops import pii_counts, pii_redact

    rows = [
        (1, "mail jane.doe+x@corp.example.org and bob@a.io today"),
        (2, "ssn 123-45-6789 host 192.168.0.1 tel (555) 867-5309"),
        (3, "intl +44 20 7946 0958 done"),
        (4, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    counts = pii_counts(F.col("t"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            pii_redact(F.col("t")).alias("red"),
            counts["email"].alias("email"),
            counts["ssn"].alias("ssn"),
            counts["ipv4"].alias("ipv4"),
            counts["phone"].alias("phone"),
        ).collect()
    }
    assert out[1]["red"] == "mail <EMAIL> and <EMAIL> today"
    assert (out[1]["email"], out[1]["ssn"], out[1]["ipv4"], out[1]["phone"]) == (2, 0, 0, 0)
    assert out[2]["red"] == "ssn <SSN> host <IP> tel <PHONE>"
    assert (out[2]["email"], out[2]["ssn"], out[2]["ipv4"], out[2]["phone"]) == (0, 1, 1, 1)
    assert out[3]["red"] == "intl <PHONE> done"
    assert out[3]["phone"] == 1
    assert out[4]["red"] == rows[3][1]

    # idempotent: placeholders are digit-free, a second pass is a no-op
    twice = df.select(pii_redact(pii_redact(F.col("t"))).alias("red")).collect()
    once = df.select(pii_redact(F.col("t")).alias("red")).collect()
    assert twice == once


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    from extract_transform_load_spark.sources.merge import compact_parquet

    path = str(tmp_path / "tbl")
    df = spark.range(0, 2000).selectExpr("id", "id % 4 AS part")
    df.repartition(16).write.partitionBy("part").parquet(path)

    before_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
    n_before, n_after = compact_parquet(spark, path, partition_col="part")
    assert n_before > n_after
    assert n_after <= 4  # one writer output per partition
    after_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows

    # unpartitioned path: count-sized file target
    p2 = str(tmp_path / "flat")
    spark.range(0, 1000).repartition(12).write.parquet(p2)
    b, a = compact_parquet(spark, p2, rows_per_file=600)
    assert b == 12 and a == 2
    assert spark.read.parquet(p2).count() == 1000


def test_forget_keys_propagates_deletes_across_tables(spark, tmp_path):
    from extract_transform_load_spark.sources.merge import forget_keys

    events = str(tmp_path / "events")
    profile = str(tmp_path / "profiles")
    spark.createDataFrame(
        [(i, i % 5, f"d{i % 3}") for i in range(60)], "event_id long, user_id long, day string"
    ).write.partitionBy("day").parquet(events)
    spark.createDataFrame(
        [(u, f"u{u}") for u in range(5)], "user_id long, name string"
    ).write.parquet(profile)

    keys = spark.createDataFrame([(2,), (4,)], "user_id long")
    report = forget_keys(
        spark,
        keys,
        [(events, ["event_id"], "day"), (profile, ["user_id"], None)],
    )
    assert set(report) == {events, profile}
    assert len(report[events]) == 3  # every day partition held the users

    ev = spark.read.parquet(events)
    assert ev.filter(F.col("user_id").isin(2, 4)).count() == 0
    assert ev.count() == 60 - 24  # 60 * 2/5 rows removed
    pr = spark.read.parquet(profile)
    assert sorted(r["user_id"] for r in pr.collect()) == [0, 1, 3]

    # keys absent everywhere: audit reports empty, nothing rewritten
    report2 = forget_keys(spark, spark.createDataFrame([(99,)], "user_id long"),
                          [(events, ["event_id"], "day")])
    assert report2 == {events: []}


def test_encode_tokens_order_and_oov(spark):
    from extract_transform_load_spark.operators.textops import build_vocab, encode_tokens

    df = spark.createDataFrame(
        [(1, "b a b c b a"), (2, "a rare b")], "doc_id long, text string"
    )
    # counts: b=4, a=3, c=1, rare=1 -> vocab(3): b=1, a=2, c=3; 'rare' OOV
    vocab = build_vocab(df, "text", size=3)
    v = {r["word"]: r["token_id"] for r in vocab.collect()}
    assert v == {"b": 1, "a": 2, "c": 3}

    enc = {r["doc_id"]: r for r in encode_tokens(df, vocab).collect()}
    assert enc[1]["token_ids"] == [1, 2, 1, 3, 1, 2]  # document order kept
    assert (enc[1]["n_tokens"], enc[1]["n_oov"]) == (6, 0)
    assert enc[2]["token_ids"] == [2, 0, 1]  # OOV encodes as 0 in place
    assert (enc[2]["n_tokens"], enc[2]["n_oov"]) == (3, 1)


def test_decode_tokens_round_trip(spark):
    from extract_transform_load_spark.operators.textops import (
        build_vocab,
        decode_tokens,
        encode_tokens,
    )

    df = spark.createDataFrame(
        [(1, "b a b c b a"), (2, "a rare b")], "doc_id long, text string"
    )
    full_vocab = build_vocab(df, "text", size=10)
    enc = encode_tokens(df, full_vocab)
    back = {r["doc_id"]: r["text"] for r in decode_tokens(enc, full_vocab).collect()}
    assert back == {1: "b a b c b a", 2: "a rare b"}  # lossless when in-vocab

    small = build_vocab(df, "text", size=3)
    lossy = decode_tokens(encode_tokens(df, small), small).collect()
    assert {r["text"] for r in lossy} == {"b a b c b a", "a <unk> b"}


def test_mapped_token_codec_equals_join_form(spark, sf_dir):
    """encode_tokens_mapped / decode_tokens_mapped (constant-map,
    zero-shuffle scan) must be row-identical to the join+collect_list
    forms on the real corpus, OOV paths included (vocab capped below
    the corpus's word count)."""
    from extract_transform_load_spark.operators.textops import (
        build_vocab,
        decode_tokens,
        decode_tokens_mapped,
        encode_tokens,
        encode_tokens_mapped,
    )
    from extract_transform_load_spark.sources.tables import load

    d = load(spark, sf_dir, "documents")
    vocab = build_vocab(d, "text", size=24)
    joined = {r["doc_id"]: r for r in encode_tokens(d, vocab).collect()}
    mapped = {r["doc_id"]: r for r in encode_tokens_mapped(d, vocab).collect()}
    assert joined.keys() == mapped.keys()
    for k in joined:
        assert tuple(joined[k]) == tuple(mapped[k]), k

    enc = encode_tokens_mapped(d, vocab)
    dec_j = {r["doc_id"]: r["text"] for r in decode_tokens(enc, vocab).collect()}
    dec_m = {r["doc_id"]: r["text"] for r in decode_tokens_mapped(enc, vocab).collect()}
    assert dec_j == dec_m


def test_scrub_frequent_grams(spark):
    from extract_transform_load_spark.operators.textops import scrub_frequent_grams

    boiler = "all rights reserved contact us"  # 5-gram template in 3 docs
    docs = spark.createDataFrame(
        [
            (1, f"unique prose one {boiler}"),
            (2, f"{boiler} and more unique prose"),
            (3, f"totally {boiler} split text"),
            (4, "no template here at all friend"),
            (5, boiler),  # pure boilerplate -> scrubs to empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_frequent_grams(docs, k=5, min_docs=3).collect()}
    assert len(out) == 5  # fully-scrubbed docs still appear
    assert out[1]["scrubbed_text"] == "unique prose one"
    assert out[2]["scrubbed_text"] == "and more unique prose"
    assert out[3]["scrubbed_text"] == "totally split text"
    assert out[4]["scrubbed_text"] == "no template here at all friend"
    assert (out[4]["n_tokens"], out[4]["n_kept"]) == (6, 6)
    assert out[5]["scrubbed_text"] == ""
    assert (out[5]["n_tokens"], out[5]["n_kept"]) == (5, 0)


DIM_SCHEMA = (
    "cust long, segment string, valid_from timestamp, valid_to timestamp,"
    " is_current boolean"
)
CH_SCHEMA = "cust long, segment string, effective_ts timestamp"


def _scd2_rows(df):
    return sorted(
        (r["cust"], r["segment"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in df.collect()
    )


def test_scd2_apply_versions_changes(spark):
    from datetime import datetime

    from extract_transform_load_spark.sources.merge import scd2_apply

    t = lambda d: datetime(2026, 1, d)  # noqa: E731
    dim = spark.createDataFrame(
        [
            (1, "gold", t(1), None, True),        # will change
            (2, "silver", t(1), None, True),      # untouched
            (3, "bronze", t(1), t(2), False),     # closed history
            (3, "gold", t(2), None, True),        # no-op change arrives
        ],
        DIM_SCHEMA,
    )
    changes = spark.createDataFrame(
        [
            (1, "platinum", t(5)),   # real change
            (3, "gold", t(6)),       # no-op: equals current attrs
            (4, "new", t(7)),        # brand-new key
            (2, "silver", t(1)),     # stale echo at current valid_from
        ],
        CH_SCHEMA,
    )
    out = scd2_apply(dim, changes, ["cust"], ["segment"])
    assert _scd2_rows(out) == sorted(
        [
            (1, "gold", str(t(1)), str(t(5)), False),
            (1, "platinum", str(t(5)), "None", True),
            (2, "silver", str(t(1)), "None", True),
            (3, "bronze", str(t(1)), str(t(2)), False),
            (3, "gold", str(t(2)), "None", True),
            (4, "new", str(t(7)), "None", True),
        ]
    )


def test_scd2_apply_chains_and_collapses_within_batch(spark):
    from datetime import datetime

    from extract_transform_load_spark.sources.merge import scd2_apply

    t = lambda d: datetime(2026, 2, d)  # noqa: E731
    dim = spark.createDataFrame([(1, "a", t(1), None, True)], DIM_SCHEMA)
    changes = spark.createDataFrame(
        [(1, "a", t(2)), (1, "b", t(3)), (1, "b", t(4)), (1, "c", t(5))],
        CH_SCHEMA,
    )
    out = scd2_apply(dim, changes, ["cust"], ["segment"])
    # a@2 is a no-op vs current, b@4 is a no-op vs b@3 — chain a -> b -> c
    assert _scd2_rows(out) == sorted(
        [
            (1, "a", str(t(1)), str(t(3)), False),
            (1, "b", str(t(3)), str(t(5)), False),
            (1, "c", str(t(5)), "None", True),
        ]
    )


def test_scd2_apply_replay_is_idempotent(spark):
    from datetime import datetime

    from extract_transform_load_spark.sources.merge import scd2_apply

    t = lambda d: datetime(2026, 3, d)  # noqa: E731
    dim = spark.createDataFrame(
        [(1, "a", t(1), None, True), (2, "x", t(1), None, True)], DIM_SCHEMA
    )
    changes = spark.createDataFrame(
        [(1, "b", t(3)), (1, "c", t(4)), (3, "new", t(5))], CH_SCHEMA
    )
    once = scd2_apply(dim, changes, ["cust"], ["segment"])
    twice = scd2_apply(once, changes, ["cust"], ["segment"])
    assert _scd2_rows(once) == _scd2_rows(twice)


def test_scrub_overlapping_grams_merge(spark):
    from extract_transform_load_spark.operators.textops import scrub_frequent_grams

    # "a b c d e f" holds two overlapping frequent 5-grams (abcde,
    # bcdef) in 3 docs — coverage is a position set, so all 6 words go
    shared = "a b c d e f"
    docs = spark.createDataFrame(
        [(i, f"keep{i} {shared} tail{i}") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_frequent_grams(docs, k=5, min_docs=3).collect()}
    for i in (1, 2, 3):
        assert out[i]["scrubbed_text"] == f"keep{i} tail{i}"
        assert (out[i]["n_tokens"], out[i]["n_kept"]) == (8, 2)


def test_asof_null_value_tick_is_the_match(spark):
    """The as-of match is the latest right ROW, NULL fields included —
    per-column fills would skip a legitimately-NULL value back to an
    older tick and mix fields from different rows in multi-column
    attaches."""
    from extract_transform_load_spark.operators.asof import as_of_join

    def ts(s):
        from datetime import datetime

        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    right = spark.createDataFrame(
        [("A", ts("2024-01-01 00:00:01"), 5.0, 1.0),
         ("A", ts("2024-01-01 00:00:02"), None, 2.0)],
        "symbol string, pts timestamp, price double, qty double",
    )
    left = spark.createDataFrame(
        [("A", ts("2024-01-01 00:00:03"))], "symbol string, ets timestamp"
    )
    row = as_of_join(
        left, right, ["symbol"], "ets", "pts", ["price", "qty"]
    ).collect()[0]
    assert row["price_asof"] is None  # NOT the older 5.0 from ts=1
    assert row["qty_asof"] == 2.0  # both fields from the SAME (latest) row


def test_bloom_prefilter_exact_and_no_false_negatives(spark):
    """bloom_prefilter_contains == exact semi-join on any input (the
    Bloom stage must be correctness-invisible), and the raw prefilter
    alone must pass EVERY true member (no false negatives ever)."""
    import pyspark.sql.functions as F

    from extract_transform_load_spark.operators.bloom import (
        bloom_filter_maybe,
        bloom_parameters,
        bloom_prefilter_contains,
        build_bloom_bits,
    )

    bench = spark.createDataFrame(
        [(f"gram {i}",) for i in range(0, 400, 3)], "gram string"
    )
    corpus = spark.createDataFrame(
        [(i, f"gram {i}") for i in range(400)] + [(1000, "not a gram")],
        "doc_id long, gram string",
    )
    got = {
        (r["doc_id"], r["gram"])
        for r in bloom_prefilter_contains(corpus, bench).collect()
    }
    want = {(i, f"gram {i}") for i in range(0, 400, 3)}
    assert got == want

    n = bench.count()
    m, k = bloom_parameters(n)
    rows = bench.select(
        *[F.xxhash64("gram", F.lit(i).cast("long")).alias(f"h{i}") for i in range(k)]
    ).collect()
    words = build_bloom_bits(rows, m)
    maybe = {
        r["gram"] for r in bloom_filter_maybe(corpus, "gram", words, m, k).collect()
    }
    assert {f"gram {i}" for i in range(0, 400, 3)} <= maybe  # no false negatives


def test_bloom_benchmark_size_guard(spark):
    """A corpus-sized 'benchmark' must raise, not silently collect."""
    import pytest as _pytest

    from extract_transform_load_spark.operators.bloom import bloom_prefilter_contains

    big = spark.range(100).selectExpr("CAST(id AS STRING) AS gram")
    corpus = spark.range(10).selectExpr("id AS doc_id", "CAST(id AS STRING) AS gram")
    with _pytest.raises(ValueError, match="benchmark"):
        bloom_prefilter_contains(corpus, big, max_benchmark_grams=10)


def test_asof_auto_dispatch(spark, monkeypatch):
    """as_of_join_auto picks the physical form from the measured right
    shape and both forms return identical answers (the property suite
    pins the equivalence; this pins the dispatch)."""
    from extract_transform_load_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 0, ts("2024-01-01 01:00:00")), (2, 1, ts("2024-01-01 02:00:00"))],
        "eid long, k long, t timestamp",
    )
    dim = spark.range(10).selectExpr(
        "id % 2 AS k", "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS pt",
        "CAST(id AS DOUBLE) AS v",
    )
    out, form = asof.as_of_join_auto(left, dim, ["k"], "t", "pt", ["v"])
    assert form == "broadcast"
    got = {r["eid"]: r["v_asof"] for r in out.collect()}

    # same data beyond the tick cap -> union-sort
    monkeypatch.setattr(asof, "MAX_TICKS_PER_KEY", 2)
    out2, form2 = asof.as_of_join_auto(left, dim, ["k"], "t", "pt", ["v"])
    assert form2 == "union_sort"
    assert {r["eid"]: r["v_asof"] for r in out2.collect()} == got

    # and beyond the key cap -> union-sort
    monkeypatch.undo()
    monkeypatch.setattr(asof, "MAX_KEYS", 1)
    out3, form3 = asof.as_of_join_auto(left, dim, ["k"], "t", "pt", ["v"])
    assert form3 == "union_sort"
    assert {r["eid"]: r["v_asof"] for r in out3.collect()} == got


def test_asof_probe_memo_and_single_probe(spark):
    """The dimension-scale probe's economics:

    1. the probe is memoized per canonical plan and scanned files, so a
       pipeline that re-enriches against the same series pays the probe
       job once per session;
    2. as_of_join_auto probes once per call.
    """
    from extract_transform_load_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 0, ts("2024-01-01 01:00:00"))], "eid long, k long, t timestamp"
    )
    dim = spark.range(6).selectExpr(
        "id % 2 AS k",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS pt",
        "CAST(id AS DOUBLE) AS v",
    )

    # (1) memoization: second probe of the same plan is served from the
    # memo — prove it by planting a sentinel and reading it back.
    asof._PROBE_MEMO.clear()
    stats = asof._probe_right_stats(dim, ["k"])
    assert stats == (2, 3)
    (key,) = asof._PROBE_MEMO.keys()
    asof._PROBE_MEMO[key] = (7, 7)
    assert asof._probe_right_stats(dim, ["k"]) == (7, 7)
    asof._PROBE_MEMO.clear()

    # (2) auto probes exactly once end-to-end
    calls = []
    real = asof._probe_right_stats

    def counting(right, on):
        calls.append(1)
        return real(right, on)

    asof._probe_right_stats = counting
    try:
        out, form = asof.as_of_join_auto(left, dim, ["k"], "t", "pt", ["v"])
        assert form == "broadcast"
        assert out.collect()[0]["v_asof"] == 0.0  # k=0's latest tick <= 01:00
        assert len(calls) == 1
    finally:
        asof._probe_right_stats = real
        asof._PROBE_MEMO.clear()


def test_asof_probe_memo_misses_rewritten_table(spark, tmp_path, monkeypatch):
    """The memo needs no invalidation: it is keyed on the files the probe
    scans, and a rewrite lists new part files. A session that (1) prices
    against a parquet series under the tick cap (memo warm), then (2)
    grows the series past the cap with merge_parquet, (3) dispatches a
    fresh read of it to union-sort with the right rows, while the warm
    entry is still in the memo. No writer in sources/ knows the memo."""
    import ast
    import pathlib

    from extract_transform_load_spark import sources
    from extract_transform_load_spark.operators import asof
    from extract_transform_load_spark.sources.merge import merge_parquet

    for py in pathlib.Path(sources.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.ImportFrom):
                assert "operators" not in (node.module or ""), py.name
            elif isinstance(node, ast.Import):
                assert not any("operators" in a.name for a in node.names), py.name

    path = str(tmp_path / "ticks")
    spark.range(4).selectExpr(
        "0L AS k",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS pt",
        "CAST(id AS DOUBLE) AS v",
        "id AS tick_id",
    ).write.parquet(path)
    left = spark.createDataFrame(
        [(1, 0, ts("2024-01-01 01:00:00"))], "eid long, k long, t timestamp"
    )
    args = dict(on=["k"], left_ts="t", right_ts="pt", value_cols=["v"], right_order="tick_id")

    asof._PROBE_MEMO.clear()
    monkeypatch.setattr(asof, "MAX_TICKS_PER_KEY", 8)
    out, form = asof.as_of_join_auto(left, spark.read.parquet(path), **args)
    assert form == "broadcast"
    assert out.collect()[0]["v_asof"] == 3.0
    warm = dict(asof._PROBE_MEMO)
    assert len(warm) == 1

    # grow the series past the cap through the in-repo upsert path
    updates = spark.range(20).selectExpr(
        "0L AS k",
        "TIMESTAMP'2024-01-01 00:10:00' + make_interval(0,0,0,0,0,0,id) AS pt",
        "CAST(100 + id AS DOUBLE) AS v",
        "1000 + id AS tick_id",
    )
    merge_parquet(spark, path, updates, pk=["tick_id"])
    assert asof._PROBE_MEMO == warm  # the write did not touch the memo

    grown = spark.read.parquet(path)
    out, form = asof.as_of_join_auto(left, grown, **args)
    assert form == "union_sort"
    assert out.collect()[0]["v_asof"] == 119.0  # the latest grown tick <= 01:00
    want = as_of_join(left, grown, **args).collect()
    assert out.collect() == want
    assert len(asof._PROBE_MEMO) == 2 and warm.items() <= asof._PROBE_MEMO.items()
    asof._PROBE_MEMO.clear()


def test_asof_broadcast_deep_series_matches_union_sort(spark):
    """The broadcast pick binary-searches each key's sorted ticks: on a
    series thousands of ticks deep, with gaps, repeated timestamps
    (broken by right_order) and events before, between, on and after
    the ticks, it returns union-sort's rows."""
    from extract_transform_load_spark.operators.asof import as_of_join_auto

    right = spark.range(9000).selectExpr(
        "id % 3 AS k",
        # 3 ticks per second per key, two of them sharing a timestamp
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, CAST(id / 6 AS INT) * 2) AS pt",
        "CAST(id AS DOUBLE) AS v",
        "id % 5 AS ord",
    ).filter("NOT (id % 97 = 0)")
    left = spark.range(2000).selectExpr(
        "id % 4 AS k",  # key 3 has no ticks
        "TIMESTAMP'2023-12-31 23:59:00' + make_interval(0,0,0,0,0,0, id * 2) AS t",
        "id AS eid",
    )
    args = dict(on=["k"], left_ts="t", right_ts="pt", value_cols=["v"], right_order="ord")
    got, form = as_of_join_auto(left, right, **args)
    assert form == "broadcast"
    want = as_of_join(left, right, **args)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter("v_asof IS NOT NULL").count() > 1000


def test_asof_broadcast_pick_when_gate(spark, monkeypatch):
    """pick_when gates the lookup per row on both of as_of_join_auto's
    branches: gated-out rows get NULL (the broadcast form skips the
    search), gated-in rows equal the ungated answer."""
    from extract_transform_load_spark.operators import asof

    left = spark.createDataFrame(
        [(i, i % 2, ts("2024-01-01 03:30:00")) for i in range(6)],
        "eid long, k long, t timestamp",
    )
    dim = spark.range(8).selectExpr(
        "id % 2 AS k",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS pt",
        "CAST(id AS DOUBLE) AS v",
    )
    args = dict(on=["k"], left_ts="t", right_ts="pt", value_cols=["v"])
    for cap, form in [(asof.MAX_TICKS_PER_KEY, "broadcast"), (1, "union_sort")]:
        monkeypatch.setattr(asof, "MAX_TICKS_PER_KEY", cap)
        full, full_form = asof.as_of_join_auto(left, dim, **args)
        gated, gated_form = asof.as_of_join_auto(
            left, dim, **args, pick_when=F.col("eid") % 3 == 0
        )
        assert full_form == gated_form == form
        full = {r["eid"]: r["v_asof"] for r in full.collect()}
        gated = {r["eid"]: r["v_asof"] for r in gated.collect()}
        assert set(full) == set(gated) == set(range(6)), form
        for eid in range(6):
            if eid % 3 == 0:
                assert gated[eid] == full[eid] and gated[eid] is not None, form
            else:
                assert gated[eid] is None, form
