"""Serving-path contracts of the API endpoints, on the domain fixtures
bound as parquet (as production binds the silver/gold paths):

- building a request's DataFrame fires no Spark job and plans no
  Python-RDD scan; all work happens when the response is collected;
- a repeated pass over every endpoint reuses its generated code;
- the latest-snapshot filter returns the same rows as the crossJoin
  form it replaced;
- ratio endpoints answer an empty input with null ratios, not an error.
"""

from __future__ import annotations

import inspect

import pyspark.sql.functions as F
import pytest

from extract_transform_load_spark.api import endpoints
from extract_transform_load_spark.api.endpoints import ENDPOINTS

from .domain_fixtures import build_domain_tables


def _bind(spark, frames: dict, root) -> dict:
    out = {}
    for name, df in frames.items():
        path = str(root / name)
        df.write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    return out


@pytest.fixture(scope="module")
def bound(spark, tmp_path_factory):
    return _bind(spark, build_domain_tables(spark), tmp_path_factory.mktemp("domain"))


def _jobs_in_group(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_a_request_runs_no_job_and_no_python_scan(spark, bound):
    sc = spark.sparkContext
    fired, python_scans = {}, []
    try:
        for name in sorted(ENDPOINTS):
            group = f"build:{name}"
            sc.setJobGroup(group, name)
            df = ENDPOINTS[name](bound)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = _jobs_in_group(spark, group)
            if jobs:
                fired[name] = len(jobs)
            if "LogicalRDD" in df._jdf.queryExecution().analyzed().toString():
                python_scans.append(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not fired and not python_scans, (
        f"endpoints that run Spark jobs while building: {fired}; "
        f"endpoints that plan a Python-RDD scan: {python_scans}"
    )


def _compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def test_second_pass_over_endpoints_reuses_generated_code(spark, bound):
    # fixed parameters: period="all" keeps now-anchored timestamps (which
    # generated code inlines) out of the plans
    def one_pass():
        for name in sorted(ENDPOINTS):
            ENDPOINTS[name](bound, period="all").collect()

    one_pass()
    c0 = _compiles(spark)
    one_pass()
    recompiled = _compiles(spark) - c0
    assert recompiled <= 5, (
        f"{recompiled} classes recompiled on a repeated pass over "
        f"{len(ENDPOINTS)} endpoints: the generated-code cache "
        f"(spark.sql.codegen.cache.maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')}) "
        "does not hold the serving working set"
    )


def _latest_snapshot_crossjoin(df, ts_col):
    """The crossJoin form ``_latest_snapshot`` replaced."""
    mx = df.agg(F.max(ts_col).alias("__mx"))
    return df.crossJoin(F.broadcast(mx)).filter(F.col(ts_col) == F.col("__mx")).drop("__mx")


SNAPSHOT_CALLERS = sorted(
    n for n, fn in ENDPOINTS.items() if "_latest_snapshot(" in inspect.getsource(fn)
)
SNAPSHOTS = {"LS_State": "LS_timestamp", "LP_Pool_State": "LP_Pool_timestamp"}


def _snapshot_case(spark, bound, case: str, root) -> dict:
    frames = {}
    for table, ts in SNAPSHOTS.items():
        df = bound[table]
        if case == "empty":
            df = df.limit(0)
        elif case == "single_round":
            df = df.filter(F.col(ts) == df.agg(F.min(ts)).first()[0])
        frames[table] = df
    return {**bound, **_bind(spark, frames, root)}


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", ["empty", "single_round", "shared_max"])
def test_latest_snapshot_scalar_form_matches_crossjoin_form(
    spark, bound, case, tmp_path, monkeypatch
):
    assert len(SNAPSHOT_CALLERS) == 11, SNAPSHOT_CALLERS
    tables = _snapshot_case(spark, bound, case, tmp_path)
    n_latest = {
        t: tables[t].filter(F.col(ts) == tables[t].agg(F.max(ts)).first()[0]).count()
        for t, ts in SNAPSHOTS.items()
    }
    if case == "shared_max":
        assert min(n_latest.values()) > 1  # several rows share the max timestamp
    elif case == "single_round":
        assert all(tables[t].count() == n for t, n in n_latest.items())
    else:
        assert all(tables[t].count() == 0 for t in SNAPSHOTS)
    for name in SNAPSHOT_CALLERS:
        new = ENDPOINTS[name](tables)
        with monkeypatch.context() as m:
            m.setattr(endpoints, "_latest_snapshot", _latest_snapshot_crossjoin)
            old = ENDPOINTS[name](tables)
        assert new.schema == old.schema, name
        assert _rows(new) == _rows(old), name


def test_ratio_endpoints_on_empty_inputs_return_null_ratios(spark, bound, tmp_path):
    empty = _bind(
        spark,
        {t: bound[t].limit(0) for t in ("LS_Loan_Closing", "LS_State")},
        tmp_path,
    )
    tables = {**bound, **empty}
    r = ENDPOINTS["pnl/realized-stats"](tables).collect()
    assert len(r) == 1
    assert (r[0]["n_closed"], r[0]["n_wins"]) == (0, 0)
    assert r[0]["win_rate"] is None and r[0]["best_pnl"] is None
    v = ENDPOINTS["leases/value-stats"](tables).collect()
    assert len(v) == 1
    assert v[0]["n"] == 0
    assert v[0]["avg_value"] is None and v[0]["max_value"] is None
