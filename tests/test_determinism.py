"""Results must not depend on physical planning choices: each sampled
query's canonical result, hashed in row order over the strict-gate
cell strings, is identical under four planner settings."""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import pytest

from extract_transform_load_spark.operators.graph import kcore
from extract_transform_load_spark.plans.registry import REGISTRY

from .oracle_harness import _strict_cell

QUERIES = [
    "q01_pricing_summary",  # control: grouped aggregation
    "q42_minhash_lsh_pairs",
    "q43_simhash_pairs",
    "q133_semantic_delta",
    "q143_pagerank",  # graph: broadcast engine
    "q145_triangles",
    "q149_pagerank_shuffle",  # graph: shuffle engine
    "q153_label_propagation",
    "q155_semantic_delta_lsh",
]

SETTINGS = {
    "partitions_3": {"spark.sql.shuffle.partitions": "3"},
    "partitions_200": {"spark.sql.shuffle.partitions": "200"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


@contextmanager
def _conf(spark, overrides: dict[str, str]):
    before = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _result_hash(df) -> tuple[str, int]:
    pdf = df.toPandas()
    h = hashlib.sha256("|".join(pdf.columns).encode())
    for row in pdf.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(_strict_cell(v) for v in row)).encode())
    return h.hexdigest(), len(pdf)


@pytest.mark.parametrize("name", QUERIES)
def test_canonical_hash_is_independent_of_planner_settings(spark, sf_dir, name):
    spec = REGISTRY[name]
    hashes = {}
    for label, overrides in SETTINGS.items():
        with _conf(spark, overrides):
            hashes[label] = _result_hash(spec.canonical_fn(spark, sf_dir))
    assert all(n > 0 for _, n in hashes.values()), hashes
    assert len(set(hashes.values())) == 1, f"{name}: {hashes}"


#: Triangle plus a tail and a second cycle: deaths cascade over two
#: rounds and the 2-core is non-empty.
KCORE_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (1, 4)]
#: A zero edge threshold routes the peel to the shuffle engine.
KCORE_REGIMES = {"broadcast": {}, "shuffle": {"max_edges_broadcast": 0}}


def test_kcore_hash_is_independent_of_planner_settings_and_engine(spark):
    edges = spark.createDataFrame(KCORE_EDGES, "src bigint, dst bigint")
    hashes = {}
    for regime, kw in KCORE_REGIMES.items():
        for label, overrides in SETTINGS.items():
            with _conf(spark, overrides):
                out = kcore(edges, k=2, **kw).orderBy("node")
                hashes[regime, label] = _result_hash(out)
    assert all(n > 0 for _, n in hashes.values()), hashes
    assert len(set(hashes.values())) == 1, hashes
