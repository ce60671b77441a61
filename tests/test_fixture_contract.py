"""Loud-failure contract on the driver-generated testdata.

The driver regenerates /root/testdata per round and HAS changed shapes
between rounds (events.ts switched TIMESTAMP(NANOS) -> MICROS in round
1, breaking ts arithmetic until sources/tables.py learned both). Query
oracles also bake in fixture facts — embedding dim 64, the five event
types, an 'en' language slice, theta-exact user cardinality. When a
regeneration drifts, these assertions name the assumption that broke
instead of leaving a bare value-hash mismatch at the gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from extract_transform_load_spark.plans.datapipe import EMBED_DIM
from extract_transform_load_spark.sources.tables import TABLES, load


def test_all_tables_present_and_nonempty(spark, sf_dir):
    for name in TABLES:
        assert load(spark, sf_dir, name).limit(1).count() == 1, f"{name} is empty"


def test_embedding_dim_matches_constant(spark, sf_dir):
    dims = (
        load(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert [r["d"] for r in dims] == [EMBED_DIM], (
        f"embedding dim {[r['d'] for r in dims]} != EMBED_DIM {EMBED_DIM}; "
        "q44/q53/q63/q66/q99/q102 oracles hardcode the dim"
    )


def test_events_shape_assumptions(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp", (
        "events.ts must normalize to TimestampType in load() — q06/q59/q107 "
        "do epoch arithmetic on it"
    )
    types = {r["event_type"] for r in e.select("event_type").distinct().collect()}
    assert {"click", "purchase"} <= types, (
        f"q05/q107 filter on click/purchase; present: {sorted(types)}"
    )


def test_documents_shape_assumptions(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    langs = {r["lang"] for r in d.select("lang").distinct().collect()}
    assert "en" in langs, "q98's DSIR target slice is lang='en'"
    n_empty = d.filter(F.length("text") == 0).count()
    assert n_empty == 0, (
        f"{n_empty} empty docs; short-doc guards are tested via synthetic "
        "frames but fixture stats (ttr, shingles) assume non-empty text"
    )


def test_every_rows_only_query_has_named_test_coverage():
    """Repo policy: a query registered without DuckDB oracle SQL gets a
    weaker rows-only check at the driver gate, so it MUST carry its own
    pytest verification (recall bound, error bound, equivalence, or
    property test) that references it — or its backing operator — by
    name. Guards future rows-only queries from landing untested."""
    import pathlib

    from extract_transform_load_spark.plans.registry import REGISTRY

    # query name -> implementation identifiers that tests may exercise
    # instead of the registry name (the test targets the operator).
    aliases = {
        "q42_minhash_lsh_pairs": ["minhash_lsh_pairs"],
        "q43_simhash_pairs": ["simhash_pairs_portable"],
        "q45_ann_lsh_topk": ["lsh_topk"],
        "q54_ann_ivf_topk": ["ivf_topk"],
        "q60_approx_distinct_mau": ["approx_distinct_mau"],
        "q62_approx_percentiles": ["approx_percentile"],
        "q66_pq_topk": ["pq_topk"],
        "q67_ivfpq_topk": ["ivfpq_topk"],
        "q70_residual_ivfpq_topk": ["ivfpq_topk"],
        "q75_sequence_packing": ["pack_sequences"],
        "q97_sketch_mau": ["build_distinct_sketches"],
        "q99_semantic_dedup": ["semantic_dedup"],
        "q100_bpe_merges": ["learn_bpe"],
        "q104_bpe_encode": ["encode_bpe"],
        "q106_sketch_quantiles": ["q106_sketch_quantiles"],
    }
    # Exclude THIS file: the aliases dict above would otherwise satisfy
    # its own needles, letting a query lose its real test unnoticed.
    corpus = "\n".join(
        p.read_text()
        for p in pathlib.Path(__file__).parent.glob("test_*.py")
        if p.name != pathlib.Path(__file__).name
    )
    uncovered = []
    for name, spec in REGISTRY.items():
        if spec.oracle is not None:
            continue
        needles = aliases.get(name, []) + [name]
        if not any(n in corpus for n in needles):
            uncovered.append(name)
    assert not uncovered, f"rows-only queries without named test coverage: {uncovered}"
