"""``analytics``: a fixed set of registry queries through the noop sink.

Setup writes seeded TPC-H-shaped ``orders``/``lineitem`` and the
``documents``/``embeddings`` corpus tables (the shapes of the driver's
synthetic test data, at about sf0.001) as parquet, three times; the
queries bind them through ``sources.tables.load``. Each query's canonical
result is first checked against its DuckDB oracle with the oracle-parity
harness's cell canonicalisation; that untimed pass also warms the JVM.
Then passes over the query set in a seeded order run until ``--seconds``
have passed; the last pass always finishes.

The queries: ``q01_pricing_summary`` is the control that no ROADMAP
direction touches; ``q112_realized_pnl`` and ``q117_ls_state_incremental``
are carried items; ``q134_quality_classifier`` covers the quality model;
``q133_semantic_delta`` is top-k kernel work; ``q143_pagerank`` is the
graph round loop.

BENCHMARK.json does not register this workload: a run takes about 60 s,
and the benchmark's time budget has room for two workloads of this
cost. The ``plans`` layer is still measured on a registered workload: a
traced ``serve`` run calls ``plans_layer`` after its sweep.
"""

from __future__ import annotations

import random
import time
from datetime import datetime, timedelta

import duckdb

import common
import domaingen
from extract_transform_load_spark.plans.registry import REGISTRY
from spans import covered, subtree, total
from tests.oracle_harness import _strict_cell as strict_cell

QUERIES = (
    "q01_pricing_summary",
    "q112_realized_pnl",
    "q117_ls_state_incremental",
    "q134_quality_classifier",
    "q133_semantic_delta",
    "q143_pagerank",
)
METRICS = {
    "ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
    "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "driver_ms": "ms",
}
PER_LAYER = {f"plans.{q}.{m}": u for q in QUERIES for m, u in METRICS.items()}

SCHEMAS = {
    "orders": [
        ("o_orderkey", "long"), ("o_custkey", "long"), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "ntz"), ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "long"), ("l_partkey", "long"), ("l_suppkey", "long"),
        ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "ntz"),
    ],
    "documents": [
        ("doc_id", "long"), ("text", "string"), ("lang", "string"), ("source", "string"),
        ("n_chars", "long"),
    ],
    "embeddings": [("vec_id", "long"), ("embedding", "vector"), ("label", "int")],
}
WORDS = (
    "scan column window order sort part agg value line key join merge group query a "
    "vector hash slow stream filter fast the batch spark table small data big customer row"
).split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def generate(seed: int, n_orders: int = 1500, n_docs: int = 500, n_vecs: int = 500) -> dict:
    rng = random.Random(seed)
    day0 = datetime(1995, 1, 1)
    orders, lineitem = [], []
    for k in range(n_orders):
        date = day0 + timedelta(days=rng.randint(0, 2404))
        orders.append((k, rng.randint(0, n_orders // 10 - 1), rng.choice("OFP"),
                       round(rng.uniform(1000, 500000), 2), date, rng.choice(PRIORITIES)))
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            lineitem.append((
                k, rng.randint(0, n_orders // 7), rng.randint(0, max(9, n_orders // 150)), line,
                qty, round(qty * rng.uniform(900, 2100), 2), rng.randint(0, 10) / 100,
                rng.randint(0, 8) / 100, rng.choice("NRA"), rng.choice("OF"),
                date + timedelta(days=rng.randint(1, 121)),
            ))
    documents = []
    for d in range(n_docs):
        words = [rng.choice(WORDS) for _ in range(rng.randint(8, 90))]
        if rng.random() < 0.05:
            words.append("dup")
        text = " ".join(words)
        documents.append((d, text, rng.choice(("en", "en", "fr", "es", "zh", "de")),
                          f"src{d % 20}", len(text)))
    embeddings = []
    for v in range(n_vecs):
        label = rng.randint(0, 9)
        center = random.Random(label).gauss
        embeddings.append((v, [center(0, 0.1) + rng.gauss(0, 0.1) for _ in range(64)], label))
    return {"orders": orders, "lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def write(data: dict, sf_dir: str) -> str:
    for table, rows in data.items():
        domaingen.write_table(f"{sf_dir}/{table}.parquet", SCHEMAS[table], rows)
    return sf_dir


def run_query(spark, sf_dir: str, q: str, tracer=None) -> float:
    t0 = time.perf_counter()
    if tracer is not None:
        with tracer.span(f"plans.{q}", op=q):
            REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    else:
        REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000


def plans_layer(spark, work, seed: int, tracer) -> tuple[dict, list[str]]:
    """The ``plans`` per-layer metrics: check every query against its
    oracle (which also warms it), then run one traced pass."""
    sf_dir = write(generate(seed), work.sub("plans"))
    failures = check(spark, sf_dir)
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    for q in order:
        run_query(spark, sf_dir, q, tracer)
        tracer.resolve()
    return _layers(tracer), failures


def run(spark, work, seed: int, seconds: float, tracer) -> dict:
    data = generate(seed)

    setup_s, sf_dir = common.timed_setup(lambda i: write(data, work.sub(f"sf{i}")))
    # checked before the timed window: the untimed oracle pass is the warm-up
    t0 = time.perf_counter()
    failures = check(spark, sf_dir)
    common.log(f"check: {time.perf_counter() - t0:.1f} s")

    traced = tracer if tracer.enabled else None
    rng = random.Random(seed)
    ops_ms, passes_s = [], []
    gc0 = common.gc_ms(spark)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        order = list(QUERIES)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for q in order:
            ops_ms.append(run_query(spark, sf_dir, q, traced))
            tracer.resolve()
        passes_s.append(time.perf_counter() - p0)
    gc_window = common.gc_ms(spark) - gc0

    out = {
        "setup_s": setup_s,
        "ops_ms": ops_ms,
        "round_s": common.median(passes_s),
        "attempted": len(ops_ms) + len(QUERIES),
        "failures": failures,
        "gc_ms": gc_window,
        "layers": {},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer)
    return out


def _layers(tracer) -> dict:
    out = {}
    for q in QUERIES:
        spans = [s for s in tracer.spans if s.name == f"plans.{q}"]
        rows = []
        for s in spans:
            tree = subtree(tracer.spans, s)
            ivs = [iv for x in tree for iv in x.stats.get("intervals", [])]
            rows.append({
                "ms": s.ms,
                "jobs": total(tree, "jobs"),
                "stages": total(tree, "stages"),
                "tasks": total(tree, "tasks"),
                "cpu_s": total(tree, "cpu_ms") / 1000,
                "shuffle_mb": (total(tree, "shuffle_read_bytes") + total(tree, "shuffle_write_bytes")) / 2**20,
                "spill_mb": total(tree, "spill_bytes") / 2**20,
                "driver_ms": s.ms - covered(ivs, s.start, s.end) * 1000,
            })
        for m in METRICS:
            out[f"plans.{q}.{m}"] = common.median([r[m] for r in rows])
    return out


def check(spark, sf_dir: str) -> list[str]:
    """Each query's canonical Spark result against its canonical DuckDB
    oracle: the same row sequence under the oracle-parity harness's strict
    cell canonicalisation (``tests/oracle_harness.py``)."""
    con = duckdb.connect()
    for t in SCHEMAS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for q in QUERIES:
        spec = REGISTRY[q]
        sp = spec.canonical_fn(spark, sf_dir).toPandas()
        dp = con.execute(spec.canonical_oracle).df()
        if list(sp.columns) != list(dp.columns):
            failures.append(f"{q}: columns {list(sp.columns)} != oracle {list(dp.columns)}")
            continue
        cells = [
            [tuple(strict_cell(v) for v in row) for row in df.itertuples(index=False)]
            for df in (sp, dp)
        ]
        if cells[0] != cells[1]:
            failures.append(f"{q}: rows differ from the DuckDB oracle")
    con.close()
    return failures
