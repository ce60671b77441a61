"""The benchmark's input generators: FIXTURES.md §5 invariants, the
endpoint identities of tests/test_endpoints.py on generated tables, the
serve checks' own expectations against the endpoints, and the bronze
generator's own silver counts against the program's parsers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from collections import Counter
from datetime import date, datetime, timezone

import pytest

import bronzegen
import common
import domaingen

SEED = 7
TODAY = datetime.now(timezone.utc).date()


@pytest.fixture(scope="module")
def dom():
    return domaingen.generate(SEED, n_leases=150, today=TODAY)


@pytest.fixture(scope="module")
def chain():
    return bronzegen.generate(SEED, n_blocks=120)


def _col(dom, table, name):
    return dom.column(table, name)


# -- domain tables ----------------------------------------------------------


def test_domain_is_a_function_of_the_seed_and_day(dom):
    assert domaingen.generate(SEED, n_leases=150, today=TODAY).rows == dom.rows
    assert domaingen.generate(SEED + 1, n_leases=150, today=TODAY).rows != dom.rows


def test_children_reference_openings_pools_and_symbols(dom):
    leases = set(_col(dom, "LS_Opening", "LS_contract_id"))
    for t in ("LS_Repayment", "LS_Close_Position", "LS_Liquidation", "LS_Closing",
              "LS_Loan_Closing", "LS_State"):
        assert set(_col(dom, t, "LS_contract_id")) <= leases, t
    pools = set(_col(dom, "protocol_registry", "lpp_contract"))
    assert set(_col(dom, "LS_Opening", "LS_loan_pool_id")) <= pools
    assert set(_col(dom, "LP_Deposit", "LP_Pool_id")) <= pools
    tickers = set(_col(dom, "currency_registry", "ticker"))
    used = set(_col(dom, "LS_Opening", "LS_asset_symbol")) | set(
        _col(dom, "LS_Repayment", "LS_payment_symbol")
    )
    assert used <= tickers


def test_every_symbol_is_priced_before_its_first_use(dom):
    first_tick = {}
    for sym, ts, _, _ in dom.rows["MP_Asset"]:
        first_tick[sym] = min(ts, first_tick.get(sym, ts))
    cols = [c for c, _ in domaingen.SCHEMAS["LS_Opening"]]
    for r in dom.rows["LS_Opening"]:
        sym, ts = r[cols.index("LS_asset_symbol")], r[cols.index("LS_timestamp")]
        assert first_tick[sym] <= ts


def test_lease_lifecycle(dom):
    opened = dict(zip(_col(dom, "LS_Opening", "LS_contract_id"), _col(dom, "LS_Opening", "LS_timestamp")))
    terminals = Counter()
    for t in ("LS_Repayment", "LS_Close_Position", "LS_Liquidation"):
        for cid, ts, close in zip(_col(dom, t, "LS_contract_id"), _col(dom, t, "LS_timestamp"),
                                  _col(dom, t, "LS_loan_close")):
            assert opened[cid] <= ts
            terminals[cid] += bool(close)
    assert max(terminals.values()) == 1  # at most one terminal event per lease
    closed = {c for c, n in terminals.items() if n}
    assert closed == set(_col(dom, "LS_Closing", "LS_contract_id"))
    assert closed == set(_col(dom, "LS_Loan_Closing", "LS_contract_id")) == dom.closed_leases
    closing_ts = dict(zip(_col(dom, "LS_Loan_Closing", "LS_contract_id"),
                          _col(dom, "LS_Loan_Closing", "LS_timestamp")))
    for t in ("LS_Repayment", "LS_Close_Position", "LS_Liquidation"):
        for cid, ts in zip(_col(dom, t, "LS_contract_id"), _col(dom, t, "LS_timestamp")):
            assert cid not in closing_ts or ts <= closing_ts[cid]
    share_open = len(dom.open_leases) / len(opened)
    assert 0.3 < share_open < 0.5


def test_snapshot_rounds_hold_exactly_the_open_leases(dom):
    rounds = {}
    for cid, ts in zip(_col(dom, "LS_State", "LS_contract_id"), _col(dom, "LS_State", "LS_timestamp")):
        rounds.setdefault(ts, set()).add(cid)
    assert sorted(rounds) == dom.rounds
    assert all(ids == dom.open_leases for ids in rounds.values())
    pool_ts = set(_col(dom, "LP_Pool_State", "LP_Pool_timestamp"))
    assert pool_ts == set(dom.rounds)


def test_period_windows_select_a_share_of_the_rows(dom):
    import serve

    now = datetime(TODAY.year, TODAY.month, TODAY.day)
    ts = _col(dom, "LS_Opening", "LS_timestamp")
    assert max(ts) < now
    shares = [sum(t >= serve._months_back(now, n) for t in ts) / len(ts) for n in (3, 6, 12)]
    assert 0 < shares[0] < shares[1] < shares[2] < 1


# -- bronze blocks ------------------------------------------------------------


def test_bronze_covers_every_event_type(chain):
    from extract_transform_load_spark.pipeline.parsers import EVENT_TYPES

    seen = {r[3] for _, rows in chain.deliveries for r in rows}
    assert seen == set(EVENT_TYPES) == set(bronzegen.TABLE_OF)


def test_bronze_replays_arrive_late(chain):
    order = [h for h, _ in chain.deliveries]
    assert len(order) > len(set(order))  # some blocks are delivered twice
    late = [i for i, h in enumerate(order) if i > 0 and h < max(order[:i])]
    assert late, "no replay lands after a later block"


def test_bronze_late_replays_follow_the_prefix():
    chain = bronzegen.generate(SEED, 70, late_after=60, late_every=4)
    order = [h for h, _ in chain.deliveries]
    cut = order.index(bronzegen.FIRST_HEIGHT + 60)
    late = [h for h in order[cut:] if h < bronzegen.FIRST_HEIGHT + 60]
    assert len(late) >= 2  # blocks 62 and 66 each bring one


def test_bronze_expected_counts_follow_the_skip_path(chain):
    counts = Counter()
    dropped = 0
    for h, rows in dict(chain.deliveries).items():
        for r in rows:
            etype, attrs = r[3], r[5]
            if etype in bronzegen.SKIP_PATH and "height" not in attrs:
                dropped += 1
                continue
            counts[bronzegen.TABLE_OF[etype]] += 1
    assert dropped > 0
    assert chain.expected_counts(chain.heights) == {t: counts[t] for t in bronzegen.TABLE_OF.values()}


def test_bronze_lease_lifecycle(chain):
    opened, closed_by_event, closes = {}, set(), {}
    for h, rows in sorted(dict(chain.deliveries).items()):
        for r in rows:
            etype, a = r[3], r[5]
            if etype == "wasm-ls-open":
                opened[a["id"]] = h
            elif etype == "wasm-ls-close":
                closes[a["id"]] = h
            elif etype in ("wasm-ls-repay", "wasm-ls-close-position", "wasm-ls-liquidation"):
                assert opened[a["to"]] <= h
                assert a["to"] not in closed_by_event
                if a["loan-close"] == "true":
                    closed_by_event.add(a["to"])
    assert set(closes) <= closed_by_event
    assert all(closes[c] >= opened[c] for c in closes)


# -- against the program ------------------------------------------------------


@pytest.fixture(scope="module")
def tables(spark, dom, tmp_path_factory):
    out = tmp_path_factory.mktemp("domain")
    return {n: spark.read.parquet(p) for n, p in dom.write(str(out)).items()}


def test_every_endpoint_runs_on_generated_tables(tables):
    from extract_transform_load_spark.api.endpoints import ENDPOINTS

    for name, fn in ENDPOINTS.items():
        assert len(fn(tables).columns) > 0, name
        fn(tables).collect()


def test_endpoint_identities(tables, dom):
    from extract_transform_load_spark.api.endpoints import ENDPOINTS

    import serve

    rev = ENDPOINTS["treasury/revenue"](tables).collect()[0]["revenue"]
    dist = ENDPOINTS["treasury/distributed"](tables).collect()[0]["distributed"]
    earn = ENDPOINTS["treasury/earnings"](tables).collect()[0]["earnings"]
    assert earn == rev - dist
    for name, want in serve._scalar_expectations(dom).items():
        row = ENDPOINTS[name](tables).collect()[0]
        assert {k: row[k] for k in want} == want, name
    n_open = ENDPOINTS["metrics/open-interest"](tables).collect()[0]["n_positions"]
    assert n_open == len(dom.open_leases)

    addr = dom.addresses[0]
    page = ENDPOINTS["leases/search"](tables, address=addr, limit=5).collect()
    assert [r["LS_contract_id"] for r in page] == serve._expected_search(
        dom, {"address": addr, "limit": 5}
    )

    full = ENDPOINTS["misc/txs"](tables, limit=40).collect()
    p1 = ENDPOINTS["misc/txs"](tables, limit=20).collect()
    cursor = (p1[-1]["timestamp"], p1[-1]["tx_hash"], p1[-1]["index"])
    p2 = ENDPOINTS["misc/txs"](tables, limit=20, after=cursor).collect()
    assert p1 + p2 == full


def test_pinned_responses_do_not_depend_on_the_day(spark, tmp_path):
    """Read relative to the domain's base, every response the pins cover
    is the same whichever day the domain is laid out from."""
    from extract_transform_load_spark.api.endpoints import ENDPOINTS

    import serve

    digests = []
    for today in (date(2024, 3, 5), date(2025, 10, 31)):
        d = domaingen.generate(SEED, n_leases=150, today=today)
        (tmp_path / str(today)).mkdir()
        tables = {n: spark.read.parquet(p) for n, p in d.write(str(tmp_path / str(today))).items()}
        digests.append({
            name: common.digest(df.columns, [tuple(r) for r in df.collect()], base=d.base)
            for name in sorted(set(ENDPOINTS) - serve.CALENDAR)
            for df in [ENDPOINTS[name](tables, period="all")]
        })
    assert digests[0] == digests[1]


def test_generated_responses_match_the_endpoints(tables, dom):
    """The serve check's own rows for clock- and calendar-bound requests
    agree with the endpoints on every period."""
    import serve

    reqs = [serve.Request(0, n, {"period": p}) for n in serve.PERIODIC for p in serve.PERIODS]
    reqs += [serve.Request(0, n, {}) for n in sorted(serve.CALENDAR - serve.PERIODIC - {"misc/prices"})]
    reqs += [serve.Request(0, "misc/prices", {"symbol": s, "group_minutes": 360}) for s in ("ATOM", None)]
    for q in reqs:
        serve._call(tables, q)
        assert q.error is None and serve._check_generated(q, dom) is None, (q.name, q.params)
    assert any(q.rows and q.rows[0][0] for q in reqs if q.params.get("period") == "3m")


def test_parsers_land_the_generators_counts(spark, chain, tmp_path):
    """dispatch + dedup_batch over every delivery (replays included) yields
    the generator's expected silver counts."""
    from extract_transform_load_spark.pipeline.ingest import dedup_batch
    from extract_transform_load_spark.pipeline.parsers import dispatch
    from extract_transform_load_spark.sources.livefeed import land_block

    import ingest

    files = [land_block(str(tmp_path), h, rows) for h, rows in chain.deliveries]
    parsed = dispatch(spark.read.parquet(*files))
    got = {t: dedup_batch(parsed[t], *ingest.SILVER[t]).count() for t in ingest.SILVER}
    assert got == chain.expected_counts(chain.heights)
