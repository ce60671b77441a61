"""``serve``: the API read path.

Setup writes the seeded domain tables as parquet and binds them (one
``spark.read.parquet`` per table), three times; ``setup_s`` is the median.
After one untimed warm-up sweep, one client sends requests in a closed
loop: each sweep is a seeded permutation of every endpoint in
``ENDPOINTS`` with seeded parameters (``period``, a skewed address,
``skip``/``limit`` offsets, keyset ``after`` cursors taken from random
rows). Sweeps run until ``--seconds`` have passed; the last one always
finishes, so every run weighs every endpoint equally. Nothing is cached.

A request is ``ENDPOINTS[name](tables, **params)`` (build) followed by
``collect()`` (exec). Outputs are checked after the timed window: every
response that depends on the clock (``?period=`` windows anchored at
``NOW()``) or on the calendar (month and epoch-aligned buckets) against
rows the generator states itself, the others (at the default seed)
against pinned digests taken relative to the domain's ``base`` day.

A traced run also measures the ``plans`` layer after the sweep (see
``analytics.plans_layer``).
"""

from __future__ import annotations

import calendar
import contextlib
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal

import analytics
import common
import domaingen
from extract_transform_load_spark.api.endpoints import ENDPOINTS
from spans import covered, subtree, total

# list endpoint -> (backing table, [(key column, descending)]) — the
# endpoint's total order, which cursors and the order check follow
PAGED = {
    "treasury/buyback": ("TR_Profit", [("TR_Profit_timestamp", True), ("TR_Profit_height", True)]),
    "leases/search": ("LS_Opening", [("LS_timestamp", True), ("LS_contract_id", False)]),
    "leases/liquidations": ("LS_Liquidation", [("LS_timestamp", True), ("LS_contract_id", False)]),
    "misc/txs": ("raw_message", [("timestamp", True), ("tx_hash", False), ("index", False)]),
    "pnl/realized-data": ("LS_Loan_Closing", [("LS_timestamp", True), ("LS_contract_id", False)]),
    "liquidity/lp-withdraw": (
        "LP_Withdraw",
        [("LP_timestamp", True), ("LP_withdraw_height", True), ("LP_withdraw_idx", False)],
    ),
}
PERIODIC = {
    "metrics/total-tx-value", "pnl/realized", "pnl/over-time", "leases/monthly",
    "leases/loans-granted", "leases/interest-repayments",
}
PERIODS = ("3m", "6m", "12m", "all")
MONTHS = {"3m": 3, "6m": 6, "12m": 12, "all": None}
# responses bucketed by calendar month or by epoch-aligned minutes
CALENDAR = {
    "metrics/monthly-active-wallets", "pnl/over-time", "leases/monthly",
    "leases/interest-repayments", "misc/prices",
}
PIN_SEED = 0
PIN_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins", "serve.json")


@dataclass
class Request:
    sweep: int
    name: str
    params: dict
    build_ms: float = 0.0
    exec_ms: float = 0.0
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    span: object = None
    at: tuple = ()  # wall clock (naive UTC) before and after the request

    @property
    def ms(self) -> float:
        return self.build_ms + self.exec_ms


class Mix:
    """Seeded request parameters over the generated domain."""

    def __init__(self, dom: domaingen.Domain, rng: random.Random):
        self.dom, self.rng = dom, rng
        self.addr_w = domaingen.zipf_weights(len(dom.addresses))

    def address(self) -> str:
        return self.rng.choices(self.dom.addresses, self.addr_w)[0]

    def cursor(self, table: str, order) -> tuple:
        cols = [c for c, _ in domaingen.SCHEMAS[table]]
        row = self.rng.choice(self.dom.rows[table])
        return tuple(row[cols.index(c)] for c, _ in order)

    def params(self, name: str) -> dict:
        r, p = self.rng, {}
        if name in PERIODIC:
            p["period"] = r.choice(PERIODS)
        if name in PAGED:
            table, order = PAGED[name]
            p["limit"] = r.choice((10, 25, 50, 100))
            if r.random() < 0.35:
                p["after"] = self.cursor(table, order)
            else:
                p["skip"] = r.choice((0, 0, 20, 100, 400))
        if name == "leases/search":
            if r.random() < 0.6:
                p["address"] = self.address()
            if r.random() < 0.4:
                # a 3-digit fragment of a real id matches about ten leases
                p["search"] = r.choice(self.dom.rows["LS_Opening"])[0][-4:-1]
        elif name == "misc/txs":
            if r.random() < 0.6:
                p["address"] = self.address()
            if r.random() < 0.3:
                p["types"] = r.sample(domaingen.MSG_TYPES, 2)
        elif name in ("pnl/realized-by-wallet", "pnl/unrealized-by-address"):
            p["address"] = self.address()
        elif name == "misc/prices":
            p["symbol"] = r.choice(domaingen.ASSETS + (None,))
            p["group_minutes"] = r.choice((60, 360, 1440))
        elif name == "protocols/by-name":
            p["name"] = r.choice(("osmosis-usdc", "neutron-usdc", "legacy", "missing"))
        elif name == "currencies/by-ticker":
            p["ticker"] = r.choice(domaingen.ASSETS + ("USDC", "OLD", "NOPE"))
        elif name == "subscribe":
            if r.random() < 0.5:
                p["address"], p["auth"] = r.choice(self.dom.subs)
            else:
                p["address"], p["auth"] = self.address(), "wrong-auth"
        elif name == "test-push":
            p["address"] = r.choice(self.dom.subs)[0]
            p["push_type"] = r.choice(domaingen.PUSH_TYPES)
        return p

    def sweep(self, names: list[str], i: int) -> list[Request]:
        order = list(names)
        self.rng.shuffle(order)
        return [Request(i, n, self.params(n)) for n in order]


def run(spark, work, seed: int, seconds: float, tracer, pin: bool = False) -> dict:
    dom = domaingen.generate(seed)
    names = sorted(ENDPOINTS)

    def setup(i: int):
        paths = dom.write(work.sub(f"domain{i}"))
        with tracer.span("sources.tables.bind"):
            return {name: spark.read.parquet(p) for name, p in paths.items()}

    setup_s, tables = common.timed_setup(setup)
    common.log(f"setup: {setup_s:.1f} s")
    bind_ms = [s.ms for s in tracer.spans if s.name == "sources.tables.bind"]
    tracer.resolve()

    # warm-up: a sweep from its own stream, four requests in flight; it
    # takes the cold sweep's JIT and codegen cost (a cold sweep runs about
    # twice as long as the next) out of the timed window
    wm = Mix(dom, random.Random(f"warm-{seed}"))
    t0 = time.perf_counter()
    with ThreadPoolExecutor(common.CORES) as pool:
        list(pool.map(lambda q: _call(tables, q), wm.sweep(names, -1)))
    common.log(f"warm-up: {time.perf_counter() - t0:.1f} s")

    mix = Mix(dom, random.Random(seed))
    done: list[Request] = []
    gc0 = common.gc_ms(spark)
    t0 = time.perf_counter()
    sweep_s = []
    while time.perf_counter() - t0 < seconds:
        s0 = time.perf_counter()
        for q in mix.sweep(names, len(sweep_s)):
            _call(tables, q, tracer)
            done.append(q)
            if tracer.enabled:
                tracer.resolve()  # outside the request's own timing
        sweep_s.append(time.perf_counter() - s0)
    gc_window = common.gc_ms(spark) - gc0

    t0 = time.perf_counter()
    failures = check(tables, dom, done, seed, pin)
    common.log(f"sweep: {sweep_s[-1]:.1f} s, check: {time.perf_counter() - t0:.1f} s")
    lat = [q.ms for q in done]
    out = {
        "setup_s": setup_s,
        "ops_ms": lat,
        "round_s": common.median(sweep_s),
        "attempted": len(done) + len(IDENTITY_CHECKS),
        "failures": failures,
        "gc_ms": gc_window,
        "layers": {},
    }
    if tracer.enabled:
        out["layers"] = _layers(tracer, done, bind_ms)
        t0 = time.perf_counter()
        plans, wrong = analytics.plans_layer(spark, work, seed, tracer)
        common.log(f"plans layer: {time.perf_counter() - t0:.1f} s")
        out["layers"].update(plans)
        out["failures"] += wrong
        out["attempted"] += len(analytics.QUERIES)
    return out


def _call(tables, q: Request, tracer=None) -> None:
    span = tracer.span if tracer is not None else (lambda *_, **__: contextlib.nullcontext())
    w0 = _utcnow()
    try:
        with span("api.request", op=f"{q.sweep}:{q.name}") as q.span:
            t0 = time.perf_counter()
            with span("api.build"):
                df = ENDPOINTS[q.name](tables, **q.params)
            t1 = time.perf_counter()
            with span("api.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        q.build_ms, q.exec_ms = (t1 - t0) * 1000, (t2 - t1) * 1000
        q.columns, q.rows = list(df.columns), [tuple(r) for r in rows]
    except Exception as e:  # a failed request counts in failed_frac
        q.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    q.at = (w0, _utcnow())


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _layers(tracer, done: list[Request], bind_ms: list[float]) -> dict:
    spans = tracer.spans
    build, exec_, drv, cpu, jobs, bjobs = [], [], [], [], [], []
    scanned = rows_out = 0
    for q in done:
        if q.span is None:
            continue
        tree = subtree(spans, q.span)
        b = [s for s in tree if s.name == "api.build"]
        e = [s for s in tree if s.name == "api.exec"]
        build.append(sum(s.ms for s in b))
        exec_.append(sum(s.ms for s in e))
        ivs = [iv for s in tree for iv in s.stats.get("intervals", [])]
        drv.append(q.span.ms - covered(ivs, q.span.start, q.span.end) * 1000)
        cpu.append(total(tree, "cpu_ms"))
        jobs.append(total(tree, "jobs"))
        bjobs.append(total(b, "jobs"))
        scanned += total(tree, "input_records")
        rows_out += len(q.rows)
    return {
        "api.build_ms": common.median(build),
        "api.exec_ms": common.median(exec_),
        "api.driver_ms": common.median(drv),
        "api.executor_cpu_ms": common.median(cpu),
        "api.jobs_per_req": sum(jobs) / max(1, len(jobs)),
        "api.build_jobs_per_req": sum(bjobs) / max(1, len(bjobs)),
        "api.rows_scanned_per_row_out": scanned / max(1, rows_out),
        "sources.tables.bind_ms": common.median(bind_ms),
    }


# ---------------------------------------------------------------------------
# output checks (run after the timed window)
# ---------------------------------------------------------------------------

IDENTITY_CHECKS = ("earnings", "keyset_pages")


def _key(row: tuple, columns: list[str], order) -> tuple:
    return tuple(row[columns.index(c)] for c, _ in order)


def _before(a: tuple, b: tuple, order) -> bool:
    """True when key ``a`` sorts strictly before key ``b`` in ``order``."""
    for x, y, (_, desc) in zip(a, b, order):
        if x != y:
            return (x > y) if desc else (x < y)
    return False


def _expected_search(dom, params) -> list[str]:
    cols = [c for c, _ in domaingen.SCHEMAS["LS_Opening"]]
    ci, ai, ti = cols.index("LS_contract_id"), cols.index("LS_address_id"), cols.index("LS_timestamp")
    rows = dom.rows["LS_Opening"]
    if params.get("address") is not None:
        rows = [r for r in rows if r[ai] == params["address"]]
    if params.get("search"):
        rows = [r for r in rows if params["search"].lower() in r[ci].lower()]
    rows = sorted(rows, key=lambda r: r[ci])
    rows = sorted(rows, key=lambda r: r[ti], reverse=True)
    order = PAGED["leases/search"][1]
    if params.get("after") is not None:
        rows = [r for r in rows if _before(params["after"], (r[ti], r[ci]), order)]
    else:
        rows = rows[params.get("skip", 0):]
    return [r[ci] for r in rows[: min(params.get("limit", 100), 100)]]


def _scalar_expectations(dom) -> dict[str, dict]:
    """Endpoint outputs the generator can state without Spark."""
    col = dom.column
    cap = 10_000_000_000
    revenue = sum(v for v in col("TR_Profit", "TR_Profit_amnt_stable") if v < cap)
    distributed = sum(col("TR_Rewards_Distribution", "TR_Rewards_amnt_stable"))
    ids = col("block", "id")
    return {
        "treasury/revenue": {"revenue": revenue},
        "treasury/distributed": {"distributed": distributed},
        "treasury/earnings": {"earnings": revenue - distributed},
        "misc/blocks": {"n_blocks": len(ids), "first_block": min(ids), "last_block": max(ids)},
        "positions/open": {"n_open_positions": len(dom.open_leases)},
        "misc/history-stats": {
            "n_leases": len(dom.rows["LS_Opening"]),
            "n_repayments": len(dom.rows["LS_Repayment"]),
            "n_liquidations": len(dom.rows["LS_Liquidation"]),
            "n_deposits": len(dom.rows["LP_Deposit"]),
            "n_withdrawals": len(dom.rows["LP_Withdraw"]),
        },
    }


def _clock_bound(q: Request) -> bool:
    """The response depends on the day of the run."""
    return q.name in CALENDAR or (q.name in PERIODIC and q.params.get("period") != "all")


def _months_back(t: datetime, n: int) -> datetime:
    """``t - INTERVAL n MONTHS`` as Spark computes it: the day is clamped
    to the end of the month."""
    y, m = divmod(t.year * 12 + t.month - 1 - n, 12)
    return t.replace(year=y, month=m + 1, day=min(t.day, calendar.monthrange(y, m + 1)[1]))


# (table, value column, timestamp column) of each activity source
TX_VALUE = (
    ("LS_Opening", "LS_loan_amnt_stable", "LS_timestamp"),
    ("LS_Repayment", "LS_payment_amnt_stable", "LS_timestamp"),
    ("LS_Close_Position", "LS_payment_amnt_stable", "LS_timestamp"),
    ("LP_Deposit", "LP_amnt_stable", "LP_timestamp"),
    ("LP_Withdraw", "LP_amnt_stable", "LP_timestamp"),
)
WALLETS = (
    ("LS_Opening", "LS_address_id", "LS_timestamp"),
    ("LS_Repayment", "LS_contract_id", "LS_timestamp"),
    ("LS_Close_Position", "LS_contract_id", "LS_timestamp"),
    ("LP_Deposit", "LP_address_id", "LP_timestamp"),
    ("LP_Withdraw", "LP_address_id", "LP_timestamp"),
)


def _pick(dom, table: str, ts: str, *cols: str, lo: datetime | None = None) -> list[tuple]:
    """(ts, *cols) of the rows of ``table`` at or after ``lo``."""
    names = [c for c, _ in domaingen.SCHEMAS[table]]
    ix = [names.index(c) for c in (ts, *cols)]
    return [tuple(r[i] for i in ix) for r in dom.rows[table] if lo is None or r[ix[0]] >= lo]


def _sum(values) -> Decimal | None:
    values = [v for v in values if v is not None]
    return sum(values, Decimal(0)) if values else None


def _by_month(rows: list[tuple]) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r[0].strftime("%Y-%m"), []).append(r)
    return out


def _generated(dom, name: str, params: dict, lo: datetime | None) -> list[dict]:
    """The response to a clock- or calendar-bound request, computed from
    the generator's rows; ``lo`` is where the period window starts."""
    if name == "metrics/total-tx-value":
        return [{"total_tx_value": _sum(v for t, c, ts in TX_VALUE for _, v in _pick(dom, t, ts, c, lo=lo))}]
    if name == "pnl/realized":
        return [{"realized_pnl": _sum(v for _, v in _pick(dom, "LS_Loan_Closing", "LS_timestamp", "LS_pnl", lo=lo))}]
    if name == "leases/loans-granted":
        rows = _pick(dom, "LS_Opening", "LS_timestamp", "LS_loan_amnt_stable", lo=lo)
        return [{"n_loans": len(rows), "granted_stable": _sum(v for _, v in rows)}]
    if name == "pnl/over-time":
        out, cum = [], Decimal(0)
        for month, rows in sorted(_by_month(_pick(dom, "LS_Loan_Closing", "LS_timestamp", "LS_pnl", lo=lo)).items()):
            cum += _sum(v for _, v in rows)
            out.append({"month": month, "monthly_pnl": _sum(v for _, v in rows), "cumulative_pnl": cum})
        return out
    if name == "leases/monthly":
        rows = _pick(dom, "LS_Opening", "LS_timestamp", "LS_loan_amnt_stable", lo=lo)
        return [{"month": m, "n_opened": len(g), "loaned_stable": _sum(v for _, v in g)}
                for m, g in _by_month(rows).items()]
    if name == "leases/interest-repayments":
        rows = _pick(dom, "LS_Repayment", "LS_timestamp", "LS_payment_amnt_stable", "LS_principal_stable", lo=lo)
        return [{"month": m, "n_repayments": len(g), "repaid_stable": _sum(r[1] for r in g),
                 "principal_stable": _sum(r[2] for r in g)} for m, g in _by_month(rows).items()]
    if name == "metrics/monthly-active-wallets":
        rows = [r for t, c, ts in WALLETS for r in _pick(dom, t, ts, c)]
        return [{"month": m, "active_wallets": len({a for _, a in g})} for m, g in _by_month(rows).items()]
    if name == "misc/prices":
        secs = params.get("group_minutes", 15) * 60
        best: dict[tuple, Decimal] = {}
        for t, sym, price in _pick(dom, "MP_Asset", "MP_asset_timestamp", "MP_asset_symbol", "MP_price_in_stable"):
            if params.get("symbol") in (None, sym):
                k = (sym, calendar.timegm(t.timetuple()) // secs * secs)
                best[k] = max(best.get(k, price), price)
        return [{"MP_asset_symbol": s, "bucket_start": b, "max_price": p} for (s, b), p in best.items()]
    raise KeyError(name)


def _check_generated(q: Request, dom) -> str | None:
    """Compare a clock- or calendar-bound response with the generator's.
    ``NOW()`` fell somewhere inside the request, so a window may start at
    any instant between the request's start and end: both ends are tried."""
    n = MONTHS.get(q.params.get("period", "all")) if q.name in PERIODIC else None
    starts = {None} if n is None else {_months_back(t, n) for t in q.at}
    got = common.digest(q.columns, q.rows)
    for lo in starts:
        want = _generated(dom, q.name, q.params, lo)
        if got == common.digest(q.columns, [tuple(r.get(c) for c in q.columns) for r in want]):
            return None
    return f"rows differ from the generator's ({len(q.rows)} rows, expected {len(want)})"


def _check_request(q: Request, dom, expect: dict) -> str | None:
    if q.error:
        return q.error
    if q.name in expect and expect[q.name]:
        if len(q.rows) != 1:
            return f"expected one row, got {len(q.rows)}"
        for k, v in expect[q.name].items():
            got = q.rows[0][q.columns.index(k)]
            if got != v:
                return f"{k}={got}, expected {v}"
    if q.name in PAGED:
        order = PAGED[q.name][1]
        keys = [_key(r, q.columns, order) for r in q.rows]
        if len(keys) > min(q.params.get("limit", 100), 100):
            return "page longer than its limit"
        if any(not _before(a, b, order) for a, b in zip(keys, keys[1:])):
            return "page out of order"
        after = q.params.get("after")
        if after is not None and any(not _before(after, k, order) for k in keys):
            return "page holds a row at or before its cursor"
    if q.name == "leases/search":
        got = [r[q.columns.index("LS_contract_id")] for r in q.rows]
        if got != _expected_search(dom, q.params):
            return "leases/search rows differ from the generator's filter and order"
    if q.name in CALENDAR or q.name in PERIODIC:
        return _check_generated(q, dom)
    return None


def check(tables, dom, done: list[Request], seed: int, pin: bool) -> list[str]:
    expect = _scalar_expectations(dom)
    # one entry per failed request or identity check, so failed <= attempted
    wrong = {}
    for i, q in enumerate(done):
        err = _check_request(q, dom, expect)
        if err:
            wrong[i] = f"{q.name} {q.params}: {err}"
    if seed == PIN_SEED and not pin:
        for i, err in _check_pins(done, dom.base).items():
            wrong.setdefault(i, err)
    failures = list(wrong.values())

    def rows(name, **kw):
        return [tuple(r) for r in ENDPOINTS[name](tables, **kw).collect()]

    rev, dist = rows("treasury/revenue")[0][0], rows("treasury/distributed")[0][0]
    earn = rows("treasury/earnings")[0][0]
    if earn != rev - dist:
        failures.append(f"earnings {earn} != revenue {rev} - distributed {dist}")

    # keyset pages: the page after page 1's last key is disjoint from page 1
    # and continues the offset listing exactly
    broken = []
    for name, (_, order) in PAGED.items():
        cols = ENDPOINTS[name](tables).columns
        full = rows(name, limit=40)
        p1 = full[:20]
        p2 = rows(name, limit=20, after=_key(p1[-1], cols, order)) if p1 else []
        keys1, keys2 = ({_key(r, cols, order) for r in p} for p in (p1, p2))
        if keys1 & keys2 or p1 + p2 != full[: len(p1) + len(p2)]:
            broken.append(name)
    if broken:
        failures.append(f"keyset page 2 does not continue page 1: {', '.join(broken)}")

    if seed == PIN_SEED and pin and not failures:
        _write_pins(done, dom.base)
    return failures


def _digests(done: list[Request], base: datetime) -> dict[str, str]:
    """Digests of the first sweep's responses that do not depend on the
    day of the run, with timestamps relative to the domain's base."""
    return {
        f"{q.sweep}:{i}:{q.name}": common.digest(q.columns, q.rows, ordered=q.name in PAGED, base=base)
        for i, q in enumerate(done)
        if q.sweep == 0 and not q.error and not _clock_bound(q)
    }


def _check_pins(done: list[Request], base: datetime) -> dict[int, str]:
    """Request index -> why it does not match its pin."""
    if not os.path.exists(PIN_FILE):
        return {0: f"missing pin file {os.path.basename(PIN_FILE)}"}
    with open(PIN_FILE) as f:
        pins = json.load(f)
    got = _digests(done, base)
    return {int(k.split(":")[1]): f"digest mismatch for request {k}" for k, v in pins.items() if got.get(k) != v}


def _write_pins(done: list[Request], base: datetime) -> None:
    os.makedirs(os.path.dirname(PIN_FILE), exist_ok=True)
    with open(PIN_FILE, "w") as f:
        json.dump(_digests(done, base), f, indent=1, sort_keys=True)
