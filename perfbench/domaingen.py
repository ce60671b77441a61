"""Seeded domain-table generator for the ``serve`` workload.

Builds every silver/gold table the API endpoints read, sized by a lease
count, and writes them as parquet with pyarrow (no JVM). The tables
honour the referential invariants of FIXTURES.md §5:

- every ``LS_*`` child row names a lease in ``LS_Opening``; every pool id
  is a protocol's ``lpp_contract``; every symbol is in
  ``currency_registry`` and has a price tick before its first use;
- a lease opens, takes 0..n repayments / partial closes / liquidations,
  and at most one terminal event, which is followed by ``LS_Closing``
  and ``LS_Loan_Closing`` rows; about 40% of leases stay open;
- open leases, and only they, appear in every ``LS_State`` round, and all
  rows of a snapshot round share its timestamp.

Timestamps are laid out from the day of the run: every one is ``base`` (a
UTC midnight ``SPAN_DAYS`` + 2 days before that day) plus a seeded offset,
so the data end the day before the run. The endpoints anchor
``?period=3m|6m|12m`` at ``NOW()``, and each of those windows selects a
real share of the rows. Read relative to ``base``, a response is the same
on any day unless it depends on the calendar (month buckets, epoch-aligned
buckets) or on the clock (period windows).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_DAYS = 540
POOLS = ("pool0", "pool1")  # pool0 Long, pool1 Short
ASSETS = ("ATOM", "OSMO", "NLS", "ALL_BTC")
STABLE = "USDC"
MSG_TYPES = (
    "/cosmwasm.wasm.v1.MsgExecuteContract",
    "/cosmos.bank.v1beta1.MsgSend",
    "/ibc.applications.transfer.v1.MsgTransfer",
    "/cosmos.staking.v1beta1.MsgDelegate",
)
PUSH_TYPES = ("Funding", "FundingRecommended", "FundNow", "PartiallyLiquidated")
SNAPSHOT_ROUNDS = 12

D0 = "decimal(38,0)"
D18 = "decimal(38,18)"

SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "LS_Opening": [
        ("LS_contract_id", "string"), ("LS_address_id", "string"),
        ("LS_asset_symbol", "string"), ("LS_interest", "int"),
        ("LS_timestamp", "timestamp"), ("LS_loan_pool_id", "string"),
        ("LS_loan_amnt", D0), ("LS_loan_amnt_stable", D0),
        ("LS_cltr_amnt", D0), ("LS_cltr_amnt_stable", D0),
        ("Tx_Hash", "string"), ("LS_position_type", "string"),
        ("LS_lpn_symbol", "string"),
    ],
    "LS_Repayment": [
        ("LS_repayment_height", "long"), ("LS_repayment_idx", "int"),
        ("LS_contract_id", "string"), ("LS_payment_symbol", "string"),
        ("LS_payment_amnt", D0), ("LS_payment_amnt_stable", D0),
        ("LS_timestamp", "timestamp"), ("LS_loan_close", "boolean"),
        ("LS_principal_stable", D0), ("LS_prev_margin_stable", D0),
        ("LS_prev_interest_stable", D0), ("LS_current_margin_stable", D0),
        ("LS_current_interest_stable", D0), ("Tx_Hash", "string"),
    ],
    "LS_Close_Position": [
        ("LS_position_height", "long"), ("LS_position_idx", "int"),
        ("LS_contract_id", "string"), ("LS_change", D0), ("LS_amnt", D0),
        ("LS_amnt_symbol", "string"), ("LS_payment_symbol", "string"),
        ("LS_payment_amnt", D0), ("LS_payment_amnt_stable", D0),
        ("LS_timestamp", "timestamp"), ("LS_loan_close", "boolean"),
        ("Tx_Hash", "string"),
    ],
    "LS_Liquidation": [
        ("LS_liquidation_height", "long"), ("LS_liquidation_idx", "int"),
        ("LS_contract_id", "string"), ("LS_amnt_symbol", "string"),
        ("LS_amnt", D0), ("LS_amnt_stable", D0),
        ("LS_payment_symbol", "string"), ("LS_payment_amnt", D0),
        ("LS_payment_amnt_stable", D0), ("LS_timestamp", "timestamp"),
        ("LS_loan_close", "boolean"), ("LS_transaction_type", "string"),
        ("Tx_Hash", "string"),
    ],
    "LS_Closing": [
        ("LS_contract_id", "string"), ("LS_timestamp", "timestamp"),
        ("Tx_Hash", "string"),
    ],
    "LS_Loan_Closing": [
        ("LS_contract_id", "string"), ("LS_amnt", D0), ("LS_amnt_stable", D0),
        ("LS_pnl", D0), ("LS_timestamp", "timestamp"), ("Type", "string"),
        ("Active", "boolean"), ("Block", "long"),
    ],
    "LS_State": [
        ("LS_contract_id", "string"), ("LS_timestamp", "timestamp"),
        ("LS_amnt_stable", D0), ("LS_principal_stable", D0),
        ("LS_prev_margin_stable", D0), ("LS_prev_interest_stable", D0),
        ("LS_current_margin_stable", D0), ("LS_current_interest_stable", D0),
    ],
    "LP_Deposit": [
        ("LP_deposit_height", "long"), ("LP_deposit_idx", "int"),
        ("LP_address_id", "string"), ("LP_timestamp", "timestamp"),
        ("LP_Pool_id", "string"), ("LP_amnt_stable", D0),
        ("LP_amnt_asset", D0), ("LP_amnt_receipts", D0), ("Tx_Hash", "string"),
    ],
    "LP_Withdraw": [
        ("LP_withdraw_height", "long"), ("LP_withdraw_idx", "int"),
        ("LP_address_id", "string"), ("LP_timestamp", "timestamp"),
        ("LP_Pool_id", "string"), ("LP_amnt_stable", D0),
        ("LP_amnt_asset", D0), ("LP_amnt_receipts", D0),
        ("LP_deposit_close", "boolean"), ("Tx_Hash", "string"),
    ],
    "LP_Pool_State": [
        ("LP_Pool_id", "string"), ("LP_Pool_timestamp", "timestamp"),
        ("LP_Pool_total_value_locked_stable", D0),
        ("LP_Pool_total_borrowed_stable", D0),
        ("LP_Pool_total_issued_receipts", D0),
    ],
    "LP_Lender_State": [
        ("LP_address_id", "string"), ("LP_Pool_id", "string"),
        ("LP_timestamp", "timestamp"), ("LP_Lender_receipts", D0),
    ],
    "TR_Profit": [
        ("TR_Profit_height", "long"), ("TR_Profit_idx", "int"),
        ("TR_Profit_timestamp", "timestamp"), ("TR_Profit_amnt_stable", D0),
        ("TR_Profit_amnt_nls", D0), ("Tx_Hash", "string"),
    ],
    "TR_Rewards_Distribution": [
        ("TR_Rewards_height", "long"), ("TR_Rewards_idx", "int"),
        ("TR_Rewards_Pool_id", "string"), ("TR_Rewards_timestamp", "timestamp"),
        ("TR_Rewards_amnt_stable", D0), ("TR_Rewards_amnt_nls", D0),
        ("Event_Block_Index", "int"), ("Tx_Hash", "string"),
    ],
    "MP_Asset": [
        ("MP_asset_symbol", "string"), ("MP_asset_timestamp", "timestamp"),
        ("MP_price_in_stable", D18), ("Protocol", "string"),
    ],
    "block": [("id", "long")],
    "raw_message": [
        ("index", "int"), ("from", "string"), ("to", "string"),
        ("tx_hash", "string"), ("type", "string"), ("value", "string"),
        ("block", "long"), ("fee_amount", D0), ("fee_denom", "string"),
        ("memo", "string"), ("timestamp", "timestamp"), ("rewards", "string"),
        ("code", "int"),
    ],
    "protocol_registry": [
        ("protocol_name", "string"), ("network", "string"), ("dex", "string"),
        ("lpp_contract", "string"), ("lpn_symbol", "string"),
        ("position_type", "string"), ("is_active", "boolean"),
    ],
    "currency_registry": [
        ("ticker", "string"), ("bank_symbol", "string"),
        ("decimal_digits", "int"), ("currency_group", "string"),
        ("is_active", "boolean"),
    ],
    "subscription": [
        ("address", "string"), ("endpoint", "string"), ("p256dh", "string"),
        ("auth", "string"), ("active", "boolean"),
    ],
}

_ARROW = {
    "string": pa.string(),
    "int": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "ntz": pa.timestamp("us"),  # the TPC-H-shaped test data's naive timestamps
    "vector": pa.list_(pa.float32()),
    D0: pa.decimal128(38, 0),
    D18: pa.decimal128(38, 18),
}


def arrow_schema(cols: list[tuple[str, str]]) -> pa.Schema:
    return pa.schema([(c, _ARROW[t]) for c, t in cols])


def write_table(path: str, cols: list[tuple[str, str]], rows: list[tuple]) -> None:
    schema = arrow_schema(cols)
    arrays = [
        pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(schema)
    ]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


@dataclass
class Domain:
    """Generated tables plus the facts the request mix and checks need."""

    rows: dict[str, list[tuple]]
    addresses: list[str]  # most active first
    subs: list[tuple[str, str]]  # (address, auth) of existing subscriptions
    open_leases: set[str]
    closed_leases: set[str]
    base: datetime  # every timestamp is base + a seeded offset (naive UTC)
    rounds: list[datetime] = field(default_factory=list)

    def column(self, table: str, name: str) -> list:
        i = [c for c, _ in SCHEMAS[table]].index(name)
        return [r[i] for r in self.rows[table]]

    def write(self, out_dir: str) -> dict[str, str]:
        paths = {}
        for name, cols in SCHEMAS.items():
            paths[name] = f"{out_dir}/{name}.parquet"
            write_table(paths[name], cols, self.rows[name])
        return paths


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def _dec(x: int) -> Decimal:
    return Decimal(int(x))


def base_for(today: date) -> datetime:
    return datetime(today.year, today.month, today.day) - timedelta(days=SPAN_DAYS + 2)


def generate(seed: int, n_leases: int = 1200, today: date | None = None) -> Domain:
    """The domain for ``seed``, laid out to end the day before ``today``
    (UTC; default: the current day)."""
    base = base_for(today or datetime.now(timezone.utc).date())
    rng = random.Random(seed)
    n_addr = max(10, n_leases // 8)
    addresses = [f"nolus1addr{a:05d}" for a in range(n_addr)]
    addr_w = zipf_weights(n_addr)
    lenders = [f"nolus1lend{a:04d}" for a in range(max(4, n_leases // 20))]
    height = [1000]
    tx_counter = [0]

    def next_height() -> int:
        height[0] += rng.randint(1, 3)
        return height[0]

    def tx() -> str:
        tx_counter[0] += 1
        return f"{rng.getrandbits(64):016x}{tx_counter[0]:08x}"

    def ts_at(day: float) -> datetime:
        return (base + timedelta(days=day)).replace(microsecond=0)

    end = base + timedelta(days=SPAN_DAYS)
    rounds = [end + timedelta(hours=h + 1) for h in range(SNAPSHOT_ROUNDS)]

    # price series: 6-hourly ticks from a day before base for every asset + USDC
    prices = []
    for sym in ASSETS + (STABLE,):
        p = 1.0 if sym == STABLE else rng.uniform(1, 50)
        t = base - timedelta(days=1)
        while t <= rounds[-1]:
            if sym != STABLE:
                p = max(0.01, p * (1 + rng.gauss(0, 0.01)))
            if rng.random() > 0.02:  # occasional gaps: as-of fallback
                prices.append(
                    (sym, t, Decimal(f"{p:.6f}"), "osmosis-usdc" if rng.random() < 0.7 else "neutron-usdc")
                )
            t += timedelta(hours=6)

    opening, repay, close_pos, liq, closing, loan_closing = [], [], [], [], [], []
    ls_state = []
    open_leases, closed_leases = set(), set()
    for i in range(n_leases):
        cid = f"nolus1lease{i:06d}"
        addr = rng.choices(addresses, addr_w)[0]
        day = rng.uniform(0, SPAN_DAYS - 40)
        t_open = ts_at(day)
        pool = POOLS[i % 2]
        asset = rng.choice(ASSETS)
        loan = rng.randint(100, 50_000) * 1000
        dp = rng.randint(50, 20_000) * 1000
        position = None if rng.random() < 0.1 else ("Long" if pool == "pool0" else "Short")
        opening.append(
            (cid, addr, asset, rng.randint(60, 180), t_open, pool, _dec(loan),
             _dec(loan), _dec(dp), _dec(dp), tx(), position, STABLE)
        )
        # lifecycle: 0..3 events, ~60% end in one terminal event
        terminal_kind = rng.choices(
            [None, "repay", "market-close", "liquidation"], [40, 35, 15, 10]
        )[0]
        n_events = rng.randint(0, 3)
        t = day
        repaid = 0
        for j in range(n_events + (1 if terminal_kind else 0)):
            t += rng.uniform(0.5, 10)
            is_terminal = terminal_kind is not None and j == n_events
            kind = terminal_kind if is_terminal else rng.choices(
                ["repay", "market-close", "liquidation"], [80, 12, 8]
            )[0]
            h = next_height()
            ts = ts_at(t)
            amt = rng.randint(1, max(2, loan // 4000)) * 1000
            if kind == "repay":
                principal = min(amt, max(0, loan - repaid))
                repaid += principal
                q = [rng.randint(0, 5000) * 10 for _ in range(4)]
                repay.append(
                    (h, 0, cid, STABLE, _dec(amt), _dec(amt), ts, is_terminal,
                     _dec(principal), *map(_dec, q), tx())
                )
            elif kind == "market-close":
                close_pos.append(
                    (h, 0, cid, _dec(amt // 10), _dec(amt), asset, STABLE,
                     _dec(amt), _dec(amt), ts, is_terminal, tx())
                )
            else:
                liq.append(
                    (h, 0, cid, asset, _dec(amt), _dec(amt), STABLE, _dec(amt),
                     _dec(amt), ts, is_terminal,
                     rng.choice(["overdue interest", "high liability", "overdue"]), tx())
                )
            if is_terminal:
                t_close = ts + timedelta(hours=1)
                closing.append((cid, t_close, tx()))
                pnl = rng.randint(-loan // 2, loan // 2)
                loan_closing.append(
                    (cid, _dec(loan), _dec(loan + pnl), _dec(pnl), t_close,
                     {"repay": "repay", "market-close": "market-close",
                      "liquidation": "liquidation"}[kind],
                     rng.random() < 0.9, h + 1)
                )
        if terminal_kind is None:
            open_leases.add(cid)
            amnt = loan + dp
            for rts in rounds:
                q = [rng.randint(0, 5000) * 10 for _ in range(4)]
                ls_state.append(
                    (cid, rts, _dec(amnt), _dec(max(0, loan - repaid)), *map(_dec, q))
                )
        else:
            closed_leases.add(cid)

    deposits, withdrawals = [], []
    balance: dict[tuple[str, str], int] = {}
    for k in range(n_leases):
        lender = rng.choices(lenders, zipf_weights(len(lenders)))[0]
        pool = rng.choice(POOLS)
        ts = ts_at(rng.uniform(0, SPAN_DAYS))
        amt = rng.randint(1, 5000) * 1000
        deposits.append(
            (next_height(), 0, lender, ts, pool, _dec(amt), _dec(amt),
             _dec(amt * 9 // 10), tx())
        )
        balance[(lender, pool)] = balance.get((lender, pool), 0) + amt * 9 // 10
        if rng.random() < 0.3:
            w = amt // 2
            closes = rng.random() < 0.2
            withdrawals.append(
                (next_height(), 0, lender, ts + timedelta(days=rng.uniform(1, 30)),
                 pool, _dec(w), _dec(w), _dec(w * 9 // 10), closes, tx())
            )
            balance[(lender, pool)] -= w * 9 // 10
            if closes:
                balance[(lender, pool)] = 0

    pool_state, lender_state = [], []
    for r, rts in enumerate(rounds):
        for pool in POOLS:
            tvl = sum(v for (l, p), v in balance.items() if p == pool) + r * 1000
            pool_state.append(
                (pool, rts, _dec(tvl), _dec(tvl * 6 // 10), _dec(tvl * 9 // 10))
            )
        for (lender, pool), v in sorted(balance.items()):
            lender_state.append((lender, pool, rts, _dec(max(0, v))))

    profit = []
    for k in range(n_leases // 2):
        amt = rng.randint(1, 10_000) * 100
        profit.append(
            (next_height(), 0, ts_at(rng.uniform(0, SPAN_DAYS)), _dec(amt),
             _dec(amt // 2), tx())
        )
    for _ in range(3):  # corrupt rows the revenue endpoints must exclude
        profit.append(
            (next_height(), 0, ts_at(rng.uniform(0, SPAN_DAYS)),
             _dec(10**12 + rng.randint(0, 10**6)), _dec(1), tx())
        )
    rewards = [
        (next_height(), 0, rng.choice(POOLS), ts_at(rng.uniform(0, SPAN_DAYS)),
         _dec(rng.randint(1, 5000) * 10), _dec(rng.randint(1, 100) * 10),
         rng.randint(0, 5), tx())
        for _ in range(n_leases // 4)
    ]

    top = height[0]
    blocks = [(b,) for b in range(1000, top + 1) if rng.random() > 0.01]

    messages = []
    for k in range(n_leases * 4):
        t = ts_at(rng.uniform(0, SPAN_DAYS))
        frm = rng.choices(addresses, addr_w)[0]
        to = rng.choice(addresses + [f"nolus1contract{c}" for c in range(5)])
        h = rng.randint(1000, top)
        messages.append(
            (rng.randint(0, 3), frm, to, tx(), rng.choice(MSG_TYPES), "{}", h,
             _dec(rng.randint(1, 500) * 100), "unls", "" if rng.random() < 0.8 else "memo",
             t, None, None if rng.random() < 0.9 else rng.randint(1, 40))
        )

    protocols = [
        ("osmosis-usdc", "osmosis", "osmosis-dex", "pool0", STABLE, "Long", True),
        ("neutron-usdc", "neutron", "astroport", "pool1", STABLE, "Short", True),
        ("legacy", "osmosis", "osmosis-dex", "poolX", STABLE, "Long", False),
    ]
    currencies = [
        (sym, f"ibc/{sym.lower()}", 6, "native", True) for sym in ASSETS
    ] + [(STABLE, "ibc/usdc", 6, "stable", True), ("OLD", "ibc/old", 8, "native", False)]

    subs, sub_rows = [], []
    for k, addr in enumerate(addresses[: max(4, n_addr // 4)]):
        for j in range(1 + (k % 3 == 0)):
            auth = f"auth{k}_{j}"
            sub_rows.append(
                (addr, f"https://push.example/{k}/{j}", f"p{k}_{j}", auth, rng.random() < 0.8)
            )
            subs.append((addr, auth))

    rows = {
        "LS_Opening": opening,
        "LS_Repayment": repay,
        "LS_Close_Position": close_pos,
        "LS_Liquidation": liq,
        "LS_Closing": closing,
        "LS_Loan_Closing": loan_closing,
        "LS_State": ls_state,
        "LP_Deposit": deposits,
        "LP_Withdraw": withdrawals,
        "LP_Pool_State": pool_state,
        "LP_Lender_State": lender_state,
        "TR_Profit": profit,
        "TR_Rewards_Distribution": rewards,
        "MP_Asset": prices,
        "block": blocks,
        "raw_message": messages,
        "protocol_registry": protocols,
        "currency_registry": currencies,
        "subscription": sub_rows,
    }
    return Domain(
        rows=rows,
        addresses=addresses,
        subs=subs,
        open_leases=open_leases,
        closed_leases=closed_leases,
        base=base,
        rounds=rounds,
    )
