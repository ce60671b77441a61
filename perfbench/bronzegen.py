"""Seeded bronze-block generator for the ``ingest`` workload.

Produces a chain of blocks whose events walk leases through their
lifecycle (open -> repay / partial close -> repay-close, market close or
liquidation -> ``wasm-ls-close``) and cover all 13 event types the parsers
dispatch on, plus an ``MP_Asset`` price series for enrichment. A share of
blocks is delivered a second time, up to 30 blocks later (replays), and a
share of the events whose parsers take the skip path carry no ``height``
attribute. With ``late_after``, every ``late_every`` blocks from that block
on also bring a late replay of one of the first ``late_after`` blocks: a
consumer that already holds those blocks sees them again.

The generator states the silver row count each table must reach by
itself, from the events it emitted, not through the program.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from decimal import Decimal

BASE = datetime(2010, 1, 1, tzinfo=timezone.utc)
BLOCK_SECONDS = 60
FIRST_HEIGHT = 100_000
ASSETS = ("ATOM", "OSMO", "ALL_BTC")
LPN = "USDC"
NATIVE = "NLS"
POOLS = ("pool0", "pool1")
REPLAY_SHARE = 0.05
NO_HEIGHT_SHARE = 0.05

# event type -> silver table it lands in
TABLE_OF = {
    "wasm-ls-open": "LS_Opening",
    "wasm-ls-close": "LS_Closing",
    "wasm-ls-repay": "LS_Repayment",
    "wasm-ls-close-position": "LS_Close_Position",
    "wasm-ls-liquidation": "LS_Liquidation",
    "wasm-ls-liquidation-warning": "LS_Liquidation_Warning",
    "wasm-ls-auto-close-position": "LS_Auto_Close_Position",
    "wasm-ls-slippage-anomaly": "LS_Slippage_Anomaly",
    "wasm-reserve-cover-loss": "Reserve_Cover_Loss",
    "wasm-lp-deposit": "LP_Deposit",
    "wasm-lp-withdraw": "LP_Withdraw",
    "wasm-tr-profit": "TR_Profit",
    "wasm-tr-rewards": "TR_Rewards_Distribution",
}
# parsers drop these types' rows when ``height`` is missing
SKIP_PATH = {
    "wasm-ls-repay", "wasm-ls-close-position", "wasm-ls-liquidation",
    "wasm-reserve-cover-loss", "wasm-lp-deposit", "wasm-lp-withdraw",
    "wasm-tr-profit", "wasm-tr-rewards",
}


@dataclass
class Chain:
    # (height, bronze rows) in delivery order; a replayed block appears twice
    deliveries: list[tuple[int, list[tuple]]]
    heights: list[int]
    # (height, table) -> silver rows that block contributes
    landed: dict[int, dict[str, int]]
    prices: list[tuple]  # MP_Asset rows

    def expected_counts(self, heights) -> dict[str, int]:
        """Silver rows once the given blocks have landed, each once."""
        out = {t: 0 for t in TABLE_OF.values()}
        for h in set(heights):
            for t, n in self.landed[h].items():
                out[t] += n
        return out


def block_time(height: int) -> datetime:
    return BASE + timedelta(seconds=(height - FIRST_HEIGHT) * BLOCK_SECONDS)


def _micros(t: datetime) -> int:
    return int(t.timestamp()) * 1_000_000


def generate(
    seed: int,
    n_blocks: int,
    events_per_block: int = 12,
    late_after: int | None = None,
    late_every: int = 10,
) -> Chain:
    rng = random.Random(seed)
    open_leases: list[str] = []
    closing_due: list[str] = []  # leases whose terminal event was emitted
    n_lease = [0]
    lenders = [f"nolus1lend{i:03d}" for i in range(40)]
    deliveries, heights, landed, replays = [], [], {}, []
    by_height: dict[int, list[tuple]] = {}

    def interest(attrs: dict) -> None:
        keys = (
            ("prev-margin-interest", "prev-loan-interest", "curr-margin-interest", "curr-loan-interest")
            if rng.random() < 0.5
            else ("overdue-margin-interest", "overdue-loan-interest", "due-margin-interest", "due-loan-interest")
        )
        for k in keys:
            attrs[k] = str(rng.randint(0, 5000))

    def payment(kind: str, lease: str, h: int, at: str, close: bool) -> dict:
        a = {
            "height": str(h), "to": lease, "payment-symbol": LPN,
            "payment-amount": str(rng.randint(1, 2000) * 1000), "at": at,
            "loan-close": "true" if close else "false",
            "principal": str(rng.randint(1, 1000) * 1000),
        }
        interest(a)
        if kind == "wasm-ls-liquidation":
            a.update({"amount-symbol": rng.choice(ASSETS),
                      "amount-amount": str(rng.randint(1, 500) * 1000),
                      "cause": rng.choice(["overdue interest", "high liability"])})
        elif kind == "wasm-ls-close-position":
            a.update({"change": str(rng.randint(0, 100) * 1000),
                      "amount-amount": str(rng.randint(1, 500) * 1000),
                      "amount-symbol": rng.choice(ASSETS)})
        return a

    for b in range(n_blocks):
        h = FIRST_HEIGHT + b
        t = block_time(h)
        at = t.strftime("%Y-%m-%dT%H:%M:%S")
        events: list[tuple[str, dict]] = []
        touched: set[str] = set()  # one lease event per block keeps (lease, ts) keys unique

        # terminal events emitted earlier get their wasm-ls-close now
        while closing_due:
            events.append(("wasm-ls-close", {"id": closing_due.pop(), "at": at}))
        for _ in range(events_per_block):
            r = rng.random()
            free = [x for x in open_leases if x not in touched]
            if r < 0.22 or len(free) < 5:
                lease = f"nolus1lease{n_lease[0]:06d}"
                n_lease[0] += 1
                open_leases.append(lease)
                touched.add(lease)
                events.append(("wasm-ls-open", {
                    "id": lease, "customer": f"nolus1addr{rng.randint(0, 199):04d}",
                    "currency": rng.choice(ASSETS), "air": str(rng.randint(60, 180)),
                    "at": at, "loan-pool-id": rng.choice(POOLS),
                    "loan-amount": str(rng.randint(100, 5000) * 1000), "loan-symbol": LPN,
                    "downpayment-amount": str(rng.randint(50, 3000) * 1000),
                    "downpayment-symbol": rng.choice((LPN,) + ASSETS),
                }))
                continue
            lease = rng.choice(free)
            touched.add(lease)
            if r < 0.50:
                close = rng.random() < 0.25
                events.append(("wasm-ls-repay", payment("wasm-ls-repay", lease, h, at, close)))
            elif r < 0.56:
                close = rng.random() < 0.5
                events.append(("wasm-ls-close-position",
                               payment("wasm-ls-close-position", lease, h, at, close)))
            elif r < 0.61:
                close = rng.random() < 0.5
                events.append(("wasm-ls-liquidation",
                               payment("wasm-ls-liquidation", lease, h, at, close)))
            elif r < 0.66:
                events.append(("wasm-ls-liquidation-warning", {
                    "lease": lease, "customer": "nolus1addr0000", "lease-asset": rng.choice(ASSETS),
                    "level": str(rng.randint(1, 3)), "ltv": str(rng.randint(700, 900)), "at": at,
                }))
                continue
            elif r < 0.69:
                events.append(("wasm-ls-auto-close-position", {
                    "to": lease, "strategy": rng.choice(["take-profit", "stop-loss"]),
                    "strategy-ltv": str(rng.randint(100, 900)), "at": at,
                }))
                continue
            elif r < 0.71:
                events.append(("wasm-ls-slippage-anomaly", {
                    "customer": "nolus1addr0001", "lease": lease,
                    "lease-asset": rng.choice(ASSETS), "max-slippage": str(rng.randint(1, 50)),
                    "at": at,
                }))
                continue
            elif r < 0.73:
                events.append(("wasm-reserve-cover-loss", {
                    "height": str(h), "to": lease, "payment-amount": str(rng.randint(1, 100) * 1000),
                    "payment-symbol": LPN, "at": at,
                }))
                continue
            elif r < 0.85:
                kind = "deposit" if rng.random() < 0.7 else "withdraw"
                a = {"height": str(h), "from": rng.choice(lenders), "to": rng.choice(POOLS),
                     "at": at, f"{kind}-amount": str(rng.randint(1, 5000) * 1000),
                     f"{kind}-symbol": LPN, "receipts": str(rng.randint(1, 4000) * 1000)}
                if kind == "withdraw":
                    a["close"] = "true" if rng.random() < 0.2 else "false"
                events.append((f"wasm-lp-{kind}", a))
                continue
            elif r < 0.93:
                events.append(("wasm-tr-profit", {
                    "height": str(h), "at": at, "profit-amount-symbol": NATIVE,
                    "profit-amount-amount": str(rng.randint(1, 1000) * 100),
                }))
                continue
            else:
                events.append(("wasm-tr-rewards", {
                    "height": str(h), "to": rng.choice(POOLS), "at": at,
                    "rewards-symbol": NATIVE, "rewards-amount": str(rng.randint(1, 1000) * 100),
                }))
                continue
            if events[-1][1].get("loan-close") == "true":
                open_leases.remove(lease)
                closing_due.append(lease)

        rows, per = [], {}
        for idx, (etype, attrs) in enumerate(events):
            if etype in SKIP_PATH and rng.random() < NO_HEIGHT_SHARE:
                attrs = {k: v for k, v in attrs.items() if k != "height"}
            else:
                table = TABLE_OF[etype]
                per[table] = per.get(table, 0) + 1
            rows.append((h, f"{rng.getrandbits(96):024x}", idx, etype, _micros(t), attrs))
        landed[h] = per
        by_height[h] = rows
        heights.append(h)
        deliveries.append((h, rows))
        if rng.random() < REPLAY_SHARE:  # delivered again up to 30 blocks later
            replays.append((h + rng.randint(0, 30), h, rows))
        deliveries += [(r, rr) for due, r, rr in replays if due <= h]
        replays = [x for x in replays if x[0] > h]
        if late_after is not None and b >= late_after and (b - late_after) % late_every == late_every // 2:
            old = rng.randrange(late_after)
            deliveries.append((heights[old], by_height[heights[old]]))

    deliveries += [(r, rr) for _, r, rr in replays]
    return Chain(deliveries, heights, landed, _prices(rng, n_blocks))


def _prices(rng: random.Random, n_blocks: int) -> list[tuple]:
    """MP_Asset ticks every 10 minutes from a day before the first block
    to past the last one, with the odd gap (as-of joins fall back to the
    previous tick)."""
    out = []
    end = block_time(FIRST_HEIGHT + n_blocks) + timedelta(hours=1)
    for sym in ASSETS + (LPN, NATIVE):
        p = 1.0 if sym == LPN else rng.uniform(0.5, 40)
        t = BASE - timedelta(days=1)
        while t <= end:
            if sym != LPN:
                p = max(0.01, p * (1 + rng.gauss(0, 0.005)))
            if rng.random() > 0.03:
                out.append((sym, t, Decimal(f"{p:.6f}"), "osmosis-usdc"))
            t += timedelta(minutes=10)
    return out
