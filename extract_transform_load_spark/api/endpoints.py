"""The reference's API surface (SURVEY.md §2.C — 46 endpoints) as
parameterized DataFrame queries over the domain silver/gold tables.

Routes registered at reference `crates/etl-api/src/server.rs:54-122`;
each function cites its controller. Conventions shared with the
reference: ``period`` ∈ {3m, 6m, 12m, all} (default 3m), ``from_ts``
incremental filter, ``skip``/``limit`` pagination capped at 100
(`controller/leases.rs:45-47`), CSV export via ``sources.sinks``.

Every endpoint takes a ``tables`` mapping (table name → DataFrame) —
production binds these to the silver/gold parquet paths; tests bind tiny
synthetic frames. Serving deployments materialize the hot endpoints as
gold tables on the aggregation cadence (`pipeline/gold.py`) instead of
caching responses (reference A23).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.finance import apr_to_apy, interest_rate
from ..functions.timewin import period_filter
from ..operators.latest import latest_per_key
from ..operators.pagination import keyset_page, paginate
from ..schemas import AMOUNT
from ..sources.tables import literal_row

Tables = dict[str, DataFrame]
SIGNED = "decimal(38,0)"

ENDPOINTS: dict[str, Callable[..., DataFrame]] = {}


def _page(df, order_specs, skip, limit, after=None):
    """Route a list endpoint to its pagination strategy.

    ``order_specs`` = [(col, descending), ...] — a total order. With an
    ``after`` cursor (the previous page's last key tuple) the page comes
    from ``keyset_page``: the cursor predicate pushes into the scan and
    page N costs page-1 money — the deep-page path the reference's
    offset-only API lacks. Without a cursor, offset pagination plans as
    TakeOrderedAndProject (operators/pagination.py).
    """
    cap = _cap(limit)
    if after is not None:
        return keyset_page(
            df,
            [c for c, _ in order_specs],
            after=after,
            limit=cap,
            descending=[d for _, d in order_specs],
        )
    order = [F.col(c).desc() if d else F.col(c).asc() for c, d in order_specs]
    return paginate(df, order, offset=skip, limit=cap)

# The reference excludes obviously-corrupt profit rows from revenue
# (`tr_profit.rs:221,258`).
OUTLIER_CAP = 10_000_000_000


def endpoint(name: str):
    def deco(fn):
        ENDPOINTS[name] = fn
        return fn

    return deco


def _cap(limit: int) -> int:
    return min(limit, 100)


def _z() -> Column:
    return F.lit(0).cast(AMOUNT)


# ---------------------------------------------------------------------------
# controller/treasury.rs
# ---------------------------------------------------------------------------


@endpoint("treasury/revenue")
def revenue(tables: Tables, **_: Any) -> DataFrame:
    """Total protocol revenue (`treasury.rs:23`): Σ TR_Profit stable,
    outliers excluded."""
    return (
        tables["TR_Profit"]
        .filter(F.col("TR_Profit_amnt_stable") < OUTLIER_CAP)
        .agg(F.sum("TR_Profit_amnt_stable").cast(AMOUNT).alias("revenue"))
    )


@endpoint("treasury/revenue-series")
def revenue_series(tables: Tables, **_: Any) -> DataFrame:
    """Daily + cumulative revenue (`treasury.rs:52`; SQL `tr_profit.rs:214-231`)."""
    daily = (
        tables["TR_Profit"]
        .filter(F.col("TR_Profit_amnt_stable") < OUTLIER_CAP)
        .groupBy(F.col("TR_Profit_timestamp").cast("date").alias("day"))
        .agg(F.sum("TR_Profit_amnt_stable").cast(AMOUNT).alias("daily_revenue"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.withColumn("cumulative_revenue", F.sum("daily_revenue").over(w).cast(AMOUNT))


@endpoint("treasury/distributed")
def distributed(tables: Tables, **_: Any) -> DataFrame:
    """Σ rewards distributed (`treasury.rs:94`)."""
    return tables["TR_Rewards_Distribution"].agg(
        F.sum("TR_Rewards_amnt_stable").cast(AMOUNT).alias("distributed")
    )


@endpoint("treasury/buyback")
def buyback(
    tables: Tables, skip: int = 0, limit: int = 100, after=None, **_: Any
) -> DataFrame:
    """Buyback running total series (`treasury.rs:130`; cumsum SQL
    `tr_profit.rs:110-121`)."""
    t = tables["TR_Profit"]
    w = Window.orderBy("TR_Profit_timestamp", "TR_Profit_height").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    series = t.select(
        "TR_Profit_timestamp",
        # height rides along as the pagination tiebreak: profits can
        # share a timestamp, and a cursor (or page boundary) on a
        # non-total order skips or duplicates the tied rows.
        "TR_Profit_height",
        F.sum("TR_Profit_amnt_nls").over(w).cast(AMOUNT).alias("bought_back_total"),
    )
    return _page(
        series,
        [("TR_Profit_timestamp", True), ("TR_Profit_height", True)],
        skip,
        limit,
        after,
    )


@endpoint("treasury/buyback-total")
def buyback_total(tables: Tables, **_: Any) -> DataFrame:
    return tables["TR_Profit"].agg(
        F.sum("TR_Profit_amnt_nls").cast(AMOUNT).alias("bought_back_total")
    )


@endpoint("treasury/earnings")
def earnings(tables: Tables, **_: Any) -> DataFrame:
    """Treasury earnings = revenue − distributed (`treasury.rs:213`):
    one union-agg job (profit rows positive, rewards negated) instead of
    two driver-collected scalars."""
    p = (
        tables["TR_Profit"]
        .filter(F.col("TR_Profit_amnt_stable") < OUTLIER_CAP)
        .select(F.col("TR_Profit_amnt_stable").cast(SIGNED).alias("v"))
    )
    r = tables["TR_Rewards_Distribution"].select(
        (-F.col("TR_Rewards_amnt_stable")).cast(SIGNED).alias("v")
    )
    return p.unionByName(r).agg(
        F.coalesce(F.sum("v"), F.lit(0)).cast(SIGNED).alias("earnings")
    )


# ---------------------------------------------------------------------------
# controller/metrics.rs
# ---------------------------------------------------------------------------


def _latest_snapshot(df: DataFrame, ts_col: str) -> DataFrame:
    """All rows of the latest shared snapshot round (`ls_state.rs:200-221`):
    a filter against the scalar subquery ``max(ts)``, the reference's
    ``WHERE ts = (SELECT MAX(ts) ...)``. The subquery runs once per
    query and needs no join."""
    return df.filter(F.col(ts_col) == df.select(F.max(ts_col)).scalar())


@endpoint("metrics/tvl")
def tvl(tables: Tables, **_: Any) -> DataFrame:
    """Platform TVL from the latest pool snapshots (`metrics.rs:26`)."""
    latest = _latest_snapshot(tables["LP_Pool_State"], "LP_Pool_timestamp")
    return latest.agg(
        F.sum("LP_Pool_total_value_locked_stable").cast(AMOUNT).alias("tvl")
    )


@endpoint("metrics/open-interest")
def open_interest(tables: Tables, **_: Any) -> DataFrame:
    """Σ open-lease value at the latest LS snapshot (`metrics.rs:110`;
    threshold filter `ls_state.rs:229`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    return latest.filter(F.col("LS_amnt_stable") > 0).agg(
        F.sum("LS_amnt_stable").cast(AMOUNT).alias("open_interest"),
        F.count(F.lit(1)).alias("n_positions"),
    )


@endpoint("metrics/borrowed")
def borrowed(tables: Tables, protocol: str | None = None, **_: Any) -> DataFrame:
    """Σ principal outstanding (`metrics.rs:165`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    return latest.agg(F.sum("LS_principal_stable").cast(AMOUNT).alias("borrowed"))


@endpoint("metrics/supplied-funds")
def supplied_funds(tables: Tables, **_: Any) -> DataFrame:
    """Σ lender deposits net of withdrawals (`metrics.rs:83`) — one
    union-agg job (withdrawals negated)."""
    d = tables["LP_Deposit"].select(F.col("LP_amnt_stable").cast(SIGNED).alias("v"))
    w = tables["LP_Withdraw"].select((-F.col("LP_amnt_stable")).cast(SIGNED).alias("v"))
    return d.unionByName(w).agg(
        F.coalesce(F.sum("v"), F.lit(0)).cast(SIGNED).alias("supplied")
    )


@endpoint("metrics/total-tx-value")
def total_tx_value(tables: Tables, period: str = "all", **_: Any) -> DataFrame:
    """Σ transaction value across the 5 movement sources
    (`metrics.rs:58`; 5-way UNION `ls_opening.rs:723-731`)."""
    parts = [
        tables["LS_Opening"].select(F.col("LS_loan_amnt_stable").alias("v"), F.col("LS_timestamp").alias("t")),
        tables["LS_Repayment"].select(F.col("LS_payment_amnt_stable").alias("v"), F.col("LS_timestamp").alias("t")),
        tables["LS_Close_Position"].select(F.col("LS_payment_amnt_stable").alias("v"), F.col("LS_timestamp").alias("t")),
        tables["LP_Deposit"].select(F.col("LP_amnt_stable").alias("v"), F.col("LP_timestamp").alias("t")),
        tables["LP_Withdraw"].select(F.col("LP_amnt_stable").alias("v"), F.col("LP_timestamp").alias("t")),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u = period_filter(u, "t", period)
    return u.agg(F.sum("v").cast(AMOUNT).alias("total_tx_value"))


@endpoint("metrics/monthly-active-wallets")
def monthly_active_wallets(tables: Tables, **_: Any) -> DataFrame:
    """COUNT(DISTINCT address) per month over 5 activity sources
    (`metrics.rs:292`; SQL `ls_opening.rs:1208-1254`)."""
    parts = [
        tables["LS_Opening"].select(F.col("LS_address_id").alias("a"), F.col("LS_timestamp").alias("t")),
        tables["LS_Repayment"].select(F.col("LS_contract_id").alias("a"), F.col("LS_timestamp").alias("t")),
        tables["LS_Close_Position"].select(F.col("LS_contract_id").alias("a"), F.col("LS_timestamp").alias("t")),
        tables["LP_Deposit"].select(F.col("LP_address_id").alias("a"), F.col("LP_timestamp").alias("t")),
        tables["LP_Withdraw"].select(F.col("LP_address_id").alias("a"), F.col("LP_timestamp").alias("t")),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(F.date_format("t", "yyyy-MM").alias("month"))
        .agg(F.countDistinct("a").alias("active_wallets"))
    )


# ---------------------------------------------------------------------------
# controller/pnl.rs
# ---------------------------------------------------------------------------


@endpoint("pnl/realized")
def realized_pnl(tables: Tables, period: str = "all", **_: Any) -> DataFrame:
    """Total realized PnL (`pnl.rs:29`)."""
    lc = period_filter(tables["LS_Loan_Closing"], "LS_timestamp", period)
    return lc.agg(F.sum("LS_pnl").cast(SIGNED).alias("realized_pnl"))


@endpoint("pnl/realized-stats")
def realized_pnl_stats(tables: Tables, **_: Any) -> DataFrame:
    """Win rate + best/worst closed trade (`pnl.rs:76`; conditional agg
    `raw_message.rs:225-230`)."""
    lc = tables["LS_Loan_Closing"]
    n = F.count(F.lit(1))
    wins = F.count(F.when(F.col("LS_pnl") > 0, 1))
    return lc.agg(
        n.alias("n_closed"),
        wins.alias("n_wins"),
        # null, not DIVIDE_BY_ZERO, when nothing has closed
        F.try_divide(wins.cast("double"), n).alias("win_rate"),
        F.max("LS_pnl").alias("best_pnl"),
        F.min("LS_pnl").alias("worst_pnl"),
    )


@endpoint("pnl/realized-by-wallet")
def realized_pnl_wallet(tables: Tables, address: str | None = None, **_: Any) -> DataFrame:
    """Per-wallet realized PnL (`pnl.rs:115`)."""
    lc = tables["LS_Loan_Closing"].join(
        tables["LS_Opening"].select("LS_contract_id", "LS_address_id"), "LS_contract_id"
    )
    if address is not None:
        lc = lc.filter(F.col("LS_address_id") == address)
    return lc.groupBy("LS_address_id").agg(
        F.sum("LS_pnl").cast(SIGNED).alias("realized_pnl"),
        F.count(F.lit(1)).alias("n_closed"),
    )


@endpoint("pnl/unrealized")
def unrealized_pnl(tables: Tables, **_: Any) -> DataFrame:
    """Open-position unrealized PnL from the latest snapshot
    (`pnl.rs:166`): position value − debt legs."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    z = _z()
    debt = (
        F.coalesce(F.col("LS_principal_stable"), z)
        + F.coalesce(F.col("LS_prev_margin_stable"), z)
        + F.coalesce(F.col("LS_prev_interest_stable"), z)
        + F.coalesce(F.col("LS_current_margin_stable"), z)
        + F.coalesce(F.col("LS_current_interest_stable"), z)
    )
    per = latest.select(
        "LS_contract_id",
        (F.coalesce(F.col("LS_amnt_stable"), z) - debt).cast(SIGNED).alias("unrealized"),
    )
    return per.agg(F.sum("unrealized").cast(SIGNED).alias("unrealized_pnl"))


@endpoint("pnl/over-time")
def pnl_over_time(tables: Tables, period: str = "all", **_: Any) -> DataFrame:
    """Monthly realized PnL + cumulative (`pnl.rs:228`)."""
    lc = period_filter(tables["LS_Loan_Closing"], "LS_timestamp", period)
    monthly = lc.groupBy(F.date_format("LS_timestamp", "yyyy-MM").alias("month")).agg(
        F.sum("LS_pnl").cast(SIGNED).alias("monthly_pnl")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.withColumn("cumulative_pnl", F.sum("monthly_pnl").over(w).cast(SIGNED))


# ---------------------------------------------------------------------------
# controller/leases.rs
# ---------------------------------------------------------------------------


@endpoint("leases/search")
def leases_search(
    tables: Tables,
    address: str | None = None,
    search: str | None = None,
    skip: int = 0,
    limit: int = 100,
    after=None,
    **_: Any,
) -> DataFrame:
    """leases-search (`leases.rs:37`; SQL `ls_opening.rs:748-778`):
    address filter + optional ILIKE substring, newest first, paged."""
    o = tables["LS_Opening"]
    if address is not None:
        o = o.filter(F.col("LS_address_id") == address)
    if search:
        o = o.filter(F.lower(F.col("LS_contract_id")).contains(search.lower()))
    return _page(
        o, [("LS_timestamp", True), ("LS_contract_id", False)], skip, limit, after
    )


@endpoint("leases/monthly")
def leases_monthly(tables: Tables, period: str = "12m", **_: Any) -> DataFrame:
    """Openings per month (`leases.rs:66`)."""
    o = period_filter(tables["LS_Opening"], "LS_timestamp", period)
    return o.groupBy(F.date_format("LS_timestamp", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n_opened"),
        F.sum("LS_loan_amnt_stable").cast(AMOUNT).alias("loaned_stable"),
    )


@endpoint("leases/leased-assets")
def leased_assets(tables: Tables, **_: Any) -> DataFrame:
    """Σ leased per asset symbol (`leases.rs:89`; SQL `ls_opening.rs:379-453`)."""
    return tables["LS_Opening"].groupBy("LS_asset_symbol").agg(
        F.sum("LS_loan_amnt_stable").cast(AMOUNT).alias("leased_stable"),
        F.count(F.lit(1)).alias("n_leases"),
    )


@endpoint("leases/value-stats")
def lease_value_stats(tables: Tables, **_: Any) -> DataFrame:
    """AVG/MAX/MIN open-lease value (`leases.rs:137`; `ls_state.rs:761-797`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp").filter(
        F.col("LS_amnt_stable") > 0
    )
    n = F.count(F.lit(1))
    return latest.agg(
        n.alias("n"),
        # null, not DIVIDE_BY_ZERO, when no lease is open
        F.try_divide(F.sum("LS_amnt_stable").cast("double"), n).alias("avg_value"),
        F.max("LS_amnt_stable").alias("max_value"),
        F.min("LS_amnt_stable").alias("min_value"),
    )


@endpoint("leases/loans-granted")
def loans_granted(tables: Tables, period: str = "all", **_: Any) -> DataFrame:
    """Count + Σ of loans granted in window (`leases.rs:207`)."""
    o = period_filter(tables["LS_Opening"], "LS_timestamp", period)
    return o.agg(
        F.count(F.lit(1)).alias("n_loans"),
        F.sum("LS_loan_amnt_stable").cast(AMOUNT).alias("granted_stable"),
    )


@endpoint("leases/interest-overview")
def interest_overview(tables: Tables, **_: Any) -> DataFrame:
    """APR/APY per pool from open leases (`leases.rs:586`-adjacent;
    compounding `ls_opening.rs:502,566`)."""
    o = tables["LS_Opening"]
    apr = F.avg(interest_rate(F.col("LS_interest")))
    return o.groupBy("LS_loan_pool_id").agg(
        apr.alias("avg_apr_pct"),
        apr_to_apy(apr).alias("avg_apy_pct"),
        F.count(F.lit(1)).alias("n_leases"),
    )


@endpoint("leases/historically-opened")
def historically_opened(tables: Tables, **_: Any) -> DataFrame:
    return tables["LS_Opening"].agg(
        F.count(F.lit(1)).alias("n_opened"),
        F.sum("LS_loan_amnt_stable").cast(AMOUNT).alias("total_loaned"),
    )


@endpoint("leases/historically-repaid")
def historically_repaid(tables: Tables, **_: Any) -> DataFrame:
    return tables["LS_Repayment"].agg(
        F.count(F.lit(1)).alias("n_repayments"),
        F.sum("LS_payment_amnt_stable").cast(AMOUNT).alias("total_repaid"),
    )


@endpoint("leases/liquidations")
def liquidations(
    tables: Tables, skip: int = 0, limit: int = 100, after=None, **_: Any
) -> DataFrame:
    """Liquidation list, newest first (`leases.rs:498`)."""
    return _page(
        tables["LS_Liquidation"],
        [("LS_timestamp", True), ("LS_contract_id", False)],
        skip,
        limit,
        after,
    )


# ---------------------------------------------------------------------------
# controller/positions.rs
# ---------------------------------------------------------------------------


@endpoint("positions/buckets")
def position_buckets(tables: Tables, **_: Any) -> DataFrame:
    """Loan-size histogram (`positions.rs:55`; CASE buckets `ls_state.rs:243-289`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    v = F.col("LS_amnt_stable").cast("double")
    bucket = (
        F.when(v < 1_000_000, "lt_1m")
        .when(v < 10_000_000, "1m_10m")
        .when(v < 100_000_000, "10m_100m")
        .otherwise("gte_100m")
    )
    return latest.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_positions"),
        F.sum("LS_amnt_stable").cast(AMOUNT).alias("total_value"),
    )


@endpoint("positions/daily")
def daily_positions(tables: Tables, **_: Any) -> DataFrame:
    """Daily opened ⟗ closed full-outer series (`positions.rs:91`;
    SQL `ls_opening.rs:1373-1380`)."""
    opened = (
        tables["LS_Opening"]
        .groupBy(F.col("LS_timestamp").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_opened"))
    )
    closed = (
        tables["LS_Loan_Closing"]
        .groupBy(F.col("LS_timestamp").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    return opened.join(closed, "day", "full_outer").select(
        "day",
        F.coalesce(F.col("n_opened"), F.lit(0)).cast("bigint").alias("n_opened"),
        F.coalesce(F.col("n_closed"), F.lit(0)).cast("bigint").alias("n_closed"),
    )


@endpoint("positions/by-token")
def open_positions_by_token(tables: Tables, **_: Any) -> DataFrame:
    """Open positions per asset (`positions.rs:129`): latest snapshot
    joined back to the opening dimension."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp").filter(
        F.col("LS_amnt_stable") > 0
    )
    dim = tables["LS_Opening"].select("LS_contract_id", "LS_asset_symbol")
    return (
        latest.join(F.broadcast(dim), "LS_contract_id")
        .groupBy("LS_asset_symbol")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum("LS_amnt_stable").cast(AMOUNT).alias("value_stable"),
        )
    )


# ---------------------------------------------------------------------------
# controller/liquidity.rs + misc.rs
# ---------------------------------------------------------------------------


@endpoint("liquidity/pools")
def pools(tables: Tables, **_: Any) -> DataFrame:
    """Latest state per pool (`liquidity.rs:32`; RANK=1 `lp_pool_state.rs:287-309`)."""
    return latest_per_key(
        tables["LP_Pool_State"], keys=["LP_Pool_id"], order_by="LP_Pool_timestamp"
    )


@endpoint("liquidity/current-lenders")
def current_lenders(tables: Tables, **_: Any) -> DataFrame:
    """Latest positive lender positions (`liquidity.rs:92`;
    DISTINCT ON `lp_lender_state.rs:176-182`)."""
    latest = latest_per_key(
        tables["LP_Lender_State"],
        keys=["LP_address_id", "LP_Pool_id"],
        order_by="LP_timestamp",
    )
    return latest.filter(F.col("LP_Lender_receipts") > 0)


@endpoint("misc/prices")
def prices(tables: Tables, symbol: str | None = None, group_minutes: int = 15, **_: Any) -> DataFrame:
    """Minute-bucketed MAX price series (`misc.rs:31`; `mp_asset.rs:61-87`)."""
    p = tables["MP_Asset"]
    if symbol is not None:
        p = p.filter(F.col("MP_asset_symbol") == symbol)
    secs = group_minutes * 60
    bucket = (F.floor(F.col("MP_asset_timestamp").cast("double") / secs) * secs).cast("bigint")
    return p.groupBy(
        F.col("MP_asset_symbol"), bucket.alias("bucket_start")
    ).agg(F.max("MP_price_in_stable").alias("max_price"))


@endpoint("misc/blocks")
def blocks(tables: Tables, **_: Any) -> DataFrame:
    """Sync progress (`misc.rs:82`; `block.rs:76-135`)."""
    return tables["block"].agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.min("id").alias("first_block"),
        F.max("id").alias("last_block"),
    )


@endpoint("misc/txs")
def txs(
    tables: Tables,
    address: str | None = None,
    types: list[str] | None = None,
    skip: int = 0,
    limit: int = 100,
    after=None,
    **_: Any,
) -> DataFrame:
    """raw_message scan with from/to + type filters, paged
    (`misc.rs:103`; SQL `raw_message.rs:43-117`)."""
    m = tables["raw_message"].filter(F.col("code").isNull())  # success only
    if address is not None:
        m = m.filter((F.col("from") == address) | (F.col("to") == address))
    if types:
        m = m.filter(F.col("type").isin(types))
    # (tx_hash, index) is raw_message's PK; timestamp alone is not a
    # total order (every message in a block shares it, and index resets
    # per tx) — a cursor on (timestamp, index) would skip same-block
    # messages.
    return _page(
        m,
        [("timestamp", True), ("tx_hash", False), ("index", False)],
        skip,
        limit,
        after,
    )


# ---------------------------------------------------------------------------
# Remaining §2.C endpoints
# ---------------------------------------------------------------------------


@endpoint("treasury/incentives-pool")
def incentives_pool(tables: Tables, **_: Any) -> DataFrame:
    """Rewards pool balance = distributed − (claims are out of scope)
    (`treasury.rs:183`)."""
    return tables["TR_Rewards_Distribution"].agg(
        F.sum("TR_Rewards_amnt_nls").cast(AMOUNT).alias("incentives_pool_nls")
    )


@endpoint("metrics/supplied-borrowed-history")
def supplied_borrowed_history(tables: Tables, **_: Any) -> DataFrame:
    """Daily supplied vs borrowed series from pool snapshots
    (`metrics.rs:214`)."""
    return (
        tables["LP_Pool_State"]
        .groupBy(F.col("LP_Pool_timestamp").cast("date").alias("day"))
        .agg(
            F.sum("LP_Pool_total_value_locked_stable").cast(AMOUNT).alias("supplied"),
            F.sum("LP_Pool_total_borrowed_stable").cast(AMOUNT).alias("borrowed"),
        )
    )


@endpoint("metrics/open-position-value")
def open_position_value(tables: Tables, **_: Any) -> DataFrame:
    """Σ position value at latest snapshot (`metrics.rs:135`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    return latest.agg(F.sum("LS_amnt_stable").cast(AMOUNT).alias("open_position_value"))


@endpoint("pnl/realized-data")
def realized_pnl_data(
    tables: Tables, skip: int = 0, limit: int = 100, after=None, **_: Any
) -> DataFrame:
    """Closed-position list with PnL, newest first (`pnl.rs:57`)."""
    return _page(
        tables["LS_Loan_Closing"],
        [("LS_timestamp", True), ("LS_contract_id", False)],
        skip,
        limit,
        after,
    )


@endpoint("pnl/unrealized-by-address")
def unrealized_pnl_by_address(tables: Tables, address: str | None = None, **_: Any) -> DataFrame:
    """Per-address unrealized PnL (`pnl.rs:202`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    z = _z()
    debt = (
        F.coalesce(F.col("LS_principal_stable"), z)
        + F.coalesce(F.col("LS_prev_margin_stable"), z)
        + F.coalesce(F.col("LS_prev_interest_stable"), z)
        + F.coalesce(F.col("LS_current_margin_stable"), z)
        + F.coalesce(F.col("LS_current_interest_stable"), z)
    )
    dim = tables["LS_Opening"].select("LS_contract_id", "LS_address_id")
    per = (
        latest.join(F.broadcast(dim), "LS_contract_id")
        .select(
            "LS_address_id",
            (F.coalesce(F.col("LS_amnt_stable"), z) - debt).cast(SIGNED).alias("unrealized"),
        )
    )
    if address is not None:
        per = per.filter(F.col("LS_address_id") == address)
    return per.groupBy("LS_address_id").agg(
        F.sum("unrealized").cast(SIGNED).alias("unrealized_pnl")
    )


@endpoint("leases/loans-by-token")
def loans_by_token(tables: Tables, **_: Any) -> DataFrame:
    """Loan totals per LPN symbol (`leases.rs:168`)."""
    return tables["LS_Opening"].groupBy("LS_loan_pool_id").agg(
        F.sum("LS_loan_amnt").cast(AMOUNT).alias("loaned"),
        F.sum("LS_loan_amnt_stable").cast(AMOUNT).alias("loaned_stable"),
        F.count(F.lit(1)).alias("n_loans"),
    )


@endpoint("leases/interest-repayments")
def interest_repayments(tables: Tables, period: str = "all", **_: Any) -> DataFrame:
    """Interest collected per month: 5-way sums over repayments
    (`leases.rs:586`; multi-sum `ls_repayment.rs:127-183`)."""
    r = period_filter(tables["LS_Repayment"], "LS_timestamp", period)
    z = _z()
    interest = (
        F.coalesce(F.col("LS_prev_margin_stable"), z)
        + F.coalesce(F.col("LS_prev_interest_stable"), z)
        + F.coalesce(F.col("LS_current_margin_stable"), z)
        + F.coalesce(F.col("LS_current_interest_stable"), z)
    ) if "LS_prev_margin_stable" in r.columns else z
    return r.groupBy(F.date_format("LS_timestamp", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n_repayments"),
        F.sum("LS_payment_amnt_stable").cast(AMOUNT).alias("repaid_stable"),
        F.sum("LS_principal_stable").cast(AMOUNT).alias("principal_stable"),
    )


@endpoint("leases/historically-liquidated")
def historically_liquidated(tables: Tables, **_: Any) -> DataFrame:
    return tables["LS_Liquidation"].agg(
        F.count(F.lit(1)).alias("n_liquidations"),
        F.sum("LS_amnt_stable").cast(AMOUNT).alias("liquidated_stable"),
    )


@endpoint("positions/debt-value")
def position_debt_value(tables: Tables, **_: Any) -> DataFrame:
    """Σ debt across open positions (`positions.rs:172`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    z = _z()
    debt = (
        F.coalesce(F.col("LS_principal_stable"), z)
        + F.coalesce(F.col("LS_prev_margin_stable"), z)
        + F.coalesce(F.col("LS_prev_interest_stable"), z)
        + F.coalesce(F.col("LS_current_margin_stable"), z)
        + F.coalesce(F.col("LS_current_interest_stable"), z)
    )
    return latest.agg(F.sum(debt).cast(AMOUNT).alias("debt_value"))


@endpoint("positions/open")
def positions_open(tables: Tables, **_: Any) -> DataFrame:
    """Open-position count (`positions.rs:28`)."""
    latest = _latest_snapshot(tables["LS_State"], "LS_timestamp")
    return latest.filter(F.col("LS_amnt_stable") > 0).agg(
        F.count(F.lit(1)).alias("n_open_positions")
    )


@endpoint("liquidity/lp-withdraw")
def lp_withdraw(
    tables: Tables, skip: int = 0, limit: int = 100, after=None, **_: Any
) -> DataFrame:
    """Withdrawal list, newest first (`liquidity.rs:61`)."""
    return _page(
        tables["LP_Withdraw"],
        # idx disambiguates multiple withdrawals in one block (same
        # timestamp AND height) — without it the cursor key is not total
        [("LP_timestamp", True), ("LP_withdraw_height", True), ("LP_withdraw_idx", False)],
        skip,
        limit,
        after,
    )


@endpoint("liquidity/historical-lenders")
def historical_lenders(tables: Tables, **_: Any) -> DataFrame:
    """Distinct lenders ever (deposit ∪ withdraw, `liquidity.rs:155`;
    SQL `lp_deposit.rs:161-190`)."""
    u = (
        tables["LP_Deposit"].select(F.col("LP_address_id").alias("a"))
        .unionByName(tables["LP_Withdraw"].select(F.col("LP_address_id").alias("a")))
    )
    return u.agg(F.countDistinct("a").alias("n_lenders"))


@endpoint("misc/history-stats")
def history_stats(tables: Tables, **_: Any) -> DataFrame:
    """Cross-table activity summary (`misc.rs:202`): the five row counts
    as one lazy aggregate over a union of the tables, each row tagged
    with the count it feeds (the scans read no columns)."""
    sources = {
        "n_leases": "LS_Opening",
        "n_repayments": "LS_Repayment",
        "n_liquidations": "LS_Liquidation",
        "n_deposits": "LP_Deposit",
        "n_withdrawals": "LP_Withdraw",
    }
    tagged = [tables[t].select(F.lit(k).alias("__src")) for k, t in sources.items()]
    u = tagged[0]
    for p in tagged[1:]:
        u = u.unionByName(p)
    return u.agg(*[F.count(F.when(F.col("__src") == k, 1)).alias(k) for k in sources])


# ---------------------------------------------------------------------------
# controller/protocols.rs — registry lookups
# ---------------------------------------------------------------------------


@endpoint("protocols/list")
def protocols(tables: Tables, **_: Any) -> DataFrame:
    """All protocols (`protocols.rs:84`)."""
    return tables["protocol_registry"]


@endpoint("protocols/active")
def protocols_active(tables: Tables, **_: Any) -> DataFrame:
    """Active protocols (`protocols.rs:123`)."""
    return tables["protocol_registry"].filter(F.col("is_active"))


@endpoint("protocols/by-name")
def protocol_by_name(tables: Tables, name: str | None = None, **_: Any) -> DataFrame:
    """Point lookup (`protocols.rs:162`)."""
    p = tables["protocol_registry"]
    return p.filter(F.col("protocol_name") == name) if name else p


@endpoint("currencies/list")
def currencies(tables: Tables, **_: Any) -> DataFrame:
    """Currency registry incl. deprecated (`protocols.rs:221`)."""
    return tables["currency_registry"]


@endpoint("currencies/active")
def currencies_active(tables: Tables, **_: Any) -> DataFrame:
    """Active currencies (`protocols.rs:257`)."""
    return tables["currency_registry"].filter(F.col("is_active"))


@endpoint("currencies/by-ticker")
def currency_by_ticker(tables: Tables, ticker: str | None = None, **_: Any) -> DataFrame:
    """Point lookup (`protocols.rs:293`)."""
    c = tables["currency_registry"]
    return c.filter(F.col("ticker") == ticker) if ticker else c


@endpoint("subscribe")
def subscribe(
    tables: Tables, address: str | None = None, auth: str | None = None, **_: Any
) -> DataFrame:
    """GET /subscribe exists-check (`controller/misc.rs:366-378`): one
    row ``{result: bool}`` — the DAO counts rows for (address, auth)
    regardless of the active flag (`dao/postgre/subscription.rs:
    113-131`). POST's state transition lives engine-side in
    pipeline/notify.py::apply_subscription; the request-context pieces
    (headers, peer ip) are serving concerns."""
    s = tables["subscription"]
    return s.filter(
        (F.col("address") == address) & (F.col("auth") == auth)
    ).agg((F.count(F.lit(1)) > 0).alias("result"))


@endpoint("test-push")
def test_push(
    tables: Tables,
    address: str | None = None,
    push_type: str = "Funding",
    **_: Any,
) -> DataFrame:
    """GET /test-push minus the transport (`controller/misc.rs:
    397-421`): builds the type's canned payload and returns the
    delivery outbox for the address's ACTIVE subscriptions — what
    push::send would deliver. The shared-secret auth gate
    (misc.rs:403-405) and the VAPID/ECE POST are serving concerns;
    deliver via pipeline/notify.py::deliver_outbox(transport=...)."""
    from ..pipeline.notify import notification_outbox, test_push_data

    ptype, body = test_push_data(push_type)
    s = tables["subscription"]
    one = literal_row(
        s.sparkSession,
        "address string, push_type string, body string",
        (address, ptype, body),
    )
    return notification_outbox(one, s)


@endpoint("version")
def version(tables: Tables, **_: Any) -> DataFrame:
    """Build metadata (`controller/misc.rs:263`): the reference returns
    its crate version string; here the engine version plus the Spark
    session version it runs under — a one-row static frame (the only
    A24-adjacent route with any engine-side content; subscribe/test-push
    remain serving/push concerns, out of engine scope per SURVEY)."""
    from importlib.metadata import PackageNotFoundError, version as _pkg_version

    from pyspark.sql import SparkSession

    try:
        eng = _pkg_version("extract-transform-load-spark")
    except PackageNotFoundError:
        eng = "0.dev"
    s = next(iter(tables.values())).sparkSession if tables else SparkSession.getActiveSession()
    if s is None:
        # empty tables dict AND no active session: building the row
        # would be an opaque AttributeError (ADVICE r9) — name the
        # actual contract instead
        raise RuntimeError(
            "version endpoint needs a SparkSession: pass a non-empty "
            "tables dict or call inside an active session"
        )
    return literal_row(s, "version string, spark_version string", (eng, s.version))
