"""Loan-closing PnL engine (SURVEY.md §2.A A18/A19).

The reference computes PnL imperatively per contract on the close event
(`handler/ls_loan_closing.rs:359-802`, fee also `configuration.rs:701-756`):

- Long:        pnl = close_amount_stable − repayments − downpayment + fee
- Short:       same, with debt legs multiplied by the LPN price
- Liquidation: pnl = −(repayments + downpayment)
- fee        = (loan_stable + cltr_stable) − loan_amount_at_open_price

Spark-first: PnL is a *deterministic batch over the event log* — join the
opening with the aggregated repayment/close/liquidation history per
contract and evaluate the formula as column math. The reference's
"deferred recompute after sync" machinery (`ls_loan_closing.rs:299-333`)
disappears entirely: re-running the batch is the recompute.

One shuffle per input table (groupBy contract) + one join shuffle,
all on LS_contract_id — co-partitioned, so AQE folds them into a single
exchange where sizes allow.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..schemas import AMOUNT

SIGNED = "decimal(38,0)"


def _sum_by_contract(df: DataFrame, col: str, alias: str) -> DataFrame:
    return df.groupBy("LS_contract_id").agg(F.sum(F.col(col)).cast(AMOUNT).alias(alias))


def compute_loan_closings(
    opening: DataFrame,
    repayments: DataFrame,
    close_positions: DataFrame,
    liquidations: DataFrame,
    closings: DataFrame,
    lpn_prices: DataFrame | None = None,
) -> DataFrame:
    """Derive LS_Loan_Closing rows (contract, amounts, pnl, type).

    Close cause precedence mirrors the reference's dispatch: a repayment
    with LS_loan_close=true → 'repay'; a close-position terminal event →
    'market-close'; a liquidation terminal event → 'liquidation'
    (`ls_loan_closing.rs:359-441`).

    Short debt pricing (`ls_loan_closing.rs:582-664`): the reference
    prices the LPN-denominated debt at the close *timestamp* via a price
    lookup. Pass ``lpn_prices`` (``lpn_symbol, ts, price``) and carry
    ``lpn_symbol`` on the opening to reproduce that: the price is
    derived HERE by an as-of join of each contract's close_ts against
    the series (operators/asof.py, no per-row probes).
    A pre-resolved ``lpn_price_at_close`` column on the opening is the
    legacy fallback for callers that already enriched at write time.
    """
    repay_sum = _sum_by_contract(repayments, "LS_payment_amnt_stable", "repaid_stable")
    close_sum = _sum_by_contract(close_positions, "LS_payment_amnt_stable", "closed_stable")
    liq_sum = _sum_by_contract(liquidations, "LS_payment_amnt_stable", "liquidated_stable")

    # Earliest terminal per source (a well-formed ledger has at most one
    # terminal event per contract, making min == max; min implements the
    # stated "first terminal event wins" rule verbatim when replayed
    # against messier histories).
    def terminal(df: DataFrame, type_name: str, ts_col: str = "LS_timestamp") -> DataFrame:
        return (
            df.filter(F.col("LS_loan_close"))
            .groupBy("LS_contract_id")
            .agg(F.min(ts_col).alias("close_ts"))
            .withColumn("close_type", F.lit(type_name))
        )

    term = (
        terminal(repayments, "repay")
        .unionByName(terminal(close_positions, "market-close"))
        .unionByName(terminal(liquidations, "liquidation"))
        .unionByName(
            closings.groupBy("LS_contract_id")
            .agg(F.min("LS_timestamp").alias("close_ts"))
            .withColumn("close_type", F.lit("repay"))
        )
    )
    # first terminal event wins (a contract closes once); close_type is
    # a deterministic secondary key so equal-timestamp terminals from
    # two sources (possible in an intraday ledger) resolve identically
    # on any engine — min_by on close_ts alone picks an arbitrary
    # struct under ties.
    term = (
        term.groupBy("LS_contract_id")
        .agg(
            F.min_by(
                F.struct("close_type", "close_ts"),
                F.struct("close_ts", "close_type"),
            ).alias("__t")
        )
        .select(
            "LS_contract_id",
            F.col("__t.close_type").alias("close_type"),
            F.col("__t.close_ts").alias("close_ts"),
        )
    )

    df = (
        opening.join(term, "LS_contract_id")  # only closed contracts
        .join(repay_sum, "LS_contract_id", "left")
        .join(close_sum, "LS_contract_id", "left")
        .join(liq_sum, "LS_contract_id", "left")
    )

    if lpn_prices is not None and "lpn_symbol" in df.columns:
        # as-of at the close timestamp — the reference's LATERAL-style
        # pick-latest (`ls_loan_closing.rs:582-664`). The LPN price
        # series is dimension-scale by construction (symbols x poll
        # ticks — the reference keeps it in an in-memory cache), so
        # as_of_join_auto takes the broadcast form: the closed-contract
        # frame never shuffles and no window caps parallelism at
        # |symbols| tasks. A deeper series takes union-sort.
        from ..operators.asof import as_of_join_auto

        if "lpn_price_at_close" in df.columns:
            df = df.drop("lpn_price_at_close")
        # Only Short contracts consume the price (the debt revaluation
        # below), so the lookup is gated to that cohort: Long and
        # liquidation rows skip the broadcast pick, and the consumer's
        # `is_short & isNotNull` test reads their NULLs as "no
        # revaluation".
        pick = None
        if "LS_position_type" in df.columns:
            pick = (
                F.coalesce(F.col("LS_position_type"), F.lit("Long")) == "Short"
            )
        df, _ = as_of_join_auto(
            df,
            lpn_prices.select("lpn_symbol", "ts", "price"),
            on=["lpn_symbol"],
            left_ts="close_ts",
            right_ts="ts",
            value_cols=["price"],
            suffix="_at_close",
            pick_when=pick,
        )
        df = df.withColumnRenamed("price_at_close", "lpn_price_at_close")

    z = F.lit(0).cast(AMOUNT)
    repaid = F.coalesce(F.col("repaid_stable"), z)
    closed = F.coalesce(F.col("closed_stable"), z)
    liquidated = F.coalesce(F.col("liquidated_stable"), z)
    downpayment = F.coalesce(F.col("LS_cltr_amnt_stable"), z)
    loan_stable = F.coalesce(F.col("LS_loan_amnt_stable"), z)

    # fee = (loan_stable + cltr_stable) − position_value_at_open
    # (`configuration.rs:701-756`: the reference prices the lease
    # state's POSITION amount with the asset price). Lease state is
    # source-side (A3, out of engine scope); with the engine's position
    # stand-in (the loan leg, see enrich.enrich_ls_opening) the position
    # value at open IS loan_stable, so fee reduces to the collateral
    # slippage term — zero under exact-as-of enrichment. The expression
    # keeps the reference's shape so a real position column
    # (LS_position_value_stable) can slot in when lease state is
    # ingested.
    open_value = F.coalesce(
        F.col("LS_position_value_stable").cast(AMOUNT)
        if "LS_position_value_stable" in opening.columns
        else F.lit(None).cast(AMOUNT),
        loan_stable,
    )
    fee = (loan_stable + downpayment) - (open_value + downpayment)

    proceeds = repaid + closed + liquidated
    # Short positions: debt legs are LPN-denominated, so the loan is
    # revalued by the LPN price at close (`ls_loan_closing.rs:582-664`:
    # "Short multiplies debt by LPN price") — resolved by the as-of join
    # above when `lpn_prices` is given, else by a caller-provided
    # `lpn_price_at_close` column; without either, Short falls back to
    # the Long formula.
    is_short = (
        F.coalesce(F.col("LS_position_type"), F.lit("Long")) == "Short"
        if "LS_position_type" in opening.columns
        else F.lit(False)
    )
    if "lpn_price_at_close" in df.columns:
        debt = F.when(
            is_short & F.col("lpn_price_at_close").isNotNull(),
            (loan_stable.cast("decimal(38,18)") * F.col("lpn_price_at_close")).cast(AMOUNT),
        ).otherwise(loan_stable)
    else:
        debt = loan_stable
    pnl_normal = (proceeds - debt - downpayment + fee).cast(SIGNED)
    pnl_liq = (-(repaid + downpayment)).cast(SIGNED)

    return df.select(
        "LS_contract_id",
        F.col("LS_loan_amnt").alias("LS_amnt"),
        proceeds.cast(AMOUNT).alias("LS_amnt_stable"),
        F.when(F.col("close_type") == "liquidation", pnl_liq).otherwise(pnl_normal).alias("LS_pnl"),
        F.col("close_ts").alias("LS_timestamp"),
        F.col("close_type").alias("Type"),
        F.lit(True).alias("Active"),
    )


def realized_pnl_by_address(loan_closings: DataFrame, opening: DataFrame) -> DataFrame:
    """Realized PnL rollup per address (`controller/pnl.rs:29`-style gold)."""
    return (
        loan_closings.join(opening.select("LS_contract_id", "LS_address_id"), "LS_contract_id")
        .groupBy("LS_address_id")
        .agg(
            F.sum("LS_pnl").cast(SIGNED).alias("realized_pnl"),
            F.count(F.lit(1)).alias("n_closed"),
            (
                F.count(F.when(F.col("LS_pnl") > 0, 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("win_rate"),
        )
    )


def loan_collects(
    close_balances: DataFrame,
    prices: DataFrame,
    native_symbol: str = "NLS",
) -> DataFrame:
    """Loan-collect capture (SURVEY.md §2.A A19, `ls_loan_closing.rs:50-297`).

    At close the reference reads the lease contract's bank balances and
    records, per non-native symbol, the funds returned to the user.
    Input here is the balances table (LS_contract_id, symbol, amount,
    LS_timestamp) — explode already done source-side — and the output is
    per-(contract, symbol) collected amounts with as-of stable values.
    """
    from ..pipeline.enrich import attach_asof_price, in_stable

    filtered = close_balances.filter(
        (F.col("symbol") != native_symbol) & (F.col("amount") > 0)
    )
    priced = attach_asof_price(
        filtered, prices, symbol_col="symbol", ts_col="LS_timestamp", out_col="__px"
    )
    return priced.select(
        "LS_contract_id",
        F.col("symbol").alias("LS_symbol"),
        F.col("amount").cast(AMOUNT).alias("LS_amount"),
        in_stable(F.col("amount"), F.col("__px")).alias("LS_amount_stable"),
    )
