"""Ingest-time enrichment: as-of price joins + precomputed columns.

Mirrors the reference's design decision (migrations/V003 + SURVEY.md §4):
do the as-of price lookups ONCE at write time and persist the derived
columns (`LS_loan_amnt_stable`, `LS_opening_price`,
`LS_liquidation_price_at_open`), so the ~45 read queries never pay a
lateral join. The reference does per-event Postgres lookups
against a price series it keeps in an in-memory cache
(`handler/wasm_ls_open.rs:63-97`, `configuration.rs:543-628`); here
each lookup is one as-of join over the whole batch — O(batch) instead
of O(events) round trips — and a dimension-scale price series is
broadcast to the batch, which never shuffles for pricing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..operators.asof import as_of_join_auto, quote_ident
from ..schemas import AMOUNT, PRICE


def attach_asof_price(
    df: DataFrame,
    prices: DataFrame,
    symbol_col: str,
    ts_col: str,
    out_col: str,
    price_symbol_col: str = "MP_asset_symbol",
    price_ts_col: str = "MP_asset_timestamp",
    price_col: str = "MP_price_in_stable",
) -> DataFrame:
    """Latest price with price_ts <= event ts for the row's symbol,
    appended as ``out_col`` after ``df``'s columns.

    ``operators.asof.as_of_join_auto`` picks the form from one memoized
    probe of the series: within ``MAX_KEYS``/``MAX_TICKS_PER_KEY`` the
    per-symbol tick table is packed in one task and broadcast, so ``df``
    never shuffles; a deeper series takes union-sort (one shuffle on
    symbol). The packed table does not depend on ``symbol_col``, so
    several lookups into one series within a plan share one broadcast
    (the later ones plan as ``ReusedExchange``) and one probe. The
    reference's per-row `LEFT JOIN LATERAL ... LIMIT 1`
    (`dao/postgre/mp_asset.rs:125-187`) is the Postgres formulation of
    the same semantics.
    """
    p = prices.selectExpr(
        f"{quote_ident(price_symbol_col)} AS {quote_ident(symbol_col)}",
        f"{quote_ident(price_ts_col)} AS __price_ts",
        f"{quote_ident(price_col)} AS __price",
    )
    joined, _ = as_of_join_auto(
        df,
        p,
        on=[symbol_col],
        left_ts=ts_col,
        right_ts="__price_ts",
        value_cols=["__price"],
        suffix="",
    )
    return joined.withColumnRenamed("__price", out_col)


def in_stable(amount: Column, price: Column) -> Column:
    """amount × as-of price → stable units (`configuration.rs:564-628`).

    The raw multiply of decimal(38,0) × decimal(38,18) lands on
    decimal(38,6) under Spark's precision-loss rules — integer capacity
    ~1e32, covering any real token amount (the earlier cast of the
    amount to decimal(38,18) overflowed to NULL at 1e20, i.e. 100
    tokens of an 18-decimals asset). Result truncated to AMOUNT
    (decimal(38,0)) matching the reference's integer stable columns.
    """
    return (amount * price).cast(AMOUNT)


def enrich_ls_opening(opening: DataFrame, prices: DataFrame) -> DataFrame:
    """LS_Opening enrichment (`handler/wasm_ls_open.rs:51-187`).

    Three as-of price lookups — the reference's f1/f2/f5 fetch the
    loan-symbol (LPN), downpayment-symbol, and lease-currency prices
    (f4's pool-LPN price equals f1's: the loan symbol IS the pool LPN):

    - ``LS_loan_amnt_stable``  = loan × LOAN-SYMBOL price — the loan
      attribute is LPN-denominated (`parse_and_insert` prices
      ``item.loan_symbol``, not the lease currency)
    - ``LS_cltr_amnt_stable``  = downpayment × collateral price
    - ``LS_opening_price``     = lease-currency (asset) price at open
    - ``LS_lpn_loan_amnt``     — the position expressed in LPN units.
      The reference computes it from the gRPC lease state's position
      amount × asset price / LPN price; lease state is source-side
      extraction (SURVEY §2.A A3, out of engine scope), so the engine's
      stand-in is the loan leg: loan_stable / lpn_price.
    - ``LS_liquidation_price_at_open`` over STABLE amounts
      (`calculate_liquidation_price` takes down_payment_stable /
      loan_stable — raw amounts would mix denominations):
        Long:  (loan_stable/0.9) / (dp_stable + loan_stable) × asset_price
        Short: (dp_stable + loan_stable) / (lpn_loan_amnt/0.9)
    Position type defaults to Long when absent (V012-era rows).
    """
    df = attach_asof_price(
        opening, prices, symbol_col="LS_asset_symbol", ts_col="LS_timestamp", out_col="__asset_price"
    )
    df = attach_asof_price(
        df, prices, symbol_col="LS_cltr_symbol", ts_col="LS_timestamp", out_col="__cltr_price"
    )
    df = attach_asof_price(
        df, prices, symbol_col="LS_lpn_symbol", ts_col="LS_timestamp", out_col="__lpn_price"
    )

    asset_price = F.col("__asset_price")
    loan_stable_c = in_stable(F.col("LS_loan_amnt"), F.col("__lpn_price"))
    cltr_stable_c = in_stable(F.col("LS_cltr_amnt"), F.col("__cltr_price"))

    # Ratio math in double: Spark decimal division reduces result scale
    # to 6 under precision-loss rules, far coarser than float64 for
    # price-sized magnitudes.
    loan_s = F.col("LS_loan_amnt_stable").cast("double")
    dp_s = F.col("LS_cltr_amnt_stable").cast("double")
    lpn_loan = F.col("LS_lpn_loan_amnt").cast("double")
    pos_col = (
        F.col("LS_position_type")
        if "LS_position_type" in df.columns
        else F.lit(None).cast("string")
    )
    position = F.coalesce(pos_col, F.lit("Long"))

    liq_long = (
        (loan_s / 0.9) / F.nullif(dp_s + loan_s, F.lit(0.0)) * asset_price.cast("double")
    )
    liq_short = (dp_s + loan_s) / F.nullif(lpn_loan / 0.9, F.lit(0.0))

    # one stage per dependency level: the stable amounts and the opening
    # price, then the LPN amount, then the liquidation price
    return (
        df.withColumns({
            "LS_loan_amnt_stable": loan_stable_c,
            "LS_cltr_amnt_stable": cltr_stable_c,
            "LS_opening_price": asset_price.cast(PRICE),
        })
        .withColumn(
            "LS_lpn_loan_amnt",
            (
                F.col("LS_loan_amnt_stable").cast("decimal(38,6)")
                / F.nullif(F.col("__lpn_price"), F.lit(0).cast(PRICE))
            ).cast(AMOUNT),
        )
        .withColumn(
            "LS_liquidation_price_at_open",
            F.when(position == "Short", liq_short).otherwise(liq_long).cast(PRICE),
        )
        .drop("__asset_price", "__cltr_price", "__lpn_price")
    )
