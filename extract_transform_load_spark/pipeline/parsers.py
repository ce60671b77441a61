"""Event-type dispatch + attribute parsing (SURVEY.md §2.A A6/A7).

The reference routes 13 ``wasm-*`` event types to typed parsers
(`event_dispatch.rs:31-191`, enum `helpers/enums.rs:27-40`) that project
a ``HashMap<String,String>`` of KV attributes into typed structs
(`event_parsing.rs:16-327`). Spark-first: each parser is one
``filter`` + one ``selectExpr`` over the bronze event table, driven by a
declarative spec per table (``SPECS``) — pure SQL expressions that
inline into whole-stage codegen, no UDFs. The expressions go to the
engine whole, so building a parser costs a fixed handful of py4j round
trips, not about a dozen per PySpark ``Column`` call.

Semantics preserved:

- **Interest-field aliasing** (`event_parsing.rs:195-237`): older events
  spell the interest quartet ``prev-margin-interest`` /
  ``prev-loan-interest`` / ``curr-margin-interest`` /
  ``curr-loan-interest``; newer ones ``overdue-margin-interest`` /
  ``overdue-loan-interest`` / ``due-margin-interest`` /
  ``due-loan-interest``. Parsers COALESCE both spellings.
- **Skip path** (`event_parsing.rs:84-111`): rows missing the ``height``
  attribute are dropped (the reference returns early).
- **Timestamp**: event attr ``at`` (RFC3339) when present and
  parseable, else the block timestamp.
- Amount columns cast to DecimalType(38,0), the engine decimal policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import AMOUNT

EVENT_TYPES = (
    "wasm-ls-open",
    "wasm-ls-close",
    "wasm-ls-close-position",
    "wasm-ls-repay",
    "wasm-ls-liquidation",
    "wasm-ls-liquidation-warning",
    "wasm-ls-slippage-anomaly",
    "wasm-ls-auto-close-position",
    "wasm-reserve-cover-loss",
    "wasm-lp-deposit",
    "wasm-lp-withdraw",
    "wasm-tr-profit",
    "wasm-tr-rewards",
)


def _a(name: str) -> str:
    return f"attributes['{name}']"


def _amount(name: str) -> str:
    return f"CAST({_a(name)} AS {AMOUNT.simpleString()})"


def _flag(name: str) -> str:
    return f"coalesce(CAST({_a(name)} AS BOOLEAN), false)"


# Event time: `at` attribute if parseable, else block timestamp.
TS = f"coalesce(try_to_timestamp({_a('at')}), `timestamp`)"
HEIGHT = f"CAST({_a('height')} AS BIGINT)"
TX = ("tx_hash", "Tx_Hash")

# COALESCE of the two attribute spellings (`event_parsing.rs:195-237`).
INTEREST_QUARTET = tuple(
    (f"coalesce({_amount(old)}, {_amount(new)})", col)
    for old, new, col in (
        ("prev-margin-interest", "overdue-margin-interest", "LS_prev_margin_stable"),
        ("prev-loan-interest", "overdue-loan-interest", "LS_prev_interest_stable"),
        ("curr-margin-interest", "due-margin-interest", "LS_current_margin_stable"),
        ("curr-loan-interest", "due-loan-interest", "LS_current_interest_stable"),
    )
)


def _payment(kind: str, *extra: tuple[str, str]) -> tuple[tuple[str, str], ...]:
    """Shared shape of repay/close-position/liquidation (`event_parsing.rs:84-237`)."""
    return (
        (HEIGHT, f"LS_{kind}_height"),
        ("event_index", f"LS_{kind}_idx"),
        (_a("to"), "LS_contract_id"),
        (_a("payment-symbol"), "LS_payment_symbol"),
        (_amount("payment-amount"), "LS_payment_amnt"),
        (TS, "LS_timestamp"),
        (_flag("loan-close"), "LS_loan_close"),
        *INTEREST_QUARTET,
        (_amount("principal"), "LS_principal_stable"),
        TX,
        *extra,
    )


def _lp(kind: str, *extra: tuple[str, str]) -> tuple[tuple[str, str], ...]:
    return (
        (HEIGHT, f"LP_{kind}_height"),
        ("event_index", f"LP_{kind}_idx"),
        (_a("from"), "LP_address_id"),
        (TS, "LP_timestamp"),
        (_a("to"), "LP_Pool_id"),
        (_amount(f"{kind}-amount"), "LP_amnt_asset"),
        (_a(f"{kind}-symbol"), "LP_symbol"),
        (_amount("receipts"), "LP_amnt_receipts"),
        TX,
        *extra,
    )


# table -> (event type, skip path: drop rows without `height`
# (`event_parsing.rs:84-111`), (expression, column) pairs in output order).
# Dict order is dispatch order (`event_dispatch.rs:31-191`).
SPECS: dict[str, tuple[str, bool, tuple[tuple[str, str], ...]]] = {
    # `event_parsing.rs:25-43`
    "LS_Opening": ("wasm-ls-open", False, (
        (_a("id"), "LS_contract_id"),
        (_a("customer"), "LS_address_id"),
        (_a("currency"), "LS_asset_symbol"),
        (f"CAST({_a('air')} AS INT)", "LS_interest"),
        (TS, "LS_timestamp"),
        (_a("loan-pool-id"), "LS_loan_pool_id"),
        (_amount("loan-amount"), "LS_loan_amnt"),
        (_a("loan-symbol"), "LS_lpn_symbol"),
        (_amount("downpayment-amount"), "LS_cltr_amnt"),
        (_a("downpayment-symbol"), "LS_cltr_symbol"),
        TX,
        ("block", "Block"),
    )),
    # `V001:197-201`
    "LS_Closing": ("wasm-ls-close", False, (
        (_a("id"), "LS_contract_id"),
        (TS, "LS_timestamp"),
        TX,
    )),
    "LS_Repayment": ("wasm-ls-repay", True, _payment("repayment")),
    "LS_Close_Position": ("wasm-ls-close-position", True, _payment(
        "position",
        (_amount("change"), "LS_change"),
        (_amount("amount-amount"), "LS_amnt"),
        (_a("amount-symbol"), "LS_amnt_symbol"),
    )),
    "LS_Liquidation": ("wasm-ls-liquidation", True, _payment(
        "liquidation",
        (_amount("amount-amount"), "LS_amnt"),
        (_a("amount-symbol"), "LS_amnt_symbol"),
        (_a("cause"), "LS_transaction_type"),
    )),
    # `event_parsing.rs:239-255`
    "LP_Deposit": ("wasm-lp-deposit", True, _lp("deposit")),
    # `event_parsing.rs:257-274`: + the `close` flag
    "LP_Withdraw": ("wasm-lp-withdraw", True, _lp("withdraw", (_flag("close"), "LP_deposit_close"))),
    # `event_parsing.rs:276-289`
    "TR_Profit": ("wasm-tr-profit", True, (
        (HEIGHT, "TR_Profit_height"),
        ("event_index", "TR_Profit_idx"),
        (TS, "TR_Profit_timestamp"),
        (_a("profit-amount-symbol"), "TR_Profit_symbol"),
        (_amount("profit-amount-amount"), "TR_Profit_amnt"),
        TX,
    )),
    # `event_parsing.rs:291-311`
    "TR_Rewards_Distribution": ("wasm-tr-rewards", True, (
        (HEIGHT, "TR_Rewards_height"),
        ("event_index", "TR_Rewards_idx"),
        (_a("to"), "TR_Rewards_Pool_id"),
        (TS, "TR_Rewards_timestamp"),
        (_a("rewards-symbol"), "TR_Rewards_symbol"),
        (_amount("rewards-amount"), "TR_Rewards_amnt"),
        TX,
    )),
    # `V001:212-221`
    "LS_Liquidation_Warning": ("wasm-ls-liquidation-warning", False, (
        (_a("lease"), "LS_contract_id"),
        (_a("customer"), "LS_address_id"),
        (_a("lease-asset"), "LS_asset_symbol"),
        (f"CAST({_a('level')} AS INT)", "LS_level"),
        (_amount("ltv"), "LS_ltv"),
        (TS, "LS_timestamp"),
        TX,
    )),
    # `V001:203-210`: take-profit / stop-loss strategy rows
    "LS_Auto_Close_Position": ("wasm-ls-auto-close-position", False, (
        (_a("to"), "LS_contract_id"),
        (_a("strategy"), "LS_Close_Strategy"),
        (_amount("strategy-ltv"), "LS_Close_Strategy_Ltv"),
        (TS, "LS_timestamp"),
        TX,
    )),
    # `V001:243-251`
    "LS_Slippage_Anomaly": ("wasm-ls-slippage-anomaly", False, (
        (_a("customer"), "LS_address_id"),
        (_a("lease"), "LS_contract_id"),
        (_a("lease-asset"), "LS_asset_symbol"),
        (_amount("max-slippage"), "LS_max_slipagge"),
        (TS, "LS_timestamp"),
        TX,
    )),
    # `V001:335-343`
    "Reserve_Cover_Loss": ("wasm-reserve-cover-loss", True, (
        (_a("to"), "LS_contract_id"),
        (HEIGHT, "LS_height"),
        ("event_index", "LS_idx"),
        (_amount("payment-amount"), "LS_payment_amnt"),
        (_a("payment-symbol"), "LS_payment_symbol"),
        (TS, "LS_timestamp"),
        TX,
    )),
}


def _parse(bronze: DataFrame, table: str) -> DataFrame:
    """The ``table`` rows of a bronze batch: one filter, one projection."""
    event_type, skip_path, columns = SPECS[table]
    cond = f"event_type = '{event_type}'"
    if skip_path:
        cond += f" AND {_a('height')} IS NOT NULL"
    return bronze.filter(cond).selectExpr(*(f"{expr} AS {col}" for expr, col in columns))


def dispatch(bronze: DataFrame) -> dict[str, DataFrame]:
    """One-pass logical dispatch: event-type → parsed silver DataFrame.

    Catalyst shares the bronze scan across the returned plans when they
    are materialized together (e.g. with ``df.persist()`` on bronze for
    one batch). Mirrors `event_dispatch.rs:31-191`.
    """
    return {table: _parse(bronze, table) for table in SPECS}


def parse_ls_opening(bronze: DataFrame) -> DataFrame:
    """`wasm-ls-open` → LS_Opening core columns (`event_parsing.rs:25-43`).

    Enrichment columns (stable amounts, opening price, liquidation price)
    are added by pipeline.enrich — mirroring the reference's split between
    parser and handler (`handler/wasm_ls_open.rs`).
    """
    return _parse(bronze, "LS_Opening")


def parse_ls_closing(bronze: DataFrame) -> DataFrame:
    """`wasm-ls-close` → terminal close marker (`V001:197-201`)."""
    return _parse(bronze, "LS_Closing")


def parse_ls_repayment(bronze: DataFrame) -> DataFrame:
    return _parse(bronze, "LS_Repayment")


def parse_ls_close_position(bronze: DataFrame) -> DataFrame:
    return _parse(bronze, "LS_Close_Position")


def parse_ls_liquidation(bronze: DataFrame) -> DataFrame:
    return _parse(bronze, "LS_Liquidation")


def parse_lp_deposit(bronze: DataFrame) -> DataFrame:
    """`wasm-lp-deposit` (`event_parsing.rs:239-255`)."""
    return _parse(bronze, "LP_Deposit")


def parse_lp_withdraw(bronze: DataFrame) -> DataFrame:
    """`wasm-lp-withdraw` (+`close` flag, `event_parsing.rs:257-274`)."""
    return _parse(bronze, "LP_Withdraw")


def parse_tr_profit(bronze: DataFrame) -> DataFrame:
    """`wasm-tr-profit` (`event_parsing.rs:276-289`)."""
    return _parse(bronze, "TR_Profit")


def parse_tr_rewards(bronze: DataFrame) -> DataFrame:
    """`wasm-tr-rewards` (`event_parsing.rs:291-311`)."""
    return _parse(bronze, "TR_Rewards_Distribution")


def parse_ls_liquidation_warning(bronze: DataFrame) -> DataFrame:
    """`wasm-ls-liquidation-warning` → warning rows (`V001:212-221`)."""
    return _parse(bronze, "LS_Liquidation_Warning")


def parse_ls_auto_close_position(bronze: DataFrame) -> DataFrame:
    """`wasm-ls-auto-close-position` → take-profit / stop-loss strategy
    rows (`V001:203-210`)."""
    return _parse(bronze, "LS_Auto_Close_Position")


def parse_ls_slippage_anomaly(bronze: DataFrame) -> DataFrame:
    """`wasm-ls-slippage-anomaly` (`V001:243-251`)."""
    return _parse(bronze, "LS_Slippage_Anomaly")


def parse_reserve_cover_loss(bronze: DataFrame) -> DataFrame:
    """`wasm-reserve-cover-loss` (`V001:335-343`)."""
    return _parse(bronze, "Reserve_Cover_Loss")
