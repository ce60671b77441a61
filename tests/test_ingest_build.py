"""The ingest micro-batch's plan construction: what the parsers and the
as-of join build, and what building it costs on the driver.

- ``test_dispatch_tables_pinned``: every ``dispatch`` table's schema
  (names, order, types, nullability) and sorted rows over a bronze batch
  that exercises all 13 event types, both interest spellings, the
  ``height`` skip path, an unparseable ``at`` and missing
  ``loan-close``/``close`` flags.
- ``test_as_of_join_edges_pinned``: ``as_of_join`` over a left frame with
  array, map, struct and ``decimal(38,18)`` columns; the null-fill of the
  nested left columns on the right side of the union is in the pinned
  nullability.
- ``test_as_of_join_null_keys_and_times``: both as-of forms answer rows
  and ticks with a NULL key or timestamp as LATERAL does.
- The construction-cost guards count py4j gateway commands sent by the
  building thread: ``as_of_join`` costs the same over a 3-column and a
  63-column left frame, and ``dispatch`` stays within a fixed budget.
- The ingest enrichment (``pipeline/enrich.py``) takes the broadcast
  as-of form for a dimension-scale price series: its 8 enriched frames
  equal a union-sort build, ``LS_Opening``'s three lookups share one
  broadcast, no plan shuffles on a symbol, and differently named views
  of the series share one probe.
- ``merge_parquet`` reads its target with the schema of one data file's
  footer: no job while the merge is planned, the same schema and drift
  errors as inference, partition discovery kept, and inference again
  for a directory with no data file.

The pinned literals were captured from the column-by-column builders
these replaced, so they hold the rewrite to byte-identical output.
"""

from __future__ import annotations

import datetime
import re
import threading
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from extract_transform_load_spark.operators import asof
from extract_transform_load_spark.operators.asof import as_of_join, as_of_join_auto
from extract_transform_load_spark.pipeline import enrich
from extract_transform_load_spark.pipeline.parsers import dispatch
from extract_transform_load_spark.schemas import BRONZE_EVENT, MP_ASSET
from extract_transform_load_spark.sources.merge import merge_parquet, merge_plan, read_target


def _t(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def _ev(block, etype, attrs, idx=0):
    return (block, f"h{block}", idx, etype, _t("2024-03-01 00:00:00") + datetime.timedelta(hours=block), attrs)


OLD_INTEREST = {
    "prev-margin-interest": "1", "prev-loan-interest": "2",
    "curr-margin-interest": "3", "curr-loan-interest": "4",
}
NEW_INTEREST = {
    "overdue-margin-interest": "5", "overdue-loan-interest": "6",
    "due-margin-interest": "7", "due-loan-interest": "8",
}

BRONZE_ROWS = [
    _ev(1, "wasm-ls-open", {
        "id": "l1", "customer": "c1", "currency": "ATOM", "air": "120",
        "at": "2024-03-01T00:30:00", "loan-pool-id": "pool1", "loan-amount": "1000",
        "loan-symbol": "USDC", "downpayment-amount": "400", "downpayment-symbol": "OSMO",
    }),
    # unparseable `at`: the block timestamp stands in
    _ev(2, "wasm-ls-open", {
        "id": "l2", "customer": "c2", "currency": "OSMO", "air": "90", "at": "not-a-time",
        "loan-pool-id": "pool2", "loan-amount": "50", "loan-symbol": "USDC",
        "downpayment-amount": "25", "downpayment-symbol": "USDC",
    }),
    _ev(3, "wasm-ls-close", {"id": "l1", "at": "2024-03-01T03:15:00"}),
    # old interest spelling, explicit loan-close
    _ev(4, "wasm-ls-repay", {
        "height": "4", "to": "l1", "payment-symbol": "USDC", "payment-amount": "300",
        "at": "2024-03-01T04:00:00", "loan-close": "false", "principal": "250", **OLD_INTEREST,
    }, idx=2),
    # new interest spelling, no loan-close attribute
    _ev(5, "wasm-ls-repay", {
        "height": "5", "to": "l1", "payment-symbol": "USDC", "payment-amount": "700",
        "principal": "650", **NEW_INTEREST,
    }, idx=1),
    _ev(6, "wasm-ls-repay", {"to": "l1", "payment-amount": "9"}),  # skip path
    _ev(7, "wasm-ls-close-position", {
        "height": "7", "to": "l2", "payment-symbol": "USDC", "payment-amount": "40",
        "at": "2024-03-01T07:05:00", "loan-close": "true", "principal": "30",
        "change": "-3", "amount-amount": "12", "amount-symbol": "OSMO", **NEW_INTEREST,
    }),
    _ev(8, "wasm-ls-close-position", {"to": "l2", "change": "1"}),  # skip path
    _ev(9, "wasm-ls-liquidation", {
        "height": "9", "to": "l2", "payment-symbol": "USDC", "payment-amount": "20",
        "principal": "15", "amount-amount": "6", "amount-symbol": "OSMO",
        "cause": "overdue interest", **OLD_INTEREST,
    }, idx=3),
    _ev(10, "wasm-ls-liquidation", {"to": "l2", "cause": "x"}),  # skip path
    _ev(11, "wasm-ls-liquidation-warning", {
        "lease": "l2", "customer": "c2", "lease-asset": "OSMO", "level": "3", "ltv": "880",
        "at": "2024-03-01T11:00:00",
    }),
    _ev(12, "wasm-ls-slippage-anomaly", {
        "customer": "c1", "lease": "l1", "lease-asset": "ATOM", "max-slippage": "55",
    }),
    _ev(13, "wasm-ls-auto-close-position", {
        "to": "l1", "strategy": "stop-loss", "strategy-ltv": "700", "at": "2024-03-01T13:00:00",
    }),
    _ev(14, "wasm-reserve-cover-loss", {
        "to": "l2", "height": "14", "payment-amount": "17", "payment-symbol": "USDC",
    }, idx=4),
    _ev(15, "wasm-reserve-cover-loss", {"to": "l2", "payment-amount": "1"}),  # skip path
    _ev(16, "wasm-lp-deposit", {
        "height": "16", "from": "lender1", "to": "pool1", "at": "2024-03-01T16:00:00",
        "deposit-amount": "5000", "deposit-symbol": "USDC", "receipts": "4900",
    }),
    _ev(17, "wasm-lp-deposit", {"from": "lender2", "deposit-amount": "1"}),  # skip path
    _ev(18, "wasm-lp-withdraw", {
        "height": "18", "from": "lender1", "to": "pool1", "withdraw-amount": "100",
        "withdraw-symbol": "USDC", "receipts": "98", "close": "true",
    }),
    # no `close` attribute
    _ev(19, "wasm-lp-withdraw", {
        "height": "19", "from": "lender1", "to": "pool1", "at": "2024-03-01T19:30:00",
        "withdraw-amount": "200", "withdraw-symbol": "USDC", "receipts": "196",
    }, idx=1),
    _ev(20, "wasm-lp-withdraw", {"from": "lender3"}),  # skip path
    _ev(21, "wasm-tr-profit", {
        "height": "21", "at": "2024-03-01T21:00:00", "profit-amount-symbol": "NLS",
        "profit-amount-amount": "333",
    }),
    _ev(22, "wasm-tr-profit", {"profit-amount-amount": "1"}),  # skip path
    _ev(23, "wasm-tr-rewards", {
        "height": "23", "to": "pool1", "rewards-symbol": "NLS", "rewards-amount": "44",
        "at": "garbage",
    }, idx=5),
    _ev(24, "wasm-tr-rewards", {"to": "pool1", "rewards-amount": "1"}),  # skip path
    _ev(25, "wasm-unknown-event", {"height": "25", "id": "zz"}),  # routed nowhere
]


def _snapshot(df):
    return df.schema, sorted(repr(tuple(r)) for r in df.collect())


def _pinned(schema: StructType, rows: list[tuple]):
    return schema, sorted(repr(r) for r in rows)


def _schema(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


S, L, I, B, TS = StringType(), LongType(), IntegerType(), BooleanType(), TimestampType()
AMT, PX = DecimalType(38, 0), DecimalType(38, 18)

EXPECTED_DISPATCH: dict[str, tuple[StructType, list[tuple]]] = {
    'LS_Opening': (
        _schema(
            ('LS_contract_id', S, True),
            ('LS_address_id', S, True),
            ('LS_asset_symbol', S, True),
            ('LS_interest', I, True),
            ('LS_timestamp', TS, False),
            ('LS_loan_pool_id', S, True),
            ('LS_loan_amnt', AMT, True),
            ('LS_lpn_symbol', S, True),
            ('LS_cltr_amnt', AMT, True),
            ('LS_cltr_symbol', S, True),
            ('Tx_Hash', S, False),
            ('Block', L, False),
        ),
        [
            ('l1', 'c1', 'ATOM', 120, datetime.datetime(2024, 3, 1, 0, 30), 'pool1', Decimal('1000'), 'USDC', Decimal('400'), 'OSMO', 'h1', 1),
            ('l2', 'c2', 'OSMO', 90, datetime.datetime(2024, 3, 1, 2, 0), 'pool2', Decimal('50'), 'USDC', Decimal('25'), 'USDC', 'h2', 2),
        ],
    ),
    'LS_Closing': (
        _schema(
            ('LS_contract_id', S, True),
            ('LS_timestamp', TS, False),
            ('Tx_Hash', S, False),
        ),
        [
            ('l1', datetime.datetime(2024, 3, 1, 3, 15), 'h3'),
        ],
    ),
    'LS_Repayment': (
        _schema(
            ('LS_repayment_height', L, True),
            ('LS_repayment_idx', I, False),
            ('LS_contract_id', S, True),
            ('LS_payment_symbol', S, True),
            ('LS_payment_amnt', AMT, True),
            ('LS_timestamp', TS, False),
            ('LS_loan_close', B, False),
            ('LS_prev_margin_stable', AMT, True),
            ('LS_prev_interest_stable', AMT, True),
            ('LS_current_margin_stable', AMT, True),
            ('LS_current_interest_stable', AMT, True),
            ('LS_principal_stable', AMT, True),
            ('Tx_Hash', S, False),
        ),
        [
            (4, 2, 'l1', 'USDC', Decimal('300'), datetime.datetime(2024, 3, 1, 4, 0), False, Decimal('1'), Decimal('2'), Decimal('3'), Decimal('4'), Decimal('250'), 'h4'),
            (5, 1, 'l1', 'USDC', Decimal('700'), datetime.datetime(2024, 3, 1, 5, 0), False, Decimal('5'), Decimal('6'), Decimal('7'), Decimal('8'), Decimal('650'), 'h5'),
        ],
    ),
    'LS_Close_Position': (
        _schema(
            ('LS_position_height', L, True),
            ('LS_position_idx', I, False),
            ('LS_contract_id', S, True),
            ('LS_payment_symbol', S, True),
            ('LS_payment_amnt', AMT, True),
            ('LS_timestamp', TS, False),
            ('LS_loan_close', B, False),
            ('LS_prev_margin_stable', AMT, True),
            ('LS_prev_interest_stable', AMT, True),
            ('LS_current_margin_stable', AMT, True),
            ('LS_current_interest_stable', AMT, True),
            ('LS_principal_stable', AMT, True),
            ('Tx_Hash', S, False),
            ('LS_change', AMT, True),
            ('LS_amnt', AMT, True),
            ('LS_amnt_symbol', S, True),
        ),
        [
            (7, 0, 'l2', 'USDC', Decimal('40'), datetime.datetime(2024, 3, 1, 7, 5), True, Decimal('5'), Decimal('6'), Decimal('7'), Decimal('8'), Decimal('30'), 'h7', Decimal('-3'), Decimal('12'), 'OSMO'),
        ],
    ),
    'LS_Liquidation': (
        _schema(
            ('LS_liquidation_height', L, True),
            ('LS_liquidation_idx', I, False),
            ('LS_contract_id', S, True),
            ('LS_payment_symbol', S, True),
            ('LS_payment_amnt', AMT, True),
            ('LS_timestamp', TS, False),
            ('LS_loan_close', B, False),
            ('LS_prev_margin_stable', AMT, True),
            ('LS_prev_interest_stable', AMT, True),
            ('LS_current_margin_stable', AMT, True),
            ('LS_current_interest_stable', AMT, True),
            ('LS_principal_stable', AMT, True),
            ('Tx_Hash', S, False),
            ('LS_amnt', AMT, True),
            ('LS_amnt_symbol', S, True),
            ('LS_transaction_type', S, True),
        ),
        [
            (9, 3, 'l2', 'USDC', Decimal('20'), datetime.datetime(2024, 3, 1, 9, 0), False, Decimal('1'), Decimal('2'), Decimal('3'), Decimal('4'), Decimal('15'), 'h9', Decimal('6'), 'OSMO', 'overdue interest'),
        ],
    ),
    'LP_Deposit': (
        _schema(
            ('LP_deposit_height', L, True),
            ('LP_deposit_idx', I, False),
            ('LP_address_id', S, True),
            ('LP_timestamp', TS, False),
            ('LP_Pool_id', S, True),
            ('LP_amnt_asset', AMT, True),
            ('LP_symbol', S, True),
            ('LP_amnt_receipts', AMT, True),
            ('Tx_Hash', S, False),
        ),
        [
            (16, 0, 'lender1', datetime.datetime(2024, 3, 1, 16, 0), 'pool1', Decimal('5000'), 'USDC', Decimal('4900'), 'h16'),
        ],
    ),
    'LP_Withdraw': (
        _schema(
            ('LP_withdraw_height', L, True),
            ('LP_withdraw_idx', I, False),
            ('LP_address_id', S, True),
            ('LP_timestamp', TS, False),
            ('LP_Pool_id', S, True),
            ('LP_amnt_asset', AMT, True),
            ('LP_symbol', S, True),
            ('LP_amnt_receipts', AMT, True),
            ('Tx_Hash', S, False),
            ('LP_deposit_close', B, False),
        ),
        [
            (18, 0, 'lender1', datetime.datetime(2024, 3, 1, 18, 0), 'pool1', Decimal('100'), 'USDC', Decimal('98'), 'h18', True),
            (19, 1, 'lender1', datetime.datetime(2024, 3, 1, 19, 30), 'pool1', Decimal('200'), 'USDC', Decimal('196'), 'h19', False),
        ],
    ),
    'TR_Profit': (
        _schema(
            ('TR_Profit_height', L, True),
            ('TR_Profit_idx', I, False),
            ('TR_Profit_timestamp', TS, False),
            ('TR_Profit_symbol', S, True),
            ('TR_Profit_amnt', AMT, True),
            ('Tx_Hash', S, False),
        ),
        [
            (21, 0, datetime.datetime(2024, 3, 1, 21, 0), 'NLS', Decimal('333'), 'h21'),
        ],
    ),
    'TR_Rewards_Distribution': (
        _schema(
            ('TR_Rewards_height', L, True),
            ('TR_Rewards_idx', I, False),
            ('TR_Rewards_Pool_id', S, True),
            ('TR_Rewards_timestamp', TS, False),
            ('TR_Rewards_symbol', S, True),
            ('TR_Rewards_amnt', AMT, True),
            ('Tx_Hash', S, False),
        ),
        [
            (23, 5, 'pool1', datetime.datetime(2024, 3, 1, 23, 0), 'NLS', Decimal('44'), 'h23'),
        ],
    ),
    'LS_Liquidation_Warning': (
        _schema(
            ('LS_contract_id', S, True),
            ('LS_address_id', S, True),
            ('LS_asset_symbol', S, True),
            ('LS_level', I, True),
            ('LS_ltv', AMT, True),
            ('LS_timestamp', TS, False),
            ('Tx_Hash', S, False),
        ),
        [
            ('l2', 'c2', 'OSMO', 3, Decimal('880'), datetime.datetime(2024, 3, 1, 11, 0), 'h11'),
        ],
    ),
    'LS_Auto_Close_Position': (
        _schema(
            ('LS_contract_id', S, True),
            ('LS_Close_Strategy', S, True),
            ('LS_Close_Strategy_Ltv', AMT, True),
            ('LS_timestamp', TS, False),
            ('Tx_Hash', S, False),
        ),
        [
            ('l1', 'stop-loss', Decimal('700'), datetime.datetime(2024, 3, 1, 13, 0), 'h13'),
        ],
    ),
    'LS_Slippage_Anomaly': (
        _schema(
            ('LS_address_id', S, True),
            ('LS_contract_id', S, True),
            ('LS_asset_symbol', S, True),
            ('LS_max_slipagge', AMT, True),
            ('LS_timestamp', TS, False),
            ('Tx_Hash', S, False),
        ),
        [
            ('c1', 'l1', 'ATOM', Decimal('55'), datetime.datetime(2024, 3, 1, 12, 0), 'h12'),
        ],
    ),
    'Reserve_Cover_Loss': (
        _schema(
            ('LS_contract_id', S, True),
            ('LS_height', L, True),
            ('LS_idx', I, False),
            ('LS_payment_amnt', AMT, True),
            ('LS_payment_symbol', S, True),
            ('LS_timestamp', TS, False),
            ('Tx_Hash', S, False),
        ),
        [
            ('l2', 14, 4, Decimal('17'), 'USDC', datetime.datetime(2024, 3, 1, 14, 0), 'h14'),
        ],
    ),
}


@pytest.fixture(scope="module")
def bronze(spark):
    return spark.createDataFrame(BRONZE_ROWS, BRONZE_EVENT)


def test_dispatch_tables_pinned(bronze):
    parsed = dispatch(bronze)
    assert list(parsed) == list(EXPECTED_DISPATCH)
    for table, (schema, rows) in EXPECTED_DISPATCH.items():
        assert _snapshot(parsed[table]) == _pinned(schema, rows), table


# ---------------------------------------------------------------------------
# as-of join over nested left columns
# ---------------------------------------------------------------------------

LEFT_SCHEMA = StructType([
    StructField("id", I, False),
    StructField("k", S, True),
    StructField("t", TS, False),
    StructField("arr", ArrayType(S, True), True),
    StructField("m", MapType(S, I, True), False),
    StructField("s", StructType([StructField("a", I, False), StructField("b", S, True)]), True),
    StructField("d", PX, True),
])
RIGHT_SCHEMA = StructType([
    StructField("k", S, False),
    StructField("pt", TS, False),
    StructField("v", PX, True),
    StructField("w", S, True),
    StructField("ord", L, False),
])
LEFT_ROWS = [
    (1, "A", _t("2024-01-01 00:30:00"), ["x", None], {"p": 1}, (1, "one"), Decimal("1.5")),
    (2, "A", _t("2024-01-01 01:00:00"), [], {"q": None}, None, None),
    (3, "A", _t("2024-01-01 02:00:00"), None, {}, (3, None), Decimal("-0.000000000000000001")),
    (4, "A", _t("2024-01-01 03:30:00"), ["z"], {"r": 4}, (4, "four"), Decimal("12345678901234567890.123456789012345678")),
    (5, "A", _t("2023-12-31 23:00:00"), ["early"], {"s": 5}, (5, "five"), Decimal("0")),
    (6, "B", _t("2024-01-01 01:59:00"), ["b"], {"b": 6}, (6, "six"), Decimal("6")),
    (7, "B", _t("2024-01-01 02:00:00"), ["b", "b"], {"b": 7}, (7, "seven"), Decimal("7")),
    (8, "B", _t("2024-01-01 05:00:00"), None, {"b": 8}, None, Decimal("8")),
    (9, "C", _t("2024-01-01 01:00:00"), ["c"], {"c": 9}, (9, "nine"), Decimal("9")),
    (10, None, _t("2024-01-01 01:00:00"), ["n"], {"n": 10}, (10, "ten"), Decimal("10")),
]
RIGHT_ROWS = [
    ("A", _t("2024-01-01 00:00:00"), Decimal("1.000000000000000001"), "a0", 1),
    ("A", _t("2024-01-01 01:00:00"), Decimal("2"), "a1-lo", 1),
    ("A", _t("2024-01-01 01:00:00"), Decimal("3"), "a1-hi", 2),
    ("A", _t("2024-01-01 03:00:00"), None, "a3-null-v", 1),
    ("B", _t("2024-01-01 02:00:00"), Decimal("20.5"), None, 1),
    ("D", _t("2024-01-01 01:00:00"), Decimal("99"), "d", 1),
]
EXPECTED_ASOF_SCHEMA = _schema(
    ('id', I, True),
    ('k', S, True),
    ('t', TS, True),
    ('arr', ArrayType(StringType(), True), True),
    ('m', MapType(StringType(), IntegerType(), True), True),
    ('s', StructType([StructField('a', IntegerType(), False), StructField('b', StringType(), True)]), True),
    ('d', PX, True),
    ('v_asof', PX, True),
    ('w_asof', S, True),
)
EXPECTED_ASOF: list[tuple] = [
        (1, 'A', datetime.datetime(2024, 1, 1, 0, 30), ['x', None], {'p': 1}, Row(a=1, b='one'), Decimal('1.500000000000000000'), Decimal('1.000000000000000001'), 'a0'),
        (10, None, datetime.datetime(2024, 1, 1, 1, 0), ['n'], {'n': 10}, Row(a=10, b='ten'), Decimal('10.000000000000000000'), None, None),
        (2, 'A', datetime.datetime(2024, 1, 1, 1, 0), [], {'q': None}, None, None, Decimal('3.000000000000000000'), 'a1-hi'),
        (3, 'A', datetime.datetime(2024, 1, 1, 2, 0), None, {}, Row(a=3, b=None), Decimal('-1E-18'), Decimal('3.000000000000000000'), 'a1-hi'),
        (4, 'A', datetime.datetime(2024, 1, 1, 3, 30), ['z'], {'r': 4}, Row(a=4, b='four'), Decimal('12345678901234567890.123456789012345678'), None, 'a3-null-v'),
        (5, 'A', datetime.datetime(2023, 12, 31, 23, 0), ['early'], {'s': 5}, Row(a=5, b='five'), Decimal('0E-18'), None, None),
        (6, 'B', datetime.datetime(2024, 1, 1, 1, 59), ['b'], {'b': 6}, Row(a=6, b='six'), Decimal('6.000000000000000000'), None, None),
        (7, 'B', datetime.datetime(2024, 1, 1, 2, 0), ['b', 'b'], {'b': 7}, Row(a=7, b='seven'), Decimal('7.000000000000000000'), Decimal('20.500000000000000000'), None),
        (8, 'B', datetime.datetime(2024, 1, 1, 5, 0), None, {'b': 8}, None, Decimal('8.000000000000000000'), Decimal('20.500000000000000000'), None),
        (9, 'C', datetime.datetime(2024, 1, 1, 1, 0), ['c'], {'c': 9}, Row(a=9, b='nine'), Decimal('9.000000000000000000'), None, None),
]

@pytest.fixture(scope="module")
def asof_sides(spark):
    return (
        spark.createDataFrame(LEFT_ROWS, LEFT_SCHEMA),
        spark.createDataFrame(RIGHT_ROWS, RIGHT_SCHEMA),
    )


def test_as_of_join_edges_pinned(asof_sides):
    left, right = asof_sides
    out = as_of_join(
        left, right, on=["k"], left_ts="t", right_ts="pt", value_cols=["v", "w"],
        right_order="ord",
    )
    assert _snapshot(out) == _pinned(EXPECTED_ASOF_SCHEMA, EXPECTED_ASOF)


def test_as_of_join_two_keys(asof_sides):
    """A constant second key leaves every match as it is."""
    left, right = asof_sides
    one = F.lit(1).cast("bigint")
    out = as_of_join(
        left.withColumn("k2", one), right.withColumn("k2", one), on=["k", "k2"],
        left_ts="t", right_ts="pt", value_cols=["v", "w"], right_order="ord",
    )
    assert out.columns == [*LEFT_SCHEMA.names, "k2", "v_asof", "w_asof"]
    rows = sorted(repr(tuple(r)) for r in out.drop("k2").collect())
    assert rows == _pinned(EXPECTED_ASOF_SCHEMA, EXPECTED_ASOF)[1]


# LATERAL's `p.k = e.k AND p.ts <= e.ts` is never true for a NULL key or
# timestamp on either side: such ticks match nothing, and such left rows
# get NULL values, in both physical forms.
NULL_LEFT_ROWS = [
    (1, "A", _t("2024-01-01 01:30:00")),
    (2, None, _t("2024-01-01 01:30:00")),
    (3, "A", None),
    (4, None, None),
    (5, "A", _t("2024-01-01 00:30:00")),
]
NULL_RIGHT_ROWS = [
    ("A", _t("2024-01-01 01:00:00"), 1.0, "a1", 1),
    ("A", _t("2024-01-01 02:00:00"), 2.0, "a2", 1),
    (None, _t("2024-01-01 01:00:00"), 9.0, "null-key", 1),
    ("A", None, 8.0, "null-ts", 1),
]
A1, NONE = (1.0, "a1"), (None, None)


# "backward" is union-sort (as_of_join), "broadcast" the form
# as_of_join_auto takes for this dimension-scale series
@pytest.mark.parametrize("case", ["backward", "broadcast"])
def test_as_of_join_null_keys_and_times(spark, case):
    left = spark.createDataFrame(NULL_LEFT_ROWS, "id int, k string, t timestamp")
    right = spark.createDataFrame(NULL_RIGHT_ROWS, "k string, pt timestamp, v double, w string, ord long")
    args = dict(on=["k"], left_ts="t", right_ts="pt", value_cols=["v", "w"], right_order="ord")
    if case == "broadcast":
        out, form = as_of_join_auto(left, right, **args)
        assert form == "broadcast"
    else:
        out = as_of_join(left, right, **args)
    got = {r["id"]: (r["v_asof"], r["w_asof"]) for r in out.collect()}
    assert got == {i: NONE for i in (2, 3, 4)} | {1: A1, 5: NONE}


# ---------------------------------------------------------------------------
# construction cost: py4j commands sent while the plans are built
# ---------------------------------------------------------------------------

DISPATCH_COMMAND_BUDGET = 1500


@pytest.fixture
def gateway_commands(monkeypatch):
    """Count the py4j commands this thread sends. Other threads (py4j's
    finalizer worker, Spark listeners) are left out of the count."""
    sent = {"n": 0}
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            sent["n"] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def measure(build):
        before = sent["n"]
        build()
        return sent["n"] - before

    return measure


def test_as_of_join_cost_is_width_independent(spark, gateway_commands):
    base = spark.range(10).select(
        F.col("id").cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 60).alias("t"),
    )
    narrow = base.withColumn("c0", F.lit(0))
    wide = base.withColumns({f"c{i}": F.lit(i) for i in range(61)})
    assert (len(narrow.columns), len(wide.columns)) == (3, 63)
    prices = spark.range(5).select(
        F.col("id").cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 30).alias("pt"),
        F.col("id").cast("double").alias("v"),
    )

    def join(left):
        return lambda: as_of_join(left, prices, on=["k"], left_ts="t", right_ts="pt", value_cols=["v"])

    join(narrow)()  # first call loads the Python-side helpers
    n_narrow, n_wide = gateway_commands(join(narrow)), gateway_commands(join(wide))
    assert n_narrow > 0
    assert n_narrow == n_wide


def test_dispatch_cost_within_budget(bronze, gateway_commands):
    dispatch(bronze)
    n = gateway_commands(lambda: dispatch(bronze))
    assert 0 < n <= DISPATCH_COMMAND_BUDGET, n


# ---------------------------------------------------------------------------
# ingest enrichment: the broadcast as-of form over the price series
# ---------------------------------------------------------------------------

# a tick exactly at an event time (block 5), a NULL-free series whose
# first OSMO tick comes after the first opening, and one symbol (NLS)
# priced only after the profit event
PRICE_ROWS = [
    ("USDC", _t("2024-03-01 00:00:00"), Decimal("1"), "p1"),
    ("USDC", _t("2024-03-01 05:00:00"), Decimal("1.01"), "p1"),
    ("USDC", _t("2024-03-01 10:00:00"), Decimal("0.99"), "p1"),
    ("OSMO", _t("2024-03-01 01:00:00"), Decimal("0.5"), "p1"),
    ("OSMO", _t("2024-03-01 02:00:00"), Decimal("0.55"), "p1"),
    ("ATOM", _t("2024-02-29 23:00:00"), Decimal("10"), "p1"),
    ("NLS", _t("2024-03-01 22:00:00"), Decimal("0.02"), "p1"),
    ("NLS", _t("2024-03-01 23:00:00"), Decimal("0.03"), "p1"),
]
# table -> (symbol column, event time column), as the ingest batch prices them
PRICED = {
    "LS_Repayment": ("LS_payment_symbol", "LS_timestamp"),
    "LS_Close_Position": ("LS_payment_symbol", "LS_timestamp"),
    "LS_Liquidation": ("LS_payment_symbol", "LS_timestamp"),
    "LP_Deposit": ("LP_symbol", "LP_timestamp"),
    "LP_Withdraw": ("LP_symbol", "LP_timestamp"),
    "TR_Profit": ("TR_Profit_symbol", "TR_Profit_timestamp"),
    "TR_Rewards_Distribution": ("TR_Rewards_symbol", "TR_Rewards_timestamp"),
}


@pytest.fixture(scope="module")
def price_series(spark):
    return spark.createDataFrame(PRICE_ROWS, MP_ASSET)


def _enriched(parsed, prices):
    out = {"LS_Opening": enrich.enrich_ls_opening(parsed["LS_Opening"], prices)}
    for t, (sym, ts) in PRICED.items():
        out[t] = enrich.attach_asof_price(parsed[t], prices, symbol_col=sym, ts_col=ts, out_col="px")
    return out


@pytest.fixture
def forms(monkeypatch):
    """The as-of form each enrichment lookup dispatched to."""
    seen = []
    auto = enrich.as_of_join_auto

    def recording(*args, **kwargs):
        out, form = auto(*args, **kwargs)
        seen.append(form)
        return out, form

    monkeypatch.setattr(enrich, "as_of_join_auto", recording)
    return seen


def _union_sort_build(monkeypatch, parsed, prices):
    with monkeypatch.context() as m:
        m.setattr(enrich, "as_of_join_auto", lambda *a, **k: (as_of_join(*a, **k), "union_sort"))
        return _enriched(parsed, prices)


def _final_plan(df) -> str:
    """The executed physical plan (AQE's final plan) after one run."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_enrichment_matches_union_sort(bronze, price_series, forms, monkeypatch):
    """The 8 enriched frames hold the columns (names, order, types) and
    the rows of a union-sort build. Nullability differs in one way only:
    union-sort's union with the right side's typed nulls marks every left
    column nullable, and the broadcast form keeps the left frame's NOT
    NULL columns (``LS_loan_close``, ``event_index``, ...) NOT NULL."""
    parsed = dispatch(bronze)
    got = _enriched(parsed, price_series)
    assert forms == ["broadcast"] * 10
    want = _union_sort_build(monkeypatch, parsed, price_series)
    assert list(got) == list(want)
    for t in want:
        (g, g_rows), (w, w_rows) = _snapshot(got[t]), _snapshot(want[t])
        assert g_rows == w_rows, t
        assert [(f.name, f.dataType) for f in g] == [(f.name, f.dataType) for f in w], t
        left = {f.name: f.nullable for f in parsed[t].schema}
        assert [f.nullable for f in g] == [
            f.nullable and left.get(f.name, True) for f in w
        ], t
    # a tick exactly at the event time prices the event
    rows = {r["LS_repayment_height"]: r["px"] for r in got["LS_Repayment"].collect()}
    assert rows == {4: Decimal("1.000000000000000000"), 5: Decimal("1.010000000000000000")}


def test_enrichment_plans_share_one_broadcast(bronze, price_series, forms):
    """LS_Opening's three lookups read one BroadcastExchange over
    MP_Asset (the 2nd and 3rd plan as ReusedExchange), and no enriched
    frame hash-partitions on a symbol column: the events never shuffle
    for pricing."""
    enriched = _enriched(dispatch(bronze), price_series)
    assert forms == ["broadcast"] * 10
    plans = {t: _final_plan(df) for t, df in enriched.items()}
    opening = plans["LS_Opening"]
    # a reused exchange prints as "ReusedExchange [...], BroadcastExchange ..."
    assert opening.count("- BroadcastExchange") == 1, opening
    assert opening.count("- ReusedExchange") == 2, opening
    assert "MP_asset_symbol" in opening.split("- BroadcastExchange")[1]
    for t, plan in plans.items():
        assert not re.search(r"hashpartitioning\([^)]*symbol", plan), (t, plan)
        assert "Window" not in plan, t


def test_renamed_views_share_one_probe(spark, bronze, price_series):
    """Two lookups into one series under different key names probe it
    once: the memo key is the canonical plan of the key columns, which
    drops alias names."""
    sc = spark.sparkContext
    left = dispatch(bronze)["LS_Opening"]
    asof._PROBE_MEMO.clear()
    try:
        enrich.attach_asof_price(left, price_series, "LS_asset_symbol", "LS_timestamp", "p1")
        assert len(asof._PROBE_MEMO) == 1
        sc.setJobGroup("renamed-view-probe", "renamed-view-probe")
        try:
            enrich.attach_asof_price(left, price_series, "LS_cltr_symbol", "LS_timestamp", "p2")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("renamed-view-probe")) == []
        assert len(asof._PROBE_MEMO) == 1
    finally:
        asof._PROBE_MEMO.clear()


# ---------------------------------------------------------------------------
# merge targets read by their footer schema
# ---------------------------------------------------------------------------

def _target(spark, path, partition_col=None):
    df = spark.createDataFrame(
        [(1, 0, "a", [1, None], {"k": 1}, (1, None)), (2, 1, "b", [], {}, None)],
        "id bigint not null, day int, v string, arr array<int>, m map<string,int>, "
        "s struct<x: int not null, y: string>",
    )
    w = df.write.partitionBy(partition_col) if partition_col else df.write
    w.parquet(path)


def _jobs(sc, group, build):
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_col", [None, "day"])
def test_read_target_footer_schema(spark, tmp_path, partition_col):
    """The footer read answers as inference does, partition column
    included, and building ``existing`` and the merge plan on it fires
    no job (inference fires one)."""
    sc = spark.sparkContext
    path = str(tmp_path / "t")
    _target(spark, path, partition_col)
    updates = spark.createDataFrame(
        [(1, 0, "a2", [2], {"k": 2}, (2, "y"))],
        "id bigint, day int, v string, arr array<int>, m map<string,int>, "
        "s struct<x: int, y: string>",
    )

    def build():
        existing = read_target(spark, path)
        merge_plan(existing, updates, ["id"])
        return existing

    existing, jobs = _jobs(sc, f"footer-{partition_col}", build)
    assert jobs == []
    inferred = spark.read.parquet(path)
    assert existing.schema == inferred.schema
    assert existing.columns[-1] == ("day" if partition_col else "s")
    assert sorted(map(repr, existing.collect())) == sorted(map(repr, inferred.collect()))


def test_merge_parquet_drift_unchanged(spark, tmp_path):
    """Schema drift stays loud: updates that lack a target column raise,
    and a column the target lacks is dropped, as with inference."""
    path = str(tmp_path / "t")
    _target(spark, path)
    short = spark.createDataFrame([(3, 0)], "id bigint, day int")
    with pytest.raises(AnalysisException):
        merge_parquet(spark, path, short, ["id"])
    wide = spark.createDataFrame(
        [(3, 0, "c", None, None, None, "extra")],
        "id bigint, day int, v string, arr array<int>, m map<string,int>, "
        "s struct<x: int, y: string>, extra string",
    )
    merge_parquet(spark, path, wide, ["id"])
    out = spark.read.parquet(path)
    assert "extra" not in out.columns
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_read_target_without_data_file_infers(spark, tmp_path):
    """A directory with no data file (only a marker) is read as before,
    by inference, which raises on it the same way."""
    path = tmp_path / "empty"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException) as footer:
        read_target(spark, str(path))
    with pytest.raises(AnalysisException) as inferred:
        spark.read.parquet(str(path))
    assert footer.value.getCondition() == inferred.value.getCondition()
