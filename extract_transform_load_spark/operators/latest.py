"""Latest-row-per-key (``DISTINCT ON (key) ... ORDER BY key, ts DESC``).

Pervasive in the reference (SURVEY.md §2.B B22/B25: latest state snapshot
per lease, latest price per symbol, latest lender state — e.g.
`dao/postgre/ls_state.rs:467-471`, `lp_lender_state.rs:176-182`).

Spark-first: ``max_by`` over a struct ordering. Catalyst compiles
``max_by`` to a TypedImperativeAggregate with map-side partials, so the
plan is shuffle-light: it moves one row per key per map task instead of
all rows, which also tames very hot keys at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Return one row per key combination — the one with the greatest
    ``(order_by, *tiebreak)`` tuple.

    Aggregation-based (``max_by`` over a struct ordering), which gets
    map-side partial aggregation and therefore shuffles O(keys) rows,
    not O(input) rows — the right plan at scale.
    """
    keys = list(keys)
    order_cols = [order_by, *tiebreak]
    payload = [c for c in df.columns if c not in keys]
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    agg = [F.max_by(F.struct(*[F.col(c) for c in payload]), ord_struct).alias("__row")]
    out = df.groupBy(*keys).agg(*agg)
    return out.select(*keys, *[F.col(f"__row.{c}").alias(c) for c in payload])
