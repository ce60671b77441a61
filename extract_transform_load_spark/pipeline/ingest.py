"""Idempotent batch ingest (SURVEY.md §2.A A5/A20/A21 + A4).

The reference achieves exactly-once by wrapping each block's inserts in
one Postgres transaction with ``ON CONFLICT DO NOTHING`` per row and
recording the block id last (`event_dispatch.rs:193-244`,
`dao/postgre/ls_opening.rs:69-127`). Spark-first equivalents:

- ``dedup_batch``        : drop duplicate PKs *within* a batch (replayed
  blocks produce identical rows; first wins deterministically).
- ``idempotent_append``  : anti-join the batch against the existing
  table's PKs before appending — the scan engine's insert-if-absent.
  With Delta/Iceberg this becomes ``MERGE WHEN NOT MATCHED INSERT``;
  plain parquet gets the anti-join + append pattern (full matched-row
  UPDATE/DELETE semantics live in ``sources/merge.py``).
- ``missing_ranges``     : the backfill driver's gap query (A4) —
  delegates to operators.gaps; partition the returned ranges for replay
  (the reference splits them across ``sync_threads``; Spark partitions
  them for free).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.gaps import find_gaps_scalable


def dedup_batch(batch: DataFrame, pk: Sequence[str], order_col: str | None = None) -> DataFrame:
    """One row per PK within the batch.

    With ``order_col`` the earliest row wins deterministically (matching
    first-writer-wins insert semantics); without it Spark's
    ``dropDuplicates`` keeps an arbitrary-but-stable row.
    """
    pk = list(pk)
    if order_col is None:
        return batch.dropDuplicates(pk)
    payload = [c for c in batch.columns if c not in pk]
    return (
        batch.groupBy(*pk)
        .agg(F.min_by(F.struct(*payload), F.col(order_col)).alias("__row"))
        .select(*pk, "__row.*")
    )


def idempotent_append(existing: DataFrame, batch: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Rows of ``batch`` whose PK is absent from ``existing`` — the
    insert-if-absent set (append these to the table).

    The anti-join shuffles on the PK; for block-partitioned entity
    tables, restrict ``existing`` to the replayed block range first so
    partition pruning keeps the right side small.
    """
    pk = list(pk)
    return batch.join(existing.select(*pk), pk, "left_anti")


def missing_ranges(block_ledger: DataFrame, id_col: str = "id") -> DataFrame:
    """(gap_start, gap_end) block ranges to backfill (A4, `block.rs:29-74`)."""
    return find_gaps_scalable(block_ledger, id_col)


def plan_backfill(ranges: DataFrame, batch_size: int = 10_000) -> DataFrame:
    """Split missing block ranges into bounded replay batches (A4).

    The reference divides ranges across ``SYNC_THREADS`` tokio workers
    (`synchronization.rs:85-136`); here each (gap_start, gap_end) range
    explodes into (batch_start, batch_end) rows of at most ``batch_size``
    blocks — natural Spark partitioning does the fan-out, and a straggler
    range cannot serialize the backfill.
    """
    starts = F.sequence(F.col("gap_start"), F.col("gap_end"), F.lit(batch_size))
    return ranges.select(F.explode(starts).alias("batch_start"), F.col("gap_end")).select(
        "batch_start",
        F.least(F.col("batch_start") + batch_size - 1, F.col("gap_end")).alias("batch_end"),
    )
