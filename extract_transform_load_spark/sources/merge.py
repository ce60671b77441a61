"""Delta-style MERGE (upsert/delete) emulation over plain parquet.

The reference's sink is Postgres ``INSERT ... ON CONFLICT DO NOTHING``
plus imperative UPDATEs per event (`dao/postgre/ls_opening.rs:69-192`,
`handler/ls_loan_closing.rs:359-802`). The lakehouse twin of that
write pattern is ``MERGE INTO target USING updates ON pk WHEN MATCHED
UPDATE WHEN NOT MATCHED INSERT [WHEN MATCHED DELETE]`` — native in
Delta/Iceberg/Hudi, absent over bare parquet paths. This module
emulates it with the same *physical* strategy those formats use for
copy-on-write tables:

1. **Prune**: only partitions named by the updates/deletes are read —
   the touched-partition list is a tiny driver-side collect (bounded by
   the partition count, not the row count), and the target scan carries
   an ``isin`` partition filter, so a 100 TB table with a 10-partition
   delta reads 10 partitions.
2. **Rewrite**: touched partitions are anti-joined against the change
   PKs (dropping updated + deleted rows) and unioned with the updates —
   one shuffle on the PK, only over touched-partition data.
3. **Swap**: the rewrite lands in a hidden staging dir next to the
   target; each touched partition directory is then swapped in via the
   Hadoop FileSystem API (rename is atomic-per-directory on HDFS and
   posix; on object stores it is copy+delete — same caveat as every
   non-transactional format). Readers never observe a half-written
   partition file because parquet files are staged complete.

Single-writer discipline is assumed — exactly the reference's model
(one ETL process owns the table). Multi-writer isolation is what a real
table format's transaction log buys; this emulation documents the
boundary instead of pretending to cross it.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the footer key under which Spark's parquet writer stores the row schema
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def merge_plan(
    existing: DataFrame,
    updates: DataFrame,
    pk: Sequence[str],
    deletes: DataFrame | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """The logical MERGE: rows of ``existing`` surviving the change set.

    - matched + in ``updates``  -> replaced by the update row
    - matched + in ``deletes``  -> dropped (unconditional)
    - unmatched update rows     -> inserted
    - everything else           -> kept as-is

    With ``order_col``, last-writer-wins runs across existing AND update
    rows — the Delta ``WHEN MATCHED AND s.ver > t.ver THEN UPDATE``
    discipline: replaying an already-applied (older) batch is a no-op,
    which is what makes an at-least-once streaming sink idempotent.
    Order-value ties pick an arbitrary writer (a true replay carries an
    identical row, so ties are only visible on conflicting same-version
    writes). Without ``order_col`` updates must be PK-unique and always
    replace. Pure DataFrame composition — callers that outgrow parquet
    point this at a Delta/Iceberg MERGE with zero semantic change.
    """
    pk = list(pk)
    upd = updates.select(*existing.columns)
    if order_col is None:
        changed = upd
    else:
        # matched existing rows compete with the updates on order_col
        matched = existing.join(upd.select(*pk).distinct(), pk, "left_semi")
        pool = matched.unionByName(upd)
        payload = [c for c in existing.columns if c not in pk]
        changed = (
            pool.groupBy(*pk)
            .agg(F.max_by(F.struct(*payload), F.col(order_col)).alias("__row"))
            .select(*pk, "__row.*")
        )
    changed_keys = upd.select(*pk)
    if deletes is not None:
        changed_keys = changed_keys.unionByName(deletes.select(*pk)).distinct()
        changed = changed.join(deletes.select(*pk), pk, "left_anti")
    survivors = existing.join(changed_keys, pk, "left_anti")
    return survivors.unionByName(changed)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    pk: Sequence[str],
    tracked: Sequence[str],
    effective_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD type-2 MERGE: apply a change batch to a *versioned* dimension.

    :func:`merge_plan` is SCD1 — matched rows are overwritten and their
    history is gone. This is the type-2 twin the reference's
    state-history tables imply (`dao/postgre/ls_state.rs` keeps every
    interval snapshot rather than updating in place): each key carries
    ``[valid_from, valid_to)`` version rows plus one open
    (``is_current``) row, and a change batch

    - **closes** the current row of any key whose tracked attributes
      actually changed (``valid_to`` = the change's effective time),
    - **opens** a new current version from the change row,
    - **chains** multiple changes to one key within a single batch into
      consecutive versions (ordered by effective time),
    - **drops no-op changes** — a change equal to the attributes in
      effect at its effective time creates no version, so re-running
      yesterday's batch, or a batch with echo rows from a CDC feed, is
      a no-op (``apply(apply(d, b), b) == apply(d, b)``, tested),
    - **ignores stale changes** (effective at-or-before the key's
      current ``valid_from``) — already-applied history; out-of-order
      backfill belongs to batch reconciliation, the same live/backfill
      split as streaming ingest dedup.

    Closed history rows never shuffle: the single exchange is the
    per-key window over (current rows ∪ surviving changes), which is
    delta-sized, not table-sized. Effective timestamps must be unique
    per key within a batch (exact duplicate (key, ts) rows are
    deduped; conflicting same-instant changes are a feed defect this
    operator won't arbitrate).
    """
    from pyspark.sql import Window

    pk, tracked = list(pk), list(tracked)
    out_cols = [*pk, *tracked, valid_from, valid_to, is_current]
    cur = dim.filter(F.col(is_current))
    hist = dim.filter(~F.col(is_current)).select(*out_cols)

    ch = (
        changes.select(*pk, *tracked, F.col(effective_col).alias("__eff"))
        .dropDuplicates([*pk, "__eff"])
        .join(
            cur.select(*pk, F.col(valid_from).alias("__cur_vf")), pk, "left"
        )
        .filter(F.col("__cur_vf").isNull() | (F.col("__eff") > F.col("__cur_vf")))
        .select(
            *pk,
            *tracked,
            F.col("__eff"),
            F.lit(False).alias("__seed"),
            F.col("__eff").alias("__vf"),
        )
    )
    seed = cur.select(
        *pk,
        *tracked,
        F.col(valid_from).alias("__eff"),
        F.lit(True).alias("__seed"),
        F.col(valid_from).alias("__vf"),
    )
    pool = seed.unionByName(ch)

    order = [F.col("__eff").asc(), F.col("__seed").desc()]
    w = Window.partitionBy(*pk).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in tracked])
    survivors = (
        pool.withColumn("__prev", F.lag(attrs).over(w))
        .filter(F.col("__prev").isNull() | ~attrs.eqNullSafe(F.col("__prev")))
        .drop("__prev")
    )
    versioned = survivors.withColumn("__next", F.lead("__eff").over(w)).select(
        *pk,
        *tracked,
        F.col("__vf").alias(valid_from),
        F.col("__next").alias(valid_to),
        F.col("__next").isNull().alias(is_current),
    )
    return hist.unionByName(versioned)


def merge_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    pk: Sequence[str],
    partition_col: str | None = None,
    deletes: DataFrame | None = None,
    order_col: str | None = None,
) -> list[str]:
    """Copy-on-write MERGE into a parquet path; returns swapped partitions.

    With ``partition_col`` (the table must be written partitioned by it,
    and change rows must carry it) only touched partitions are read and
    rewritten. Without it the whole table is rewritten — correct, but at
    scale an unpartitioned merge target is itself the design error.
    """
    pk = list(pk)
    root = target_path.rstrip("/")
    if partition_col is None:
        # one swap of the whole directory
        existing, subdirs = read_target(spark, target_path), [""]
    else:
        change_parts = updates.select(partition_col)
        if deletes is not None:
            change_parts = change_parts.unionByName(deletes.select(partition_col))
        touched = sorted(r[0] for r in change_parts.distinct().collect())
        if not touched:
            return []
        # one swap per touched partition
        existing = read_target(spark, target_path).filter(F.col(partition_col).isin(touched))
        subdirs = [f"/{partition_col}={value}" for value in touched]

    staging = f"{root}__staging_{uuid.uuid4().hex}"
    writer = merge_plan(existing, updates, pk, deletes, order_col).write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    for sub in subdirs:
        _swap(spark, staging + sub, root + sub)
    _delete(spark, staging)  # what a partition swap leaves behind
    return ["<all>"] if partition_col is None else [sub[1:] for sub in subdirs]


def read_target(spark: SparkSession, path: str) -> DataFrame:
    """``path`` as a parquet table, read with the schema in one data
    file's footer.

    Spark's schema inference (``mergeSchema`` off) reads the same single
    footer, but in a Spark job; reading the footer here, on the driver
    through the Hadoop FS, gives the same columns, types and partition
    discovery (Spark makes a read schema nullable either way) and fires
    no job. A directory with no data file, or a file that another writer
    left without Spark's row schema, is read as before, by inference.
    """
    schema = _footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark row schema stored in the footer of the first data file
    under ``path``, or None. Files and directories that Spark's file
    index skips (``_``/``.`` prefixed, except ``_col=value`` partition
    directories) are skipped here too."""
    fs, root, jvm = _hadoop_fs(spark, path)
    if not fs.exists(root):
        return None
    prefix = len(fs.makeQualified(root).toUri().getPath().rstrip("/")) + 1
    files = fs.listFiles(root, True)
    while files.hasNext():
        status = files.next()
        rel = status.getPath().toUri().getPath()[prefix:]
        if status.getLen() == 0 or any(
            part.startswith(".") or (part.startswith("_") and "=" not in part)
            for part in rel.split("/")
        ):
            continue
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark.sparkContext._jsc.hadoopConfiguration(),
            status,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        row = footer.getFileMetaData().getKeyValueMetaData().get(SPARK_ROW_METADATA)
        return None if row is None else StructType.fromJson(json.loads(row))
    return None


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(jsc.hadoopConfiguration()), hpath, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    """FS-agnostic existence check (file://, hdfs://, s3a://, bare local
    paths). Sinks must use THIS, not ``os.path.exists`` — the latter is
    always False for URI-form or remote paths, which would flip a
    bootstrap-if-missing decision into an overwrite-every-batch data
    loss on any non-local deployment."""
    fs, p, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def replace_dir(spark: SparkSession, staged: str, live: str) -> None:
    """Atomically replace ``live`` with ``staged`` on any Hadoop FS —
    the public form of the MERGE writer's swap, for sinks that stage a
    full rewrite (e.g. streaming sketch maintenance)."""
    _swap(spark, staged, live)


def _swap(spark: SparkSession, staged: str, live: str) -> None:
    """Replace ``live`` with ``staged`` (Hadoop FS — file://, hdfs://, s3a://)."""
    fs, staged_p, jvm = _hadoop_fs(spark, staged)
    live_p = jvm.org.apache.hadoop.fs.Path(live)
    trash = jvm.org.apache.hadoop.fs.Path(live + "__old_" + uuid.uuid4().hex)
    if fs.exists(live_p):
        if not fs.rename(live_p, trash):
            raise IOError(f"could not move live dir aside: {live}")
    if not fs.rename(staged_p, live_p):
        fs.rename(trash, live_p)  # roll back
        raise IOError(f"could not swap staged dir into place: {live}")
    if fs.exists(trash):
        fs.delete(trash, True)


def _delete(spark: SparkSession, path: str) -> None:
    fs, p, _ = _hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    rows_per_file: int = 5_000_000,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet dir into right-sized
    files, atomically. Returns (files_before, files_after).

    Streaming/incremental sinks accrete files per trigger; at 100 TB
    the scan's task count — and the namenode's metadata load — track
    FILE count, not byte count, so periodic compaction is standing
    maintenance (Delta OPTIMIZE, Iceberg rewrite_data_files — this is
    the plain-parquet equivalent). Partitioned tables repartition by
    the partition key so each partition lands as one writer's output,
    capped by ``maxRecordsPerFile``; unpartitioned tables pay one
    count() to size the target file count. Same staging + atomic swap
    as :func:`merge_parquet` — readers never see a half-compacted dir.
    """
    df = spark.read.parquet(path)
    before = _count_files(spark, path)
    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex}"
    if partition_col is not None:
        (
            df.repartition(F.col(partition_col))
            .write.option("maxRecordsPerFile", rows_per_file)
            .mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )
    else:
        n = df.count()
        files = max(1, -(-n // rows_per_file))
        (
            df.repartition(files)
            .write.option("maxRecordsPerFile", rows_per_file)
            .mode("overwrite")
            .parquet(staging)
        )
    _swap(spark, staging, path)
    return before, _count_files(spark, path)


def _count_files(spark: SparkSession, path: str) -> int:
    fs, jpath, _ = _hadoop_fs(spark, path)
    it = fs.listFiles(jpath, True)
    n = 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            n += 1
    return n


def forget_keys(
    spark: SparkSession,
    keys: DataFrame,
    targets: Sequence[tuple[str, Sequence[str], str | None]],
) -> dict[str, list[str]]:
    """Right-to-be-forgotten: propagate key deletions across every table.

    ``keys`` holds the identifying columns (e.g. one ``user_id``
    column); ``targets`` lists (path, pk, partition_col) for every
    table that may reference them. Each table is semi-join-scanned once
    to locate the full PKs (and partitions) owning those keys — the
    same discovery scan Delta pays for an unindexed DELETE — then
    :func:`merge_parquet` rewrites only the touched partitions.
    Returns {path: swapped partition dirs}; an empty list means the
    table held nothing for those keys and no file was touched — the
    audit trail a compliance job wants per table.
    """
    out: dict[str, list[str]] = {}
    key_cols = list(keys.columns)
    for path, pk, partition_col in targets:
        existing = spark.read.parquet(path)
        empty_updates = existing.limit(0)
        sel = list(pk) + ([partition_col] if partition_col else [])
        dels = (
            existing.join(F.broadcast(keys), key_cols, "left_semi")
            .select(*sel)
            .distinct()
        )
        if not dels.take(1):
            out[path] = []
            continue
        out[path] = merge_parquet(
            spark, path, empty_updates, pk, partition_col, deletes=dels
        )
    return out
