"""Warehouse sink semantics — the bulker contract re-expressed on Spark.

Reference (external Go service `jitsucom/bulker`, invoked from
`libs/core-functions/src/functions/bulker-destination.ts:364-380`; options at
`webapps/console/lib/schema/destinations.tsx:134-147`):

- modes `batch` / `stream` (S4): micro-batch cadence vs per-event — here both
  are `foreachBatch` writes, differing only in trigger interval.
- dedup: `deduplicate: true` upserts on `primaryKey` (default `message_id`)
  within `deduplicateWindow` (default 31 days) of `timestampColumn`.
- schema evolution: new columns extend the table DDL unless `schemaFreeze`
  (`destinations.tsx:144`) — mapped to parquet `mergeSchema` on read and
  `allowMissingColumns` union on write.
- multi-table routing: the layout emits a `_table` column
  (`bulker-destination.ts:340-385`); one physical table per value.

Scale design: tables are laid out as parquet partitioned by `_p_date`
(UTC date of the event timestamp). Every rewrite — upsert, compaction,
per-user erasure — goes through one partition-replace step: the new rows
are written once into a hidden scratch directory inside the table, each
written partition is then renamed into place, and an in-scope partition
that got no rows is dropped. An upsert's scope is the table's partitions
within the dedup window of the batch, never the whole table. On a
lakehouse table format this same operation is a `MERGE INTO` whose file
pruning does the equivalent partition-level rewrite; the API here is
format-agnostic so swapping the physical layer does not change callers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PRIMARY_KEY = ["message_id"]  # destinations.tsx:137
DEFAULT_DEDUP_WINDOW_DAYS = 31  # destinations.tsx:139
PARTITION_COL = "_p_date"
# destination table for rows whose routing column is NULL (e.g. a track
# without an event name fanned out by the segment layout): quarantined,
# never silently dropped, never a crash
UNROUTABLE_TABLE = "_unroutable"


class WarehouseSink:
    """A directory-backed warehouse: one sub-directory per table."""

    def __init__(self, spark: SparkSession, base_dir: str, schema_freeze: bool = False):
        self.spark = spark
        self.base_dir = base_dir
        self.schema_freeze = schema_freeze

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.startswith(PARTITION_COL) or f.endswith(".parquet")
            for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        # mergeSchema=True is the read-side half of schema evolution: older
        # files simply lack the newer columns (null-filled).
        return self.spark.read.option(
            "mergeSchema", str(not self.schema_freeze).lower()
        ).parquet(self._path(table))

    # -- append (deduplicate: false) -----------------------------------

    def append(self, df: DataFrame, table: str, timestamp_col: str = "ts") -> None:
        df = self._conform(df, table, timestamp_col)
        df.write.mode("append").partitionBy(PARTITION_COL).parquet(self._path(table))

    # -- replace (full_refresh sync mode) ------------------------------

    def replace(self, df: DataFrame, table: str, timestamp_col: str = "ts") -> None:
        """Swap the table's entire contents — the Airbyte full_refresh
        contract (a sync replaces the table; contrast with upsert's
        incremental MERGE)."""
        df = self._conform(df, table, timestamp_col)
        df.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
            self._path(table)
        )

    # -- upsert (deduplicate: true) ------------------------------------

    def upsert(
        self,
        df: DataFrame,
        table: str,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
        dedup_window_days: int = DEFAULT_DEDUP_WINDOW_DAYS,
    ) -> None:
        """MERGE-by-primary-key within the dedup window.

        Newer rows win (max_by on the timestamp column); rows already in
        the table outside the touched date partitions are untouched on
        disk. This is the idempotence that turns at-least-once delivery
        into exactly-once results (SURVEY §2.10 W1).
        """
        pk = primary_key or DEFAULT_PRIMARY_KEY
        df = self._conform(df, table, timestamp_col)
        # Only date partitions within the dedup window of the batch's own
        # span can contain a conflicting primary key. The window extends
        # BOTH directions: backward for the usual newer-batch-vs-older-row
        # merge, and forward because an out-of-order redelivery dated
        # BEFORE an existing same-key row must still find it (newest-wins
        # keeps the existing row). Null event timestamps land in the null
        # partition, in scope only when the batch has null dates.
        lo, hi, has_null = _dedup_window(df, timestamp_col, dedup_window_days)
        scope = {
            name
            for name in _partition_dirs(self._path(table))
            if (lo is not None and _partition_dir(lo) <= name <= _partition_dir(hi))
            or (has_null and name == _partition_dir(None))
        }
        rows = df
        if scope:
            rows = self._read_partitions(table, scope).unionByName(
                df, allowMissingColumns=not self.schema_freeze
            )
        # A key whose newer row moves to another date leaves its old
        # partition without survivors: the replace step drops it, so no
        # stale duplicate survives on disk.
        self._replace(table, _latest_per_key(rows, pk, timestamp_col), scope)

    # -- multi-table routing (bulker-destination.ts:340-385) -----------

    def write_routed(
        self,
        df: DataFrame,
        table_col: str = "_table",
        deduplicate: bool = True,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
    ) -> list[str]:
        """Route one layouted batch into its per-table destinations."""

        def write(part: DataFrame, table: str) -> None:
            if deduplicate:
                self.upsert(part, table, primary_key, timestamp_col)
            else:
                self.append(part, table, timestamp_col)

        return _route(df, table_col, write)

    def compact(self, table: str, target_files_per_partition: int = 1) -> None:
        """Small-file compaction: streaming appends leave one file per
        micro-batch per partition; periodic compaction rewrites each date
        partition down to `target_files_per_partition` files. The lakehouse
        OPTIMIZE analogue — read amplification on a 100 TB table is driven
        by file count as much as bytes."""
        # repartition(N, _p_date) hashes by date alone, sending EVERY row
        # of a date to one task — always exactly 1 file per partition,
        # making the parameter a no-op for values > 1 (round-9 spine
        # review finding #10). A deterministic per-row salt bounded by
        # the target splits each date into at most `target` tasks/files.
        scope = _partition_dirs(self._path(table))
        df = self.read(table)
        salt = F.pmod(
            F.hash(*[F.col(c) for c in df.columns if c != PARTITION_COL]),
            F.lit(target_files_per_partition),
        ).alias("_salt")
        # range partitioning on (date, salt): each date spans ~target
        # contiguous ranges, so every date yields ~target files. A plain
        # hash repartition by the pair gets coalesced back to one task
        # by AQE when the data is small, silently re-creating the 1-file
        # behavior the salt exists to avoid.
        df = (
            df.withColumn("_salt", salt)
            .repartitionByRange(
                max(len(scope), 1) * target_files_per_partition,
                F.col(PARTITION_COL),
                F.col("_salt"),
            )
            .drop("_salt")
        )
        self._replace(table, df, scope)

    # -- partition replace (shared by upsert, compact, erasure) --------

    def _read_partitions(self, table: str, names: set[str]) -> DataFrame:
        """Just the named partitions' rows — no listing of the rest."""
        p = self._path(table)
        return (
            self.spark.read.option("mergeSchema", str(not self.schema_freeze).lower())
            .option("basePath", p)
            .parquet(*[os.path.join(p, n) for n in sorted(names)])
            # a scope of only the null partition infers no date type
            .withColumn(PARTITION_COL, F.col(PARTITION_COL).cast("date"))
        )

    def _replace(self, table: str, rows: DataFrame, scope: set[str]) -> tuple[int, int]:
        """Replace the `scope` partitions of `table` with `rows`.

        The rows are written once, in full, to a scratch directory inside
        the table before any partition on disk changes — `rows` may read
        the very files being replaced, so nothing is recomputed after the
        first rename. Each written partition is then renamed into place
        and every in-scope partition that got no rows is dropped.
        (Directory renames = this local/posix layout; an HDFS deployment
        issues the same renames via FileSystem.) Returns (partitions
        rewritten, partitions dropped)."""
        path = self._path(table)
        # the leading "." hides the scratch directory from Spark and
        # pyarrow readers and from any listing of tables
        scratch = os.path.join(path, ".replace")
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            rows.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(scratch)
            written = _partition_dirs(scratch)
            for name in written | scope:
                shutil.rmtree(os.path.join(path, name), ignore_errors=True)
                if name in written:
                    os.rename(os.path.join(scratch, name), os.path.join(path, name))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        # the swap invalidates any cached file listing for this table
        # path — refresh so later reads never chase replaced part files
        self.spark.catalog.refreshByPath(path)
        return len(written), len(scope - written)

    def _conform(self, df: DataFrame, table: str, timestamp_col: str) -> DataFrame:
        df = df.withColumn(PARTITION_COL, F.to_date(F.col(timestamp_col)))
        if self.schema_freeze and self.exists(table):
            # schemaFreeze: incoming columns unknown to the table are
            # dropped instead of extending the schema.
            known = set(self.read(table).columns)
            df = df.select(*[c for c in df.columns if c in known])
        return df


def _partition_dirs(path: str) -> set[str]:
    """The `_p_date=` partition directory names under a table path."""
    if not os.path.isdir(path):
        return set()
    return {f for f in os.listdir(path) if f.startswith(f"{PARTITION_COL}=")}


def _dedup_window(df: DataFrame, timestamp_col: str, days: int):
    """The dedup window of a batch from one aggregate: (min event date -
    days, max event date + days, whether any event date is null). Both
    bounds are None when every date is null. The parquet upsert prunes
    partitions by it and `sinks_cloud.merge_window_bounds` bounds the
    MERGE families' ON clause by it."""
    d = F.to_date(F.col(timestamp_col))
    row = df.agg(
        F.date_sub(F.min(d), days), F.date_add(F.max(d), days), F.max(d.isNull())
    ).first()
    return row[0], row[1], bool(row[2])


def _partition_dir(value) -> str:
    """The directory name of a `_p_date` value; Spark stores a null one
    under the Hive default partition name."""
    return f"{PARTITION_COL}={'__HIVE_DEFAULT_PARTITION__' if value is None else value}"


def _route(df: DataFrame, table_col: str, write) -> list[str]:
    """Split a routed batch by `table_col`, `write(rows, table)` each part
    and return the tables written. Every part reads the cached batch, so
    the source is scanned once. Null-routed rows are unroutable, not a
    crash: they go to the quarantine table, so nothing is silently lost."""
    df = df.cache()
    try:
        tables = []
        for (t,) in df.select(table_col).distinct().collect():
            name = UNROUTABLE_TABLE if t is None else t
            write(df.where(F.col(table_col).eqNullSafe(t)).drop(table_col), name)
            tables.append(name)
        return tables
    finally:
        df.unpersist()


def _latest_per_key(df: DataFrame, pk: list[str], timestamp_col: str) -> DataFrame:
    """One row per primary key, newest timestamp wins.

    max_by over a struct of all columns keeps this a hash aggregate
    (partial-agg friendly, single shuffle on the key) instead of a window
    sort — the shape that survives skewed keys at scale with AQE.
    """
    others = [c for c in df.columns if c not in pk]
    # DataFrame API, not an interpolated SQL string: a column named with
    # a hyphen/space/reserved word (keep_original_names layouts, Airbyte
    # fields, arbitrary flattened properties) would otherwise parse as
    # arithmetic or fail (round-9 spine review finding #8)
    # max_by SKIPS rows whose ordering key is null — a key whose rows
    # all carry a null timestamp would come back as a null struct,
    # wiping every non-pk column. Floor null timestamps so those rows
    # still win deterministically against nothing and lose against any
    # real timestamp.
    order_key = F.coalesce(
        F.col(timestamp_col),
        F.lit("1900-01-01 00:00:00").cast("timestamp"),
    )
    packed = df.groupBy(*pk).agg(
        F.max_by(
            F.struct(*[F.col(c).alias(c) for c in others]),
            order_key,
        ).alias("_row")
    )
    return packed.select(
        *pk, *[F.col("_row").getField(c).alias(c) for c in others]
    )
