"""Retention sweeps + per-user erasure (round 8) — partition-pruned
mutation jobs over the warehouse and the profile raw store.

Reference context: retention in the reference is TTL'd storage — the
profile builder's raw event collections are created with
`expireAfterSeconds = profileWindowDays` (`services/profiles/src/
builder.ts:120`, `libs/core-functions/src/functions/lib/mongodb.ts:
89-110`), and anonymous-event stores carry the same per-collection TTL
(`mongodb.ts:42-44`). A lake layout has no background TTL daemon, so
retention is an explicit job — and because every store here is
partitioned on exactly the keys these jobs filter by, both jobs are
partition-pruned:

- retention on a `_p_date`-partitioned table is METADATA-ONLY — expired
  date directories are removed, nothing is scanned or rewritten;
- erasing one user from the warehouse rewrites ONLY the date partitions
  that actually hold that user's rows (found by one pushed-down scan);
- erasing one user from the 240-way raw store rewrites ONLY the single
  hash partition `pmod(hash(user_id), 240)` assigned at append time
  (`operators/profiles.append_profiles_raw`) — 1/240 of the store, the
  same instance-sharding arithmetic the reference uses to split builder
  work (`profiles-functions.ts:87`).

The erasure path is the data-plane half of a GDPR/CCPA delete request:
callers compose `purge_user` over every table that carries the user and
keep the returned audit rows as the compliance record.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import PARTITION_COL, WarehouseSink, _partition_dir
from .profiles import RAW_PARTITIONS

PROFILE_WINDOW_DAYS = 365  # profiles-functions.ts profileWindowDays default


def sweep_expired_date_partitions(
    spark: SparkSession,
    table_dir: str,
    keep_days: int,
    today: date,
) -> list[str]:
    """Drop `_p_date=<d>` partition directories older than
    `today - keep_days`. Metadata-only (the lake twin of
    expireAfterSeconds): directory deletes, no scan, no rewrite.
    Returns the dropped partition dates (ISO strings)."""
    cutoff = today - timedelta(days=keep_days)
    dropped: list[str] = []
    if not os.path.isdir(table_dir):
        return dropped
    prefix = f"{PARTITION_COL}="
    for name in sorted(os.listdir(table_dir)):
        if not name.startswith(prefix):
            continue
        try:
            d = date.fromisoformat(name[len(prefix) :])
        except ValueError:
            continue  # non-date partition value: never TTL-swept
        if d < cutoff:
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)
            dropped.append(d.isoformat())
    if dropped:
        spark.catalog.refreshByPath(table_dir)
    return dropped


def purge_user_from_table(
    sink: WarehouseSink,
    table: str,
    user_id,
    user_col: str = "user_id",
) -> dict:
    """Erase one user's rows from a date-partitioned warehouse table.

    One pushed-down scan finds the date partitions holding the user;
    only those are rewritten, through the sink's partition-replace step:
    survivors are durably written out of band before any partition is
    swapped, and a partition the rewrite empties is dropped rather than
    left as a stale directory. Returns an audit dict that states the
    mutation scope honestly (r8 review finding #7):
    {table, rows_deleted, partitions_rewritten, partitions_dropped}."""
    audit = {
        "table": table,
        "rows_deleted": 0,
        "partitions_rewritten": 0,
        "partitions_dropped": 0,
    }
    if not sink.exists(table):
        return audit
    # null-safe: a plain `==` is null on anonymous rows, and `~hit` would
    # then erase them along with the user
    hit = F.col(user_col).eqNullSafe(F.lit(user_id))
    # a null partition value is real (a null event timestamp lands in the
    # Hive default partition) and must be erased like any other date
    scope = {
        _partition_dir(v)
        for (v,) in sink.read(table)
        .where(hit)
        .select(PARTITION_COL)
        .distinct()
        .collect()
    }
    if not scope:
        return audit
    sub = sink._read_partitions(table, scope)
    audit["rows_deleted"] = sub.where(hit).count()
    rewritten, dropped = sink._replace(table, sub.where(~hit), scope)
    audit["partitions_rewritten"] = rewritten
    audit["partitions_dropped"] = dropped
    return audit


def raw_partition_of(
    spark: SparkSession, user_id, user_id_type: str = "bigint"
) -> int:
    """The raw-store hash partition a user's events live in — the same
    `pmod(hash(user_id), 240)` `append_profiles_raw` assigns, computed
    by the engine itself. Murmur3 hashes DIFFER by input type (int32 vs
    int64 vs string), so the literal must be cast to the STORE's actual
    user_id type — `purge_user_from_raw` reads it from the parquet
    schema rather than assuming bigint (r8 review finding #3)."""
    return (
        spark.range(1)
        .select(
            F.pmod(
                F.hash(F.lit(user_id).cast(user_id_type)),
                F.lit(RAW_PARTITIONS),
            ).alias("p")
        )
        .first()["p"]
    )


def purge_user_from_raw(
    spark: SparkSession, raw_dir: str, user_id
) -> dict:
    """Erase one user from the 240-way profile raw store: rewrite ONLY
    the user's hash partition (1/240 of the store). Returns
    {partition_id, rows_deleted, partitions_touched}."""
    # the store's own user_id type drives the hash (footer-metadata read)
    utype = dict(
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(raw_dir).schema.fields
    ).get("user_id", "bigint")
    pid = raw_partition_of(spark, user_id, utype)
    part_dir = os.path.join(raw_dir, f"_partition_id={pid}")
    if not os.path.isdir(part_dir):
        return {
            "partition_id": pid,
            "rows_deleted": 0,
            "partitions_touched": 0,
        }
    sub = spark.read.parquet(part_dir)
    hit = F.col("user_id") == F.lit(user_id)
    deleted = sub.where(hit).count()
    if not deleted:
        return {
            "partition_id": pid,
            "rows_deleted": 0,
            "partitions_touched": 0,
        }
    # same durable-write-then-swap discipline as the warehouse's
    # partition-replace step: write survivors OUT of band, then rename the
    # partition directory — never overwrite files a live lineage might
    # still re-read.
    tmp_dir = part_dir + ".__purge_tmp__"
    trash = part_dir + ".__purge_old__"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    kept = sub.where(~hit)
    n_kept = kept.count()  # reads the untouched source, pre-mutation
    kept.write.mode("overwrite").parquet(tmp_dir)
    os.rename(part_dir, trash)
    if n_kept:
        os.rename(tmp_dir, part_dir)
    else:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    spark.catalog.refreshByPath(raw_dir)
    return {
        "partition_id": pid,
        "rows_deleted": deleted,
        "partitions_touched": 1,
    }


def purge_user(
    spark: SparkSession,
    sink,  # WarehouseSink | JdbcWarehouseSink (any .purge_user sink)
    tables: list[str],
    user_id,
    raw_dir: str | None = None,
    user_col: str = "user_id",
) -> DataFrame:
    """Compose the erasure across every store that carries the user and
    return the audit frame (the compliance record): one row per store
    with rows_deleted and the pruning scope actually touched.

    `sink` may be the parquet `WarehouseSink` (partition-pruned rewrite)
    or any sink exposing `purge_user(table, user_id, user_col) -> dict`
    — the JDBC/cloud families' generated-DELETE path
    (`sinks_jdbc.JdbcWarehouseSink.purge_user`,
    `sinks_cloud.erasure_statements`), so one compliance job covers a
    mixed lake + relational deployment."""
    rows = []
    for t in tables:
        if isinstance(sink, WarehouseSink):
            a = purge_user_from_table(sink, t, user_id, user_col)
            touched = a["partitions_rewritten"] + a["partitions_dropped"]
        else:
            a = sink.purge_user(t, user_id, user_col)
            touched = a["partitions_touched"]
        rows.append((f"warehouse:{a['table']}", a["rows_deleted"], touched))
    if raw_dir is not None:
        a = purge_user_from_raw(spark, raw_dir, user_id)
        rows.append(
            ("profiles_raw", a["rows_deleted"], a["partitions_touched"])
        )
    return spark.createDataFrame(
        rows, "store string, rows_deleted long, partitions_touched int"
    )


QUERIES: dict = {}  # mutation jobs: test-verified, not oracle queries
ORACLE: dict = {}
