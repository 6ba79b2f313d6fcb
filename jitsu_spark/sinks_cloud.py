"""Cloud warehouse / block-storage writer configuration (S5 depth).

The reference's bulker reaches BigQuery, Snowflake, S3, and GCS from the
same connection-config shapes (`webapps/console/lib/schema/
destinations.tsx`: bigquery `:426`, snowflake `:469`, s3 `:563`, gcs
`:597`, blockStorageSettings `:209-223`). Those services are not
reachable from this sandbox, so — like the Kafka source — the config
swap itself is the tested surface: each family maps its credential
schema to the Spark writer invocation (format, options, save mode,
MERGE strategy) as a pure function, and `capabilities` carries the
reference's documented family limitations (BigQuery/S3/GCS have stream
mode disabled; block storage cannot deduplicate or identity-stitch, so
loads are append-only).

At 100 TB each family keeps bulker's MERGE contract the scalable way:
- BigQuery: load into a staging table then `MERGE` on the primary key
  (the spark-bigquery connector's indirect write + a MERGE statement) —
  dedup happens warehouse-side, Spark never shuffles for it.
- Snowflake: same staging + `MERGE`, via the spark-snowflake connector.
- S3/GCS: append-only object layout partitioned by load date; no MERGE
  by design (the reference disables deduplication there too).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class WriterSpec:
    """One Spark write invocation, fully determined by connection config.

    `options` go on the DataFrameWriter; `hadoop_conf` entries are
    FILESYSTEM configuration (fs.s3a.* credentials, GCS auth) that Spark
    ignores as writer options — they must reach
    `spark.sparkContext.hadoopConfiguration` (or be set as
    `spark.hadoop.<key>` at session build), which `apply_hadoop_conf`
    does; `path` is the save target for path-based families (None for
    table-based connectors)."""

    format: str
    options: dict = field(default_factory=dict)
    hadoop_conf: dict = field(default_factory=dict)
    path: str | None = None
    mode: str = "append"
    # bulker's deduplicate:true contract for this family:
    #   "merge"  -> staging table + warehouse-side MERGE on primary key
    #   "append" -> family cannot dedup (block storage)
    merge_strategy: str = "merge"
    capabilities: dict = field(default_factory=dict)


def apply_hadoop_conf(spark, spec: "WriterSpec") -> None:
    """Install the spec's filesystem credentials where Hadoop reads
    them. Session-wide by necessity: Hadoop config is not per-write."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in spec.hadoop_conf.items():
        hc.set(k, v)


def write_with_spec(df, spec: "WriterSpec") -> None:
    """Execute the spec: hadoop conf, then writer options, then save."""
    apply_hadoop_conf(df.sparkSession, spec)
    writer = df.write.format(spec.format).mode(spec.mode)
    for k, v in spec.options.items():
        writer = writer.option(k, v)
    if spec.path is not None:
        writer.save(spec.path)
    else:
        writer.save()


_BLOCK_STORAGE_CAPS = {
    # destinations.tsx:563-616 limitations
    "stream_mode": False,
    "deduplicate": False,
    "identity_stitching": False,
}


def bigquery_writer(credentials: dict, table: str) -> WriterSpec:
    """bigquery credentials {project, bqDataset, keyFile}
    (destinations.tsx:440-455) -> spark-bigquery connector invocation."""
    return WriterSpec(
        format="bigquery",
        options={
            "parentProject": credentials["project"],
            "dataset": credentials["bqDataset"],
            "table": table,
            # service-account JSON rides as a credentials option; indirect
            # writes stage via GCS then load — the MERGE runs as a BQ
            # statement against the staged table
            "credentials": credentials["keyFile"],
            "writeMethod": "indirect",
        },
        merge_strategy="merge",
        capabilities={"stream_mode": False, "deduplicate": True,
                      "identity_stitching": True},
    )


def snowflake_writer(credentials: dict, table: str) -> WriterSpec:
    """snowflake credentials {account, database, defaultSchema, username,
    password, warehouse, parameters} (destinations.tsx:469-489) ->
    spark-snowflake connector invocation."""
    opts = {
        "sfUrl": f"{credentials['account']}.snowflakecomputing.com",
        "sfDatabase": credentials["database"],
        "sfSchema": credentials.get("defaultSchema", "PUBLIC"),
        "sfUser": credentials["username"],
        "sfPassword": credentials["password"],
        "sfWarehouse": credentials["warehouse"],
        "dbtable": table,
    }
    opts.update(credentials.get("parameters") or {})
    return WriterSpec(
        format="snowflake",
        options=opts,
        merge_strategy="merge",
        capabilities={"stream_mode": True, "deduplicate": True,
                      "identity_stitching": True},
    )


# destinations.tsx:241-249: the reference's default port per protocol —
# the Go bulker speaks both native TCP (9000/9440) and HTTP. The JDBC
# driver this WriterSpec names (com.clickhouse.jdbc.ClickHouseDriver)
# is HTTP(S)-only, so hosts WITHOUT an explicit port map to the HTTP
# interface port for the chosen security level (native protocol
# selections bridge to their HTTP equivalent); hosts WITH a port are
# passed through untouched.
_CLICKHOUSE_JDBC_PORTS = {
    "http": 8123,
    "https": 8443,
    "clickhouse": 8123,          # native plaintext -> HTTP
    "clickhouse-secure": 8443,   # native TLS -> HTTPS
}


def clickhouse_writer(credentials: dict, table: str) -> WriterSpec:
    """clickhouse credentials {protocol, hosts, username, password,
    cluster?, database, parameters?} (destinations.tsx:239-266; catalog
    entry :369 — the reference's FIRST warehouse destination) -> Spark
    JDBC invocation against the ClickHouse JDBC driver.

    Upsert model (merge_strategy="replacing_insert"): ClickHouse has no
    MERGE statement — bulker's deduplicate:true maps to a
    ReplacingMergeTree(version) table ORDERed BY the primary key, plain
    INSERTs, and dedup that happens at background merge / FINAL read
    (see `replacing_insert_statements` / `final_read_sql`). Capability
    flags carry the family limitations: stream mode is locked behind
    async inserts (destinations.tsx:380-382) and dedup is EVENTUAL —
    reads see duplicates until a merge unless they ask FINAL."""
    protocol = credentials.get("protocol", "clickhouse-secure")
    if protocol not in _CLICKHOUSE_JDBC_PORTS:
        raise ValueError(f"unknown clickhouse protocol {protocol!r}")
    hosts = []
    for h in credentials["hosts"]:
        hosts.append(
            h if ":" in h else f"{h}:{_CLICKHOUSE_JDBC_PORTS[protocol]}"
        )
    database = credentials.get("database", "default")
    opts = {
        "url": f"jdbc:clickhouse://{','.join(hosts)}/{database}",
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "dbtable": table,
        "user": credentials.get("username", "default"),
        "password": credentials["password"],
    }
    if protocol in ("https", "clickhouse-secure"):
        opts["ssl"] = "true"
    opts.update(credentials.get("parameters") or {})
    return WriterSpec(
        format="jdbc",
        options=opts,
        merge_strategy="replacing_insert",
        capabilities={
            # destinations.tsx:380-382 streamModeLocked
            "stream_mode": False,
            "deduplicate": True,
            "identity_stitching": True,
            # ReplacingMergeTree semantics, not MERGE semantics:
            "dedup_is_eventual": True,     # until background merges run
            "dedup_is_global": True,       # whole key space, no 31 d window
            "read_requires_final": True,   # SELECT ... FINAL (or argMax)
        },
    )


def _block_storage_format(settings: dict) -> tuple[str, dict]:
    """blockStorageSettings {folder, format: ndjson|ndjson_flat|csv,
    compression: gzip|none} (destinations.tsx:209-223) -> Spark sink
    format + options. ndjson maps to Spark's json source; csv to csv
    with a header, matching the bulker file layout."""
    fmt = settings.get("format", "ndjson")
    compression = settings.get("compression", "none")
    if fmt in ("ndjson", "ndjson_flat"):
        spark_fmt, opts = "json", {}
    elif fmt == "csv":
        spark_fmt, opts = "csv", {"header": "true"}
    else:
        raise ValueError(f"unknown block storage format {fmt!r}")
    if compression == "gzip":
        opts["compression"] = "gzip"
    return spark_fmt, opts


def s3_writer(credentials: dict, table: str) -> WriterSpec:
    """s3 credentials {accessKeyId, secretAccessKey, bucket, region,
    endpoint?} + blockStorageSettings (destinations.tsx:563-594)."""
    fmt, opts = _block_storage_format(credentials)
    folder = credentials.get("folder") or ""
    prefix = f"{folder.rstrip('/')}/" if folder else ""
    hadoop = {
        "fs.s3a.access.key": credentials["accessKeyId"],
        "fs.s3a.secret.key": credentials["secretAccessKey"],
        "fs.s3a.endpoint.region": credentials.get("region", "us-west-1"),
    }
    if credentials.get("endpoint"):
        hadoop["fs.s3a.endpoint"] = credentials["endpoint"]
    return WriterSpec(
        format=fmt, options=opts, hadoop_conf=hadoop,
        path=f"s3a://{credentials['bucket']}/{prefix}{table}", mode="append",
        merge_strategy="append", capabilities=dict(_BLOCK_STORAGE_CAPS),
    )


def gcs_writer(credentials: dict, table: str) -> WriterSpec:
    """gcs credentials {accessKey, bucket} + blockStorageSettings
    (destinations.tsx:597-616)."""
    fmt, opts = _block_storage_format(credentials)
    folder = credentials.get("folder") or ""
    prefix = f"{folder.rstrip('/')}/" if folder else ""
    return WriterSpec(
        format=fmt, options=opts,
        hadoop_conf={
            "google.cloud.auth.service.account.json": credentials["accessKey"]
        },
        path=f"gs://{credentials['bucket']}/{prefix}{table}", mode="append",
        merge_strategy="append", capabilities=dict(_BLOCK_STORAGE_CAPS),
    )


# ---------------------------------------------------------------------------
# Staging + MERGE statement generation (round 4): the cloud families keep
# bulker's deduplicate:true contract warehouse-side — Spark reduces the
# batch to one row per key (sinks._latest_per_key), the connector stages
# it, and ONE MERGE promotes the stage into the target inside the dedup
# window. These are the statements that run as BigQuery jobs / Snowflake
# queries; the ANSI dialect executes verbatim on Derby, which the tests
# use as a live twin to prove the generated MERGE reproduces the parquet
# WarehouseSink.upsert row-for-row (same window semantics: conflicts
# outside [batch_min - window, batch_max] are left duplicated by design).
# ---------------------------------------------------------------------------

import re as _re

_MERGE_IDENT = _re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")

MERGE_DIALECTS = {
    # identifier quote, timestamp->date expression, date literal.
    # table_q: how TABLE names are quoted — the live-twin ANSI form
    # leaves them unquoted because engines that fold unquoted
    # identifiers (Derby/Oracle upper, postgres lower) store the
    # Spark-created table under the folded name, while Spark's JDBC
    # writer QUOTES column names (case-preserved) — so columns must be
    # quoted and tables must not.
    "bigquery": {"q": "`", "table_q": "`", "to_date": "DATE({x})",
                 "date_lit": "DATE '{d}'"},
    "snowflake": {"q": '"', "table_q": '"', "to_date": "TO_DATE({x})",
                  "date_lit": "DATE '{d}'"},
    "ansi": {"q": '"', "table_q": "", "to_date": "CAST({x} AS DATE)",
             "date_lit": "DATE('{d}')"},
    # ClickHouse is NOT a MERGE engine: merge_statements refuses it and
    # points at replacing_insert_statements (ReplacingMergeTree upsert).
    "clickhouse": {"q": "`", "table_q": "`", "to_date": "toDate({x})",
                   "date_lit": "toDate('{d}')",
                   "strategy": "replacing_insert"},
}

_DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _mq(name: str, q: str) -> str:
    if not _MERGE_IDENT.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    if not q:
        return name
    # qualified names quote each part (dataset.table)
    return ".".join(f"{q}{part}{q}" for part in name.split("."))


def merge_window_bounds(
    batch, timestamp_col: str = "ts", dedup_window_days: int = 31
) -> tuple[str, str]:
    """The parquet upsert's dedup window (`sinks._dedup_window`):
    [batch min date - window, batch max date + window], as ISO literals
    for the MERGE ON clause. Symmetric since round 9 — the forward
    extension lets an out-of-order redelivery dated BEFORE an existing
    same-key target row still MATCH it (newest-wins then leaves the
    target untouched and skips the insert), keeping the two engines'
    dedup behavior identical. One tiny agg over the batch."""
    from .sinks import _dedup_window

    lo, hi, _ = _dedup_window(batch, timestamp_col, dedup_window_days)
    return str(lo), str(hi)


def merge_statements(
    family: str,
    target_table: str,
    staging_table: str,
    columns: list[str],
    primary_key: list[str],
    timestamp_col: str = "ts",
    window_lo: str | None = None,
    window_hi: str | None = None,
) -> list[str]:
    """The staging-promotion statements for a cloud family: one MERGE
    (window-bounded on the target's event date, newest-timestamp wins,
    unmatched source rows insert) followed by the staging DROP.

    Contract parity with `sinks.WarehouseSink.upsert`:
    - the staged batch is already one row per primary key (the Spark
      `_latest_per_key` reduction runs before staging — same as the
      JDBC sink);
    - a target row with the same key INSIDE the window: the newer
      timestamp wins (`WHEN MATCHED AND s.ts >= t.ts`);
    - a target row with the same key OUTSIDE the window: untouched, and
      the source row still inserts — window-bounded dedup leaves that
      duplicate by design, exactly like the parquet path's partition
      pruning.
    """
    d = MERGE_DIALECTS[family if family in MERGE_DIALECTS else "ansi"]
    if d.get("strategy") == "replacing_insert":
        raise ValueError(
            f"{family} has no MERGE statement — use "
            "replacing_insert_statements (ReplacingMergeTree upsert)"
        )
    q, tq = d["q"], d["table_q"]
    pk = [c for c in primary_key]
    for c in pk:
        if c not in columns:
            raise ValueError(f"primary key column {c!r} not in columns")
    if timestamp_col not in columns:
        raise ValueError(
            f"timestamp column {timestamp_col!r} not in columns"
        )
    non_key = [c for c in columns if c not in pk]
    t, s = _mq(target_table, tq), _mq(staging_table, tq)
    on = " AND ".join(f"t.{_mq(k, q)} = s.{_mq(k, q)}" for k in pk)
    if window_lo is not None and window_hi is not None:
        for lit in (window_lo, window_hi):
            if not _DATE_RE.match(lit):
                raise ValueError(f"window bound {lit!r} is not YYYY-MM-DD")
        t_date = d["to_date"].format(x=f"t.{_mq(timestamp_col, q)}")
        on += (
            f" AND {t_date} BETWEEN {d['date_lit'].format(d=window_lo)}"
            f" AND {d['date_lit'].format(d=window_hi)}"
        )
    ins_cols = ", ".join(_mq(c, q) for c in columns)
    ins_vals = ", ".join(f"s.{_mq(c, q)}" for c in columns)
    ts_q = _mq(timestamp_col, q)
    if non_key:
        sets = ", ".join(f"t.{_mq(c, q)} = s.{_mq(c, q)}" for c in non_key)
        matched = (
            f"WHEN MATCHED AND s.{ts_q} >= t.{ts_q} "
            f"THEN UPDATE SET {sets} "
        )
    else:
        # every column is part of the key (link/fact table): an UPDATE
        # would be a no-op and `UPDATE SET` with no assignments is a
        # parse error — emit a pure insert-if-absent MERGE
        matched = ""
    return [
        f"MERGE INTO {t} t USING {s} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})",
        f"DROP TABLE {s}",
    ]


# ---------------------------------------------------------------------------
# ClickHouse upsert form (round 5): bulker's deduplicate:true on its FIRST
# catalog destination (destinations.tsx:369). ClickHouse has no MERGE —
# the contract is a ReplacingMergeTree(version) table ORDERed BY the
# primary key, INSERT-only promotion from staging, and dedup applied by
# background part merges or at read time with FINAL. Two statement
# families below:
#   replacing_insert_statements -> the promotion (engine DDL + INSERT +
#     staging DROP) in ClickHouse dialect, with an ANSI twin whose INSERT
#     runs verbatim on Derby;
#   final_read_sql -> the dedup-at-read form: `SELECT ... FINAL` in
#     ClickHouse, and the NOT EXISTS newest-version emulation in ANSI —
#     which is exactly what FINAL computes, so the twin proves the
#     semantics (insert-everything + newest-wins-at-read) row-for-row
#     against WarehouseSink.upsert for in-window data. The documented
#     divergence: ReplacingMergeTree dedups GLOBALLY (no 31-day window),
#     so an out-of-window conflict collapses here but stays duplicated in
#     the MERGE families — flagged via capabilities.dedup_is_global and
#     pinned by a test.
# ---------------------------------------------------------------------------


def replacing_insert_statements(
    family: str,
    target_table: str,
    staging_table: str,
    columns: list[str],
    primary_key: list[str],
    timestamp_col: str = "ts",
    include_ddl: bool = False,
    column_types: dict[str, str] | None = None,
    cluster: str | None = None,
) -> list[str]:
    """Staging-promotion statements for a ReplacingMergeTree upsert:
    optional CREATE TABLE (engine DDL needs column types), INSERT of the
    staged batch (already one row per key — `sinks._latest_per_key` runs
    before staging, same as every other family), and the staging DROP.
    `family` must be 'clickhouse' or 'ansi' (the Derby live-twin form,
    which skips the engine clause) — a MERGE family here would silently
    get a dedup-free plain INSERT promotion, so it is refused the same
    way merge_statements refuses clickhouse. `cluster` (the ported
    credential, destinations.tsx:253-256) adds ON CLUSTER to the DDL so
    the table exists on every node of a clustered deployment."""
    if family != "ansi" and MERGE_DIALECTS.get(family, {}).get("strategy") != "replacing_insert":
        raise ValueError(
            f"{family} is a MERGE family — use merge_statements; "
            "replacing_insert_statements is for ReplacingMergeTree engines"
        )
    d = MERGE_DIALECTS[family]
    q, tq = d["q"], d["table_q"]
    for c in primary_key:
        if c not in columns:
            raise ValueError(f"primary key column {c!r} not in columns")
    if timestamp_col not in columns:
        raise ValueError(f"timestamp column {timestamp_col!r} not in columns")
    t, s = _mq(target_table, tq), _mq(staging_table, tq)
    cols = ", ".join(_mq(c, q) for c in columns)
    stmts = []
    if include_ddl:
        if family != "clickhouse":
            raise ValueError("engine DDL is ClickHouse-specific")
        if not column_types or set(column_types) != set(columns):
            raise ValueError("include_ddl requires column_types for every column")
        col_defs = ", ".join(
            f"{_mq(c, q)} {column_types[c]}" for c in columns
        )
        order_by = ", ".join(_mq(c, q) for c in primary_key)
        on_cluster = f"ON CLUSTER {_mq(cluster, q)} " if cluster else ""
        stmts.append(
            f"CREATE TABLE IF NOT EXISTS {t} {on_cluster}({col_defs}) "
            f"ENGINE = ReplacingMergeTree({_mq(timestamp_col, q)}) "
            f"ORDER BY ({order_by})"
        )
    stmts.append(f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {s}")
    stmts.append(f"DROP TABLE {s}")
    return stmts


def final_read_sql(
    family: str,
    table: str,
    columns: list[str],
    primary_key: list[str],
    timestamp_col: str = "ts",
) -> str:
    """The dedup-at-read query: what a consumer must run against a
    ReplacingMergeTree table to see upserted (newest-version-per-key)
    rows before background merges settle. ClickHouse spells it FINAL;
    the ANSI form is the newest-wins emulation (ties on the version
    column keep all tied rows — stage batches are one row per key, so
    ties require identical-ts cross-batch redeliveries, which both
    engines then keep/collapse identically for identical payloads;
    same-key same-ts rows with DIFFERENT payloads are a version tie
    ClickHouse itself resolves arbitrarily — FINAL keeps one of them,
    the ANSI twin keeps both, and no deterministic emulation exists).
    Same family contract as replacing_insert_statements: clickhouse or
    the ansi twin only — MERGE families dedup at promotion time."""
    if (
        family != "ansi"
        and MERGE_DIALECTS.get(family, {}).get("strategy")
        != "replacing_insert"
    ):
        raise ValueError(
            f"{family} is a MERGE family — its tables are already deduped"
            " at MERGE time; final_read_sql is for ReplacingMergeTree"
        )
    d = MERGE_DIALECTS[family]
    q, tq = d["q"], d["table_q"]
    for c in primary_key:
        if c not in columns:
            raise ValueError(f"primary key column {c!r} not in columns")
    t = _mq(table, tq)
    cols = ", ".join(_mq(c, q) for c in columns)
    if family == "clickhouse":
        return f"SELECT {cols} FROM {t} FINAL"
    on = " AND ".join(f"b.{_mq(k, q)} = a.{_mq(k, q)}" for k in primary_key)
    ts = _mq(timestamp_col, q)
    # DISTINCT collapses byte-identical redeliveries the way FINAL keeps
    # one physical row for them
    return (
        f"SELECT DISTINCT {cols} FROM {t} a WHERE NOT EXISTS ("
        f"SELECT 1 FROM {t} b WHERE {on} AND b.{ts} > a.{ts})"
    )


# ---------------------------------------------------------------------------
# Per-user erasure statements (round 9, VERDICT r8 #5): the GDPR/CCPA
# delete-request path beyond the parquet lake. `operators/retention.
# purge_user` covers the parquet warehouse + raw store; these generate
# the warehouse-side DELETE for the JDBC/cloud families, with the ANSI
# dialect executing verbatim on embedded Derby as the live semantics
# twin (the merge_statements precedent). ClickHouse has no ANSI DELETE
# on MergeTree engines: the default is the ALTER TABLE ... DELETE
# mutation (asynchronous, rewrites affected parts — the documented
# GDPR-compliance form); `lightweight=True` emits the lightweight
# `DELETE FROM` (22.8+) that masks rows immediately and cleans up on
# merges.
# ---------------------------------------------------------------------------


def _sql_literal(v, family: str = "ansi") -> str:
    """A safely-quoted SQL literal for the erasure predicate, in the
    FAMILY's string-escaping dialect. Quote-doubling alone is only safe
    where backslash is NOT an escape character (ANSI/Derby/postgres
    standard_conforming_strings); ClickHouse, Snowflake, and BigQuery
    all treat backslash as an escape, so an identity containing `\\'`
    would terminate the doubled-quote literal early and execute the
    remainder as SQL (round-9 review finding #1 — on a GDPR DELETE).
    Per family:
    - ansi: `'` -> `''`; backslash is a literal character, left alone.
    - clickhouse/snowflake: `\\` -> `\\\\` first, then `'` -> `''`
      (both engines accept doubled quotes AND backslash escapes).
    - bigquery: `\\` -> `\\\\`, `'` -> `\\'` (standard-SQL strings have
      no doubled-quote escape)."""
    if isinstance(v, bool):
        raise ValueError("boolean is not a user identity")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        raise ValueError("float is not a user identity (precision)")
    s = str(v)
    if "\x00" in s:
        raise ValueError("NUL byte in identity value")
    if any(ord(c) < 0x20 for c in s):
        raise ValueError("control character in identity value")
    if family == "bigquery":
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if family in ("clickhouse", "snowflake"):
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    return "'" + s.replace("'", "''") + "'"


def erasure_statements(
    family: str,
    table: str,
    user_id,
    user_col: str = "user_id",
    lightweight: bool = False,
) -> list[str]:
    """The DELETE statement(s) erasing one user from a warehouse table,
    in the family's dialect. One statement for every family; callers
    execute it and record the affected-row count as the audit row
    (`JdbcWarehouseSink.purge_user` does exactly that against Derby)."""
    fam = family if family in MERGE_DIALECTS else "ansi"
    d = MERGE_DIALECTS[fam]
    q, tq = d["q"], d["table_q"]
    t = _mq(table, tq)
    pred = f"{_mq(user_col, q)} = {_sql_literal(user_id, fam)}"
    if family == "clickhouse" and not lightweight:
        return [f"ALTER TABLE {t} DELETE WHERE {pred}"]
    return [f"DELETE FROM {t} WHERE {pred}"]


CLOUD_WRITERS = {
    "bigquery": bigquery_writer,
    "snowflake": snowflake_writer,
    "clickhouse": clickhouse_writer,
    "s3": s3_writer,
    "gcs": gcs_writer,
}


def cloud_writer_spec(destination_type: str, credentials: dict, table: str) -> WriterSpec:
    """Catalog dispatch for the cloud families (the S5 ids the local
    parquet/JDBC sinks don't cover)."""
    try:
        return CLOUD_WRITERS[destination_type](credentials, table)
    except KeyError:
        raise ValueError(f"unknown cloud destination {destination_type!r}")
