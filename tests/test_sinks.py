"""Warehouse sink semantics: MERGE dedup, schema evolution, routing."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture
def sink(spark, tmp_path):
    from jitsu_spark.sinks import WarehouseSink

    return WarehouseSink(spark, str(tmp_path))


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "message_id string, ts timestamp, v string"
    )


def test_upsert_dedups_on_primary_key(spark, sink):
    b1 = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a"),
                     ("m2", _ts("2024-01-01T00:00:00"), "b")])
    sink.upsert(b1, "events")
    # redelivery of m1 (newer value wins) + new m3
    b2 = _df(spark, [("m1", _ts("2024-01-02T00:00:00"), "a2"),
                     ("m3", _ts("2024-01-02T00:00:00"), "c")])
    sink.upsert(b2, "events")
    got = {r.message_id: r.v for r in sink.read("events").collect()}
    assert got == {"m1": "a2", "m2": "b", "m3": "c"}


def test_upsert_is_idempotent(spark, sink):
    b = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")])
    sink.upsert(b, "t")
    sink.upsert(b, "t")  # at-least-once redelivery
    assert sink.read("t").count() == 1


def test_upsert_within_batch_duplicates(spark, sink):
    same_date = [("m1", _ts("2024-01-01T00:00:00"), "old"),
                 ("m1", _ts("2024-01-01T00:01:00"), "new")]
    # the duplicates straddle two dates, into a fresh table: the older
    # row's date must not be written at all
    cross_date = [("m1", _ts("2024-01-01T00:00:00"), "old"),
                  ("m1", _ts("2024-01-03T00:00:00"), "new")]
    for table, rows, date in (
        ("t", same_date, "2024-01-01"),
        ("t2", cross_date, "2024-01-03"),
    ):
        sink.upsert(_df(spark, rows), table)
        got = sink.read(table).collect()
        assert len(got) == 1 and got[0].v == "new"
        assert os.listdir(os.path.join(sink.base_dir, table)) == [f"_p_date={date}"]


def test_untouched_partitions_survive(spark, sink):
    jan = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "jan")])
    sink.upsert(jan, "t")
    # a batch far in the future must not clobber january's partition
    jun = _df(spark, [("m2", _ts("2024-06-01T00:00:00"), "jun")])
    sink.upsert(jun, "t")
    got = {r.message_id: r.v for r in sink.read("t").collect()}
    assert got == {"m1": "jan", "m2": "jun"}


def test_schema_evolution_adds_columns(spark, sink):
    sink.upsert(_df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")]), "t")
    wider = spark.createDataFrame(
        [("m2", _ts("2024-01-01T01:00:00"), "b", 7)],
        "message_id string, ts timestamp, v string, extra int",
    )
    sink.upsert(wider, "t")
    out = sink.read("t")
    assert "extra" in out.columns
    got = {r.message_id: r.extra for r in out.collect()}
    assert got == {"m1": None, "m2": 7}


def test_schema_freeze_drops_new_columns(spark, tmp_path):
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path), schema_freeze=True)
    sink.upsert(_df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")]), "t")
    wider = spark.createDataFrame(
        [("m2", _ts("2024-01-01T01:00:00"), "b", 7)],
        "message_id string, ts timestamp, v string, extra int",
    )
    sink.upsert(wider, "t")
    assert "extra" not in sink.read("t").columns


def test_routed_write_splits_tables(spark, sink):
    df = spark.createDataFrame(
        [
            ("m1", _ts("2024-01-01T00:00:00"), "tracks"),
            ("m1", _ts("2024-01-01T00:00:00"), "order_completed"),
            ("m2", _ts("2024-01-01T00:00:00"), "tracks"),
        ],
        "message_id string, ts timestamp, _table string",
    )
    tables = sink.write_routed(df)
    assert sorted(tables) == ["order_completed", "tracks"]
    assert sink.read("tracks").count() == 2
    assert sink.read("order_completed").count() == 1
    assert "_table" not in sink.read("tracks").columns


def test_retry_backoff_and_dlq(spark, tmp_path):
    from jitsu_spark.streaming.retries import RetryStore

    store = RetryStore(spark, str(tmp_path))
    failed = spark.createDataFrame(
        [("m1", 0, "boom"), ("m2", 2, "slow"), ("m3", 3, "dead")],
        "message_id string, attempt int, err string",
    )
    store.record_failures(failed, "err", "2024-01-01 00:00:00")

    # before the 10-minute backoff nothing is due
    assert store.due("2024-01-01 00:05:00").count() == 0
    due = store.due("2024-01-01 00:10:00")
    assert [r.message_id for r in due.collect()] == ["m1"]
    # attempt 2 is the 3rd retry (1000-min tier, retries.ts:6 allows 3):
    # still requeued, NOT dead-lettered
    due_late = store.due("2024-01-02 00:00:00")
    assert sorted(r.message_id for r in due_late.collect()) == ["m1", "m2"]
    # attempt 3 exhausted MESSAGES_RETRY_COUNT=3 -> dead letter
    dead = store.dead_letter("2024-01-02 00:00:00")
    assert [r.message_id for r in dead.collect()] == ["m3"]
    assert spark.read.parquet(store.dlq_dir).count() == 1


def test_backoff_series(spark):
    from jitsu_spark.streaming.retries import backoff_minutes

    df = spark.range(4).select(
        backoff_minutes(F.col("id").cast("int")).alias("m")
    )
    assert [r.m for r in df.collect()] == [10, 100, 1000, 1440]


def test_upsert_cross_partition_conflict_drops_stale_partition(spark, sink):
    """Round-4 twin finding: when a key's newer row lands in a DIFFERENT
    date partition, dynamic overwrite never rewrites the loser's
    partition — the stale duplicate survived on disk. The warehouse
    MERGE twin updates in place; the parquet path must drop the emptied
    partition to match."""
    sink.upsert(_df(spark, [("m1", _ts("2024-03-01T00:00:00"), "v1")]), "xp")
    sink.upsert(
        _df(spark, [("m1", _ts("2024-03-02T00:00:00"), "v2"),
                    ("m2", _ts("2024-03-01T12:00:00"), "other")]),
        "xp",
    )
    rows = {(r.message_id, r.v) for r in sink.read("xp").collect()}
    # m1 appears ONCE (newer wins, old partition's copy gone); m2 keeps
    # the 03-01 partition alive so it is rewritten, not deleted
    assert rows == {("m1", "v2"), ("m2", "other")}


def test_upsert_cross_partition_conflict_removes_emptied_dir(spark, sink):
    import os

    sink.upsert(_df(spark, [("mA", _ts("2024-04-01T00:00:00"), "a")]), "xp2")
    sink.upsert(_df(spark, [("mA", _ts("2024-04-05T00:00:00"), "a2")]), "xp2")
    rows = {(r.message_id, r.v) for r in sink.read("xp2").collect()}
    assert rows == {("mA", "a2")}
    # the emptied 04-01 partition directory is physically gone
    assert not os.path.isdir(
        os.path.join(sink.base_dir, "xp2", "_p_date=2024-04-01")
    )


def test_retry_ack_and_dlq_idempotence(spark, tmp_path):
    """Round-9 spine review finding #4: a successfully replayed message
    must stop being 'due' (record_success tombstone), and repeated
    dead_letter() runs must not re-append the same rows to the DLQ."""
    from jitsu_spark.streaming.retries import RetryStore

    store = RetryStore(spark, str(tmp_path))
    failed = spark.createDataFrame(
        [("m1", 0, "boom"), ("m3", 3, "dead")],
        "message_id string, attempt int, err string",
    )
    store.record_failures(failed, "err", "2024-01-01 00:00:00")
    late = "2024-01-02 00:00:00"
    assert [r.message_id for r in store.due(late).collect()] == ["m1"]
    # replay succeeded: ack -> never due again, and never dead-lettered
    store.record_success(
        spark.createDataFrame([("m1",)], "message_id string"), late
    )
    assert store.due(late).count() == 0
    assert store.due("2030-01-01 00:00:00").count() == 0
    # dead-letter m3 once; the second run is a no-op
    d1 = store.dead_letter(late)
    assert [r.message_id for r in d1.collect()] == ["m3"]
    d2 = store.dead_letter(late)
    assert d2.count() == 0
    assert spark.read.parquet(store.dlq_dir).count() == 1
    # a NEW failure recorded after the ack RE-OPENS the message —
    # recency keys on recorded time, not attempt value
    store.record_failures(
        spark.createDataFrame(
            [("m1", 0, "boom-again")], "message_id string, attempt int, err string"
        ),
        "err",
        "2024-01-03 00:00:00",
    )
    assert [
        r.message_id for r in store.due("2024-01-04 00:00:00").collect()
    ] == ["m1"]


def test_upsert_forward_window_dedup(spark, tmp_path):
    """Round-9 spine review finding #2: an out-of-order redelivery dated
    BEFORE an existing same-key row must still merge against it —
    newest-wins keeps the existing row and the stale batch row is not
    written as a duplicate."""
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    newer = spark.createDataFrame(
        [("mX", _ts("2024-03-10T00:00:00"), "new")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(newer, "ev")
    older = spark.createDataFrame(
        [("mX", _ts("2024-03-01T00:00:00"), "stale")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(older, "ev")
    rows = sink.read("ev").collect()
    assert len(rows) == 1
    assert rows[0].payload == "new"


def test_upsert_null_timestamp_rows(spark, tmp_path):
    """Round-9 finding #6: a null event timestamp must not crash the
    second upsert (min/max over None) — it lands in the Hive default
    partition and dedups against other null-ts rows."""
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [("m1", _ts("2024-03-01T00:00:00"), "a")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(b1, "ev")
    b2 = spark.createDataFrame(
        [("m2", None, "null-ts"), ("m3", _ts("2024-03-02T00:00:00"), "b")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(b2, "ev")  # previously TypeError on min(None, date)
    got = {r.message_id: r.payload for r in sink.read("ev").collect()}
    assert got == {"m1": "a", "m2": "null-ts", "m3": "b"}


def test_write_routed_null_table_quarantined(spark, tmp_path):
    """Round-9 finding #7: a null routing value neither vanishes nor
    crashes — the row lands in the _unroutable quarantine table."""
    from jitsu_spark.sinks import UNROUTABLE_TABLE, WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    df = spark.createDataFrame(
        [
            ("m1", _ts("2024-03-01T00:00:00"), "tracks"),
            ("m2", _ts("2024-03-01T00:00:00"), None),
        ],
        "message_id string, ts timestamp, _table string",
    )
    tables = sink.write_routed(df)
    assert sorted(tables) == sorted(["tracks", UNROUTABLE_TABLE])
    assert sink.read("tracks").count() == 1
    q = sink.read(UNROUTABLE_TABLE).collect()
    assert [r.message_id for r in q] == ["m2"]


def test_compact_honors_target_file_count(spark, tmp_path):
    """Round-9 finding #10: compact(target=N) must actually produce up
    to N files per date partition (hash-by-date alone always made 1)."""
    import glob
    import os

    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    rows = [
        (f"m{i}", _ts("2024-03-01T00:00:00"), f"p{i}") for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "message_id string, ts timestamp, payload string"
    ).repartition(16)
    sink.append(df, "ev")
    part_dir = os.path.join(str(tmp_path), "ev", "_p_date=2024-03-01")
    assert len(glob.glob(part_dir + "/*.parquet")) > 4
    sink.compact("ev", target_files_per_partition=4)
    n = len(glob.glob(part_dir + "/*.parquet"))
    assert 1 < n <= 4, n
    assert sink.read("ev").count() == 400


def test_replace_leaves_no_scratch_or_trash(spark, sink):
    """Upsert, compact and erasure all swap partitions through a scratch
    directory inside the table. None may leave it, or any trash, behind:
    the table directory holds only partitions, and its parent only
    tables — every directory under a sink's base counts as a table."""
    from jitsu_spark.operators.retention import purge_user_from_table

    def assert_clean():
        assert os.listdir(sink.base_dir) == ["t"] and sink.exists("t")
        names = os.listdir(os.path.join(sink.base_dir, "t"))
        assert names and all(n.startswith("_p_date=") for n in names), names

    df = spark.createDataFrame(
        [("m1", _ts("2024-01-01T00:00:00"), 1),
         ("m2", _ts("2024-01-02T00:00:00"), 2),
         ("m3", None, 1),
         ("m4", _ts("2024-01-01T00:00:00"), None)],  # anonymous
        "message_id string, ts timestamp, user_id long",
    )
    sink.upsert(df, "t")
    assert_clean()
    sink.upsert(df.where("user_id = 1"), "t")  # merges the null partition
    assert_clean()
    sink.compact("t")
    assert_clean()
    # the anonymous row shares user 1's partition and must survive it
    audit = purge_user_from_table(sink, "t", 1)
    assert audit == {"table": "t", "rows_deleted": 2,
                     "partitions_rewritten": 1, "partitions_dropped": 1}
    assert_clean()
    assert sorted(r.message_id for r in sink.read("t").collect()) == ["m2", "m4"]
