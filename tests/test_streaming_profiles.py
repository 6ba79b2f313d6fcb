"""Round-9 live profile tick twin (`streaming/profiles_tick.py`):
raw-store file stream -> foreachBatch incremental tick, pinned equal to
the batch `build_profiles` over full history for any micro-batch split,
including a memory-bomb ProfileFunction contained mid-stream."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jitsu_spark.operators.profiles import (
    append_profiles_raw,
    build_profiles,
    default_profile_fn,
)
from jitsu_spark.streaming.profiles_tick import (
    LiveProfileTicker,
    read_profiles_store,
)

# r13: long end-to-end file — excluded from the default pytest profile
# (pytest.ini addopts -m "not slow"); run with -m slow / -m "slow or not slow".
pytestmark = pytest.mark.slow


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (uid, dt.datetime.fromisoformat(ts), eid, et)
            for uid, ts, eid, et in rows
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )


WAVES = [
    [
        (1, "2024-01-01T10:00:00", 0, "page"),
        (1, "2024-01-01T10:01:00", 1, "page"),
        (2, "2024-01-01T10:02:00", 2, "signup"),
    ],
    [
        (1, "2024-01-02T09:00:00", 3, "purchase"),
        (3, "2024-01-02T09:01:00", 4, "page"),
    ],
    [
        (3, "2024-01-03T08:00:00", 5, "purchase"),
        (3, "2024-01-03T08:01:00", 6, "purchase"),
    ],
]


def _store_by_user(spark, prof_dir):
    pdf = (
        read_profiles_store(spark, prof_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    return pdf


def _batch_by_user(spark, rows):
    return (
        build_profiles(_events(spark, rows))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )


PROFILE_COLS = [
    "n_events",
    "n_event_types",
    "last_event_type",
    "longest_run",
    "updated_at",
]


class TestLiveProfileTick:
    def test_stream_equals_batch_across_waves(self, spark, tmp_path):
        """Each wave appends to the raw store and a checkpoint-resumed
        stream tick folds it in; after every wave the store equals the
        batch build over full history — incremental recompute sees full
        history, so the split into waves is invisible."""
        raw = str(tmp_path / "raw")
        prof = str(tmp_path / "prof")
        ckpt = str(tmp_path / "ckpt")
        ticker = LiveProfileTicker(spark, raw, prof)
        seen = []
        for wave in WAVES:
            append_profiles_raw(_events(spark, wave), raw)
            q = ticker.stream(ckpt)
            q.awaitTermination()
            seen += wave
            got = _store_by_user(spark, prof)[PROFILE_COLS]
            want = _batch_by_user(spark, seen)[PROFILE_COLS]
            pd.testing.assert_frame_equal(got, want)
        assert ticker.ticks >= len(WAVES)
        # user 1's profile spans waves 1+2: recompute-from-history, not
        # delta folding
        assert got.loc[1, "n_events"] == 3
        assert got.loc[1, "last_event_type"] == "purchase"

    def test_micro_batch_split_invariance(self, spark, tmp_path):
        """All waves on disk up front: one-file-per-trigger ticks and a
        single big tick land the identical store."""
        stores = []
        for i, mft in enumerate((1, 1000)):
            raw = str(tmp_path / f"raw{i}")
            prof = str(tmp_path / f"prof{i}")
            ckpt = str(tmp_path / f"ckpt{i}")
            for wave in WAVES:
                append_profiles_raw(_events(spark, wave), raw)
            ticker = LiveProfileTicker(spark, raw, prof)
            q = ticker.stream(ckpt, max_files_per_trigger=mft)
            q.awaitTermination()
            stores.append(_store_by_user(spark, prof)[PROFILE_COLS])
        pd.testing.assert_frame_equal(stores[0], stores[1])

    def test_untouched_partitions_not_rewritten(self, spark, tmp_path):
        """A tick touching only user 3's hash partition leaves other
        partitions' files byte-identical (mtime check — the same pin as
        the retention suite)."""
        import os

        raw = str(tmp_path / "raw")
        prof = str(tmp_path / "prof")
        ckpt = str(tmp_path / "ckpt")
        ticker = LiveProfileTicker(spark, raw, prof)
        append_profiles_raw(_events(spark, WAVES[0]), raw)
        q = ticker.stream(ckpt)
        q.awaitTermination()
        # hash partitions of users 1/2 vs 3 must differ for the pin
        parts = {
            r["user_id"]: r["p"]
            for r in spark.createDataFrame(
                [(1,), (2,), (3,)], "user_id long"
            )
            .select(
                "user_id",
                F.pmod(F.hash("user_id"), F.lit(240)).alias("p"),
            )
            .collect()
        }
        if parts[3] in (parts[1], parts[2]):
            pytest.skip("hash collision voids the untouched-partition pin")
        before = {}
        for d in os.listdir(prof):
            if d.startswith("_partition_id="):
                p = os.path.join(prof, d)
                before[d] = {
                    f: os.path.getmtime(os.path.join(p, f))
                    for f in os.listdir(p)
                }
        append_profiles_raw(_events(spark, WAVES[2]), raw)  # only user 3
        q = ticker.stream(ckpt)
        q.awaitTermination()
        for d, files in before.items():
            if d == f"_partition_id={parts[3]}":
                continue
            p = os.path.join(prof, d)
            now = {
                f: os.path.getmtime(os.path.join(p, f))
                for f in os.listdir(p)
            }
            assert now == files, f"untouched partition {d} was rewritten"


class TestBombMidStream:
    def test_memory_bomb_contained_mid_stream(self, spark, tmp_path):
        from jitsu_spark.plans.isolate import supports_isolation

        if not supports_isolation():
            pytest.skip("fork/RLIMIT isolation is Linux-only")

        def bomb_user_3(pdf: pd.DataFrame) -> pd.DataFrame:
            if int(pdf["user_id"].iloc[0]) == 3:
                import numpy as np

                # ONE allocation at 2x the RLIMIT, not a loop of small
                # chunks: under host memory pressure the incremental
                # hoard allocated slowly enough that the 5 s SIGALRM
                # fired before the RLIMIT did, and the test flaked on
                # WHICH containment path won (both are containment, but
                # this test pins the memory one). A single over-limit
                # malloc fails instantly regardless of host load.
                np.ones((2 * 64 << 17,), dtype=np.float64)
            return default_profile_fn(pdf)

        raw = str(tmp_path / "raw")
        prof = str(tmp_path / "prof")
        ckpt = str(tmp_path / "ckpt")
        ticker = LiveProfileTicker(
            spark,
            raw,
            prof,
            profile_fn=bomb_user_3,
            untrusted=True,
            memory_mb=64,
        )
        for wave in WAVES:
            append_profiles_raw(_events(spark, wave), raw)
        q = ticker.stream(ckpt, max_files_per_trigger=1000)
        q.awaitTermination()
        got = _store_by_user(spark, prof)
        # bombed user: contained as an _error row; the tick completed
        assert got.loc[3, "_error"] is not None and "Memory" in str(
            got.loc[3, "_error"]
        )
        assert pd.isna(got.loc[3, "n_events"])
        # everyone else: real profiles from the same tick
        assert got.loc[1, "n_events"] == 3
        assert got.loc[2, "n_events"] == 1
        assert pd.isna(got.loc[1, "_error"]) and pd.isna(
            got.loc[2, "_error"]
        )
