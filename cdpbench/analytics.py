"""The analytics_refresh workload: back-to-back refresh passes over a typed
events table written by `WarehouseSink.replace` and read back with
`WarehouseSink.read`. A pass runs identity backfill, the id graph,
profiles, sessions, the funnel, the rollup and a fixed set of dashboard
SELECTs through the guarded SQL gateway (DASHBOARD_ROUNDS rounds; every
round after the first is a latency sample, as a dashboard is refreshed
warm). Every step's output is consumed inside the pass (cached
when later steps read it, written to Spark's no-op sink or collected when
it is a final result).

Every pass is timed. After the first one ends, its results are checked
step by step against an independent DuckDB computation over the same
parquet files; the check is not timed.
"""

from __future__ import annotations

import os
import sys
import time

from . import gen

N_EVENTS = 50_000
SETUP_REPEATS = 3
DASHBOARD_ROUNDS = 4  # each pass runs the dashboard this often
# the first round compiles the query plans; later rounds give the latencies

DASHBOARD = [
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY n DESC, event_type",
    "SELECT to_date(ts) AS day, count(*) AS n, count(DISTINCT user_id) AS users"
    " FROM events GROUP BY to_date(ts) ORDER BY day",
    "SELECT count(*) AS anonymous_events FROM events WHERE user_id IS NULL",
    "SELECT user_id, count(*) AS n FROM events WHERE user_id IS NOT NULL"
    " GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
    "SELECT type, count(DISTINCT anonymous_id) AS visitors FROM events GROUP BY type ORDER BY type",
    "SELECT to_date(ts) AS day, count(*) AS purchases FROM events"
    " WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-02-23 00:00:00'"
    " GROUP BY to_date(ts) ORDER BY day",
]

class AnalyticsBench:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.raw = os.path.join(work, "input", "events.parquet")
        self.wh = os.path.join(work, "wh")
        self.n_rows = 0
        self.pass_times: list[float] = []
        self.query_times: list[float] = []

    def prepare(self) -> None:
        gen.write_analytics(self.raw, self.seed, N_EVENTS)

    def _sink(self):
        from jitsu_spark.sinks import WarehouseSink

        return WarehouseSink(self.spark, self.wh)

    def setup(self) -> list[float]:
        """Write the warehouse table from the generated input and warm the
        Python workers, SETUP_REPEATS times (each replace restores the
        identical starting state)."""
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self._sink().replace(self.spark.read.parquet(self.raw), "events", timestamp_col="ts")
            self.spark.range(64).mapInPandas(_same, "id long").collect()
            times.append(time.perf_counter() - t)
        return times

    def one_pass(self, index: int) -> dict:
        """Run one refresh pass. Step outputs are cached and counted (the
        final ones too, so the first pass can be checked after it ends);
        release them with `release(out)`."""
        from pyspark.sql import functions as F

        from jitsu_spark.gateway import guarded_query
        from jitsu_spark.operators.events_ops import sessionize_df
        from jitsu_spark.operators.identity import (
            alias_pairs,
            id_graph_components,
            user_recognition_backfill,
        )
        from jitsu_spark.operators.profiles import build_profiles
        from jitsu_spark.operators.reports import funnel_3step_windowed_df
        from jitsu_spark.operators.rollup import finalize_uniq, rollup_batch

        span = self.tracer.span
        out: dict = {"_cached": []}

        def keep(df, name=None):
            df = df.cache()
            n = df.count()
            out["_cached"].append(df)
            if name:
                out[name] = df
            return df, n

        with span("analytics.pass", trace=str(index)):
            with span("sinks.read"):
                ev, self.n_rows = keep(self._sink().read("events"))
            with span("operators.identity.user_recognition_backfill"):
                bf, _ = keep(user_recognition_backfill(ev), "backfill")
            with span("operators.identity.alias_pairs"):
                pairs, _ = keep(alias_pairs(bf))
            with span("operators.identity.id_graph_components"):
                comps = id_graph_components(pairs)  # checkpointed labels
                comps.count()
                out["components"] = comps
            typed = bf.where(F.col("user_id").isNotNull()).select(
                F.col("user_id").cast("long").alias("user_id"), "ts", "event_id", "event_type"
            )
            with span("operators.profiles.build_profiles"):
                keep(build_profiles(typed), "profiles")
            view = bf.select(
                F.coalesce("user_id", "anonymous_id").alias("user_id"), "ts", "event_id", "event_type"
            )
            with span("operators.events_ops.sessionize_df"):
                keep(sessionize_df(view), "sessions")
            with span("operators.reports.funnel_3step_windowed_df"):
                out["funnel"] = funnel_3step_windowed_df(view).collect()
            with span("operators.rollup.rollup_batch"):
                keep(finalize_uniq(rollup_batch(view)), "rollup")
            bf.createOrReplaceTempView("events")
            with span("gateway.guarded_query"):
                for r in range(DASHBOARD_ROUNDS):
                    out["dashboard"] = []  # the last round's answers are checked
                    for sql in DASHBOARD:
                        t = time.perf_counter()
                        out["dashboard"].append(
                            guarded_query(self.spark, sql, allowed_tables={"events"}).collect()
                        )
                        if r:
                            self.query_times.append(time.perf_counter() - t)
        return out

    @staticmethod
    def release(out: dict) -> None:
        for df in out["_cached"]:
            df.unpersist()

    def run(self, seconds: float, deadline: float) -> tuple[int, int]:
        """Passes back to back until `seconds` have passed (at least one);
        the first is checked after it ends. Returns (checks, failures)."""
        t0 = time.perf_counter()
        checks = failed = 0
        while not self.pass_times or time.perf_counter() - t0 < seconds:
            if time.perf_counter() > deadline:
                break
            t = time.perf_counter()
            out = self.one_pass(len(self.pass_times) + 1)
            self.pass_times.append(time.perf_counter() - t)
            if len(self.pass_times) == 1:
                checks, failed = self.check(out)
                t0 += time.perf_counter() - t - self.pass_times[-1]  # checking is not measured
            self.release(out)
        return checks, failed

    # -- correctness ---------------------------------------------------

    def check(self, out: dict) -> tuple[int, int]:
        """(checks, failures): each step's fingerprint against DuckDB."""
        from . import oracle

        results = oracle.compare(self.spark, out, os.path.join(self.wh, "events"))
        failed = [k for k, ok in results.items() if not ok]
        if failed:
            print(f"analytics check mismatches: {failed}", file=sys.stderr)
        return len(results), len(failed)


def _same(batches):
    yield from batches
