"""Independent DuckDB computation of each analytics step over the parquet
files the sink wrote, compared with the Spark results by fingerprint: a
few exact aggregates per result (HLL estimates within a tolerance), the
full label set for the id graph, and every dashboard row."""

from __future__ import annotations

import datetime as dt
import math

SESSION_GAP_S = 30 * 60
FUNNEL_STEP_H = 72

BACKFILL_SQL = """
CREATE TEMP VIEW ev AS
  SELECT * EXCLUDE (_p_date) FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true);
CREATE TEMP VIEW ident AS
  SELECT anonymous_id,
         arg_max(user_id, epoch_us(ts)::HUGEINT * 100000000 + event_id) AS resolved_user_id,
         arg_max(traits, CASE WHEN traits IS NOT NULL THEN epoch_us(ts) END) AS resolved_traits
  FROM ev WHERE user_id IS NOT NULL AND anonymous_id IS NOT NULL
  GROUP BY anonymous_id;
CREATE TEMP VIEW bf AS
  SELECT ev.* EXCLUDE (user_id, traits),
         coalesce(ev.user_id, ident.resolved_user_id) AS user_id,
         CASE WHEN ev.traits IS NOT NULL AND ident.resolved_traits IS NOT NULL
              THEN map_concat(ident.resolved_traits, ev.traits)
              ELSE coalesce(ev.traits, ident.resolved_traits) END AS traits,
         ev.user_id IS NULL AND ident.resolved_user_id IS NOT NULL AS _backfilled
  FROM ev LEFT JOIN ident USING (anonymous_id);
"""

BACKFILL_FP_DUCK = """
SELECT count(*), count(user_id), sum(_backfilled::INT),
       sum((CAST(user_id AS BIGINT) % 1000003) * (event_id % 1009)),
       count(traits), sum(cardinality(traits))
FROM bf
"""
BACKFILL_FP_SPARK = """
SELECT count(*), count(user_id), sum(CAST(_backfilled AS INT)),
       sum((CAST(user_id AS BIGINT) % 1000003) * (event_id % 1009)),
       count(traits), sum(CASE WHEN traits IS NOT NULL THEN size(traits) END)
FROM bf_spark
"""

PAIRS_DUCK = """
SELECT DISTINCT user_id AS a, anonymous_id AS b FROM bf
  WHERE user_id IS NOT NULL AND anonymous_id IS NOT NULL
UNION
SELECT DISTINCT previous_id, user_id FROM bf
  WHERE type = 'alias' AND previous_id IS NOT NULL
"""

PROFILES_DUCK = """
WITH t AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
  FROM bf WHERE user_id IS NOT NULL
), runs AS (
  SELECT user_id, count(*) AS len FROM t GROUP BY user_id, event_type, island
), p AS (
  SELECT user_id, count(*) AS n_events, count(DISTINCT event_type) AS n_event_types,
         arg_max(event_type, epoch_us(ts)::HUGEINT * 100000000 + event_id) AS last_event_type,
         max(ts) AS updated_at
  FROM t GROUP BY user_id
)
SELECT count(*), sum(n_events), sum(n_event_types), sum(longest),
       sum((user_id % 1009) * n_events),
       sum((user_id % 997) * length(last_event_type)),
       sum(epoch_us(updated_at) % 1000000007)
FROM p JOIN (SELECT user_id, max(len) AS longest FROM runs GROUP BY user_id) USING (user_id)
"""
PROFILES_SPARK = """
SELECT count(*), sum(n_events), sum(n_event_types), sum(longest_run),
       sum((user_id % 1009) * n_events),
       sum((user_id % 997) * length(last_event_type)),
       sum(unix_micros(updated_at) % 1000000007)
FROM profiles_spark
"""

VIEW_DUCK = """
CREATE TEMP VIEW v AS
  SELECT coalesce(user_id, anonymous_id) AS user_id, ts, event_id, event_type FROM bf
"""

SESSIONS_DUCK = f"""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session, event_id
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid, ts
  FROM g
), per AS (
  SELECT user_id, sid, count(*) AS n, min(ts) AS s0, max(ts) AS s1 FROM s GROUP BY user_id, sid
), u AS (
  SELECT user_id, count(*) AS n_sessions, sum(n) AS n_events,
         round(avg(epoch(s1) - epoch(s0)), 2) AS avg_sec
  FROM per GROUP BY user_id
)
SELECT count(*), sum(n_sessions), sum(n_events), sum(avg_sec) FROM u
"""
SESSIONS_SPARK = """
SELECT count(*), sum(n_sessions), sum(n_events), sum(avg_session_sec) FROM sessions_spark
"""

FUNNEL_DUCK = f"""
WITH s1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'signup' THEN ts END) OVER (PARTITION BY user_id) AS s
  FROM v
), s2 AS (
  SELECT user_id, event_type, ts, s,
         min(CASE WHEN event_type = 'click' AND ts > s
                  AND ts <= s + INTERVAL {FUNNEL_STEP_H} HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS c
  FROM s1
), s3 AS (
  SELECT user_id, s, c,
         min(CASE WHEN event_type = 'purchase' AND ts > c
                  AND ts <= c + INTERVAL {FUNNEL_STEP_H} HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS p
  FROM s2
), u AS (SELECT user_id, max(s) AS s, max(c) AS c, max(p) AS p FROM s3 GROUP BY user_id)
SELECT count(*), count(s), count(c), count(p) FROM u
"""

ROLLUP_DUCK = """
SELECT count(*), sum(n), sum(d) FROM (
  SELECT date_trunc('minute', ts) AS period, event_type, count(*) AS n,
         count(DISTINCT event_id) AS d
  FROM v GROUP BY 1, 2)
"""
ROLLUP_SPARK = "SELECT count(*), sum(events), sum(uniq_events) FROM rollup_spark"

# analytics.DASHBOARD in DuckDB's dialect, over the view `bf`
DASHBOARD = [
    "SELECT event_type, count(*) AS n FROM bf GROUP BY event_type ORDER BY n DESC, event_type",
    "SELECT CAST(ts AS DATE) AS day, count(*) AS n, count(DISTINCT user_id) AS users"
    " FROM bf GROUP BY 1 ORDER BY day",
    "SELECT count(*) FROM bf WHERE user_id IS NULL",
    "SELECT user_id, count(*) AS n FROM bf WHERE user_id IS NOT NULL"
    " GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
    "SELECT type, count(DISTINCT anonymous_id) FROM bf GROUP BY type ORDER BY type",
    "SELECT CAST(ts AS DATE) AS day, count(*) FROM bf"
    " WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-02-23 00:00:00'"
    " GROUP BY 1 ORDER BY day",
]


def _components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find: id -> smallest id of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return round(v, 6)
    return v


def _rows(rows) -> list[tuple]:
    return [tuple(_norm(x) for x in r) for r in rows]


def compare(spark, out: dict, events_path: str) -> dict[str, bool]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for stmt in BACKFILL_SQL.format(path=events_path).split(";"):
            if stmt.strip():
                con.execute(stmt)
        con.execute(VIEW_DUCK)
        res: dict[str, bool] = {}

        out["backfill"].createOrReplaceTempView("bf_spark")
        duck = _rows(con.execute(BACKFILL_FP_DUCK).fetchall())
        res["user_recognition_backfill"] = duck == _rows(spark.sql(BACKFILL_FP_SPARK).collect())

        want = _components(con.execute(PAIRS_DUCK).fetchall())
        got = {r[0]: r[1] for r in out["components"].collect()}
        res["id_graph_components"] = got == want

        out["profiles"].createOrReplaceTempView("profiles_spark")
        res["build_profiles"] = _rows(con.execute(PROFILES_DUCK).fetchall()) == _rows(
            spark.sql(PROFILES_SPARK).collect()
        )

        out["sessions"].createOrReplaceTempView("sessions_spark")
        d = con.execute(SESSIONS_DUCK).fetchone()
        s = spark.sql(SESSIONS_SPARK).collect()[0]
        # per-user averages are rounded to cents on both sides; allow one
        # rounding step per user between the two engines
        res["sessionize_df"] = tuple(d[:3]) == tuple(s[:3]) and math.isclose(
            float(d[3]), float(s[3]), abs_tol=0.01 * d[0]
        )

        f = out["funnel"][0]
        res["funnel_3step_windowed_df"] = tuple(con.execute(FUNNEL_DUCK).fetchone()) == (
            f["n_users"], f["n_signup"], f["n_click_after_signup"], f["n_purchase_after_click"]
        )

        out["rollup"].createOrReplaceTempView("rollup_spark")
        d = con.execute(ROLLUP_DUCK).fetchone()
        s = spark.sql(ROLLUP_SPARK).collect()[0]
        # HLL estimates: the summed estimate within 2% of the exact count
        res["rollup_batch"] = (d[0], d[1]) == (s[0], s[1]) and abs(s[2] - d[2]) <= 0.02 * d[2]

        for i, (sql, answer) in enumerate(zip(DASHBOARD, out["dashboard"])):
            res[f"guarded_query[{i}]"] = _rows(con.execute(sql).fetchall()) == _rows(answer)
        return res
    finally:
        con.close()

