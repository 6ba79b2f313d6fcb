"""Seeded input generator for the CDP benchmark.

Everything the program under test receives is produced here from one
integer seed, and the same seed always yields byte-identical files:

- ingest: Segment `track`/`page`/`identify`/`alias` events with Zipf user
  activity, wrapped as `IngestMessage` JSON lines (the Kafka payload
  format). A history file covers HISTORY_DAYS days before ANCHOR so the
  31-day dedup window of the warehouse is full; the stream files that
  follow carry ~2% redeliveries (same messageId, newer timestamp), ~5%
  late events (1-3 days old) and a few corrupt lines.
- analytics: a typed events table (parquet) with heavy-tailed anonymous
  ids, some of which later identify, plus alias events.

Alongside the files the generator computes, without touching the program,
the manifest the correctness checks compare against: the newest
timestamp of every delivered messageId and the tables each one must land
in under both connection layouts.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

ANCHOR_US = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000
HISTORY_DAYS = 35  # > the sink's 31-day dedup window

TRACK_NAMES = ["product_viewed", "order_completed"]
TYPE_WEIGHTS = [("track", 0.60), ("page", 0.27), ("identify", 0.09), ("alias", 0.04)]
REDELIVERY_RATE = 0.02
REDELIVERY_HORIZON_US = 3 * 86_400 * 1_000_000
LATE_RATE = 0.05
MALFORMED_PER_FILE = 1  # corrupt JSON lines per stream file
PAGES = ["/", "/pricing", "/docs", "/blog", "/signup", "/cart", "/checkout"]
CONNECTION_ID = "bench-stream"

# the two destination connections every ingest batch fans out to
CONN_SINGLE = "wh_single"  # trusted UDF chain + segment-single-table
CONN_MULTI = "wh_multi"  # segment multi-table layout


def iso_ms(ts_us: int) -> str:
    """Microsecond epoch -> ISO-8601 UTC with millisecond precision."""
    d = datetime.fromtimestamp(ts_us // 1000 / 1000, tz=timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_us // 1000 % 1000:03d}Z"


@dataclass
class IngestInputs:
    history: list[str]  # IngestMessage lines seeding the warehouse
    files: list[list[str]]  # stream files, in release order
    # per stream file: messageIds (with their timestamps) it delivers
    file_events: list[list[tuple[str, int, str, str | None]]] = field(
        default_factory=list
    )
    history_events: list[tuple[str, int, str, str | None]] = field(
        default_factory=list
    )
    malformed_per_file: list[int] = field(default_factory=list)


def _zipf_cum_weights(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += k ** -s
        out.append(acc)
    return out


class _EventMaker:
    def __init__(self, rng: random.Random, seed: int, n_users: int):
        self.rng = rng
        self.seed = seed
        self.cum = _zipf_cum_weights(n_users)
        self.users = list(range(n_users))
        self.serial = 0
        types, weights = zip(*TYPE_WEIGHTS)
        self.types = list(types)
        self.type_cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.type_cum.append(acc)

    def make(self, ts_us: int) -> dict:
        rng = self.rng
        u = rng.choices(self.users, cum_weights=self.cum)[0]
        etype = rng.choices(self.types, cum_weights=self.type_cum)[0]
        self.serial += 1
        mid = f"{self.seed:x}-{self.serial:08d}"
        anon = f"anon-{self.seed:x}-{u:05d}"
        ev: dict = {
            "messageId": mid,
            "type": etype,
            "anonymousId": anon,
            "timestamp": iso_ms(ts_us),
            "context": {
                "ip": f"10.{u % 250}.{u // 250 % 250}.{rng.randrange(1, 250)}",
                "userAgent": "Mozilla/5.0 (X11; Linux x86_64) bench/1.0",
                "library": {"name": "analytics.js", "version": "2.11.1"},
                "page": {"path": rng.choice(PAGES), "referrer": ""},
            },
        }
        identified = u % 3 == 0
        if identified or etype in ("identify", "alias"):
            ev["userId"] = f"user-{u}"
        if etype == "track":
            ev["event"] = rng.choice(TRACK_NAMES)
            ev["properties"] = {
                "productId": f"sku-{rng.randrange(500)}",
                "price": round(rng.uniform(1, 400), 2),
                "quantity": rng.randrange(1, 5),
                "rev": 0,
            }
        elif etype == "page":
            ev["properties"] = {
                "path": ev["context"]["page"]["path"],
                "title": "Bench page",
                "rev": 0,
            }
        elif etype == "identify":
            ev["traits"] = {
                "email": f"user{u}@example.com",
                "planName": rng.choice(["free", "pro", "team"]),
                "createdAt": iso_ms(ANCHOR_US - 90 * DAY_US),
            }
            ev["properties"] = {"rev": 0}
        else:  # alias
            ev["previousId"] = anon
            ev["properties"] = {"rev": 0}
        return ev


def _envelope(ev: dict) -> str:
    return json.dumps(
        {
            "messageId": ev["messageId"],
            "connectionId": CONNECTION_ID,
            "writeKey": "bench-write-key",
            "ingestType": "browser",
            "messageCreated": ev["timestamp"],
            "httpPayload": json.dumps(ev, separators=(",", ":")),
        },
        separators=(",", ":"),
    )


def _corrupt_line(rng: random.Random, ev: dict) -> str:
    """A Kafka message that is not JSON: a truncated envelope."""
    line = _envelope(ev)
    return line[: rng.randrange(10, len(line) // 2)]


def ingest_inputs(
    seed: int,
    history_per_day: int,
    n_files: int,
    events_per_file: int,
    n_users: int = 4000,
    stream_span_us: int = DAY_US // 4,
) -> IngestInputs:
    """History over HISTORY_DAYS days ending at ANCHOR, then `n_files`
    stream files of `events_per_file` events each spread over
    `stream_span_us` after ANCHOR."""
    rng = random.Random(seed)
    mk = _EventMaker(rng, seed, n_users)
    newest: dict[str, dict] = {}  # messageId -> newest event version
    mids: list[str] = []  # every messageId emitted so far (redelivery pool)

    def record(ev: dict, ts_us: int, sink: list) -> None:
        newest[ev["messageId"]] = ev
        sink.append((ev["messageId"], ts_us, ev["type"], ev.get("event")))

    history: list[str] = []
    history_events: list[tuple[str, int, str, str | None]] = []
    start = ANCHOR_US - HISTORY_DAYS * DAY_US
    for day in range(HISTORY_DAYS):
        stamps = sorted(
            (start + day * DAY_US + rng.randrange(DAY_US)) // 1000 * 1000
            for _ in range(history_per_day)
        )
        for ts in stamps:
            ev = mk.make(ts)
            record(ev, ts, history_events)
            mids.append(ev["messageId"])
            history.append(_envelope(ev))

    files: list[list[str]] = []
    file_events: list[list[tuple[str, int, str, str | None]]] = []
    malformed: list[int] = []
    ts_of: dict[str, int] = {m: t for m, t, _, _ in history_events}
    recent_from = next(
        (i for i, (_, t, _, _) in enumerate(history_events) if t >= ANCHOR_US - REDELIVERY_HORIZON_US),
        len(history_events),
    )
    step = stream_span_us // max(n_files * events_per_file, 1)
    clock = ANCHOR_US
    for _ in range(n_files):
        lines: list[str] = []
        evs: list[tuple[str, int, str, str | None]] = []
        for _ in range(events_per_file):
            clock += step
            r = rng.random()
            if r < REDELIVERY_RATE and recent_from < len(mids):
                # same messageId, newer timestamp, bumped revision; the
                # original is at most REDELIVERY_HORIZON old, well inside
                # the sink's 31-day dedup window
                mid = mids[rng.randrange(recent_from, len(mids))]
                ev = json.loads(json.dumps(newest[mid]))
                ts = max(ts_of[mid], clock) + rng.randrange(1, 3_600_000) * 1000
                ev["timestamp"] = iso_ms(ts)
                ev["properties"]["rev"] += 1
            else:
                ts = clock
                if r < REDELIVERY_RATE + LATE_RATE:
                    ts -= rng.randrange(DAY_US, 3 * DAY_US)
                ev = mk.make(ts)
                mids.append(ev["messageId"])
            ts = ts // 1000 * 1000  # the payload carries milliseconds
            ts_of[ev["messageId"]] = ts
            record(ev, ts, evs)
            lines.append(_envelope(ev))
        for _ in range(MALFORMED_PER_FILE):
            pos = rng.randrange(len(lines) + 1)
            lines.insert(pos, _corrupt_line(rng, mk.make(clock)))
            mk.serial -= 1  # the corrupt message never delivers an id
        files.append(lines)
        file_events.append(evs)
        malformed.append(MALFORMED_PER_FILE)
    return IngestInputs(history, files, file_events, history_events, malformed)


def expected_tables(
    delivered: list[tuple[str, int, str, str | None]],
) -> dict[str, dict[str, dict[str, int]]]:
    """connection -> table -> {messageId: newest ts_us}, derived from the
    Segment layout rules, independently of the program:
    single-table puts every event in `events`; the multi-table layout
    puts a named track in `tracks` and its event-name table, and every
    other type in its plural table."""
    latest: dict[str, tuple[int, str, str | None]] = {}
    for mid, ts, etype, name in delivered:
        cur = latest.get(mid)
        if cur is None or ts > cur[0]:
            latest[mid] = (ts, etype, name)
    single: dict[str, int] = {}
    multi: dict[str, dict[str, int]] = {}
    # `alias` has no plural form in the layout's naming table
    plural = {"track": "tracks", "page": "pages", "identify": "identifies"}
    for mid, (ts, etype, name) in latest.items():
        single[mid] = ts
        multi.setdefault(plural.get(etype, etype), {})[mid] = ts
        if etype == "track" and name:
            multi.setdefault(name, {})[mid] = ts
    return {CONN_SINGLE: {"events": single}, CONN_MULTI: multi}


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


# ---------------------------------------------------------------------------
# analytics: typed events table
# ---------------------------------------------------------------------------

ANALYTICS_EVENT_TYPES = ["page", "view", "click", "signup", "purchase"]
ANALYTICS_TYPE_P = [0.40, 0.30, 0.20, 0.06, 0.04]


def analytics_table(seed: int, n_events: int, n_anon: int = 1_000_000):
    """A pyarrow Table of typed events: heavy-tailed anonymous ids (Zipf
    over `n_anon` ids), ~20% of which identify as a numeric user id (two
    anonymous ids may share a user, so identity components are larger
    than pairs), identify events carrying a traits map, and alias events
    linking a legacy id to the user. Rows are sorted by timestamp."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ranks = np.arange(1, n_anon + 1, dtype=np.float64)
    p = ranks ** -1.05
    p /= p.sum()
    anon = rng.choice(n_anon, size=n_events, p=p)
    span_us = HISTORY_DAYS * DAY_US
    ts = ANCHOR_US - span_us + rng.integers(0, span_us, size=n_events)
    etype_idx = rng.choice(len(ANALYTICS_EVENT_TYPES), size=n_events, p=ANALYTICS_TYPE_P)

    # identification: ~20% of anon ids, at a random time; events at or
    # after it carry the user id (two anon ids per user: id // 2)
    ident = (np.arange(n_anon) * 2654435761 % 5) == 0
    ident_at = ANCHOR_US - span_us + rng.integers(0, span_us, size=n_anon)
    known = ident[anon] & (ts >= ident_at[anon])

    # one identify event per identified anon id seen in the data, and an
    # alias event for every tenth of them
    seen = np.unique(anon[ident[anon]])
    n_ident = len(seen)
    alias_of = seen[seen % 10 == 0]
    n_alias = len(alias_of)

    all_anon = np.concatenate([anon, seen, alias_of])
    all_ts = np.concatenate([ts, ident_at[seen], ident_at[alias_of] + 1_000_000])
    n = len(all_anon)
    types = np.empty(n, dtype=object)
    types[:n_events] = "track"
    types[n_events:n_events + n_ident] = "identify"
    types[n_events + n_ident:] = "alias"
    ev_types = np.empty(n, dtype=object)
    ev_types[:n_events] = np.array(ANALYTICS_EVENT_TYPES, dtype=object)[etype_idx]
    ev_types[n_events:n_events + n_ident] = "identify"
    ev_types[n_events + n_ident:] = "alias"
    has_user = np.concatenate([known, np.ones(n_ident + n_alias, dtype=bool)])
    user = np.where(has_user, (all_anon // 2 + 1_000_000).astype(str), None)
    prev = np.full(n, None, dtype=object)
    prev[n_events + n_ident:] = np.char.add("legacy-", alias_of.astype(str)).astype(object)
    traits = [None] * n
    plans = ["free", "pro", "team"]
    for j, a in enumerate(seen):
        traits[n_events + j] = [("email", f"u{a}@example.com"), ("plan", plans[int(a) % 3])]

    order = np.argsort(all_ts, kind="stable")
    event_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "message_id": pa.array(np.char.add(f"{seed:x}-", event_id.astype(str))),
            "event_id": pa.array(event_id),
            "type": pa.array(types[order].tolist(), pa.string()),
            "event_type": pa.array(ev_types[order].tolist(), pa.string()),
            "ts": pa.array(all_ts[order], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user[order].tolist(), pa.string()),
            "anonymous_id": pa.array(
                np.char.add("a", all_anon[order].astype(str)).tolist(), pa.string()
            ),
            "previous_id": pa.array(prev[order].tolist(), pa.string()),
            "traits": pa.array(
                [traits[i] for i in order], pa.map_(pa.string(), pa.string())
            ),
        }
    )


def write_analytics(path: str, seed: int, n_events: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(analytics_table(seed, n_events), path, compression="snappy")
