"""The ingest workloads: IngestMessage files -> decode -> fan_out to two
connections -> routed warehouse upserts, through Structured Streaming.

- `ingest_backfill` (closed loop, one client): a backlog of large files
  drains one file per trigger; batches start back to back until the
  measuring time is spent.
- `ingest_live` (open loop): small files are released at a fixed rate
  for one trigger interval (the measuring time) whatever the pipeline
  does; the consumer then triggers and its default trigger takes every
  pending file; each event is timed from its file's due time to the
  commit of the batch that carried it.

Both start from the same restored warehouse snapshot: HISTORY_DAYS days
of history in every routed table, compacted to one file per date
partition (the shape `WarehouseSink.compact` leaves).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from . import gen, udfs
from .trace import Tracer

HISTORY_PER_DAY = 20  # history events per day per connection input
BACKFILL_FILES = 4
BACKFILL_EVENTS_PER_FILE = 2000
LIVE_RATE_FILES_PER_S = 4.0
LIVE_EVENTS_PER_FILE = 10  # 40 events/s offered load
WARMUP_EVENTS = 50
SETUP_REPEATS = 3


def _check_schema():
    """What the correctness check reads back from every routed table."""
    import pyarrow as pa

    return pa.schema([("message_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])


def config_store():
    from jitsu_spark.plans.chain import ConnectionConfig
    from jitsu_spark.plans.config_store import ConfigStore, StreamConfig

    return ConfigStore(
        streams=[StreamConfig(stream_id=gen.CONNECTION_ID, write_keys=["bench-write-key"])],
        connections=[
            ConnectionConfig(
                connection_id=gen.CONN_SINGLE,
                functions=list(udfs.CHAIN),
                layout="segment-single-table",
            ),
            ConnectionConfig(connection_id=gen.CONN_MULTI, layout="segment"),
        ],
    )


def write_snapshot(inputs: gen.IngestInputs, dest: str) -> None:
    """The warehouse as the pipeline would have left it after loading the
    history and compacting: per connection and routed table, one parquet
    file per date partition holding (event, message_id, ts)."""
    import copy
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jitsu_spark.events.layout_core import map_event

    parts: dict[tuple[str, str, str], list[tuple[str, str, int]]] = {}
    for line in inputs.history:
        ev = json.loads(json.loads(line)["httpPayload"])
        single = copy.deepcopy(ev)
        for fn in udfs.CHAIN:
            single = fn(single, None)
        routed = [(gen.CONN_SINGLE, t, r) for t, r in map_event(single, "segment-single-table")]
        routed += [(gen.CONN_MULTI, t, r) for t, r in map_event(ev, "segment")]
        for conn, table, row in routed:
            ts_us = int(
                datetime.strptime(row["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc)
                .timestamp()
                * 1_000_000
            )
            day = datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc).strftime("%Y-%m-%d")
            parts.setdefault((conn, table or "events", day), []).append(
                (json.dumps(row, separators=(",", ":")), row.get("message_id"), ts_us)
            )
    schema = pa.schema(
        [("event", pa.string()), ("message_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]
    )
    for (conn, table, day), rows in sorted(parts.items()):
        d = os.path.join(dest, conn, table, f"_p_date={day}")
        os.makedirs(d, exist_ok=True)
        ev_col, mid_col, ts_col = zip(*rows)
        pq.write_table(
            pa.table([list(ev_col), list(mid_col), list(ts_col)], schema=schema),
            os.path.join(d, "part-00000-snapshot.snappy.parquet"),
        )


def batch_files(ckpt: str, batch_id: int) -> list[str]:
    """Names of the files a micro-batch read, from the file source's
    metadata log in the checkpoint (written before the batch runs; every
    tenth entry is a compaction holding all earlier ones)."""
    log = os.path.join(ckpt, "sources", "0")
    path = os.path.join(log, str(batch_id))
    if not os.path.exists(path):
        path += ".compact"
    with open(path) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
    return sorted(
        os.path.basename(e["path"]) for e in entries if e.get("batchId") == batch_id
    )


def table_files(base: str) -> dict[str, int]:
    """Relative path -> size of every parquet data file under base."""
    out = {}
    for dirpath, _, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, base)] = os.path.getsize(p)
    return out


@dataclass
class Batch:
    batch_id: int
    files: list[str]
    start: float
    end: float
    events: int = 0


@dataclass
class StreamState:
    t0: float = 0.0
    stop_after: float | None = None  # closed loop: skip batches starting later
    batches: list[Batch] = field(default_factory=list)
    skipped: list[int] = field(default_factory=list)
    busy: threading.Lock = field(default_factory=threading.Lock)
    error: str | None = None
    counts: dict[str, float] = field(default_factory=dict)


class IngestBench:
    def __init__(self, spark, work: str, seed: int, live: bool, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.live = live
        self.seconds = seconds
        self.tracer = tracer
        if live:
            n_files = int(LIVE_RATE_FILES_PER_S * seconds)
            per_file = LIVE_EVENTS_PER_FILE
        else:
            n_files, per_file = BACKFILL_FILES, BACKFILL_EVENTS_PER_FILE
        self.inputs = gen.ingest_inputs(
            seed, history_per_day=HISTORY_PER_DAY, n_files=n_files, events_per_file=per_file
        )
        self.names = [f"part-{j:05d}.jsonl" for j in range(n_files)]
        self.file_index = {n: j for j, n in enumerate(self.names)}
        self.staging = os.path.join(work, "staging")
        self.src = os.path.join(work, "src")
        self.ckpt = os.path.join(work, "ckpt")
        self.snapshot = os.path.join(work, "snapshot")
        self.wh = os.path.join(work, "wh")
        self.state = StreamState()
        self.lateness: list[float] = []
        self.release_batch = None  # set by traced runs (install_layer_spans)

    # -- setup ---------------------------------------------------------

    def prepare(self) -> None:
        """Write the stream files and the warehouse snapshot (inputs)."""
        os.makedirs(self.staging)
        for name, lines in zip(self.names, self.inputs.files):
            gen.write_lines(os.path.join(self.staging, name), lines)
        write_snapshot(self.inputs, self.snapshot)

    def setup_once(self) -> None:
        """Restore the snapshot, reset the stream's source and checkpoint,
        and warm the Python workers on both compiled pipelines."""
        from pyspark.sql import functions as F

        for d in (self.wh, self.src, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.snapshot, self.wh)
        os.makedirs(self.src)
        sample = [
            (json.loads(line)["httpPayload"],)
            for line in self.inputs.history[:WARMUP_EVENTS]
        ]
        df = self.spark.createDataFrame(sample, "event string")
        outs = [t(df) for t in config_store().compile_all().values()]
        outs[0].unionByName(outs[1]).agg(F.count(F.lit(1))).collect()

    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.setup_once()
            times.append(time.perf_counter() - t)
        return times

    # -- the stream ----------------------------------------------------

    def _sinks(self):
        from jitsu_spark.sinks import WarehouseSink

        return {
            c: WarehouseSink(self.spark, os.path.join(self.wh, c))
            for c in (gen.CONN_SINGLE, gen.CONN_MULTI)
        }

    def _process(self, store, sinks):
        from pyspark.sql import functions as F

        from jitsu_spark.plans.config_store import fan_out

        st = self.state
        tracer = self.tracer

        def process(batch_df, batch_id: int) -> None:
            start = time.perf_counter()
            if st.stop_after is not None and st.batches and start - st.t0 >= st.stop_after:
                st.skipped.append(batch_id)
                return
            with st.busy:
                files = batch_files(self.ckpt, batch_id)
                before = table_files(self.wh) if tracer.enabled else None
                with tracer.span("ingest.batch", trace=str(batch_id)):
                    good = batch_df.where(F.col("payload_json").isNotNull()).select(
                        F.col("payload_json").alias("event")
                    )
                    with tracer.span("plans.config_store.fan_out"):
                        fan_out(good, store, sinks)
                end = time.perf_counter()
                if self.release_batch is not None:
                    self.release_batch()
                b = Batch(batch_id, files, start, end)
                b.events = sum(len(self.inputs.file_events[self.file_index[f]]) for f in files)
                st.batches.append(b)
                if before is not None:
                    self._count_rewrites(before)

        return process

    def _count_rewrites(self, before: dict[str, int]) -> None:
        import pyarrow.parquet as pq

        after = table_files(self.wh)
        new = [p for p in after if p not in before]
        c = self.state.counts
        c["files_written"] = c.get("files_written", 0) + len(new)
        c["bytes_written"] = c.get("bytes_written", 0) + sum(after[p] for p in new)
        c["partitions_rewritten"] = c.get("partitions_rewritten", 0) + len(
            {os.path.dirname(p) for p in new}
        )
        c["rows_rewritten"] = c.get("rows_rewritten", 0) + sum(
            pq.read_metadata(os.path.join(self.wh, p)).num_rows for p in new
        )

    def _start_query(self):
        from jitsu_spark.streaming.source import decode_ingest_messages
        from pyspark.sql import functions as F

        reader = self.spark.readStream
        if not self.live:
            reader = reader.option("maxFilesPerTrigger", 1)
        raw = reader.text(self.src).withColumn("timestamp", F.current_timestamp())
        decoded = decode_ingest_messages(raw)
        return (
            decoded.writeStream.foreachBatch(self._process(config_store(), self._sinks()))
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def _release(self, j: int) -> None:
        name = self.names[j]
        dst = os.path.join(self.src, name)
        os.rename(os.path.join(self.staging, name), dst)
        os.utime(dst)

    def run(self, deadline: float) -> dict:
        """Measure for `seconds`; returns the raw observations.

        Backfill: the whole backlog is in place before the query starts,
        and batches (one file each) run back to back until `seconds` have
        passed. Live: files are released on schedule over `seconds`
        whatever the pipeline does, then the consumer's trigger fires and
        takes every pending file (one trigger interval of traffic)."""
        st = self.state
        if not self.live:
            for j in range(len(self.names)):
                self._release(j)
                time.sleep(0.01)  # distinct modification times keep file order
            st.stop_after = self.seconds
        st.t0 = time.perf_counter()
        if self.live:
            period = 1.0 / LIVE_RATE_FILES_PER_S
            for j in range(len(self.names)):
                due = st.t0 + j * period
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                self._release(j)
                self.lateness.append(time.perf_counter() - due)
            end = st.t0 + self.seconds
            time.sleep(max(0.0, end - time.perf_counter()))
        q = self._start_query()
        try:
            while True:
                if q.exception() is not None:
                    st.error = str(q.exception())
                    break
                done = sum(len(b.files) for b in st.batches)
                if done >= len(self.names) or st.skipped:
                    break
                if time.perf_counter() > deadline:
                    st.error = "measurement overran its deadline"
                    break
                time.sleep(0.05)
            st.stop_after = 0.0  # any batch still to start is skipped
            progress = self._progress(q, deadline) if self.tracer.enabled else []
        finally:
            q.stop()
        return {"progress": progress}

    def _progress(self, q, deadline: float) -> list[dict]:
        """The query's progress reports of the committed batches (a report
        is posted just after its batch's foreachBatch call returns)."""
        want = {b.batch_id for b in self.state.batches}
        while True:
            with self.state.busy:
                progress = [json.loads(p.json) for p in q.recentProgress]
            if want <= {p["batchId"] for p in progress} or time.perf_counter() > deadline:
                return [p for p in progress if p["batchId"] in want]
            time.sleep(0.05)

    # -- results -------------------------------------------------------

    def committed_files(self) -> list[str]:
        return [f for b in self.state.batches for f in b.files]

    def check(self) -> tuple[int, int]:
        """(checks made, checks failed) against the generator's manifest:
        one row per delivered messageId with its newest timestamp in every
        routed table, nothing else routed, corrupt lines rejected. The
        tables are read with pyarrow, independently of the program."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        from jitsu_spark.streaming.source import decode_ingest_messages

        committed = self.committed_files()
        delivered = list(self.inputs.history_events)
        for f in committed:
            delivered += self.inputs.file_events[self.file_index[f]]
        expected = gen.expected_tables(delivered)
        checks = failed = 0
        for conn, tables in expected.items():
            base = os.path.join(self.wh, conn)
            present = set(os.listdir(base)) if os.path.isdir(base) else set()
            for table in sorted(present | set(tables)):
                checks += 1
                want = tables.get(table, {})
                if table not in present:
                    failed += 1
                    print(f"ingest check {conn}/{table}: table missing", file=sys.stderr)
                    continue
                t = ds.dataset(
                    os.path.join(base, table),
                    format="parquet",
                    schema=_check_schema(),
                    ignore_prefixes=["."],  # partition dirs start with "_"
                ).to_table()
                got: dict[str, int] = {}
                dup = 0
                for mid, ts in zip(
                    t["message_id"].to_pylist(), t["ts"].cast(pa.int64()).to_pylist()
                ):
                    dup += mid in got
                    got[mid] = ts
                if dup or got != want:
                    failed += 1
                    wrong_ts = sum(1 for m, v in want.items() if m in got and got[m] != v)
                    print(
                        f"ingest check {conn}/{table}: {len(got)} rows, {dup} duplicate ids,"
                        f" {len(want.keys() - got.keys())} missing, {len(got.keys() - want.keys())}"
                        f" unexpected, {wrong_ts} not newest",
                        file=sys.stderr,
                    )
        checks += 1
        if committed:
            raw = self.spark.read.text([os.path.join(self.src, f) for f in committed])
            rejected = (
                decode_ingest_messages(raw.withColumn("timestamp", F.current_timestamp()))
                .where(F.col("payload_json").isNull())
                .count()
            )
            injected = sum(self.inputs.malformed_per_file[self.file_index[f]] for f in committed)
            if rejected != injected:
                failed += 1
                print(f"ingest check decode: {rejected} rejected, {injected} injected", file=sys.stderr)
        return checks, failed


def layer_metrics(bench: IngestBench, tracer: Tracer, group_metrics, progress) -> dict[str, float]:
    """Per-layer numbers for a traced ingest run, per committed batch."""
    from .trace import layer_totals, subtree_violations

    st = bench.state
    nb = max(len(st.batches), 1)
    tot = layer_totals(tracer.spans, group_metrics)
    out: dict[str, float] = {}

    def g(layer: str, key: str) -> float:
        return tot.get(layer, {}).get(key, 0.0)

    for layer in ("sinks.upsert", "plans.chain"):
        for k in ("task_s", "shuffle_bytes", "gc_s", "failed_tasks"):
            out[f"{layer}.{k}"] = g(layer, k) / nb
    out["sinks.upsert.busy_s"] = g("sinks.upsert", "busy_s") / nb
    out["sinks.upsert.calls"] = g("sinks.upsert", "calls") / nb
    out["sinks.upsert.spark_jobs"] = g("sinks.upsert", "spark_jobs") / nb
    out["sinks.write_routed.busy_s"] = g("sinks.write_routed", "busy_s") / nb
    routed_rows = g("events.layouts", "rows_out")
    for k in ("rows_rewritten", "partitions_rewritten", "files_written", "bytes_written"):
        out[f"sinks.{k}"] = st.counts.get(k, 0.0) / nb
    out["sinks.write_amplification"] = (
        st.counts.get("rows_rewritten", 0.0) / routed_rows if routed_rows else 0.0
    )
    out["sinks.table_files_end"] = float(len(table_files(bench.wh)))
    chain_busy = g("plans.chain", "busy_s")
    out["plans.chain.busy_s"] = chain_busy / nb
    out["plans.chain.events_per_s"] = g("plans.chain", "rows_in") / chain_busy if chain_busy else 0.0
    out["plans.chain.errors"] = g("plans.chain", "errors") / nb
    out["events.layouts.busy_s"] = g("events.layouts", "busy_s") / nb
    rows_in = g("events.layouts", "rows_in")
    out["events.layouts.rows_out_per_event"] = routed_rows / rows_in if rows_in else 0.0
    out["plans.config_store.fan_out.self_s"] = g("plans.config_store.fan_out", "self_s") / nb
    batches = progress
    trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    over = [
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in batches
    ]
    out["streaming.batches"] = float(len(st.batches))
    out["streaming.input_rows"] = float(sum(p["numInputRows"] for p in batches))
    out["streaming.trigger_ms"] = _median(trig)
    out["streaming.overhead_ms"] = _median(over)
    out["streaming.backlog_files_max"] = float(
        max((len(b.files) for b in st.batches), default=0)
    )
    out["trace.subtree_violations"] = float(subtree_violations(tracer.spans, "ingest.batch"))
    return out


def _median(xs):
    import statistics

    return float(statistics.median(xs)) if xs else 0.0


def install_layer_spans(tracer: Tracer):
    """Traced runs only: wrap the layer entry points fan_out reaches so
    each call is a span, and materialise the chain and layout outputs at
    their boundaries so their lazy plans are charged to them. Returns a
    function that releases the cached layout outputs of the batch."""
    import jitsu_spark.plans.config_store as cs
    from jitsu_spark.events.layouts import apply_layout
    from jitsu_spark.plans.chain import compile_chain
    from jitsu_spark.sinks import WarehouseSink
    from pyspark.sql import functions as F

    cached = []

    def release() -> None:
        while cached:
            cached.pop().unpersist()

    def traced_compile_pipeline(config, stage="full", retries=0):
        chain = compile_chain(config, retries=retries)

        def transform(df):
            with tracer.span("plans.chain") as s:
                processed = chain(df).cache()
                n = processed.count()
                s.counts["rows_in"] = n
                s.counts["errors"] = processed.where(F.col("_error").isNotNull()).count()
            with tracer.span("events.layouts") as s:
                out = apply_layout(
                    processed.where(~F.col("_dropped")).select("event"),
                    layout=config.layout,
                    keep_original_names=config.keep_original_names,
                ).cache()
                s.counts["rows_in"] = n
                s.counts["rows_out"] = out.count()
            processed.unpersist()
            cached.append(out)
            return out

        return transform

    cs.compile_pipeline = traced_compile_pipeline
    for name, layer in (("upsert", "sinks.upsert"), ("write_routed", "sinks.write_routed")):
        original = getattr(WarehouseSink, name)

        def wrapped(self, *args, _original=original, _layer=layer, **kwargs):
            with tracer.span(_layer):
                return _original(self, *args, **kwargs)

        setattr(WarehouseSink, name, wrapped)
    return release
