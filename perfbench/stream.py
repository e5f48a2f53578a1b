"""``stream_ingest``: the reference's Kafka-consumer path, open loop.

A generator thread drops one Kafka-shaped parquet file (key, JSON value,
topic, partition, offset, timestamp) every ``INTERVAL_S`` into a directory,
on schedule whatever the engine does.  Each file carries ``EVENTS_PER_FILE``
new events stamped with their emission time, plus a re-delivery of
``REDELIVER_SHARE`` of the previous file's events (at-least-once delivery).

Pipeline, all through the package's public functions:
    file source -> sources.kafka.decode_json_value
                -> streaming.windows.dedup_within_watermark
                -> foreachBatch(streaming.sinks.idempotent_parquet_sink),
                   on a 1 s processing-time trigger

Timeline of a run: inputs are pre-built, the session starts, the stream
starts, the generator starts; files due in the first ``WARMUP_S`` are the
warm-up and are not measured; files due in the next ``--seconds`` are
measured; then the stream drains and stops.  After that, outside every
timed region, the sink is checked against the generated events.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import harness
import stats
from harness import metric

# One file every 0.13 s against a 1 s processing-time trigger: the interval
# does not divide the trigger period, so over a run the files' waits for
# the next trigger sweep the whole period and their median does not depend
# on the phase between the generator and the trigger clock.
INTERVAL_S = 0.13
TRIGGER = "1 second"
EVENTS_PER_FILE = 1040  # 8000 events/s offered, plus re-deliveries
REDELIVER_SHARE = 0.10
# The first triggers take 4-6 s (cold JVM); at 8000 events/s the backlog
# they leave drains by about 22 s on 4 cores.
WARMUP_S = 26.0
WATERMARK = "4 seconds"
LATENCY_LIMIT_S = 5.0  # a file committed later than this counts as failed
GENERATOR_LATE_LIMIT_S = 0.2  # a generator this late makes the run invalid
N_USERS = 1500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TOPIC = "test-topic"

KAFKA_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP"
)
VALUE_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


class Inputs:
    """Every event of the run, built from the seed before the session
    starts; only the emission timestamp is filled in when a file is due."""

    def __init__(self, seed: int, n_files: int):
        rng = np.random.default_rng(seed)
        n = n_files * EVENTS_PER_FILE
        self.n_files = n_files
        self.event_id = np.arange(n, dtype=np.int64)
        self.user_id = rng.integers(0, N_USERS, n).astype(np.int64)
        self.event_type = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
        self.value = np.round(rng.exponential(50.0, n), 2)
        self.k = rng.integers(0, 100, n)
        self.key = pa.array([str(u).encode() for u in self.user_id], pa.binary())
        self.prefix = pa.array([f'{{"event_id": {i}, "ts": "' for i in self.event_id])
        self.suffix = pa.array([
            f'", "user_id": {u}, "event_type": "{t}", "value": {v:.2f}, '
            f'"props": "{{\\"k\\": {k}}}"}}'
            for u, t, v, k in zip(self.user_id, self.event_type, self.value, self.k)
        ])
        n_re = int(EVENTS_PER_FILE * REDELIVER_SHARE)
        # Re-delivered rows of file i are drawn from file i-1's new events.
        self.redeliver = [np.array([], dtype=np.int64)] + [
            np.sort(rng.choice(EVENTS_PER_FILE, n_re, replace=False)) + (i - 1) * EVENTS_PER_FILE
            for i in range(1, n_files)
        ]

    def new_ids(self, i: int) -> slice:
        return slice(i * EVENTS_PER_FILE, (i + 1) * EVENTS_PER_FILE)


class Generator(threading.Thread):
    """Open-loop file dropper: file ``i`` is due at ``start + i * INTERVAL_S``."""

    def __init__(self, inputs: Inputs, out_dir: str, start: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.inputs = inputs
        self.out_dir = out_dir
        self.start_at = start
        self.due = [start + i * INTERVAL_S for i in range(inputs.n_files)]
        self.late = [0.0] * inputs.n_files
        self.redelivered = 0
        self.error: BaseException | None = None
        self._prev: pa.Table | None = None

    def _table(self, i: int, now: float) -> pa.Table:
        inp = self.inputs
        s = inp.new_ids(i)
        ts = dt.datetime.fromtimestamp(now, dt.timezone.utc)
        stamp = ts.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
        n = s.stop - s.start
        value = pc.binary_join_element_wise(
            inp.prefix[s.start:s.stop], pa.array([stamp] * n), inp.suffix[s.start:s.stop], ""
        ).cast(pa.binary())
        new = pa.table({
            "key": inp.key[s.start:s.stop],
            "value": value,
            "topic": pa.array([TOPIC] * n),
            "partition": pa.array(inp.user_id[s] % 4, pa.int32()),
            "offset": pa.array(inp.event_id[s]),
            "timestamp": pa.array([ts.replace(tzinfo=None)] * n, pa.timestamp("us")),
        })
        if self._prev is not None and len(inp.redeliver[i]):
            rows = inp.redeliver[i] - (i - 1) * EVENTS_PER_FILE
            again = self._prev.take(pa.array(rows))
            self.redelivered += again.num_rows
            out = pa.concat_tables([new, again])
        else:
            out = new
        self._prev = new
        return out

    def run(self) -> None:
        try:
            for i, due in enumerate(self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                table = self._table(i, time.time())
                tmp = os.path.join(self.out_dir, f".part-{i:05d}.parquet")
                pq.write_table(table, tmp, compression="snappy")
                os.replace(tmp, os.path.join(self.out_dir, f"part-{i:05d}.parquet"))
                self.late[i] = time.time() - due
        except BaseException as e:  # reported by the main thread
            self.error = e


def _median_of(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows]
    return stats.median(vals) if vals else 0.0


def _read_sink(sink_dir: str, inputs: Inputs) -> tuple[np.ndarray, np.ndarray, int]:
    """Event ids and batch ids of every sink row, and how many delivered
    rows differ from the generated event with the same id."""
    table = ds.dataset(sink_dir, format="parquet", partitioning="hive").to_table(
        columns=["event_id", "user_id", "event_type", "value", "batch_id"]
    )
    eid = table["event_id"].to_numpy()
    known = eid < len(inputs.event_id)
    e = eid[known]
    corrupt = (
        (table["user_id"].to_numpy()[known] != inputs.user_id[e])
        | (table["event_type"].to_numpy(zero_copy_only=False)[known] != inputs.event_type[e])
        | (np.abs(table["value"].to_numpy()[known] - inputs.value[e]) > 1e-9)
    )
    return eid, table["batch_id"].to_numpy().astype(np.int64), int(corrupt.sum())


def run(env: harness.Environment, args, process_start: float) -> dict:
    env.prepare()
    in_dir = os.path.join(env.work, "in")
    sink_dir = os.path.join(env.work, "sink")
    ckpt = os.path.join(env.work, "checkpoint")
    os.makedirs(in_dir)

    t_gen = time.time()
    n_files = int(math.ceil((WARMUP_S + args.seconds) / INTERVAL_S))
    inputs = Inputs(args.seed, n_files)
    gen_s = time.time() - t_gen
    env.preread()

    tracer = None
    t_launch = time.time()
    spark = env.start_spark()
    launch_s = time.time() - t_launch
    from odni_apache_beam_consumer_spark.sources import kafka
    from odni_apache_beam_consumer_spark.streaming import sinks, windows

    import tracing as tr

    listener = tr.ProgressListener()
    spark.streams.addListener(listener.listener)
    undo = []
    if args.trace:
        from odni_apache_beam_consumer_spark import sources, streaming

        tracer = tr.Tracer(f"stream_ingest-{args.seed}")
        undo += tr.patch_functions(kafka, [sources], tr.span_wrapper(tracer, "sources.kafka"))
        undo += tr.patch_functions(windows, [streaming], tr.span_wrapper(tracer, "streaming.windows"))
        undo += tr.patch_functions(sinks, [streaming], tr.span_wrapper(tracer, "streaming.sinks"))

    sink_fn = sinks.idempotent_parquet_sink(sink_dir)
    sink_writes: list[tuple[float, float]] = []  # (start, seconds) per batch
    if tracer is not None:
        inner = sink_fn

        def sink_fn(batch, batch_id, _inner=inner):
            t0 = time.time()
            with tracer.span("sink_write"):
                _inner(batch, batch_id)
            sink_writes.append((t0, time.time() - t0))

    t_stream = time.time()
    raw = spark.readStream.schema(KAFKA_SCHEMA).parquet(in_dir)
    events = kafka.decode_json_value(raw, VALUE_SCHEMA)
    deduped = windows.dedup_within_watermark(events, keys=["event_id"], watermark=WATERMARK)
    # sinks.foreach_batch offers no processing-time trigger, so the sink
    # function is attached directly.
    query = (
        deduped.writeStream.foreachBatch(sink_fn).outputMode("append")
        .option("checkpointLocation", ckpt).trigger(processingTime=TRIGGER).start()
    )
    stream_start_s = time.time() - t_stream

    gen = Generator(inputs, in_dir, start=time.time())
    window_start = gen.start_at + WARMUP_S
    window_end = window_start + args.seconds
    gen.start()
    try:
        gen.join(timeout=WARMUP_S + args.seconds + 60)
        if gen.is_alive() or gen.error is not None:
            raise harness.Refused(f"generator failed: {gen.error!r}")
        query.processAllAvailable()
    finally:
        query.stop()
    if not listener.wait_terminated(timeout=30):
        raise harness.Refused("the stream's progress events did not all arrive")

    # ---- everything below is outside the timed region ----
    eid, batch, corrupt = _read_sink(sink_dir, inputs)
    firsts = eid % EVENTS_PER_FILE == 0  # the first new event of each file
    batch_of_file = {int(e) // EVENTS_PER_FILE: int(b) for e, b in zip(eid[firsts], batch[firsts])}
    rows = harness.progress_rows(listener.events)
    committed = stats.file_commit_times(batch_of_file, {r["batch"]: r["end"] for r in rows})
    measured = [i for i, due in enumerate(gen.due) if window_start <= due < window_end]
    lat = stats.open_loop_latencies({i: gen.due[i] for i in measured}, committed)
    late_ids = [
        e for i in measured if lat.get(i, math.inf) > LATENCY_LIMIT_S
        for e in range(i * EVENTS_PER_FILE, (i + 1) * EVENTS_PER_FILE)
    ]
    err = stats.stream_errors(range(len(inputs.event_id)), eid.tolist(), late_ids)
    err["corrupt"] = corrupt
    err["errors"] += corrupt
    late_max = max(gen.late)
    window_rows = [r for r in rows if window_start <= r["start"] < window_end]
    busy_s = sum(r["trigger_ms"] for r in window_rows) / 1000.0
    harness.log(f"errors {err}; generator late max {late_max * 1000:.1f} ms; "
                f"{len(measured)} measured files, {len(window_rows)} triggers")
    valid = late_max <= GENERATOR_LATE_LIMIT_S and len(lat) == len(measured) and busy_s > 0
    # Delivered throughput: the measured files' new events over the time from
    # the first one due to the last one committed.  In an open loop this
    # stays at the offered rate while the engine keeps up and falls when it
    # does not.
    delivered_s = max(committed.get(i, -math.inf) for i in measured) - gen.due[measured[0]]
    rows_per_s = len(measured) * EVENTS_PER_FILE / delivered_s if valid else 0.0
    if not valid:
        harness.log("run invalid: generator ran late, a measured file was never committed, "
                    "or no trigger ran in the window")
    lat_ms = [v * 1000.0 for v in lat.values()] or [math.inf]
    attempted = err["generated"]
    failed = err["errors"]
    correct = valid and failed == 0

    if not args.trace:
        setup_s = window_start - process_start - gen_s
        return harness.result(correct, attempted, failed, {
            "setup_s": metric(setup_s, "s"),
            "latency_ms": metric(stats.median(lat_ms), "ms"),
            "tail_latency_ms": metric(stats.tail(lat_ms), "ms"),
            "rows_per_s": metric(rows_per_s, "rows/s"),
            "success_share": metric(1.0 - stats.error_rate(failed, attempted), "share"),
        })

    # ---- traced run: per-layer metrics ----
    tr.restore(undo)
    ledger = tr.JobLedger(spark)
    jobs = ledger.summarize(ledger.job_ids(str(query.runId), {r["batch"] for r in window_rows}))
    t = time.time()
    static = kafka.decode_json_value(spark.read.schema(KAFKA_SCHEMA).parquet(in_dir), VALUE_SCHEMA)
    static.write.format("noop").mode("overwrite").save()
    decode_s = time.time() - t
    sent = gen.redelivered
    dropped = sent - err["duplicated"]
    backlog = stats.backlog_max(
        [gen.due[i] for i in range(n_files)], list(committed.values()),
        [r["start"] for r in window_rows],
    )
    per_layer = {
        "session.launch_s": launch_s,
        "session.registry_import_s": 0.0,
        "session.warmup_s": WARMUP_S,
        "session.stream_start_s": stream_start_s,
        "sources.latest_offset_ms": _median_of(window_rows, "latest_offset_ms"),
        "sources.get_batch_ms": _median_of(window_rows, "get_batch_ms"),
        "sources.rows_per_trigger": _median_of([r for r in window_rows if r["rows"]], "rows"),
        "sources.backlog_files_max": backlog,
        "sources.decode_s": decode_s,
        "sources.generator_late_ms_max": late_max * 1000.0,
        "streaming.triggers": len(window_rows),
        "streaming.capacity_rows_per_s": sum(r["rows"] for r in window_rows) / busy_s if busy_s else 0.0,
        "streaming.trigger_ms": _median_of(window_rows, "trigger_ms"),
        "streaming.add_batch_ms": _median_of(window_rows, "add_batch_ms"),
        "streaming.query_planning_ms": _median_of(window_rows, "query_planning_ms"),
        "streaming.wal_commit_ms": _median_of(window_rows, "wal_commit_ms"),
        "streaming.commit_offsets_ms": _median_of(window_rows, "commit_offsets_ms"),
        "streaming.state_rows": _median_of(window_rows, "state_rows"),
        "streaming.state_bytes": max((r["state_bytes"] for r in window_rows), default=0),
        "streaming.state_commit_ms": _median_of(window_rows, "state_commit_ms"),
        "streaming.state_rows_removed": sum(r["state_rows_removed"] for r in window_rows),
        "streaming.dedup_drop_ratio": dropped / sent if sent else 0.0,
        "streaming.sink_write_ms": 1000.0 * stats.median(
            [d for t0, d in sink_writes if t0 >= window_start] or [0.0]),
        "plans.construct_s": stream_start_s,
        "plans.jobs": jobs["jobs"],
        "plans.execute_s": busy_s,
        "plans.ms_per_job": 1000.0 * busy_s / jobs["jobs"] if jobs["jobs"] else 0.0,
        "plans.stages": jobs["stages"],
        "plans.tasks": jobs["tasks"],
        "plans.shuffle_read_bytes": jobs["shuffle_read_bytes"],
        "plans.shuffle_write_bytes": jobs["shuffle_write_bytes"],
        "plans.spill_bytes": jobs["spill_bytes"],
        "plans.task_busy_share": jobs["run_time_ms"] / (1000.0 * args.seconds * env.cores),
        "trace.latency_ms": stats.median(lat_ms),
        "trace.tail_latency_ms": stats.tail(lat_ms),
    }
    tracer.write(
        os.path.join(env.traces, f"stream_ingest-{args.seed}-{os.getpid()}.json"),
        {"environment": env.describe(), "progress": rows, "errors": err,
         "latency_ms": lat_ms, "tail_percentile": stats.tail_percentile(len(lat_ms))},
    )
    return harness.result(correct, attempted, failed, tr.layer_metrics(per_layer, env.per_layer(), harness.log))
