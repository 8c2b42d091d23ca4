"""Workload ``route_live``: one ziggurat route under an open-loop feed.

A generator thread moves Kafka-envelope parquet files into the route's
source directory on a fixed schedule (``FILES_PER_S`` files of
``ROWS_PER_FILE`` rows), whatever the engine is doing; each file's
rows are stamped with its creation time, except a seeded share
stamped stale. ``ZigguratEngine`` runs the route on the default
trigger: staleness filter → ``json_field`` middleware → a handler
whose outcome (success / skip / retry / dead-letter /
``channel:audit``) is a function of the payload, with retry enabled.
After the feed stops the route drains, and one ``pump_retries`` cycle
at a horizon past every backoff redelivers the retry queue (the
redelivered rows succeed).

Latency is per file: from when the file was due at the generator to
the commit of the micro-batch that read it (the checkpoint's source
log and commit files). Files due before the warm-up's last commit are
fed but not timed. All tallies are checked against DuckDB over the
exact files generated.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import duckdb

from perfbench import checkpoint, eventlog, layers, stats
from perfbench.datagen import EventFeed
from perfbench.runtime import (
    Progress,
    cpu_times,
    event_log_path,
    rss_peak_mb,
    steal_pct,
    trigger_s,
    trigger_start,
)

ROUTE = "events"
FILES_PER_S = 12
ROWS_PER_FILE = 200
STALE_SHARE = 0.05
#: micro-batches committed before timing starts (the first is slow:
#: code generation, the first foreachBatch callback)
WARM_BATCHES = 3
MAX_ATTEMPTS = 3
#: the handler's outcome for payload k: k % 10 → outcome
OUTCOME_SQL = (
    "CASE WHEN k % 10 < 6 THEN 'success' WHEN k % 10 = 6 THEN 'skip' "
    "WHEN k % 10 = 7 THEN 'retry' WHEN k % 10 = 8 THEN 'dead-letter' "
    "ELSE 'channel:audit' END"
)


def _handler(df):
    from pyspark.sql import functions as F

    # a redelivered row (retry_count > 0) succeeds
    return df.withColumn(
        "outcome",
        F.when(F.col("retry_count") > 0, F.lit("success")).otherwise(F.expr(OUTCOME_SQL)),
    )


class Generator(threading.Thread):
    """Open-loop feed: file i is due at ``t0 + i / FILES_PER_S``; it is
    written to a staging dir and renamed into the source dir (atomic),
    never earlier than due and without waiting for the engine."""

    def __init__(self, feed: EventFeed, staging: str, src: str, t0: float, stop_at: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.feed, self.staging, self.src = feed, staging, src
        self.t0, self.stop_at = t0, stop_at
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for i in range(self.feed.n_files):
                due = self.t0 + i / FILES_PER_S
                if due >= self.stop_at:
                    break
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"part-{i:05d}.parquet"
                tmp = os.path.join(self.staging, name)
                created = dt.datetime.fromtimestamp(max(due, time.time()), dt.timezone.utc)
                self.feed.write(i, tmp, created)
                os.rename(tmp, os.path.join(self.src, name))
                self.late.append(time.time() - due)
                self.due[name] = due
        except BaseException as exc:  # noqa: BLE001 — reported by the main thread
            self.error = exc


def expected_tallies(files: list[str], stale_before: float) -> dict[str, int]:
    """The route's tallies, computed by DuckDB over the files fed."""
    con = duckdb.connect()
    try:
        listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        row = con.execute(
            f"""
            WITH r AS (
              SELECT CAST(json_extract(decode(value), '$.k') AS INTEGER) AS k,
                     epoch("timestamp") < {stale_before} AS stale
              FROM read_parquet([{listed}])
            ), o AS (SELECT stale, {OUTCOME_SQL} AS outcome FROM r)
            SELECT count(*) FILTER (WHERE stale),
                   count(*) FILTER (WHERE NOT stale),
                   count(*) FILTER (WHERE NOT stale AND outcome = 'success'),
                   count(*) FILTER (WHERE NOT stale AND outcome = 'skip'),
                   count(*) FILTER (WHERE NOT stale AND outcome = 'retry'),
                   count(*) FILTER (WHERE NOT stale AND outcome = 'dead-letter'),
                   count(*) FILTER (WHERE NOT stale AND outcome = 'channel:audit')
            FROM o
            """
        ).fetchone()
    finally:
        con.close()
    keys = ("stale", "fresh", "success", "skip", "retry", "dead", "channel")
    return dict(zip(keys, (int(v) for v in row)))


def run(ctx) -> dict:
    from pyspark.sql import types as T

    from ziggurat_spark.envelope import ENVELOPE_SCHEMA
    from ziggurat_spark.functions.middleware import json_field
    from ziggurat_spark.scratch import dir_footprint
    from ziggurat_spark.sources.files import file_stream_source
    from ziggurat_spark.streaming.engine import Route, ZigguratEngine
    from ziggurat_spark.streaming.retry_fabric import RetryConfig

    src = os.path.join(ctx.work, "source")
    staging = os.path.join(ctx.work, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    # enough rows for a slow warm-up plus the measured window
    n_files = int((ctx.seconds + 120) * FILES_PER_S)
    feed = EventFeed(ctx.seed, n_files, ROWS_PER_FILE, STALE_SHARE)

    spark, setup_times = ctx.start_sessions()
    progress = Progress().attach(spark)
    t_setup = time.perf_counter()
    engine = ZigguratEngine(spark, os.path.join(ctx.work, "engine"))
    schema = T.StructType(
        ENVELOPE_SCHEMA.fields
        + [T.StructField("event_type", T.StringType()), T.StructField("payload_value", T.DoubleType())]
    )
    engine.register_route(
        Route(
            name=ROUTE,
            source=lambda: file_stream_source(spark, src, schema=schema),
            handler=_handler,
            middleware=(json_field("$.k", "k", "int"),),
            channels={"audit": lambda df: None},
            retry=RetryConfig(enabled=True, max_attempts=MAX_ATTEMPTS, exponential=True),
        )
    )
    fabric_calls = _instrument(ctx.tracer, engine)

    engine.start_route(ROUTE, trigger_available_now=False)
    t_feed = time.time()
    gen = Generator(feed, staging, src, t_feed, t_feed + n_files / FILES_PER_S)
    gen.start()
    with ctx.tracer.span("warmup"):
        while sum(1 for s in engine.stats if s.batch_id >= 0) < WARM_BATCHES:
            _check_alive(engine, gen)
            time.sleep(0.05)
    t_warm = time.time()
    cpu0 = cpu_times()
    warmup_s = time.perf_counter() - t_setup
    gen.stop_at = t_warm + ctx.seconds
    with ctx.tracer.span("measure"):
        while gen.is_alive():
            _check_alive(engine, gen)
            time.sleep(0.05)
        gen.join()
        engine.stop_route(ROUTE, drain=True)
    t_end = time.time()
    steal = steal_pct(cpu0)
    if gen.error is not None:
        raise gen.error

    ckpt = os.path.join(engine.workdir, "checkpoints", ROUTE)
    lat, batch_of, missing = checkpoint.file_latencies(gen.due, ckpt)
    timed = [lat[f] for f, due in gen.due.items() if due > t_warm and f in lat]
    live = [s for s in engine.stats if s.batch_id >= 0]
    fabric_bytes, fabric_files = dir_footprint([engine.fabric.retry_dir, engine.fabric.dead_dir])
    queued = _count(engine.fabric.retry_table())
    dead = _count(engine.fabric.dead_set_table())

    with ctx.tracer.span("pump", trace="pump"):
        t0 = time.perf_counter()
        start = time.time()
        pumped = engine.pump_retries(
            ROUTE, now=dt.datetime.now(dt.timezone.utc) + dt.timedelta(hours=1)
        )
        redelivery_s = time.perf_counter() - t0
    pump_window = eventlog.Window("pump", start, start + redelivery_s)

    with ctx.tracer.span("check"):
        files = [os.path.join(src, f) for f in sorted(gen.due)]
        want = expected_tallies(files, t_feed - 7 * 86400)
        got = {
            "stale": sum(s.stale_dropped for s in live),
            "fresh": sum(s.total for s in live),
            "success": sum(s.success for s in live),
            "skip": sum(s.skip for s in live),
            "retry": sum(s.retry for s in live),
            "dead": sum(s.dead_letter for s in live),
            "channel": sum(s.channel for s in live),
        }
        c = engine.metrics.counter
        checks = [got[k] == want[k] for k in want] + [
            queued == want["retry"],
            dead == want["dead"],
            pumped == want["retry"],
            _count(engine.fabric.retry_table()) == 0,
            c("message.read") == want["fresh"] + want["retry"],
            c("message-processing.success") == want["success"] + want["retry"],
            c("message-processing.skip") == want["skip"],
            c("message-processing.retry") == want["retry"],
            c("message-processing.dead-letter") == want["dead"],
            c("audit.message-processing.success") == want["channel"],
        ]
    rss = rss_peak_mb(spark)
    ctx.stop()

    failed_batches = sum(1 for s in engine.stats if s.failure > 0)
    failed = len(missing) + failed_batches + checks.count(False)
    reports = progress.triggers(since=t_warm)
    reports = [r for r in reports if trigger_start(r) <= t_end]
    result = {
        "phases": {
            "sessions": setup_times,
            "warmup": warmup_s,
            "measure": t_end - t_warm,
            "pump": redelivery_s,
            "steal_pct": steal,
        },
        "attempted": len(gen.due),
        "failed": failed,
        "e2e": {
            "setup_s": stats.median(setup_times) + warmup_s,
            "latency_p50_s": stats.percentile(timed, 0.5),
            "latency_p90_s": stats.percentile(timed, 0.9),
            "trigger_p50_s": stats.median(trigger_s(r) for r in reports),
            "cycle_s": redelivery_s,
        },
    }
    if not ctx.tracer.enabled:
        return result

    measured = eventlog.Window("measure", t_warm, t_end)
    in_window = [s for s in live if s.batch_id in {r["batchId"] for r in reports}]
    files_per_batch = {}
    for f, bid in batch_of.items():
        files_per_batch[bid] = files_per_batch.get(bid, 0) + 1
    trig_windows = layers.trigger_spans(ctx.tracer, reports, "route", None)
    enq = [
        x for x in fabric_calls
        if x[0] in ("enqueue_retry", "enqueue_dead") and t_warm <= x[2] <= t_end
    ]
    result["layers"] = {
        "engine.batch_s_p50": stats.median(s.processing_s for s in in_window),
        "engine.batches": len(in_window),
        "source.files_per_batch": stats.median(files_per_batch[s.batch_id] for s in in_window),
        "fabric.enqueue_s": sum(x[1] for x in enq),
        "fabric.enqueue_calls": len(enq),
        "fabric.pump_s": sum(x[1] for x in fabric_calls if x[0] == "pump"),
        "fabric.pump_rows": pumped,
        "fabric.files": fabric_files,
        "fabric.bytes": fabric_bytes,
        "gen.late_max_s": max(gen.late),
        "rss_peak_mb": rss,
        "host.steal_pct": steal,
        **layers.trigger_layers(reports),
        **layers.spark_layers(
            event_log_path(ctx.work),
            [measured, pump_window],
            [w for w, _ in trig_windows],
            ctx.tracer,
        ),
    }
    return result


def _count(df) -> int:
    return 0 if df is None else df.count()


def _check_alive(engine, gen) -> None:
    q = engine.queries.get(ROUTE)
    if q is not None and q.exception() is not None:
        raise RuntimeError(f"route query failed: {q.exception()}")
    if gen.error is not None:
        raise gen.error


def _instrument(tracer, engine) -> list:
    """In a traced run, time the engine's batches and the fabric calls
    on this engine instance only. Returns the list that collects
    (method, seconds, start) per fabric call."""
    calls: list = []
    if not tracer.enabled:
        return calls

    def batch_trace(args, kwargs):
        # streaming batches get their own trace; the pump's redelivery
        # batch (a negative id) stays in the pump's
        bid = kwargs.get("batch_id", -1)
        return f"route.batch-{bid}" if bid >= 0 else None

    tracer.wrap(engine, "process_batch", "engine.process_batch", trace=batch_trace)
    for method in ("enqueue_retry", "enqueue_dead", "pump"):
        def record(attrs, result, seconds, method=method):
            calls.append((method, seconds, time.time() - seconds))
            if method == "pump":
                attrs["rows"] = result
        tracer.wrap(engine.fabric, method, f"fabric.{method}", on_return=record)
    return calls
