"""Workload ``corpus_fold``: a streaming state fold over a document
corpus.

The registered ``x_stream_lsh_cadence`` — the online LSH band index
with size-tiered epoch compaction on cadence — is called the way the
driver contract calls it, ``queries()[name](spark, sf_dir)``, over a
benchmark-owned ``documents.parquet`` (5,000 documents, the size and
make-up of the sf0.1 table; see ``datagen.VOCAB``) whose rows the seed
permutes, and materialised with the noop sink. Each call runs the fold
lifecycle of ``queries.streaming_surface`` (source files, an
``availableNow`` stream of one file per trigger, ``foreachBatch``,
checkpoint, replay of the newest batch), the tier compactor's state
directories and the Arrow MinHash UDF workers. The op is pinned
batching independent, so the permutation moves documents between
triggers but must not move its result, which is checked against the
registered oracle SQL in DuckDB after the timed region.

``WARMUP_FOLDS`` untimed fold calls warm the process up (they are part
of ``setup_s``): fold calls keep getting faster for about four calls in
a fresh process, as the JVM compiles the fold's hot paths. Timed fold
calls follow while the run's ``--seconds`` have room for another whole
call (at least ``MIN_CALLS`` of them); the end-to-end figures are
medians over those calls. A traced run then makes ``BATCH_CALLS``
calls of the batch ``x_minhash_lsh_pairs`` (the same oracle) to time
the builder layer: the builder call, which plans over py4j, apart from
the noop write that executes the plan. Every timed fold answer and
every batch answer is graded.
"""

from __future__ import annotations

import os
import time

import duckdb

from perfbench import eventlog, layers, stats
from perfbench.datagen import write_corpus_dir
from perfbench.runtime import (
    Progress,
    cpu_times,
    event_log_path,
    rss_peak_mb,
    steal_pct,
    trigger_s,
    trigger_start,
)

QUERY = "x_stream_lsh_cadence"
#: the batch LSH builder graded by the same oracle; its calls time the
#: ``queries.*`` builder layer (plan build over py4j vs execution)
BATCH_QUERY = "x_minhash_lsh_pairs"
BATCH_CALLS = 3
#: untimed fold calls before the timed ones
WARMUP_FOLDS = 3
#: timed fold calls at the least, whatever ``--seconds`` is; the
#: median of three sets one slow call aside
MIN_CALLS = 3
#: the size of the sf0.1 ``documents`` table
N_DOCS = 5000


def oracle_frame(sf_dir: str):
    """The registered oracle's answer over the run's documents."""
    from ziggurat_spark.queries import all_queries

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        oracle = all_queries()[QUERY].oracle
        if all_queries()[BATCH_QUERY].oracle != oracle:
            raise RuntimeError(f"{QUERY} and {BATCH_QUERY} no longer share an oracle")
        return con.execute(oracle).df()
    finally:
        con.close()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from ziggurat_spark.oracle import compare
    from ziggurat_spark.queries import all_queries
    from ziggurat_spark.scratch import dir_footprint, track_scratch

    sf_dir = os.path.join(ctx.work, "sf")
    write_corpus_dir(sf_dir, N_DOCS, ctx.seed)
    spark, setup_times = ctx.start_sessions()
    progress = Progress().attach(spark)
    builder = all_queries()[QUERY].spark
    batch_builder = all_queries()[BATCH_QUERY].spark

    warm = []
    with ctx.tracer.span("warmup"):
        t0 = time.perf_counter()
        for _ in range(WARMUP_FOLDS):
            t1 = time.perf_counter()
            _noop(builder(spark, sf_dir))
            warm.append(time.perf_counter() - t1)
        warmup_s = time.perf_counter() - t0

    calls = []
    cpu0 = cpu_times()
    t_measure = time.perf_counter()
    with ctx.tracer.span("measure"):
        # whole calls: as many as are expected to end within the
        # run's seconds (at least MIN_CALLS)
        while len(calls) < MIN_CALLS or (
            time.perf_counter() - t_measure + calls[-1]["window"].length <= ctx.seconds
        ):
            key = f"call-{len(calls)}"
            with ctx.tracer.span("fold.call", trace=key):
                start = time.time()
                t0 = time.perf_counter()
                with track_scratch() as dirs:
                    with ctx.tracer.span("fold.build", trace=key) as build:
                        df = builder(spark, sf_dir)
                    t1 = time.perf_counter()
                    with ctx.tracer.span("fold.grade", trace=key):
                        _noop(df)
                t2 = time.perf_counter()
            calls.append(
                {
                    "window": eventlog.Window(key, start, start + (t2 - t0)),
                    "span": build.id,
                    "build_s": t1 - t0,
                    "grade_s": t2 - t1,
                    "state": dir_footprint(dirs),
                    "df": df,
                }
            )

    steal = steal_pct(cpu0)

    # the builder layer (traced runs), after the fold's timed calls:
    # the batch builder call (plan build, over py4j) against its
    # execution
    batch = []
    t_batch = time.perf_counter()
    for i in range(BATCH_CALLS if ctx.tracer.enabled else 0):
        key = f"batch-{i}"
        with ctx.tracer.span("plan.build", trace=key):
            t0 = time.perf_counter()
            df = batch_builder(spark, sf_dir)
            t1 = time.perf_counter()
        with ctx.tracer.span("plan.exec", trace=key):
            _noop(df)
            t2 = time.perf_counter()
        batch.append({"build_s": t1 - t0, "exec_s": t2 - t1, "df": df})

    # outside the timed region: every call's answer against the oracle
    # both queries are registered with
    t_check = time.perf_counter()
    with ctx.tracer.span("check"):
        expected = oracle_frame(sf_dir)
        graded = [(QUERY, c["df"]) for c in calls] + [(BATCH_QUERY, b["df"]) for b in batch]
        failed = sum(not compare(q, df, expected.copy()).ok for q, df in graded)
    t_done = time.perf_counter()
    rss = rss_peak_mb(spark)
    ctx.stop()

    reports = []
    p50, p90 = [], []
    for c in calls:
        w = c["window"]
        c["triggers"] = [
            r for r in progress.triggers() if w.start <= trigger_start(r) <= w.end
        ]
        reports += c["triggers"]
        # a document's state is committed when the trigger that read it
        # ends; every document is offered when the call starts
        lat = []
        for r in c["triggers"]:
            done = trigger_start(r) + trigger_s(r)
            lat += [done - w.start] * int(r["numInputRows"])
        p50.append(stats.percentile(lat, 0.5))
        p90.append(stats.percentile(lat, 0.9))
    cycle_s = stats.median(c["window"].length for c in calls)
    result = {
        "phases": {
            "sessions": setup_times,
            "warmup": warmup_s,
            "warmup_folds": warm,
            "calls": [c["window"].length for c in calls],
            "batch": t_check - t_batch,
            "check": t_done - t_check,
            "steal_pct": steal,
        },
        "attempted": len(graded),
        "failed": failed,
        "e2e": {
            "setup_s": stats.median(setup_times) + warmup_s,
            "latency_p50_s": stats.median(p50),
            "latency_p90_s": stats.median(p90),
            "trigger_p50_s": stats.median(trigger_s(r) for r in reports),
            "cycle_s": cycle_s,
        },
    }
    if not ctx.tracer.enabled:
        return result

    trig_windows = []
    for c in calls:
        trig_windows += layers.trigger_spans(
            ctx.tracer, c["triggers"], c["window"].key, c["span"]
        )
    result["layers"] = {
        "fold.build_s": stats.median(c["build_s"] for c in calls),
        "fold.grade_s": stats.median(c["grade_s"] for c in calls),
        "fold.docs_per_s": N_DOCS / cycle_s,
        "state.bytes": calls[-1]["state"][0],
        "state.files": calls[-1]["state"][1],
        "plan.build_s_p50": stats.median(b["build_s"] for b in batch),
        "plan.build_s_sum": sum(b["build_s"] for b in batch),
        "exec.s_sum": sum(b["exec_s"] for b in batch),
        "rss_peak_mb": rss,
        "host.steal_pct": steal,
        **layers.trigger_layers(reports),
        **layers.spark_layers(
            event_log_path(ctx.work),
            [c["window"] for c in calls],
            [w for w, _ in trig_windows],
            ctx.tracer,
        ),
    }
    return result
