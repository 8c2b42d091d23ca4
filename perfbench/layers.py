"""Per-layer figures that both workloads derive the same way: Spark's
scheduler (from the event log, by time window) and the stream driver
loop (from progress reports)."""

from __future__ import annotations

from perfbench import eventlog, stats
from perfbench.runtime import trigger_s, trigger_start
from perfbench.trace import Tracer

#: MicroBatchExecution's phase order inside one trigger
TRIGGER_PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


def _median0(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def trigger_layers(reports: list[dict]) -> dict[str, float]:
    """Driver-loop cost per trigger: addBatch is the sink's work
    (``foreachBatch``); the rest of triggerExecution is the stream
    engine's own overhead (offsets, WAL, planning, commit)."""
    return {
        "trigger.add_batch_s_p50": _median0(trigger_s(r, "addBatch") for r in reports),
        "trigger.overhead_s_p50": _median0(
            trigger_s(r) - trigger_s(r, "addBatch") for r in reports
        ),
    }


def trigger_spans(
    tracer: Tracer, reports: list[dict], trace_prefix: str, parent: int | None
) -> list[tuple[eventlog.Window, int | None]]:
    """One ``stream.trigger`` span per report with its phases as
    children, laid end to end in execution order (progress reports
    give phase durations, not start times). Returns each trigger's
    window with its span id."""
    windows = []
    for r in reports:
        start = trigger_start(r)
        end = start + trigger_s(r)
        tid = f"{trace_prefix}.batch-{r['batchId']}"
        sid = tracer.add(
            "stream.trigger", start, end, parent=parent, trace=tid,
            rows=r.get("numInputRows", 0),
        )
        windows.append((eventlog.Window(tid, start, end), sid))
        t = start
        phase_ids = {}
        for phase in TRIGGER_PHASES:
            d = trigger_s(r, phase)
            if d:
                phase_ids[phase] = tracer.add(f"stream.{phase}", t, t + d, parent=sid, trace=tid)
                t += d
        # the sink's own spans (recorded on the stream thread as roots
        # of the same trace) belong under addBatch
        for s in tracer.spans:
            if s.trace == tid and s.parent is None and s.id != sid:
                s.parent = phase_ids.get("addBatch", sid)
    return windows


def spark_layers(
    log_path: str | None,
    measured: list[eventlog.Window],
    units: list[eventlog.Window],
    tracer: Tracer,
) -> dict[str, float]:
    """Spark scheduler figures over the ``measured`` windows, plus
    medians per unit of work (a route batch, a fold trigger) over
    ``units``. In a traced run each job also becomes a span under the
    innermost span that contains its submission."""
    jobs = eventlog.parse_jobs(eventlog.read_events(log_path)) if log_path else []
    in_measured = [
        j for j in jobs if any(w.start <= j.submit_s <= w.end for w in measured)
    ]
    tot = eventlog.totals(in_measured)
    busy = gap = 0.0
    for w in measured:
        b, g = eventlog.busy_gap(w, [j for j in in_measured if w.start <= j.submit_s <= w.end])
        busy += b
        gap += g
    per_unit = eventlog.attribute(jobs, units)
    unit_tot = [eventlog.totals(per_unit[w.key]) for w in units]

    by_key = {str(s.id): s for s in tracer.spans}
    owner = eventlog.attribute(
        jobs, [eventlog.Window(k, s.start, s.end) for k, s in by_key.items()]
    )
    for key, js in owner.items():
        for j in js:
            if j.end_s is not None:
                tracer.add(
                    "spark.job", j.submit_s, j.end_s, parent=int(key),
                    trace=by_key[key].trace, job_id=j.job_id,
                    stages=len(j.stages_run), tasks=j.tasks,
                )
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.jobs_per_unit_p50": _median0(u["jobs"] for u in unit_tot),
        "spark.stages_per_unit_p50": _median0(u["stages"] for u in unit_tot),
        "spark.tasks_per_unit_p50": _median0(u["tasks"] for u in unit_tot),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": gap,
        "spark.input_bytes": tot["input_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.gc_s": tot["gc_s"],
        "python.udf_s": tot["python_udf_s"],
        "python.bytes_to_worker": tot["python_bytes_to_worker"],
        "python.bytes_from_worker": tot["python_bytes_from_worker"],
    }
