"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload route_live --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` measures and prints the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, the
fabric wrappers and the spans, and prints the per-layer metrics
instead (metric names, units and workloads are read from
``BENCHMARK.json``). A per-layer metric of a layer the workload does
not exercise reads 0. The spans of a traced run are written to
``.perfbench/traces/<workload>-seed<seed>.json``.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The exit code is non-zero, with no result line, when the run cannot
complete (for example outside a checkout of the program).
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import runtime  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

class Context:
    """What a workload gets from the runner."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self._spark = None

    def start_sessions(self):
        with self.tracer.span("setup.sessions"):
            self._spark, times = runtime.start_sessions(self.work, self.tracer.enabled)
        return self._spark, times

    def stop(self) -> None:
        if self._spark is not None:
            runtime.shutdown(self._spark)
            self._spark = None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metrics_line(spec: dict, result: dict, trace: bool) -> dict:
    """The result line: every end-to-end metric (untraced run) or every
    per-layer metric (traced run), by name with its unit."""
    if trace:
        # the traced run's own end-to-end figures ride along, so the
        # tracing overhead reads off against untraced runs
        source = result["layers"] | {f"traced.{k}": v for k, v in result["e2e"].items()}
        wanted = spec["per_layer"]
    else:
        source, wanted = result["e2e"], spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if trace:
            value = source.get(m["name"], 0)
        else:
            value = source[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    # each workload is the module of the same name in this package
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any work when the program is not here
    if importlib.util.find_spec("ziggurat_spark") is None:
        print("perfbench: ziggurat_spark is not importable from " + ROOT, file=sys.stderr)
        return 2

    trace = bool(args.trace)
    # before the program is imported: its session module reads the CPU
    # count (shuffle partitions) from the environment at import time
    work = runtime.prepare_workdir(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args.seed, args.seconds, trace, work)
    workload = importlib.import_module(f"perfbench.{args.workload}")
    t0 = time.time()
    try:
        with ctx.tracer.span("run", trace=f"{args.workload}-{args.seed}"):
            result = workload.run(ctx)
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
    line = metrics_line(spec, result, trace)
    if trace:
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            summary={"wall_s": time.time() - t0, **line},
        )
    print(json.dumps({"phases_s": result["phases"], "wall_s": time.time() - t0}), file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
