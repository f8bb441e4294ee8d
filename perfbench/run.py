"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 20 --trace 0

Workloads: cdc_live and query_mix.

Runs one workload in one process against the engine in this checkout and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run switches on
Spark's event log and the benchmark's spans and reports the per-layer
metrics instead (see README.md). Exits 1 when an output is wrong, 2 when
the engine cannot be loaded.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from runtime import ROOT, Outcome, make_workdir, start_spark, stop_spark  # noqa: E402

sys.path.insert(1, ROOT)

# Metric names and units come from BENCHMARK.json at the checkout's root.
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _spec = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}

# A run that hangs is stopped and reported as failed well inside the
# three minutes a run may take.
DEADLINE_S = 120


def _workloads():
    import cdc
    import queries

    return {"cdc_live": cdc.cdc_live, "query_mix": queries.query_mix}


def _write_trace(path: str, tracer, layers: dict) -> None:
    spans = [
        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "ref": s.ref, "error": s.error}
        for s in sorted(tracer.spans, key=lambda s: s.start)
    ]
    with open(path, "w") as f:
        json.dump({"layers": layers, "spans": spans}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["cdc_live", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import postgres_cdc_reconciliation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot load the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from spans import Tracer

    work = make_workdir(args.workload, args.seed)
    tracer = Tracer() if args.trace else None
    out = Outcome()
    timed_start: list[float] = []

    def begin_timed() -> None:
        """Called by a workload when set-up ends; spans cover what follows."""
        if not timed_start:
            timed_start.append(time.perf_counter())
            if tracer is not None:
                tracer.reset()

    def overrun(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        spark = start_spark(work, bool(args.trace))
        _workloads()[args.workload](spark, work, args.seed, args.seconds, tracer, begin_timed, out)
    except Exception:
        traceback.print_exc()
        out.check(False, "workload raised")
    finally:
        signal.alarm(0)
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = (timed_start[0] if timed_start else time.perf_counter()) - PROCESS_START
    out.metrics["setup_s"] = setup_s
    for line in out.report:
        print(line)
    for what in out.mismatches:
        print(f"FAILED: {what}", file=sys.stderr)
    correct = out.failed == 0 and all(k in out.metrics for k in END_TO_END)

    if args.trace:
        out.layers["failed_share"] = out.failed / max(out.attempted, 1)
        for k in END_TO_END:
            out.layers[f"trace.{k}"] = out.metrics.get(k, 0.0)
        layers = {k: float(out.layers.get(k, 0.0)) for k in PER_LAYER}
        _write_trace(os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"), tracer, layers)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(out.metrics.get(k, 0.0)), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {"correct": correct, "attempted": max(out.attempted, 1), "failed": out.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
