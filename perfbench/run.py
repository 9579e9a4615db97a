#!/usr/bin/env python3
"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload detect-hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload inputs are generated from
``--seed``; the program sees only the generated files. ``--trace 0``
measures the end-to-end metrics with tracing off; ``--trace 1`` runs the
traced legs and reports the per-layer metrics (see perfbench/README.md).
Every run checks the program's outputs against a reference that shares
no code with it.

The last stdout line is one JSON object with exactly the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries the run's details and host context. Spans of a traced run
are written to ``.perfbench/trace-<workload>-<seed>.jsonl``. All other
scratch files live under ``.perfbench/work-<pid>`` and are removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per --trace 0 run, all in one session; setup_s is the median
#: of their CPU times. Only the first one launches the JVM and starts
#: the session, so the median is the program's own set-up.
SETUPS = 3

#: the end-to-end metrics and their units
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_row": "ms",
    "peak_rss_mb": "MB",
}


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def _tail(xs: list[float]) -> float | None:
    """The highest order statistic with at least ten samples above it;
    ``None`` below eleven samples, where there is none."""
    return sorted(xs)[len(xs) - 11] if len(xs) >= 11 else None


def summarize(res) -> dict:
    """Every figure of one leg: the end-to-end values, the wall-time
    figures (reported, not gated: see perfbench/README.md) and the
    per-step details."""
    steps = [p["durationMs"]["triggerExecution"] for p in res.progress]
    return {
        "setup_s": res.setup_s,
        "cpu_ms_per_row": 1000.0 * sum(res.step_cpu_s) / sum(res.step_rows),
        "peak_rss_mb": res.peak_rss / 2**20,
        "rows_per_s": sum(res.step_rows) / sum(res.step_wall_s),
        "step_ms_p50": _median(steps),
        "step_ms_tail": _tail(steps),
        "steps": len(steps),
        "step_ms": steps,
        "step_cpu_ms": [round(c * 1000) for c in res.step_cpu_s],
        "step_jit_ms": [round(c * 1000) for c in res.step_jit_s],
        "rows": sum(res.step_rows),
        "drain_s": sum(res.step_wall_s),
    }


def measure(args, work: str) -> tuple[dict, dict, int, int]:
    """The workload's set-ups, all in one session; the first also starts
    the session (and so launches the JVM). The last set-up's query is
    warmed up and measured."""
    import host
    from workloads import Leg, make_inputs

    t0 = time.perf_counter()
    inputs = make_inputs(args.workload, args.seed)
    inputs_s = time.perf_counter() - t0
    setups, setups_cpu, setups_jit, spark, leg = [], [], [], None, None
    for k in range(SETUPS):
        if leg is not None:
            leg.stop()
        cpu0, jit0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        if spark is None:
            spark = host.start_session(host.cores(), work)
        leg = Leg(args.workload, inputs, os.path.join(work, f"setup{k}"), spark)
        leg.setup()
        setups.append(time.perf_counter() - t0)
        cpu1, jit1 = host.tree_cpu_s()
        setups_cpu.append((cpu1 - cpu0) - (jit1 - jit0))
        setups_jit.append(jit1 - jit0)
    warm_s = leg.warm_up(leg.cfg["warm_steps"])
    res = leg.measure(_median(setups_cpu), args.seconds)
    info = summarize(res)
    values = {k: info.pop(k) for k in END_TO_END}
    info.update(res.detail, setups_s=setups, setups_cpu_s=setups_cpu,
                setups_jit_s=setups_jit, inputs_s=inputs_s, warm_up_s=warm_s,
                calibration_s=host.calibration_s(spark))
    spark.stop()
    return values, info, res.attempted, res.failed


def measure_traced(args, work: str) -> tuple[dict, dict, int, int]:
    """A throwaway warm-up query, then three measured legs of
    ``seconds / 2`` (at least one step), each with its own set-up:
    untraced and traced at local[N] in the warm-up's session, then
    traced at local[1] in a session of its own. The per-layer numbers
    come from the traced local[N] leg; the untraced leg gives the
    tracing overhead, the local[1] leg the core scaling."""
    import host
    import tracing
    from stream_sentinel_spark.metrics import SentinelMetricsListener
    from workloads import Leg, make_inputs

    cores = host.cores()
    inputs = make_inputs(args.workload, args.seed)
    spark = host.start_session(cores, work)
    warm = Leg(args.workload, inputs, os.path.join(work, "warm"), spark)
    warm.setup()
    warm.warm_up(warm.cfg["warm_steps"])
    warm.stop()
    legs: dict = {}
    attempted = failed = 0
    for label, cpus, traced in (("untraced", cores, False),
                                ("traced", cores, True),
                                ("local1", 1, True)):
        if cpus != cores:
            spark.stop()
            spark = host.start_session(cpus, work)
        tracer, listener = tracing.Tracer(), SentinelMetricsListener()
        if traced:
            tracer.install()
            spark.streams.addListener(listener)
        try:
            cpu0, jit0 = host.tree_cpu_s()
            leg = Leg(args.workload, inputs, os.path.join(work, label), spark)
            leg.setup()
            cpu1, jit1 = host.tree_cpu_s()
            setup_s = (cpu1 - cpu0) - (jit1 - jit0)
            leg.warm_up(leg.cfg["query_warm_steps"])
            res = leg.measure(setup_s, args.seconds / 2, min_steps=1)
        finally:
            tracer.uninstall()
        attempted += res.attempted
        failed += res.failed
        legs[label] = {**summarize(res), **res.detail}
        if label == "traced":
            jobs, stages = tracing.read_status_store(spark)
            spans = tracing.build_spans(tracer, res.progress, jobs)
            layer = tracing.layer_metrics(spans, res.progress, stages, cpus)
            layer.update(tracing.setup_metrics(spans))
            fed = sum(leg.fed_rows)
            layer["listener.events_ratio"] = _settled(listener, fed) / fed
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tracing.dump(os.path.join(
                ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"
            ), spans)
        if traced:
            spark.streams.removeListener(listener)
    spark.stop()
    a, b, c = (legs[k] for k in ("untraced", "traced", "local1"))
    layer["trace.overhead_frac"] = b["step_ms_p50"] / a["step_ms_p50"] - 1.0
    layer["scale.speedup_local1"] = b["rows_per_s"] / c["rows_per_s"]
    return layer, {"legs": legs}, attempted, failed


def _settled(listener, expected: int, timeout_s: float = 10.0) -> int:
    """The listener's event count once its asynchronous delivery has
    caught up: at least ``expected`` and unchanged for half a second,
    or whatever it reads after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    last, since = -1, time.monotonic()
    while time.monotonic() < deadline:
        n = listener.events_processed
        if n != last:
            last, since = n, time.monotonic()
        elif n >= expected and time.monotonic() - since > 0.5:
            break
        time.sleep(0.1)
    return listener.events_processed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    # the Python workers the JVM forks import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import stream_sentinel_spark  # noqa: F401  (fails outside a checkout)
    import host
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    host.confine_temp_files(work)
    context = {"nproc": host.nproc(), "cores": host.cores(),
               "loadavg_start": host.loadavg()}
    steal0 = host.steal_s()
    try:
        if args.trace:
            values, info, attempted, failed = measure_traced(args, work)
            units = tracing.PER_LAYER
        else:
            values, info, attempted, failed = measure(args, work)
            units = END_TO_END
    finally:
        host.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_end"] = host.loadavg()
    context["steal_s"] = host.steal_s() - steal0
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "failed_frac": failed / max(attempted, 1),
                      "host": context, **info}))
    metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
