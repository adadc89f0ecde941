"""Benchmark of the continuously maintained one-to-many join.

    python3 perfbench/run.py --workload stream_churn_fanout --seed 1 --seconds 15 --trace 0

Prints one ``name value unit`` line per metric, then, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a separately traced run, whose spans are written to
``perfbench/traces/<workload>-<seed>.json``.  Exits non-zero, without a
result line, when the program cannot be imported or a query fails.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys

from host import BENCH_DIR, ROOT, Host, cores
from tracing import Tracer

WORKLOADS = ("stream_churn_fanout", "batch_trace_skewed")

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "joined_rows_per_s": "1/s",
    "step_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

_STAGE = {
    "busy_s": "s", "add_batch_ms": "ms", "overhead_ms": "ms", "state_rows": "count",
    "state_rows_updated": "count", "state_commit_ms": "ms", "rows_in": "count",
    "rows_out": "count",
}
_OPERATORS = ("latest_by_key", "one_to_many_join", "car_moves", "arrive_leave_events",
              "asof_join", "bucketed_interval_join", "one_to_many_join_trace")
PER_LAYER = {
    **{f"stage1.{k}": u for k, u in _STAGE.items()},
    **{f"stage2.{k}": u for k, u in _STAGE.items()},
    "stage2.fanout_ratio": "ratio",
    "model.decode_json_s": "s",
    "model.corrupt_records": "count",
    "sources.list_ms": "ms",
    "sources.sink_rows": "count",
    **{f"operators.{op}_s": "s" for op in _OPERATORS},
    "operators.trace_rows": "count",
    "operators.trace_shuffles": "count",
    "operators.trace_scans": "count",
    "session.start_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "parallel_speedup": "ratio",
    "trace_overhead_frac": "ratio",
}


def _workload(host: Host, workload: str, seed: int):
    if workload.startswith("stream_"):
        from streaming_workload import StreamingRun

        return StreamingRun(host, workload, seed)
    from batch_workload import BatchRun

    return BatchRun(host, seed)


def _phase(run, n_cores: int, seconds: float, tr: Tracer) -> dict:
    """Set up, run the timed loop, check the output."""
    res = {"setup": run.setup(n_cores)}
    res.update(run.timed(seconds, tr))
    print(f"setup {res['setup']:.2f} s, timed {res['wall']:.2f} s, steps {res['latencies']}",
          file=sys.stderr)
    res["correct"], res["joined"] = run.finish()
    res["p50"] = statistics.median(res["latencies"])
    return res


def end_to_end(host: Host, run, seconds: float) -> tuple[bool, int, dict]:
    res = _phase(run, cores(), seconds, Tracer(False))
    metrics = {
        "setup_s": res["setup"],
        "events_per_s": res["events"] / res["wall"],
        "joined_rows_per_s": res["joined"] / res["wall"],
        "step_latency_p50_s": res["p50"],
        "peak_rss_mb": host.peak_rss_mb(),
    }
    return res["correct"], len(res["latencies"]), metrics


def per_layer(host: Host, run, workload: str, seed: int, seconds: float) -> tuple[bool, int, dict]:
    """Untraced, traced and single-core phases in one process: the traced
    phase gives the per-layer counters; the untraced phase is the base of
    the tracing overhead and of the single-core slowdown, both compared on
    median step latency (the traced phase also runs per-layer queries
    between steps, outside the steps)."""
    plain = _phase(run, cores(), seconds / 3, Tracer(False))
    tr = Tracer(True)
    traced = _phase(run, cores(), seconds / 2, tr)
    single = _phase(run, 1, seconds / 3, Tracer(False))
    layers = traced["layers"]
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update({k: statistics.median(c[k] for c in layers) for k in layers[0]})
    metrics["session.start_s"] = host.cold_start_s
    metrics["parallel_speedup"] = single["p50"] / plain["p50"]
    metrics["trace_overhead_frac"] = traced["p50"] / plain["p50"] - 1.0
    tr.write(
        os.path.join(BENCH_DIR, "traces", f"{workload}-{seed}.json"),
        workload=workload, seed=seed, per_step=layers, metrics=metrics,
        latencies={"untraced": plain["latencies"], "traced": traced["latencies"],
                   "single_core": single["latencies"]},
    )
    phases = (plain, traced, single)
    return (all(p["correct"] for p in phases), sum(len(p["latencies"]) for p in phases),
            metrics)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops the JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    import kafka_streams_one_to_many_join_spark  # noqa: F401  (fails fast without the program)

    host = Host(args.workload, args.seed)
    try:
        run = _workload(host, args.workload, args.seed)
        if args.trace:
            correct, attempted, metrics = per_layer(
                host, run, args.workload, args.seed, args.seconds)
            units = PER_LAYER
        else:
            correct, attempted, metrics = end_to_end(host, run, args.seconds)
            units = END_TO_END
    finally:
        host.close()
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
