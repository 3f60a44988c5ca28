"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload market_stream --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the same
work twice, untraced then traced, and prints the per-layer metrics and the
tracing overhead. Inputs come from ``--seed``; everything the run writes
stays under ``.perfbench_run/`` in the working directory (the checkout root).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import crypto_market_data_etl_spark  # noqa: E402,F401  (fails fast outside a full checkout)

from perfbench import market_batch, market_stream  # noqa: E402
from perfbench.harness import Ctx, RssSampler, prepare_env, start_session, stop_session, work_dir  # noqa: E402
from perfbench.tracing import LAYERS, SparkCounters, Tracer  # noqa: E402

WORKLOADS = {
    "market_stream": market_stream,
    "market_batch": market_batch,
}
#: Cores for ``local[k]``: the box this benchmark was sized on has 4.
CPUS = 4

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

OPS = market_batch.OPS + market_stream.OPS
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.cpu_s": "s",
    "sources.read_kafka_log.execute_s": "s",
    "sources.read_kafka_log.rows": "count",
    "sources.write_partitioned.execute_s": "s",
    "sources.write_partitioned.bytes": "bytes",
    "sources.write_partitioned.files": "count",
    "sources.backlog_events_max": "count",
    "sources.latestOffset_ms_p50": "ms",
    "sources.getBatch_ms_p50": "ms",
    "plans.construct_s": "s",
    "plans.eager_jobs": "count",
    **{f"plans.{op}.construct_s": "s" for op in OPS},
    **{f"exec.{op}.execute_s": "s" for op in OPS},
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.rows_out": "count",
    "exec.python_rows": "count",
    "exec.python_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.addBatch_ms_p50": "ms",
    "streaming.fixed_ms_p50": "ms",
    "streaming.queryPlanning_ms_p50": "ms",
    "streaming.walCommit_ms_p50": "ms",
    "streaming.commitOffsets_ms_p50": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_pct": "%",
}


def layer_metrics(tracer: Tracer, extra: dict[str, float], peak_rss_mb: float) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals["session.start_s"] = tracer.total("session.start")
    vals["session.warmup_s"] = tracer.total("session.warmup")
    vals["session.peak_rss_mb"] = peak_rss_mb
    for op in OPS:
        vals[f"plans.{op}.construct_s"] = tracer.total(f"plans.{op}")
        vals[f"exec.{op}.execute_s"] = tracer.total(f"exec.{op}")
    vals["plans.construct_s"] = sum(vals[f"plans.{op}.construct_s"] for op in OPS)
    for layer, s in tracer.self_times().items():
        vals[f"{layer}.self_s"] = s
    for name, v in {**tracer.counters, **extra}.items():
        if name in vals:
            vals[name] = v
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="local[k] cores; 1 reproduces the single-thread baseline in README.md")
    args = ap.parse_args(argv)

    work = work_dir(ROOT)
    prepare_env(ROOT, work)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = Tracer(bool(args.trace), run_id)
    workload = WORKLOADS[args.workload]
    rss = RssSampler() if args.trace else None
    with rss or contextlib.nullcontext():
        with tracer.span("session.start"):
            spark = start_session(work, args.cpus)
        try:
            ctx = Ctx(spark, work, args.seed, args.seconds, tracer,
                      SparkCounters(spark) if args.trace else None, args.tiny)
            res = workload.run(ctx, T_START)
        finally:
            stop_session(spark)
    tracer.dump(os.path.join(work, "out", f"trace_{run_id}.json"))

    if args.trace:
        vals = layer_metrics(tracer, res["layer"], rss.peak_mb)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"workload": args.workload, "samples": res["samples"], "inputs": res["inputs"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
