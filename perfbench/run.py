"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Prints diagnostics, then as its last line one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics; with --trace 1 the per-layer ones,
and the spans go to .bench_work/traces/. Exits non-zero without a result
when the engine cannot be imported or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402  (needs ROOT on sys.path)

END_TO_END_UNITS = {
    "search_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="corpus size (default: the workload's; the self-test uses a tiny one)")
    return p.parse_args(argv)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host.sandbox_env(work)
    try:
        import pyspark  # noqa: F401
        import nixiesearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench import tracing, workloads

    probe_pre = host.probe()
    cpu_pre = host.cpu_jiffies()
    kw = {} if args.docs is None else {"n_docs": args.docs}
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, **kw)
    mem = host.MemorySampler().start()
    phases = {}
    t_setup = time.perf_counter()
    try:
        run.setup()
        setup_s = time.perf_counter() - t_setup
        t0 = time.perf_counter()
        lat = run.timed_pass()
        phases["timed_s"] = time.perf_counter() - t0
        spans, traced_ops, overhead_ms = [], [], 0.0
        if args.trace:
            t0 = time.perf_counter()
            with run.traced():
                run.timed_pass()
                if args.workload == "serve":
                    # the push-side layers, after the timed requests
                    run.push_cycle(reads=("filtered",))
            # the layer metrics come from set-up's build and the traced pass
            spans = list(run.tracer.spans)
            traced_ops = [r for r in run.ops if "spark" in r]
            overhead_ms = run.trace_overhead()
            del run.tracer.spans[len(spans):]
            phases["traced_s"] = time.perf_counter() - t0
        size_ratio, table_ratio = run.index_sizes()
        postings_files = run.postings_files()
    finally:
        mem.stop()
        t0 = time.perf_counter()
        run.teardown()
        phases["teardown_s"] = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
    steal = host.steal_share(cpu_pre, host.cpu_jiffies())
    probe_post = host.probe()
    leftover = host.still_running(mem.children)

    by_label: dict[str, list[float]] = {}
    for r in run.ops:
        if not r["error"]:
            by_label.setdefault(r["label"], []).append(r["ms"])
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "probe_pre": probe_pre, "probe_post": probe_post,
        "steal_share": steal,
        "timed_requests": len(lat), "op_count": len(run.ops),
        "visible_ms": run.visible_ms,
        "wall_s": time.perf_counter() - T_START, "setup_s": setup_s,
        "check_s": run.check_s, **phases, "errors": run.errors[:20],
        "leftover_processes": leftover,
        "peak_memory_parts_mb": mem.peak_parts,
        "median_ms_by_label": {k: workloads.median(v) for k, v in sorted(by_label.items())},
    }
    if args.trace:
        diagnostics["missing_probes"] = run.probes.missing
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.jsonl"))
        per_layer = tracing.layer_metrics(
            spans, traced_ops, run.build_timings, table_ratio, postings_files, overhead_ms)
        metrics = {k: _metric(v, tracing.unit_of(k)) for k, v in per_layer.items()}
    else:
        values = {
            "search_ms": statistics.fmean(lat),
            "setup_s": setup_s,
            "peak_rss_mb": mem.peak_mb,
            "index_bytes_per_input_byte": size_ratio,
        }
        metrics = {k: _metric(v, END_TO_END_UNITS[k]) for k, v in values.items()}
    print(json.dumps({"diagnostics": diagnostics}))
    failed = run.failed()
    result = {
        "correct": failed == 0 and not leftover and bool(lat),
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
