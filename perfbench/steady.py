"""Steadiness evidence: run the benchmark over several seeds per workload
and report each end-to-end metric's spread, the distance between its first
and third quartile as a share of its median (statistics.quantiles, n=4).
With --repeat, also run the traced mode twice on one seed per workload and
check that every count-type per-layer metric repeats exactly.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/evidence/steady.json
    python3 perfbench/steady.py --seeds 1-5 --workloads ingest   # a quick look
    python3 perfbench/steady.py --seeds 1-10 --baseline perfbench/evidence/steady.json

With --baseline, also check that each median is no worse than the
baseline's median by more than the metric's bound: two sets of runs of the
same code must agree within the bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNT_UNITS = ("count",)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": result, "diagnostics": diag}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--repeat", type=int, default=None, metavar="SEED",
                   help="also run the traced mode twice on this seed per workload")
    p.add_argument("--baseline", default=None, metavar="FILE",
                   help="an earlier --out of the same code to compare medians with")
    p.add_argument("--out", default=None)
    args = p.parse_args()
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    base = None
    if args.baseline:
        with open(args.baseline) as f:
            base = json.load(f)["summary"]
    seeds = parse_seeds(args.seeds)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in seeds:  # interleaved, so a slow window hits every workload
        for w in args.workloads:
            r = run_once(w, seed, args.seconds, 0)
            runs.append(r)
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct={r['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items()),
                  flush=True)
    summary = {}
    ok = True
    for w in args.workloads:
        rs = [r for r in runs if r["workload"] == w]
        summary[w] = {}
        for name, bound in bounds.items():
            med, sp = spread([r["result"]["metrics"][name]["value"] for r in rs])
            target = sp < bound / 3
            ok &= sp <= bound
            summary[w][name] = {"median": med, "spread": sp, "bound": bound,
                                "below_third_of_bound": sp < bound / 3}
            print(f"{w:8s} {name:28s} median={med:12.4f} spread={sp:.4f} "
                  f"bound={bound} {'ok' if target else 'within bound' if sp <= bound else 'WIDE'}")
            if base is not None and w in base:
                ref = base[w][name]["median"]
                worse = (med - ref if better[name] == "lower" else ref - med) / ref
                ok &= worse <= bound
                summary[w][name]["worse_than_baseline"] = worse
                print(f"{'':8s} {name:28s} baseline={ref:12.4f} worse_by={worse:+.4f} "
                      f"{'ok' if worse <= bound else 'REGRESSED'}")
        summary[w]["errors"] = sum(r["result"]["failed"] for r in rs)
        summary[w]["all_correct"] = all(r["result"]["correct"] for r in rs)
        summary[w]["wall_s_total"] = sum(r["wall_s"] for r in rs)

    repeats = {}
    if args.repeat is not None:
        for w in args.workloads:
            a, b = (run_once(w, args.repeat, args.seconds, 1) for _ in range(2))
            ma, mb = a["result"]["metrics"], b["result"]["metrics"]
            counts = [k for k, v in ma.items() if v["unit"] in COUNT_UNITS]
            differ = {k: (ma[k]["value"], mb[k]["value"]) for k in counts
                      if ma[k]["value"] != mb[k]["value"]}
            repeats[w] = {"seed": args.repeat, "count_metrics": len(counts),
                          "differ": differ, "runs": [a, b]}
            ok &= not differ
            print(f"{w}: {len(counts)} count metrics, {len(differ)} differ {differ or ''}")

    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump({"seconds": args.seconds, "seeds": seeds, "summary": summary,
                       "repeats": repeats, "runs": runs}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
