"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py            # static + unit checks, then tiny runs
    python3 perfbench/selftest.py --no-spark # static + unit checks only (seconds)

Static: BENCHMARK.json has the required shape and names exactly the
metrics run.py prints. Unit: seeded inputs repeat, probes pickle back to
the engine's own functions, self time and routes come out of synthetic
spans as expected. Tiny runs: both workloads on a 200-doc corpus, untraced
and traced, must print a correct result with every metric; a directory
holding only BENCHMARK.json and perfbench/ must fail without a result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_benchmark_json() -> dict:
    from perfbench import run, tracing

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}, sorted(b)
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for sect in ("workloads", "end_to_end", "per_layer") for m in b[sect]]
    assert len(names) == len(set(names)), "metric and workload names must be unique"
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) for s in ("end_to_end", "per_layer") for m in b[s])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END_UNITS
    emitted = tracing.layer_metrics([], [], {}, {t: 0.0 for t in tracing.TABLES}, 0, 0.0)
    assert [m["name"] for m in b["per_layer"]] == list(emitted)
    assert all(m["unit"] == tracing.unit_of(m["name"]) for m in b["per_layer"])
    assert len(json.dumps(b)) <= 64 * 1024
    return b


def check_units() -> None:
    import numpy as np

    from perfbench import inputs, steady, tracing

    a = inputs.make_docs(5, np.random.default_rng([7, 0]), "x", marker="m")
    assert a == inputs.make_docs(5, np.random.default_rng([7, 0]), "x", marker="m")
    assert all(d["content"].endswith(" m") for d in a)
    ra = inputs.RequestGen(np.random.default_rng(1)).mix(20)
    assert ra == inputs.RequestGen(np.random.default_rng(1)).mix(20)

    med, sp = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and math.isclose(sp, (4.5 - 1.5) / 3.0)

    # a probed module function pickles as the original (Spark ships some
    # of them to its Python workers inside closures)
    from pyspark import cloudpickle

    from nixiesearch_spark.query import wand

    orig = wand._shard_topk
    probes = tracing.Probes(tracing.Tracer())
    probes.function(wand, "_shard_topk", "wand.shard_topk")
    try:
        assert wand._shard_topk is not orig
        shipped = cloudpickle.dumps(wand._shard_topk)
        probes.function(wand, "no_such_function", "x")
        assert probes.missing == ["nixiesearch_spark.query.wand.no_such_function"]
    finally:
        probes.uninstall()
    assert wand._shard_topk is orig
    # a worker's copy of the module is unprobed: the pickle resolves there
    assert cloudpickle.loads(shipped) is orig

    # self time and route from synthetic spans: handle(10ms) > search(6ms)
    # > wand_topk(5ms) > driver(4ms); the handle's self time is 4 ms
    def span(name, start, end, parent):
        return {"name": name, "start": start, "end": end, "parent": parent, "rid": 0}

    spans = [span("api.handle", 0.0, 0.010, None), span("engine.search", 0.001, 0.007, 0),
             span("wand.wand_topk", 0.001, 0.006, 1), span("wand.driver", 0.002, 0.006, 2)]
    m = tracing.layer_metrics(spans, [], {}, {t: 0.0 for t in tracing.TABLES}, 0, 0.0)
    assert math.isclose(m["api.handle_self_ms"], 4.0)
    assert (m["route.search_head"], m["route.distributed"], m["route.flat"]) == (1, 0, 0)
    assert m["wand.distributed_ms"] == 0.0


def run_tiny(workload: str, trace: int, bench: dict) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--docs", "200"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = bench["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
        if not trace:
            assert v["value"] > 0, (k, v)
    print(f"  {workload} trace={trace}: ok ({res['attempted']} operations)", flush=True)


def run_without_engine() -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark must exit non-zero and print no result."""
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "evidence"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0, p.stdout
        assert '"metrics"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--no-spark", action="store_true", help="skip the tiny Spark runs")
    args = p.parse_args()
    bench = check_benchmark_json()
    print("BENCHMARK.json: ok", flush=True)
    check_units()
    print("unit checks: ok", flush=True)
    run_without_engine()
    print("bare directory: exits non-zero without a result", flush=True)
    if not args.no_spark:
        for w in (w["name"] for w in bench["workloads"]):
            for trace in (0, 1):
                run_tiny(w, trace, bench)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
