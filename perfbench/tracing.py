"""Traced runs: spans around the engine's layers, Spark job counts per
operation, and the per-layer metrics computed from them.

Every probe is installed from here, by replacing a public function or
method of the engine with a timing wrapper, and removed again before the
correctness checks. Nothing in the engine knows about it. Spans are kept
in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
import weakref
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent, request id, counters)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.rid: int | None = None  # request id of the operation in flight
        self._local = threading.local()

    def call(self, name: str, fn, args, kwargs, counters=None):
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "rid": self.rid,
        }
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        try:
            out = fn(*args, **kwargs)
        finally:
            stack.pop()
            span["end"] = time.perf_counter()
        if counters is not None:
            span.update(counters(out, args))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _FunctionProbe:
    """Timing wrapper for a module-level function. Spark pickles some of
    these functions into closures for its Python workers; the wrapper
    pickles as the original, so workers run the engine untouched."""

    def __init__(self, tracer, module, attr, span, counters):
        self._tracer, self._module, self._attr = tracer, module, attr
        self._span, self._counters = span, counters
        self._orig = getattr(module, attr)
        functools.update_wrapper(self, self._orig)

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._span, self._orig, args, kwargs, self._counters)

    def __reduce__(self):
        return getattr, (self._module, self._attr)


class _ProxyModule:
    """Stands in for a module inside one other module only, so a probe on
    one of its functions cannot leak into code that Spark ships by value."""

    def __init__(self, module):
        self.__dict__.update(vars(module))


class Probes:
    """Installs and removes every span probe of a traced run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple] = []
        self.missing: list[str] = []  # probe targets the engine no longer has
        self.first_call: dict[str, weakref.WeakSet] = defaultdict(weakref.WeakSet)

    def _set(self, owner, attr, value):
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _has(self, owner, attr) -> bool:
        if hasattr(owner, attr):
            return True
        self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
        return False

    def function(self, module, attr, span, counters=None):
        if self._has(module, attr):
            self._set(module, attr, _FunctionProbe(self.tracer, module, attr, span, counters))

    def method(self, cls, attr, span, counters=None, cold=False):
        if not self._has(cls, attr):
            return
        orig = getattr(cls, attr)
        tracer, seen = self.tracer, self.first_call[f"{cls.__name__}.{attr}"]

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            name = span
            if cold and obj not in seen:  # first call on this instance
                seen.add(obj)
                name = span + ".cold"
            return tracer.call(name, orig, (obj, *args), kwargs, counters)

        self._set(cls, attr, wrapper)

    def install(self, spark) -> None:
        from nixiesearch_spark import api
        from nixiesearch_spark.index import builder, codec
        from nixiesearch_spark.query import engine, wand
        from nixiesearch_spark.streaming import incremental

        self.missing = []
        # query.wand: kernels, search-head drivers, the distributed plan
        self.function(wand, "_shard_topk", "wand.shard_topk")
        self.function(wand, "_shard_bool_topk", "wand.shard_bool_topk")
        for attr in ("_wand_topk_driver", "bool_topk_driver", "rrf_topk_driver",
                     "match_scores_driver"):
            self.function(wand, attr, "wand.driver")
        self.function(wand, "wand_topk", "wand.wand_topk")
        # index.codec, as wand sees it (the builder's own codec is untouched)
        if self._has(wand, "codec"):
            self._set(wand, "codec", _ProxyModule(codec))
            self.function(wand.codec, "decode_posting_blocks", "codec.decode",
                          lambda out, args: {"blocks": len(args[0])})
        # index.reader
        R = builder.IndexReader
        self.method(R, "fetch_packed", "reader.fetch_packed",
                    lambda out, args: {"blocks": len(out)})
        self.method(R, "term_stats", "reader.term_stats", cold=True)
        self.method(R, "ordinal_lookup", "reader.ordinal_lookup", cold=True)
        self.method(R, "field_lut", "reader.field_lut")
        # query.engine
        self.method(engine.Searcher, "search", "engine.search")
        self.method(engine.Searcher, "facet_term", "engine.facet")
        # the facet's search-head match set (memoized across consumers)
        self.method(engine.Searcher, "_match_set_driver", "engine.match_set")
        self.method(type(spark.range(1)), "collect", "engine.collect")
        # api
        self.method(api.SearchServer, "handle", "api.handle")
        if self._has(api.IndexHandle, "searcher"):
            orig_searcher = api.IndexHandle.searcher

            @functools.wraps(orig_searcher)
            def searcher(h):
                before = h._searcher
                return self.tracer.call("api.searcher", orig_searcher, (h,), {},
                                        lambda out, args: {"reopened": out is not before})

            self._set(api.IndexHandle, "searcher", searcher)
        # streaming.incremental
        self.method(incremental.IncrementalIndexer, "process_batch",
                    "streaming.process_batch")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


class SparkCounter:
    """Jobs, stages and tasks of one operation, from the status tracker:
    each operation runs under its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    def begin(self, kind: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}-{kind}"
        self.sc.setJobGroup(gid, kind)
        return gid

    def end(self, gid: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # status events arrive through the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in self.tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                out["stages"] += 1 if ran else 0
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out


BUILD_PHASES = ("prelude", "postings_write", "pack", "dictionary", "finalize_stats",
                "lineage_write")
OP_KINDS = ("search", "filtered", "visible", "push", "load")
TABLES = ("docs", "postings", "packed", "dictionary")


def _children(spans):
    kids = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids[s["parent"]].append(i)
    return kids


def _ms(s) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], ops: list[dict], build: dict, sizes: dict,
                  postings_files: int, overhead_ms: float) -> dict:
    """Per-layer metrics of a traced pass.

    ``ops``: the pass's operations, each {"rid", "kind", "ms", "spark": {...}};
    ``build``: summed IndexBuilder.timings per op kind ("load", "push");
    ``sizes``: table bytes per input byte."""
    kids = _children(spans)
    total = defaultdict(float)
    count = defaultdict(int)
    for i, s in enumerate(spans):
        name = s["name"]
        total[name] += _ms(s)
        count[name] += 1
        total[name + ".blocks"] += s.get("blocks", 0)

    def below(i, name):
        return any(spans[k]["name"] == name or below(k, name) for k in kids[i])

    routes = {"search_head": 0, "distributed": 0, "flat": 0}
    distributed_ms = 0.0
    reopen_ms = 0.0
    handle_self = 0.0
    # collects of a response frame: called by the API handler itself
    collect_ms = 0.0
    collect_by_rid = defaultdict(float)
    for s in spans:
        if s["name"] == "engine.collect" and s["parent"] is not None \
                and spans[s["parent"]]["name"] == "api.handle":
            collect_ms += _ms(s)
            collect_by_rid[s["rid"]] += _ms(s)
    distributed_rids = set()
    for i, s in enumerate(spans):
        name = s["name"]
        if name in ("engine.search", "engine.facet"):
            if below(i, "wand.wand_topk") and not below(i, "wand.driver"):
                routes["distributed"] += 1
            elif below(i, "wand.driver") or below(i, "engine.match_set"):
                routes["search_head"] += 1
            else:
                routes["flat"] += 1
        elif name == "wand.wand_topk" and not below(i, "wand.driver"):
            # the distributed plan is lazy: its jobs run at the collect
            distributed_ms += _ms(s)
            distributed_rids.add(s["rid"])
        elif name == "api.searcher" and s.get("reopened"):
            reopen_ms += _ms(s)
        elif name == "api.handle":
            handle_self += _ms(s) - sum(_ms(spans[k]) for k in kids[i])
    distributed_ms += sum(collect_by_rid[r] for r in distributed_rids)
    op_ms = defaultdict(list)
    for op in ops:
        op_ms[op["kind"]].append(op["ms"])

    m = {
        "wand.shard_topk_ms": total["wand.shard_topk"],
        "wand.shard_topk_calls": count["wand.shard_topk"],
        "wand.shard_bool_topk_ms": total["wand.shard_bool_topk"],
        "wand.shard_bool_topk_calls": count["wand.shard_bool_topk"],
        "wand.driver_ms": total["wand.driver"],
        "wand.distributed_ms": distributed_ms,
        "codec.decode_ms": total["codec.decode"],
        "codec.blocks_decoded": int(total["codec.decode.blocks"]),
        "reader.fetch_packed_ms": total["reader.fetch_packed"],
        "reader.blocks_fetched": int(total["reader.fetch_packed.blocks"]),
        "reader.decode_waste_ratio": (
            total["codec.decode.blocks"] / total["reader.fetch_packed.blocks"]
            if total["reader.fetch_packed.blocks"] else 0.0
        ),
        "reader.term_stats_ms": total["reader.term_stats"] + total["reader.term_stats.cold"],
        "reader.term_stats_cold_ms": total["reader.term_stats.cold"],
        "reader.ordinal_lookup_ms": (
            total["reader.ordinal_lookup"] + total["reader.ordinal_lookup.cold"]
        ),
        "reader.ordinal_lookup_cold_ms": total["reader.ordinal_lookup.cold"],
        "reader.field_lut_ms": total["reader.field_lut"],
        "engine.search_ms": total["engine.search"],
        "engine.facet_ms": total["engine.facet"],
        "engine.collect_ms": collect_ms,
        "route.search_head": routes["search_head"],
        "route.distributed": routes["distributed"],
        "route.flat": routes["flat"],
        "api.handle_self_ms": handle_self,
        "api.reopen_ms": reopen_ms,
        "api.push_ms": _median(op_ms["push"]),
        "api.visible_search_ms": _median(op_ms["visible"]),
        "streaming.process_batch_ms": total["streaming.process_batch"],
        "streaming.postings_files": postings_files,
        "trace.overhead_ms": overhead_ms,
    }
    for kind in ("load", "push"):
        for phase in BUILD_PHASES:
            m[f"builder.{kind}.{phase}_s"] = build.get(kind, {}).get(phase, 0.0)
    for table in TABLES:
        m[f"builder.{table}_bytes_per_input_byte"] = sizes[table]
    per_kind = defaultdict(lambda: defaultdict(int))
    n_kind = defaultdict(int)
    for op in ops:
        if op.get("spark") is None:
            continue
        n_kind[op["kind"]] += 1
        for k, v in op["spark"].items():
            per_kind[op["kind"]][k] += v
    for kind in OP_KINDS:
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            n = n_kind[kind]
            m[f"spark.{kind}.{k}"] = per_kind[kind][k] / n if n else 0.0
    return m


PER_LAYER_UNITS = {
    "_ms": "ms", "_s": "s", "_calls": "count", "_ratio": "ratio",
    "_per_input_byte": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"
