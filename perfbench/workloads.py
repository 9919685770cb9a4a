"""The two workloads and the run that drives them.

Both are closed loops with one client: the server serialises engine work
behind one lock, so a second client would only queue. Requests go through
``SearchServer.handle`` in-process, the HTTP API without the socket.

Both set up the same way: a bulk ``IndexBuilder.build`` of the seed corpus
on a fresh session, then a warm-up of every path the timed pass takes.
Both time a seeded set of distinct requests (the READ_KINDS mix), issued in
rounds; the figure is each request's fastest issue, averaged over the set.

serve   a static index. Every request takes a search-head route, so the
        numpy kernels, the pyarrow reads and the codec do the work and the
        builder does none after set-up.
ingest  the same index fed through the REST push source: a push cycle
        pushes 100 docs tagged with a marker term and searches the marker,
        which must return the batch. The request rounds read the pushed
        index. Set-up makes one push cycle; a traced pass makes another
        before its rounds, so they meet a re-opened reader's cold caches.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import numpy as np

from perfbench import checks, host, tracing
from perfbench.inputs import FIELD, READ_KINDS, RequestGen, make_docs

# Sizes are set by the run-time budget, not by the engine: every run pays a
# JVM start and a cold first build (~35 s whatever the size), and a full
# measurement is 48 runs. Pushes cost ~10 s at 8 shards, ~13.5 s at 32.
N_DOCS = 1000  # seed corpus, ~3.7 MB of text
N_SHARDS = 8
CORES = 4  # local[4]
PUSH_DOCS = 100
# The timed set: REQUESTS_PER_KIND distinct requests of each read kind,
# issued in rounds, ROUNDS_PER_10S per 10 s of --seconds (a round takes
# ~1.6 s). Runs time a fixed number of operations, not a duration.
REQUESTS_PER_KIND = 3
ROUNDS_PER_10S = 5
CHECKED_PER_PASS = 1  # sampled requests compared per pass
WARMUP_PER_KIND = 1  # untimed requests of each read kind before timing
OVERHEAD_PER_KIND = 2  # traced runs: requests of each read kind replayed
OVERHEAD_PAIRS = 2  # traced runs: untraced/traced pairs per replayed request
# reads after each push: set-up's push cycle reads just enough to check the
# pushed index; a traced one reads every kind, the filtered one included,
# to measure each layer on a re-opened reader.
READS_AFTER_PUSH = ("match_or",)
TRACED_READS_AFTER_PUSH = ("filtered", *READ_KINDS)
INDEX = "bench"
WORKLOADS = ("serve", "ingest")


def _ndjson(docs: list[dict]) -> bytes:
    return "\n".join(json.dumps(d) for d in docs).encode()


def _input_bytes(docs: list[dict]) -> int:
    return sum(len(str(v).encode()) for d in docs for v in d.values())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


class Run:
    """One benchmark run: set-up, timed passes, checks and teardown."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str,
                 n_docs: int = N_DOCS):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r} (choose from {WORKLOADS})")
        self.workload, self.seconds, self.trace, self.n_docs = workload, seconds, trace, n_docs
        self.index_dir = os.path.join(work, "index")
        streams = ("corpus", "requests", "push", "sample", "warmup", "overhead", "order")
        self.rng = {s: np.random.default_rng([seed, i]) for i, s in enumerate(streams)}
        self.requests = RequestGen(self.rng["requests"])
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.docs: list[dict] = []  # every document indexed so far
        self.ids: list[int] = []  # their docids, filled in by the checks
        self.build_timings = {"load": {}, "push": {}}
        self.cycle = 0
        self.visible_ms: list[float] = []  # push start until the marker search returns
        self.tracer = self.probes = self.counter = None
        self._tracing = False
        self.check_s = 0.0  # time spent computing reference answers
        self._in_check = False
        self._ref = None  # (docs indexed, their Checker)

    # ------------------------------------------------------------ operations

    def _op(self, kind: str, fn, label: str | None = None) -> dict:
        """Run one operation, timed; a failure is recorded, not raised."""
        rid = len(self.ops)
        gid = None
        if self._tracing:
            self.tracer.rid = rid
        if self.counter is not None:
            gid = self.counter.begin(kind)
        err, payload = None, None
        t0 = time.perf_counter()
        try:
            payload = fn()
        except Exception as e:  # the run goes on; the failure counts
            err = f"{type(e).__name__}: {e}"
        ms = (time.perf_counter() - t0) * 1000.0
        rec = {"rid": rid, "kind": kind, "label": label or kind, "ms": ms, "error": err,
               "payload": payload, "traced": self._tracing}
        if gid is not None:
            rec["spark"] = self.counter.end(gid)
        if self._tracing:
            self.tracer.rid = None
        self.ops.append(rec)
        if err:
            self.errors.append(f"{label or kind} #{rid}: {err}")
        return rec

    def _handle(self, path: str, body: bytes, headers: dict | None = None):
        status, payload, _ = self.srv.handle("POST", path, body, headers or {})
        if status != 200:
            raise RuntimeError(f"HTTP {status}")
        return payload

    def search(self, label: str, body: dict, kind: str | None = None) -> dict:
        kind = kind or ("filtered" if "filters" in body else "search")
        raw = json.dumps(body).encode()
        rec = self._op(kind, lambda: self._handle(f"/v1/index/{INDEX}/search", raw), label)
        rec["body"] = body
        return rec

    def push(self, docs: list[dict], label: str = "push") -> dict:
        raw = _ndjson(docs)
        before = dict(self._indexer_timings())
        rec = self._op("push", lambda: self._handle(
            f"/v1/index/{INDEX}", raw, {"Content-Type": "application/x-ndjson"}), label)
        self.docs += docs
        if rec["traced"]:
            self._add_timings("push", before, self._indexer_timings())
        return rec

    def _indexer_timings(self) -> dict:
        return self.srv.indexes[INDEX].indexer().builder.timings

    def _add_timings(self, kind: str, before: dict, after: dict) -> None:
        acc = self.build_timings[kind]
        for k, v in after.items():
            acc[k] = acc.get(k, 0.0) + v - before.get(k, 0.0)

    @contextmanager
    def traced(self):
        """Spans and Spark job groups on, in trace mode only."""
        if not self.trace:
            yield
            return
        self.probes.install(self.spark)
        self.counter = tracing.SparkCounter(self.spark.sparkContext)
        self._tracing = True
        try:
            yield
        finally:
            self._tracing = False
            self.counter = None
            self.probes.uninstall()

    # ---------------------------------------------------------------- set-up

    def setup(self) -> None:
        import pandas as pd

        from nixiesearch_spark.api import SearchServer
        from nixiesearch_spark.index import IndexBuilder, IndexConfig
        from nixiesearch_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=CORES, serving=True,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer = tracing.Tracer()
            self.probes = tracing.Probes(self.tracer)
            self.counter = tracing.SparkCounter(self.spark.sparkContext)
        cfg = IndexConfig(text_fields=(FIELD,), n_shards=N_SHARDS)
        base = make_docs(self.n_docs, self.rng["corpus"], "base")
        b = IndexBuilder(self.spark, cfg)
        self._op("load", lambda: b.build(
            self.spark.createDataFrame(pd.DataFrame(base)), self.index_dir, resume=False))
        self.build_timings["load"] = dict(b.timings)
        self.docs += base
        self.counter = None
        self.srv = SearchServer(self.spark, host="127.0.0.1", port=0)
        self.srv.add_index(INDEX, self.index_dir, config=cfg)
        self.warm_up()

    def warm_up(self) -> None:
        """Run, untimed, every path the timed pass takes: on ingest, one
        whole push cycle; then WARMUP_PER_KIND requests of each read kind
        (and of filtered ones, which a traced pass issues)."""
        warm = RequestGen(self.rng["warmup"])
        kinds = READ_KINDS + ("filtered",) if self.trace else READ_KINDS
        if self.workload == "ingest":
            self.push_cycle(label="warmup:")
        for k in kinds * WARMUP_PER_KIND:
            self.search(f"warmup:{k}", warm.request(k))

    # ---------------------------------------------------------------- passes

    def search_rounds(self) -> list[float]:
        """Issue a seeded set of distinct requests, REQUESTS_PER_KIND of each
        read kind, in rounds, each round in a fresh seeded order, and return
        each request's fastest latency. On a VM whose cores other tenants
        share (4 vCPUs, measured), CPU speed drifts by up to 2x within
        seconds while its fastest moments stay put; the fastest of a
        request's issues, spread over the pass, is the least disturbed."""
        reqs = self.requests.mix(REQUESTS_PER_KIND * len(READ_KINDS))
        best = [math.inf] * len(reqs)
        recs = []
        for _ in range(max(round(ROUNDS_PER_10S * self.seconds / 10), 1)):
            for i in self.rng["order"].permutation(len(reqs)):
                kind, body = reqs[i]
                rec = self.search(kind, body)
                recs.append(rec)
                if not rec["error"]:
                    best[i] = min(best[i], rec["ms"])
        sample = self.rng["sample"].choice(len(recs), size=min(CHECKED_PER_PASS, len(recs)),
                                           replace=False)
        self._check([recs[i] for i in sorted(sample)])
        return [b for b in best if b < math.inf]

    def push_cycle(self, reads: tuple | None = None, label: str = "") -> None:
        """Push a marked batch and time it until the marker search returns
        the whole batch, then issue one request of each of ``reads``
        (default: READS_AFTER_PUSH, or TRACED_READS_AFTER_PUSH when traced)
        and check them. ``label`` prefixes the operations' labels. The
        visible latency goes to ``visible_ms``."""
        if reads is None:
            reads = TRACED_READS_AFTER_PUSH if self._tracing else READS_AFTER_PUSH
        marker = f"zzpush{self.cycle:04d}"
        batch = make_docs(PUSH_DOCS, self.rng["push"], f"push{self.cycle}", marker=marker)
        self.cycle += 1
        t0 = time.perf_counter()
        pushed = self.push(batch, label + "push")
        seen = self.search(label + "visible", {"query": {"match": {FIELD: marker}},
                                               "size": PUSH_DOCS + 10}, kind="visible")
        visible_ms = (time.perf_counter() - t0) * 1000.0
        recs = [self.search(label + k, self.requests.request(k)) for k in reads]
        with self._checking():
            self._check_marker(seen, batch)
            self._check(recs)
        if not (pushed["error"] or seen["error"]):
            self.visible_ms.append(visible_ms)

    def timed_pass(self) -> list[float]:
        """The workload's timed requests; returns each one's fastest
        latency. A traced ingest pass pushes first, to trace the push and
        the cold reads after it."""
        if self.workload == "ingest" and self._tracing:
            self.push_cycle()
        return self.search_rounds()

    def trace_overhead(self) -> float:
        """Tracing overhead in ms: the median, over read requests, of one
        request's fastest traced minus its fastest untraced latency. Each
        request is issued once to warm it, then OVERHEAD_PAIRS times
        untraced and traced back to back, in an order that alternates so
        neither side is always second. The fastest of each side drops the
        host's noise, which is larger than the overhead itself."""
        gen = RequestGen(self.rng["overhead"])
        diffs = []
        for kind in READ_KINDS * OVERHEAD_PER_KIND:
            body = gen.request(kind)
            self.search(f"overhead:{kind}", body)
            ms = {False: [], True: []}
            for i in range(OVERHEAD_PAIRS):
                for traced in ((False, True) if i % 2 == 0 else (True, False)):
                    with self.traced() if traced else nullcontext():
                        ms[traced].append(self.search(f"overhead:{kind}", body)["ms"])
            diffs.append(min(ms[True]) - min(ms[False]))
        return median(diffs)

    # ---------------------------------------------------------------- checks

    @contextmanager
    def _checking(self):
        """Suspend the probes while reference answers are computed, and add
        the time it takes to ``check_s``. Nested uses count once."""
        if self._in_check:
            yield
            return
        self._in_check = True
        traced, counter = self._tracing, self.counter
        if traced:
            self.probes.uninstall()
            self._tracing, self.counter = False, None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0
            if traced:
                self.probes.install(self.spark)
                self._tracing, self.counter = True, counter
            self._in_check = False

    def _fill_ids(self) -> None:
        if len(self.ids) < len(self.docs):
            self.ids += checks.docids(self.spark, self.docs[len(self.ids):])

    def _checker(self) -> checks.Checker:
        """Reference answers for the index as it stands, built again only
        after a push."""
        self._fill_ids()
        if self._ref is None or self._ref[0] != len(self.docs):
            self._ref = (len(self.docs),
                         checks.Checker(self.spark, self.index_dir, self.docs, self.ids))
        return self._ref[1]

    def _check(self, recs: list[dict]) -> None:
        recs = [r for r in recs if not r["error"]]
        if not recs:
            return
        with self._checking():
            checker = self._checker()
            for r in recs:
                try:
                    err = checker.check(r["body"], r["payload"])
                except Exception as e:  # a reference that cannot be computed is a failure
                    err = f"check raised {type(e).__name__}: {e}"
                if err:
                    r["wrong"] = True
                    self.errors.append(f"{r['label']} #{r['rid']}: {err}")

    def _check_marker(self, seen: dict, batch: list[dict]) -> None:
        if seen["error"]:
            return
        self._fill_ids()  # the batch is the tail of self.docs
        err = checks.check_marker(seen["payload"], self.ids[-len(batch):])
        if err:
            seen["wrong"] = True
            self.errors.append(f"visible #{seen['rid']}: {err}")

    # --------------------------------------------------------------- results

    def index_sizes(self) -> tuple[float, dict]:
        inp = _input_bytes(self.docs)
        tables = {t: _dir_bytes(os.path.join(self.index_dir, t)) / inp
                  for t in tracing.TABLES}
        return _dir_bytes(self.index_dir) / inp, tables

    def postings_files(self) -> int:
        return len(glob.glob(os.path.join(self.index_dir, "postings", "**", "*.parquet"),
                             recursive=True))

    def failed(self) -> int:
        return sum(1 for r in self.ops if r["error"] or r.get("wrong"))

    def teardown(self) -> None:
        srv = getattr(self, "srv", None)
        if srv is not None:
            srv.httpd.server_close()
        spark = getattr(self, "spark", None)
        if spark is not None:
            host.stop_spark(spark)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")
