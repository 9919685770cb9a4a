"""Host-side helpers: a sandboxed environment for Spark, host-speed
probes, a process-tree memory sampler and a clean shutdown of the JVM."""

from __future__ import annotations

import os
import subprocess
import threading
import time

import numpy as np

DRIVER_MEMORY = "2g"  # the index is a few MB; a small heap leaves the host's memory free


def sandbox_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) under ``work``. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    # -XX:+UseSerialGC: G1 sizes its heap from measured pause times, so the
    # JVM's resident memory moved by a third between runs of the same code
    # on a shared 4-vCPU VM (1.26-1.90 GB); the serial collector sizes it
    # from live data, and a 2 GB heap on 4 cores needs no concurrent one.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:+UseSerialGC -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY  # a fixed heap, whatever the caller's environment
    import tempfile

    tempfile.tempdir = tmp


def probe() -> dict:
    """A 1-core CPU burn and a memory-stream probe, in seconds (the same
    idea as bench.py's probe_1core, scaled down). They explain a slow
    window; they are never a metric and never used to drop a run."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    burn = time.perf_counter() - t0
    a = np.zeros(32_000_000, dtype=np.uint8)
    t0 = time.perf_counter()
    for _ in range(4):
        a = a + 1
    stream = time.perf_counter() - t0
    return {"burn_s": burn, "stream_s": stream}


def cpu_jiffies() -> list[int]:
    """The host's cumulative CPU time by state, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor in between: a
    slow window on a shared machine shows up here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree(root: int) -> dict[int, tuple[str, str, int]]:
    """{pid: (command, start time, resident bytes)} for ``root`` and its
    descendants."""
    parent: dict[int, int] = {}
    info: dict[int, tuple[str, str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # the command may contain spaces: fields follow the last ')'
            fields = stat[stat.rindex(")") + 2 :].split()
            parent[int(name)] = int(fields[1])
            info[int(name)] = (stat[stat.index("(") + 1 : stat.rindex(")")], fields[19],
                               int(fields[21]) * page)
        except (OSError, ValueError, IndexError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {p: info[p] for p in tree if p in info}


def _memory(comm: str, pid: int, rss: int) -> int | None:
    """Bytes one process of the tree adds. Python workers are forked from
    one daemon and share its pages, so they count by proportional set size.
    The JVM shares little and is large (reading its PSS costs tens of ms and
    locks its address space), so it counts by RSS. Any other process is a
    JVM fork on its way to exec a helper; its pages are the JVM's."""
    if comm == "java":
        return rss
    if comm.startswith("python"):
        return _pss_bytes(pid)
    return None


def still_running(procs: dict[int, str]) -> list[int]:
    """Which of ``procs`` ({pid: start time}) are alive: a process started
    during the run that outlived it."""
    out = []
    for pid, start in procs.items():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[19] == start and fields[0] != "Z":
            out.append(pid)
    return out


class MemorySampler:
    """Samples the memory of this process tree (driver Python, JVM, Python
    workers) until stopped: ``peak_mb`` is the largest sum (see _memory),
    ``peak_parts`` its split by command (MB, process count) and
    ``children`` every descendant seen ({pid: start time})."""

    # A sample reads the proportional set size of a dozen processes, ~40 ms
    # of kernel time; a shorter interval would compete with timed requests.
    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, list] = {}
        self.children: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            me = os.getpid()
            procs = _tree(me)
            self.children.update((p, v[1]) for p, v in procs.items() if p != me)
            sizes = {}
            for pid, (comm, _, rss) in procs.items():
                try:
                    b = _memory(comm, pid, rss)
                except OSError:  # ended since the listing
                    continue
                if b is not None:
                    sizes[pid] = (comm, b)
            total = sum(b for _, b in sizes.values())
            if total > self.peak:
                self.peak = total
                parts: dict[str, list] = {}
                for comm, b in sizes.values():
                    acc = parts.setdefault(comm, [0.0, 0])
                    acc[0] += b / 2**20
                    acc[1] += 1
                self.peak_parts = parts
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait for
    the JVM to exit so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
