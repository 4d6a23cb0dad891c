"""Session sizing, exact per-group job counts, process-tree RSS sampling
and the outside-in span tracer the traced run uses."""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / ".work"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, at most 2g: enough for every
    workload, and the host may be shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(2048, total_kb // 4096))}m"


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    benchmark's work dir, and make the package importable by workers.
    Must run before the first session starts. Event logs of earlier runs
    are removed; corpora are regenerated by every set-up anyway."""
    shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={WORK / 'tmp'}") if p)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # the CLI verb calls get_spark() with no cores; this keeps its session
    # settings (shuffle width) equal to the benchmark's
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())


def start_session(event_log: bool):
    """`get_spark` sized for this host, through its arguments and the
    environment `prepare_env` set."""
    from distributed_lsh_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(WORK / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=host_cores(),
                     extra_conf=conf)


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            out[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    """All live descendant pids of `pid`."""
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    benchmark started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class JobGroups:
    """Exact job counts per named group via `setJobGroup` +
    `statusTracker().getJobIdsForGroup`. Global job-id deltas go wrong
    once the status store's retained-jobs window rolls over."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def _drain(self) -> None:
        # job start events reach the status store through the async
        # listener bus; wait for it so a just-finished job is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def group(self, name: str):
        self.set(name)
        try:
            yield
        finally:
            self.set(None)

    def jobs(self, name: str) -> int:
        self._drain()
        return len(self.sc.statusTracker().getJobIdsForGroup(name))


def session_storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory + on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize()
             for i in jsc.sc().getRDDStorageInfo()) / (1 << 20)
    return n, mb


class RssSampler:
    """Peak summed RSS (MB) of this process's descendants — the driver JVM
    and its Python workers — sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> float:
        total = 0
        procs = _procs()
        for p in descendants(os.getpid(), procs):
            ppid, comm = procs[p]
            if not comm.startswith("python") and (
                    comm != "java" or procs.get(ppid, (0, ""))[1] == "java"):
                # a JVM child between fork and exec (named after the forking
                # thread) shares the JVM's memory: counting it would add
                # the JVM's RSS twice
                continue
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        mb = total * self._page / (1 << 20)
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


@dataclass
class Span:
    name: str           # layer or operation name
    group: str          # the job group its own jobs ran in
    parent: int | None  # index of the enclosing span
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded from the benchmark's side of each call into a layer.
    Every span runs its own jobs in its own job group, so job counts and
    event-log task metrics join to it exactly. Spans nest; a parent's job
    group is restored when a child ends."""

    def __init__(self, groups: JobGroups, prefix: str) -> None:
        self.groups = groups
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, f"{self.prefix}:{idx}:{name}",
                  self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        self.groups.set(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.groups.set(self.spans[self._stack[-1]].group
                            if self._stack else None)

    def self_s(self, idx: int) -> float:
        """A span's wall time minus the part its children cover."""
        kids = sum(s.wall_s for s in self.spans if s.parent == idx)
        return self.spans[idx].wall_s - kids
