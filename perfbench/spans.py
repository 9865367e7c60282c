"""Outside-in tracing for the traced benchmark run.

Spans are recorded in this file, around calls into the engine's public
functions, never inside the engine. ``patch_layers`` swaps a module
attribute (for example ``pipeline.extract_mentions``) for a wrapper that
runs the original, forces its lazy DataFrame with an eager local checkpoint
inside the span, and hands the checkpoint on; the engine's own composition
(``run_pipeline``, ``incremental_update``, ``QueryRouter``) is unchanged, so
the traced run executes the same steps in the same order as the timed one,
and the time of each step lands on the layer that did the work.

``TracedSink`` is a ``GraphSink`` that times every upsert and read per table
and records the bytes, files and Spark tasks each upsert wrote. Spark work
is counted from ``statusTracker``; host CPU and memory come from /proc.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from collections import defaultdict

from glasseenterprise_mcp_spark.operators.materialize import GraphSink


class Tracer:
    """In-memory spans (name, start, end, parent) plus named counters.
    Spans from worker threads are kept; their parent is tracked per thread."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((name, t0, t1, parent))

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    def peak(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = max(self.counts[name], value)

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n == name)

    def self_time(self, name: str) -> float:
        """Span time minus the time its direct children cover."""
        return self.total(name) - sum(
            t1 - t0 for _, t0, t1, p in self.spans if p == name
        )

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]


def _materialize(df):
    return df.localCheckpoint(eager=True)


@contextlib.contextmanager
def patch_layers(tracer: Tracer, module, targets: dict[str, str], materialize=True):
    """Wrap ``module.<attr>`` for each ``attr -> span name`` in ``targets``.

    With ``materialize`` the wrapper checkpoints the returned DataFrame
    inside the span and counts its rows (outside the span) as
    ``<span>.rows``. A cached DataFrame argument that has not been read yet
    is read first, under its own span: for ``extract`` that is the cached
    input batch (``sources.read``), for the link families the columnar
    cache build of the mentions frame (``extract.cache``)."""
    seen: set[int] = set()

    def wrap(fn, name):
        input_span = "sources.read" if name == "extract" else "extract.cache"

        def traced(*args, **kwargs):
            for a in args:
                if getattr(a, "is_cached", False) and id(a) not in seen:
                    seen.add(id(a))
                    with tracer.span(input_span):
                        a.count()
            with tracer.span(name):
                out = fn(*args, **kwargs)
                if materialize:
                    out = _materialize(out)
            if materialize:
                tracer.add(f"{name}.rows", out.count())
            return out

        return traced

    saved = {attr: getattr(module, attr) for attr in targets}
    try:
        for attr, name in targets.items():
            setattr(module, attr, wrap(saved[attr], name))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(d, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


class TracedSink(GraphSink):
    """GraphSink that records, per table, upsert and read spans, the bytes
    and files each upsert wrote, and the task count of its final write
    stage (through a per-upsert Spark job group)."""

    _ids = itertools.count()

    def __init__(self, spark, base_dir: str, tracer: Tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer
        self.groups: list[str] = []

    def upsert(self, df, table, keys, partition_by):
        sc = self.spark.sparkContext
        group = f"bench-upsert-{table}-{next(self._ids)}"
        self.groups.append(group)
        before = _dir_files(self._path(table))
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with self.tracer.span(f"materialize.upsert_{table}"):
                super().upsert(df, table, keys, partition_by)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        after = _dir_files(self._path(table))
        new = [v for k, v in after.items() if before.get(k) != v]
        self.tracer.add("materialize.bytes_written", sum(s for s, _ in new))
        self.tracer.add("materialize.files_written", len(new))
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        if jobs and table == "edges":
            info = sc.statusTracker().getJobInfo(jobs[-1])
            stage = sc.statusTracker().getStageInfo(max(info.stageIds)) if info else None
            if stage is not None:
                self.tracer.peak("materialize.edge_write_tasks", stage.numTasks)

    def read(self, table):
        with self.tracer.span("materialize.read"):
            return super().read(table)


def dir_bytes(path: str) -> int:
    return sum(s for s, _ in _dir_files(path).values())


class SparkCounter:
    """Jobs, stages and tasks Spark ran between ``start`` and ``stop``.

    ``statusTracker`` lists jobs by job group; jobs of the engine's own
    threads carry no group, the stream's carry its run id and the traced
    sink's carry theirs, so the caller passes the extra group names."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def job_ids(self, groups=()) -> set[int]:
        ids = set(self.tracker.getJobIdsForGroup(None))
        for g in groups:
            ids |= set(self.tracker.getJobIdsForGroup(g))
        return ids

    def summarize(self, job_ids) -> dict[str, int]:
        stages = tasks = failed = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# --------------------------------------------------------------------------
# Host counters for the process tree (this interpreter, the JVM it launched
# and the JVM's Python workers).
# --------------------------------------------------------------------------
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after its ')'
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the processes and of their reaped children."""
    ticks = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def tree_cpu() -> float:
    """CPU seconds of this process, the JVM it launched and the JVM's
    Python workers."""
    return cpu_seconds(process_tree(os.getpid()))


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class HostSampler:
    """Background thread that samples the tree's summed RSS; ``stop``
    returns (busy share of nproc, peak RSS in MB) over the sampled span."""

    def __init__(self, nproc: int, interval: float = 0.25):
        self.nproc = nproc
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(process_tree(os.getpid())))
            self._stop.wait(self.interval)

    def start(self):
        self._cpu0 = tree_cpu()
        self._t0 = time.perf_counter()
        self._thread.start()
        return self

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        busy = tree_cpu() - self._cpu0
        return busy / (wall * self.nproc), self.peak / 2**20
