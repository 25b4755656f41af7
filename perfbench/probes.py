"""Outside-in measurement: the process tree from ``/proc``, Spark's
``AppStatusStore`` and ``QueryExecution.tracker()`` through py4j, and a
span tracer that attributes Spark jobs to the layer call that fired them.
Nothing here changes what the program computes."""

from __future__ import annotations

import glob
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, busy jiffies incl. reaped children, rss pages) for
    every process on the box."""
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
            rest = raw[raw.rindex(")") + 2 :].split()
            out[int(raw.split(" ", 1)[0])] = (
                int(rest[1]),
                sum(int(x) for x in rest[11:15]),
                int(rest[21]),
            )
        except (OSError, ValueError, IndexError):  # raced an exit
            continue
    return out


def _own(stats: dict[int, tuple[int, int, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    own, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in stats:
            own.append(p)
            stack.extend(kids.get(p, ()))
    return own


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM, the pyspark daemon and its Python workers)."""
    stats = _tree()
    return sum(stats[p][1] for p in _own(stats)) / _CLK_TCK


def _rss_mb(pids) -> float:
    pages = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return pages * _PAGE / 2**20


class Peak:
    """Background thread that polls ``read()`` every ``interval_s`` and
    keeps the largest value seen in ``peak``."""

    def __init__(self, read, interval_s: float):
        self.read, self.interval_s, self.peak = read, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.read())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tree_rss_reader(refresh_s: float = 0.5):
    """A cheap reader of the process tree's summed RSS in MB: the tree is
    re-listed every ``refresh_s``; in between only its members' ``statm``
    is read."""
    state = {"pids": [], "listed": float("-inf")}

    def read() -> float:
        if time.monotonic() - state["listed"] > refresh_s:
            state["pids"], state["listed"] = _own(_tree()), time.monotonic()
        return _rss_mb(state["pids"])

    return read


class SparkProbe:
    """Reads the status store of a live session. Call :meth:`drain` before
    reading, so that every listener event of the work done so far has been
    applied."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self._n_stage_args = self._arity()

    def _arity(self) -> int:
        for m in self.store.getClass().getMethods():
            if m.getName() == "stageList":
                return m.getParameterCount()
        raise RuntimeError("AppStatusStore.stageList not found")

    def drain(self):
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> dict[int, dict]:
        out = {}
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            group = j.jobGroup()
            ids = j.stageIds()
            out[j.jobId()] = {
                "group": group.get() if group.isDefined() else None,
                "stages": [ids.apply(k) for k in range(ids.size())],
            }
        return out

    def stages(self) -> dict[int, dict]:
        defaults = [
            getattr(self.store, f"stageList$default${i}")()
            for i in range(2, self._n_stage_args + 1)
        ]
        seq = self.store.stageList(None, *defaults)
        out = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.attemptId() != 0 and s.stageId() in out:
                continue
            out[s.stageId()] = {
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_bytes(self) -> int:
        infos = self._jsc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)


class _PhaseListener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: records analysis + optimization + planning ms per action."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 - JVM interface
        self._record(qe)

    def onFailure(self, func, qe, exc):  # noqa: N802
        self._record(qe)

    def _record(self, qe):
        it = qe.tracker().phases().iterator()
        ms = 0.0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.sink.append((time.time(), ms))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """In-memory spans. Each span has a name, start, end, parent and the
    pass's trace id; Spark jobs are attributed to the innermost open span
    through the job group, which the tracer sets on entry and restores on
    exit, and each action's planning time through a phase listener that
    only a tracer registers."""

    def __init__(self, probe: SparkProbe, trace_id: str):
        from pyspark.java_gateway import ensure_callback_server_started

        self.probe = probe
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.catalyst: list[tuple[float, float]] = []  # (received at, ms)
        ensure_callback_server_started(probe.sc._gateway)
        probe.spark._jsparkSession.listenerManager().register(_PhaseListener(self.catalyst))
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self, span_id):
        sc = self.probe.sc
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span_id, span_id, False)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.trace_id}:{len(self.spans)}",
            "name": name,
            "trace": self.trace_id,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s["id"])
        self.self_s += time.perf_counter() - t0
        s["start"] = time.time()
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            # deliver this span's listener events before it closes, so the
            # phase timings of its actions land inside [start, end]
            self.probe.drain()
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)
            self.self_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)

    def attribute(self) -> dict[str, dict]:
        """Per span id: its jobs and stages, own and inherited from child
        spans. Raises if a stage of an attributed job is missing from the
        status store (evicted)."""
        t0 = time.perf_counter()
        self.probe.drain()
        jobs, stages = self.probe.jobs(), self.probe.stages()
        by_span: dict[str, dict] = {s["id"]: {"jobs": set(), "stages": set()} for s in self.spans}
        parents = {s["id"]: s["parent"] for s in self.spans}
        for jid, j in jobs.items():
            sid = j["group"]
            if sid not in by_span:
                continue
            missing = [x for x in j["stages"] if x not in stages]
            if missing:
                raise RuntimeError(f"status store evicted stages {missing} of job {jid}")
            while sid is not None:
                by_span[sid]["jobs"].add(jid)
                by_span[sid]["stages"].update(j["stages"])
                sid = parents[sid]
        self.stage_data, self.job_data = stages, jobs
        self.self_s += time.perf_counter() - t0
        return by_span

    def catalyst_ms(self, span: dict) -> float:
        return sum(ms for t, ms in self.catalyst if span["start"] <= t <= span["end"])


def stage_totals(stage_ids, stages: dict[int, dict]) -> dict[str, float]:
    """Sum of the status-store counters over the stages that ran (skipped
    stages re-use earlier shuffle output and carry no tasks)."""
    ran = [stages[i] for i in stage_ids if stages[i]["status"] != "SKIPPED"]
    return {
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "failed_tasks": sum(s["failed_tasks"] for s in ran),
        "executor_run_s": sum(s["run_ms"] for s in ran) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "spill_bytes": sum(s["spill_bytes"] for s in ran),
    }
