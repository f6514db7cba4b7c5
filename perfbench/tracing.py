"""Measurement helpers: in-memory spans, the process-tree RSS sampler,
Spark job/stage/task counts, and the per-node SQL-metric walk.

Nothing here reaches into the engine: the metric walk reads Spark's own
per-node SQL metrics from the executed physical plan of an action the
benchmark ran, and the counts come from the status tracker.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from contextlib import contextmanager


class Spans:
    """Spans kept in memory and written once, at exit."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.items: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the ``with`` body; yields the record,
        whose ``dur_s`` is set on exit."""
        rec = {"id": len(self.items), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start_s": time.perf_counter() - self.t0, **attrs}
        self.items.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end_s"] = time.perf_counter() - self.t0
            rec["dur_s"] = rec["end_s"] - rec["start_s"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f, indent=1)


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc: ``peak`` holds
    the peak of the total, of the JVM alone and of the rest.  Processes
    started with ``spawn`` are left out."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._skip: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> dict:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
                # the command name may hold spaces: fields follow ')'
                parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
            except (OSError, ValueError):
                continue
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo.extend(c for c, pp in parent.items()
                        if pp == p and c not in tree and c not in self._skip)
        rss = {"jvm": 0, "python": 0}
        for p in tree:
            try:
                with open(f"/proc/{p}/comm") as f:
                    kind = "jvm" if f.read().strip() == "java" else "python"
                with open(f"/proc/{p}/statm") as f:
                    rss[kind] += int(f.read().split()[1]) * self._page
            except (OSError, ValueError):
                continue
        rss["total"] = rss["jvm"] + rss["python"]
        return rss

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                rss = self._tree_rss()
            for k, v in rss.items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.period_s)

    def spawn(self, args: list[str]) -> subprocess.Popen:
        """Start a process that is not sampled.  No sample is taken until
        its pid is known: between fork and exec the child is a copy of
        this process and would count its memory twice."""
        with self._lock:
            proc = subprocess.Popen(args)
            self._skip.add(proc.pid)
        return proc

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


# ---------------------------------------------------------------------------
# Per-node SQL metrics
# ---------------------------------------------------------------------------

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_nodes(df) -> list[dict]:
    """Run ``df``'s physical plan to completion (every output column is
    produced, as with the noop sink) and return one record per executed
    node: its name, its parent's index in the list, and its metrics
    (times in seconds).  Descends into adaptive query stages and into
    persisted relations, each persisted plan once."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    out: list[dict] = []

    def metrics(p) -> dict:
        vals = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            scale = _TIME_SCALE.get(m.metricType())
            v = m.value()
            vals[kv._1()] = v * scale if scale else v
        return vals

    def walk(p, parent: int | None) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan(), parent)
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan(), parent)
            return
        me = len(out)
        out.append({"name": p.nodeName(), "parent": parent, "metrics": metrics(p)})
        if cls == "InMemoryTableScanExec":
            cached = p.relation().cachedPlan()
            key = jvm.System.identityHashCode(cached)
            if key not in seen:
                seen.add(key)
                walk(cached, me)
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i), me)

    walk(qe.executedPlan(), None)
    return out


def total(nodes: list[dict], metric: str, name: str | None = None) -> float:
    """Sum of ``metric`` over the nodes (called ``name``, if given)."""
    return sum(n["metrics"].get(metric, 0) for n in nodes
               if name is None or n["name"] == name)


def ancestor(nodes: list[dict], i: int, name: str) -> dict | None:
    """Nearest ancestor of node ``i`` called ``name``."""
    p = nodes[i]["parent"]
    while p is not None:
        if nodes[p]["name"] == name:
            return nodes[p]
        p = nodes[p]["parent"]
    return None
