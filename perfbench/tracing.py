"""Spans, Spark status-store counters and process memory for one run.

Spans are recorded from the benchmark's own code around each public
engine call (name ``<layer>:<op>``, start, end, parent, run id).  With
tracing on, every span also tags the Spark jobs it launches with its
own job group, and at the end of the run the status store is read once
to sum each group's stage counters.  With tracing off, ``span`` only
yields: no job groups, no bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "shuffleWriteBytes",
    "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.stage_stats: dict[str, dict] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "group": f"{self.run_id}/{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read_status_store(self) -> None:
        """Sum stage counters per job group (one pass over the store)."""
        if not self.enabled:
            return
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_group: dict[int, str] = {}
        jobs_per_group: dict[str, int] = defaultdict(int)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined():
                continue
            g = group.get()
            jobs_per_group[g] += 1
            ids = job.stageIds()
            for j in range(ids.size()):
                stage_group[int(ids.apply(j))] = g
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        stats: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0))
        for i in range(stages.size()):
            st = stages.apply(i)
            g = stage_group.get(int(st.stageId()))
            if g is None or st.status().toString() == "SKIPPED":
                continue
            for f in STAGE_FIELDS:
                stats[g][f] += int(getattr(st, f)())
        for g, n in jobs_per_group.items():
            stats[g]["jobs"] = n
        self.stage_stats = dict(stats)

    def counters(self, rec: dict | None) -> dict:
        """Stage counters of one span including its child spans."""
        out = dict.fromkeys(STAGE_FIELDS + ("jobs",), 0)
        if rec is None:
            return out
        todo = [rec["id"]]
        while todo:
            sid = todo.pop()
            for f, v in self.stage_stats.get(self.spans[sid]["group"], {}).items():
                out[f] += v
            todo.extend(s["id"] for s in self.spans if s["parent"] == sid)
        return out

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        it that its children cover (children never overlap: one client
        thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        layers: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layers[s["name"].split(":")[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(layers)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict({k: v for k, v in s.items() if k not in ("start", "end")},
                 start_s=s["start"] - t0, end_s=s["end"] - t0,
                 counters=self.stage_stats.get(s["group"], {}))
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(extra, run=self.run_id, spans=spans,
                           layer_self_s=self.self_times()), f, indent=1)


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of a
    process and every process under it."""
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(jvm_pid: int) -> dict:
    """Peak resident size (VmHWM) of the driver JVM and the sum over
    every process under it (the Python daemon and its workers)."""
    out = {"jvm_mb": 0.0, "python_mb": 0.0, "python_procs": 0}
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if pid == jvm_pid:
            out["jvm_mb"] = kb / 1024.0
        else:
            out["python_mb"] += kb / 1024.0
            out["python_procs"] += 1
    out["total_mb"] = out["jvm_mb"] + out["python_mb"]
    return out
