"""Measurement from outside the engine: process peak memory and CPU from /proc,
Spark's own per-stage task metrics from the status store, and in-memory
spans around each call into an engine layer."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list | None:
    """Fields of /proc/<pid>/stat after the command name, or None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return s[s.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def process_tree(root: int) -> list:
    """root and all its live descendants (one pass over /proc)."""
    children = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process since its last reset,
    0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark of root and its descendants."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass


def peak_rss_mb(root: int) -> tuple:
    """(root's peak RSS, sum of its descendants' peak RSS) since the last
    reset_peak_rss, in MB."""
    pids = process_tree(root)
    return _hwm_mb(root), sum(_hwm_mb(p) for p in pids if p != root)


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of root and its live descendants, including
    reaped children (cutime/cstime), so a difference of two readings counts
    workers that exited in between."""
    total = 0
    for pid in process_tree(root):
        st = _stat_fields(pid)
        if st is not None:   # fields 14..17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def jvm_gc_s(sc) -> float:
    """Seconds the JVM's garbage collectors have spent since start."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1e3


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def stage_table(sc) -> list:
    """Every stage Spark's status store still holds, as plain dicts.  The
    description is the job description set by ``setJobGroup`` when the
    stage's job was submitted.  Works with the UI disabled."""
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        d = s.description()
        out.append({
            "stage": s.stageId(), "status": str(s.status()),
            "desc": d.get() if d.isDefined() else None,
            "submit_ms": _opt_ms(s.submissionTime()),
            "done_ms": _opt_ms(s.completionTime()),
            "run_s": s.executorRunTime() / 1e3,
            "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "spill_mb": s.diskBytesSpilled() / 2**20,
            "failed_tasks": s.numFailedTasks(),
        })
    return out


def job_groups(sc) -> list:
    """The job group of every job the status store holds (None if unset)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        g = jobs.apply(i).jobGroup()
        out.append(g.get() if g.isDefined() else None)
    return out


def covered_s(intervals: list, lo_ms: int, hi_ms: int) -> float:
    """Seconds of [lo_ms, hi_ms] covered by the union of the intervals."""
    clipped = sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals
                     if a is not None and b is not None)
    total, end = 0, lo_ms
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1e3


class Tracer:
    """In-memory spans.  Disabled, ``layer`` and ``rep`` cost nothing and
    set no job group.  Enabled, each layer call runs under its own Spark job
    group (the span id), so its stages can be read back from the status
    store after the run."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans = []
        self._rep = None

    @contextmanager
    def rep(self, rep_id: str):
        if not self.enabled:
            yield
            return
        self._rep = rep_id
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"id": rep_id, "name": "rep", "parent": None,
                               "rep": rep_id, "start": t0,
                               "end": time.time()})
            self._rep = None

    @contextmanager
    def layer(self, name: str, rep_id: str | None = None):
        if not self.enabled:
            yield
            return
        rep_id = rep_id or self._rep
        span_id = f"{name}@{rep_id}"
        self.sc.setJobGroup(span_id, span_id, False)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"id": span_id, "name": name,
                               "parent": rep_id if self._rep else None,
                               "rep": rep_id, "start": t0, "end": t1})

    def layer_stats(self, stages: list, groups: list) -> dict:
        """Per layer-span: wall, executor run time, driver-only time, job
        count, shuffle and spill, keyed by span id."""
        by_desc = {}
        for s in stages:
            by_desc.setdefault(s["desc"], []).append(s)
        njobs = {}
        for g in groups:
            njobs[g] = njobs.get(g, 0) + 1
        out = {}
        for sp in self.spans:
            if sp["name"] == "rep":
                continue
            st = by_desc.get(sp["id"], [])
            lo, hi = int(sp["start"] * 1e3), int(sp["end"] * 1e3)
            wall = sp["end"] - sp["start"]
            busy = covered_s([(s["submit_ms"], s["done_ms"]) for s in st],
                             lo, hi)
            out[sp["id"]] = {
                "wall_s": wall,
                "exec_run_s": sum(s["run_s"] for s in st),
                "driver_s": wall - busy,
                "jobs": njobs.get(sp["id"], 0),
                "shuffle_read_mb": sum(s["shuffle_read_mb"] for s in st),
                "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in st),
                "spill_mb": sum(s["spill_mb"] for s in st),
            }
        return out
