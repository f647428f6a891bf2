"""Spans, Spark stage metrics and process-tree memory for one benchmark run.

A span is recorded around each call into a layer: name, start, end,
parent span and run id. Spans are kept in memory and written out when
the run ends. In a traced run every span also sets a Spark job group, and
the Spark UI's REST API (enabled only in that run) is read once at the
end to attribute jobs and stages to spans.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    sid: str = ""
    cpu: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``spark`` set, tags each span's Spark jobs with
    the span id as their job group. A tracer with ``spark=None`` still
    records span times, which is all the untraced runs need."""
    run_id: str
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent.sid if parent else None,
                  run_id=self.run_id, sid=f"{self.run_id}/{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        cpu0 = tree_cpu_s()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.cpu = tree_cpu_s() - cpu0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.sid, sp.name)

    def walls(self) -> dict:
        """Span name -> wall (the last span of each name)."""
        return {s.name: s.wall for s in self.spans}

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part of it its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == sp.sid)
        return sp.wall - _union_len(kids, sp.start, sp.end)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self.self_time(s)}
                       for s in self.spans], f, indent=1)


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark REST -------------------------------------------------------------

STAGE_FIELDS = ("wall_s", "task_s", "util", "driver_gap_s", "jobs",
                "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.datetime.strptime(
        s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=datetime.timezone.utc).timestamp()


class StageMetrics:
    """Jobs and stages of one application, read from the UI REST API once
    the listener has caught up (no running job, job count stable)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")
        prev = -1
        for _ in range(60):
            jobs = _get(self.base + "/jobs")
            if len(jobs) == prev and all(j["status"] != "RUNNING"
                                         for j in jobs):
                break
            prev = len(jobs)
            time.sleep(0.5)
        self.jobs = jobs
        self.stages = {(s["stageId"], s["attemptId"]): s
                       for s in _get(self.base + "/stages")}

    def for_span(self, sp: Span, tracer: Tracer, cores: int) -> dict:
        """Stage figures of the jobs whose group is `sp`'s or one of its
        descendants'."""
        sids = {sp.sid}
        for c in tracer.spans:   # in start order: parents before children
            if c.parent in sids:
                sids.add(c.sid)
        mine = [j for j in self.jobs if j.get("jobGroup") in sids]
        stage_ids = {sid for j in mine for sid in j["stageIds"]}
        stages = [s for (sid, _a), s in self.stages.items()
                  if sid in stage_ids and s["status"] in ("COMPLETE",
                                                          "FAILED")]
        task_s = sum(s["executorRunTime"] for s in stages) / 1000.0
        busy = _union_len(
            [(_ts(j["submissionTime"]), _ts(j.get("completionTime"))
              or sp.end) for j in mine], sp.start, sp.end)
        skew = 0.0
        if stages:
            big = max(stages, key=lambda s: s["executorRunTime"])
            q = _get(f"{self.base}/stages/{big['stageId']}/"
                     f"{big['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            skew = mx / max(med, 1.0)
        mb = 1024.0 * 1024.0
        return {
            "wall_s": sp.wall,
            "task_s": task_s,
            "util": task_s / (cores * sp.wall) if sp.wall > 0 else 0.0,
            "driver_gap_s": sp.wall - busy,
            "jobs": len(mine),
            "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                    for s in stages) / mb,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / mb,
            "task_skew": skew,
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        }


# --- process-tree memory ----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants. Time the hypervisor gives to
    other guests (steal) is not in it."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) every `interval` seconds and
    keeps the peaks: total, the JVM alone, and the Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total, jvm, workers = _rss_mb(me), 0.0, 0.0
        for p in descendants(me):
            r, comm = _rss_mb(p), _comm(p)
            total += r
            if comm == "java":
                jvm += r
            elif comm.startswith("python"):
                workers += r
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
