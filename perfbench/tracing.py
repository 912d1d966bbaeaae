"""Spans around the benchmark's calls into each layer, Spark job
attribution, and the process-tree RSS sampler.

A span records name, start, end, parent span and op id. Spans stay in
memory and are written out once, at exit. Every span sets its own Spark
job group, so after the run the local UI's REST endpoint tells which
jobs, stages and tasks each span caused.
"""

from __future__ import annotations

import calendar
import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float          # epoch seconds
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when `enabled`; otherwise every `span` is a no-op
    that only yields."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own code

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.id}", name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return s.dur - covered_s([(c.start, c.end)
                                  for c in self.children(s)])

    def dump(self, path: str, stages: dict) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self.self_time(s)
                rec["stages"] = sum(len(stages.get(j, ())) for j in s.jobs)
                f.write(json.dumps(rec) + "\n")


def covered_s(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-01-01T00:00:00.123GMT
    if not ts:
        return None
    return calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S")) \
        + int(ts[20:23]) / 1000.0


class JobLedger:
    """Jobs and stages of this application, read from the local UI."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://localhost:{port}/api/v1/applications/" \
               f"{sc.applicationId}"
        self.jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        self.stages = {}
        for st in _get(f"{base}/stages"):
            # keep the latest attempt of each stage
            prev = self.stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                self.stages[st["stageId"]] = st
        self.job_stages = {j: list(v.get("stageIds", ()))
                           for j, v in self.jobs.items()}

    def attach(self, tracer: Tracer) -> None:
        by_group: dict[str, list[int]] = {}
        for jid, j in self.jobs.items():
            by_group.setdefault(j.get("jobGroup") or "", []).append(jid)
        for s in tracer.spans:
            s.jobs = sorted(by_group.get(f"perfbench-{s.id}", ()))

    def stage_records(self, jobs) -> list[dict]:
        seen, out = set(), []
        for j in jobs:
            for sid in self.job_stages.get(j, ()):
                st = self.stages.get(sid)
                if st is not None and sid not in seen and \
                        st.get("status") == "COMPLETE":
                    seen.add(sid)
                    out.append(st)
        return out

    def busy_intervals(self, jobs) -> list[tuple[float, float]]:
        out = []
        for st in self.stage_records(jobs):
            a = _epoch(st.get("firstTaskLaunchedTime")
                       or st.get("submissionTime"))
            b = _epoch(st.get("completionTime"))
            if a is not None and b is not None:
                out.append((a, b))
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def tree_jobs(tracer: Tracer, s: Span) -> list[int]:
    out = list(s.jobs)
    for c in tracer.children(s):
        out += tree_jobs(tracer, c)
    return out


def median(xs, default=float("nan")):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# -- processes and memory -----------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, RSS bytes, command name) for every process,
    from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        # the command name may hold spaces: fields start after ')'
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, pages * page, st[st.index("(") + 1:st.rindex(")")])
    return out


def descendants(root_pid: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for p, (pp, _rss, _comm) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of `root_pid`, the Spark JVM and the Python workers
    under it. The JVM also spawns short-lived helpers (chmod, its spawn
    helper); between spawn and exec such a child shares the JVM's
    memory, so counting it would count the JVM twice, and after exec it
    holds next to nothing. Those are left out."""
    table = _proc_table()
    total = 0
    for p in [root_pid, *descendants(root_pid, table)]:
        if p not in table:
            continue
        ppid, rss, comm = table[p]
        parent = table.get(ppid, (0, 0, ""))[2]
        if p == root_pid or comm.startswith("python") or (
                comm == "java" and parent != "java"):
            total += rss
    return total


class RssSampler:
    """Background thread sampling the process tree's summed RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
