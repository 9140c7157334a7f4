"""In-memory spans around the package's public calls, plus the Spark
status-store figures of the jobs each span launched.

A span records (name, start, end, parent) and carries its own Spark job
group, set on the thread that opens it: ``plans.pipeline`` runs the
alias_cc stage on a second driver thread and ``stream_kg_fold`` runs
folds on a streaming callback thread, so a group set on the caller's
thread would not reach those jobs. A span opened on a thread with no
open span of its own is parented to the innermost open span opened with
``adopt=True``: the public call that started that thread.

Spans stay in memory; :meth:`Tracer.dump` writes them out once the run
has ended.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    op: int = -1
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals: concurrent
    children count once, so the blocking path is the longer child."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: Dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - covered(kids.get(s.sid, [])) for s in spans}


class Tracer:
    """Spans are recorded only while ``enabled``; disabled, ``span`` is a
    no-op that sets no job group."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op = -1
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopters: List[Span] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, adopt: bool = False) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = stack[-1] if stack else (self._adopters[-1] if self._adopters else None)
        with self._lock:
            sp = Span(len(self.spans), name, outer.sid if outer else None,
                      time.perf_counter(), op=self.op)
            self.spans.append(sp)
        stack.append(sp)
        if adopt:
            self._adopters.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if adopt:
                self._adopters.remove(sp)
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def op_spans(self, op: int) -> List[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([dict(asdict(s), self_s=st[s.sid]) for s in self.spans], f, indent=1)


class StatusStore:
    """Reads Spark's AppStatusStore through py4j. It works with the UI
    disabled, and keeps only the last 1,000 jobs and stages, so callers
    read it after every operation rather than once per run."""

    def __init__(self, sc):
        self.sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_by_group(self, first: int, last: int) -> Dict[Optional[str], dict]:
        """Per job group, totals over the COMPLETE stages of jobs
        ``first`` .. ``last - 1``. A stage reused by a later job counts
        once."""
        out: Dict[Optional[str], dict] = {}
        seen = set()
        for jid in range(first, last):
            try:
                job = self._json(self._store.job(jid))
            except Py4JJavaError:  # evicted or never registered: count it, skip its stages
                out.setdefault(None, _empty())["jobs"] += 1
                continue
            g = out.setdefault(job.get("jobGroup"), _empty())
            g["jobs"] += 1
            for sid in job.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._json(self._store.stageData(sid, False, None, True, self._quantiles)):
                    if sd.get("status") != "COMPLETE":
                        continue
                    _add_stage(g, sd)
        return out


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "gc_s": 0.0, "task_cpu_s": 0.0, "task_run_s": 0.0,
        "_skew_w": 0.0, "_skew_wsum": 0.0,
    }


def _add_stage(g: dict, sd: dict) -> None:
    g["stages"] += 1
    g["shuffle_read_bytes"] += sd.get("shuffleReadBytes", 0)
    g["shuffle_write_bytes"] += sd.get("shuffleWriteBytes", 0)
    g["spill_bytes"] += sd.get("memoryBytesSpilled", 0) + sd.get("diskBytesSpilled", 0)
    g["gc_s"] += sd.get("jvmGcTime", 0) / 1e3
    g["task_cpu_s"] += sd.get("executorCpuTime", 0) / 1e9
    run_ms = sd.get("executorRunTime", 0)
    g["task_run_s"] += run_ms / 1e3
    dist = (sd.get("taskMetricsDistributions") or {}).get("executorRunTime")
    if sd.get("numTasks", 0) >= 2 and dist and dist[0] > 0:
        # stage skew = slowest task / median task, weighted by stage run time
        g["_skew_w"] += run_ms * dist[1] / dist[0]
        g["_skew_wsum"] += run_ms


def task_skew(g: dict) -> float:
    return g["_skew_w"] / g["_skew_wsum"] if g["_skew_wsum"] else 1.0


def merge(groups) -> dict:
    tot = _empty()
    for g in groups:
        for k in tot:
            tot[k] += g[k]
    return tot
