"""Spans, Spark status-store readers and the Python-worker RSS sampler.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions (module attributes are replaced for the
length of a traced run and restored afterwards), Spark work is attributed
to the innermost open span through Spark job groups, and the figures come
from the driver's own status stores, which stay populated with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import threading
import time


class Tracer:
    """Spans (name, start, end, parent) kept in memory until the run ends.

    A disabled tracer hands out no-op spans and wraps nothing, so the
    untraced run executes the engine's functions unmodified."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, detail=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (until unwrap_all).
        ``detail(args, kwargs)`` appends a call-specific suffix to the span
        name, such as the stage a run_stage call commits."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            label = f"{name}:{detail(a, kw)}" if detail else name
            with self.span(label):
                return orig(*a, **kw)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- derived views ------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        return kids

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover.
        Children of one parent never overlap (one client thread)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            out[s["id"]] = dur - sum(
                self.spans[c]["end"] - self.spans[c]["start"]
                for c in kids.get(s["id"], []))
        return out

    def subtree(self, sid: int) -> list[int]:
        kids = self.children()
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x, []))
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, t0: float) -> None:
        selfs = self.self_times()
        rows = [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                 "start_s": round(s["start"] - t0, 6),
                 "end_s": round(s["end"] - t0, 6),
                 "self_s": round(selfs[s["id"]], 6)} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


# ---- Spark status store -----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> float in base units (bytes, seconds
    or a plain count). Multi-task metrics read
    'total (min, med, max ...)\\n<total> (...)'; the total is taken."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkMetrics:
    """Job, stage and SQL-node figures from the driver status stores,
    attributed to spans through the ``pb<span id>`` job groups.

    Every figure is a JVM round trip, so SQL plan nodes are read only for
    executions under ``sql_spans`` and task-time skew only on request."""

    def __init__(self, spark, sql_spans=()):
        sc = spark.sparkContext
        self.jvm = spark._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        q = sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q
        self.jobs = self._jobs()
        self.stages = self._stages()
        self.nodes = self._sql_nodes(set(sql_spans))

    def _jobs(self) -> list[dict]:
        out = []
        for j in self.conv.asJava(self.store.jobsList(None)):
            grp = j.jobGroup()
            gid = grp.get() if grp.isDefined() else None
            span = int(gid[2:]) if gid and gid.startswith("pb") else None
            out.append({"job": int(j.jobId()), "span": span,
                        "stages": [int(s) for s in
                                   self.conv.asJava(j.stageIds())]})
        return out

    def _stages(self) -> dict[int, dict]:
        out = {}
        for sid in sorted({s for j in self.jobs for s in j["stages"]}):
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stages were never submitted
                continue
            out[sid] = {
                "attempt": s.attemptId(),
                "tasks": int(s.numCompleteTasks()),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_b": int(s.shuffleWriteBytes()),
                "spill_b": int(s.memoryBytesSpilled())
                + int(s.diskBytesSpilled()),
                "failed_tasks": int(s.numFailedTasks()),
            }
        return out

    def _skew(self, sid: int) -> float:
        """Max over median task run time of one stage."""
        st = self.stages[sid]
        if st["tasks"] < 2:
            return 1.0
        summ = self.store.taskSummary(sid, st["attempt"], self._quantiles)
        if not summ.isDefined():
            return 1.0
        med, mx = list(self.conv.asJava(summ.get().executorRunTime()))
        return mx / med if med > 0 else 1.0

    def _sql_nodes(self, sql_spans: set) -> list[dict]:
        """One record per Python-UDF or file-scan plan node of an execution
        under sql_spans: the span, node name and metric totals."""
        job_span = {j["job"]: j["span"] for j in self.jobs}
        out = []
        for e in self.conv.asJava(self.sql.executionsList()):
            spans = {job_span.get(int(k))
                     for k in self.conv.asJava(e.jobs()).keySet()}
            spans &= sql_spans
            if not spans:
                continue
            eid = e.executionId()
            vals = None
            for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                if not (name.startswith("Scan") or "Python" in name
                        or "Pandas" in name or "Arrow" in name):
                    continue
                if vals is None:
                    vals = self.conv.asJava(self.sql.executionMetrics(eid))
                metrics = {}
                for m in self.conv.asJava(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v is not None:
                        metrics[m.name()] = parse_metric(str(v))
                out.append({"span": min(spans), "name": name,
                            "metrics": metrics})
        return out

    # ---- rollups over a set of spans ----------------------------------------

    def jobs_in(self, spans) -> list[dict]:
        spans = set(spans)
        return [j for j in self.jobs if j["span"] in spans]

    def stage_totals(self, spans=None, skew: bool = False) -> dict:
        jobs = self.jobs if spans is None else self.jobs_in(spans)
        sids = {s for j in jobs for s in j["stages"] if s in self.stages}
        st = [self.stages[s] for s in sids]
        out = {
            "jobs": len(jobs),
            "run_s": sum(s["run_s"] for s in st),
            "cpu_s": sum(s["cpu_s"] for s in st),
            "shuffle_write_b": sum(s["shuffle_write_b"] for s in st),
            "spill_b": sum(s["spill_b"] for s in st),
            "failed_tasks": sum(s["failed_tasks"] for s in st),
        }
        if skew and sids:
            # skew of the stage that ran longest: where a straggler costs
            out["task_skew"] = self._skew(
                max(sids, key=lambda s: self.stages[s]["run_s"]))
        return out

    def node_metric(self, spans, metric: str, node_prefix: str = "") -> float:
        spans = set(spans)
        return sum(n["metrics"].get(metric, 0.0) for n in self.nodes
                   if n["span"] in spans and n["name"].startswith(node_prefix))


# ---- Python worker peak RSS -------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Samples the peak RSS (VmHWM) of every Python process below this
    one (the PySpark daemon and its forked workers) every ``period`` s."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark" not in cmd or b"java" in cmd.split(b"\0")[0]:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
                            break
            except OSError:
                continue

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self._sample()
        return self.peak_kb / 1024.0
