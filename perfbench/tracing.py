"""Spans recorded from outside the program, and the offline event-log fold.

Every call the benchmark makes into a graphzeppelin_spark layer runs inside
``Tracer.span(name)``: the span sets the Spark job description to its name,
so each Spark job carries the layer that issued it, and records wall time,
CPU steal and its parent span in memory. ``fold_event_log`` later reads the
Spark event log and folds stage and task metrics by that job description.

``install_wrappers`` (traced runs only) wraps the streaming driver's internal
calls (SketchCC.build_state / merge_states / boruvka, CheckpointStore.commit
/ read) with spans from these files, so jobs the driver issues carry a layer
name too. build_state and merge_states return lazy DataFrames: their spans
time plan construction only, and their compute shows in the commit span.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from graphzeppelin_spark.hostmeter import StealMeter

DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    steal_pct: float | None = None
    ok: bool = True

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder over one SparkContext. `traced` says whether
    the context writes an event log (callers then add traced-only work)."""

    def __init__(self, sc, traced: bool = False, prefix: str = ""):
        self.sc = sc
        self.traced = traced
        self.prefix = prefix  # prepended to the job descriptions it sets
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        prev_desc = self.sc.getLocalProperty(DESC_KEY)
        s = Span(len(self.spans), name, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(self.prefix + name)
        meter = StealMeter()
        s.start = time.perf_counter()
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = time.perf_counter()
            s.steal_pct = meter.steal_pct()
            self._stack.pop()
            self.sc.setJobDescription(prev_desc)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def install_wrappers(tracer: Tracer) -> list[tuple[type, str, object]]:
    """Wrap the driver's internal calls in spans; returns what to restore."""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

    targets = [
        (SketchCC, "build_state", "sketch_cc.build_state"),
        (SketchCC, "merge_states", "sketch_cc.merge_states"),
        (SketchCC, "boruvka", "sketch_cc.boruvka"),
        (CheckpointStore, "commit", "checkpoint.commit"),
        (CheckpointStore, "read", "checkpoint.read"),
    ]
    saved = []
    for cls, attr, span_name in targets:
        orig = getattr(cls, attr)

        def wrapper(self, *a, _orig=orig, _name=span_name, **kw):
            with tracer.span(_name):
                return _orig(self, *a, **kw)

        saved.append((cls, attr, orig))
        setattr(cls, attr, wrapper)
    return saved


def restore_wrappers(saved) -> None:
    for cls, attr, orig in saved:
        setattr(cls, attr, orig)


# ------------------------------------------------------------ event-log fold

# SQL metric names of the python runners and exchanges (Spark 4)
PY_RUN_MS = "time to run Python workers"
_UDF_RE = re.compile(r"^(?:MapInPandas|MapInArrow|ArrowEvalPython|FlatMapGroupsInPandas)\s+(\w+)\(")
_UDF_METRICS = {"data sent to Python workers": "sent",
                "data returned from Python workers": "returned", PY_RUN_MS: "run_ms"}
_EXCHANGE_METRICS = {"shuffle bytes written": "shuffle_bytes",
                     "shuffle records written": "shuffle_records"}


@dataclass
class Stage:
    desc: str
    duration_s: float = 0.0
    task_s: list = field(default_factory=list)
    gc_ms: int = 0
    tags: set = field(default_factory=set)  # (udf, counter) pairs updated here

    def skew(self) -> float:
        """max ÷ median task time (0 for single-task stages)."""
        if len(self.task_s) < 2:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 0.0


@dataclass
class Fold:
    """Spark metrics of every job that ran under one job description."""

    jobs: int = 0
    tasks: int = 0
    task_failures: int = 0
    shuffle_write_bytes: int = 0
    result_bytes: int = 0
    gc_ms: int = 0
    py_run_ms: int = 0
    stages: list = field(default_factory=list)

    def task_skew(self) -> float:
        return max((st.skew() for st in self.stages), default=0.0)


def _udf_accumulators(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """Map accumulator id -> (udf name, counter) for every python runner in
    a plan: its own runner metrics, the rows entering it, and the bytes and
    records of the nearest exchange feeding it."""
    m = _UDF_RE.match(node.get("simpleString", ""))
    if m:
        udf = m.group(1)
        for met in node.get("metrics", []):
            if met["name"] in _UDF_METRICS:
                out[met["accumulatorId"]] = (udf, _UDF_METRICS[met["name"]])
        rows_found = exchange_found = False
        queue = list(node.get("children", []))
        while queue and not (rows_found and exchange_found):
            child = queue.pop(0)
            if _UDF_RE.match(child.get("simpleString", "")):
                continue  # another runner's input is not ours
            names = {x["name"]: x["accumulatorId"] for x in child.get("metrics", [])}
            if child.get("nodeName") == "Exchange":
                if not exchange_found:
                    for name, counter in _EXCHANGE_METRICS.items():
                        if name in names:
                            out[names[name]] = (udf, counter)
                    exchange_found = True
                if not rows_found and "records read" in names:
                    out[names["records read"]] = (udf, "rows_in")
                    rows_found = True
                continue  # stop below the first exchange on this branch
            if not rows_found and "number of output rows" in names:
                out[names["number of output rows"]] = (udf, "rows_in")
                rows_found = True
            queue.extend(child.get("children", []))
    for child in node.get("children", []):
        _udf_accumulators(child, out)


def fold_event_log(path: str) -> tuple[dict[str, Fold], dict[tuple[str, str], dict[str, int]]]:
    """Fold a plain JSON-lines Spark event log by job description.

    Returns ({description: Fold}, {(description, udf name): counters}).
    Counters come from per-task deltas (TaskEnd), never from accumulator
    totals, so a plan node whose accumulator spans several jobs is not
    counted twice."""
    stage_desc: dict[int, str] = {}
    stages: dict[int, Stage] = {}
    udf_acc: dict[int, tuple[str, str]] = {}
    folds: dict[str, Fold] = {}
    udfs: dict[tuple[str, str], dict[str, int]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(DESC_KEY) or "-"
                folds.setdefault(desc, Fold()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _udf_accumulators(ev["sparkPlanInfo"], udf_acc)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, Stage(stage_desc.get(sid, "-")))
                st.duration_s = (info.get("Completion Time", 0)
                                 - info.get("Submission Time", 0)) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                desc = stage_desc.get(sid, "-")
                st = stages.setdefault(sid, Stage(desc))
                fo = folds.setdefault(desc, Fold())
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                fo.tasks += 1
                if ti.get("Failed") or ti.get("Killed"):
                    fo.task_failures += 1
                st.task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                sw = tm.get("Shuffle Write Metrics") or {}
                fo.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                fo.result_bytes += tm.get("Result Size", 0)
                fo.gc_ms += tm.get("JVM GC Time", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                for acc in ti.get("Accumulables", []):
                    upd = acc.get("Update")
                    if upd is None:
                        continue
                    upd = int(upd)
                    if acc.get("Name") == PY_RUN_MS:
                        fo.py_run_ms += upd
                    hit = udf_acc.get(acc.get("ID"))
                    if hit:
                        counters = udfs.setdefault((desc, hit[0]), {})
                        counters[hit[1]] = counters.get(hit[1], 0) + upd
                        st.tags.add(hit)
    for sid in sorted(stages):
        st = stages[sid]
        folds.setdefault(st.desc, Fold()).stages.append(st)
    return folds, udfs
