"""In-memory spans around the benchmark's calls into the engine, plus the
Spark counters each span caused.

A span records name, layer, start, end, parent and pass id.  Self time is
the span's duration minus the part of its interval its child spans cover.
When a ``SparkCounters`` is attached, each layer span runs under its own job
group; on exit the span reads jobs, stages and tasks from the status tracker
and sums the SQL metrics (shuffle bytes, Python worker run and start-up time,
join output rows, broadcast exchanges) of every query execution those jobs
belong to.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("1,234", "16.1 KiB",
    "total (min, med, max ...)\\n12 ms (...)") -> bytes, seconds or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class SparkCounters:
    """Reads what one job group did from the status tracker and the SQL
    status store.  Only used by the traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self.seen_exec = 0

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        self.sc.setJobGroup("untraced", "untraced")
        job_ids = set(self.tracker.getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                    out["stages"] += 1
                    out["tasks"] += st.numCompletedTasks
                    out["failed_tasks"] += st.numFailedTasks
        out.update(self._sql_metrics(job_ids))
        return out

    def _sql_metrics(self, job_ids: set) -> dict:
        sums = {"shuffle_write_bytes": 0.0, "python_s": 0.0, "python_boot_s": 0.0,
                "join_rows_out": 0.0, "broadcast_exchanges": 0.0}
        total = int(self.store.executionsCount())
        if total <= self.seen_exec or not job_ids:
            self.seen_exec = max(self.seen_exec, total)
            return sums
        execs = self.store.executionsList(self.seen_exec, total - self.seen_exec)
        self.seen_exec = total
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in ex.jobs().keySet().toList().mkString(",").split(",") if j}
            if not ex_jobs & job_ids:
                continue
            values = self.store.executionMetrics(ex.executionId())
            nodes = self.store.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name == "BroadcastExchange":
                    sums["broadcast_exchanges"] += 1
                metrics = node.metrics()
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    label = pm.name()
                    if label == "shuffle bytes written":
                        sums["shuffle_write_bytes"] += parse_metric(v.get())
                    elif label == "number of output rows" and name.startswith(_JOIN_NODES):
                        sums["join_rows_out"] += parse_metric(v.get())
                    elif label == "time to run Python workers":
                        sums["python_s"] += parse_metric(v.get())
                    elif label in ("time to start Python workers",
                                   "time to initialize Python workers"):
                        sums["python_boot_s"] += parse_metric(v.get())
        return sums


class Tracer:
    """Spans in memory; ``counters`` is None in an untraced run.

    ``call`` is how workloads reach the engine.  Untraced, it just calls.
    Traced, it opens a layer span and materializes a DataFrame result at the
    boundary (persist + count), so the next layer's span does not re-run it.
    """

    def __init__(self, counters: SparkCounters | None = None):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = -1
        self.notes: dict[tuple[int, str, str], float] = {}
        self.run_notes: dict[tuple[str, str], float] = {}
        self._kept: list = []

    @property
    def traced(self) -> bool:
        return self.counters is not None

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.traced:
            return fn(*args, **kwargs)
        from pyspark.sql import DataFrame

        name = fn.__module__.replace("incubator_sedona_spark.", "") + "." + fn.__name__
        with self.span(name, layer) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist()
                sp.counters["rows_out"] = out.count()
                self._kept.append(out)
        return out

    def keep(self, df) -> None:
        """Unpersist ``df`` when the pass is released."""
        self._kept.append(df)

    def release(self) -> None:
        while self._kept:
            self._kept.pop().unpersist()

    def note(self, layer: str, key: str, value: float) -> None:
        """Add a per-pass counter that the benchmark computed for a layer."""
        k = (self.pass_id, layer, key)
        self.notes[k] = self.notes.get(k, 0.0) + value

    def note_run(self, layer: str, key: str, value: float) -> None:
        """Add a counter measured once per run, outside the passes."""
        k = (layer, key)
        self.run_notes[k] = self.run_notes.get(k, 0.0) + value

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, self.pass_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"span-{sp.sid}"
        if self.counters is not None and layer is not None:
            self.counters.begin(group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.counters is not None and layer is not None:
                sp.counters.update(self.counters.end(group))
                # reading counters is tracing overhead, not the layer's work
                sp.counters["read_s"] = time.perf_counter() - sp.end

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.sid, []), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "layer": sp.layer, "parent": sp.parent,
                    "pass": sp.pass_id, "start": sp.start, "end": sp.end,
                    "self_s": selfs[sp.sid], **sp.counters}) + "\n")
