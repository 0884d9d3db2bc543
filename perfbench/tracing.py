"""Per-layer tracing from outside the program.

Three sources, none of which needs a change to the engine:

- `Tracer` wraps the public functions of each layer and records one
  span per call (name, start, end, parent). On entry the wrapper sets
  the Spark job description to the span label and restores the old one
  on exit, so every job a product call starts is attributed to that
  call in the event log.
- `EventLog` parses Spark's uncompressed JSON event log: jobs, tasks,
  task metrics and the SQL metrics of every plan node.
- `udf_profiles` reads the `perf` Python UDF profiler
  (`spark.sql.pyspark.udf.profiler=perf`) and splits each UDF's time
  into engine modules.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

JOB_DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    id: int
    label: str  # span name, plus "[detail]" for calls that name a table
    layer: str  # module path under modelardb_spark, or "spark"
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for wrapped callables; `restore()` undoes every
    patch. Spans are kept in memory and read after the traced run."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.labels: set[str] = set()
        #: while set, wrapped calls run without a span (benchmark-side work)
        self.paused = False

    @contextlib.contextmanager
    def span(self, label: str, layer: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(next(self._ids), label, layer, stack[-1].id if stack else None, time.time())
        prev = self._sc.getLocalProperty(JOB_DESCRIPTION)
        self._sc.setLocalProperty(JOB_DESCRIPTION, label)
        with self._lock:
            self.labels.add(label)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self._sc.setLocalProperty(JOB_DESCRIPTION, prev)
            sp.end = time.time()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, layer: str, detail=None, on_result=None):
        """Replace `owner.attr` by a spanned wrapper. `detail(args)`
        gives a suffix for the label (e.g. the table name);
        `on_result(result, args)` sees each call's return value."""
        original = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if self.paused:
                return original(*args, **kwargs)
            label = name if detail is None else f"{name}[{detail(args, kwargs)}]"
            with self.span(label, layer):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result, args)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    @contextlib.contextmanager
    def pause(self):
        """Run benchmark-side work (checks, counts) without spans."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_seconds(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Layer -> exclusive time: each span's duration minus the part
        its child spans cover."""
        spans = self.spans if spans is None else spans
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out = defaultdict(float)
        for s in spans:
            out[s.layer] += s.seconds - child[s.id]
        return dict(out)

    def total_seconds(self, prefix: str) -> float:
        """Inclusive time of the outermost spans whose label starts with
        `prefix` (nested calls of the same function count once)."""
        by_id = {s.id: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if not s.label.startswith(prefix):
                continue
            p = by_id.get(s.parent)
            while p is not None and not p.label.startswith(prefix):
                p = by_id.get(p.parent)
            if p is None:
                total += s.seconds
        return total


def _detail_table(args, kwargs):
    # TableCatalog methods take (self, df?, name, ...) or (self, name, ...)
    for a in args[1:]:
        if isinstance(a, str):
            return a
    return kwargs.get("name", "?")


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads run."""
    from pyspark.sql.classic import dataframe as classic_df

    from modelardb_spark.io import checkpoints, tables
    from modelardb_spark.jobs import curate, ingest, query_server
    from modelardb_spark.operators import (
        dedup,
        fit,
        groupfit,
        packing,
        retention,
        textstats,
    )

    w = tracer.wrap
    # Spark 4 overrides the actions on the classic DataFrame subclass:
    # wrapping pyspark.sql.DataFrame would catch nothing
    for action in ("count", "collect", "first", "take", "toPandas",
                   "localCheckpoint", "checkpoint"):
        w(classic_df.DataFrame, action, "spark")
    w(ingest, "ingest", "jobs.ingest")
    # jobs.ingest binds these two at import: patch them where they are bound
    w(ingest, "rollup_from_segments", "operators.rollup")
    w(ingest, "rollup_cascade", "operators.rollup")
    w(fit, "fit_segments_from_transcripts", "operators.fit")
    for name in ("fit_segments_grouped", "rollup_from_group_segments"):
        w(groupfit, name, "operators.groupfit")
    w(retention, "apply_retention", "operators.retention")
    for name in ("overwrite", "overwrite_partitions", "append", "read",
                 "drop_partitions", "list_partitions", "write_manifest",
                 "read_manifest"):
        w(tables.TableCatalog, name, "io.tables", detail=_detail_table)
    for name in ("done_partitions", "record"):
        w(checkpoints.CheckpointStore, name, "io.checkpoints")
    # query_server binds segment_sql at import; its handler looks up
    # execute/rows_json as module globals on every request
    w(query_server, "segment_sql", "operators.sqlfunctions")
    w(query_server, "rows_json", "jobs.query_server")
    w(curate, "curate", "jobs.curate")
    # minhash_lsh_pairs is wrapped by the curation trace, which keeps
    # its result to count the candidate and verified pairs
    for name in ("near_dup_clusters", "duplicate_clusters", "decontaminate",
                 "sample_one_per_cluster"):
        w(dedup, name, "operators.dedup")
    w(packing, "pack_sequences", "operators.packing")
    w(textstats, "repetition_filter", "operators.textstats")


# ---------------------------------------------------------------- event log

_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


def _python_class(node: str) -> str | None:
    """Engine layer of a Python-UDF plan node, told by the UDF and the
    output schema it produces (closure names such as `run` are shared
    between layers)."""
    if "DECODE_SEGMENT" in node:
        return "operators.grid"
    if "SEG_AGG" in node:
        return "operators.sqlfunctions"
    if "tids#" in node and "gaps#" in node:
        return "operators.groupfit"
    if "window_ms#" in node and "vsum#" in node:
        return "operators.rollup"
    if "seg_sum#" in node and "mtid#" in node:
        return "operators.fit"
    if "bin_ms#" in node and "value#" in node:
        return "operators.grid"
    if "seq_bin#" in node:
        return "operators.packing"
    return None


@dataclass
class Metric:
    execution: int
    node: str  # nodeName
    text: str  # simpleString
    name: str
    kind: str
    value: float = 0.0


class EventLog:
    """Totals over the jobs and SQL executions that started inside
    `window` (epoch seconds) with one of `labels` (the span labels of
    the traced work) as their description."""

    def __init__(self, path: str, labels: set[str], window: tuple[float, float]):
        lo, hi = window[0] * 1e3, window[1] * 1e3
        self.jobs: dict[int, tuple[float, float]] = {}
        self.tasks = 0
        self.task_totals = defaultdict(float)
        self.metrics: dict[int, Metric] = {}
        self.exec_desc: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        updates: dict[int, float] = defaultdict(float)
        traced_exec: set[int] = set()
        files = sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.startswith("events_") or f.startswith("local-")
        )
        for fn in files:
            with open(fn) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        if (props.get(JOB_DESCRIPTION) in labels
                                and lo <= e["Submission Time"] <= hi):
                            self.jobs[e["Job ID"]] = (e["Submission Time"] / 1e3, 0.0)
                            for sid in e["Stage IDs"]:
                                stage_job[sid] = e["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        if e["Job ID"] in self.jobs:
                            start = self.jobs[e["Job ID"]][0]
                            self.jobs[e["Job ID"]] = (start, e["Completion Time"] / 1e3)
                    elif kind == "SparkListenerTaskEnd":
                        if e["Stage ID"] not in stage_job:
                            continue
                        self.tasks += 1
                        tm = e.get("Task Metrics") or {}
                        t = self.task_totals
                        t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                        t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                        t["shuffle_write_bytes"] += (
                            tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                        t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                        for acc in e["Task Info"].get("Accumulables", []):
                            if acc.get("Metadata") == "sql" and "Update" in acc:
                                updates[acc["ID"]] += float(acc["Update"])
                    elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"
                    ):
                        eid = e["executionId"]
                        if kind.endswith("SQLExecutionStart"):
                            if e.get("description") in labels and lo <= e["time"] <= hi:
                                traced_exec.add(eid)
                                self.exec_desc[eid] = e["description"]
                        if eid in traced_exec:
                            self._plan(eid, e["sparkPlanInfo"])
                    elif kind.endswith("SparkListenerDriverAccumUpdates"):
                        for acc_id, value in e["accumUpdates"]:
                            updates[acc_id] += float(value)
        # adaptive execution can post the plan holding a node's metrics
        # after the tasks that updated them, so join at the end
        for acc_id, m in self.metrics.items():
            m.value = updates.get(acc_id, 0.0)

    def _plan(self, eid: int, info: dict) -> None:
        for m in info["metrics"]:
            if m["accumulatorId"] not in self.metrics:
                self.metrics[m["accumulatorId"]] = Metric(
                    eid, info["nodeName"], info["simpleString"], m["name"], m["metricType"])
        for child in info["children"]:
            self._plan(eid, child)

    def sum(self, name: str, node_pattern: str = "", layer: str | None = None,
            where=None) -> float:
        """Sum of one SQL metric over the plan nodes whose name matches
        `node_pattern`, whose Python UDF belongs to `layer` and whose
        execution description passes `where`; seconds for timings."""
        pat = re.compile(node_pattern)
        total = 0.0
        for m in self.metrics.values():
            if m.name != name or not pat.search(m.node):
                continue
            if layer is not None and _python_class(m.text) != layer:
                continue
            if where is not None and not where(self.exec_desc.get(m.execution)):
                continue
            total += m.value * _UNITS.get(m.kind, 1.0)
        return total

    def idle_seconds(self, start: float, end: float) -> float:
        """Time in [start, end] during which no traced job ran."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.jobs.values()):
            s, e = max(s, start), min(e or end, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return (end - start) - busy


# ---------------------------------------------------------------- profiler

_MODEL_FILES = {"cascade.py", "gorilla.py", "swing.py", "pmc_mean.py",
                "segment.py", "uncompressed.py", "deltadelta.py"}
_UDF_FILES = {"fit.py": "operators.fit", "groupfit.py": "operators.groupfit",
              "rollup.py": "operators.rollup", "grid.py": "operators.grid",
              "sqlfunctions.py": "operators.sqlfunctions",
              "packing.py": "operators.packing", "dedup.py": "operators.dedup"}


def udf_profiles(results: dict, plan_text: dict[int, str]) -> dict[str, float]:
    """Split `perf` profiler results into `<layer>.kernel_s` (time in
    the UDF's own code, Arrow-to-pandas input conversion excluded),
    `python.arrow_s` (that conversion) and `models.fit_s` (time in the
    model kernels called from the operators). `plan_text` maps a UDF
    result id to the text of the plan node that runs it."""
    out = defaultdict(float)
    for rid, stats in results.items():
        st = stats.stats
        roots = [k for k, v in st.items()
                 if k[0] in _UDF_FILES and all(c[0] not in _UDF_FILES for c in v[4])]
        if not roots:
            continue
        layer = _python_class(plan_text.get(rid, "")) or _UDF_FILES[roots[0][0]]
        for root in roots:
            arrow = sum(edge[3] for k, v in st.items() if k[0] == "serializers.py"
                        for caller, edge in v[4].items() if caller == root)
            out[f"{layer}.kernel_s"] += st[root][3] - arrow
            out["python.arrow_s"] += arrow
        for k, v in st.items():
            if k[0] in _MODEL_FILES:
                out["models.fit_s"] += sum(edge[3] for caller, edge in v[4].items()
                                           if caller[0] not in _MODEL_FILES)
    return dict(out)


def plan_udf_text(log: EventLog) -> dict[int, str]:
    """UDF result id -> plan node text, from `name(args)#<id>` in the
    Python nodes of the traced executions."""
    out = {}
    for m in log.metrics.values():
        if "Python" in m.node or "Pandas" in m.node:
            for rid in re.findall(r"\)#(\d+)", m.text):
                out[int(rid)] = m.text
    return out
