"""The traced run: after the untraced operations of the same process,
the workload's operation runs once more (the request loop for `query`)
under spans, the UDF profiler and the event log, and then once more
untraced, so that the tracing overhead is not confounded with the
process still warming up.

The `query` run also traces one cold run of the curation job
(`jobs.curate.curate`), so that the curation layers are measured too;
the benchmark has no separate curation workload (see BASELINE.md). It
sits in the `query` run because that traced run is the shorter one.

`traced_run` returns a function that, once Spark has stopped and
flushed its event log, computes the per-layer metrics and prints the
layer rows."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from tracing import EventLog, Tracer, install, plan_udf_text, udf_profiles
from workloads import N_DOCS, TOP_WORD_GATE, Curate, Ingest, Query, measure, p90

PROFILER = "spark.sql.pyspark.udf.profiler"
MTIDS = {1: "raw", 2: "pmc", 3: "swing", 4: "gorilla"}

#: every per-layer metric; a workload that does not run a layer reports 0
PER_LAYER = [
    "spark.jobs", "spark.tasks", "spark.driver_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "python.to_worker_bytes", "python.from_worker_bytes", "python.run_s",
    "python.start_s", "python.init_s", "python.arrow_s",
    "models.fit_s", "models.segments.pmc", "models.segments.swing",
    "models.segments.gorilla", "models.segments.raw", "models.compression_ratio",
    "operators.fit.exec_s", "operators.fit.kernel_s", "operators.fit.segments_out",
    "operators.groupfit.exec_s", "operators.groupfit.kernel_s",
    "operators.groupfit.segments_out", "operators.groupfit.compression_ratio",
    "operators.rollup.exec_s", "operators.rollup.kernel_s", "operators.rollup.rows_out",
    "operators.retention.s", "operators.retention.partitions_dropped",
    "io.tables.staging_s", "io.tables.write_s", "io.tables.files_written",
    "io.tables.bytes_written", "io.tables.partitions_written", "io.checkpoints.s",
    "operators.sqlfunctions.plan_s", "operators.sqlfunctions.exec_s",
    "operators.grid.decode_s", "jobs.query_server.exec_s", "jobs.query_server.wire_s",
    "query.rows_scanned_per_row_returned", "query.files_read_per_request",
    "query.agg_all.p50_ms", "query.conv_lookup.p50_ms", "query.window_count.p50_ms",
    "query.window_points.p50_ms", "query.latency_p90_ms",
    "jobs.curate.docs_per_s", "operators.dedup.exec_s", "operators.dedup.candidate_pairs",
    "operators.dedup.verified_pairs", "operators.textstats.gate_s",
    "operators.packing.exec_s", "operators.packing.fill_ratio",
    "peak_rss_mb",
    "trace.wall_s", "trace.overhead_frac", "trace.coverage", "failed_fraction",
    "env.load1", "env.cpu_per_wall",
]
UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "bytes": "B", "bytes_written": "B",
         "_frac": "ratio", "_fraction": "ratio", "_ratio": "ratio", "coverage": "ratio",
         "per_wall": "ratio", "load1": "load", "per_row_returned": "rows/row",
         "per_request": "files/req", "_mb": "MB",
         "docs_per_s": "docs/s"}
ROW_LAYERS = ["jobs.ingest", "jobs.curate", "jobs.query_server", "spark", "io.tables",
              "io.checkpoints", "operators.fit", "operators.groupfit", "operators.rollup",
              "operators.retention", "operators.sqlfunctions", "operators.dedup",
              "operators.packing", "operators.textstats", "wire"]


def _unit(name: str) -> str:
    return next((u for suffix, u in reversed(UNITS.items()) if name.endswith(suffix)),
                "count")


def _model_stats(spark, root: str, grouped: bool) -> dict:
    """Segments per model type and the reference's compression ratio
    16·n / (24 + model + 4·gaps), read from the stored segments before
    retention; the grouped path reports only its ratio."""
    seg = spark.read.parquet(os.path.join(root, "segments"))
    gaps = F.size("gaps") * 4 if grouped else F.lit(0)
    raw, stored = seg.agg(F.sum(F.col("n") * 16),
                          F.sum(F.lit(24) + F.length("model") + gaps)).first()
    if grouped:
        return {"operators.groupfit.compression_ratio": raw / stored}
    out = {f"models.segments.{MTIDS[r.mtid]}": r.n
           for r in seg.groupBy("mtid").agg(F.count(F.lit(1)).alias("n")).collect()}
    out["models.compression_ratio"] = raw / stored
    return out


@dataclass
class Section:
    """One traced stretch of work."""

    tracer: Tracer
    t0: float
    t1: float
    ops: list
    profiles: dict

    def log(self, settings) -> EventLog:
        return EventLog(settings["conf"]["spark.eventLog.dir"], self.tracer.labels,
                        (self.t0, self.t1))

    @property
    def wall(self) -> float:
        return sum(o.seconds for o in self.ops)

    def rows(self) -> dict[str, float]:
        return self.tracer.self_seconds()


def trace_section(spark, wl, run) -> Section:
    """Run `run(tracer)` with every layer wrapped and the profiler on."""
    tracer = Tracer(spark.sparkContext)
    spark.profile.clear()
    spark.conf.set(PROFILER, "perf")
    install(tracer)
    wl.tracer = tracer
    t0 = time.time()
    try:
        ops = run(tracer)
    finally:
        t1 = time.time()
        tracer.restore()
        wl.tracer = None
        spark.conf.unset(PROFILER)
    return Section(tracer, t0, t1, ops, dict(spark._profiler_collector._perf_profile_results))


def _trace_curation(spark, seed: int, work: str, post: dict) -> Section:
    """One cold, traced run of the curation job over its own seeded
    documents; fills the curation metrics that need a count of their own."""
    from modelardb_spark.operators import dedup
    from modelardb_spark.operators.textstats import repetition_filter

    cur = Curate(spark, seed, work)
    cur.prepare()
    pairs = []

    def run(tracer):
        tracer.wrap(dedup, "minhash_lsh_pairs", "operators.dedup",
                    on_result=lambda out, _: pairs.append(out))
        return [cur.op()]

    sec = trace_section(spark, cur, run)
    # the verified pairs are computed from the candidates: cache those once
    candidates = pairs[-1]._persisted_intermediates[2].persist()
    post["operators.dedup.candidate_pairs"] = candidates.count()
    post["operators.dedup.verified_pairs"] = pairs[-1].count()
    candidates.unpersist()
    ts = time.perf_counter()
    repetition_filter(cur.docs, None, TOP_WORD_GATE).count()
    post["operators.textstats.gate_s"] = time.perf_counter() - ts
    post["operators.packing.fill_ratio"] = sec.ops[0].detail["stats"]["fill_ratio"]
    post["jobs.curate.docs_per_s"] = N_DOCS / sec.wall
    cur.close()
    return sec


def _print_rows(title: str, sec: Section, rows: dict[str, float]) -> float:
    coverage = sum(rows.values()) / sec.wall
    verdict = "ok" if 0.9 <= coverage <= 1.1 else "OUTSIDE 0.9-1.1"
    print(f"# {title} layer rows (self seconds of the traced operation, "
          f"wall {sec.wall:.3f} s, coverage {coverage:.3f}: {verdict})")
    for layer in ROW_LAYERS:
        if layer in rows:
            print(f"layer {title} {layer} {rows[layer]:.4f} s")
    return coverage


def traced_run(spark, wl, untraced_ops, seconds, settings):
    post = {}

    def between(root, grouped):
        with wl.untraced():
            post.update(_model_stats(spark, root, grouped))

    def run(tracer):
        if isinstance(wl, Query):
            wl.rows_returned = 0
            ops = measure(wl, seconds)
            post["rows_returned"] = wl.rows_returned
            return ops
        return [wl.op(between=between)]

    sec = trace_section(spark, wl, run)
    # half the window after the traced part is enough for a median and
    # keeps the traced run well inside its time limit
    after = measure(wl, seconds / 2) if isinstance(wl, Query) else [wl.op()]
    untraced_ops = untraced_ops + after
    checked = sec.ops + after

    cur_sec = None
    if isinstance(wl, Ingest):
        post["operators.retention.partitions_dropped"] = sum(
            sum(sec.ops[0].detail[path]["dropped"].values()) for path in ("series", "grouped"))
    else:
        post["query.latency_p90_ms"] = p90([o.seconds * 1e3 for o in untraced_ops])
        for cls in ("agg_all", "conv_lookup", "window_count", "window_points"):
            xs = [o.seconds * 1e3 for o in untraced_ops if o.detail["class"] == cls]
            post[f"query.{cls}.p50_ms"] = statistics.median(xs) if xs else 0.0
        cur_sec = _trace_curation(spark, wl.seed, wl.work, post)
        checked += cur_sec.ops

    def finish(e2e, env, failed_fraction):
        log = sec.log(settings)
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(post)
        m["peak_rss_mb"] = e2e["peak_rss_mb"][0]
        tr = sec.tracer
        m.update({
            "spark.jobs": len(log.jobs), "spark.tasks": log.tasks,
            "spark.driver_s": log.idle_seconds(sec.t0, sec.t1),
            "spark.executor_cpu_s": log.task_totals["cpu_s"],
            "spark.gc_s": log.task_totals["gc_s"],
            "spark.shuffle_write_bytes": log.task_totals["shuffle_write_bytes"],
            "spark.spill_bytes": log.task_totals["spill_bytes"],
            "python.to_worker_bytes": log.sum("data sent to Python workers"),
            "python.from_worker_bytes": log.sum("data returned from Python workers"),
            "python.run_s": log.sum("time to run Python workers"),
            "python.start_s": log.sum("time to start Python workers"),
            # Spark repeats a reused worker's initialisation time on
            # every task it runs, so this is not wall time per task
            "python.init_s": log.sum("time to initialize Python workers"),
            "io.tables.staging_s": tr.total_seconds("io.tables.overwrite[staged_"),
            "io.tables.write_s": tr.total_seconds("io.tables.overwrite")
            + tr.total_seconds("io.tables.append")
            - tr.total_seconds("io.tables.overwrite[staged_"),
            "io.tables.files_written": log.sum("number of written files"),
            "io.tables.bytes_written": log.sum("written output"),
            "io.tables.partitions_written": log.sum("number of dynamic part"),
            "io.checkpoints.s": tr.total_seconds("io.checkpoints."),
            "operators.retention.s": tr.total_seconds("operators.retention."),
            "operators.rollup.rows_out": log.sum(
                "number of output rows", "Insert",
                where=lambda desc: "[rollup_" in (desc or "")),
            "operators.sqlfunctions.plan_s": tr.total_seconds("operators.sqlfunctions."),
            "trace.wall_s": sec.wall,
            "trace.overhead_frac": (statistics.median(o.seconds for o in sec.ops)
                                    / statistics.median(o.seconds for o in untraced_ops) - 1),
            "failed_fraction": failed_fraction,
            "env.load1": env["load1_at_start"], "env.cpu_per_wall": env["cpu_per_wall"],
        })
        for layer in ("fit", "groupfit", "rollup", "sqlfunctions", "grid"):
            key = "decode_s" if layer == "grid" else "exec_s"
            m[f"operators.{layer}.{key}"] = log.sum(
                "time to run Python workers", layer=f"operators.{layer}")
        for layer in ("fit", "groupfit"):
            m[f"operators.{layer}.segments_out"] = log.sum(
                "number of output rows", "Pandas", layer=f"operators.{layer}")
        prof = udf_profiles(sec.profiles, plan_udf_text(log))
        for k in ("operators.fit.kernel_s", "operators.groupfit.kernel_s",
                  "operators.rollup.kernel_s", "models.fit_s", "python.arrow_s"):
            m[k] = prof.get(k, 0.0)
        rows = sec.rows()
        if isinstance(wl, Query):
            m["jobs.query_server.exec_s"] = tr.total_seconds("jobs.query_server.rows_json")
            # one client, one request at a time: the rest of each round
            # trip is the socket, the server's line handling and JSON
            m["jobs.query_server.wire_s"] = rows["wire"] = sec.wall - sum(rows.values())
            returned = max(1, m.pop("rows_returned"))
            m["query.rows_scanned_per_row_returned"] = log.sum(
                "number of output rows", "^Scan") / returned
            m["query.files_read_per_request"] = log.sum("number of files read") / len(sec.ops)
        m["trace.coverage"] = _print_rows(type(wl).__name__.lower(), sec, rows)
        if cur_sec is not None:
            cur_log = cur_sec.log(settings)
            m["operators.dedup.exec_s"] = cur_sec.tracer.total_seconds(
                "operators.dedup.near_dup_clusters")
            m["operators.packing.exec_s"] = cur_log.sum(
                "time to run Python workers", layer="operators.packing")
            _print_rows("curation", cur_sec, cur_sec.rows())
        for k, (v, u) in e2e.items():
            print(f"# untraced {k} {v:.6g} {u}")
        return {k: {"value": float(v), "unit": _unit(k)} for k, v in m.items()}

    return finish, checked
