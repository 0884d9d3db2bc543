"""The benchmark's workloads: seeded inputs, one timed operation each,
and the independent checks of its outputs.

Every workload generates its input from the run's seed in this process
and hands the program only the generated frames. The seed changes the
content (jitter, roles, tools, words, which conversations and windows
the queries pick), never the size, so runs with different seeds do the
same amount of work.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import socket
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

DAY_MS = 86_400_000
HOUR_MS = 3_600_000

# ingest input: 200 conversations of 500 turns plus 2 conversations of
# 5,000 (the generator's skew case) = 110,000 turns. The generator
# staggers conversation starts by a whole day; folding them into a
# 14-day window puts ~14 conversations on each day and gives ~17 day
# partitions per table, each written through its own partition files.
N_CONVS, TURNS_PER_CONV, MEGA_CONVS, MEGA_FACTOR = 200, 500, 2, 10
WINDOW_DAYS = 14
START_MS = 1_700_000_000_000
START_DAY = START_MS // DAY_MS
# retention at a fixed "now", the day after the window, with a policy
# scaled to the window (segments 3 days, 1m/1h rollups 10, 1d rollups
# 12), so every tier drops partitions and keeps some
NOW_MS = (START_DAY + WINDOW_DAYS) * DAY_MS
HOT_DAYS, WARM_DAYS, COLD_DAYS = 3, 10, 12
# curate input: planted families give closed-form expected counts
N_DOCS = 20_000
TOP_WORD_GATE = 0.5
PREPARE_REPEATS = 3


def transcripts(spark, seed: int, window_days: int = WINDOW_DAYS):
    """Seeded synthetic turns with conversation start days folded into
    a `window_days` window (many conversations per day, as in a real
    transcript table)."""
    from modelardb_spark.operators.transcripts import synthetic_transcripts

    raw = synthetic_transcripts(
        spark, n_convs=N_CONVS, turns_per_conv=TURNS_PER_CONV,
        mega_convs=MEGA_CONVS, mega_factor=MEGA_FACTOR,
        start_ms=START_MS, seed=seed,
    )
    num = F.substring("conv_id", 6, 20).cast("long")
    shift = (num - num % window_days) * F.lit(DAY_MS)
    return raw.withColumn("ts", F.timestamp_millis(F.unix_millis("ts") - shift))


def reference_db(turns):
    """An in-process DuckDB database holding the raw turns, collected
    once through Arrow, and the series derived from them by plain SQL:
    `bins(conv_id, metric, bin_ms, value)` for every active 1-minute bin
    (turn_rate counts turns, tool_usage counts turns with a tool). The
    expected outputs are computed here, independently of the engine."""
    import duckdb

    con = duckdb.connect()
    raw = turns.select("conv_id", F.unix_millis("ts").alias("ts_ms"),
                       F.col("tool").isNotNull().alias("has_tool")).toArrow()
    con.register("raw_turns", raw)
    con.execute("""
        CREATE TABLE bins AS
        SELECT conv_id, metric, bin_ms, value FROM (
            SELECT conv_id, ts_ms // 60000 * 60000 AS bin_ms,
                   CAST(COUNT(*) AS FLOAT) AS turn_rate,
                   CAST(COUNT(*) FILTER (WHERE has_tool) AS FLOAT) AS tool_usage
            FROM raw_turns GROUP BY conv_id, bin_ms
        ) UNPIVOT (value FOR metric IN (turn_rate, tool_usage))""")
    con.unregister("raw_turns")
    return con


def dict_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


#: the tables whose data files count as stored bytes
STORED_TABLES = ("segments", "rollup_1m", "rollup_1h", "rollup_1d")


def data_bytes(root: str, tables) -> int:
    """Bytes of the data files (no metadata, checksums or manifests)."""
    total = 0
    for t in tables:
        for d, _, files in os.walk(os.path.join(root, t)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                         if not f.startswith((".", "_")))
    return total


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@dataclass
class Op:
    """One timed operation: its wall time, the items it processed and
    whether its output checked out."""

    seconds: float
    items: int
    ok: bool
    detail: dict = field(default_factory=dict)


def p90(xs: list[float]) -> float:
    """The 90th percentile as the nearest rank above it."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))]


def measure(wl, seconds: float) -> list[Op]:
    """Run operations until `seconds` have passed (at least one)."""
    ops, t0 = [], time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops.append(wl.op())
    return ops


class Workload:
    #: what one item is, for the human-readable metric names
    item = "items"
    #: the `tracing.Tracer` during the traced run, else None
    tracer = None

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self._n = 0

    def span(self, label: str, layer: str):
        """A span around a job step that the benchmark runs itself."""
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(label, layer)

    def untraced(self):
        """Benchmark-side work inside an operation runs without spans."""
        return contextlib.nullcontext() if self.tracer is None else self.tracer.pause()

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def prepare(self) -> None:
        """The repeatable part of set-up: build and persist the input."""
        raise NotImplementedError

    def setup(self) -> dict:
        """Prepare `PREPARE_REPEATS` times and warm up once; returns the
        seconds of each part. Also builds the check's reference answers,
        outside the timed parts."""
        times = []
        for _ in range(PREPARE_REPEATS):
            self.release()
            times.append(_timed(self.prepare))
        reference_s = _timed(self.reference)
        return {"prepare_s": times, "reference_s": reference_s,
                "warm_up_s": _timed(self.warm_up)}

    def reference(self) -> None:
        """Compute the expected outputs by an independent path."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self) -> Op:
        raise NotImplementedError

    def stored_bytes_per_turn(self) -> float:
        raise NotImplementedError

    def release(self) -> None:
        """Unpersist the input (called before each prepare)."""

    def close(self) -> None:
        self.release()


class TurnsWorkload(Workload):
    """A workload whose input is the seeded turns, folded into
    `window_days`."""

    window_days = WINDOW_DAYS

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.turns = None
        self.n_turns = 0

    def prepare(self):
        self.turns = transcripts(self.spark, self.seed, self.window_days).persist()
        self.n_turns = self.turns.count()

    def release(self):
        if self.turns is not None:
            self.turns.unpersist(blocking=True)


class Ingest(TurnsWorkload):
    """`jobs.ingest.ingest` over the seeded turns, once per series and
    once grouped (`operators.groupfit`), each followed by retention at a
    fixed `now` and each into a fresh output root."""

    item = "turns"

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.last_bytes = 0

    def reference(self):
        from modelardb_spark.operators.retention import RetentionPolicy, retention_cutoffs

        cut = retention_cutoffs(RetentionPolicy(HOT_DAYS, WARM_DAYS, COLD_DAYS), NOW_MS)
        con = reference_db(self.turns)
        self.expected = {}
        for table, window in (("rollup_1h", HOUR_MS), ("rollup_1d", DAY_MS)):
            self.expected[table] = Counter(con.execute(f"""
                SELECT conv_id, metric, bin_ms // {window} * {window} AS window_ms,
                       COUNT(*), MIN(value), MAX(value), SUM(CAST(value AS DOUBLE))
                FROM bins GROUP BY conv_id, metric, window_ms
                HAVING window_ms // {DAY_MS} >= {cut[table]}""").fetchall())
        con.close()

    def warm_up(self):
        # a one-day slice through both paths starts the Python workers
        # and compiles the plans that the measured run reuses
        one_day = self.turns.where(F.col("ts") < F.timestamp_millis(F.lit(START_MS + DAY_MS)))
        for grouped in (False, True):
            root = self.fresh_dir("warm")
            self.run_job(one_day, root, grouped)
            shutil.rmtree(root)

    def run_job(self, turns, root, grouped, between=None):
        from modelardb_spark.io.tables import TableCatalog
        from modelardb_spark.jobs import ingest
        from modelardb_spark.operators import retention

        kwargs = {"grouped": True, "dynamic_split_fraction": 0.10} if grouped else {}
        t0 = time.perf_counter()
        ingest.ingest(self.spark, turns, root, **kwargs)
        t1 = time.perf_counter()
        if between is not None:
            between(root, grouped)
        t2 = time.perf_counter()
        policy = retention.RetentionPolicy(HOT_DAYS, WARM_DAYS, COLD_DAYS)
        dropped = retention.apply_retention(TableCatalog(root), policy, NOW_MS)
        return (t1 - t0) + (time.perf_counter() - t2), dropped

    def op(self, between=None) -> Op:
        seconds, ok, detail = 0.0, True, {}
        for grouped in (False, True):
            path = "grouped" if grouped else "series"
            root = self.fresh_dir(path)
            s, dropped = self.run_job(self.turns, root, grouped, between)
            with self.untraced():
                ok = self.check(root, dropped) and ok
            stored = data_bytes(root, STORED_TABLES)
            shutil.rmtree(root)
            seconds += s
            detail[path] = {"seconds": s, "dropped": dropped, "stored_bytes": stored}
        self.last_bytes = detail["series"]["stored_bytes"]
        return Op(seconds, 2 * self.n_turns, ok, detail)

    def check(self, root, dropped) -> bool:
        """Retained 1h and 1d rollups equal the plain-SQL aggregation of
        the raw turns (`reference`), and retention dropped partitions in
        every tier."""
        return all(
            Counter(_rollup_rows(os.path.join(root, t))) == self.expected[t]
            for t in self.expected
        ) and all(dropped.get(t, 0) > 0 for t in STORED_TABLES)

    def stored_bytes_per_turn(self):
        """Data-file bytes per input turn of the per-series path."""
        return self.last_bytes / self.n_turns


def _rollup_rows(path: str) -> list[tuple]:
    """A stored rollup table's rows, read with pyarrow (not the engine)."""
    import pyarrow.dataset as ds

    cols = ["conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum"]
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


# ------------------------------------------------------------------ query

CLASSES = ("agg_all", "conv_lookup", "window_count", "window_points")
# the query catalog holds the same turns folded into one week: the
# layout the ingest workload writes, with half its partitions, so that
# a run sees enough requests
QUERY_WINDOW_DAYS = 7
POOL = 8  # distinct parameters per request class
AGGS = "COUNT_S(#) AS cnt, MIN_S(#) AS vmin, MAX_S(#) AS vmax, SUM_S(#) AS vsum, AVG_S(#) AS vavg"


def _sql(cls: str, p) -> str:
    if cls == "agg_all":
        return f"SELECT {AGGS} FROM segments"
    if cls == "conv_lookup":
        return (f"SELECT metric, {AGGS} FROM segments WHERE conv_id = '{p}' "
                "GROUP BY metric ORDER BY metric")
    if cls == "window_count":
        lo, hi = p
        se = f"START_END(start_ms, end_ms, interval_ms, {lo}, {hi})"
        return (f"SELECT metric, COUNT_S({se}.s, {se}.e, interval_ms) AS cnt FROM segments "
                f"WHERE end_ms >= {lo} AND start_ms <= {hi} GROUP BY metric ORDER BY metric")
    conv, lo, hi = p
    return (f"SELECT metric, bin_ms, value FROM DATA_POINTS({lo}, {hi}) "
            f"WHERE conv_id = '{conv}' ORDER BY metric, bin_ms")


class Query(TurnsWorkload):
    """A closed loop: one client, one loopback connection to
    `jobs.query_server.make_socket_server`, a seeded sequence of
    reference-style SQL over the catalog that set-up ingested."""

    item = "requests"
    window_days = QUERY_WINDOW_DAYS

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.root = None
        self.server = self.thread = self.sock = None
        self.rng = random.Random(seed)
        self.sent = 0
        self.rows_returned = 0

    def warm_up(self):
        from modelardb_spark.jobs import ingest, query_server

        self.root = self.fresh_dir("catalog")
        ingest.ingest(self.spark, self.turns, self.root)
        self.catalog_bytes = data_bytes(self.root, STORED_TABLES)
        query_server.prepare_session(self.spark, segments_dir=self.root)
        self.server = query_server.make_socket_server(self.spark, "127.0.0.1", 0)
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       kwargs={"poll_interval": 0.1}, daemon=True)
        self.thread.start()
        self.sock = socket.create_connection(("127.0.0.1", self.server.server_address[1]))
        self.stream = self.sock.makefile("rwb")
        for cls in CLASSES:
            self.request(cls, self.pool[cls][0])
        self.rows_returned = 0

    def reference(self):
        """Draw the request pool from the seed, and the expected answer
        to every pooled request by plain SQL over the raw turns (no
        segments, no model decode)."""
        rng = self.rng
        con = reference_db(self.turns)
        span = con.execute("SELECT conv_id, MIN(bin_ms), MAX(bin_ms) FROM bins "
                           "GROUP BY conv_id ORDER BY conv_id").fetchall()
        convs = rng.sample(span, POOL)
        points = []
        for conv, first, last in rng.sample(span, POOL):
            lo = (first + rng.randrange(max(1, last - first)) // 2) // HOUR_MS * HOUR_MS
            points.append((conv, lo, lo + 4 * HOUR_MS - 60_000))
        windows = []
        for _ in range(POOL):
            lo = START_MS // HOUR_MS * HOUR_MS + rng.randrange(self.window_days * 24) * HOUR_MS
            windows.append((lo, lo + 6 * HOUR_MS))
        self.pool = {"agg_all": [None], "conv_lookup": [c[0] for c in convs],
                     "window_count": windows, "window_points": points}
        agg = ("COUNT(*) AS cnt, MIN(value) AS vmin, MAX(value) AS vmax, "
               "SUM(CAST(value AS DOUBLE)) AS vsum, "
               "SUM(CAST(value AS DOUBLE)) / COUNT(*) AS vavg")
        exp = {("agg_all", None): dict_rows(con, f"SELECT {agg} FROM bins")}
        for conv in self.pool["conv_lookup"]:
            exp[("conv_lookup", conv)] = dict_rows(
                con, f"SELECT metric, {agg} FROM bins WHERE conv_id = '{conv}' "
                     "GROUP BY metric ORDER BY metric")
        for lo, hi in windows:
            exp[("window_count", (lo, hi))] = dict_rows(
                con, f"SELECT metric, COUNT(*) AS cnt FROM bins WHERE bin_ms BETWEEN {lo} "
                     f"AND {hi} GROUP BY metric ORDER BY metric")
        for conv, lo, hi in points:
            exp[("window_points", (conv, lo, hi))] = dict_rows(
                con, f"SELECT metric, bin_ms, value FROM bins WHERE conv_id = '{conv}' "
                     f"AND bin_ms BETWEEN {lo} AND {hi} ORDER BY metric, bin_ms")
        con.close()
        self.expected = exp

    def request(self, cls, param):
        """Send one statement; returns (seconds, ok, rows)."""
        t0 = time.perf_counter()
        self.stream.write(_sql(cls, param).encode() + b"\n")
        self.stream.flush()
        rows = []
        while True:
            line = self.stream.readline().decode()
            if not line or line.startswith("-- "):
                break
            rows.append(json.loads(line))
        seconds = time.perf_counter() - t0
        ok = line.startswith("-- ok") and rows == self.expected[(cls, param)]
        self.rows_returned += len(rows)
        return seconds, ok, len(rows)

    def next_request(self):
        cls = CLASSES[self.sent % len(CLASSES)]
        self.sent += 1
        return cls, self.rng.choice(self.pool[cls])

    def op(self) -> Op:
        cls, param = self.next_request()
        seconds, ok, n = self.request(cls, param)
        return Op(seconds, 1, ok, {"class": cls, "rows": n})

    def stored_bytes_per_turn(self):
        return self.catalog_bytes / self.n_turns

    def close(self):
        if self.sock is not None:
            self.stream.close()
            self.sock.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=10)
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        super().close()


# ------------------------------------------------------------------ curate


def expected_curate(n_docs: int) -> dict:
    """Closed-form counts of `textstats.synthetic_documents` for a
    multiple of 100 documents: doc_id % 100 == 7 is degenerate (gated),
    and each 100-doc family keeps its base and drops its 10 exact and
    10 near copies."""
    gated, dups = n_docs // 100, n_docs // 5
    return {"docs_in": n_docs, "quality_dropped": gated,
            "duplicates_dropped": dups, "kept": n_docs - gated - dups}


class Curate(Workload):
    """`jobs.curate.curate` with the quality gate over seeded documents,
    writing the curated corpus as the curation job does. Not a workload
    of the benchmark: the traced `query` run runs it once, cold."""

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.docs = None

    def prepare(self):
        from modelardb_spark.operators.textstats import synthetic_documents

        self.docs = synthetic_documents(self.spark, n_docs=N_DOCS, seed=self.seed).persist()
        self.docs.count()

    def release(self):
        if self.docs is not None:
            self.docs.unpersist(blocking=True)

    def op(self) -> Op:
        from modelardb_spark.jobs import curate

        out = self.fresh_dir("curated")
        t0 = time.perf_counter()
        curated, stats = curate.curate(self.spark, self.docs, seed=self.seed,
                                       max_top_word_frac=TOP_WORD_GATE)
        with self.span("jobs.curate.write", "jobs.curate"):
            curated.write.mode("overwrite").parquet(out)
        seconds = time.perf_counter() - t0
        shutil.rmtree(out)
        ok = all(stats.get(k) == v for k, v in expected_curate(N_DOCS).items())
        return Op(seconds, N_DOCS, ok, {"stats": stats})


WORKLOADS = {
    "ingest": Ingest,
    "query": Query,
}
