"""CQL (Cassandra) segment catalog — CassandraStorage.scala parity.

The reference ships a Cassandra backend (storage/CassandraStorage.scala)
whose lessons are the data model, not the driver plumbing:

- **Partition key = series group, clustering key = time.** The segment
  table is ``segment(gid INT, start_time TIMESTAMP, end_time TIMESTAMP,
  mtid INT, model BLOB, gaps BLOB, PRIMARY KEY (gid, start_time, gaps))``
  (CassandraStorage.scala:245) — all segments of one group live in one
  Cassandra partition, stored in time order, so a group lookup touches
  one replica and a time-range scan within it is sequential.
- **Token routing.** Cassandra's Murmur3Partitioner routes each row to
  a token range by murmur3(partition key); the Spark connector maps
  token ranges to input splits. Spark's built-in ``hash()`` is the same
  Murmur3 x86_32 family (seed 42), so the embedded layout below renders
  the ring faithfully: ``tr = pmod(hash(conv_id), vnodes)``.
- **Bounded write batches.** Inserts are flushed every 65535 statements
  — the maximum batch size Cassandra supports
  (CassandraStorage.scala:139-146).
- **Connection string** ``host?keyspace=ks&username=u&password=p``
  with defaults (modelardb / cassandra / cassandra)
  (CassandraStorage.scala:parseConnectionString, :216-233).

No Cassandra service or driver exists in this sandbox, so the catalog
has two planes:

- The **embedded plane** (always available) renders the same physical
  layout over local columnar files: ``<table>/<part cols>/tr=<bucket>/``
  with rows in clustering order ``(conv_id, metric, start_ms)`` inside
  each bucket file. Every catalog-protocol operation works (ingest,
  transfer, maintenance), a partition-key query prunes to ONE token
  bucket per day (``read_for_key`` — 1/vnodes of the files), and
  ``overwrite_partitions`` keeps the jobs' day-replace resume contract
  via staged rename (Cassandra itself would upsert by primary key —
  the reference writes SaveMode.Append for exactly that reason,
  CassandraStorage.scala:200-206).
- The **live plane** emits the reference's exact CQL: ``ddl_statements``
  returns the CREATE KEYSPACE/TABLE set, and ``write_segments_cql``
  ships a DataFrame executor-parallel (foreachPartition, one session
  per task, 65535-capped batches). It requires the ``cassandra``
  driver package, which is gated behind an import — an honest
  ``NotImplementedError`` here.

At 100 TB: the partition key keeps each conversation's segments
co-located (point lookups touch one bucket), vnodes bound the largest
token range, and writes stream per-executor with bounded batches — no
driver collect anywhere.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.io.tables import TableCatalog

#: Cassandra's hard cap on statements per batch (CassandraStorage.scala:139)
MAX_BATCH_STATEMENTS = 65535

#: default virtual-node (token-range) count for the embedded ring
DEFAULT_VNODES = 16

_TR = "tr"

#: minimum age before another writer's crash-leftover .trash-/.staging
#: debris may be swept (a live writer finishes a swap in seconds; an
#: hour leaves a wide margin for stalled executors)
TRASH_GRACE_NS = 3600 * 10**9


def parse_connection(connection_string: str) -> tuple[str, str, str, str]:
    """``host?keyspace=ks&username=u&password=p`` -> (host, keyspace,
    username, password), with the reference's defaults
    (CassandraStorage.scala:216-233)."""
    parts = connection_string.split("?")
    if len(parts) not in (1, 2):
        raise ValueError(
            f"unable to parse connection string {connection_string!r}"
        )
    params: dict[str, str] = {}
    if len(parts) == 2:
        for kv in parts[1].split("&"):
            k, _, v = kv.partition("=")
            params[k] = v
    return (
        parts[0],
        params.get("keyspace", "modelardb"),
        params.get("username", "cassandra"),
        params.get("password", "cassandra"),
    )


def ddl_statements(keyspace: str = "modelardb") -> list[str]:
    """The reference's schema, rendered for this engine's segment model
    (conv_id/metric stand in for gid; cf. CassandraStorage.scala:239-252).
    """
    return [
        f"CREATE KEYSPACE IF NOT EXISTS {keyspace} WITH REPLICATION = "
        "{ 'class' : 'SimpleStrategy', 'replication_factor' : 1 };",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.segment("
        "conv_id TEXT, metric TEXT, start_ms BIGINT, end_ms BIGINT, "
        "interval_ms BIGINT, mtid INT, model BLOB, n BIGINT, "
        "PRIMARY KEY ((conv_id), metric, start_ms));",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.time_series("
        "conv_id TEXT, metric TEXT, scaling_factor FLOAT, "
        "sampling_interval BIGINT, PRIMARY KEY ((conv_id), metric));",
        f"CREATE TABLE IF NOT EXISTS {keyspace}.model_type("
        "mtid INT, name TEXT, PRIMARY KEY (mtid));",
    ]


def iter_cql_batches(
    rows: Iterable,
    cap: int = MAX_BATCH_STATEMENTS,
    max_bytes: int | None = None,
    row_bytes=None,
) -> Iterator[list]:
    """Chunk an iterable of rows into Cassandra-legal batches: every
    yielded list has at most `cap` rows (CassandraStorage.scala:139-146
    flushes at exactly this bound) AND, when `max_bytes`/`row_bytes`
    are given, at most ~max_bytes of payload — a statement-count cap
    alone can exceed a real cluster's batch_size_fail_threshold
    (default ~50 KB) with BLOB-carrying segment rows. A single
    over-sized row still ships (in its own batch) so the writer never
    deadlocks on one fat model."""
    batch: list = []
    size = 0
    for row in rows:
        b = row_bytes(row) if row_bytes is not None and max_bytes else 0
        if batch and (
            len(batch) == cap
            or (max_bytes is not None and size + b > max_bytes)
        ):
            yield batch
            batch = []
            size = 0
        batch.append(row)
        size += b
    if batch:
        yield batch


def _send_rows(rows: Iterable, connection_string: str) -> None:
    """Executor-side: open one CQL session, stream bounded batches.
    Requires the public `cassandra-driver` package (not installed in
    this sandbox — honest capability boundary)."""
    try:
        from cassandra.cluster import Cluster  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "live CQL writes need the cassandra-driver package; this "
            "environment ships none — use the embedded CqlCatalog plane"
        ) from e
    host, keyspace, user, password = parse_connection(connection_string)
    from cassandra.auth import PlainTextAuthProvider

    cluster = Cluster(
        [host], auth_provider=PlainTextAuthProvider(user, password)
    )
    session = cluster.connect()
    for stmt in ddl_statements(keyspace):
        session.execute(stmt)
    insert = session.prepare(
        f"INSERT INTO {keyspace}.segment(conv_id, metric, start_ms, "
        "end_ms, interval_ms, mtid, model, n) VALUES (?,?,?,?,?,?,?,?)"
    )
    insert.is_idempotent = True  # reference sets setIdempotent(true)
    from cassandra.query import BatchStatement, BatchType

    # LOGGED idempotent bound-statement batches flushed at the 65535
    # statement cap — the reference's write shape
    # (CassandraStorage.scala:127-146, :268) — AND at ~45 KB of model
    # payload, below real Cassandra's default ~50 KB
    # batch_size_fail_threshold (a statement-count cap alone would
    # trip it with BLOB-carrying rows)
    for batch in iter_cql_batches(
        rows,
        max_bytes=45 * 1024,
        row_bytes=lambda r: 48 + len(r["model"]),
    ):
        bs = BatchStatement(batch_type=BatchType.LOGGED)
        for r in batch:
            bs.add(
                insert,
                (r["conv_id"], r["metric"], r["start_ms"], r["end_ms"],
                 r["interval_ms"], r["mtid"], bytes(r["model"]), r["n"]),
            )
        session.execute(bs)
    cluster.shutdown()


def write_segments_cql(df: DataFrame, connection_string: str) -> None:
    """Live plane: ship a segment DataFrame to a Cassandra cluster,
    executor-parallel (one session per task — the Spark-connector
    write shape, CassandraStorage.scala:200-206)."""
    cols = ["conv_id", "metric", "start_ms", "end_ms", "interval_ms",
            "mtid", "model", "n"]
    df.select(*cols).foreachPartition(
        lambda rows: _send_rows(rows, connection_string)
    )


@dataclass
class CqlCatalog(TableCatalog):
    """Embedded rendering of the Cassandra layout over local columnar
    files; same catalog protocol as TableCatalog/SnapshotCatalog/
    JdbcCatalog, so ingest/transfer/maintain run unchanged over it.
    Writes keep the token-bucket layout and clustering order below; the
    `order_by` of the catalog surface is ignored."""

    vnodes: int = DEFAULT_VNODES
    keyspace: str = "modelardb"

    # conv_id is the gid-analogue partition key; clustering order is
    # (metric, start_ms) — PRIMARY KEY ((conv_id), metric, start_ms)
    def _key_cols(self, df: DataFrame) -> list[str]:
        return ["conv_id"] if "conv_id" in df.columns else [df.columns[0]]

    def _cluster_cols(self, df: DataFrame) -> list[str]:
        return [c for c in ("metric", "start_ms", "bucket_ms")
                if c in df.columns]

    def _with_tr(self, df: DataFrame) -> DataFrame:
        key = [F.col(c) for c in self._key_cols(df)]
        return df.withColumn(
            _TR, F.pmod(F.hash(*key), F.lit(self.vnodes)).cast("int")
        )

    def token_of(self, spark: SparkSession, *key_values) -> int:
        """Driver-side token of a partition key — computed BY Spark
        (one local 1-row job) so it is bit-identical to the executor
        expression; avoids hand-porting Spark's Murmur3 tail handling."""
        cols = [F.lit(v) for v in key_values]
        return (
            spark.range(1)
            .select(F.pmod(F.hash(*cols), F.lit(self.vnodes)).cast("int"))
            .first()[0]
        )

    # -- reads ---------------------------------------------------------
    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return super().read(spark, name).drop(_TR)

    def read_for_key(
        self, spark: SparkSession, name: str, conv_id: str
    ) -> DataFrame:
        """Partition-key lookup: the tr literal prunes the scan to one
        token bucket per day directory (1/vnodes of the files) before
        the exact conv_id filter re-applies — Cassandra's single-
        replica point read, rendered as directory pruning."""
        tr = self.token_of(spark, conv_id)
        return (
            super().read(spark, name)
            .where((F.col(_TR) == F.lit(tr)) &
                   (F.col("conv_id") == F.lit(conv_id)))
            .drop(_TR)
        )

    # -- writes --------------------------------------------------------
    def _clustered(self, df: DataFrame, partition_by: list[str]) -> DataFrame:
        df = self._with_tr(df)
        order = (partition_by + [_TR] + self._key_cols(df)
                 + self._cluster_cols(df))
        return df.sortWithinPartitions(*order)

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        order_by: tuple[str, ...] = (),
    ) -> None:
        parts = list(partition_by or [])
        (
            self._clustered(df, parts)
            .write.mode("overwrite")
            .partitionBy(*parts, _TR)
            .format(self.fmt)
            .save(self.path(name))
        )

    def append(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        order_by: tuple[str, ...] = (),
    ) -> None:
        parts = list(partition_by or [])
        (
            self._clustered(df, parts)
            .write.mode("append")
            .partitionBy(*parts, _TR)
            .format(self.fmt)
            .save(self.path(name))
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        order_by: tuple[str, ...] = (),
    ) -> None:
        """Partition-replace resume contract via staged rename-swap.

        The new partition directories are written to a staging dir,
        then each is swapped in with RENAMES: old dir renamed aside to
        a trash dir, new dir renamed in, trash deleted last. The
        exposed window per partition is two metadata-only rename
        syscalls — never an rmtree walking data files while the
        partition is missing. A crash inside that window leaves the
        partition absent, which the jobs' checkpoint protocol heals:
        the checkpoint row is written only after this returns, so an
        unfinished partition is simply reprocessed on resume. (Real
        Cassandra needs none of this: re-inserting the same primary
        keys upserts idempotently, which is why the reference writes
        SaveMode.Append, CassandraStorage.scala:200-206.)

        The swap paths come from LISTING the staging output — exactly
        the names Spark wrote — so NULL partition values
        (__HIVE_DEFAULT_PARTITION__), URL-escaped values, and
        multi-column partition_by all swap at the full partition-key
        depth with no driver-side value rendering (and no second
        computation of `df` for a distinct-values collect)."""
        staging = self.path(f".staging-{name}-{os.getpid()}-{time.time_ns()}")
        (
            self._clustered(df, list(partition_by))
            .write.mode("overwrite")
            .partitionBy(*partition_by, _TR)
            .format(self.fmt)
            .save(staging)
        )
        base = self.path(name)
        os.makedirs(base, exist_ok=True)
        # sweep trash left by a previous CRASHED writer (its contents
        # were already logically replaced when it was renamed aside) —
        # but only trash older than a grace period: a LIVE concurrent
        # writer's trash dir (this method removes its own in the
        # finally) must never be rmtree'd mid-swap, or its next
        # rename-aside raises. Same writer-safety rule as the snapshot
        # catalog's orphan GC; the dir name embeds time_ns for the age
        # check so no stat call races the owner's cleanup.
        now_ns = time.time_ns()
        for d in os.listdir(base):
            if d.startswith(".trash-"):
                try:
                    age_ns = now_ns - int(d.rsplit("-", 1)[-1])
                except ValueError:
                    age_ns = TRASH_GRACE_NS + 1  # unparseable = ancient
                if age_ns > TRASH_GRACE_NS:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        # also reclaim staging dirs a previous writer left at the
        # catalog ROOT by crashing before its swap — same grace rule
        # (the name embeds time_ns); without this a pre-swap crash
        # leaks a full data-sized directory forever
        root = self.path("")
        prefix = f".staging-{name}-"
        for d in os.listdir(root):
            if d.startswith(prefix):
                try:
                    age_ns = now_ns - int(d.rsplit("-", 1)[-1])
                except ValueError:
                    age_ns = TRASH_GRACE_NS + 1
                if age_ns > TRASH_GRACE_NS:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        trash = os.path.join(base, f".trash-{os.getpid()}-{time.time_ns()}")
        os.makedirs(trash)
        try:
            # partition leaves are at depth len(partition_by); below
            # them sit the tr=<bucket> clustering dirs
            depth = len(partition_by)
            rels = [""]
            for _ in range(depth):
                rels = [
                    os.path.join(r, d)
                    for r in rels
                    for d in os.listdir(os.path.join(staging, r))
                    if "=" in d
                ]
            for i, rel in enumerate(rels):
                src = os.path.join(staging, rel)
                dst = os.path.join(base, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if os.path.exists(dst):
                    os.rename(dst, os.path.join(trash, str(i)))
                os.rename(src, dst)
        finally:
            shutil.rmtree(trash, ignore_errors=True)
            shutil.rmtree(staging, ignore_errors=True)
