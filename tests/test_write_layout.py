"""Write layout of the ingest job: one data file per partition value,
sorted within; and the bin width reaching the rollup tiers."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from modelardb_spark.config import EngineConfig
from modelardb_spark.io.snapshots import SnapshotCatalog
from modelardb_spark.jobs.ingest import ingest
from modelardb_spark.operators.rollup import MINUTE_MS
from modelardb_spark.operators.series import derive_series
from modelardb_spark.operators.transcripts import (
    synthetic_transcripts,
    transcripts_from_events,
)

TABLES = ["staged_transcripts", "segments", "rollup_1m", "rollup_1h", "rollup_1d"]
SEGMENT_ORDER = ["mtid", "conv_id", "start_ms"]


def _files_by_partition(root: str, kind: str, table: str) -> dict[str, list[str]]:
    """Data files of the table's current state, keyed by partition."""
    out: dict[str, list[str]] = {}
    if kind == "snapshot":
        cat = SnapshotCatalog(root)
        for e in cat._load_entries(table, cat.manifest(table)):
            out.setdefault(str(e["partition"]), []).append(
                os.path.join(cat._data(table), e["path"])
            )
        return out
    base = os.path.join(root, table)
    for d in os.listdir(base):
        if d.startswith("part_day="):
            out[d] = [
                os.path.join(base, d, f)
                for f in os.listdir(os.path.join(base, d))
                if not f.startswith(("_", "."))
            ]
    return out


@pytest.mark.parametrize("kind", ["dir", "snapshot"])
def test_ingest_writes_one_sorted_file_per_partition(spark, sf_small, tmp_path, kind):
    root = str(tmp_path / kind)
    ingest(spark, transcripts_from_events(spark, sf_small), root,
           catalog_kind=kind)
    for table in TABLES:
        files = _files_by_partition(root, kind, table)
        assert len(files) > 1, table
        assert {len(v) for v in files.values()} == {1}, (table, files)
    for (path,) in _files_by_partition(root, kind, "segments").values():
        rows = pq.read_table(path, columns=SEGMENT_ORDER).to_pylist()
        keys = [tuple(r[c] for c in SEGMENT_ORDER) for r in rows]
        assert keys == sorted(keys), path


@pytest.mark.parametrize(
    "turns,grouped",
    [("sf_small", False), ("twin_turns", False), ("twin_turns", True)],
)
def test_ingest_rollup_1m_at_30s_bins(spark, sf_small, tmp_path, turns, grouped):
    """With 30 s bins the 1m tier is a real merge of two bins per
    window: one row per (conv_id, metric, minute), equal to the plain
    aggregation of the same 30 s series of the raw turns. The small
    fixture's turns rarely fill adjacent 30 s bins; the twin turns (each
    synthetic turn again 30 s later) do, and the short length bound then
    ends segments mid-minute, so two segments share a window."""
    cfg = EngineConfig(interval_ms=30_000, length_bound=3)
    root = str(tmp_path / f"{turns}-{grouped}")
    if turns == "sf_small":
        t = transcripts_from_events(spark, sf_small)
    else:
        t = synthetic_transcripts(spark, n_convs=5, turns_per_conv=200, mega_convs=0)
        t = t.unionByName(t.withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS")))
    ingest(spark, t, root, cfg, grouped=grouped)
    got = spark.read.parquet(os.path.join(root, "rollup_1m")).select(
        "conv_id", "metric", "window_ms", "cnt", "vmin", "vmax", "vsum"
    )
    rows = [tuple(r) for r in got.collect()]
    keys = Counter(r[:3] for r in rows)
    assert keys and max(keys.values()) == 1
    raw = (
        derive_series(t, cfg)
        .groupBy(
            "conv_id",
            "metric",
            (F.floor(F.col("bin_ms") / MINUTE_MS) * MINUTE_MS).alias("window_ms"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").cast("double").alias("vmin"),
            F.max("value").cast("double").alias("vmax"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
        )
    )
    assert any(r[3] == 2 for r in rows)
    assert sorted(rows) == sorted(tuple(r) for r in raw.collect())
