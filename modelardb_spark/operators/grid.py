"""Grid operator: segments -> reconstructed data points.

The reference's DataPoint view (ViewDataPoint.scala + Segment.grid,
Segment.java:97-108). Hybrid execution:

- PMC / Swing segments (mtid 2/3): pure JVM plan —
  ``explode(sequence(start_ms, end_ms, interval))`` and the value as a
  column expression over the materialized model parameters
  (float32(p0) / float32(p0*t + p1)), inside whole-stage codegen.
- Gorilla / raw segments (mtid 1/4): vectorized `mapInPandas` decode
  (`_decode_members`: one lockstep decode per Arrow batch). Exploded
  group members take the same path; the decoder strides their shared
  interleaved payload.

Point-time predicates should be applied by the caller as segment-bound
overlap predicates *before* gridding (the reference's
timestamp-predicate mapping, ViewDataPoint.scala:47-78) — see
`restrict`. Residual exact filtering after gridding is cheap and
Catalyst re-applies pushed filters anyway.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.models import MTID_GORILLA, MTID_PMC, MTID_RAW, MTID_SWING
from modelardb_spark.models.segment import decode_dense_matrix

POINT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("bin_ms", LongType(), False),
        StructField("value", FloatType(), False),
    ]
)


def restrict(segments: DataFrame, lo_ms: int | None, hi_ms: int | None) -> DataFrame:
    """Point-time window -> segment overlap predicate (the reference's
    START/END restriction, SparkUDAF.scala:396-426 / ViewDataPoint
    rewrite). Pruning happens at the segment level; grid() then emits
    only in-window points via the tightened bounds."""
    df = segments
    if lo_ms is not None:
        df = df.where(F.col("end_ms") >= lo_ms)
    if hi_ms is not None:
        df = df.where(F.col("start_ms") <= hi_ms)
    return df


#: extra columns of an exploded group-member frame (see groupfit);
#: a segment frame without them is per-series — a group of one
_MEMBER_COLS = ("goff", "gsize", "ukey")


def _decode_members(pdf: pd.DataFrame):
    """Dense (Gorilla/raw) values of a batch of segment rows: returns
    (matrix (rows, max_ts) float32 with row i valid to n_ts[i], n_ts,
    start, interval). Exploded group members decode their shared
    interleaved payload once — consecutive rows of one group row (same
    key, start, end and size, next offset) merge into one decode, so
    only members of a group of two or more ever merge — and take every
    gsize-th value from goff. One lockstep Gorilla pass per batch, no
    per-segment Python loop."""
    start = pdf["start_ms"].to_numpy().astype(np.int64)
    end = pdf["end_ms"].to_numpy().astype(np.int64)
    si = pdf["interval_ms"].to_numpy().astype(np.int64)
    n_ts = (end - start) // si + 1
    mtid = pdf["mtid"].to_numpy()
    models = list(pdf["model"])
    if "gsize" not in pdf.columns or (pdf["gsize"] == 1).all():
        return decode_dense_matrix(mtid, models, n_ts), n_ts, start, si
    gsize = pdf["gsize"].to_numpy().astype(np.int64)
    goff = pdf["goff"].to_numpy().astype(np.int64)
    # members of one dimension-group row share `ukey` (the group key)
    # even when their logical conv_id differs
    key = (pdf["ukey"] if "ukey" in pdf.columns else pdf["conv_id"]).to_numpy()
    first = np.ones(len(pdf), dtype=bool)
    first[1:] = ~(
        (goff[1:] == goff[:-1] + 1)
        & (gsize[1:] == gsize[:-1])
        & (key[1:] == key[:-1])
        & (start[1:] == start[:-1])
        & (end[1:] == end[:-1])
    )
    uniq = np.flatnonzero(first)
    mat = decode_dense_matrix(
        mtid[uniq], [models[i] for i in uniq], (n_ts * gsize)[uniq]
    )
    cols = goff[:, None] + gsize[:, None] * np.arange(int(n_ts.max()), dtype=np.int64)
    np.clip(cols, 0, mat.shape[1] - 1, out=cols)  # inactive tail lanes
    return mat[(np.cumsum(first) - 1)[:, None], cols], n_ts, start, si


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Whole-batch vectorized decode: one `_decode_members` pass + one
    masked flatten per Arrow batch."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        mat, lens, start, si = _decode_members(pdf)
        idx = np.arange(mat.shape[1], dtype=np.int64)
        mask = idx[None, :] < lens[:, None]
        yield pd.DataFrame(
            {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), lens),
                "metric": np.repeat(pdf["metric"].to_numpy(), lens),
                "bin_ms": (start[:, None] + si[:, None] * idx[None, :])[mask],
                "value": mat[mask],
            }
        )


def grid(segments: DataFrame) -> DataFrame:
    """segments -> (conv_id, metric, bin_ms, value float32). Also takes
    exploded group members (`_MEMBER_COLS`)."""
    analytic = segments.where(F.col("mtid").isin(MTID_PMC, MTID_SWING))
    dense = segments.where(F.col("mtid").isin(MTID_RAW, MTID_GORILLA))

    exploded = analytic.select(
        "conv_id",
        "metric",
        "mtid",
        "p0",
        "p1",
        F.explode(
            F.sequence(F.col("start_ms"), F.col("end_ms"), F.col("interval_ms"))
        ).alias("bin_ms"),
    )
    analytic_points = exploded.select(
        "conv_id",
        "metric",
        "bin_ms",
        F.when(F.col("mtid") == MTID_PMC, F.col("p0"))
        .otherwise(F.col("p0") * F.col("bin_ms") + F.col("p1"))
        .cast("float")
        .alias("value"),
    )
    dense_points = dense.select(
        "conv_id", "metric", "start_ms", "end_ms", "interval_ms", "mtid", "model",
        *[c for c in _MEMBER_COLS if c in segments.columns],
    ).mapInPandas(_decode_batch, POINT_SCHEMA)
    return analytic_points.unionByName(dense_points)
