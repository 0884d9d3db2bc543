"""Continuous aggregates: rollups computed FROM SEGMENTS without
reconstructing points where the model allows.

This is the engine's headline capability, the Spark-first re-expression
of the reference's 40 time-cube UDAFs + COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S
(SparkUDAF.scala:34-394, splitting engine Segment.cube,
Segment.java:122-155). Instead of custom UDAFs, ONE `mapInPandas`
pass (`_fused_partials`) emits the per-(segment ∩ window) partials of
every segment in an Arrow batch: Gorilla/raw segments decode in
lockstep and reduce per window (NumPy ``reduceat``); PMC/Swing
segments split at window boundaries and take closed forms over the
materialized model parameters (p0, p1), with no decode. Catalyst's
hash aggregation (`_merge`) supplies the partial/final merge the
reference hand-wrote as Aggregators. Group segments use the same tail
after their explode: a per-series segment is a group of one.

Counts are pure timestamp arithmetic ``(sub_end - sub_start)/interval
+ 1`` and therefore always exact (SparkUDAF.scala:34-55 semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.models import MTID_GORILLA, MTID_PMC, MTID_RAW, MTID_SWING
from modelardb_spark.operators.grid import _MEMBER_COLS, _decode_members

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000

ROLLUP_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("window_ms", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("vmin", FloatType(), False),
        StructField("vmax", FloatType(), False),
        StructField("vsum", DoubleType(), False),
    ]
)

#: the segment columns the partials kernel reads (plus `_MEMBER_COLS`
#: on exploded group members)
_PARTIAL_INPUT = (
    "conv_id", "metric", "start_ms", "end_ms", "interval_ms",
    "mtid", "model", "p0", "p1",
)


def _merge(
    df: DataFrame, *keys, cols: tuple[str, str, str, str] = ("cnt", "vmin", "vmax", "vsum")
) -> DataFrame:
    """The cnt/min/max/sum merge (sum/min/max are associative over
    disjoint point sets) plus the derived mean, grouped by `keys`."""
    cnt, vmin, vmax, vsum = cols
    return (
        df.groupBy(*keys)
        .agg(
            F.sum(cnt).alias("cnt"),
            F.min(vmin).alias("vmin"),
            F.max(vmax).alias("vmax"),
            F.sum(vsum).alias("vsum"),
        )
        .withColumn("mean", F.col("vsum") / F.col("cnt"))
    )


def _dense_partial_block(pdf: pd.DataFrame, window_ms: int) -> pd.DataFrame:
    """Per-(segment ∩ window) partials for a batch of DENSE
    (Gorilla/raw) segments or group members: one `_decode_members`
    pass + one reduceat family."""
    mat, lens, start, si = _decode_members(pdf)
    idx = np.arange(mat.shape[1], dtype=np.int64)
    mask = idx[None, :] < lens[:, None]
    vals = mat[mask]
    ts = (start[:, None] + si[:, None] * idx[None, :])[mask]
    seg_id = np.repeat(np.arange(len(pdf)), lens)
    wins = (ts // window_ms) * window_ms
    new = np.empty(vals.size, dtype=bool)
    new[0] = True
    new[1:] = (seg_id[1:] != seg_id[:-1]) | (wins[1:] != wins[:-1])
    starts = np.flatnonzero(new)
    conv = pdf["conv_id"].to_numpy()
    met = pdf["metric"].to_numpy()
    counts = np.diff(np.concatenate((starts, [vals.size])))
    return pd.DataFrame(
        {
            "conv_id": conv[seg_id[starts]],
            "metric": met[seg_id[starts]],
            "window_ms": wins[starts],
            "cnt": counts.astype(np.int64),
            "vmin": np.minimum.reduceat(vals, starts),
            "vmax": np.maximum.reduceat(vals, starts),
            "vsum": np.add.reduceat(vals.astype(np.float64), starts),
        }
    )


def _analytic_partial_block(pdf: pd.DataFrame, window_ms: int) -> pd.DataFrame:
    """Per-(segment ∩ window) partials for a batch of ANALYTIC
    (PMC/Swing) segments — the closed forms below, operation for
    operation on the same float64/float32 arithmetic as their Catalyst
    column-expression form (kept in tests/test_plans.py as the
    reference this kernel is checked against):

      cnt  = long((sub_end - sub_start) / interval + 1)   [double div]
      PMC  : vmin = vmax = float32(p0);  vsum = p0 * cnt
      Swing: first/last = p0 * sub + p1 (float64),
             min/max by slope sign cast to float32,
             vsum = (first + last) / 2.0 * cnt
    """
    w = window_ms
    s = pdf["start_ms"].to_numpy().astype(np.int64)
    e = pdf["end_ms"].to_numpy().astype(np.int64)
    iv = pdf["interval_ms"].to_numpy().astype(np.int64)
    mt = pdf["mtid"].to_numpy()
    p0 = pdf["p0"].to_numpy().astype(np.float64)
    p1 = pdf["p1"].to_numpy().astype(np.float64)
    # window explode: floor-div == Spark's floor(double-div) for these
    # magnitudes (an integer ms >= 1 away from a window boundary can
    # never cross it under ~1e-10 double error)
    w0 = (s // w) * w
    nwin = e // w - s // w + 1
    total = int(nwin.sum())
    seg_of = np.repeat(np.arange(len(pdf)), nwin)
    firsts = np.cumsum(nwin) - nwin
    k = np.arange(total, dtype=np.int64) - firsts[seg_of]
    win = w0[seg_of] + w * k
    ss = np.maximum(s[seg_of], win)
    se = np.minimum(e[seg_of], win + w - iv[seg_of])
    cnt = ((se - ss) / iv[seg_of] + 1.0).astype(np.int64)
    pm = mt[seg_of] == MTID_PMC
    p0g, p1g = p0[seg_of], p1[seg_of]
    first = p0g * ss + p1g
    last = p0g * se + p1g
    p0f = p0g.astype(np.float32)
    sw_min = np.where(
        p0g == 0, p1g, np.where(p0g > 0, first, last)
    ).astype(np.float32)
    sw_max = np.where(
        p0g == 0, p1g, np.where(p0g < 0, first, last)
    ).astype(np.float32)
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[seg_of],
            "metric": pdf["metric"].to_numpy()[seg_of],
            "window_ms": win,
            "cnt": cnt,
            "vmin": np.where(pm, p0f, sw_min),
            "vmax": np.where(pm, p0f, sw_max),
            "vsum": np.where(pm, p0g * cnt, (first + last) / 2.0 * cnt),
        }
    )


def _fused_partials(segments: DataFrame, window_ms: int) -> DataFrame:
    """ONE mapInPandas pass over ALL segments (or exploded group
    members): dense decode partials, then the PMC/Swing closed forms,
    per Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mt = pdf["mtid"].to_numpy()
            dense_m = (mt == MTID_RAW) | (mt == MTID_GORILLA)
            ana_m = (mt == MTID_PMC) | (mt == MTID_SWING)
            frames = []
            if dense_m.any():
                frames.append(_dense_partial_block(pdf[dense_m], window_ms))
            if ana_m.any():
                frames.append(_analytic_partial_block(pdf[ana_m], window_ms))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cols = segments.select(
        *_PARTIAL_INPUT, *[c for c in _MEMBER_COLS if c in segments.columns]
    )
    return cols.mapInPandas(run, ROLLUP_SCHEMA)


def rollup_from_segments(
    segments: DataFrame, window_ms: int, interval_ms: int = MINUTE_MS
) -> DataFrame:
    """segments -> (conv_id, metric, window_ms, cnt, vmin, vmax, vsum,
    mean). The shared rollup tail: it also takes exploded group members
    (a per-series segment is a group of one).

    General case: one shuffle (the final groupBy) over map-side
    partials. When `window_ms == interval_ms` (the finest tier), every
    window is exactly one bin and therefore covered by exactly one
    segment (or group member segment) of its series — the groupBy is a
    semantic no-op and is skipped entirely: the finest tier is a
    map-only job."""
    partials = _fused_partials(segments, window_ms)
    if window_ms == interval_ms:
        return partials.withColumn("mean", F.col("vsum") / F.col("cnt"))
    return _merge(partials, "conv_id", "metric", "window_ms")


def rollup_cascade(finer: DataFrame, coarser_window_ms: int) -> DataFrame:
    """Coarser tier from a finer tier (1m -> 1h -> 1d): algebraic
    re-aggregation, no segment access — the cascading maintenance path
    for the continuous-aggregate tables."""
    w = F.lit(coarser_window_ms)
    return _merge(
        finer,
        "conv_id",
        "metric",
        (F.floor(F.col("window_ms") / w) * w).cast("long").alias("window_ms"),
    )


#: calendar fields supported by the cube rollup — the reference ships
#: {COUNT,MIN,MAX,SUM,AVG}_{YEAR..SECOND} as 40 UDAFs
#: (SparkUDAF.scala:355-394); here one operator parameterized by field
CALENDAR_FIELDS = {
    "year": "year(ts)",
    "month": "month(ts)",
    "day_of_month": "dayofmonth(ts)",
    "day_of_week": "dayofweek(ts)",
    "am_pm": "CASE WHEN hour(ts) < 12 THEN 0 ELSE 1 END",
    "hour": "hour(ts) % 12",  # 12-hour clock (Calendar.HOUR, field 10)
    "hour_of_day": "hour(ts)",
    "minute": "minute(ts)",
    "second": "second(ts)",  # Calendar.SECOND, field 13
}


def calendar_rollup(finer: DataFrame, field: str) -> DataFrame:
    """Cube aggregate over a calendar field (reference's *_HOUR_OF_DAY
    style UDAFs): re-aggregates a window tier whose width divides the
    field's period, so no segment splitting is ever needed.

    `finer` must be at least as fine as the field (e.g. rollup_1h for
    hour_of_day, rollup_1m for minute). UTC calendar.
    """
    if field not in CALENDAR_FIELDS:
        raise ValueError(f"field must be one of {sorted(CALENDAR_FIELDS)}")
    expr = CALENDAR_FIELDS[field].replace(
        "ts", "timestamp_millis(window_ms)"
    )
    return _merge(
        finer.withColumn("field", F.expr(expr).cast("int")),
        "conv_id",
        "metric",
        "field",
    )


def compression_stats(segments: DataFrame) -> DataFrame:
    """Compression accounting per (conv_id, metric) using the
    reference's ratio definition: 16 bytes/point raw vs 24-byte segment
    metadata + model payload (+4/gap entry; always 0 here) —
    ModelType.java:49-54, Logger.java:120-127."""
    per_seg = segments.select(
        "conv_id",
        "metric",
        "mtid",
        F.col("n"),
        (F.lit(24) + F.length("model")).alias("stored_bytes"),
    )
    return (
        per_seg.groupBy("conv_id", "metric")
        .agg(
            F.count("*").alias("segments"),
            F.sum("n").alias("points"),
            F.sum("stored_bytes").alias("stored_bytes"),
            F.round(
                (16.0 * F.sum("n")) / F.sum("stored_bytes"), 6
            ).alias("compression_ratio"),
        )
    )


def segment_aggregates(segments: DataFrame) -> DataFrame:
    """Whole-series aggregates straight off the segment columns — the
    COUNT_S/MIN_S/MAX_S/SUM_S/AVG_S surface (SparkUDAF.scala:34-184)
    with zero reconstruction for every model type."""
    return _merge(
        segments, "conv_id", "metric", cols=("seg_cnt", "seg_min", "seg_max", "seg_sum")
    )
