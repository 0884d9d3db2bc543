"""The reference's two-view query surface as Spark SQL temp views.

The entire query interface of the reference is two relational views —
`Segment(tid, start_time, end_time, mtid, model, ...)` and the derived
`DataPoint(tid, timestamp, value, ...)` (ViewSegment.scala:31-38,
ViewDataPoint.scala:29-33, registered Spark.scala:139-143). Here the
same surface is `segments` / `data_points` temp views over any
segments DataFrame: every Spark SQL construct (joins against external
tables, grouping sets, window functions, approx aggregates) then works
by delegation, exactly as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_spark.operators.grid import grid


#: the columns the fit stores beside the model (operators/fit.py): the
#: whole-segment aggregates, read by the `#` sugar of the *_S
#: aggregates (operators/sqlfunctions.py), and the decoded model
#: parameters, read by the point view and DATA_POINTS
SEGMENT_AGGREGATES = ("seg_cnt", "seg_min", "seg_max", "seg_sum")
MODEL_PARAMS = ("p0", "p1")


def with_fit_columns(segments: DataFrame) -> DataFrame:
    """`segments` with the fit-time columns the query surface reads:
    kept as they are when present, else computed from the model — the
    aggregates by the SEG_AGG UDF, the parameters by a decode of PMC
    and Swing models. Each UDF is evaluated once per row and pruned
    from a plan that reads none of its columns. Fit output carries
    every column; the 7-column Flight wire schema carries none."""
    from modelardb_spark.operators.sqlfunctions import (
        _make_seg_agg_udf,
        _make_seg_params_udf,
    )

    have = set(segments.columns)
    cols = {}
    if not set(SEGMENT_AGGREGATES) <= have:
        agg = _make_seg_agg_udf()(
            "mtid", "model", "start_ms", "end_ms", "interval_ms"
        )
        cols.update(
            seg_cnt=agg["cnt"],
            seg_min=agg["vmin"].cast("float"),
            seg_max=agg["vmax"].cast("float"),
            seg_sum=agg["vsum"],
        )
    if not set(MODEL_PARAMS) <= have:
        params = _make_seg_params_udf()("mtid", "model")
        cols.update(p0=params["p0"], p1=params["p1"])
    return segments.withColumns(cols) if cols else segments


def register_views(
    spark: SparkSession,
    segments: DataFrame,
    segment_view: str = "segments",
    point_view: str = "data_points",
) -> None:
    """Register the two-view surface over any segments frame with the
    model columns: the segment view always carries the fit-time columns
    (`with_fit_columns`). The point view carries both the epoch-millis
    and a timestamp column; predicates on it are pushed to the segment
    scan by Catalyst through the view definition."""
    segments = with_fit_columns(segments)
    segments.createOrReplaceTempView(segment_view)
    pts = grid(segments).withColumn(
        "ts", F.timestamp_millis(F.col("bin_ms"))
    )
    pts.createOrReplaceTempView(point_view)
