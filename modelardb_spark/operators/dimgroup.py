"""Dimension-driven cross-entity grouping: the reference's Correlation
clause surface (core/Correlation.java:40-45 — group time series by
source name, by DIMENSION MEMBERS, by LCA level, or by distance;
applied at partition time in core/Partitioner.java:95-124), where a
group may span DIFFERENT sources.

Here the dimension table (operators/dimensions.py) supplies the clause:
every (conv_id, metric) series whose conversation carries the same
dimension member (e.g. channel='web') joins one group sharing the
1-minute bin grid. Groups are capped at `max_group_size` members via
stable sub-buckets (the reference leaves group size to the user's
clause; the cap bounds the interleave width — and therefore every
fit/decode matrix — regardless of how many conversations a member
value matches, which is what survives 100 TB).

Physical shape mirrors `fit_segments_grouped`: one shuffle keyed on
(group, salt-day) and rows sorted by (bin, member) (fit.py's
`_arrange` and `_stitched`). The adapter scatters each bin's rows by
member index into one row of the shared group kernel's value and
presence matrices (groupfit.py `_fit_group_bins`), so run detection,
the single-bin bulk path and the cascade are the conversation groups'
own.

Trade-off (documented, the reference shares it): grouping only pays
when members are actually aligned on the grid — sparse, weakly-
overlapping series fragment runs and pay the 4-bytes-per-absent-member
gap entries (ModelType.java:49-54), exactly as a bad user clause does
in the reference. tests/test_dimgroup.py shows the dense-aligned win
and the oracle pins exactness at bound 0 either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.operators.fit import _arrange, _key_change, _stitched
from modelardb_spark.operators.groupfit import (
    GROUP_SEGMENT_SCHEMA,
    _fit_group_bins,
    _member_columns,
    _posexplode,
)
from modelardb_spark.operators.rollup import rollup_from_segments


def dim_group_members(
    series: DataFrame,
    dims: DataFrame,
    by: str = "channel",
    max_group_size: int = 8,
) -> DataFrame:
    """Member registry: (gkey, conv_id, metric, midx, gsize) — every
    series of a dimension-member group, with a stable member index.
    Groups larger than `max_group_size` split into deterministic
    sub-buckets (gkey = '<member>#<bucket>') so the interleave width is
    bounded. This is the engine's analogue of the reference's startup
    group formation (Partitioner.java:95-124) and is pure metadata —
    O(#series) rows."""
    m = (
        series.select("conv_id", "metric")
        .distinct()
        .join(F.broadcast(dims.select("conv_id", by)), "conv_id")
    )
    w = Window.partitionBy(by).orderBy("conv_id", "metric")
    m = (
        m.withColumn("rank0", F.row_number().over(w) - 1)
        .withColumn("bucket", (F.col("rank0") / max_group_size).cast("int"))
        .withColumn("gkey", F.concat_ws("#", F.col(by), F.col("bucket")))
        .withColumn("midx", (F.col("rank0") % max_group_size).cast("int"))
    )
    gsz = m.groupBy("gkey").agg(F.count("*").alias("gsize"))
    return m.join(gsz, "gkey").select("gkey", "conv_id", "metric", "midx", "gsize")


def materialize_members(members: DataFrame) -> DataFrame:
    """Collapse the member-registry lineage to a local relation.

    The registry is O(#series) metadata (five narrow columns), but its
    LINEAGE is a full series scan + distinct + a window + a group-size
    join — and every consumer re-evaluates it: the fit's equi-join AND
    the explode-side broadcast each replay the whole scan. Collecting
    the registry once and re-creating it as a local relation removes
    the duplicate series scans from every dimension-group plan. Same
    small-data posture as the broadcast `explode_dim_group_segments`
    already applies (fine to ~tens of millions of series); beyond
    that, skip this and pass broadcast_registry=False so the registry
    stays distributed end to end. The round trip is Arrow both ways
    (toArrow + createDataFrame of the Arrow table) — a collect() of Row
    objects re-pickles per row and cannot sustain that scale."""
    spark = members.sparkSession
    return spark.createDataFrame(members.toArrow(), schema=members.schema)


def _fit_dim_group_batches(
    error_bound: float, length_bound: int, interval_ms: int
):
    """Dimension adapter: rows (gkey, salt, bin_ms, midx, value, gsize)
    sorted by (gkey, salt, bin_ms, midx) are scattered by `midx` into
    one row per bin of the group kernel's value matrix; a member is
    present where it has a row (its value may be anything, NaN too)."""

    def block(pdf: pd.DataFrame) -> list[pd.DataFrame]:
        newbin = _key_change(pdf, ("gkey", "salt", "bin_ms"))
        newbin[0] = True
        first = np.flatnonzero(newbin)
        midx = pdf["midx"].to_numpy().astype(np.int64)
        gsize = pdf["gsize"].to_numpy().astype(np.int64)
        row_bin = np.cumsum(newbin) - 1
        vals = np.full((first.size, int(gsize.max())), np.nan, dtype=np.float32)
        vals[row_bin, midx] = pdf["value"].to_numpy().astype(np.float32)
        present = np.zeros(vals.shape, dtype=bool)
        present[row_bin, midx] = True
        return _fit_group_bins(
            pdf["gkey"].to_numpy()[first],
            pdf["salt"].to_numpy()[first],
            pdf["bin_ms"].to_numpy().astype(np.int64)[first],
            vals,
            present,
            gsize[first],
            error_bound,
            length_bound,
            interval_ms,
            None,
        )

    return _stitched(("gkey", "salt"), block)


def fit_segments_dim_grouped(
    series: DataFrame,
    members: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Narrow series (conv_id, metric, bin_ms, value) + member registry
    -> GROUP segments whose `conv_id` column holds the group key. One
    shuffle, keyed on (gkey, salt-day) with the usual day salting, so a
    hot dimension member never exceeds one day x `max_group_size`
    members per task."""
    rows = series.join(members, ["conv_id", "metric"]).select(
        "gkey", "bin_ms", "midx", "value", "gsize"
    )
    return _arrange(rows, ("gkey",), cfg, then=("midx",)).mapInPandas(
        _fit_dim_group_batches(cfg.error_bound, cfg.length_bound, cfg.interval_ms),
        GROUP_SEGMENT_SCHEMA,
    )


def explode_dim_group_segments(
    gseg: DataFrame, members: DataFrame, broadcast_registry: bool = True
) -> DataFrame:
    """Group segment -> one logical segment per present member, mapped
    back to its real (conv_id, metric) through the registry
    (SegmentGroup.explode:51-111 with the reference's gid -> tid
    mapping). `ukey` keeps the group key so the decoder still collapses
    one payload per group row.

    The registry is O(#series) metadata; broadcast it (default) while
    it fits executor memory (~tens of millions of series). Beyond
    that, pass False — the join then shuffles on (gkey, tid), a key
    the exploded side is already clustered by."""
    e = _posexplode(gseg).withColumnRenamed("conv_id", "gkey")
    reg = members.select(
        "gkey", F.col("midx").alias("tid"), "conv_id", "metric"
    )
    if broadcast_registry:
        reg = F.broadcast(reg)
    return e.join(reg, ["gkey", "tid"]).select(
        "conv_id", "metric", *_member_columns(), F.col("gkey").alias("ukey")
    )


def rollup_from_dim_group_segments(
    gseg: DataFrame,
    members: DataFrame,
    window_ms: int,
    broadcast_registry: bool = True,
) -> DataFrame:
    """Windowed rollup straight from dimension-group segments — the
    per-series rollup tail over the registry-mapped explode."""
    return rollup_from_segments(
        explode_dim_group_segments(gseg, members, broadcast_registry), window_ms
    )
