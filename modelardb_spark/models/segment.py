"""Segment decoding: grid (point reconstruction) and closed-form
aggregates.

Mirrors the reference's Segment hierarchy (core/models/Segment.java and
the per-model subclasses): a segment ``(start_ms, end_ms, interval_ms,
mtid, model)`` represents ``n = (end - start) / interval + 1`` points at
``start + i*interval`` (Segment.java:58-61, :97-108). Values:

- PMC (mtid 2): the stored constant (PMC_MeanModelType.java:122-140);
- Swing (mtid 3): ``float32(a*t + b)`` (SwingFilterModelType.java:237-239),
  min/max at the endpoints by slope sign, sum as the trapezoid of the
  unrounded doubles;
- Gorilla (mtid 4): the decompressed array;
- raw (mtid 1): the stored float32 array.
"""

from __future__ import annotations

import numpy as np

from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    MTID_PMC,
    MTID_RAW,
    MTID_SWING,
)
from modelardb_spark.models.gorilla import gorilla_decompress
from modelardb_spark.models.pmc_mean import pmc_value
from modelardb_spark.models.swing import swing_decode, swing_minmax, swing_sum
from modelardb_spark.models.uncompressed import raw_decode


def segment_length(start_ms: int, end_ms: int, interval_ms: int) -> int:
    """n = (end - start) / interval + 1 (Segment.java:58-61)."""
    return int((end_ms - start_ms) // interval_ms) + 1


def decode_values(
    mtid: int, model: bytes, start_ms: int, end_ms: int, interval_ms: int
) -> np.ndarray:
    """Reconstruct all point values of a segment as float32."""
    n = segment_length(start_ms, end_ms, interval_ms)
    if mtid == MTID_PMC:
        return np.full(n, pmc_value(model), dtype=np.float32)
    if mtid == MTID_SWING:
        a, b = swing_decode(model)
        ts = start_ms + interval_ms * np.arange(n, dtype=np.float64)
        return (a * ts + b).astype(np.float32)
    if mtid == MTID_GORILLA:
        return gorilla_decompress(model, n)
    if mtid == MTID_RAW:
        return raw_decode(model)[:n]
    raise ValueError(f"unknown mtid {mtid}")


def decode_dense_matrix(
    mtids: np.ndarray, models: list[bytes], lengths: np.ndarray
) -> np.ndarray:
    """Batched decode of DENSE (Gorilla / raw) segments: returns an
    (n_segments, max(lengths)) float32 matrix, row i valid to
    lengths[i]. Gorilla rows decode in vectorized lockstep
    (gorilla_decompress_matrix); raw rows are plain frombuffer casts.
    This is the Arrow-batch fast path used by grid and the dense
    rollup partials — no per-value Python anywhere."""
    n = len(models)
    lengths = np.asarray(lengths, dtype=np.int64)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float32)
    mtids = np.asarray(mtids)
    bad = ~np.isin(mtids, (MTID_GORILLA, MTID_RAW))
    if bad.any():
        # fail loudly like the scalar decode_values — silent all-zero
        # rows must never flow into rollups
        raise ValueError(
            f"decode_dense_matrix: non-dense mtid(s) {sorted(set(mtids[bad].tolist()))}"
        )
    max_n = int(lengths.max())
    out = np.zeros((n, max_n), dtype=np.float32)
    gor = np.flatnonzero(mtids == MTID_GORILLA)
    if gor.size:
        from modelardb_spark.models.gorilla import gorilla_decompress_matrix

        sub = gorilla_decompress_matrix(
            [models[i] for i in gor], lengths[gor]
        )
        out[gor, : sub.shape[1]] = sub
    for i in np.flatnonzero(mtids == MTID_RAW):
        v = raw_decode(models[i])[: lengths[i]]
        out[i, : v.size] = v
    return out


def segment_grid(
    mtid: int, model: bytes, start_ms: int, end_ms: int, interval_ms: int
) -> tuple[np.ndarray, np.ndarray]:
    """(timestamps_ms, values) for every point of the segment."""
    n = segment_length(start_ms, end_ms, interval_ms)
    ts = start_ms + interval_ms * np.arange(n, dtype=np.int64)
    return ts, decode_values(mtid, model, start_ms, end_ms, interval_ms)


def model_params(
    mtids: np.ndarray, models: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """Decoded model parameters per segment row, as the fit stores them
    in (p0, p1): PMC (constant, NaN), Swing (slope a, intercept b),
    NaN for the dense model types. PMC constants decode as one
    big-endian frombuffer; Swing pairs per serialized width (8/12/16 B,
    swing_model)."""
    mtids = np.asarray(mtids, dtype=np.int64)
    p0 = np.full(mtids.size, np.nan)
    p1 = np.full(mtids.size, np.nan)
    pmc = np.flatnonzero(mtids == MTID_PMC)
    if pmc.size:
        p0[pmc] = np.frombuffer(
            b"".join(models[i] for i in pmc), dtype=">f4"
        ).astype(np.float64)
    sw = np.flatnonzero(mtids == MTID_SWING)
    if sw.size:
        widths = np.array([len(models[i]) for i in sw], dtype=np.int64)
        for width, dt in (
            (8, np.dtype([("a", ">f4"), ("b", ">f4")])),
            (12, np.dtype([("a", ">f4"), ("b", ">f8")])),
            (16, np.dtype([("a", ">f8"), ("b", ">f8")])),
        ):
            sel = sw[widths == width]
            if sel.size:
                rec = np.frombuffer(
                    b"".join(models[i] for i in sel), dtype=dt
                )
                p0[sel] = rec["a"].astype(np.float64)
                p1[sel] = rec["b"].astype(np.float64)
    return p0, p1


def segment_agg_batch(
    mtids: np.ndarray,
    models: list[bytes],
    starts: np.ndarray,
    ends: np.ndarray,
    sis: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized `segment_agg` over a batch of segment rows: returns
    (counts, mins, maxs, sums) arrays, bit-identical per row to the
    scalar path (dense sums up to <1 ulp, see below). PMC and Swing
    take closed forms over `model_params` (endpoint min/max, trapezoid
    sum); the dense rest (Gorilla/raw) is ONE `decode_dense_matrix`
    lockstep call. This is the Arrow-batch body of the registered
    COUNT_S..AVG_S SQL aggregates (SparkUDAF.scala:34-184) — no
    per-segment Python loop."""
    mtids = np.asarray(mtids, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    sis = np.asarray(sis, dtype=np.int64)
    counts = (ends - starts) // sis + 1
    n = mtids.size
    mins = np.empty(n, dtype=np.float64)
    maxs = np.empty(n, dtype=np.float64)
    sums = np.empty(n, dtype=np.float64)
    p0, p1 = model_params(mtids, models)

    pmc = np.flatnonzero(mtids == MTID_PMC)
    if pmc.size:
        c = p0[pmc]
        mins[pmc] = c
        maxs[pmc] = c
        sums[pmc] = c * counts[pmc]

    sw = np.flatnonzero(mtids == MTID_SWING)
    if sw.size:
        a = p0[sw]
        b = p1[sw]
        first = a * starts[sw] + b
        last = a * ends[sw] + b
        f32_first = first.astype(np.float32).astype(np.float64)
        f32_last = last.astype(np.float32).astype(np.float64)
        up = a > 0
        mins[sw] = np.where(up, f32_first, f32_last)
        maxs[sw] = np.where(up, f32_last, f32_first)
        sums[sw] = (first + last) / 2.0 * counts[sw]

    dense = np.flatnonzero(np.isin(mtids, (MTID_GORILLA, MTID_RAW)))
    if dense.size:
        lens = counts[dense]
        mat = decode_dense_matrix(
            mtids[dense], [models[i] for i in dense], lens
        )
        valid = np.arange(mat.shape[1])[None, :] < lens[:, None]
        mins[dense] = np.where(valid, mat, np.float32(np.inf)).min(axis=1)
        maxs[dense] = np.where(valid, mat, np.float32(-np.inf)).max(axis=1)
        # mask the padding (lockstep Gorilla rows carry garbage past
        # lengths[i]); pairwise blocking may differ from the scalar
        # path by <1 ulp — the SQL surface rounds at 6
        sums[dense] = (
            np.where(valid, mat, np.float32(0)).astype(np.float64).sum(axis=1)
        )

    known = (
        (mtids == MTID_PMC)
        | (mtids == MTID_SWING)
        | (mtids == MTID_GORILLA)
        | (mtids == MTID_RAW)
    )
    if not known.all():
        raise ValueError(
            f"unknown mtid(s) {sorted(set(mtids[~known].tolist()))}"
        )
    return counts, mins, maxs, sums


def segment_agg(
    mtid: int, model: bytes, start_ms: int, end_ms: int, interval_ms: int
) -> tuple[int, float, float, float]:
    """Closed-form (count, min, max, sum) without gridding where the
    model allows (the reference's aggregate-on-model capability,
    SparkUDAF.scala:34-184 backed by the per-model Segment methods)."""
    n = segment_length(start_ms, end_ms, interval_ms)
    if mtid == MTID_PMC:
        v = pmc_value(model)
        return n, v, v, float(v) * n
    if mtid == MTID_SWING:
        a, b = swing_decode(model)
        lo, hi = swing_minmax(a, b, start_ms, end_ms)
        return n, lo, hi, swing_sum(a, b, start_ms, end_ms, n)
    values = decode_values(mtid, model, start_ms, end_ms, interval_ms)
    return (
        n,
        float(values.min()),
        float(values.max()),
        float(values.sum(dtype=np.float64)),
    )
