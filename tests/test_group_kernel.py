"""The group kernel's batch stitching: the wide adapter (one row per
bin, NaN = absent member) and the dimension adapter (one row per
present (bin, member)) must emit the same group segments for the same
data, whether the sorted rows arrive as one Arrow batch or as many tiny
ones (a key group split across batches is carried forward). The
member decoder shares one payload decode only within one group row."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modelardb_spark.operators.dimgroup import _fit_dim_group_batches
from modelardb_spark.operators.groupfit import _fit_group_batches

INTERVAL = 60_000
DAY = 86_400_000
METRICS = ("m0", "m1")


def _wide_rows(seed: int = 3) -> pd.DataFrame:
    """Sorted wide rows over several conversations: constant, linear and
    noisy stretches, single-bin runs, per-member gaps, empty bins, bin
    gaps and a salt-day boundary."""
    rng = np.random.default_rng(seed)
    rows = []
    for ci in range(4):
        t = DAY - 40 * INTERVAL if ci == 1 else ci * 1_000 * INTERVAL
        for kind in ("const", "single", "noise", "linear", "gappy", "single"):
            n = 1 if kind == "single" else int(rng.integers(3, 60))
            for i in range(n):
                if kind == "const":
                    v = (4.0, 4.0)
                elif kind == "linear":
                    v = (2.0 * i + 1.0, 2.0 * i + 1.0)
                elif kind == "gappy":
                    r = rng.random()
                    v = (
                        np.nan if r < 0.3 else float(rng.integers(0, 3)),
                        np.nan if 0.2 < r < 0.6 else float(rng.integers(0, 3)),
                    )
                else:
                    v = tuple(float(x) for x in rng.normal(20, 9, 2))
                rows.append((f"c{ci}", t, *v))
                t += INTERVAL
            t += INTERVAL * int(rng.integers(0, 4))  # 0 keeps the run going
    pdf = pd.DataFrame(rows, columns=["conv_id", "bin_ms", *METRICS])
    for m in METRICS:
        pdf[m] = pdf[m].astype(np.float32).astype(np.float64)
    pdf["salt"] = pdf["bin_ms"] // DAY
    return pdf[["conv_id", "salt", "bin_ms", *METRICS]]


def _dim_rows(wide: pd.DataFrame) -> pd.DataFrame:
    """The same data as dimension-group rows (gkey = conversation,
    midx = metric index), sorted by (gkey, salt, bin_ms, midx)."""
    parts = []
    for midx, m in enumerate(METRICS):
        w = wide[wide[m].notna()]
        parts.append(
            pd.DataFrame(
                {
                    "gkey": w["conv_id"].to_numpy(),
                    "salt": w["salt"].to_numpy(),
                    "bin_ms": w["bin_ms"].to_numpy(),
                    "midx": midx,
                    "value": w[m].to_numpy(),
                    "gsize": len(METRICS),
                }
            )
        )
    return (
        pd.concat(parts)
        .sort_values(["gkey", "salt", "bin_ms", "midx"])
        .reset_index(drop=True)
    )


def _segments(run, pdf: pd.DataFrame, batch_rows: int | None) -> list[tuple]:
    if batch_rows is None:
        batches = [pdf]
    else:
        batches = [
            pdf.iloc[i : i + batch_rows].reset_index(drop=True)
            for i in range(0, len(pdf), batch_rows)
        ]
    rows = []
    for frame in run(iter(batches)):
        for r in frame.itertuples(index=False):
            rows.append(
                tuple(
                    repr(x) if isinstance(x, float)
                    else bytes(x) if isinstance(x, (bytes, bytearray))
                    else tuple(map(repr, map(float, x))) if isinstance(x, list)
                    else x
                    for x in r
                )
            )
    return sorted(rows)


@pytest.mark.parametrize("bound", [0.0, 5.0])
def test_wide_and_dim_adapters_agree_across_batchings(bound):
    wide = _wide_rows()
    dim = _dim_rows(wide)
    wide_run = _fit_group_batches(METRICS, bound, 50, INTERVAL)
    dim_run = _fit_dim_group_batches(bound, 50, INTERVAL)
    want = _segments(wide_run, wide, None)
    # every kind of segment shows up: PMC, Swing, Gorilla, gapped rows
    assert {r[4] for r in want} >= {2, 3, 4}
    assert any(r[9] for r in want)
    assert _segments(dim_run, dim, None) == want
    for batch_rows in (1, 3, 7):
        assert _segments(wide_run, wide, batch_rows) == want, batch_rows
        assert _segments(dim_run, dim, batch_rows) == want, batch_rows


def test_dynamic_split_is_batching_invariant():
    """The ratio-feedback cascade keeps per-run state only, so it too
    must not see the Arrow batch boundaries."""
    from modelardb_spark.operators.groupfit import DYNAMIC_SPLIT_FRACTION

    wide = _wide_rows(seed=11)
    run = _fit_group_batches(METRICS, 0.0, 50, INTERVAL, DYNAMIC_SPLIT_FRACTION)
    want = _segments(run, wide, None)
    for batch_rows in (1, 3, 7):
        assert _segments(run, wide, batch_rows) == want, batch_rows


def test_member_decoder_merges_only_rows_of_one_group_row():
    """Consecutive rows share one payload decode only when they are the
    next member of the same group row: two per-series rows with equal
    (conv, start, end) and two group rows with equal bounds and size
    (dynamic-split subsets) must each decode their own payload."""
    from modelardb_spark.models import MTID_GORILLA
    from modelardb_spark.models.gorilla import gorilla_compress
    from modelardb_spark.operators.grid import _decode_members

    def row(vals, goff, gsize):
        return ("c", 0, INTERVAL * (len(vals) // gsize - 1), INTERVAL,
                MTID_GORILLA, gorilla_compress(np.float32(vals)), goff, gsize)

    a, b = [1.0, 2.0, 3.0, 4.0], [5.0, 6.0, 7.0, 8.0]  # 2 ts x 2 members
    pdf = pd.DataFrame(
        [row([1.0], 0, 1), row([2.0], 0, 1),
         row(a, 0, 2), row(a, 1, 2), row(b, 0, 2), row(b, 1, 2)],
        columns=["conv_id", "start_ms", "end_ms", "interval_ms", "mtid",
                 "model", "goff", "gsize"],
    )
    mat, n_ts, _, _ = _decode_members(pdf)
    got = [mat[i, : n_ts[i]].tolist() for i in range(len(pdf))]
    assert got == [[1.0], [2.0], [1.0, 3.0], [2.0, 4.0], [5.0, 7.0], [6.0, 8.0]]
