"""Output checks for the benchmark workloads.

Each check takes small pandas frames collected after a rep, outside its
timed window, and returns a list of failure messages (empty when the rep's
output is correct).  ``Ledger`` turns them into the run's error rate: a rep
that raised or failed its check counts as failed, and neither aborts the
run.
"""

from __future__ import annotations

import math
import traceback

import numpy as np
import pandas as pd

REL_AREA_TOL = 1e-9


def value_checksum(agg: pd.DataFrame) -> float:
    """Order-independent checksum of an aggregate result: each value weighted
    by its (poly_idx, t) key, so a value moved to another key changes it."""
    w = 1.0 + agg["poly_idx"].to_numpy() * 0.37 + agg["t"].to_numpy() * 0.011
    return float(np.sum(agg["value"].to_numpy(dtype=np.float64) * w))


def knn_checksum(knn: pd.DataFrame) -> int:
    """Order-independent integer checksum of a kNN result (wraps at 2^64)."""
    key = (knn["q_id"].to_numpy(dtype=np.uint64) * np.uint64(1_000_003)
           + knn["rank"].to_numpy(dtype=np.uint64) * np.uint64(7_919)
           + knn["pix_idx"].to_numpy(dtype=np.uint64))
    return int(key.sum(dtype=np.uint64))


def _value_range(agg: pd.DataFrame, lo: float, hi: float) -> list:
    v = agg["value"].to_numpy(dtype=np.float64)
    bad = ~np.isfinite(v) | (v < lo) | (v > hi)
    if bad.any():
        return [f"{int(bad.sum())} aggregate values non-finite or outside "
                f"[{lo}, {hi}], e.g. {v[bad][:3].tolist()}"]
    return []


def _one_row_per_key(agg: pd.DataFrame, n_polys: int, ntime: int) -> list:
    out = []
    if len(agg) != n_polys * ntime:
        out.append(f"{len(agg)} result rows, expected {n_polys} polygons x "
                   f"{ntime} time steps = {n_polys * ntime}")
    if agg.duplicated(["poly_idx", "t"]).any():
        out.append("duplicate (poly_idx, t) rows in the result")
    return out


def check_build(manifest: dict, n_rows: int, ov_stats: pd.DataFrame,
                agg: pd.DataFrame, n_polys: int, lo: float,
                hi: float) -> list:
    """zonal_build: the saved overlap table has the manifest's row count,
    rel_area sums to 1 per polygon, and each polygon's aggregate value is
    finite and inside the synthetic value range."""
    out = []
    total = manifest["lineage"]["total_rows"]
    read = int(ov_stats["n"].sum())
    if not read == total == n_rows:
        out.append(f"overlap rows: {read} saved, {total} in the manifest, "
                   f"{n_rows} on the WeightMap")
    if len(ov_stats) != n_polys:
        out.append(f"{len(ov_stats)} polygons in the saved overlaps, "
                   f"expected {n_polys}")
    dev = (ov_stats["rel_sum"] - 1.0).abs()
    if not (dev <= REL_AREA_TOL).all():
        out.append(f"rel_area sums off 1 by up to {dev.max():.3g}")
    return out + _one_row_per_key(agg, n_polys, 1) + _value_range(agg, lo, hi)


def check_reuse(agg: pd.DataFrame, n_polys: int, ntime: int, lo: float,
                hi: float, ref: float | None) -> list:
    """zonal_reuse: one finite, in-range value per polygon x time step, and
    the same checksum as the warm rep's (``ref``; None on the warm rep)."""
    out = _one_row_per_key(agg, n_polys, ntime) + _value_range(agg, lo, hi)
    if ref is not None and not math.isclose(value_checksum(agg), ref,
                                            rel_tol=1e-12):
        out.append(f"value checksum {value_checksum(agg)!r} != warm rep's "
                   f"{ref!r}")
    return out


def check_knn(knn: pd.DataFrame, n_centers: int, k: int,
              ref: int | None) -> list:
    """knn_centers: k rows per query with ranks exactly 1..k, distances
    non-decreasing in rank, and the warm rep's checksum."""
    out = []
    if len(knn) != k * n_centers:
        out.append(f"{len(knn)} rows, expected k x centers = "
                   f"{k * n_centers}")
    s = knn.sort_values(["q_id", "rank"])
    g = s.groupby("q_id")["rank"]
    if g.ngroups != n_centers:
        out.append(f"{g.ngroups} distinct q_id, expected {n_centers}")
    expect = np.tile(np.arange(1, k + 1), g.ngroups)
    if (g.size() != k).any() or not np.array_equal(
            s["rank"].to_numpy(), expect[:len(s)]):
        out.append("ranks are not exactly 1..k for every q_id")
    d = s["dist2"].to_numpy()
    same_q = s["q_id"].to_numpy()[1:] == s["q_id"].to_numpy()[:-1]
    if (np.diff(d)[same_q] < 0).any():
        out.append("dist2 decreases with rank")
    if ref is not None and knn_checksum(knn) != ref:
        out.append(f"checksum {knn_checksum(knn)} != warm rep's {ref}")
    return out


class Ledger:
    """Attempted and failed reps of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def record(self, label: str, check) -> bool:
        """Count one rep; ``check`` is a callable that returns the rep's
        failure messages.  An exception from it counts the rep as failed."""
        self.attempted += 1
        try:
            problems = check()
        except Exception:
            problems = [traceback.format_exc(limit=4)]
        if problems:
            self.failed += 1
            self.errors.append({"rep": label, "problems": problems})
        return not problems

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
