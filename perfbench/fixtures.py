"""Seeded benchmark inputs.

The shapes follow the repository's frozen ``bench.py`` fixtures (bench grid,
coastline-like skew ellipses, mixed rectangles and triangles, a regular field
of kNN centers) but are copied here rather than imported: importing
``bench.py`` sets a 24 GB driver-heap default as a side effect.  The seed
jitters polygon and center placement and the missing-tile pattern; it never
changes a size, so every seed does the same amount of work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from xagg_spark.grid import GridSpec
from xagg_spark.polygons import PolygonSet, rect_ring

# values are ((ix*7 + iy*13 + t*31) % 97) + 1 (xagg_spark.synth.value_fn)
VALUE_MIN, VALUE_MAX = 1.0, 97.0

N_BUILD_POLYS = 8       # 1024-vertex ellipses in one latitude band
BUILD_DROP_SHARE = 0.10  # share of each tile row missing from the build facts
REUSE_NTIME = 16        # time steps of the complete reuse fact table
N_KNN_CENTERS = 100_000
KNN_K = 5
KNN_RADIUS_DEG = 0.2


def bench_grid() -> GridSpec:
    """bench.py's grid: 0.05 deg over [20S..40N] x [40W..80E], 2.88M pixels,
    64x64 tiles."""
    return GridSpec(lat_edge=-20.0, lon_edge=-40.0, dlat=0.05, dlon=0.05,
                    nlat=1200, nlon=2400, tile_h=64, tile_w=64)


def reuse_grid() -> GridSpec:
    """The bench domain at 0.1 deg (720k pixels).  A quarter of the bench
    grid's pixels keeps the weightmap that set-up must build and persist
    cheap; more time steps give the timed aggregate the same order of
    joined rows as the bench grid at four steps."""
    return GridSpec(lat_edge=-20.0, lon_edge=-40.0, dlat=0.1, dlon=0.1,
                    nlat=600, nlon=1200, tile_h=64, tile_w=64)


def build_polys(seed: int) -> PolygonSet:
    """Coastline-complexity ellipses (1024 vertices, ~3 x 2.4 deg) packed
    along one thin latitude band, as in bench.py's hot-cell skew fixture:
    neighbours overlap and every boundary candidate lands in the few
    pixel partitions that hold the band."""
    rng = np.random.default_rng([seed, 1])
    th = np.arange(1024) * (2.0 * np.pi / 1024)
    rings, names = [], []
    for i in range(N_BUILD_POLYS):
        clon = -33.0 + i * 2.1 + rng.uniform(-0.3, 0.3)
        clat = 1.0 + (i % 5) * 0.02 + rng.uniform(-0.1, 0.1)
        rings.append(np.stack([clon + 1.5 * np.cos(th),
                               clat + 1.2 * np.sin(th)], axis=1))
        names.append(f"coast{i}")
    return PolygonSet(rings, pd.DataFrame({"name": names}))


def reuse_polys(seed: int) -> PolygonSet:
    """bench.py's mixed set: 20 rectangles of very different sizes, two
    triangles and one near-whole-domain polygon (23 polygons)."""
    rng = np.random.default_rng([seed, 2])
    rings, names = [], []
    for i in range(20):
        col, row = i % 5, i // 5
        lon0 = -35.0 + col * 22.0 + (i % 3) * 0.13 + rng.uniform(-0.5, 0.5)
        lat0 = -17.0 + row * 9.0 + (i % 2) * 0.21 + rng.uniform(-0.5, 0.5)
        w = 2.0 + (i % 4) * 4.5
        h = 1.5 + (i % 3) * 2.75
        rings.append(rect_ring(lon0, lat0, lon0 + w, lat0 + h))
        names.append(f"rect{i}")
    d = rng.uniform(-0.5, 0.5, size=(2, 3, 2))
    rings.append(np.array([[-30.0, -15.0], [50.0, -12.0], [10.0, 35.0]])
                 + d[0])
    names.append("tri_big")
    rings.append(np.array([[60.0, 0.0], [75.0, 5.0], [65.0, 20.0]]) + d[1])
    names.append("tri_ne")
    e = rng.uniform(-0.2, 0.2, size=2)
    rings.append(rect_ring(-38.0 + e[0], -19.0 + e[1],
                           78.0 + e[0], 39.0 + e[1]))
    names.append("continent")
    return PolygonSet(rings, pd.DataFrame({"name": names}))


def knn_centers(seed: int) -> pd.DataFrame:
    """N_KNN_CENTERS query centers on a regular lattice over the bench
    domain (bench.py's 10^5-center layout, denser), each jittered by the
    seed within a tenth of the lattice step."""
    rng = np.random.default_rng([seed, 3])
    q = np.arange(N_KNN_CENTERS, dtype=np.int64)
    ncol = 500
    nrow = N_KNN_CENTERS // ncol
    step_lon, step_lat = 116.0 / ncol, 56.0 / nrow
    return pd.DataFrame({
        "q_id": q,
        "c_lon": -38.0 + (q % ncol) * step_lon
                 + rng.uniform(-0.1, 0.1, N_KNN_CENTERS) * step_lon,
        "c_lat": -18.0 + (q // ncol) * step_lat
                 + rng.uniform(-0.1, 0.1, N_KNN_CENTERS) * step_lat,
    })


def dropped_tiles(grid: GridSpec, polys: PolygonSet, seed: int) -> set:
    """(ty, tx) tiles left out of the build fact table: the same number in
    every tile row (so the polygon band always loses tiles and aggregate
    takes its NaN-aware general path), never a tile holding a polygon's
    center (so every polygon keeps valid pixels and a finite value)."""
    rng = np.random.default_rng([seed, 4])
    keep = set()
    for poly in polys.rings:
        clon, clat = poly[0].mean(axis=0)
        iy = int((clat - grid.lat_edge) / grid.dlat)
        ix = int((clon - grid.lon_edge) / grid.dlon)
        keep.add((iy // grid.tile_h, ix // grid.tile_w))
    per_row = max(1, round(BUILD_DROP_SHARE * grid.ntiles_x))
    out = set()
    for ty in range(grid.ntiles_y):
        cand = [tx for tx in range(grid.ntiles_x) if (ty, tx) not in keep]
        out.update((ty, int(tx)) for tx in rng.choice(cand, per_row,
                                                      replace=False))
    return out
