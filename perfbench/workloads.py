"""The three workloads.  Each one stages its inputs, runs one rep (the full
user-visible call chain, ending in an action) through the engine's public
functions, and checks a rep's output outside the timed window."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import checks
import fixtures as fx
from xagg_spark import (aggregate, pixel_geometry, pixel_overlaps,
                        read_wm, save_weightmap, tiles_to_pixels)
from xagg_spark.operators.knn import knn_pixels
from xagg_spark.synth import generate_rows


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def _stage_facts(spark, grid, ntime: int, path: str, drop: set = frozenset()):
    """Write the synthetic raw32 tile table (minus the ``drop`` (ty, tx)
    tiles) as parquet files from the driver and return it read back, so
    reps scan files.  Driver-side writing keeps staging out of Spark: on a
    4-core machine it takes under a second where the distributed
    generator's first job on a fresh JVM takes about ten."""
    cols = ["image_id", "bytes", "w", "h", "fmt"]
    rows = [[r[c] for c in cols]
            for r in generate_rows(grid, ntime=ntime, fmt="raw32",
                                   with_phash=False)
            if tuple(int(v) for v in r["image_id"].split("_")[-2:])
            not in drop]
    os.makedirs(path)
    nfiles = 2 * spark.sparkContext.defaultParallelism
    for i in range(nfiles):
        part = pd.DataFrame(rows[i::nfiles], columns=cols)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return spark.read.parquet(path)


class ZonalBuild:
    """Build a weightmap for coastline-like polygons, save it, aggregate one
    time step of a fact table with missing tiles (aggregate's NaN-aware
    general path)."""

    name = "zonal_build"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.grid = fx.bench_grid()
        self.polys = fx.build_polys(seed)
        drop = fx.dropped_tiles(self.grid, self.polys, seed)
        self.facts = _stage_facts(spark, self.grid, 1,
                                  os.path.join(workdir, "facts"), drop)
        self.wm_path = os.path.join(workdir, "wm_build")

    def rep(self, tr):
        with tr.layer("overlaps"):
            wm = pixel_overlaps(self.spark, self.grid, self.polys)
        with tr.layer("weightmap_io.save"):
            save_weightmap(wm, self.wm_path, overwrite=True)
        with tr.layer("aggregate"):
            agg = aggregate(tiles_to_pixels(self.facts, self.grid),
                            wm).toPandas()
        return {"wm": wm, "agg": agg}

    def check(self, out, ref):
        with open(os.path.join(self.wm_path, "_manifest.json")) as f:
            manifest = json.load(f)
        ov_stats = (self.spark.read.parquet(os.path.join(self.wm_path,
                                                         "overlaps"))
                    .groupBy("poly_idx")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("rel_area").alias("rel_sum")).toPandas())
        problems = checks.check_build(manifest, out["wm"].n_rows, ov_stats,
                                      out["agg"], len(self.polys),
                                      fx.VALUE_MIN, fx.VALUE_MAX)
        return problems, checks.value_checksum(out["agg"])

    def release(self, out):
        out["wm"].unpersist()

    def layer_counts(self, out) -> dict:
        wm = out["wm"]
        return {"overlaps.rows": wm.n_rows,
                "overlaps.boundary_refined": wm.n_boundary_refined,
                "overlaps.nonconvex_fallback": wm.n_nonconvex_fallback,
                "weightmap_io.bytes_mb": _dir_mb(self.wm_path)}


class ZonalReuse:
    """Read a weightmap persisted during set-up, aggregate a complete
    multi-step fact table (decode, fact x overlaps join and the
    dense-denominator hash aggregate)."""

    name = "zonal_reuse"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.grid = fx.reuse_grid()
        self.polys = fx.reuse_polys(seed)
        self.facts = _stage_facts(spark, self.grid, fx.REUSE_NTIME,
                                  os.path.join(workdir, "facts"))
        self.wm_path = os.path.join(workdir, "wm_reuse")
        wm = pixel_overlaps(spark, self.grid, self.polys)
        save_weightmap(wm, self.wm_path)
        wm.unpersist()

    def rep(self, tr):
        with tr.layer("weightmap_io.read"):
            wm = read_wm(self.spark, self.wm_path)
        with tr.layer("aggregate"):
            agg = aggregate(tiles_to_pixels(self.facts, self.grid),
                            wm).toPandas()
        return {"agg": agg}

    def check(self, out, ref):
        problems = checks.check_reuse(out["agg"], len(self.polys),
                                      fx.REUSE_NTIME, fx.VALUE_MIN,
                                      fx.VALUE_MAX, ref)
        return problems, checks.value_checksum(out["agg"])

    def release(self, out):
        pass

    def layer_counts(self, out) -> dict:
        return {"weightmap_io.bytes_mb": _dir_mb(self.wm_path)}


class KnnCenters:
    """k nearest pixel centers for a dense lattice of query centers (the
    iterative ring expansion with its driver-side pending and cover
    frames); no decode, no weightmap."""

    name = "knn_centers"
    facts = None

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.grid = fx.bench_grid()
        self.pixels = pixel_geometry(spark, self.grid).select("pix_idx", "lat",
                                                              "lon")
        self.centers = fx.knn_centers(seed)

    def rep(self, tr):
        with tr.layer("knn"):
            res = knn_pixels(self.spark, self.pixels, self.centers,
                             k=fx.KNN_K, radius_deg=fx.KNN_RADIUS_DEG)
            n = res.count()
        return {"res": res, "rows": n}

    def check(self, out, ref):
        pdf = out["res"].toPandas()
        problems = checks.check_knn(pdf, len(self.centers), fx.KNN_K, ref)
        return problems, checks.knn_checksum(pdf)

    def release(self, out):
        pass

    def layer_counts(self, out) -> dict:
        return {"knn.rows": out["rows"]}


WORKLOADS = {w.name: w for w in (ZonalBuild, ZonalReuse, KnnCenters)}
