"""``spatial_query``: read-mostly spatial SQL over a Z2-clustered lake.

On the blocking path: ``operators`` (pushdown predicates, spatial join),
``functions`` (the ST_* pandas UDFs), ``geom`` (their kernels) and the
Spark parquet scan. Off it: ``sources.manifest`` and ``pipeline``.
Point windows take the vectorized point fast path of ``st_intersects``,
polygon windows its per-row path, so kernel changes show separately.
Window selectivities (the share of rows inside) cover three decades,
so pushdown changes show across selectivities. They are stratified:
each cycle takes one point window from each third of the log range, at
an offset within the third that depends on the cycle number only, so
every seed measures the same window sizes and the seed moves only the
windows' places and the op order. Two
of the seven ops per cycle save a small window extract through
``write_spatially_partitioned`` (an analyst saving a result), which
gives this workload a write class as well.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench.harness import Op, dir_bytes, parquet_layout
from perfbench.spatial_data import SpatialData

# whether the workload calls the registered ST_* SQL functions
ST_FUNCTIONS = True
WHY = ("bbox pushdown + exact ST_Intersects over Z2-clustered points and "
       "polygons: operators, functions, geom and the scan block each op")
# nominal seconds of one cycle on a 4-vCPU host (sets the cycle count)
CYCLE_S = 6.0
POINT_FILES = 8
POLYGON_FILES = 4
# small row groups so min/max pruning has granules finer than a file
ROW_GROUP_BYTES = 256 * 1024
# shares of rows inside a window: log range, and strata per cycle
WINDOW_SHARE = (1e-4, 1e-1)
POINT_STRATA = 3
POLYGON_STRATA = 1
GOLDEN = (5 ** 0.5 - 1) / 2
JOIN_SHARE = 5e-4
EXTRACT_SHARES = (2e-4, 1e-3)


def _strata(c: int, n: int) -> list[float]:
    """One share per 1/n of the log range of ``WINDOW_SHARE``. The offset
    within each 1/n steps by the golden ratio from cycle to cycle, so
    successive cycles fill the range evenly, the same for every seed."""
    lo, hi = np.log(WINDOW_SHARE[0]), np.log(WINDOW_SHARE[1])
    u = (c * GOLDEN) % 1.0
    return [float(np.exp(lo + (hi - lo) * (k + u) / n)) for k in range(n)]


def _wkt(w) -> str:
    xmin, ymin, xmax, ymax = w
    return (f"POLYGON (({xmin!r} {ymin!r}, {xmax!r} {ymin!r}, {xmax!r} {ymax!r}, "
            f"{xmin!r} {ymax!r}, {xmin!r} {ymin!r}))")


class Workload:
    def __init__(self, spark, seed: int, d: str, tracer):
        self.spark, self.seed, self.dir, self.tr = spark, seed, d, tracer
        self.points = os.path.join(d, "points")
        self.polygons = os.path.join(d, "polygons")
        self.extract = os.path.join(d, "extract")
        self.data: SpatialData | None = None

    def setup(self) -> dict:
        from geomesa_hive_spark.operators.partitioning import write_spatially_partitioned

        os.makedirs(self.dir, exist_ok=True)
        self.spark.conf.set("parquet.block.size", str(ROW_GROUP_BYTES))
        self.data = d = SpatialData(self.seed)
        pts = self.spark.createDataFrame(
            pd.DataFrame({"id": np.arange(len(d.px)), "geom": d.point_wkb()}))
        write_spatially_partitioned(pts, self.points, "geom", num_files=POINT_FILES)
        polys = self.spark.createDataFrame(
            pd.DataFrame({"id": np.arange(len(d.vx)), "geom": d.polygon_wkb()}))
        write_spatially_partitioned(polys, self.polygons, "geom", num_files=POLYGON_FILES)
        return {"points": parquet_layout(self.points),
                "polygons": parquet_layout(self.polygons)}

    # ------------------------------------------------------------ ops

    def _count(self, df) -> int:
        with self.tr.span("spark", "count"):
            n = df.count()
        self.tr.count("result_rows", n)
        return n

    def _points_read(self, w) -> Op:
        from geomesa_hive_spark.sources.spatial_io import read_spatial_parquet

        def run():
            with self.tr.span("operators", "read_spatial_parquet"):
                df = read_spatial_parquet(self.spark, self.points, bbox=w)
            return self._count(df)

        return Op("points.read_spatial_parquet", "read", run,
                  lambda n: n == int(self.data.points_in(w).sum()))

    def _points_pushdown(self, w) -> Op:
        from geomesa_hive_spark.operators.pushdown import intersects_pushdown

        def run():
            with self.tr.span("operators", "intersects_pushdown"):
                df = intersects_pushdown(self.spark.read.parquet(self.points), _wkt(w),
                                         geom_col="geom", bbox_col="bbox")
            return self._count(df)

        return Op("points.intersects_pushdown", "read", run,
                  lambda n: n == int(self.data.points_in(w).sum()))

    def _polygons_read(self, w) -> Op:
        from geomesa_hive_spark.sources.spatial_io import read_spatial_parquet

        def run():
            with self.tr.span("operators", "read_spatial_parquet"):
                df = read_spatial_parquet(self.spark, self.polygons, bbox=w)
            return self._count(df)

        return Op("polygons.read_spatial_parquet", "read", run,
                  lambda n: n == int(self.data.polygons_intersecting(w).sum()))

    def _join(self, w) -> Op:
        from pyspark.sql import functions as F

        from geomesa_hive_spark.operators.spatial_join import spatial_join
        from geomesa_hive_spark.sources.spatial_io import read_spatial_parquet

        def run():
            with self.tr.span("operators", "spatial_join"):
                left = read_spatial_parquet(self.spark, self.points, bbox=w)
                right = read_spatial_parquet(self.spark, self.polygons, bbox=w).select(
                    F.col("id").alias("qid"), F.col("geom").alias("qgeom"),
                    F.col("bbox").alias("qbbox"))
                df = spatial_join(left.select("id", "geom", "bbox"), right,
                                  left_geom="geom", right_geom="qgeom",
                                  left_bbox="bbox", right_bbox="qbbox")
            return self._count(df)

        return Op("points_x_polygons.spatial_join", "read", run,
                  lambda n: n == self.data.join_pairs(w))

    def _save_extract(self, w) -> Op:
        from geomesa_hive_spark.operators.partitioning import write_spatially_partitioned
        from geomesa_hive_spark.sources.spatial_io import read_spatial_parquet

        def run():
            with self.tr.span("operators", "read_spatial_parquet"):
                df = read_spatial_parquet(self.spark, self.points, bbox=w).select("id", "geom")
            # eager: a job, not planning, so not an ``operators`` span
            with self.tr.span("sink", "write_spatially_partitioned"):
                write_spatially_partitioned(df, self.extract, "geom", num_files=1)

        def check(_):
            return (self.spark.read.parquet(self.extract).count()
                    == int(self.data.points_in(w).sum()))

        return Op("points.save_extract", "write", run, check)

    def warmup(self):
        """Cycle 0, untimed: every op kind, both op classes and both
        geometry paths of ``st_intersects`` run before timing starts."""
        return self.cycle(0)

    def cycle(self, c: int) -> list[Op]:
        """Three point windows, a polygon window, a join and two
        extracts, in a seeded order."""
        rng = np.random.default_rng([self.seed, 7, c])
        d = self.data
        # the two point-window APIs alternate over the strata
        points = (self._points_read, self._points_pushdown)
        ops = [points[k % 2](d.window(rng, share))
               for k, share in enumerate(_strata(c, POINT_STRATA))]
        ops += [self._polygons_read(d.window(rng, share, polygons=True))
                for share in _strata(c, POLYGON_STRATA)]
        ops.append(self._join(d.window(rng, JOIN_SHARE)))
        ops += [self._save_extract(d.window(rng, share)) for share in EXTRACT_SHARES]
        return [ops[i] for i in rng.permutation(len(ops))]

    # ------------------------------------------------------------ end of run

    def space_amp(self) -> float:
        """Lake bytes over the bytes of the same rows rewritten as one
        file per table."""
        on_disk = compact = 0
        for path in (self.points, self.polygons):
            out = path + "_compact"
            self.spark.read.parquet(path).coalesce(1).write.mode("overwrite").parquet(out)
            on_disk += dir_bytes(path)
            compact += dir_bytes(out)
        return on_disk / compact

    def final_check(self) -> bool:
        return (self.spark.read.parquet(self.points).count() == len(self.data.px)
                and self.spark.read.parquet(self.polygons).count() == len(self.data.vx))

    def layer_metrics(self) -> dict:
        return {}
