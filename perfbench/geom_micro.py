"""Kernel microbench: the ``geom`` layer timed outside Spark.

Each figure is the median of ``REPEATS`` passes over the same seeded
data the spatial workload uses, in ns per row. The point and polygon
intersects figures call the body of the registered ``st_intersects``
pandas UDF directly, so ``functions.udf_python_s`` minus kernel time
× rows is what the Arrow/pandas boundary costs.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from perfbench.spatial_data import SpatialData

REPEATS = 5


def _ns_per_row(fn, rows: int) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / rows


def run(seed: int) -> dict:
    from geomesa_hive_spark.functions.st import SPEC
    from geomesa_hive_spark.geom import from_wkb, to_wkb

    d = SpatialData(seed)
    pts = pd.Series(d.point_wkb(), dtype=object)
    polys = pd.Series(d.polygon_wkb(), dtype=object)
    decoded = [from_wkb(b) for b in polys]
    w = d.window(np.random.default_rng([seed, 3]), 1e-2)
    x0, y0, x1, y1 = w
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], "<f8")
    window = (np.array([1], "u1").tobytes() + np.array([3, 1, 5], "<u4").tobytes()
              + ring.tobytes())
    intersects = SPEC["st_intersects"].func
    z2 = SPEC["st_partitioncentroid"].func
    zoom = pd.Series(np.full(len(pts), 6, dtype=np.int32))
    win_pts = pd.Series([window] * len(pts), dtype=object)
    win_polys = pd.Series([window] * len(polys), dtype=object)
    return {
        "geom.wkb_decode_ns_per_row": _ns_per_row(
            lambda: [from_wkb(b) for b in polys], len(polys)),
        "geom.wkb_encode_ns_per_row": _ns_per_row(
            lambda: [to_wkb(g) for g in decoded], len(decoded)),
        "geom.point_intersects_ns_per_row": _ns_per_row(
            lambda: intersects(pts, win_pts), len(pts)),
        "geom.polygon_intersects_ns_per_row": _ns_per_row(
            lambda: intersects(polys, win_polys), len(polys)),
        "geom.z2_key_ns_per_row": _ns_per_row(lambda: z2(pts, zoom), len(pts)),
    }
