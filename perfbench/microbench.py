"""Spark-free timings of the core/ kernels on a workload's own shapes.

Each kernel runs on the 96 benchmark regions (densified integer-degree
rectangles) and on points drawn like the workload's points; each figure
is the median of REPEATS timed rounds, after one untimed warm-up round.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import oracles

REPEATS = 5
N_POLYS = 8
MAX_POINTS = 20_000


def workload_points(workload: str, inputs_dir: str, expected: dict) -> np.ndarray:
    """(n, 2) lng/lat points shaped like the workload's fact side."""
    if workload == "pages_join":
        # mentions: gazetteer cities in the proportions the input has
        counts = np.asarray(expected["city_counts"], dtype=np.float64)
        lng, lat = oracles.gazetteer_lnglat(np.arange(len(counts)))
        k = np.random.default_rng(0).choice(len(counts), size=MAX_POINTS,
                                            p=counts / counts.sum())
        return np.stack([lng[k], lat[k]], axis=1)
    # dense_join: the input's own points
    t = pq.read_table(os.path.join(inputs_dir, "points"),
                      columns=["lng", "lat"]).slice(0, MAX_POINTS)
    return np.stack([t["lng"].to_numpy(), t["lat"].to_numpy()], axis=1)


def _timed(fn, n_units: int) -> float:
    """Median seconds per unit of fn() over REPEATS rounds."""
    fn()
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) / n_units)
    return float(np.median(times))


def run(workload: str, inputs_dir: str, expected: dict) -> dict:
    from s2geography_spark.core import ops, sphere
    from s2geography_spark.core.geog import Geog, from_wkb, to_wkb
    from s2geography_spark.core.overlay import overlay
    from s2geography_spark.sources.regions import densified_rect

    lng0, lat0, lng1, lat1 = oracles.region_corners(np.arange(oracles.N_REGIONS))
    rects = [densified_rect(float(lng0[i]), float(lat0[i]),
                            float(lng1[i]), float(lat1[i]))
             for i in range(oracles.N_REGIONS)]
    wkbs = [to_wkb(g) for g in rects]
    pts = workload_points(workload, inputs_dir, expected)
    xyz = sphere.lnglat_to_xyz(pts)
    edges = [g.ring_edges_xyz() for g in rects[:N_POLYS]]
    centers = [Geog(points=[[(lng0[i] + lng1[i]) / 2.0, (lat0[i] + lat1[i]) / 2.0]])
               for i in range(N_POLYS)]
    # a region and its east neighbour
    pairs = [(rects[i], densified_rect(float(lng1[i]), float(lat0[i]),
                                       float(lng1[i]) + 2.0 + i % 3,
                                       float(lat1[i])))
             for i in range(N_POLYS)]

    def pip():
        for ra, rb in edges:
            sphere.contains_points(xyz, ra, rb)

    def knn():
        for c in centers:
            ops.dist_to_points_rad(c, xyz)

    def ovl():
        for a, b in pairs:
            overlay(a, b, "union")

    def decode():
        for w in wkbs:
            from_wkb(w)

    return {
        "core.pip_ns": _timed(pip, len(xyz) * len(edges)) * 1e9,
        "core.knn_dist_ns": _timed(knn, len(xyz) * len(centers)) * 1e9,
        "core.overlay_ms": _timed(ovl, len(pairs)) * 1e3,
        "core.wkb_decode_us": _timed(decode, len(wkbs)) * 1e6,
    }
