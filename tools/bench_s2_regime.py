#!/usr/bin/env python
"""S2 covering-join winning-regime A/B (round 5).

Round-4 verdict: the S2 covering join had no demonstrated regime where it
is the right choice by measurement. This bench constructs its documented
regime deterministically and measures every competitor on identical
outputs:

- POINTS: hash-derived uniform coords in a HIGH-LATITUDE band
  (lat 55..85) — where a fixed-z mercator tile grid is up to ~11x finer
  in linear extent than at the equator. S2 cells are near-uniform on the
  sphere (the reason the path exists).
- POLYGONS: K small rects covering ~2% of the band — SELECTIVE, so a
  plan that prunes non-matching points inside codegen (cell equi-join)
  avoids the measured JVM->Arrow copy floor that the broadcast-pip
  kernel pays for every point.
- PLANS (identical (point, poly) outputs, checksum-verified):
    bc_pip        spatial_join_broadcast — every point crosses Arrow
    s2_bc         S2 covering join, broadcast regions
    s2_pre        + prefilter_z=12 pure-Column lon/lat-grid prune (round 5)
    s2_pre_shuf   prefilter + broadcast_regions=False (the
                  huge-region-set shuffled-hash-join shape)

The regions covering is built once (driver-side, reported separately) —
at 100 TB it is a persisted ingest artifact like the bucketed table.
Writes BENCH/s2_regime_ab_r5.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gdal_scripts_spark import geom, joins  # noqa: E402
from gdal_scripts_spark.session import get_spark  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
K = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
SIDE = 0.08
LAT0, LAT1 = 55.0, 85.0

spark = get_spark(app_name="bench_s2_regime", cpus=32, shuffle_partitions=64)

points = (
    spark.range(0, N, 1, 128)
    .select(
        F.col("id").alias("image_id"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_200_000)).cast("double")
         / 10_000.0 - 60.0).alias("lon"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(int((LAT1 - LAT0) * 1e4)))
         .cast("double") / 10_000.0 + LAT0).alias("lat"),
    )
    .persist()
)
points.count()

rng = np.random.default_rng(17)
cx = rng.uniform(-60 + SIDE, 60 - SIDE, K)
cy = rng.uniform(LAT0 + SIDE, LAT1 - SIDE, K)
pack = geom.PolygonPack.from_rings([
    (i, [np.array([
        [cx[i] - SIDE / 2, cy[i] - SIDE / 2],
        [cx[i] + SIDE / 2, cy[i] - SIDE / 2],
        [cx[i] + SIDE / 2, cy[i] + SIDE / 2],
        [cx[i] - SIDE / 2, cy[i] + SIDE / 2],
    ])])
    for i in range(K)
])

t0 = time.time()
regions = joins.s2_cover_regions(spark, pack, max_level=12, cover="rings").persist()
n_region_cells = regions.count()
cover_build_s = round(time.time() - t0, 2)

PATHS = {
    "bc_pip": lambda: joins.spatial_join_broadcast(points, pack),
    "s2_bc": lambda: joins.spatial_join_s2(points, pack, regions=regions),
    "s2_pre": lambda: joins.spatial_join_s2(
        points, pack, regions=regions, prefilter_z=12),
    "s2_pre_shuf": lambda: joins.spatial_join_s2(
        points, pack, regions=regions, prefilter_z=12,
        broadcast_regions=False),
}


def run_once(fn):
    t0 = time.time()
    row = (
        fn()
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(image_id, poly_id))").alias("chk"),
        )
        .collect()[0]
    )
    return round(time.time() - t0, 2), int(row["n"]), int(row["chk"])


walls: dict[str, list[float]] = {k: [] for k in PATHS}
counts: dict[str, int] = {}
chks: dict[str, int] = {}
for trial in range(2):  # interleaved
    for name, fn in PATHS.items():
        w, n, c = run_once(fn)
        walls[name].append(w)
        counts[name] = n
        chks[name] = c

ok = len(set(counts.values())) == 1 and len(set(chks.values())) == 1
best = {k: min(v) for k, v in walls.items()}
out = {
    "workload": ("selective high-latitude spatial join: identical "
                 "(point,poly) outputs across 4 plans"),
    "n_points": N, "n_polygons": K, "rect_side_deg": SIDE,
    "lat_band": [LAT0, LAT1],
    "coverage_fraction": round(K * SIDE * SIDE / (120.0 * (LAT1 - LAT0)), 4),
    "n_region_cells": n_region_cells,
    "cover_build_once_s": cover_build_s,
    "pairs": counts, "checksums_match": ok,
    "walls_s": walls, "best_s": best,
    "note": ("regions covering is a once-per-region-set ingest artifact "
             "(persisted), amortized like the bucketed write; prefilter_z "
             "prunes non-matching points in whole-stage codegen before "
             "the Arrow leaf encode — the structural advantage of "
             "Column-expressible spatial keys over the opaque pip kernel."),
}
print(json.dumps(out))
with open(os.path.join(REPO, "BENCH", "s2_regime_ab_r5.json"), "w") as f:
    json.dump(out, f, indent=2)
spark.stop()
