"""Where does the broadcast PIP refine stop beating the cover join?

``pip_join`` picks its path by the polygons' WKB bytes against
``spark.sql.autoBroadcastJoinThreshold`` only. This tool times both paths
on seeded synthetic inputs that stay under that threshold while the
polygon count grows: ``n`` ``verts``-gon features of ``radius`` degrees
(default 0.01, about 2 km across: the size of a res-7 cell, which is the
cover join's best case) scattered over a Europe-sized box, and ``points``
image rows over the same box. The bucketed path is forced by setting
``spark.sql.autoBroadcastJoinThreshold`` to -1 around its runs, so its
cover join cannot be broadcast either. Each run checks that both paths
return the same pair set.

Usage: python tools/pip_crossover.py [--polys 200,5000,50000]
       [--points 100000] [--verts 16] [--radius 0.01] [--reps 3]
       [--master local[4]]
Prints one JSON line per (polygon count, path) with the min/median wall
time of ``pip_join(...)`` written to the ``noop`` sink.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOX = (-10.0, 35.0, 30.0, 60.0)  # lon_min, lat_min, lon_max, lat_max


def synth_features(n: int, verts: int, radius: float, seed: int) -> pd.DataFrame:
    from gjspark.functions import geometry as G

    rng = np.random.default_rng(seed)
    cx = rng.uniform(BOX[0], BOX[2], n)
    cy = rng.uniform(BOX[1], BOX[3], n)
    ang = np.linspace(0.0, 2 * np.pi, verts, endpoint=False)
    wkbs = []
    for x, y in zip(cx, cy):
        r = radius * rng.uniform(0.5, 1.0, verts)
        ring = np.c_[x + r * np.cos(ang) / np.cos(np.radians(y)), y + r * np.sin(ang)]
        wkbs.append(G.polygon_wkb([np.vstack([ring, ring[:1]])]))
    return pd.DataFrame(
        {
            "feature_id": [f"f{i:07d}" for i in range(n)],
            "geom_type": "Polygon",
            "geometry": wkbs,
        }
    )


def synth_images(n: int, seed: int) -> pd.DataFrame:
    from gjspark.functions import h3 as h3x

    rng = np.random.default_rng(seed)
    lon = rng.uniform(BOX[0], BOX[2], n)
    lat = rng.uniform(BOX[1], BOX[3], n)
    return pd.DataFrame(
        {
            "image_id": [f"i{i:08d}" for i in range(n)],
            "lat": lat,
            "lon": lon,
            "h3_r7": h3x.latlng_to_cell(lat, lon, 7),
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--polys", default="200,5000,50000")
    ap.add_argument("--points", type=int, default=100_000)
    ap.add_argument("--verts", type=int, default=16)
    ap.add_argument("--radius", type=float, default=0.01)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from gjspark.operators.spatial_join import pip_join
    from gjspark.session import broadcast_threshold_override, get_spark

    spark = get_spark("pip_crossover", master=args.master)
    images = spark.createDataFrame(synth_images(args.points, seed=1)).cache()
    images.count()
    for n in (int(v) for v in args.polys.split(",")):
        fpdf = synth_features(n, args.verts, args.radius, seed=n)
        wkb_bytes = int(fpdf["geometry"].map(len).sum())
        feats = spark.createDataFrame(fpdf).cache()
        feats.count()
        pairs = {}
        for broadcast in (True, False):
            with broadcast_threshold_override(spark, None if broadcast else "-1"):
                pairs[broadcast] = set(
                    map(tuple, pip_join(images, feats)
                        .toPandas()[["image_id", "feature_id"]].to_numpy())
                )
        same = pairs[True] == pairs[False]
        walls = {True: [], False: []}
        for _ in range(args.reps):  # alternate the paths
            for broadcast in (True, False):
                with broadcast_threshold_override(spark, None if broadcast else "-1"):
                    t0 = time.perf_counter()
                    pip_join(images, feats).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    walls[broadcast].append(time.perf_counter() - t0)
        feats.unpersist()
        for broadcast in (True, False):
            print(json.dumps({
                "polygons": n,
                "wkb_bytes": wkb_bytes,
                "points": args.points,
                "verts": args.verts,
                "radius_deg": args.radius,
                "path": "broadcast" if broadcast else "bucketed",
                "pairs": len(pairs[broadcast]),
                "pairs_equal": same,
                "wall_min_s": round(min(walls[broadcast]), 3),
                "wall_median_s": round(statistics.median(walls[broadcast]), 3),
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
