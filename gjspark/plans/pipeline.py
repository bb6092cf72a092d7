"""The end-to-end spatial pipeline (the engine's flagship job).

features(GeoJSON) + images(Iceberg-shaped) ->
  cells (H3 r7-12 + S2) -> PIP join -> kNN -> per-cell tile rollup
  -> checkpointed outputs with lineage + metrics.

One lazy DAG per output; barriers only where semantics require (kNN ring
rounds). Launchable via ``spark-submit --py-files gjspark.zip -m
gjspark.plans.job`` (see ``job.py``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gjspark.functions import geometry as G
from gjspark.operators.cells import with_cell_columns
from gjspark.operators.entities import create_entities, nuts_config
from gjspark.operators.fused import decoded_features, rollup_from_features
from gjspark.operators.spatial_join import knn_join, pip_join
from gjspark.operators.upsert import find_or_create
from gjspark.sources.geojson import read_feature_collection
from gjspark.sources.images import read_images

_CENTROID_SCHEMA = T.StructType(
    [
        T.StructField("location_id", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)


def feature_locations(features: DataFrame) -> DataFrame:
    """One Location point per polygon feature: mean of the first shell's
    vertices (same definition as the fixtures' oracle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, lats, lons = [], [], []
            for fid, wkb in zip(pdf["feature_id"], pdf["geometry"]):
                if wkb is None:
                    continue
                gtype, body = G.parse_wkb(bytes(wkb))
                if gtype == "Polygon":
                    shell = body[0]
                elif gtype == "MultiPolygon":
                    shell = body[0][0]
                else:
                    ids.append(fid)
                    lons.append(body[0])
                    lats.append(body[1])
                    continue
                c = shell[:-1].mean(axis=0)
                ids.append(fid)
                lons.append(float(c[0]))
                lats.append(float(c[1]))
            if ids:
                yield pd.DataFrame({"location_id": ids, "lat": lats, "lon": lons})

    return features.select("feature_id", "geometry").mapInPandas(
        run, _CENTROID_SCHEMA
    )


def build_pipeline(
    spark: SparkSession,
    images_path: str,
    features_path: str,
) -> dict[str, DataFrame]:
    """Construct every output DataFrame lazily; nothing executes here."""
    features = read_feature_collection(spark, features_path)
    images = with_cell_columns(read_images(spark, images_path))

    locations_entities = create_entities(features, nuts_config()[0])
    upserted = find_or_create(
        locations_entities, None, "Location", check_ambiguous=False
    )

    loc_points = feature_locations(features)
    # pip/knn consume only (image_id, lat, lon, cell): build them over a
    # blob-free projection so callers can cache THAT. Caching the full
    # frame pins the payload column — ~15x the bytes at any scale — in
    # storage memory for stages that never read it; the single decode
    # consumer (the rollup's decoded_features pass) streams blobs
    # straight off the scan instead.
    slim = images.drop("bytes")
    return {
        "features": features,
        "images": images,
        "slim": slim,
        "locations": upserted,
        "pip": pip_join(slim, features),
        "knn": knn_join(slim, loc_points),
        "rollup": rollup_from_features(decoded_features(images)),
    }


def run_pipeline(
    spark: SparkSession,
    images_path: str,
    features_path: str,
    out_dir: str,
    job_id: str = "gjspark-job",
    resume: bool = True,
    n_parts: int = 64,
) -> dict:
    """Execute + checkpoint the pipeline; returns summary metrics."""
    import os

    from gjspark.plans.checkpoint import checkpointed_write

    dfs = build_pipeline(spark, images_path, features_path)
    # cache the blob-free projection (feeds pip + knn); rollup's decode
    # reads the scan directly — blobs are never held in storage memory
    cached = dfs["slim"].persist()
    outputs = {
        "pip": {"id_col": "image_id", "n_parts": n_parts},
        "knn": {"id_col": "image_id", "n_parts": n_parts},
        "rollup": {
            "id_col": "cell", "n_parts": max(n_parts // 4, 8), "cell_col": "cell",
        },
    }
    summary = {}
    try:
        for name, opts in outputs.items():
            m = checkpointed_write(
                dfs[name], os.path.join(out_dir, name), job_id, resume=resume, **opts
            )
            summary[f"{name}_rows"] = int(m["row_count"].sum())
    finally:
        cached.unpersist()
    return summary
