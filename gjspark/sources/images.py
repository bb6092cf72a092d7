"""Iceberg-shaped image table source (north-rule graft input).

Schema per ``BASELINE.json.input_hint``:
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)`` — plus test-only ``lat``/``lon`` columns in the synthetic
fixtures (FIXTURES.md §2).

At production scale this is ``spark.read.format("iceberg").load(table)``
(snapshot isolation + partition pruning on the cell column for free); in
this sandbox no Iceberg runtime jar exists, so the same code path reads
parquet of the identical schema — the engine only ever sees a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gjspark.sources.parquet import read_parquet

IMAGE_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """Read the image table from Iceberg if `path` is a catalog table name,
    else parquet."""
    if path.endswith(".parquet") or path.startswith("/") or path.startswith("file:"):
        return read_parquet(spark, path)
    return spark.read.format("iceberg").load(path)
