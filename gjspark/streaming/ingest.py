"""Streaming image ingest: the importer's resumable-crawl job as a
Structured Streaming graph (north rule: resumable from checkpoint with
lineage; reference analogue: the batch crawler loop
``geojson/GeoJsonConverter.java:151-207`` + the importer's resume
semantics, re-expressed as source->transform->sink with exactly-once
file-source progress in the checkpoint).

Pipeline: ``readStream`` over a landing directory of image-table parquet
(the Iceberg staging area at production scale) -> canonical H3/S2 cell
assignment (one Arrow UDF pass) -> ``writeStream`` to parquet
partitioned by the coarse ``h3_r5`` cell, so downstream spatial queries
prune whole regions at the directory level. ``availableNow`` triggers
make it usable as an incremental batch job: each run drains what landed
since the last checkpoint and stops — kill it anywhere and the next run
resumes without duplicating a file (verified in tests by a two-phase
run with a restart in between).

At 10^12 rows the same graph runs continuously: the file source scales
by listing only new files, cell assignment is map-side, and the sink's
partitioning keeps any one micro-batch's output directories bounded by
the geographic spread of the batch, not the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gjspark.functions import h3 as h3f
from gjspark.operators.cells import with_cell_columns

# input_hint schema (+ the lat/lon columns every fixture/test table has)
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)


def read_image_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.readStream.schema(IMAGES_SCHEMA).parquet(src_dir)


def ingest_images(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start the ingest query with an ``availableNow`` trigger; returns
    the StreamingQuery.

    Output directories are keyed by the res-5 cell ``h3_r5`` (a couple
    hundred km — coarse enough that directory counts stay sane at planet
    scale, fine enough that regional scans prune hard). It is derived
    from ``h3_r7`` by pure bit truncation, with no second kernel pass.
    """

    @pandas_udf(T.LongType())
    def _parent(cell: pd.Series) -> pd.Series:
        return pd.Series(h3f.cell_to_parent(cell.to_numpy(dtype=np.int64), 5))

    enriched = with_cell_columns(read_image_stream(spark, src_dir))
    enriched = enriched.withColumn("h3_r5", _parent(F.col("h3_r7")))
    return (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("h3_r5")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
