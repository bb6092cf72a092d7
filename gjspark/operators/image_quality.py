"""Image quality scoring — the corpus-curation filter stage
(entropy / contrast / sharpness / colorfulness per image).

One ``mapInPandas`` decode+measure pass on the scan partitioning (no
shuffle at all until whatever aggregation the caller adds); failed
decodes emit ``decode_ok = false`` with null metrics instead of
poisoning the batch. Metric math lives in
:mod:`gjspark.functions.quality` — exact integer accumulations, so the
output is bit-identical at any batch size / partitioning and a
committed single-process golden can pin it (the q_decode pattern).

At 10^12 rows this stage is decode-bound like every pixel operator;
when run in the same job as :func:`gjspark.operators.fused.
decoded_features` the two passes should be fused by the caller (decode
once, feed both kernels) — kept separate here because the quality
filter typically runs FIRST and prunes the corpus the expensive
geo/tiling pipeline then reads.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gjspark.functions import codecs as C
from gjspark.functions.quality import quality_metrics

QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("entropy_bits", T.DoubleType()),
        T.StructField("rms_contrast", T.DoubleType()),
        T.StructField("sharpness", T.DoubleType()),
        T.StructField("colorfulness", T.DoubleType()),
    ]
)


def image_quality(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt, ...) -> per-image quality metrics."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ok = np.zeros(n, dtype=bool)
            vals = np.full((n, 4), np.nan)
            for k, (blob, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                try:
                    img = C.decode_image(blob, fmt)
                except C.CodecError:
                    continue
                ok[k] = True
                vals[k] = quality_metrics(img)
            # failed rows keep their NaN initialization; Arrow turns the
            # NaNs into SQL nulls at the mapInPandas boundary
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "fmt": pdf["fmt"],
                    "decode_ok": ok,
                    "entropy_bits": vals[:, 0],
                    "rms_contrast": vals[:, 1],
                    "sharpness": vals[:, 2],
                    "colorfulness": vals[:, 3],
                }
            )

    from gjspark.operators.partitioning import spread_degenerate_scan

    # r6: spread 1-2-split corpora across the cluster (see partitioning
    # module docstring); bit-identical output at any partitioning
    return spread_degenerate_scan(
        images.select("image_id", "bytes", "fmt")
    ).mapInPandas(run, QUALITY_SCHEMA)


def quality_filter_images(
    df: DataFrame,
    min_entropy: float = 1.0,
    min_contrast: float = 0.02,
    min_sharpness: float = 0.001,
) -> DataFrame:
    """-> METRIC rows (image_id, fmt, metrics) for images whose metrics
    clear the given floors (and that decoded). Note: returns the metric
    frame, not the caller's payload columns — semi-join the surviving
    image_ids back to ``df`` to filter a corpus in place."""
    q = image_quality(df)
    return q.filter(
        F.col("decode_ok")
        & (F.col("entropy_bits") >= min_entropy)
        & (F.col("rms_contrast") >= min_contrast)
        & (F.col("sharpness") >= min_sharpness)
    )
