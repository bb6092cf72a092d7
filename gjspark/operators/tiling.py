"""Raster<->vector tiling join (J7, north rule): per-cell mosaic plans
that decode straight from the image bytes, with explicit hot-cell skew
handling, plus the integer-partial merge every mosaic plan shares.

Per-cell tile *statistics* and the production mosaic come from the single
decode pass in :mod:`gjspark.operators.fused`; this module holds the
decode-from-bytes mosaic plans and :func:`_merge_mosaic_partials`, which
``fused.mosaic_from_features`` reuses.

- :func:`cell_mosaic` — per-cell tile *materialization* (mean-thumbnail
  mosaic). Here every member tile must meet in one place, so the shuffle
  key is the cell and skew bites: a cell histogram (:func:`salt_map`)
  drives ``salt = pmod(xxhash64(image_id), n_salt)``; (cell, salt) groups
  build integer pixel-sum partials and a second tiny ``groupBy(cell)``
  merge adds them. Integer accumulation makes salted output byte-identical
  to unsalted (tested). AQE can split skewed *shuffle partitions* but not
  a skewed ``applyInPandas`` group — hence the explicit salt.
- :func:`cell_mosaic_mapcombine` — map-side per-cell partials, then the
  same merge; the byte reference ``mosaic_from_features`` is tested
  against.

At 10^12-image scale the histogram is a cheap two-column
``groupBy(cell).count()`` over the (pruned) cell column, and the salt map
is broadcast — driver holds only the hot-cell list.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gjspark.functions import codecs as C


def salt_map(
    images: DataFrame, cell_col: str = "h3_r7", target_rows_per_salt: int = 2000
) -> DataFrame:
    """Cell histogram -> (cell, n_salt) for hot cells only (n_salt > 1).

    n_salt = next power of two of ceil(count / target), capped at 64.
    """
    hist = images.groupBy(F.col(cell_col).alias("cell")).count()
    n_salt = F.pow(
        F.lit(2.0),
        F.ceil(F.log2(F.greatest(F.ceil(F.col("count") / target_rows_per_salt), F.lit(1)))),
    ).cast("int")
    return (
        hist.withColumn("n_salt", F.least(n_salt, F.lit(64)))
        .filter(F.col("n_salt") > 1)
        .select("cell", "n_salt")
    )


# ---------------------------------------------------------------------------
# Per-cell mosaic: the operator that genuinely needs salted repartitioning
# ---------------------------------------------------------------------------

MOSAIC_SIZE = 32


def _merge_mosaic_partials(parts: DataFrame) -> DataFrame:
    """Merge (cell, n, pix_sum) integer partials into final mosaics.

    Hash-repartition by cell (so each cell's partials co-locate), then ONE
    vectorized ``mapInPandas`` call per partition — sort + ``reduceat``
    over the stacked int64 partials. A ``groupBy(cell).applyInPandas``
    here would cost one Python call per cell (~40k calls at sf0.1 — the
    dominant mosaic cost when cells are plentiful); integer addition is
    order-independent so the partition-level merge is byte-identical.
    """
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cells_l, ns_l, mats_l = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            cells_l.append(pdf["cell"].to_numpy(dtype=np.int64))
            ns_l.append(pdf["n"].to_numpy(dtype=np.int64))
            mats_l.append(
                np.stack([np.frombuffer(bytes(b), dtype=np.int64) for b in pdf["pix_sum"]])
            )
        if not cells_l:
            return
        cells = np.concatenate(cells_l)
        ns = np.concatenate(ns_l)
        mat = np.concatenate(mats_l)
        order = np.argsort(cells, kind="stable")
        c, n_s, m_s = cells[order], ns[order], mat[order]
        bounds = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
        sums = np.add.reduceat(m_s, bounds, axis=0)
        counts = np.add.reduceat(n_s, bounds)
        uniq = c[bounds]
        denom = np.maximum(counts, 1)
        mosaics = (sums // denom[:, None]).clip(0, 255).astype(np.uint8)
        yield pd.DataFrame(
            {
                "cell": uniq,
                "n_images": counts,
                "mosaic": [m.tobytes() for m in mosaics],
            }
        )

    return parts.repartition(F.col("cell")).mapInPandas(merge, _MOSAIC_SCHEMA)


_MOSAIC_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("pix_sum", T.BinaryType()),  # int64[32*32*3] LE
    ]
)

_MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("n_images", T.LongType()),
        T.StructField("mosaic", T.BinaryType()),  # uint8 (32, 32, 3)
    ]
)


def cell_mosaic(
    images: DataFrame,
    cell_col: str = "h3_r7",
    target_rows_per_salt: int = 2000,
) -> DataFrame:
    """Per-cell mean-thumbnail mosaic (raster<->vector tiling join, J7).

    This op must bring *all* of a cell's decoded tiles together, so the
    shuffle key is the cell — exactly where hot-cell skew bites (the
    fixture plants ~10% of all images in one cell). The explicit salt
    ``pmod(xxhash64(image_id), n_salt)`` (histogram-driven, §salt_map)
    splits hot cells across ``n_salt`` tasks; each task computes per-cell
    integer pixel-sum partials for its partition, and a second tiny
    ``groupBy(cell)`` merge adds the partials. Integer accumulation makes
    salted output byte-identical to unsalted (tested) — float means would
    not commute.
    """
    salts = salt_map(images, cell_col, target_rows_per_salt)
    imgs = (
        images.select("image_id", F.col(cell_col).alias("cell"), "bytes", "fmt")
        .join(F.broadcast(salts), "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_salt").isNotNull(),
                F.pmod(F.xxhash64("image_id"), F.col("n_salt")),
            ).otherwise(F.lit(0)),
        )
    )

    # one mapInPandas call per PARTITION (not per (cell, salt) group —
    # groupBy().applyInPandas pays one Python round-trip per group, the
    # dominant cost at ~15k tiny cells). repartition by (cell, salt)
    # still splits a hot cell across n_salt tasks; per-cell integer
    # partials within each partition commute, so output is
    # byte-identical. EXPLICIT partition count: an unnumbered
    # repartition(col) invites AQE's 64 MB-advisory coalescing to
    # squeeze this image-bytes exchange into a handful of fat
    # partitions and idle the cluster through the decode stage.
    n_parts = max(8 * images.sparkSession.sparkContext.defaultParallelism, 64)
    partials = (
        imgs.repartition(n_parts, F.col("cell"), F.col("salt"))
        .select("cell", "bytes", "fmt")
        .mapInPandas(_decode_partials, _MOSAIC_PARTIAL_SCHEMA)
    )

    return _merge_mosaic_partials(partials)


def cell_mosaic_mapcombine(
    images: DataFrame, cell_col: str = "h3_r7"
) -> DataFrame:
    """Map-side-combine mosaic: each input partition computes per-cell
    integer partial sums locally (``mapInPandas``), so the shuffle carries
    one ~25 KB partial per (cell x partition) instead of raw image bytes,
    and skew cannot form (partials are bounded by the partition's distinct
    cells). Byte-identical to :func:`cell_mosaic` (integer accumulation
    commutes); prefer this plan whenever per-partition distinct-cell
    counts are modest — the salted variant remains for adversarial layouts
    where a single *partition* would still hold too many distinct cells'
    worth of partials.
    """
    parts = images.select(
        F.col(cell_col).alias("cell"), "bytes", "fmt"
    ).mapInPandas(_decode_partials, _MOSAIC_PARTIAL_SCHEMA)

    return _merge_mosaic_partials(parts)


def _decode_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode a partition's images and emit per-cell integer thumb-sum
    partials (one row per distinct cell in the partition). Shared by the
    map-combine plan and the salted plan (which pre-partitions by
    (cell, salt) so a hot cell spans n_salt tasks)."""
    acc: dict[int, np.ndarray] = {}
    cnt: dict[int, int] = {}
    for pdf in batches:
        by_shape: dict[tuple, tuple[list, list]] = {}
        for cell, b, f in zip(pdf["cell"], pdf["bytes"], pdf["fmt"]):
            try:
                img = C.decode_image(bytes(b), f)
            except (ValueError, NotImplementedError):
                continue
            grp = by_shape.setdefault(img.shape, ([], []))
            grp[0].append(img)
            grp[1].append(int(cell))
        for shape, (imgs, cells) in by_shape.items():
            thumbs = C.resize_rgb_exact(np.stack(imgs), MOSAIC_SIZE).astype(
                np.int64
            )  # (n, 3, 32, 32)
            for t, cell in zip(thumbs, cells):
                if cell not in acc:
                    acc[cell] = np.zeros(
                        (MOSAIC_SIZE, MOSAIC_SIZE, 3), dtype=np.int64
                    )
                    cnt[cell] = 0
                acc[cell] += t.transpose(1, 2, 0)
                cnt[cell] += 1
    if acc:
        yield pd.DataFrame(
            {
                "cell": list(acc.keys()),
                "n": [cnt[c] for c in acc],
                "pix_sum": [acc[c].tobytes() for c in acc],
            }
        )
