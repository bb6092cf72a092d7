"""Fused single-decode image pipeline.

At 100 TB the dominant cost of the raster suite is decoding the corpus;
running decode-stats, tile rollup and mosaic as separate queries decodes
it 3-4x. :func:`decoded_features` performs ONE ``mapInPandas`` decode
pass per image emitting everything downstream needs:

- verification stats (crc32 of pixels, recomputed phash, mean luma,
  dims check);
- per-image tile statistics (exact integer sums over 16x16 pixel
  tiles), which :func:`rollup_from_features` aggregates per cell;
- a per-image rounded uint8 thumbnail (the mosaic partial unit; rounding
  once per image is what makes any grouping of the subsequent integer
  sums byte-identical — see :func:`mosaic_from_features`). Stored LOSSLESSLY
  COMPRESSED (horizontal-delta filter + zlib, the PNG Sub-filter idea
  without the framing): the 3 KB raw thumb was both the 2M-row persisted
  frame's memory cliff and the mosaic exchange's dominant bytes
  (BENCH/SCALING_2M.md bottlenecks 1+2). Compression is exactly
  invertible, so every mosaic byte is unchanged. On the synthetic
  gradient corpus the ratio is ~20x; real photographic thumbs compress
  less (~1.5-3x) — the mechanism, not the ratio, is what transfers.

Downstream, :func:`rollup_from_features` and :func:`mosaic_from_features`
are pure aggregations over the features frame: persist the features once
and the whole suite decodes the corpus once. The shuffles carry only
stat rows / compressed thumbs — never encoded image bytes.

Reference analogue: none (the importer re-reads features per operation,
GeoJsonFeatureList.java); this is the Spark-first redesign the scale
demands.
"""

from __future__ import annotations

import logging
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gjspark.functions import codecs as C

_log = logging.getLogger(__name__)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("cell", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash_stored", T.LongType()),
        T.StructField("phash_decoded", T.LongType()),
        T.StructField("pix_crc32", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("dims_ok", T.BooleanType()),
        T.StructField("n_tiles_img", T.LongType()),
        T.StructField("luma_wsum", T.DoubleType()),
        T.StructField("px", T.LongType()),
        T.StructField("min_tm", T.DoubleType()),
        T.StructField("max_tm", T.DoubleType()),
        T.StructField("thumb", T.BinaryType()),
    ]
)

_LUMA = np.array([0.299, 0.587, 0.114])

TILE = 16  # pixels per tile edge

MOSAIC_SIZE = 32  # thumb edge; fixed by codecs.block_mean_numerators_cf


def _compress_thumbs(th_hwc: np.ndarray) -> list[bytes]:
    """(n, 32, 32, 3) uint8 -> per-row zlib blobs after a horizontal-delta
    (PNG Sub) filter. The filter is computed for the whole batch in one
    numpy pass; only the per-row deflate stays in Python. Level 1: the
    delta stream is mostly zeros/small values, higher levels buy ~10%
    for 1.5x the CPU."""
    d = th_hwc.astype(np.int16)
    d[:, :, 1:, :] -= th_hwc[:, :, :-1, :].astype(np.int16)
    flat = (d & 0xFF).astype(np.uint8).reshape(len(d), -1)
    return [zlib.compress(r.tobytes(), 1) for r in flat]


def _decompress_thumbs(blobs) -> np.ndarray:
    """Inverse of :func:`_compress_thumbs` -> (n, 3072) uint8. One joined
    buffer (no per-row array objects) and a uint8 prefix sum along the
    width axis — unsigned overflow IS the mod-256 un-filter, with 8x less
    memory traffic than an int64 accumulate."""
    raw = b"".join(zlib.decompress(bytes(b)) for b in blobs)
    f = np.frombuffer(raw, dtype=np.uint8).reshape(
        -1, MOSAIC_SIZE, MOSAIC_SIZE, 3
    )
    return np.cumsum(f, axis=2, dtype=np.uint8).reshape(len(f), -1)


def decoded_features(
    images: DataFrame, cell_col: str = "h3_r7"
) -> DataFrame:
    """One decode pass -> per-image stats + tile stats + mosaic thumb.

    Runs map-side on the scan partitioning (balanced by row count, so
    cell skew cannot touch the Python stage). Failed decodes emit a row
    with ``decode_ok = false`` and null thumb so callers can count them.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            crc = np.zeros(n, dtype=np.int64)
            mean = np.zeros(n, dtype=np.float64)
            ok = np.zeros(n, dtype=bool)
            dims_ok = np.zeros(n, dtype=bool)
            ph_dec = np.zeros(n, dtype=np.int64)
            n_tiles = np.zeros(n, dtype=np.int64)
            luma_wsum = np.zeros(n, dtype=np.float64)
            px = np.zeros(n, dtype=np.int64)
            min_tm = np.zeros(n, dtype=np.float64)
            max_tm = np.zeros(n, dtype=np.float64)
            thumbs: list[bytes | None] = [None] * n
            imgs: list[np.ndarray | None] = [None] * n
            for k, (b, f, w0, h0) in enumerate(
                zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
            ):
                try:
                    img = C.decode_image(b, f)
                except C.CodecError:
                    continue
                imgs[k] = img
                crc[k] = zlib.crc32(img.tobytes()) & 0x7FFFFFFF
                ok[k] = True
                dims_ok[k] = img.shape[0] == h0 and img.shape[1] == w0
            good = [k for k in range(n) if imgs[k] is not None]
            # shape-batched tile stats (tests/test_spatial.py checks them
            # against a per-image reduceat reference),
            # exact mosaic thumbs, and the phash — ONE exact block-mean
            # GEMM pass feeds both the thumbs and (by linearity of the
            # resize) the phash luma stage. All per-pixel math is exact
            # integer arithmetic (reduceat tile sums, integer-GEMM
            # numerators), so results are bit-identical at any batch size /
            # partitioning / image size — no float32-vs-float64 cliff.
            # Chunked: cap the float64 working set at ~8M elements (64 MB)
            # per chunk so 32 workers stay within a few GB total while
            # BLAS still gets big matmuls.
            by_shape: dict[tuple, list[int]] = {}
            for k in good:
                by_shape.setdefault(imgs[k].shape, []).append(k)
            chunked = []
            for (h, w, _c), idxs in by_shape.items():
                step = max(1, 8_000_000 // (h * w * 3))
                for i0 in range(0, len(idxs), step):
                    chunked.append(((h, w, _c), idxs[i0 : i0 + step]))
            for (h, w, _c), idxs in chunked:
                ia = np.array(idxs)
                stack = np.stack([imgs[k] for k in idxs])  # (n, h, w, 3) u8
                # ONE channel-first float64 cast feeds every exact GEMM
                # kernel: thumbs, phash, tile sums, channel sums
                xf = C.to_chanfirst_f64(stack)  # (n, 3, h, w)
                # mean luma from exact integer channel sums. The weighted
                # sum is spelled out: BLAS rounds a one-row product (dot)
                # differently from a many-row one (gemv), which made the
                # value depend on how many same-shape images shared the
                # batch
                csum = xf.reshape(len(idxs) * 3, -1).sum(axis=1).reshape(-1, 3)
                mean[ia] = (
                    csum[:, 0] * _LUMA[0] + csum[:, 1] * _LUMA[1] + csum[:, 2] * _LUMA[2]
                ) / float(h * w)
                # exact integer tile sums as a float64 GEMM sandwich with
                # 0/1 tile-aggregation matrices — identical integers to a
                # reduceat at ANY image size, ~5x faster single-thread
                cs_f = xf.sum(axis=1)  # (n, h, w) exact ints <= 765
                s = C.exact_row_col_sandwich(
                    cs_f, C.tile_sum_matrix(h, TILE), C.tile_sum_matrix(w, TILE)
                )  # (n, gy, gx)
                ys = np.arange(0, h, TILE)
                xs = np.arange(0, w, TILE)
                gy, gx = len(ys), len(xs)
                areas = 3.0 * np.outer(
                    np.minimum(ys + TILE, h) - ys, np.minimum(xs + TILE, w) - xs
                )
                means = s / areas[None, :, :]
                n_tiles[ia] = gy * gx
                luma_wsum[ia] = s.sum(axis=(1, 2)) / 3.0
                px[ia] = h * w
                min_tm[ia] = means.min(axis=(1, 2))
                max_tm[ia] = means.max(axis=(1, 2))
                t = C.block_mean_numerators_cf(xf)  # (n, 3, 32, 32) exact
                ph_dec[ia] = C.phash_from_numerators(t, h, w)
                np.divide(t, float(h * w), out=t)
                np.rint(t, out=t)
                np.clip(t, 0, 255, out=t)
                th_hwc = np.ascontiguousarray(
                    t.astype(np.uint8).transpose(0, 2, 3, 1)
                )
                for j, k in enumerate(_compress_thumbs(th_hwc)):
                    thumbs[idxs[j]] = k
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "cell": pdf["cell"],
                    "w": pdf["w"],
                    "h": pdf["h"],
                    "fmt": pdf["fmt"],
                    "caption": pdf["caption"],
                    "phash_stored": pdf["phash"],
                    "phash_decoded": ph_dec,
                    "pix_crc32": crc,
                    "mean_luma": mean,
                    "decode_ok": ok,
                    "dims_ok": dims_ok,
                    "n_tiles_img": n_tiles,
                    "luma_wsum": luma_wsum,
                    "px": px,
                    "min_tm": min_tm,
                    "max_tm": max_tm,
                    "thumb": thumbs,
                }
            )

    from gjspark.operators.partitioning import spread_degenerate_scan

    cols = images.select(
        "image_id",
        F.col(cell_col).alias("cell"),
        "bytes",
        "fmt",
        "w",
        "h",
        "caption",
        "phash",
    )
    # r6: a 1-2-split corpus (e.g. the 50k-image e2e fixture in one
    # parquet file) would run the whole decode on 1-2 cores; no-op for
    # real tables and for the bench's pre-repartitioned frames
    return spread_degenerate_scan(cols).mapInPandas(run, FEATURES_SCHEMA)


def rollup_from_features(feat: DataFrame) -> DataFrame:
    """Per-cell tile statistics over an already-decoded features frame.

    -> (cell, n_images, n_tiles, mean_tile_luma, phash_xor, min_tile_mean,
    max_tile_mean) over the ``decode_ok`` rows. Every column is a
    commutative monoid, so the only shuffle carries tiny partial-aggregated
    stat rows and hot cells cannot skew it. ``phash_xor`` is an
    order-independent per-cell checksum of the stored phashes (null when
    every one is null, as SQL ``bit_xor`` is)."""
    return (
        feat.filter(F.col("decode_ok"))
        .groupBy("cell")
        .agg(
            F.countDistinct("image_id").alias("n_images"),
            F.sum("n_tiles_img").alias("n_tiles"),
            (F.sum("luma_wsum") / F.sum("px")).alias("mean_tile_luma"),
            F.bit_xor("phash_stored").alias("phash_xor"),
            F.min("min_tm").alias("min_tile_mean"),
            F.max("max_tm").alias("max_tile_mean"),
        )
    )


def _cell_sums(
    cells: np.ndarray, n: np.ndarray, mat: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Group rows by cell: one stable sort, then ``reduceat`` at the cell
    boundaries. -> (distinct cells, summed ``n``, summed ``mat`` rows as
    int64). Summing with ``dtype=np.int64`` never upcasts a whole uint8
    thumb matrix; integer sums commute, so any grouping of the same rows
    gives the same bytes."""
    order = np.argsort(cells, kind="stable")
    c = cells[order]
    bounds = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
    return (
        c[bounds],
        np.add.reduceat(n[order], bounds),
        np.add.reduceat(mat[order], bounds, axis=0, dtype=np.int64),
    )


def _mosaic_rows(
    cells: np.ndarray, counts: np.ndarray, sums: np.ndarray
) -> pd.DataFrame:
    """Per-cell pixel sums -> mosaic rows (floor mean of uint8 thumbs,
    so it stays in 0..255)."""
    mosaics = (sums // counts[:, None]).astype(np.uint8)
    return pd.DataFrame(
        {"cell": cells, "n_images": counts, "mosaic": [m.tobytes() for m in mosaics]}
    )


def _thumb_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(cell, thumb) batches -> (cells, (n, 3072) uint8 thumbs) of the
    decoded rows."""
    for pdf in batches:
        mask = pdf["thumb"].notna()
        if mask.any():
            yield (
                pdf.loc[mask, "cell"].to_numpy(dtype=np.int64),
                _decompress_thumbs(pdf.loc[mask, "thumb"]),
            )


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


def mosaic_from_features(
    feat: DataFrame,
    combine: bool | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Per-cell mean-thumbnail mosaic from pre-decoded thumbs.

    Two plans, byte-identical (integer sums commute; tested against an
    independent per-image numpy mosaic):

    - ``combine=False`` (direct): shuffle the losslessly-compressed
      thumbs by cell, one vectorized merge per partition. A map-side
      partial is 25 KB of raw int64 sums, so with compressed thumbs
      (~0.15 KB on this synthetic corpus, ~1-2 KB for photographic
      content) combining only *reduces* shuffle volume when a partition
      holds >~15-150 rows per distinct cell — below that it amplifies
      the exchange. Hot cells co-locate in one merge task, bounded by
      corpus share x compressed size.
    - ``combine=True``: map-side partial sums per (cell x partition),
      then the tiny merge. Wins at 10^12 scale with res-7 cells, where
      rows per (cell x partition) is large and a hot cell would
      otherwise flood one task.
    - ``combine=None`` (default): decide from a cheap count +
      approx_count_distinct probe, and log the choice. Pass ``probe``
      (any frame with the same ``cell`` distribution, e.g. the PRE-decode
      images frame) when ``feat`` is unpersisted — probing ``feat``
      itself would run the whole decode ``mapInPandas`` a second time
      just to count rows.

    The choice uses *average* rows per (cell x partition), so a single
    hot cell in an otherwise sparse corpus takes the direct plan and
    meets in one merge task.
    """
    n_rows = None
    if combine is None:
        src = probe if probe is not None else feat
        row = src.agg(
            F.count("*").alias("n"), F.approx_count_distinct("cell").alias("c")
        ).first()
        nparts = max(feat.rdd.getNumPartitions(), 1)
        n_rows = row["n"]
        # break-even = partial_bytes / compressed_thumb_bytes, which is
        # corpus-dependent (~15 photographic .. ~150 synthetic); 64 is the
        # geometric middle. Both plans are byte-identical, so a wrong
        # choice costs shuffle time, never correctness.
        combine = row["n"] / max(row["c"], 1) / nparts > 64.0
        _log.info(
            "mosaic_from_features plan=%s rows=%d approx_cells=%d partitions=%d",
            "combine" if combine else "direct", n_rows, row["c"], nparts,
        )
    if not combine:
        def direct(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = list(_thumb_batches(batches))
            if parts:
                cells = np.concatenate([c for c, _ in parts])
                mat = np.concatenate([m for _, m in parts])
                ones = np.ones(len(cells), np.int64)
                yield _mosaic_rows(*_cell_sums(cells, ones, mat))

        # EXPLICIT partition count: an unnumbered repartition(col) is fair
        # game for AQE's 64 MB-advisory coalescing, which squeezes this
        # corpus-sized thumb exchange into a handful of fat partitions and
        # idles most of the cluster in the Python merge stage (measured
        # 2-5x slower). 8 partitions per core keeps merge tasks small and
        # straggler-resistant at any cluster size — but scale it DOWN when
        # the row count (known from the combine probe) says the corpus is
        # small: 256 near-empty Python merge tasks for 20k thumbs is pure
        # scheduling overhead (guide §2: scale-adaptive partitioning, not
        # a constant tuned to one layout). Output is byte-identical at any
        # partitioning (per-cell integer sums; equality pytest-asserted).
        par = feat.sparkSession.sparkContext.defaultParallelism
        n_parts = max(8 * par, 64)
        if n_rows is not None:
            # ~800 rows per merge task: a 20k-row corpus gets 1 partition
            # per core (256 near-empty tasks measured ~1.9 s vs ~1.0 s),
            # while >=200k rows keeps the straggler-resistant 8-per-core
            # density the r5 A/B validated (an earlier n/2000 divisor cut
            # 200k rows to 101 partitions and cost ~25%)
            n_parts = min(n_parts, max(par, 1 + n_rows // 800))
        return (
            feat.select("cell", "thumb")
            .repartition(n_parts, F.col("cell"))
            .mapInPandas(direct, _MOSAIC_SCHEMA)
        )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per batch, then across the task's batches
        per_batch = [
            _cell_sums(c, np.ones(len(c), np.int64), m)
            for c, m in _thumb_batches(batches)
        ]
        if per_batch:
            cells, n, sums = _cell_sums(*(np.concatenate(x) for x in zip(*per_batch)))
            yield pd.DataFrame(
                {"cell": cells, "n": n, "pix_sum": [r.tobytes() for r in sums]}
            )

    # Merge: hash-repartition by cell so each cell's partials co-locate,
    # then ONE vectorized call per partition. A groupBy(cell).applyInPandas
    # here would cost one Python call per cell (~40k calls at sf0.1).
    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in batches if len(pdf)]
        if pdfs:
            pdf = pd.concat(pdfs)
            sums = np.frombuffer(
                b"".join(bytes(b) for b in pdf["pix_sum"]), dtype=np.int64
            ).reshape(len(pdf), -1)
            yield _mosaic_rows(
                *_cell_sums(
                    pdf["cell"].to_numpy(dtype=np.int64),
                    pdf["n"].to_numpy(dtype=np.int64),
                    sums,
                )
            )

    return (
        feat.select("cell", "thumb")
        .mapInPandas(partials, _MOSAIC_PARTIAL_SCHEMA)
        .repartition(F.col("cell"))
        .mapInPandas(merge, _MOSAIC_SCHEMA)
    )
