"""Image codec invariants (SURVEY.md §5.4, north-rule PSNR gate)."""

import os

import numpy as np
import pandas as pd
import pytest

from gjspark.functions import codecs as C

rng = np.random.default_rng(42)
SIZES = [(16, 16), (24, 32), (96, 128), (17, 23)]


@pytest.mark.parametrize("fmt", ["ppm", "bmp", "png"])
def test_lossless_roundtrip(fmt):
    for h, w in SIZES:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec = C.decode_image(C.encode_image(img, fmt), fmt)
        assert dec.shape == img.shape
        assert (dec == img).all()


def test_dct_psnr_gate():
    for h, w in SIZES:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec = C.decode_image(C.encode_image(img, "dct"), "dct")
        assert C.psnr(img, dec) >= 40.0


def test_png_crc_detects_corruption():
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    data = bytearray(C.encode_image(img, "png"))
    data[40] ^= 0xFF
    with pytest.raises(ValueError):
        C.decode_png(bytes(data))


UNIT_IMAGES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures_data",
    "images_sf_unit.parquet",
)


def _unit_rows(per_fmt: int) -> pd.DataFrame:
    """The first ``per_fmt`` rows of each format in the unit image fixture."""
    d = pd.read_parquet(UNIT_IMAGES).sort_values("image_id")
    return d.groupby("fmt", sort=True).head(per_fmt)


@pytest.mark.parametrize("fmt", ["avif", "nope"])
def test_unknown_format_is_codec_error(fmt):
    with pytest.raises(C.CodecError):
        C.decode_image(b"\x00" * 16, fmt)


def test_corrupt_payloads_raise_only_codec_error():
    """Seeded fuzz over 15 rows x 7 formats of the unit fixture: each row
    truncated to 1/2 and 1/4, emptied, and 8 single-bit flips. A decode
    may succeed (a flip in pixel data) or raise ``CodecError``; anything
    else escapes the decode call sites and fails the whole task."""
    rows = _unit_rows(15)
    assert rows["fmt"].nunique() == 7 and len(rows) == 105
    flips = np.random.default_rng(0)
    escapes, failed, n = [], 0, 0
    for fmt, b in zip(rows["fmt"], rows["bytes"]):
        b = bytes(b)
        variants = [b[: len(b) // 2], b[: len(b) // 4], b""]
        for bit in flips.integers(0, len(b) * 8, size=8):
            m = bytearray(b)
            m[bit // 8] ^= 1 << (bit % 8)
            variants.append(bytes(m))
        for v in variants:
            n += 1
            try:
                C.decode_image(v, fmt)
            except C.CodecError:
                failed += 1
            except Exception as e:  # anything but CodecError is an escape
                escapes.append((fmt, type(e).__name__))
    assert n == 1155
    assert escapes == []
    assert failed >= 105 * 3  # every truncated and empty variant fails


def test_decoded_features_marks_truncated_rows_failed(spark):
    """Truncated PNG and DCT rows come out ``decode_ok = false``; the good
    rows of the same batch keep the pixel CRCs they get without them."""
    from pyspark.sql import functions as F

    from gjspark.operators.fused import decoded_features

    good = _unit_rows(2)
    bad = good[good["fmt"].isin(["png", "dct"])].copy()
    bad["bytes"] = [bytes(b)[: len(b) // 2] for b in bad["bytes"]]
    bad["image_id"] = "cut-" + bad["image_id"]

    def features(pdf: pd.DataFrame) -> pd.DataFrame:
        df = spark.createDataFrame(pdf.drop(columns=["lat", "lon"]))
        df = df.coalesce(1).withColumn("h3_r7", F.lit(0).cast("long"))
        out = decoded_features(df).select("image_id", "decode_ok", "pix_crc32")
        return out.toPandas().set_index("image_id").sort_index()

    alone = features(good)
    mixed = features(pd.concat([good, bad]))
    assert alone["decode_ok"].all()
    assert not mixed.loc[bad["image_id"], "decode_ok"].any()
    pd.testing.assert_frame_equal(mixed.loc[alone.index], alone)


def test_phash_stability_and_discrimination():
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    other = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    h1 = C.phash64(img)
    near = img.copy()
    near[0, 0] = 255 - near[0, 0]
    h2 = C.phash64(near)
    h3 = C.phash64(other)
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(h1, h2) <= 4
    assert ham(h1, h3) > 10


def test_phash_deterministic():
    img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    assert C.phash64(img) == C.phash64(img.copy())


class TestExactKernels:
    """The exact-integer resize/phash kernels must be bit-reproducible at
    ANY batch size (BLAS GEMM results depend on matrix size, so ordinary
    float batching would make values depend on partitioning)."""

    def test_thumb_matches_fraction_reference(self):
        from fractions import Fraction

        rng = np.random.default_rng(5)
        for (h, w) in [(16, 16), (24, 32), (13, 17)]:
            stack = rng.integers(0, 256, (2, h, w, 3), dtype=np.uint8)
            th = C.resize_rgb_exact(stack)
            Kh, Kw = C._rm_int(h), C._rm_int(w)
            for (a, b) in [(0, 0), (17, 5), (31, 31)]:
                for c in range(3):
                    t = sum(
                        int(Kh[a, y]) * int(Kw[b, x]) * int(stack[0, y, x, c])
                        for y in range(h)
                        for x in range(w)
                    )
                    exact = Fraction(t, h * w)
                    fl = exact.numerator // exact.denominator
                    rem = exact - fl
                    if rem > Fraction(1, 2):
                        r = fl + 1
                    elif rem < Fraction(1, 2):
                        r = fl
                    else:  # half-even
                        r = fl if fl % 2 == 0 else fl + 1
                    assert int(th[0, c, a, b]) == min(max(r, 0), 255)

    def test_thumb_batch_size_independent(self):
        rng = np.random.default_rng(6)
        big = rng.integers(0, 256, (300, 24, 48, 3), dtype=np.uint8)
        tb = C.resize_rgb_exact(big)
        for k in (1, 3, 100):
            assert np.array_equal(C.resize_rgb_exact(big[:k]), tb[:k])

    def test_phash_batch_size_independent(self):
        rng = np.random.default_rng(7)
        big = rng.integers(0, 256, (300, 24, 48, 3), dtype=np.uint8)
        pb = C.phash64_same_size(big)
        for k in (1, 3, 100):
            assert np.array_equal(C.phash64_same_size(big[:k]), pb[:k])

    def test_resize_numerators_integral_and_row_stochastic(self):
        for src in (13, 16, 24, 48, 128, 1333):
            K = C._rm_int(src)
            assert np.array_equal(K, np.rint(K))
            assert (K.sum(axis=1) == src).all()
            # K/src is exactly the row-stochastic block-mean matrix
            assert np.allclose(K / src, C._resize_matrix(src), atol=1e-12)

    def test_sandwich_bound_guard(self):
        big = np.full((1, 4096, 4096), 2.0**40)
        with pytest.raises(AssertionError, match="bound"):
            C._exact_sandwich(C._rm_int(4096), big, C._rm_int(4096))
