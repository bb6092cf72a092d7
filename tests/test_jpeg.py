"""Pure-numpy baseline JPEG codec (gjspark/functions/jpeg.py, ITU-T T.81).

No reference JPEG library exists in this container (PIL/cv2/imageio absent
— why the format was previously stubbed), so these tests pin what can be
verified from the spec alone: marker structure, canonical Huffman code
construction, round-trip PSNR >= 40 dB at the fixture quality, restart
markers, 4:2:0 decode, determinism, and strict error handling.
"""

import struct

import numpy as np
import pytest

from gjspark.functions import jpeg as J
from gjspark.functions.codecs import decode_image, encode_image, psnr


def _img(h, w, seed=1, sigma=25):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            128 + 90 * np.sin(xx / 9.0) * np.cos(yy / 13.0),
            128 + 80 * np.cos(xx / 17.0),
            128 + 70 * np.sin((xx + yy) / 11.0),
        ],
        axis=-1,
    )
    return np.clip(base + rng.normal(0, sigma / 5, (h, w, 3)), 0, 255).astype(np.uint8)


class TestStream:
    def test_marker_layout(self):
        b = J.encode_jpeg(_img(24, 32))
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
        # SOF0 present with the right dimensions
        i = b.find(b"\xff\xc0")
        assert i > 0
        prec, fh, fw, nc = struct.unpack_from(">BHHB", b, i + 4)
        assert (prec, fh, fw, nc) == (8, 24, 32, 3)
        # two DQT, four DHT, one SOS
        assert b.count(b"\xff\xdb") >= 2
        assert b.count(b"\xff\xc4") >= 4
        assert b"\xff\xda" in b

    def test_huffman_codes_are_canonical_prefix_free(self):
        for bits, vals in (
            (J._DC_LUMA_BITS, J._DC_LUMA_VALS),
            (J._AC_LUMA_BITS, J._AC_LUMA_VALS),
            (J._DC_CHROMA_BITS, J._DC_CHROMA_VALS),
            (J._AC_CHROMA_BITS, J._AC_CHROMA_VALS),
        ):
            assert sum(bits) == len(vals)
            codes = J._build_codes(bits, vals)
            seen = set()
            for sym, (code, length) in codes.items():
                assert code < (1 << length)
                pad = format(code, f"0{length}b")
                for p in seen:
                    assert not p.startswith(pad) and not pad.startswith(p)
                seen.add(pad)

    def test_decode_lut_agrees_with_codes(self):
        lut = J._build_decode_lut(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
        codes = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
        for sym, (code, length) in codes.items():
            peek = code << (16 - length)
            entry = int(lut[peek])
            assert entry >> 8 == sym and (entry & 0xFF) == length


class TestRoundTrip:
    @pytest.mark.parametrize("shape", [(16, 16), (24, 32), (48, 64), (77, 53), (128, 96)])
    def test_psnr_gate_at_fixture_quality(self, shape):
        img = _img(*shape)
        dec = J.decode_jpeg(J.encode_jpeg(img, 97))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert psnr(img, dec) >= 40.0

    def test_flat_images_near_lossless(self):
        for v in (0, 128, 255):
            img = np.full((24, 24, 3), v, np.uint8)
            dec = J.decode_jpeg(J.encode_jpeg(img, 97))
            assert psnr(img, dec) >= 40.0

    def test_deterministic(self):
        img = _img(48, 64, seed=7)
        assert J.encode_jpeg(img) == J.encode_jpeg(img)
        a = J.decode_jpeg(J.encode_jpeg(img))
        b = J.decode_jpeg(J.encode_jpeg(img))
        assert np.array_equal(a, b)

    def test_restart_markers_round_trip_identically(self):
        img = _img(48, 64, seed=3)
        plain = J.decode_jpeg(J.encode_jpeg(img, 97))
        with_rst = J.encode_jpeg(img, 97, restart_interval=2)
        assert b"\xff\xdd" in with_rst  # DRI emitted
        assert any(bytes([0xFF, 0xD0 + i]) in with_rst for i in range(8))
        assert np.array_equal(J.decode_jpeg(with_rst), plain)

    def test_420_subsampling_decodes_at_full_resolution(self):
        img = _img(40, 56, seed=5)
        blob = J.encode_jpeg(img, 97, subsampling="420")
        # SOF0 advertises 2x2 luma sampling
        i = blob.find(b"\xff\xc0")
        assert blob[i + 11] == 0x22
        dec = J.decode_jpeg(blob)
        assert dec.shape == img.shape
        # chroma is box-resampled; luma must still be accurate
        luma = lambda x: x.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        err = np.abs(luma(img) - luma(dec)).mean()
        assert err < 3.0

    def test_odd_dimensions(self):
        for shape in [(13, 17), (31, 16), (24, 33)]:
            img = _img(*shape, seed=shape[0])
            for ss in ("444", "420"):
                dec = J.decode_jpeg(J.encode_jpeg(img, 99, subsampling=ss))
                assert dec.shape == img.shape

    def test_batch_independence_is_structural(self):
        # decode is strictly per-image (fixed shapes for a given image),
        # so two decodes in different 'batch' contexts are trivially equal
        imgs = [_img(16, 16, s) for s in range(4)]
        blobs = [J.encode_jpeg(im) for im in imgs]
        solo = [J.decode_jpeg(b) for b in blobs]
        again = [J.decode_jpeg(b) for b in reversed(blobs)][::-1]
        for x, y in zip(solo, again):
            assert np.array_equal(x, y)


class TestErrors:
    def test_rejects_non_jpeg(self):
        with pytest.raises(ValueError):
            J.decode_jpeg(b"\x00\x01\x02")

    def test_rejects_progressive(self):
        b = bytearray(J.encode_jpeg(_img(16, 16)))
        i = bytes(b).find(b"\xff\xc0")
        b[i + 1] = 0xC2  # pretend SOF2 (progressive)
        with pytest.raises(ValueError, match="baseline"):
            J.decode_jpeg(bytes(b))

    def test_rejects_truncated_headers(self):
        b = J.encode_jpeg(_img(16, 16))
        with pytest.raises(Exception):
            J.decode_jpeg(b[:6])

    def test_malformed_input_always_raises_valueerror(self):
        """Every malformed/truncated stream must surface as ValueError —
        struct.error/IndexError/KeyError escaping decode_jpeg would abort
        a whole Arrow batch at the mapInPandas call sites, which catch
        only (NotImplementedError, ValueError)."""
        b = J.encode_jpeg(_img(16, 16))
        # truncations at every structural boundary: mid-marker-length
        # (struct.error), mid-segment and mid-entropy-data (IndexError)
        # (cutting only the trailing EOI marker is NOT malformed — the
        # entropy data is complete and decode legitimately succeeds)
        for cut in (3, 5, 20, 40, 100, len(b) // 2):
            with pytest.raises(ValueError):
                J.decode_jpeg(b[:cut])
        # missing DHT ids (KeyError in the raw parser)
        nodht = bytearray(b)
        i = bytes(nodht).find(b"\xff\xc4")
        nodht[i + 3] ^= 0x0F  # remap the first table to an unused id
        with pytest.raises(ValueError):
            J.decode_jpeg(bytes(nodht))
        # garbage body after a valid SOI
        with pytest.raises(ValueError):
            J.decode_jpeg(b"\xff\xd8\xff")
        with pytest.raises(ValueError):
            J.decode_jpeg(b"\xff\xd8" + b"\x00" * 64)


class TestDispatch:
    def test_registered_in_codec_dispatch(self):
        img = _img(24, 24, seed=9)
        blob = encode_image(img, "jpeg")
        assert blob[:2] == b"\xff\xd8"
        dec = decode_image(blob, "jpeg")
        assert psnr(img, dec) >= 40.0
        assert np.array_equal(decode_image(blob, "jpg"), dec)

    def test_no_longer_a_stub(self):
        img = _img(16, 16, seed=2)
        out = decode_image(encode_image(img, "jpeg"), "jpeg")
        assert out.shape == img.shape
