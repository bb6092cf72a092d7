"""Property-based tests (hypothesis) for the pure kernels — the
reference-semantics invariants that must hold for arbitrary inputs."""

import json
from decimal import ROUND_HALF_EVEN, Decimal

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gjspark.functions import codecs as C
from gjspark.functions import h3 as h3x
from gjspark.functions.crs import round_half_even
from gjspark.operators.template import render_template
from gjspark.operators.upsert import deep_merge

SETTINGS = dict(max_examples=50, deadline=None)

keys = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8
)
scalars = st.one_of(
    st.integers(-1000, 1000), st.booleans(), st.text(max_size=20), st.none()
)
props_dicts = st.dictionaries(keys, scalars, max_size=6)


class TestTemplateProperties:
    @given(props_dicts, keys)
    @settings(**SETTINGS)
    def test_missing_key_renders_default(self, props, key):
        if key in props:
            del props[key]
        assert render_template("{%s|DFLT}" % key, props) == "DFLT"

    @given(props_dicts)
    @settings(**SETTINGS)
    def test_rendered_never_contains_raw_quote_or_newline(self, props):
        tmpl = "".join("{%s}" % k for k in props)
        out = render_template(tmpl, props)
        # every '"' must be escaped; every newline encoded
        assert '"' not in out.replace('\\"', "")
        assert "\n" not in out

    @given(st.integers(-10**6, 10**6))
    @settings(**SETTINGS)
    def test_numbers_render_as_json(self, n):
        assert render_template("{k}", {"k": n}) == json.dumps(n)

    @given(props_dicts)
    @settings(**SETTINGS)
    def test_container_values_render_default(self, props):
        props["c"] = {"x": 1}
        props["l"] = [1, 2]
        assert render_template("{c|D}-{l|D}", props) == "D-D"


nested = st.recursive(
    st.dictionaries(keys, scalars, max_size=4),
    lambda children: st.dictionaries(keys, st.one_of(scalars, children), max_size=4),
    max_leaves=10,
)


class TestDeepMergeProperties:
    @given(nested)
    @settings(**SETTINGS)
    def test_merge_with_empty_is_identity(self, t):
        assert deep_merge(t, {}) == t

    @given(nested, nested)
    @settings(**SETTINGS)
    def test_idempotent(self, t, s):
        once = deep_merge(t, s)
        assert deep_merge(once, s) == once

    @given(nested, nested)
    @settings(**SETTINGS)
    def test_empty_values_never_overwrite(self, t, s):
        out = deep_merge(t, s)
        for k, v in s.items():
            if (v is None or v == "") and k in t:
                assert out[k] == t[k]


class TestRoundingProperties:
    @given(st.floats(-1e6, 1e6, allow_nan=False), st.integers(0, 6))
    @settings(**SETTINGS)
    def test_matches_decimal_half_even(self, x, scale):
        got = float(round_half_even(np.array([x]), scale)[0])
        exp = float(
            Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_EVEN)
        )
        # repr() round-trip can differ from binary float at the last ulp;
        # allow equality of the rounded binary values
        assert abs(got - exp) <= 10.0 ** (-scale) / 2 + 1e-12


class TestCellProperties:
    @given(
        st.floats(-84, 84, allow_nan=False),
        st.floats(-179, 179, allow_nan=False),
        st.integers(5, 12),
    )
    @settings(**SETTINGS)
    def test_center_roundtrip(self, lat, lng, res):
        c = h3x.latlng_to_cell(np.array([lat]), np.array([lng]), res)
        clat, clng = h3x.cell_to_latlng(c)
        assert h3x.latlng_to_cell(clat, clng, res)[0] == c[0]

    @given(
        st.floats(-84, 84, allow_nan=False),
        st.floats(-179, 179, allow_nan=False),
        st.integers(1, 3),
    )
    @settings(**SETTINGS)
    def test_kring_size(self, lat, lng, k):
        c = h3x.latlng_to_cell(np.array([lat]), np.array([lng]), 7)
        kr = h3x.grid_disk(c, k)
        assert kr.shape[1] == 1 + 3 * k * (k + 1)
        assert len(np.unique(kr[0])) == kr.shape[1]


class TestCodecProperties:
    @given(
        st.integers(4, 40),
        st.integers(4, 40),
        st.integers(0, 2**32 - 1),
        st.sampled_from(["ppm", "bmp", "png"]),
    )
    @settings(max_examples=30, deadline=None)
    def test_lossless_roundtrip(self, h, w, seed, fmt):
        img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (C.decode_image(C.encode_image(img, fmt), fmt) == img).all()

    @given(st.integers(8, 48), st.integers(8, 48), st.integers(0, 2**32 - 1))
    @settings(max_examples=20, deadline=None)
    def test_dct_psnr(self, h, w, seed):
        img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec = C.decode_image(C.encode_image(img, "dct"), "dct")
        assert C.psnr(img, dec) >= 40.0


def _palettized(img: np.ndarray) -> np.ndarray:
    """GIF input: at most 256 colors (5 levels per channel)."""
    return (img // 52 * 52).astype(np.uint8)


@st.composite
def mutated_payloads(draw):
    """(fmt, a valid encoded image with one mutation applied): cut short,
    bits flipped, a byte run overwritten, bytes inserted, or emptied."""
    fmt = draw(st.sampled_from(sorted(C._ENCODERS)))
    h, w = draw(st.integers(1, 24)), draw(st.integers(1, 24))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    data = bytearray(C.encode_image(_palettized(img) if fmt == "gif" else img, fmt))
    n = len(data)
    kind = draw(st.sampled_from(["cut", "flip", "overwrite", "insert", "empty"]))
    if kind == "cut":
        data = data[: draw(st.integers(0, n - 1))]
    elif kind == "flip":
        for bit in draw(st.lists(st.integers(0, 8 * n - 1), min_size=1, max_size=8)):
            data[bit // 8] ^= 1 << (bit % 8)
    elif kind == "overwrite":
        at = draw(st.integers(0, n - 1))
        junk = draw(st.binary(min_size=1, max_size=16))
        data[at : at + len(junk)] = junk
    elif kind == "insert":
        at = draw(st.integers(0, n))
        data[at:at] = draw(st.binary(min_size=1, max_size=16))
    else:
        data = bytearray()
    return fmt, bytes(data)


class TestCodecFuzzProperties:
    """Mutated payloads of every encoder's format decode or raise
    ``CodecError``, nothing else: the decode call sites catch only that.
    Seeded (``derandomize``), so every run draws the same examples; the
    deterministic fuzz in ``tests/test_codecs.py`` covers the fixture rows."""

    @given(mutated_payloads())
    @settings(max_examples=300, deadline=None, derandomize=True, database=None)
    def test_mutated_payload_raises_only_codec_error(self, case):
        fmt, data = case
        try:
            out = C.decode_image(data, fmt)
        except C.CodecError:
            return
        assert isinstance(out, np.ndarray)
