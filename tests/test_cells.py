"""Invariant tests for the S2 and H3-style cell kernels (SURVEY.md §5.3)."""

import numpy as np
import pytest

from gjspark.functions import h3 as h3x, s2

rng = np.random.default_rng(42)
LAT = rng.uniform(-85, 85, 5000)
LNG = rng.uniform(-180, 180, 5000)


class TestS2:
    def test_center_roundtrip(self):
        for level in (10, 16, 20):
            c = s2.s2_cell(LAT, LNG, level)
            clat, clng = s2.s2_cell_center(c, level)
            assert (s2.s2_cell(clat, clng, level) == c).all()

    def test_parent_containment(self):
        c16 = s2.s2_cell(LAT, LNG, 16)
        c10 = s2.s2_cell(LAT, LNG, 10)
        assert (s2.s2_parent(c16, 10) == c10).all()

    def test_level_recovery(self):
        for level in (8, 16, 24):
            c = s2.s2_cell(LAT, LNG, level)
            assert (s2.s2_cell_level(c) == level).all()

    def test_nearby_points_share_cells_far_points_dont(self):
        c = s2.s2_cell(np.array([50.0, 50.0000001, 51.0]), np.array([8.0, 8.0000001, 9.0]), 12)
        assert c[0] == c[1] and c[0] != c[2]

    def test_face_cell_ids_match_spec(self):
        # spec-derivable vectors: the level-0 ancestor of a point at each
        # cube-face center is the published face cell id
        # (face << 61) | (1 << 60); face layout 0:+x 1:+y 2:+z 3:-x 4:-y 5:-z
        pts = [
            (0.0, 0.0, 0x1000000000000000),     # face 0 (+x)
            (0.0, 90.0, 0x3000000000000000),    # face 1 (+y)
            (90.0, 0.0, 0x5000000000000000),    # face 2 (+z / north pole)
            (0.0, 180.0, 0x7000000000000000),   # face 3 (-x)
            (0.0, -90.0, 0x9000000000000000),   # face 4 (-y)
            (-90.0, 0.0, 0xB000000000000000),   # face 5 (-z / south pole)
        ]
        for lat, lng, expected in pts:
            c = s2.s2_cell(np.array([lat]), np.array([lng]), 16)
            parent0 = np.uint64(s2.s2_parent(c, 1)[0]) & ~np.uint64(
                (1 << 61) - 1
            ) | np.uint64(1 << 60)
            assert int(parent0) == expected

    def test_curve_is_continuous(self):
        # consecutive curve positions must be edge-adjacent cells (the
        # defining property of the canonical S2 space-filling curve)
        level = 6
        for face in range(6):
            n = 1 << (2 * level)
            pos = np.arange(n, dtype=np.uint64)
            i, j = s2._hilbert_to_ij(np.full(n, face), pos, level)
            di = np.abs(np.diff(i.astype(np.int64)))
            dj = np.abs(np.diff(j.astype(np.int64)))
            assert ((di + dj) == 1).all()
            # and the inverse reproduces the positions
            back = s2._ij_to_hilbert(np.full(n, face), i, j, level)
            assert (back == pos).all()

    def test_curve_matches_published_level1_order(self):
        # kPosToIJ row 0 (canonical orientation, even faces): children in
        # curve order sit at (i,j) = (0,0), (0,1), (1,1), (1,0)
        i, j = s2._hilbert_to_ij(np.zeros(4, dtype=np.int64),
                                 np.arange(4, dtype=np.uint64), 1)
        assert list(zip(i.tolist(), j.tolist())) == [(0, 0), (0, 1), (1, 1), (1, 0)]
        # odd faces start axis-swapped (row 1): (0,0), (1,0), (1,1), (0,1)
        i, j = s2._hilbert_to_ij(np.ones(4, dtype=np.int64),
                                 np.arange(4, dtype=np.uint64), 1)
        assert list(zip(i.tolist(), j.tolist())) == [(0, 0), (1, 0), (1, 1), (0, 1)]


class TestH3X:
    def test_center_roundtrip(self):
        for res in (7, 9, 12):
            c = h3x.latlng_to_cell(LAT, LNG, res)
            clat, clng = h3x.cell_to_latlng(c)
            assert (h3x.latlng_to_cell(clat, clng, res) == c).all()

    def test_hierarchy_mostly_nested(self):
        # aperture-7 hierarchies are not perfectly nested: each outer
        # child pokes outside its parent (the documented H3
        # childToParent caveat), putting ~7% of random points in the
        # wobble band where truncation-ancestor != direct coarse encode.
        # The exact invariant (child CENTER is inside the parent) is
        # tested in test_h3_canonical.py.
        c12 = h3x.latlng_to_cell(LAT, LNG, 12)
        c7 = h3x.latlng_to_cell(LAT, LNG, 7)
        agree = (h3x.cell_to_parent(c12, 7) == c7).mean()
        assert agree > 0.85

    def test_kring_sizes(self):
        c = h3x.latlng_to_cell(LAT[:50], LNG[:50], 8)
        for k in (1, 2, 3):
            kr = h3x.grid_disk(c, k)
            assert kr.shape == (50, 1 + 3 * k * (k + 1))
            assert (kr[:, 0] == c).all()
            # all distinct per row
            assert all(len(np.unique(row)) == kr.shape[1] for row in kr)

    def test_neighbor_symmetry(self):
        c = h3x.latlng_to_cell(LAT[:100], LNG[:100], 7)
        kr = h3x.grid_disk(c, 1)
        for row in range(100):
            for nb in kr[row, 1:]:
                assert c[row] in h3x.grid_disk(np.array([nb]), 1)[0]

    def test_resolution_recovery(self):
        for res in (7, 10, 12):
            assert (h3x.get_resolution(h3x.latlng_to_cell(LAT, LNG, res)) == res).all()

    def test_res_monotone_cell_size(self):
        prev = None
        for res in range(7, 13):
            n = len(np.unique(h3x.latlng_to_cell(LAT, LNG, res)))
            if prev is not None:
                assert n >= prev
            prev = n

    def test_out_of_range_res(self):
        with pytest.raises(ValueError):
            h3x.latlng_to_cell(LAT[:1], LNG[:1], 16)
