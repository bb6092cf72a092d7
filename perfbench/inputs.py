"""Seeded inputs. The engine only ever sees the files named here.

- An image sample: seeded rows, in seeded order, of the committed
  7-format corpus ``fixtures_data/images_sf_e2e.parquet``, stratified by
  format and pixel count, written to one parquet file in the run's
  scratch directory.
- Contract tables: the seven tables the ten contract queries read
  (lineitem, orders, customer, nation, events, documents, embeddings),
  a verbatim copy of the repo's fixed sf0.01 test tables kept under
  ``perfbench/tables/sf0.01``. They are fixed, so their DuckDB oracle
  digests are committed; the run's seed sets the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import ROOT

FIXTURES = os.path.join(ROOT, "fixtures_data")
CORPUS = os.path.join(FIXTURES, "images_sf_e2e.parquet")
FEATURES = os.path.join(FIXTURES, "features_nuts.geojson")

CONTRACT_SF = "sf0.01"
CONTRACT_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", CONTRACT_SF)


def image_sample(seed: int, n: int, path: str) -> pa.Table:
    """Write ``n`` seeded corpus rows, in seeded order, to ``path``.

    The sample is stratified so every seed asks for the same work: each
    format gets an equal share of the rows, and within a format the rows
    sorted by pixel count are cut into equal strata with one seeded row
    drawn from each. Decode cost follows format and pixel count, so a
    plain random draw would move ``wall_s`` with the seed."""
    corpus = pq.read_table(CORPUS)
    meta = corpus.select(["fmt", "w", "h"]).to_pandas()
    pixels = (meta["w"] * meta["h"]).to_numpy()
    rng = np.random.default_rng(seed)
    fmts = sorted(meta["fmt"].unique())
    idx = []
    for i, fmt in enumerate(fmts):
        k = n // len(fmts) + (i < n % len(fmts))
        rows = np.flatnonzero(meta["fmt"].to_numpy() == fmt)
        rows = rows[np.argsort(pixels[rows], kind="stable")]
        idx.extend(int(rng.choice(stratum)) for stratum in np.array_split(rows, k))
    sample = corpus.take(pa.array(rng.permutation(idx)))
    pq.write_table(sample, path)
    return sample


def contract_tables() -> list[str]:
    """Names of the fixed contract tables under ``CONTRACT_TABLES``."""
    return sorted(f[: -len(".parquet")] for f in os.listdir(CONTRACT_TABLES)
                  if f.endswith(".parquet"))
