"""Output checks against the repo's own oracles.

- Image outputs are compared with the committed goldens in
  ``fixtures_data/`` (``expected_cells``, ``expected_pip``,
  ``expected_knn``, ``expected_images``), filtered to the sample.
- Near-duplicate phash pairs are compared with a brute-force all-pairs
  Hamming count over the same decoded hashes.
- Contract queries are compared with ``oracle_sql()`` run in DuckDB over
  the same tables, by ``tools/verify_contract.py``'s canonical hash.

Every check returns True when the output matches.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import FIXTURES

CELL_COLS = ["h3_r7", "h3_r8", "h3_r9", "h3_r10", "h3_r11", "h3_r12", "s2_cell"]


def _pairs(df: pd.DataFrame, cols: list[str]) -> set[tuple]:
    return set(df[cols].itertuples(index=False, name=None))


class ImageGoldens:
    """The committed goldens, restricted to one sample's image ids."""

    def __init__(self, image_ids) -> None:
        ids = list(image_ids)

        def load(name: str) -> pd.DataFrame:
            df = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet")).to_pandas()
            return df[df["image_id"].isin(ids)]

        self.ids = set(ids)
        self.cells = load("expected_cells")
        self.pip = _pairs(load("expected_pip"), ["image_id", "feature_id"])
        self.knn = _pairs(load("expected_knn"), ["image_id", "nearest_location_id"])
        self.images = _pairs(load("expected_images"), ["image_id", "pix_crc32"])
        self.cell_counts = self.cells["h3_r7"].value_counts().to_dict()

    def check_cells(self, df: pd.DataFrame) -> bool:
        cols = ["image_id", *CELL_COLS]
        return len(df) == len(self.ids) and _pairs(df, cols) == _pairs(self.cells, cols)

    def check_pip(self, df: pd.DataFrame) -> bool:
        return len(df) == len(self.pip) and _pairs(df, ["image_id", "feature_id"]) == self.pip

    def check_knn(self, df: pd.DataFrame) -> bool:
        got = _pairs(df, ["image_id", "nearest_location_id"])
        return len(df) == len(self.knn) and got == self.knn

    def check_decode(self, df: pd.DataFrame) -> bool:
        ok = df[df["decode_ok"]]
        return len(ok) == len(self.ids) and _pairs(ok, ["image_id", "pix_crc32"]) == self.images

    def check_rollup(self, df: pd.DataFrame) -> bool:
        got = dict(zip(df["cell"].astype("int64"), df["n_images"].astype("int64")))
        return got == self.cell_counts

    def check_mosaic(self, df: pd.DataFrame) -> bool:
        return set(df["cell"].astype("int64")) == set(self.cell_counts)


def phash_pairs_oracle(decoded: pd.DataFrame, max_hamming: int = 7) -> set[tuple]:
    """Brute-force near-dup pairs over exact-phash classes, as the
    operators workload builds them: one representative (min id) per
    distinct decoded phash, then every pair within ``max_hamming``."""
    ok = decoded[decoded["decode_ok"]]
    reps = ok.groupby("phash_decoded")["image_id"].min()
    h = reps.index.to_numpy(dtype=np.int64).view(np.uint64)
    ids = reps.to_numpy()
    x = h[:, None] ^ h[None, :]
    dist = np.zeros(x.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        dist += _POPCOUNT8[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
    i, j = np.nonzero(np.triu(dist <= max_hamming, k=1))
    return {tuple(sorted((ids[a], ids[b]))) for a, b in zip(i, j)}


_POPCOUNT8 = np.array([bin(v).count("1") for v in range(256)], dtype=np.int64)


def check_phash_pairs(pairs: pd.DataFrame, decoded: pd.DataFrame) -> bool:
    got = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    return len(got) == len(pairs) and got == phash_pairs_oracle(decoded)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-independent hash of a frame's rows and column names."""
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "contract_oracle.json")


def contract_digests(table_dir: str, tables: list[str], names) -> dict:
    """Run ``oracle_sql()`` in DuckDB over the tables; -> per query the
    row count, sorted column names and canonical hash."""
    import duckdb

    import __spark_entry__ as E
    from tools.verify_contract import canon

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(table_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
        sql = E.oracle_sql()
        out = {}
        for name in names:
            odf = con.execute(sql[name]).df()
            out[name] = {"rows": len(odf), "columns": sorted(odf.columns), "canon": canon(odf)}
        return out
    finally:
        con.close()


class ContractOracle:
    """The DuckDB oracle digests for the fixed contract tables.

    Two of the ten oracles (the minhash and simhash-closure SQL twins)
    are slow in DuckDB, so the digests are computed once by
    ``python3 perfbench/oracles.py`` and committed next to this file;
    ``test_perfbench.py`` recomputes and compares them."""

    def __init__(self) -> None:
        from tools.verify_contract import canon

        self._canon = canon
        with open(DIGESTS) as f:
            self.expected = json.load(f)["queries"]

    def check(self, name: str, got: pd.DataFrame) -> bool:
        exp = self.expected[name]
        return (
            len(got) == exp["rows"]
            and sorted(got.columns) == exp["columns"]
            and self._canon(got) == exp["canon"]
        )


def write_digests() -> None:
    """Regenerate ``contract_oracle.json`` from the fixed tables."""
    from inputs import CONTRACT_SF, CONTRACT_TABLES, contract_tables
    from workloads import CONTRACT_QUERIES

    digests = contract_digests(CONTRACT_TABLES, contract_tables(), CONTRACT_QUERIES)
    with open(DIGESTS, "w") as f:
        json.dump({"tables": CONTRACT_SF, "queries": digests}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    write_digests()
