"""Approximate-nearest-neighbor search over an embedding column
(graft-cell requirement).

- brute_force_topk: exact cosine top-k. The index side is broadcast as a
  normalized numpy matrix; queries stream through ``mapInPandas`` doing
  one BLAS matmul per Arrow batch. Correct baseline + DuckDB-oracle
  checkable. Fine whenever the *index* fits an executor (~10M x 128 dims
  = 5 GB); the scan side can be arbitrarily large.
- ivf_topk: the scale path — k-means-style coarse quantizer (trained on a
  driver sample), vectors assigned to their nearest ``n_list`` centroid
  (one shuffle on the centroid key), queries probe ``n_probe`` nearest
  lists only. Recall is tested against the brute-force baseline.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def row_cosine(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Cosine of each row pair of two equal-length series of vectors."""
    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    num = (ma * mb).sum(axis=1)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return num / np.maximum(den, 1e-30)


def _collect_normalized(index: DataFrame, id_col: str, vec_col: str):
    # Arrow path (toPandas) instead of row-based collect(): the index pull
    # is driver-side either way, but Arrow moves the list<float> column as
    # one columnar buffer (~3x faster at 20k x 64)
    pdf = index.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    return ids, mat


def brute_force_topk(
    queries: DataFrame,
    index: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """-> (vec_id, neighbor_id, cosine): exact top-k by cosine, ties broken
    by neighbor_id asc (deterministic)."""
    index = index if index is not None else queries
    spark = queries.sparkSession
    ids, mat = _collect_normalized(index, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, mat))

    from gjspark.operators.partitioning import spread_degenerate_scan

    # degenerate-split guard: a single-split scan serializes the
    # (n_queries x n_index) BLAS matmul on one core — measured 18-49 s
    # for 20k x 20k x 64 at sf1.0 vs ~1-4 s spread. No-op at scale;
    # per-row results are independent of partitioning.
    queries = spread_degenerate_scan(queries.select(id_col, vec_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iids, imat = bc.value
        # chunk the similarity matrix: a whole-batch (10k x n_index)
        # float64 sims plus its argpartition scratch peaks at hundreds of
        # MB PER WORKER — 32 concurrent workers first-touching ~13 GB
        # measured as a 15-50 s kernel-side allocation storm (489 CPU-s
        # for a 25 CPU-s matmul) on a memory-pressured box. 2M sims
        # elements (~100 rows at a 20k index) per slice keeps the
        # transient ~32 MB/worker with BLAS still saturated; per-row
        # results are unchanged. Alternated fresh-session A/B at 20k x
        # 20k x 64: first-run 6.9-7.6 s (8M slab) -> 4.9-5.3 s (2M),
        # steady identical 1.2-1.6 s either way — the smaller slab only
        # shrinks the first-touch storm.
        chunk = max(1, 2_000_000 // max(len(iids), 1))
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
            qids_all = pdf[id_col].to_numpy()
            out = []
            for lo in range(0, len(q), chunk):
                hi = min(lo + chunk, len(q))
                sims = q[lo:hi] @ imat.T  # (chunk, n_index) BLAS
                qids = qids_all[lo:hi]
                n = hi - lo
                if exclude_self:
                    self_pos = np.searchsorted(iids, qids)
                    in_range = (self_pos < len(iids)) & (
                        iids[np.clip(self_pos, 0, len(iids) - 1)] == qids
                    )
                    sims[np.nonzero(in_range)[0], self_pos[in_range]] = -np.inf
                kk = min(k, sims.shape[1])
                # argpartition (ascending, top-k at the tail — avoids a
                # full negated copy) then exact sort of the k candidates
                part = np.argpartition(sims, sims.shape[1] - kk, axis=1)[:, -kk:]
                rows = np.repeat(np.arange(n), kk)
                cand_s = sims[rows, part.ravel()].reshape(n, kk)
                # order by (-cosine, neighbor_id) for deterministic ties
                ord_idx = np.lexsort((iids[part], -cand_s), axis=1)
                part_sorted = np.take_along_axis(part, ord_idx, axis=1)
                s_sorted = np.take_along_axis(cand_s, ord_idx, axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": np.repeat(qids, kk),
                            "neighbor_id": iids[part_sorted.ravel()],
                            "cosine": np.round(s_sorted.ravel(), 6),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if len(out) > 1 else out[0]

    return queries.mapInPandas(run, _TOPK_SCHEMA)


def train_centroids(
    index: DataFrame,
    n_list: int = 16,
    vec_col: str = "embedding",
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Lloyd k-means on a driver-side sample (the IVF coarse quantizer).

    The sample is a deterministic hash filter (``pmod(xxhash64(vec), den)
    == 0``) rather than ``limit()`` (first-partitions-biased) or
    ``df.sample`` (partition-layout-dependent): the chosen rows — and
    hence the trained centroids — are a pure function of the data,
    identical across cluster sizes and file-split decisions. Collected
    rows are sorted by hash so k-means init is order-independent too."""
    cnt = index.count()
    den = max(1, cnt // sample)
    rows = (
        index.select(F.xxhash64(vec_col).alias("__h"), F.col(vec_col).alias("v"))
        .filter(F.pmod(F.col("__h"), F.lit(den)) == 0)
        .orderBy("__h")
        .collect()
    )
    x = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_list, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-30)
    return cent


def ivf_topk(
    queries: DataFrame,
    index: DataFrame | None = None,
    k: int = 10,
    n_list: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: index vectors partitioned by nearest centroid; each query
    probes its ``n_probe`` closest lists. One equi-join shuffle on the
    list id; candidate scoring stays vectorized. Approximate — recall vs
    brute force is asserted in tests.

    ``n_list=None`` auto-scales to ~sqrt(n) (clamped to [4, 4096]) from a
    cheap count, so the default stays balanced from 10^3 to 10^12 index
    rows instead of pinning 16 lists; pass an explicit value to pin the
    partitioning (the contract golden uses ``n_list=16``).
    """
    index = index if index is not None else queries
    spark = queries.sparkSession
    if n_list is None:
        n_list = int(np.clip(int(np.sqrt(index.count())), 4, 4096))
    cent = train_centroids(index, n_list=n_list, vec_col=vec_col)
    bc = spark.sparkContext.broadcast(cent)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.IntegerType())
    def _assign(vec: pd.Series) -> pd.Series:
        c = bc.value
        m = np.stack(vec.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _probes(vec: pd.Series) -> pd.Series:
        c = bc.value
        m = np.stack(vec.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = m @ c.T
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    # argmax always yields a list id: the coalesce only makes list_id
    # non-nullable, so the join infers no isnotnull that would evaluate
    # _assign a second time below it
    idx = index.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("list_id", F.coalesce(_assign(F.col("nvec")), F.lit(-1)))
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn("list_id", F.explode(_probes(F.col("qvec"))))

    cand = q.join(idx, "list_id").filter(F.col("qid") != F.col("nid"))

    @pandas_udf(T.DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(row_cosine(a, b))

    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        cand.withColumn("cosine", F.round(_cos(F.col("qvec"), F.col("nvec")), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
        )
    )
