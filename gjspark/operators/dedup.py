"""Deduplication operators for training-data pipelines (graft-cell
requirement; not present in the reference, which never dedups whole
documents — its nearest analogues are the validators' exists-checks,
SURVEY.md §2.7).

- exact_dedup           hash-groupBy on md5(text) (md5 so the DuckDB
                        oracle can reproduce it bit-for-bit)
- minhash_lsh_pairs     shingle -> 64-perm MinHash -> banded LSH buckets
                        -> candidate pairs -> exact-Jaccard verify
- simhash_pairs         64-bit SimHash -> 4-band blocking -> Hamming<=d
- embedding_near_dup    cosine >= threshold pairs via normalized-dot
                        (see also operators/ann.py for top-k)

Scale notes: every stage is a shuffle on a *bucket key* (band hash /
band slice), never an O(n^2) cross join; candidate verification joins
text/embedding back by id (broadcast when small, shuffle otherwise). At
10^12 rows the band tables are the only shuffles and they carry ids +
64-bit keys only.
"""

from __future__ import annotations

import logging
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gjspark.operators.ann import row_cosine
from gjspark.session import broadcast_threshold

_log = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """-> one row per distinct text: (text_md5, keeper_id, n_dups)."""
    return (
        df.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_md5"),
            F.col(id_col),
        )
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_TOKEN_RE = re.compile(r"\W+", re.UNICODE)


_POLY_BASE = np.uint64(1099511628211)  # FNV-ish odd multiplier


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-gram (character shingle) hashes of the normalized text.

    Vectorized polynomial hash: sliding windows over the UTF-8 bytes
    matmul'd against base powers in uint64 wraparound arithmetic — no
    per-gram Python calls."""
    norm = _TOKEN_RE.sub(" ", text.lower()).strip()
    if len(norm) < k:
        norm = norm.ljust(k, "_")
    data = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
    kk = min(k, len(data))
    win = np.lib.stride_tricks.sliding_window_view(data, kk).astype(np.uint64)
    powers = np.empty(kk, dtype=np.uint64)
    powers[0] = np.uint64(1)
    with np.errstate(over="ignore"):
        for i in range(1, kk):
            powers[i] = powers[i - 1] * _POLY_BASE  # wraps mod 2^64
        h = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(h)


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.uint64)
    return a, b


def minhash_signature_udf(n_hashes: int = 64, shingle_k: int = 5):
    a, b = _minhash_params(n_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        # shingle per doc (regex + UTF-8 are inherently per-string), then
        # run the (perm x shingle) min-hash arithmetic over ALL docs'
        # shingles at once, segmented back per doc with minimum.reduceat —
        # one numpy dispatch per ~4M-element slab instead of 64 array ops
        # per document. Identical uint64 arithmetic, bit-exact SQL twin.
        shs = [_shingle_hashes(t or "", shingle_k) for t in text]
        n = len(shs)
        if n == 0:
            return pd.Series([])
        lens = np.array([len(s) for s in shs], dtype=np.int64)
        starts = np.r_[0, np.cumsum(lens)]
        allsh = np.concatenate(shs) if starts[-1] else np.zeros(0, np.uint64)
        out = np.empty((n, n_hashes), dtype=np.uint64)
        chunk_tokens = max(1, 4_000_000 // n_hashes)
        d0 = 0
        with np.errstate(over="ignore"):
            while d0 < n:
                d1 = d0 + 1
                while d1 < n and starts[d1 + 1] - starts[d0] < chunk_tokens:
                    d1 += 1
                lo, hi = starts[d0], starts[d1]
                vals = (
                    a[:, None] * allsh[None, lo:hi] + b[:, None]
                ) % np.uint64(_MERSENNE)  # (perm, tokens)
                out[d0:d1] = np.minimum.reduceat(
                    vals, (starts[d0:d1] - lo).astype(np.int64), axis=1
                ).T
                d0 = d1
        return pd.Series(list(out.astype(np.int64)))

    return _sig


def shingle_set_udf(shingle_k: int = 5):
    """text -> sorted distinct shingle hashes (int64 view of the uint64
    polynomial hashes). Each document is shingled ONCE; candidate verify
    then intersects the precomputed sorted arrays instead of re-hashing
    the text per pair — a doc in k candidate pairs was previously
    shingled k times (the dominant cost once bands yield many
    moderately-similar candidates)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _s(text: pd.Series) -> pd.Series:
        return pd.Series(
            [_shingle_hashes(t or "", shingle_k).view(np.int64) for t in text]
        )

    return _s


def _jaccard(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Exact Jaccard of each row pair of sorted distinct-hash arrays."""
    out = np.empty(len(a))
    for i, (x, y) in enumerate(zip(a, b)):
        xa = np.asarray(x, dtype=np.int64)
        ya = np.asarray(y, dtype=np.int64)
        inter = np.intersect1d(xa, ya, assume_unique=True).size
        out[i] = inter / max(xa.size + ya.size - inter, 1)
    return out


def _verify_pairs(
    cand: DataFrame, values: DataFrame, score, name: str, threshold: float
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs -> ``(id_a, id_b, name)`` for the
    pairs whose ``score`` of their two ``values`` rows ``(id, v)`` is
    >= ``threshold``, rounded to 6 places.

    Both values join back by id, then ONE ``mapInPandas`` scores each
    batch and yields only the survivors: the threshold is applied in the
    same pass as the kernel, so only surviving rows cross back over Arrow,
    and no filter on a Python output is left for Catalyst to copy below
    the kernel."""
    id_type = cand.schema["id_a"].dataType
    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField(name, T.DoubleType()),
    ])
    pairs = cand.join(
        values.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(values.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            s = score(pdf["va"], pdf["vb"])
            # ~(s < t), not s >= t: a NaN score passes, as under a Spark
            # `>=` filter (Spark orders NaN above every number)
            keep = ~(s < threshold)
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                name: s[keep],
            })

    return pairs.select("id_a", "id_b", "va", "vb").mapInPandas(run, schema).select(
        "id_a", "id_b", F.round(name, 6).alias(name)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
    min_band_collisions: int = 2,
) -> DataFrame:
    """-> (id_a, id_b, jaccard) for near-duplicate pairs.

    Two docs become candidates iff they collide in >=
    ``min_band_collisions`` of ``bands`` bands (rows-per-band =
    n_hashes/bands); candidates get an exact shingle-set Jaccard
    verification. Output = all candidate pairs passing the threshold,
    id_a < id_b.

    The band-collision COUNT is the signature-estimate prefilter that
    kills the mid-similarity candidate flood (VERDICT r4 "what's wrong"
    #2) without exchanging a single extra byte: P(one band collides) =
    J^r, so with r=4, b=32 a boilerplate pair at J~=0.25 collides twice
    with probability ~0.7% while a true near-dup at J=0.6 does with
    ~93% (>=99.9% at J>=0.7) — the count is computed by the SAME
    groupBy that previously deduplicated candidate pairs. At the r4
    profile (192k candidates, ~85% mid-sim boilerplate) this cuts the
    shingle-array verify join — the one identified 100 TB cost center —
    by ~10-30x. n_hashes=128 (vs 64) sharpens both tails ~sqrt(2) for
    2x signature compute, which profiling shows is map-side and cheap
    relative to the verify exchange it removes.

    Scale shape: the banded exchange carries ONLY (id, band_no,
    band_slice = rows_per_band longs) — never the text — so the 32x
    explode shuffles ~50 bytes/row, not the corpus. Shingle arrays join
    back by id for the (much smaller) verified-candidate set only. The
    band key is the raw signature slice rather than a hash of it:
    collisions are then exactly signature-slice equality, which makes
    the operator reproducible in the DuckDB oracle (see
    ``__spark_entry__``).
    """
    from gjspark.operators.partitioning import spread_degenerate_scan

    rows_per_band = n_hashes // bands
    # degenerate-split guard: serializing the signature/shingle UDFs and
    # the band join on 1-2 scan splits is the failure mode the
    # partitioning module documents; no-op at scale
    df = spread_degenerate_scan(df)
    # NOT materialized: an A/B at sf1.0 (min of interleaved runs) read
    # 14.1s recompute-both-sides vs 22.1s localCheckpoint (RDD-backed
    # frames lose size statistics, demoting the verify joins from
    # broadcast to sort-merge) vs 15.0s persist — the duplicated
    # signature pass is cheaper than what materialization costs here.
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(n_hashes, shingle_k)(F.col(text_col)).alias("sig"),
    )
    band_structs = [
        F.struct(
            F.lit(bnd).alias("bno"),
            F.slice("sig", bnd * rows_per_band + 1, rows_per_band).alias("bslice"),
        )
        for bnd in range(bands)
    ]
    banded = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", F.col("b.bno").alias("bno"), F.col("b.bslice").alias("bslice"))
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, on=["bno", "bslice"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
        )
        # each band contributes at most one row per pair, so count(*) IS
        # the number of colliding bands — the free Jaccard estimate
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__nb"))
        .filter(F.col("__nb") >= int(min_band_collisions))
        .drop("__nb")
    )
    # verify: shingle each doc ONCE into a sorted distinct-hash array,
    # join the arrays back by id, intersect per candidate pair
    sets = df.select(
        F.col(id_col).alias("id"),
        shingle_set_udf(shingle_k)(F.col(text_col)).alias("v"),
    )
    return _verify_pairs(cand, sets, _jaccard, "jaccard", jaccard_threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_udf():
    _bitpos = np.arange(64, dtype=np.uint64)

    @pandas_udf(T.LongType())
    def _sh(text: pd.Series) -> pd.Series:
        import hashlib

        # batch-level vocabulary: each distinct token is md5-hashed ONCE
        # per Arrow batch (corpus vocabularies are far smaller than token
        # streams), and the digests land in one contiguous buffer — same
        # md5-lower-64 semantics, so the DuckDB SQL twin stays bit-exact
        tok_lists = [
            [tok for tok in _TOKEN_RE.split((t or "").lower()) if tok]
            for t in text
        ]
        vocab: dict[str, int] = {}
        for toks in tok_lists:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        out = np.zeros(len(text), dtype=np.int64)
        if not vocab:
            return pd.Series(out)
        digests = b"".join(
            hashlib.md5(tok.encode()).digest()[8:16] for tok in vocab
        )
        hs_vocab = np.frombuffer(digests, dtype="<u8")
        lens = np.array([len(d) for d in tok_lists], dtype=np.int64)
        ids = np.fromiter(
            (vocab[t] for doc in tok_lists for t in doc),
            dtype=np.int64,
            count=int(lens.sum()),
        )
        starts = np.r_[0, np.cumsum(lens)]
        ne = np.nonzero(lens > 0)[0]
        # chunk the (tokens x 64) bit matrix to ~16 MB per slab
        chunk = 250_000
        d0 = 0
        while d0 < len(ne):
            d1 = d0 + 1
            while d1 < len(ne) and starts[ne[d1] + 1] - starts[ne[d0]] < chunk:
                d1 += 1
            sel = ne[d0:d1]
            lo, hi = starts[sel[0]], starts[sel[-1] + 1]
            bits = (
                (hs_vocab[ids[lo:hi]][:, None] >> _bitpos[None, :]) & np.uint64(1)
            ).astype(np.int8)
            ones = np.add.reduceat(bits, (starts[sel] - lo).astype(np.int64), axis=0)
            votes = 2 * ones.astype(np.int64) - lens[sel, None]
            setbits = (votes > 0).astype(np.uint64)
            out[sel] = (setbits << _bitpos[None, :]).sum(axis=1, dtype=np.uint64).view(
                np.int64
            )
            d0 = d1
        return pd.Series(out)

    return _sh


def _banded_hamming_pairs(
    hashes: DataFrame, n_bands: int, max_hamming: int
) -> DataFrame:
    """``(id, h)`` 64-bit hashes -> ``(id_a, id_b, hamming)``, id_a < id_b,
    for the pairs with ``bit_count(h_a XOR h_b) <= max_hamming`` that agree
    on at least one of ``n_bands`` equal-width bands — every such pair
    when ``max_hamming < n_bands`` (pigeonhole).

    The bands are exploded and self-joined on ``(band, val)``; only
    (band, val, id, hash) rows are shuffled, never an all-pairs join. The
    Hamming filter runs inside the join stage (a pure function of the
    pair, so filtering first cannot change the surviving set), and a pair
    that collides in several bands is emitted only from its lowest
    matching band — band j matches iff chunk j of h_a XOR h_b is zero,
    computable from the row itself — so each pair appears exactly once
    with no ``dropDuplicates`` exchange (at Hamming 10 on sf1.0 simhash
    emits 22.3M pairs from 43.9M band collisions).
    """
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("h", b * width).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for b in range(n_bands)
    ])
    exploded = hashes.select("id", "h", F.explode(bands).alias("b")).select(
        "id", "h", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    left = exploded.select(
        "band", "val", F.col("id").alias("id_a"), F.col("h").alias("h_a")
    )
    right = exploded.select(
        "band", "val", F.col("id").alias("id_b"), F.col("h").alias("h_b")
    )
    x = F.col("h_a").bitwiseXOR(F.col("h_b"))
    chunk_differs = [
        F.shiftrightunsigned(x, width * j).bitwiseAND(F.lit(mask)) != 0
        for j in range(n_bands - 1)
    ]
    lower_differ = F.when(F.col("band") == 0, F.lit(True))
    acc = F.lit(True)
    for j in range(1, n_bands):
        acc = acc & chunk_differs[j - 1]
        lower_differ = lower_differ.when(F.col("band") == j, acc)
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(lower_differ.otherwise(F.lit(False)))
        .select("id_a", "id_b", F.bit_count(x).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """-> (id_a, id_b, hamming) pairs with Hamming distance <= max_hamming.

    4-band blocking: any pair within Hamming<=3 shares at least one exact
    16-bit band (pigeonhole), so the band equi-join finds all of them;
    ``bit_count(a XOR b)`` verifies JVM-side.
    """
    from gjspark.operators.partitioning import spread_degenerate_scan

    # degenerate-split guard: because the banded self-join broadcasts one
    # side, the probe side's 1-2 scan splits flow straight through
    # UDF -> explode -> join — the ~88M-row band-join emission at sf1.0
    # ran on two cores (measured 17.5 s; ~4 s spread). No-op at scale.
    df = spread_degenerate_scan(df)
    # NOT materialized: the banded self-join does evaluate the simhash UDF
    # on both sides, but an interleaved A/B at sf1.0 read none 8.54s /
    # localCheckpoint 8.81s / persist 8.57s (min of 3) — the duplicated
    # pass is as cheap as materializing, and keeping the Catalyst subtree
    # preserves size statistics for the join planner. Empty text hashes
    # to 0, so the coalesce only makes ``h`` non-nullable: the band join
    # then infers no isnotnull that would evaluate the UDF again below
    # the degenerate-split repartition.
    sh = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(simhash_udf()(F.col(text_col)), F.lit(0)).alias("h"),
    )
    return _banded_hamming_pairs(sh, 4, max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 128,
    bands: int = 16,
) -> DataFrame:
    """-> (id_a, id_b, cosine) pairs with cosine >= threshold.

    Random-hyperplane LSH blocking, then exact cosine verify on the
    candidate set. Per plane P(sides agree) = 1 - theta/pi, so with
    ``bands`` bands of ``n_planes/bands`` planes a pair at cosine c is
    missed with probability (1 - p^r)^bands, p = 1 - arccos(c)/pi.
    Defaults (128 planes, 16 bands of 8): at c=0.95 the miss rate is
    ~2e-3 per pair; at the c>=0.99 regime of true near-dup embeddings
    it is <1e-8, while a random orthogonal pair collides on a band with
    prob ~0.4% (x16 bands) — the filter that makes 10^12-scale feasible.
    Tune bands up for recall, planes-per-band up for selectivity.

    Scale shape: the banded exchange carries ONLY (id, band_no, 8-bit
    band value); full vectors join back by id for verified candidates —
    never ride the 16x explode.
    """
    rng = np.random.default_rng(42)
    dim_row = df.select(F.size(vec_col)).first()
    dim = dim_row[0]
    planes = rng.normal(size=(n_planes, dim))
    per = n_planes // bands
    weights = 1 << np.arange(per, dtype=np.int64)

    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def band_rows(batches):
        # the exploded (id, bno, bval) rows straight out of the kernel:
        # no array column for Catalyst to guard with size > 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = ((m @ planes.T) > 0).astype(np.int64)  # (n, n_planes)
            vals = (
                bits.reshape(len(m), bands, per) * weights[None, None, :]
            ).sum(axis=2).astype(np.int32)  # (n, bands)
            yield pd.DataFrame({
                "id": np.repeat(pdf["id"].to_numpy(), bands),
                "bno": np.tile(np.arange(bands, dtype=np.int32), len(m)),
                "bval": vals.ravel(),
            })

    banded = vecs.mapInPandas(band_rows, T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("bno", T.IntegerType(), False),
        T.StructField("bval", T.IntegerType(), False),
    ]))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, on=["bno", "bval"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, vecs, row_cosine, "cosine", threshold)


def _min_labels(ends: pa.ChunkedArray) -> tuple[pa.Array, pa.Array]:
    """Edge endpoints (every ``u``, then every ``v``) -> ``(nodes,
    component)``: every node with the minimum node of its component,
    nodes in sorted order.

    Nodes are ranked in sorted order, so the minimum rank is the minimum
    id: integers by ``np.unique``, other types by Arrow, which sorts
    strings and binaries by their bytes (Spark's order) without a Python
    object per id. Each round hooks every tree root onto the smallest
    label across its edges (``np.minimum.at``), then jumps pointers
    until every node points at a root. A label is always a node of the
    same component and never larger than the node, so when every edge
    joins equal labels each component points at its minimum; every tree
    not yet whole merges each round, so rounds are O(log n).
    """
    if pa.types.is_integer(ends.type):
        nodes, a = np.unique(ends.to_numpy(), return_inverse=True)
        nodes = pa.array(nodes)
    else:
        nodes = pc.unique(ends)
        nodes = nodes.take(pc.sort_indices(nodes))
        a = pc.index_in(ends, value_set=nodes).to_numpy()
    m = len(a) // 2
    b = np.concatenate([a[m:], a[:m]])
    label = np.arange(len(nodes))
    while True:
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            return nodes, nodes.take(label)
        np.minimum.at(label, la, lb)
        while not np.array_equal(jumped := label[label], label):
            label = jumped


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Edge list -> ``(id, component)``: every node mapped to the minimum
    id reachable from it. The clustering step every near-dup pipeline
    needs after pair-finding (minhash/simhash/phash emit PAIRS; keeping
    one document per duplicate GROUP requires the transitive closure —
    A~B, B~C puts A,C in one cluster even though the pair finder never
    compared them).

    The first action counts the distinct edges and, in the same
    aggregation, their bytes (count x 2 x the id type's width; the
    summed id lengths for string and binary ids). Then one of two paths:

    - **local**, when those bytes fit
      ``spark.sql.autoBroadcastJoinThreshold`` (the bound PIP uses), or
      there are no edges: the checkpointed edges are collected in one
      job and labelled on the driver by :func:`_min_labels`, and the
      result is built from an Arrow table (no Python worker). At
      benchmark scale each star round costs a few jobs' fixed overhead
      for a few KB of edges, so one collect replaces about twenty jobs.
      The byte bound is the only switch because under the session's
      64 MB default the local path was faster for every edge set tried
      (``tools/cc_crossover.py``, ``dedup_clusters`` on ``local[4]``,
      clusters of 4 nodes), by the edge bytes the switch reads: long
      ids 0.8 vs 3.3 s at 11 KB, 11 vs 18 s at 11 MB, 29 vs 33 s at
      32 MB and 14 vs 61 s at 64 MB; string ids 0.9 vs 3.4 s at 26 KB
      and 11 vs 39 s at 53 MB. The margin is smallest at about two
      million result rows: under
      ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
      the Arrow table as a local relation, whose rows every scan
      serializes into its tasks.
    - **star**, above the bound or when the threshold is negative:
      alternating large-star / small-star (Kiveris et al., "Connected
      Components in MapReduce and Beyond", SoCC'14) — the published
      O(log^2 n)-round MapReduce formulation, here as pure DataFrame
      ops:

      - large-star: for each node u with neighborhood G(u), attach
        every neighbor v > u to m = min(G(u) + {u});
      - small-star: orient edges (larger -> smaller); attach every
        neighbor and u itself to the minimum of the oriented
        neighborhood.

      Each half-round is ONE groupBy-min plus ONE equi-join on the node
      id — never an all-pairs product — and edge count only shrinks
      toward the star fixpoint, so at 10^12 rows every shuffle is
      bounded by the current edge set. Convergence is detected by an
      order-independent signature (count + xor of xxhash64(u,v));
      lineage is cut per round with ``localCheckpoint`` (swap for
      ``checkpoint`` on a reliable FS when running multi-executor —
      driver note in plans/job.py applies).

    The chosen path goes to ``logging`` with the edge count, bytes and
    threshold. Both paths return the same rows and schema.

    Nodes that appear only in self-pairs (u==u) or with a null id are
    dropped with those degenerate edges; singleton nodes never appear in
    ``pairs`` at all, so the output covers exactly the nodes with >=1
    real neighbor.
    """
    E = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    id_type = E.schema["u"].dataType

    def _sig(e: DataFrame, *extra):
        # order-independent, overflow-free (xor) fingerprint of the edge set
        return tuple(e.agg(
            F.count("*"),
            F.expr("bit_xor(xxhash64(cast(u as string), cast(v as string)))"),
            *extra,
        ).first())

    if isinstance(id_type, (T.StringType, T.BinaryType)):
        edge_bytes = F.sum(F.octet_length("u") + F.octet_length("v"))
    else:
        width = E._jdf.schema().apply("u").dataType().defaultSize()
        edge_bytes = F.count("*") * (2 * width)
    E = E.localCheckpoint(eager=False)  # materialized by the _sig action
    n, h, n_bytes = _sig(E, edge_bytes)
    n_bytes = n_bytes or 0
    limit = broadcast_threshold(E.sparkSession)
    local = n == 0 or n_bytes <= limit
    _log.info(
        "connected_components path=%s edges=%d bytes=%d threshold=%d",
        "local" if local else "star", n, n_bytes, limit,
    )
    if local:
        edges = E.toArrow()
        u, v = edges.column("u"), edges.column("v")
        ids, comps = _min_labels(pa.chunked_array(u.chunks + v.chunks, u.type))
        # an Arrow table, not a list: a list goes through the RDD API and
        # starts Python workers; an empty pandas frame falls back to it.
        # One partition (the rows are within the broadcast bound): a
        # consumer grouping by component, as dedup_clusters does, then
        # plans no exchange, which is one job fewer.
        return E.sparkSession.createDataFrame(
            pa.table({"id": ids, "component": comps}),
            T.StructType([
                T.StructField("id", id_type),
                T.StructField("component", id_type),
            ]),
        ).coalesce(1)
    prev = (n, h)
    for _ in range(max_iter):
        # large-star: symmetrize, m(u) = min over G(u)+{u}, attach v>u to m
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        # r6: no .distinct() here — duplicate (u, v) rows are harmless to
        # the small-star groupBy-min and join below, and the round's final
        # distinct dedups anyway; dropping it removes one exchange per
        # round (the round-count-x-exchange product is what CC's wall
        # clock is made of at moderate edge counts).
        ls = (
            sym.join(mins, "u")
            .withColumn("m", F.least(F.col("u"), F.col("mn")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: edges out of large-star already point larger->smaller
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        E = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            # lazy: the _sig action right below materializes the
            # checkpoint — eager=True would run a second, separate job
            # over the same round (two actions per round -> one)
            .localCheckpoint(eager=False)
        )
        cur = _sig(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixpoint = disjoint stars centered at each component's min id
    comp = E.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = comp.select("component").distinct().select(
        F.col("component").alias("id"), F.col("component")
    )
    return comp.union(roots)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs -> ``(id, cluster_id, cluster_size)``; cluster_id =
    min member id (the keeper a dedup pipeline retains)."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        "id",
        F.col("component").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def phash_neardup_pairs(
    df: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 7,
    n_bands: int = 8,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: 64-bit phash -> ``n_bands``
    byte bands -> pigeonhole blocking -> Hamming <= ``max_hamming``.

    The image-side sibling of :func:`simhash_pairs` (the LAION-style
    corpus dedup an image training pipeline runs after decode). By the
    pigeonhole principle, recall is exact for
    ``max_hamming < n_bands``: a pair within the threshold must agree on
    at least one band, so the banded self-join finds every qualifying
    pair while only ever shuffling (band_idx, band_value, id, phash)
    rows — never an all-pairs join. Verification is a pure-Column
    ``bit_count`` on the joined hashes; no Python stage anywhere.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole recall needs max_hamming < n_bands")
    hashes = df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("h"))
    return _banded_hamming_pairs(hashes, n_bands, max_hamming)
