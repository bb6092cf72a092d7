"""Deterministic sampling / split assignment for training-data
pipelines (graft-cell requirement; no reference analogue).

Training corpora need membership decisions that are (a) reproducible
run-over-run and machine-over-machine, (b) stable under repartitioning
and corpus growth (a doc's split never changes when other docs arrive),
and (c) computable without any global pass. ``rand()``/``df.sample``
give none of that — they reseed per task attempt and shift with
partitioning. The standard answer is HASH-based membership: a doc
belongs to the 5% sample iff h(id) < 0.05 * 2^64, to 'val' iff its hash
bucket lands in the val range. Pure Column expressions, embarrassingly
parallel, no shuffle at all — the predicate pushes into the scan.

The hash is the md5-hex-prefix integer (same primitive as
operators/sketches.py) so every decision has a bit-exact DuckDB twin;
``salt`` namespaces independent draws (sampling twice with different
salts gives independent subsets; re-running with the same salt gives
the identical subset).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gjspark.functions.hashing import md5_prefix32, md5_prefix32_sql

_HASH_BITS = 32
_HASH_SPACE = 1 << _HASH_BITS


def _hash32(col: Column, salt: str) -> Column:
    """Deterministic 32-bit hash of (salt || ':' || value)."""
    return md5_prefix32(F.concat(F.lit(salt), F.lit(":"), col.cast("string")))


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    salt: str = "sample",
) -> DataFrame:
    """Keep rows whose hash falls below ``fraction`` of the hash space.

    Exact-membership contract: h(salt:id) < floor(fraction * 2^32). The
    realized rate concentrates at ``fraction`` +- O(1/sqrt(n)); the
    SELECTION is exact and permanent — the same ids are kept at any
    partitioning, any cluster size, any corpus superset.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    cut = int(fraction * _HASH_SPACE)
    return df.filter(_hash32(F.col(id_col), salt) < F.lit(cut))


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split by hash range.

    ``splits`` maps name -> weight (normalized); ranges are assigned in
    the given key order over the hash space, so the mapping is total and
    disjoint by construction. Default 8/1/1 train/val/test.
    """
    if splits is None:
        splits = {"train": 8.0, "val": 1.0, "test": 1.0}
    if not splits or any(w <= 0 for w in splits.values()):
        raise ValueError("splits must be non-empty with positive weights")
    total = float(sum(splits.values()))
    h = _hash32(F.col(id_col), salt)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name] / total
        cut = int(acc * _HASH_SPACE)
        branch = F.when(h < F.lit(cut), F.lit(name))
        expr = branch if expr is None else expr.when(h < F.lit(cut), F.lit(name))
    # the last split takes the remainder of the space — no float residue
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(out_col, expr)


def group_cap(
    df: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str,
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per key, deterministically (ascending
    ``order_col`` — use a stable id). The diversity-capping step of a
    corpus build: cap documents per domain, images per geographic cell,
    near-dup classes per cluster — so no single hot key dominates the
    training mix. One window shuffle on the key; at 10^12 rows prefer a
    high-cardinality key (cells, domains) so partitions stay balanced —
    for pathological keys, pre-aggregate with the same rule per
    partition first (rank is monotone under concatenation of sorted
    runs)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_predicate_sql(
    id_col: str, fraction: float, salt: str = "sample"
) -> str:
    """DuckDB boolean expression twinning
    :func:`deterministic_sample`'s membership test — the single source
    both filter-style twins and flag-style oracles build on."""
    cut = int(fraction * _HASH_SPACE)
    h = md5_prefix32_sql(f"'{salt}:' || ({id_col})::VARCHAR")
    return f"{h} < {cut}"


def split_case_sql(
    id_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "split",
) -> str:
    """DuckDB twin of :func:`hash_split`'s CASE expression."""
    if splits is None:
        splits = {"train": 8.0, "val": 1.0, "test": 1.0}
    total = float(sum(splits.values()))
    h = md5_prefix32_sql(f"'{salt}:' || ({id_col})::VARCHAR")
    names = list(splits)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += splits[name] / total
        whens.append(f"WHEN {h} < {int(acc * _HASH_SPACE)} THEN '{name}'")
    if not whens:
        return f"'{names[-1]}'"
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
