"""Streaming distinct-count sketches: windowed HLL register build over
an unbounded source.

The register build IS an ordinary streaming aggregation —
``groupBy(window, group, bucket).max(rho)`` — so Structured Streaming's
own state store holds at most ``groups x m`` registers per open window
(constant state per group, the whole point of sketching an unbounded
stream). Watermarking closes windows and emits final register rows in
append mode; the batch estimator
(:func:`gjspark.operators.sketches.estimate_from_registers`) folds any
collection of emitted register rows into estimates — per window, or
max-merged across windows for a running total (registers merge by
bucket-max, by construction).

Contrast with exact streaming ``approx_count_distinct``/distinct
aggregation: exact distinct state grows with the number of distinct
values seen; the sketch state does not. At 10^12 events/day this is the
only viable shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gjspark.operators.sketches import bucket_rho_exprs
from gjspark.session import broadcast_threshold


def stream_bloom_filter(
    stream: DataFrame,
    bits: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    k: int = 3,
    salt: str = "bloom",
    keep_hits: bool = False,
) -> DataFrame:
    """Probe a STREAM against a static Bloom bit table (stream-static
    join): the streaming crawl-dedup gate — drop (default) or keep rows
    whose value was in the previous snapshot the filter was built from.

    The static side is the <= m_bits-row position table from
    :func:`gjspark.operators.sketches.bloom_bits`; the probe is k
    STATELESS stream-static left joins (one per hash) — no exploded
    per-id re-aggregation, because a streaming groupBy would allocate a
    state store, and the whole point over ``dropDuplicates`` is ZERO
    state (dropDuplicates state grows with distinct keys seen; this is
    map-side broadcast probing forever). False positives drop
    ~(1-e^(-kn/m))^k of genuinely-new rows — the usual Bloom trade,
    acceptable for crawl dedup, not for exactly-once accounting."""
    from gjspark.operators.sketches import _bloom_pos_cols, _check_bloom_params

    _check_bloom_params(m_bits, k)
    bits_d = bits.select("pos").distinct()
    cols = list(stream.columns)
    out = stream
    pos_cols = _bloom_pos_cols(value_col, m_bits, k, salt)
    # Broadcast hint while the table's hard bound (m_bits longs, 8 *
    # m_bits bytes) is within autoBroadcastJoinThreshold: the position
    # table's size ESTIMATE runs past the threshold well before its data
    # does (at the default m_bits=1<<20, 8 MB of data), which would
    # demote each of the k stream-static joins to a per-batch shuffle of
    # the whole stream. Past the bound, or with broadcasts off, the
    # planner picks the join: a shuffle, never a forced multi-GB broadcast.
    limit = broadcast_threshold(stream.sparkSession)
    hint = F.broadcast if 0 <= 8 * m_bits <= limit else (lambda d: d)
    hit = F.lit(True)
    for i, pc in enumerate(pos_cols):
        out = out.withColumn(f"__p{i}", pc).join(
            hint(
                bits_d.select(
                    F.col("pos").alias(f"__p{i}"), F.lit(1).alias(f"__s{i}")
                )
            ),
            f"__p{i}",
            "left",
        )
        hit = hit & F.col(f"__s{i}").isNotNull()
    out = out.filter(hit if keep_hits else ~hit)
    return out.select(*cols)


def stream_hll_registers(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "t_start",
    group_cols: tuple[str, ...] = (),
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 8,
) -> DataFrame:
    """-> streaming frame of (window_start, group..., bucket, m_reg).

    Append-mode-compatible (aggregation keyed on the event-time window
    under a watermark); feed the emitted rows to
    ``estimate_from_registers`` grouped by (window_start, group...) for
    per-window distinct estimates.
    """
    bucket, rho = bucket_rho_exprs(value_col, p)
    return (
        stream.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), *group_cols, bucket, rho)
        .groupBy(
            F.window(ts_col, window).alias("w"), *group_cols, F.col("bucket")
        )
        .agg(F.max("rho").alias("m_reg"))
        .select(
            F.col("w.start").alias("window_start"), *group_cols, "bucket", "m_reg"
        )
    )
