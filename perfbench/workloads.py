"""The two workloads and the per-run measurement loop.

``images``
    One seeded image sample, two users of it, in one JVM.
    - The production job ``plans.pipeline.run_pipeline`` over the 200
      NUTS features and the sample, cold into an empty directory. In a
      traced pass a simulated crash then drops a seeded half of each
      output's manifest rows and the job reruns with ``resume=True``
      (``resume_wall_s``, timed outside ``wall_s``).
    - The analyst path over one persisted frame of the sample: cells,
      fused decode, PIP join, kNN join, tile rollup, mosaic and phash
      near-dup pairs. Codec-heavy; writes nothing.
    ``wall_s`` is the cold job plus the analyst calls; the traced run
    splits them (``plans.pipeline.cold_s``, ``operators.*_s``).
``contract``
    Ten ``__spark_entry__`` contract queries over fixed tables, in seeded
    order. No image decode: a codec change should not move it.

The pass repeats until ``--seconds`` have passed (at least once) and the
run reports medians. Every output is checked against an oracle after
its step, out of the timed region.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracles
from harness import median, tree_cpu_s, tree_peak_rss_mb, tree_reset_peak_rss
from sparkstats import FIELDS as SPARK_FIELDS
from sparkstats import SparkSpans
from tracing import LAYERS, Tracer

#: image sample rows per workload, sized so one run of each fits the
#: benchmark's time budget on 4 cores (see CHANGES.md for the measurements)
N_IMAGES = {"images": 1_000}
PIPELINE_PARTS = 8  # run_pipeline n_parts: logical checkpoint partitions
OPERATOR_PARTITIONS = 8  # the persisted image frame's partitioning
PIPELINE_OUTPUTS = ("pip", "knn", "rollup")
CONTRACT_QUERIES = (
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_latest_event_per_user",
    "q_validator_newer",
    "q_events_hourly",
    "q_dedup_exact",
    "q_text_stats",
    "q_ann_topk",
    "q_minhash_pairs",
    "q_dedup_clusters",
)
SPARK_SPANS = (
    "decode",
    "pip",
    "knn",
    "mosaic",
    "q_minhash_pairs",
    "q_dedup_clusters",
    "pipeline_cold",
    "pipeline_resume",
)
FORMATS = ("ppm", "bmp", "png", "dct", "jpeg", "webp", "gif")
OPERATOR_STEPS = ("cells", "decode", "pip", "knn", "rollup", "mosaic", "phash_dedup")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    u = {
        "session.start_s": "s",
        "session.worker_warm_s": "s",
        "session.cold_start_s": "s",
        "sources.geojson_read_s": "s",
        "sources.images_scan_s": "s",
    }
    u.update({f"functions.decode_ms.{f}": "ms" for f in FORMATS})
    u.update(
        {
            "functions.h3_index_us": "us",
            "functions.s2_index_us": "us",
            "functions.pip_contains_us": "us",
        }
    )
    u.update({f"operators.{s}_s": "s" for s in OPERATOR_STEPS})
    u.update(
        {
            "operators.decode_ok_ratio": "ratio",
            "operators.pip_candidates": "count",
            "operators.pip_pairs": "count",
            "operators.pip_hit_ratio": "ratio",
        }
    )
    u.update({f"query.{q}_s": "s" for q in CONTRACT_QUERIES})
    for out in PIPELINE_OUTPUTS:
        u.update(
            {
                f"plans.checkpoint.{out}.rows": "count",
                f"plans.checkpoint.{out}.bytes_out": "bytes",
                f"plans.checkpoint.{out}.parts": "count",
                f"plans.checkpoint.{out}.part_wall_ms_sum": "ms",
            }
        )
    u.update(
        {
            "plans.checkpoint.bytes_per_input_byte": "ratio",
            "plans.checkpoint.parts_skipped": "count",
            "plans.checkpoint.parts_rewritten": "count",
            "plans.checkpoint.resume_ratio": "ratio",
            "plans.pipeline.cold_s": "s",
            "plans.pipeline.resume_s": "s",
        }
    )
    units = {
        "jobs": "count",
        "tasks": "count",
        "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
        "python_sent_bytes": "bytes",
        "python_received_bytes": "bytes",
        "python_time_s": "s",
    }
    for span in SPARK_SPANS:
        u.update({f"spark.{span}.{f}": units[f] for f in SPARK_FIELDS})
    u.update({f"trace.self_s.{layer}": "s" for layer in LAYERS})
    u["trace.overhead_s"] = "s"
    return u


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


@dataclass
class PassTimes:
    wall_s: float
    cpu_s: float
    resume_wall_s: float | None = None


@dataclass
class Run:
    spark: object
    scratch: object
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    layer: dict = field(default_factory=dict)
    span_walls: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.sspans = SparkSpans(self.spark, self.tracer)
        if self.trace:
            self.sspans.install()

    def call(self, name: str, layer: str, fn, spark_span: str | None = None):
        """One public call into a layer: counted, and spanned when traced."""
        self.attempted += 1
        with self.tracer.span(name, layer):
            if spark_span is not None and self.tracer.enabled:
                with self.sspans.capture(spark_span):
                    return fn()
            return fn()

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: oracle mismatch: {what}", file=sys.stderr)

    def measure(self, one_pass) -> dict[str, float]:
        """Repeat the pass until ``seconds`` have passed (at least once);
        -> medians. The first pass runs right after session set-up, as a
        submitted job does. A traced run then alternates traced and
        untraced passes; its tracing overhead compares the traced passes
        with the untraced ones after the first (both warm)."""
        tree_reset_peak_rss()
        plain: list[PassTimes] = []
        traced: list[PassTimes] = []
        deadline = time.perf_counter() + self.seconds
        for i in range(64):
            self.tracer.enabled = self.trace and i % 2 == 1
            first_span = len(self.tracer.spans)
            t = self._guarded(one_pass)
            mode = "traced" if self.tracer.enabled else "untraced"
            self.tracer.enabled = False
            if t is not None:
                _log(f"{mode} pass wall {t.wall_s:.2f} s")
                (traced if mode == "traced" else plain).append(t)
                if mode == "traced":
                    self._record_spans(first_span)
            enough = bool(plain) and (not self.trace or (traced and len(plain) > 1))
            if enough and time.perf_counter() >= deadline:
                break
            if not enough and i >= 5:
                raise RuntimeError("too few timed passes completed")
        out = {
            "wall_s": median([t.wall_s for t in plain]),
            "cpu_s": median([t.cpu_s for t in plain]),
            "peak_rss_mb": tree_peak_rss_mb(),
            "passes": len(plain),
        }
        resumes = [t.resume_wall_s for t in traced if t.resume_wall_s is not None]
        if resumes:
            out["resume_wall_s"] = median(resumes)
        if self.trace:
            self.layer["trace.overhead_s"] = median(
                [t.wall_s for t in traced]
            ) - median([t.wall_s for t in plain[1:]])
            t0 = time.perf_counter()
            self.tracer.enabled = True
            with self.tracer.span("spark.resolve", "spark"):
                self.sspans.resolve()
            self.tracer.enabled = False
            _log(f"engine counters read in {time.perf_counter() - t0:.2f} s")
        return out

    def _guarded(self, fn):
        """A pass that raises counts as one failed call; the run goes on."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.spark.catalog.clearCache()
            return None

    def _record_spans(self, first: int) -> None:
        for s in self.tracer.spans[first:]:
            self.span_walls.setdefault(s["name"], []).append(s["end"] - s["start"])

    def span_median(self, name: str) -> float:
        vals = self.span_walls.get(name)
        return median(vals) if vals else 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def timed(fn) -> tuple[object, float, float]:
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, tree_cpu_s() - c0


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------


def _manifest(out_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(out_dir, "_manifest.parquet")).to_pandas()


def _part_mtimes(out_dir: str) -> dict[int, int]:
    m = _manifest(out_dir)
    return {
        int(p): os.stat(os.path.join(out_dir, f)).st_mtime_ns
        for p, f in zip(m["part_id"], m["file"])
    }


def _manifest_frame(out_dir: str) -> pd.DataFrame:
    """The dataset the manifest commits, read straight from its files."""
    m = _manifest(out_dir)
    files = [os.path.join(out_dir, f) for f in m.loc[m["status"] == "ok", "file"]]
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def simulate_crash(out_dir: str, rng: np.random.Generator) -> int:
    """Drop a seeded half of the manifest's rows (the parts a crash never
    committed); -> parts kept."""
    path = os.path.join(out_dir, "_manifest.parquet")
    table = pq.read_table(path)
    n = table.num_rows
    keep = np.sort(rng.choice(n, n - n // 2, replace=False))
    pq.write_table(table.take(keep), path + ".tmp")
    os.replace(path + ".tmp", path)
    return len(keep)


def _pipeline_pass(run: Run, sample_path: str, goldens) -> PassTimes:
    """The cold job, checked against the goldens; in a traced pass, also
    the simulated crash and the resume. The resume nearly doubles a
    pass's cost, so the runs that report ``wall_s`` leave it out, and so
    do a traced run's untraced passes, which only set the baseline for
    the tracing overhead: that keeps a traced run inside the time limit."""
    from gjspark.plans.checkpoint import read_checkpointed
    from gjspark.plans.pipeline import run_pipeline

    spark = run.spark
    run.layer.setdefault("_pass", 0)
    run.layer["_pass"] += 1
    out = run.scratch.sub(f"pipeline-{run.layer['_pass']}")
    dirs = {o: os.path.join(out, o) for o in PIPELINE_OUTPUTS}

    def job():
        return run_pipeline(
            spark, sample_path, inputs.FEATURES, out, job_id="perfbench",
            n_parts=PIPELINE_PARTS,
        )

    _, cold_s, cold_cpu = timed(
        lambda: run.call("plans.run_pipeline.cold", "plans", job, "pipeline_cold")
    )
    resume_s = _crash_and_resume(run, job, dirs) if run.tracer.enabled else None
    outs = {o: read_checkpointed(spark, d).toPandas() for o, d in dirs.items()}
    run.check("pipeline pip", goldens.check_pip(outs["pip"]))
    run.check("pipeline knn", goldens.check_knn(outs["knn"]))
    run.check("pipeline rollup", goldens.check_rollup(outs["rollup"]))
    return PassTimes(cold_s, cold_cpu, resume_s)


def _crash_and_resume(run: Run, job, dirs: dict[str, str]) -> float:
    """Drop a seeded half of each output's manifest rows, rerun the job
    with ``resume=True`` and check the result is hash-identical to the
    cold output; -> the rerun's wall seconds."""
    with run.tracer.span("bench.simulate_crash", "bench"):
        cold_hash = {o: oracles.frame_hash(_manifest_frame(d)) for o, d in dirs.items()}
        manifests = {o: _manifest(d) for o, d in dirs.items()}
        rng = np.random.default_rng(run.seed + run.layer["_pass"])
        for d in dirs.values():
            simulate_crash(d, rng)
        kept = {o: _part_mtimes(d) for o, d in dirs.items()}
    _, resume_s, _ = timed(
        lambda: run.call("plans.run_pipeline.resume", "plans", job, "pipeline_resume")
    )
    skipped = rewritten = 0
    for o, d in dirs.items():
        after = _part_mtimes(d)
        same = sum(1 for p, t in kept[o].items() if after.get(p) == t)
        skipped += same
        rewritten += len(after) - same
        run.check(f"pipeline {o}: resumed output is hash-identical to cold",
                  oracles.frame_hash(_manifest_frame(d)) == cold_hash[o])
    run.layer["_checkpoint"] = (manifests, skipped, rewritten)
    _log(f"resume {resume_s:.2f} s")
    return resume_s


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def _operators_pass(run: Run, sample_path: str, goldens) -> PassTimes:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from gjspark.operators.cells import with_cell_columns
    from gjspark.operators.dedup import phash_neardup_pairs
    from gjspark.operators.fused import (
        decoded_features,
        mosaic_from_features,
        rollup_from_features,
    )
    from gjspark.operators.spatial_join import knn_join, pip_join
    from gjspark.plans.pipeline import feature_locations
    from gjspark.sources.geojson import read_feature_collection
    from gjspark.sources.images import read_images

    spark = run.spark
    held: list = []
    got: dict[str, pd.DataFrame] = {}

    def persist(df, level=StorageLevel.MEMORY_AND_DISK):
        held.append(df.persist(level))
        return df

    def features():
        feats = persist(read_feature_collection(spark, inputs.FEATURES))
        feats.select("feature_id").collect()
        return feats

    def locations():
        locs = persist(feature_locations(feats))
        locs.collect()
        return locs

    def cells():
        imgs = persist(
            with_cell_columns(
                read_images(spark, sample_path).repartition(OPERATOR_PARTITIONS)
            )
        )
        got["cells"] = imgs.select("image_id", *oracles.CELL_COLS).toPandas()
        return imgs

    def decode():
        feat = persist(decoded_features(imgs))
        got["decode"] = feat.select(
            "image_id", "pix_crc32", "decode_ok", "phash_decoded"
        ).toPandas()
        return feat

    def phash_dedup():
        classes = (
            feat.filter(F.col("decode_ok"))
            .groupBy(F.col("phash_decoded").alias("phash"))
            .agg(F.min("image_id").alias("rep_id"))
        )
        return phash_neardup_pairs(classes, phash_col="phash", id_col="rep_id").toPandas()

    def step(name, layer, fn):
        # every step gets a capture, so a cached frame's nodes are charged
        # to the step that built it (see SparkSpans.resolve)
        return run.call(f"{layer}.{name}", layer, fn, name)

    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        with run.tracer.span("operators.pass", "bench"):
            feats = step("read_feature_collection", "sources", features)
            locs = step("feature_locations", "plans", locations)
            imgs = step("cells", "operators", cells)
            feat = step("decode", "operators", decode)
            got["pip"] = step("pip", "operators", lambda: pip_join(imgs, feats).toPandas())
            got["knn"] = step("knn", "operators", lambda: knn_join(imgs, locs).toPandas())
            got["rollup"] = step(
                "rollup", "operators", lambda: rollup_from_features(feat).toPandas()
            )
            got["mosaic"] = step(
                "mosaic", "operators", lambda: mosaic_from_features(feat).toPandas()
            )
            got["phash"] = step("phash_dedup", "operators", phash_dedup)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    finally:
        for df in held:
            df.unpersist()
    run.check("operators cells", goldens.check_cells(got["cells"]))
    run.check("operators decode pix_crc32", goldens.check_decode(got["decode"]))
    run.check("operators pip", goldens.check_pip(got["pip"]))
    run.check("operators knn", goldens.check_knn(got["knn"]))
    run.check("operators rollup", goldens.check_rollup(got["rollup"]))
    run.check("operators mosaic", goldens.check_mosaic(got["mosaic"]))
    run.check("operators phash pairs", oracles.check_phash_pairs(got["phash"], got["decode"]))
    run.layer["operators.decode_ok_ratio"] = float(got["decode"]["decode_ok"].mean())
    run.layer["operators.pip_pairs"] = float(len(got["pip"]))
    return PassTimes(wall, cpu)


def _images_pass(run: Run, sample_path: str, goldens) -> PassTimes:
    """The production job, then the analyst path, over one sample."""
    job = _pipeline_pass(run, sample_path, goldens)
    ops = _operators_pass(run, sample_path, goldens)
    return PassTimes(job.wall_s + ops.wall_s, job.cpu_s + ops.cpu_s, job.resume_wall_s)


def images(run: Run) -> dict:
    path = run.scratch.sub("images.parquet")
    sample = inputs.image_sample(run.seed, run.rows, path)
    goldens = oracles.ImageGoldens(sample.column("image_id").to_pylist())
    res = run.measure(lambda: _images_pass(run, path, goldens))
    res["rows"] = run.rows
    if run.trace:
        t0 = time.perf_counter()
        _trace_sources(run, path)
        _trace_functions(run, sample)
        _log(f"layer probes {time.perf_counter() - t0:.2f} s")
        _checkpoint_layers(run, os.path.getsize(path))
        for s in OPERATOR_STEPS:
            run.layer[f"operators.{s}_s"] = run.span_median(f"operators.{s}")
        cand = run.sspans.results.get("pip", {}).get("join_output_rows", 0.0)
        run.layer["operators.pip_candidates"] = cand
        run.layer["operators.pip_hit_ratio"] = (
            run.layer["operators.pip_pairs"] / cand if cand else 0.0
        )
    return res


def _checkpoint_layers(run: Run, input_bytes: int) -> None:
    """Per-output manifest totals of the last traced cold job, and what
    its resume skipped and rewrote."""
    manifests, skipped, rewritten = run.layer.pop("_checkpoint")
    total_bytes = 0
    for o, m in manifests.items():
        ok = m[m["status"] == "ok"]
        run.layer[f"plans.checkpoint.{o}.rows"] = float(ok["row_count"].sum())
        run.layer[f"plans.checkpoint.{o}.bytes_out"] = float(ok["bytes_out"].sum())
        run.layer[f"plans.checkpoint.{o}.parts"] = float(len(ok))
        run.layer[f"plans.checkpoint.{o}.part_wall_ms_sum"] = float(ok["wall_ms"].sum())
        total_bytes += ok["bytes_out"].sum()
    run.layer["plans.checkpoint.bytes_per_input_byte"] = float(total_bytes / input_bytes)
    run.layer["plans.checkpoint.parts_skipped"] = float(skipped)
    run.layer["plans.checkpoint.parts_rewritten"] = float(rewritten)
    cold = run.span_median("plans.run_pipeline.cold")
    resume = run.span_median("plans.run_pipeline.resume")
    run.layer["plans.pipeline.cold_s"] = cold
    run.layer["plans.pipeline.resume_s"] = resume
    run.layer["plans.checkpoint.resume_ratio"] = resume / cold if cold else 0.0


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def _contract_pass(run: Run, table_dir: str, order: list[str], oracle) -> PassTimes:
    import __spark_entry__ as E

    qs = E.queries()
    got = {}
    c0, t0 = tree_cpu_s(), time.perf_counter()
    with run.tracer.span("contract.pass", "bench"):
        for name in order:
            span = name if name in SPARK_SPANS else None
            got[name] = run.call(
                f"entry.{name}", "entry", lambda: qs[name](run.spark, table_dir).toPandas(), span
            )
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    for name, df in got.items():
        run.check(f"contract {name}", oracle.check(name, df))
    return PassTimes(wall, cpu)


def contract(run: Run) -> dict:
    rng = np.random.default_rng(run.seed)
    order = [CONTRACT_QUERIES[i] for i in rng.permutation(len(CONTRACT_QUERIES))]
    table_dir = inputs.CONTRACT_TABLES
    oracle = oracles.ContractOracle()
    res = run.measure(lambda: _contract_pass(run, table_dir, order, oracle))
    res["rows"] = sum(
        pq.read_metadata(os.path.join(table_dir, f"{t}.parquet")).num_rows
        for t in inputs.contract_tables()
    )
    if run.trace:
        for q in CONTRACT_QUERIES:
            run.layer[f"query.{q}_s"] = run.span_median(f"entry.{q}")
    return res


WORKLOADS = {"images": images, "contract": contract}


# ---------------------------------------------------------------------------
# layer probes, traced run only (outside the timed passes)
# ---------------------------------------------------------------------------


def _trace_sources(run: Run, sample_path: str) -> None:
    from pyspark.sql import functions as F

    from gjspark.sources.geojson import read_feature_collection
    from gjspark.sources.images import read_images

    run.tracer.enabled = True
    try:
        def geojson():
            read_feature_collection(run.spark, inputs.FEATURES).collect()

        def scan():
            read_images(run.spark, sample_path).agg(F.sum(F.length("bytes"))).collect()

        for name, fn in (("geojson_read", geojson), ("images_scan", scan)):
            walls = [timed(lambda: run.call(f"sources.{name}", "sources", fn))[1]
                     for _ in range(3)]
            run.layer[f"sources.{name}_s"] = median(walls)
    finally:
        run.tracer.enabled = False


def _trace_functions(run: Run, sample) -> None:
    """Single-process kernel timings over the workload's own sample."""
    from gjspark.functions import codecs, s2
    from gjspark.functions import geometry as G
    from gjspark.functions import h3

    run.tracer.enabled = True
    try:
        pdf = sample.select(["bytes", "fmt", "lat", "lon"]).to_pandas()
        for fmt in FORMATS:
            blobs = pdf.loc[pdf["fmt"] == fmt, "bytes"].tolist()[:100]

            def dec(blobs=blobs, fmt=fmt):
                for b in blobs:
                    codecs.decode_image(b, fmt)

            _, wall, _ = timed(lambda: run.call(f"functions.decode.{fmt}", "functions", dec))
            run.layer[f"functions.decode_ms.{fmt}"] = 1e3 * wall / max(len(blobs), 1)
        lat = pdf["lat"].to_numpy(dtype=float)
        lon = pdf["lon"].to_numpy(dtype=float)
        res = (7, 8, 9, 10, 11, 12)
        _, wall, _ = timed(lambda: run.call(
            "functions.h3", "functions",
            lambda: h3.latlng_to_cells_multi(lat, lon, res, invalid="null")))
        run.layer["functions.h3_index_us"] = 1e6 * wall / len(lat)
        _, wall, _ = timed(lambda: run.call(
            "functions.s2", "functions", lambda: s2.s2_cell(lat, lon, 16)))
        run.layer["functions.s2_index_us"] = 1e6 * wall / len(lat)
        feats = _feature_wkbs()
        _, wall, _ = timed(lambda: run.call(
            "functions.pip_contains", "functions",
            lambda: G.PolygonSet(list(feats), list(feats.values())).contains(lon, lat)))
        run.layer["functions.pip_contains_us"] = 1e6 * wall / (len(lat) * len(feats))
    finally:
        run.tracer.enabled = False


def _feature_wkbs() -> dict[str, bytes]:
    """feature_id -> WKB for the committed NUTS features, parsed by the
    sources layer's own row converter."""
    import json

    from gjspark.sources.geojson import feature_to_row

    with open(inputs.FEATURES) as f:
        fc = json.load(f)
    rows = [feature_to_row(feat, i, inputs.FEATURES) for i, feat in enumerate(fc["features"])]
    # (feature_id, idx, geometry type, wkb, ...)
    return {r[0]: r[3] for r in rows if r[3] is not None}


def finish_layers(run: Run, setup: list[dict]) -> dict[str, float]:
    """The per-layer record of a traced run.

    The run's output must carry every per-layer metric the benchmark
    declares, on every workload. A metric of work this workload does not
    do (a contract run's checkpoint rows, an operators run's query
    times) therefore reads 0: no such work was measured."""
    layer = {k: v for k, v in run.layer.items() if not k.startswith("_")}
    layer["session.start_s"] = median([s["start_s"] for s in setup])
    layer["session.worker_warm_s"] = median([s["worker_warm_s"] for s in setup])
    layer["session.cold_start_s"] = setup[0]["start_s"] + setup[0]["worker_warm_s"]
    for span in SPARK_SPANS:
        vals = run.sspans.results.get(span, {})
        for f in SPARK_FIELDS:
            layer[f"spark.{span}.{f}"] = vals.get(f, 0.0)
    # self time over every span of the traced run: set-up cycles, traced
    # passes, layer probes and engine-counter reads
    for lay, v in run.tracer.self_seconds().items():
        layer[f"trace.self_s.{lay}"] = v
    units = per_layer_units()
    return {k: float(layer.get(k, 0.0)) for k in units}
