"""Checkpointed, resumable writes with per-partition lineage + metrics
(north rule: "resumable from per-partition checkpoints carrying lineage
(source file, cell range, row counts) and metrics").

Not a Spark built-in at this granularity (SURVEY.md §4.5). Design:

- the caller supplies a deterministic partition key (default
  ``pmod(xxhash64(id_col), n_parts)``) so the data->logical-partition
  mapping is a pure function of the data — identical across runs and
  cluster sizes;
- rows are ``repartition(__part)``-ed so each logical partition lands in
  exactly one task, then ``mapInPandas`` STREAMS Arrow batches into a
  ``pyarrow.ParquetWriter`` per partition — memory per task is bounded
  by the Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch),
  never by the logical partition's total size, so a terabyte partition
  writes in constant memory;
- each data file commits atomically (temp name + rename) and emits one
  manifest row ``(job_id, part_id, row_count, bytes_out, cell_min,
  cell_max, source_files, wall_ms, status)``;
- the manifest itself is committed last (parquet + ``_SUCCESS.json``).
  This write-then-manifest protocol is what makes the scheme object-store
  safe: on S3/GCS (no atomic rename) the writer targets a unique object
  name per attempt and the manifest — the single last commit — is the
  only source of truth; readers and resume logic trust manifest entries,
  never directory listings, so orphaned files from failed attempts are
  invisible;
- resume = anti-join: completed part_ids (from the manifest) are filtered
  out before the shuffle and the write, and the surviving partitions
  append their manifest rows. The ``__part`` filter applies to ``df``,
  i.e. *after* the kernels that produce it: Catalyst cannot push it
  through a Python stage, so completed parts are still computed (their
  images decoded) and then dropped. A resume therefore saves the write,
  not the compute: on a 4-core ``local[4]`` box the perfbench ``images``
  resume took 0.93-1.04x the cold job's wall time.

The reference's analogue is nothing more than a progress callback
(``utils/ProgressTracker.java:17-26``) and insert/update counters
(``utils/ObservationUploader.java:83-114``); at 10^12 rows restartability
must be data-level, hence this design.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("bytes_out", T.LongType()),
        T.StructField("cell_min", T.LongType()),
        T.StructField("cell_max", T.LongType()),
        T.StructField("source_files", T.StringType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("file", T.StringType()),
    ]
)


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.parquet")


def read_checkpointed(spark, out_dir: str) -> DataFrame:
    """Read a checkpointed dataset trusting the MANIFEST, not the
    directory listing — the object-store-safe half of the write-then-
    manifest protocol: orphaned files from failed unique-name attempts
    sit in the directory but are never listed in the manifest, so they
    are invisible here."""
    mp = manifest_path(out_dir)
    if not os.path.exists(mp):
        raise FileNotFoundError(f"no manifest at {mp}")
    m = pq.read_table(mp).to_pandas()
    ok = _with_file_column(m)[m["status"] == "ok"]
    if not len(ok):
        raise ValueError(
            f"manifest at {mp} has no status='ok' partitions — nothing to read"
        )
    files = [os.path.join(out_dir, f) for f in ok["file"].tolist()]
    return spark.read.parquet(*files)


def _with_file_column(m: pd.DataFrame) -> pd.DataFrame:
    """Backfill the 'file' column for manifests written before it existed
    (or rows carrying null after a mixed-version resume concat): rename-mode
    part names are deterministic, ``part={part_id}.parquet``."""
    m = m.copy()
    fallback = "part=" + m["part_id"].astype(int).astype(str) + ".parquet"
    if "file" not in m.columns:
        m["file"] = fallback
    else:
        missing = m["file"].isna()
        m.loc[missing, "file"] = fallback[missing]
    return m


def completed_parts(out_dir: str) -> set[int]:
    mp = manifest_path(out_dir)
    if not os.path.exists(mp):
        return set()
    pdf = pq.read_table(mp).to_pandas()
    return set(pdf.loc[pdf["status"] == "ok", "part_id"].astype(int))


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    job_id: str,
    id_col: str,
    n_parts: int = 64,
    cell_col: str | None = None,
    source_col: str | None = None,
    resume: bool = True,
    commit: str = "rename",
) -> pd.DataFrame:
    """Write ``df`` to ``out_dir`` in ``n_parts`` deterministic logical
    partitions; returns the full manifest (pandas). Safe to re-run: on
    resume, completed partitions are not shuffled or written again (their
    rows are still computed upstream of the ``__part`` filter).

    Memory-bounded by construction: each task streams Arrow batches into
    per-partition ``pyarrow.ParquetWriter``s — it never holds a logical
    partition in memory.

    ``commit`` selects the part-file commit protocol:

    - ``"rename"`` (local FS / HDFS): temp name + atomic ``os.replace``;
      stable ``part=N.parquet`` names.
    - ``"unique-name"`` (object stores — S3/GCS have no atomic rename):
      each attempt writes straight to a unique object name
      ``part=N-<attempt>.parquet`` and the MANIFEST — the single last
      commit — is the only source of truth. Readers
      (:func:`read_checkpointed`) list files from the manifest, never
      from the directory, so half-written or orphaned attempt files from
      failed runs are invisible.
    """
    if commit not in ("rename", "unique-name"):
        raise ValueError("commit must be 'rename' or 'unique-name'")
    os.makedirs(out_dir, exist_ok=True)
    done = completed_parts(out_dir) if resume else set()

    work = df.withColumn(
        "__part", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)).cast("int")
    )
    if done:
        work = work.filter(~F.col("__part").isin(*[int(p) for p in done]))

    data_cols = [c for c in df.columns]
    cell = cell_col if cell_col in data_cols else None
    src = source_col if source_col in data_cols else None

    # one task per logical partition (a task may receive several parts if
    # hash-colliding; the writer keeps one open ParquetWriter per part)
    work = work.repartition(n_parts, F.col("__part"))

    def write_stream(batches):
        writers: dict[int, dict] = {}
        for pdf in batches:
            for part_key, g in pdf.groupby("__part", sort=False):
                part = int(part_key)
                body = g[data_cols]
                table = pa.Table.from_pandas(body, preserve_index=False)
                st = writers.get(part)
                if st is None:
                    if commit == "unique-name":
                        import uuid

                        final = os.path.join(
                            out_dir, f"part={part}-{uuid.uuid4().hex[:12]}.parquet"
                        )
                        tmp = final  # written directly; manifest commits it
                    else:
                        final = os.path.join(out_dir, f"part={part}.parquet")
                        tmp = final + f".tmp-{os.getpid()}"
                    st = writers[part] = {
                        "t0": time.time(),
                        "final": final,
                        "tmp": tmp,
                        "schema": table.schema,
                        "writer": pq.ParquetWriter(tmp, table.schema),
                        "rows": 0,
                        "cmin": None,
                        "cmax": None,
                        "sources": set(),
                    }
                st["writer"].write_table(table.cast(st["schema"]))
                st["rows"] += len(body)
                if cell:
                    lo, hi = int(g[cell].min()), int(g[cell].max())
                    st["cmin"] = lo if st["cmin"] is None else min(st["cmin"], lo)
                    st["cmax"] = hi if st["cmax"] is None else max(st["cmax"], hi)
                if src and len(st["sources"]) < 64:
                    st["sources"].update(g[src].astype(str).unique().tolist())
        rows = []
        for part, st in sorted(writers.items()):
            st["writer"].close()
            size = os.path.getsize(st["tmp"])
            if st["tmp"] != st["final"]:
                os.replace(st["tmp"], st["final"])  # atomic commit (rename FS)
            # unique-name mode: no rename exists on the target store — the
            # file only becomes visible when the manifest commits it
            rows.append(
                {
                    "job_id": job_id,
                    "part_id": part,
                    "row_count": st["rows"],
                    "bytes_out": size,
                    "cell_min": st["cmin"] if st["cmin"] is not None else 0,
                    "cell_max": st["cmax"] if st["cmax"] is not None else 0,
                    "source_files": json.dumps(sorted(st["sources"])[:20])
                    if src
                    else "[]",
                    "wall_ms": int((time.time() - st["t0"]) * 1000),
                    "status": "ok",
                    "file": os.path.basename(st["final"]),
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    new_manifest = work.mapInPandas(write_stream, MANIFEST_SCHEMA).toPandas()

    mp = manifest_path(out_dir)
    if resume and os.path.exists(mp):
        # backfill 'file' so a pre-'file'-column manifest never injects
        # NaN rows into the merged manifest (os.path.join(dir, nan) later)
        old = _with_file_column(pq.read_table(mp).to_pandas())
        old = old[~old["part_id"].isin(new_manifest["part_id"])]
        full = pd.concat([old, new_manifest], ignore_index=True)
    else:
        full = new_manifest
    tmp = mp + ".tmp"
    pq.write_table(pa.Table.from_pandas(full, preserve_index=False), tmp)
    os.replace(tmp, mp)
    with open(os.path.join(out_dir, "_SUCCESS.json"), "w") as f:
        json.dump(
            {
                "job_id": job_id,
                "parts": int(full["part_id"].nunique()),
                "rows": int(full["row_count"].sum()),
                "bytes": int(full["bytes_out"].sum()),
            },
            f,
        )
    return full
