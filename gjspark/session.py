"""SparkSession factory tuned for this engine.

Arrow on (every custom kernel is a pandas/Arrow UDF), AQE on (runtime
skew/broadcast re-planning), shuffle partitions sized to cores rather than
the 200 default. At cluster scale the same factory is used via
``spark-submit --py-files gjspark.zip`` (see ``gjspark/plans/job.py``).

Python daemon: on ``local``/``local[...]`` masters the Python workers are
forked from ``gjspark.pydaemon`` instead of ``pyspark.daemon``. Every
kernel here is an Arrow UDF, so every operator pays the fixed cost of
starting and running Python workers. Before it forks, the daemon imports
the installed, byte-compiled pyspark instead of compiling
``$SPARK_HOME/python/lib/pyspark.zip`` from source (only when both are
the same release), imports pandas and pyarrow once for all workers, and
on CPython below 3.12 stops every task from re-reading each zip
importer's directory (see the ``pydaemon`` docstring). The workers
inherit all three, including UDFs that never import ``gjspark``. The
directory holding ``gjspark`` is added to ``spark.executorEnv.PYTHONPATH``
so Spark can start it; Spark merges that value into the workers' path
rather than replacing it. Cluster masters keep pyspark's own daemon: an
executor may not have ``gjspark`` on its path when the daemon starts
(``--py-files`` archives are added to the path per task, inside the
forked worker). ``get_spark`` logs which daemon the session uses.

Driver JVM: a local session's driver JVM starts from a class-data-sharing
archive of the classes a previous session loaded, so it maps them
instead of parsing about 15k classes from the jars (see ``gjspark.cds``:
where the archive lives, how it is made, validated and keyed, and when
CDS is skipped). The first session without one writes it when its JVM
exits, which adds about 9 s to that session's teardown. The launch sees
an empty ``SPARK_CONF_DIR`` in place of a conf dir that holds only
``*.template`` files, and the CDS flags go ahead of any
``spark.driver.defaultJavaOptions`` the caller passes. Outputs do not
change. Cluster masters, and sessions that attach to a JVM that is
already running, launch as before.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

from gjspark import cds

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

log = logging.getLogger(__name__)

# One BLAS thread per Python worker: N workers x M BLAS threads thrashes the
# box and makes UDF stage times wildly variable. Python workers inherit the
# driver env in local mode; spark.executorEnv covers cluster mode.
_BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)
for _v in _BLAS_VARS:
    os.environ.setdefault(_v, "1")


def _sweep_stale_scratch(scratch: str) -> None:
    """RAM-backed scratch dirs leak when a JVM is killed; reap dead ones.

    Only sibling ``sess-<pid>-*`` dirs whose owning PID is no longer alive
    are removed. Age-based sweeping is unsafe: a directory's mtime does not
    change when files change deeper inside it, so a long-running Spark
    job's live shuffle dirs would look "stale" after a few hours and get
    deleted out from under it.
    """
    import shutil

    try:
        for name in os.listdir(scratch):
            if not name.startswith("sess-"):
                continue
            parts = name.split("-")
            try:
                pid = int(parts[1])
            except (IndexError, ValueError):
                continue
            if not cds.pid_alive(pid):
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    except OSError:
        pass


def _session_scratch_dir(root: str) -> str:
    """Own scratch subdir per driver process, PID encoded for the sweeper."""
    import tempfile

    os.makedirs(root, exist_ok=True)
    _sweep_stale_scratch(root)
    return tempfile.mkdtemp(prefix=f"sess-{os.getpid()}-", dir=root)


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, parsed as the
    planner reads it; negative means broadcasts are off."""
    return int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )


@contextmanager
def broadcast_threshold_override(spark: SparkSession, value: str | None):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``value`` (None: unchanged), then restore the old setting. "-1" turns
    broadcasts off, which sends ``pip_join`` down its bucketed path and
    ``connected_components`` down its star rounds."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 24g: a heap larger than the
    host lets garbage grow until the machine, not the JVM, runs out."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


_JAVA_OPTS = "spark.driver.defaultJavaOptions"


def _get_or_create(b, launch: cds.Plan | None, user_opts: str | None) -> SparkSession:
    """``b.getOrCreate()``; with a CDS ``launch`` the JVM starts with its
    flags ahead of the caller's ``user_opts`` and sees its empty conf dir
    (``SPARK_CONF_DIR`` is restored after). If that JVM does not come up,
    it starts again as it would without CDS."""
    if launch is None:
        return b.getOrCreate()
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = b.config(_JAVA_OPTS, launch.java_options(user_opts)).getOrCreate()
    except Exception:
        if SparkContext._gateway is not None:
            raise
        launch.failed()
        log.warning(
            "driver JVM did not start with %s; starting without", launch.flags,
            exc_info=True,
        )
        spark = None
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old
    if spark is None:
        return b.config(_JAVA_OPTS, user_opts or "").getOrCreate()
    try:
        launch.started(spark, getattr(SparkContext._gateway, "proc", None))
    except Exception:  # noqa: BLE001 — the session is up either way
        log.warning("cds: could not record the driver JVM", exc_info=True)
    return spark


def get_spark(
    app_name: str = "gjspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset).
    ``spark.driver.memory`` is ``$GJSPARK_DRIVER_MEM`` if set, else half
    of physical memory up to 24g.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("GJSPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill scratch: the sandbox's virtual disk writes at tens of
    # MB/s, which makes any shuffle look like a scaling wall (a pure
    # local-mode artifact — on a cluster each node spills to its own
    # NVMe). Use the RAM-backed dir when present, exactly like deploying
    # with node-local tmpfs/NVMe scratch; override with SPARK_LOCAL_DIRS.
    scratch = os.environ.get("GJSPARK_LOCAL_DIR", "/dev/shm/gjspark-scratch")
    if "SPARK_LOCAL_DIRS" not in os.environ:
        try:
            b = b.config("spark.local.dir", _session_scratch_dir(scratch))
        except OSError:
            pass
    for v in _BLAS_VARS:
        b = b.config(f"spark.executorEnv.{v}", "1")
    if master == "local" or master.startswith("local["):
        b = b.config("spark.python.daemon.module", "gjspark.pydaemon")
        b = b.config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        b = b.config(k, v)
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = cds.plan(master, extra_conf)
    spark = _get_or_create(b, launch, extra_conf.get(_JAVA_OPTS))
    spark.sparkContext.setLogLevel("ERROR")
    conf = spark.sparkContext.getConf()
    log.info(
        "master=%s python daemon=%s",
        conf.get("spark.master"),
        conf.get("spark.python.daemon.module", "pyspark.daemon"),
    )
    return spark
