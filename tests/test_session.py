"""Session factory: the shared scratch sweeper must never delete a live
Spark job's spark.local.dir (shuffle data loss), and local-mode Python
workers run under ``gjspark.pydaemon``: the installed pyspark (not
``pyspark.zip``), pandas and pyarrow loaded before the fork, and the
zipimport backport. The local driver JVM starts from a validated CDS
archive, never from one that failed validation."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkContext

from gjspark import cds, pydaemon, session


class TestScratchSweep:
    def test_dead_pid_dir_is_reaped(self, tmp_path):
        dead = tmp_path / "sess-999999999-abc"
        dead.mkdir()
        (dead / "blockmgr" ).mkdir()
        session._sweep_stale_scratch(str(tmp_path))
        assert not dead.exists()

    def test_live_pid_dir_survives_regardless_of_age(self, tmp_path):
        live = tmp_path / f"sess-{os.getpid()}-abc"
        live.mkdir()
        # backdate mtime far past any age threshold — liveness, not age,
        # decides (dir mtime does not track changes deeper inside)
        os.utime(live, (0, 0))
        session._sweep_stale_scratch(str(tmp_path))
        assert live.exists()

    def test_non_session_dirs_untouched(self, tmp_path):
        other = tmp_path / "somebody-elses-dir"
        other.mkdir()
        os.utime(other, (0, 0))
        session._sweep_stale_scratch(str(tmp_path))
        assert other.exists()

    def test_malformed_names_skipped(self, tmp_path):
        weird = tmp_path / "sess-notapid-x"
        weird.mkdir()
        session._sweep_stale_scratch(str(tmp_path))
        assert weird.exists()

    def test_session_scratch_dir_unique_and_pid_tagged(self, tmp_path):
        a = session._session_scratch_dir(str(tmp_path))
        b = session._session_scratch_dir(str(tmp_path))
        assert a != b
        for p in (a, b):
            assert os.path.isdir(p)
            assert os.path.basename(p).startswith(f"sess-{os.getpid()}-")


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ has the fix; install is a no-op"
)
def test_zipimport_backport_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gjspark_zip_a.py", "X = 1\n")
    # registers the stock method for restoring at teardown
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(pydaemon, "_read_stamps", {})
    pydaemon.install()
    monkeypatch.syspath_prepend(str(archive))
    stock_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("gjspark_zip_a").X == 1
        reads.clear()  # the importer's own first read
        for _ in range(10):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) <= 1
        n = reads.count(str(archive))

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("gjspark_zip_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 1
        assert importlib.import_module("gjspark_zip_b").Y == 2
    finally:
        for name in ("gjspark_zip_a", "gjspark_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def _pyspark_tree(root, version):
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(f"__version__ = {version!r}\n")
    return str(root)


def _pyspark_zip(root, version):
    root.mkdir(parents=True)
    archive = root / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__ = {version!r}\n")
    return str(archive)


class TestPreferInstalledPyspark:
    """``prefer_installed_pyspark`` moves SPARK_HOME's source-only zip behind
    an installed pyspark of the same release, and otherwise leaves
    ``sys.path`` as Spark built it."""

    def _run(self, monkeypatch, path):
        monkeypatch.setattr(sys, "path", list(path))
        pydaemon.prefer_installed_pyspark()
        return list(sys.path)

    def test_same_release_moves_zip_behind_installed_copy(self, tmp_path, monkeypatch):
        zip_ = _pyspark_zip(tmp_path / "lib", "4.1.2")
        site = _pyspark_tree(tmp_path / "site", "4.1.2")
        a, b, c, d = (str(tmp_path / n) for n in "abcd")
        assert self._run(monkeypatch, [a, zip_, b, c, site, d]) == [
            a, b, c, site, zip_, d
        ]

    def test_other_release_keeps_path(self, tmp_path, monkeypatch):
        zip_ = _pyspark_zip(tmp_path / "lib", "4.1.2")
        site = _pyspark_tree(tmp_path / "site", "4.1.1")
        path = [str(tmp_path / "a"), zip_, site, str(tmp_path / "d")]
        assert self._run(monkeypatch, path) == path

    def test_no_installed_copy_keeps_path(self, tmp_path, monkeypatch):
        zip_ = _pyspark_zip(tmp_path / "lib", "4.1.2")
        path = [str(tmp_path / "a"), zip_, str(tmp_path / "b")]
        assert self._run(monkeypatch, path) == path

    def test_no_zip_keeps_path(self, tmp_path, monkeypatch):
        site = _pyspark_tree(tmp_path / "site", "4.1.2")
        path = [str(tmp_path / "a"), site, str(tmp_path / "b")]
        assert self._run(monkeypatch, path) == path


def test_local_python_workers_run_under_gjspark_daemon(spark):
    """The shared ``local[4]`` session forks its Python workers from
    ``gjspark.pydaemon``: they import the installed pyspark rather than
    ``pyspark.zip``, their daemon loaded pyarrow before forking while
    still single-threaded, and on Python < 3.12 they carry the zipimport
    backport (the UDF below never imports ``gjspark``)."""

    def probe(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        main = sys.modules["__main__"]
        daemon = f"/proc/{os.getppid()}"
        with open(f"{daemon}/maps") as f:
            daemon_arrow = "libarrow" in f.read()
        with open(f"{daemon}/status") as f:
            threads = next(
                int(line.split()[1]) for line in f if line.startswith("Threads:")
            )
        yield pd.DataFrame(
            {
                "main": [getattr(main.__spec__, "name", None)],
                "patched": [
                    zipimport.zipimporter.invalidate_caches
                    is getattr(main, "_invalidate_caches", None)
                ],
                "pyspark_file": [pyspark.__file__],
                "daemon_arrow": [daemon_arrow],
                "daemon_threads": [threads],
            }
        )

    rows = (
        spark.range(8, numPartitions=2)
        .mapInPandas(
            probe,
            "main string, patched boolean, pyspark_file string, "
            "daemon_arrow boolean, daemon_threads int",
        )
        .collect()
    )
    assert len(rows) == 2
    assert {r["main"] for r in rows} == {"gjspark.pydaemon"}
    if sys.version_info < (3, 12):
        assert all(r["patched"] for r in rows)
    for r in rows:
        assert ".zip" not in r["pyspark_file"], r["pyspark_file"]
        assert r["daemon_arrow"]
        assert r["daemon_threads"] == 1


def test_driver_heap_fits_physical_memory(spark):
    """Without ``GJSPARK_DRIVER_MEM`` the driver heap defaults to half of
    physical memory, capped at 24g; the test session's heap is no more
    than physical memory."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    default = to_bytes(session._default_driver_memory())
    assert default <= min(phys // 2, 24 << 30)
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    if "GJSPARK_DRIVER_MEM" not in os.environ:
        assert to_bytes(heap) == default
    assert to_bytes(heap) <= phys


# -- class-data-sharing archive (gjspark.cds) ---------------------------------


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A fresh archive cache under ``tmp_path`` and no environment that
    makes ``cds.plan`` skip."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    if cds.plan("local[2]", {}) is None:
        pytest.skip("this Spark install is not eligible for CDS")
    for name in os.listdir(cds.cache_dir()):  # drop the probe's marker
        if name.endswith(".dump"):
            os.unlink(os.path.join(cds.cache_dir(), name))
    return tmp_path


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _dumped_candidate(plan, truncate: bool) -> None:
    """Write a real small archive at the plan's candidate path, as a dead
    session's JVM would have, truncated if asked."""
    java = cds._java()
    cp = os.path.join(cds.cache_dir(), "conf")  # the empty conf dir
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={plan.candidate}", "-Xlog:cds*=off",
         "-cp", cp, "-version"],
        check=True, capture_output=True,
    )
    if truncate:
        size = os.path.getsize(plan.candidate)
        os.chmod(plan.candidate, 0o644)
        with open(plan.candidate, "r+b") as f:
            f.truncate(size // 2)
    with open(plan.marker, "w") as f:
        json.dump({"pid": _dead_pid(), "candidate": plan.candidate,
                   "java": java, "classpath": cp}, f)


def test_truncated_archive_is_deleted_and_never_passed_to_a_jvm(cds_env):
    first = cds.plan("local[2]", {})
    assert first.flags[0] == f"-XX:ArchiveClassesAtExit={first.candidate}"
    _dumped_candidate(first, truncate=True)
    # the same candidate makes the validation JVM die (SIGBUS when mapped)
    assert not cds.validate(cds._java(), first.candidate, json.load(open(first.marker))["classpath"])
    again = cds.plan("local[2]", {})
    assert not os.path.exists(first.candidate)
    assert not os.path.exists(again.archive)
    assert all(first.candidate not in f for f in again.flags)
    assert not any(f.startswith("-XX:SharedArchiveFile") for f in again.flags)
    assert again.flags[0] == f"-XX:ArchiveClassesAtExit={again.candidate}"


def test_validated_archive_is_published_then_used(cds_env):
    first = cds.plan("local[2]", {})
    _dumped_candidate(first, truncate=False)
    used = cds.plan("local[2]", {})
    assert not os.path.exists(first.candidate) and not os.path.exists(first.marker)
    assert used.candidate is None
    assert used.flags == [f"-XX:SharedArchiveFile={used.archive}", "-Xlog:cds*=off"]
    assert '"-XX:SharedArchiveFile=' in used.java_options("-Dx=1")
    assert used.java_options("-Dx=1").endswith(" -Dx=1")
    # a published archive that changed after validation is not used
    os.chmod(used.archive, 0o644)
    with open(used.archive, "ab") as f:
        f.write(b"\0")
    redo = cds.plan("local[2]", {})
    assert not os.path.exists(used.archive)
    assert redo.candidate is not None


def test_one_session_dumps_at_a_time(cds_env):
    first = cds.plan("local[2]", {})
    assert first.candidate is not None
    # the marker names this live process: nobody else dumps or validates
    assert cds.plan("local[2]", {}) is None
    assert os.path.exists(first.marker)


def test_conf_dir_eligibility(tmp_path, cds_env, monkeypatch):
    templates = tmp_path / "templates"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("")
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.x 1\n")
    assert cds.conf_dir_replaceable(str(templates))
    assert cds.conf_dir_replaceable(str(tmp_path / "missing"))
    assert not cds.conf_dir_replaceable(str(conf))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert cds.plan("local[2]", {}) is None
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    assert cds.plan("local[2]", {}) is not None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert cds.plan("local[2]", {}) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    extra = {"spark.driver.extraClassPath": str(tmp_path)}
    assert cds.plan("local[2]", extra) is None


def test_cluster_master_gets_no_flags(cds_env):
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert cds.plan(master, {}) is None
    assert not any(n.endswith(".dump") for n in os.listdir(cds.cache_dir()))


class _Launch:
    """Stands in for a ``cds.Plan`` around ``session._get_or_create``."""

    conf_dir = "/nonexistent/empty-conf"
    flags = ["-XX:SharedArchiveFile=/nonexistent/x.jsa"]

    def __init__(self):
        self.events = []

    def java_options(self, user):
        return " ".join([*self.flags, *([user] if user else [])])

    def started(self, spark, proc):
        self.events.append("started")

    def failed(self):
        self.events.append("failed")


class _Builder:
    """Records the conf dir and java options each ``getOrCreate`` sees;
    the first ``fail`` calls raise as a JVM that did not start."""

    def __init__(self, fail=0):
        self.conf, self.seen, self.fail = {}, [], fail

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.seen.append((os.environ.get("SPARK_CONF_DIR"), self.conf.get(session._JAVA_OPTS)))
        if self.fail:
            self.fail -= 1
            raise RuntimeError("Java gateway process exited")
        return "session"


@pytest.mark.parametrize("before", [None, "/some/conf"])
def test_spark_conf_dir_restored_after_launch(monkeypatch, before):
    if before is None:
        monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    else:
        monkeypatch.setenv("SPARK_CONF_DIR", before)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    launch, b = _Launch(), _Builder()
    assert session._get_or_create(b, launch, "-Dx=1") == "session"
    assert b.seen == [(launch.conf_dir, launch.flags[0] + " -Dx=1")]
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert launch.events == ["started"]

    # a JVM that does not start with the flags starts again without them
    launch, b = _Launch(), _Builder(fail=1)
    assert session._get_or_create(b, launch, "-Dx=1") == "session"
    assert b.seen == [(launch.conf_dir, launch.flags[0] + " -Dx=1"), (before, "-Dx=1")]
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert launch.events == ["failed"]


def test_shared_session_driver_jvm_uses_the_archive(spark):
    """The shared session's driver JVM maps the published archive, or, on
    a machine with none yet, is the one session that writes it at exit."""
    jvm = spark._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    flags = {a.split("=", 1)[0]: a.split("=", 1)[1] for a in args if a.startswith("-XX:") and "=" in a}
    if "-XX:ArchiveClassesAtExit" in flags:
        marker = flags["-XX:ArchiveClassesAtExit"].rsplit(".dump-", 1)[0] + ".dump"
        with open(marker) as f:
            rec = json.load(f)
        assert rec["pid"] == pid
        assert rec["classpath"] == jvm.System.getProperty("java.class.path")
    else:
        archive = flags["-XX:SharedArchiveFile"]
        assert cds.mapped_archive(pid) == archive
    assert "-Xlog:cds*=off" in args
