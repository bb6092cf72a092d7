"""Session factory: the shared scratch sweeper must never delete a live
Spark job's spark.local.dir (shuffle data loss), and local-mode Python
workers run under ``gjspark.pydaemon``: the installed pyspark (not
``pyspark.zip``), pandas and pyarrow loaded before the fork, and the
zipimport backport."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from gjspark import pydaemon, session


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
