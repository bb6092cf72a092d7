"""Class-data-sharing (AppCDS) archive for the local driver JVM.

A fresh driver JVM parses about 15k classes from Spark's jars and the
JDK's modules before its first query returns. A JDK dynamic AppCDS
archive holds those classes already parsed, and a JVM started from it
maps the archive instead (on a 4-core host ``tools/worker_overhead.py``
reads ``boot_s`` 7.3 -> 4.0 s). ``get_spark`` asks ``plan`` for launch flags before it
starts a local JVM and reports the launch back to the returned ``Plan``:

- The archive is keyed by the ``java`` binary, the Spark version and the
  ``$SPARK_HOME/jars`` listing (names, sizes, mtimes), and lives under
  ``${XDG_CACHE_HOME:-~/.cache}/gjspark/cds/``.
- With no archive yet, the JVM gets ``-XX:ArchiveClassesAtExit=<candidate>``
  and writes the candidate when it exits (about 9 s on that run's
  teardown). One session dumps at a time: it holds a marker file, created
  exclusively, that names the dumping process, the candidate and the
  JVM's exact class path. The interpreter waits at exit, up to
  ``DUMP_WAIT_S``, for that JVM to finish.
- The next start validates the candidate: ``java -Xshare:on
  -XX:SharedArchiveFile=<candidate> -cp <that class path> -version`` must
  exit 0, because a JVM that maps a truncated archive dies of SIGBUS. A
  valid candidate is published with ``os.replace``; any other is deleted.
  So a key holds at most one archive and one candidate.
- With a published archive whose size and mtime are those it was
  validated with, the JVM gets ``-XX:SharedArchiveFile=<archive>``.

A dynamic archive cannot be dumped with a non-empty directory on the
class path, and Spark's launcher puts ``$SPARK_CONF_DIR`` (default
``$SPARK_HOME/conf``) there. When that directory holds only
``*.template`` files, or does not exist, the launch sees a fixed empty
directory instead, which holds nothing Spark would read either. A conf
dir with any other file, ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR``, a
directory on the driver's extra class path, or a cluster master skips
CDS. The JVM's CDS log output is switched off: it would print on the
driver's stdout. Every decision is logged here; any error keeps the
plain launch.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import logging
import os
import shutil
import subprocess
import time

log = logging.getLogger(__name__)

DUMP_WAIT_S = 60.0
_QUIET = "-Xlog:cds*=off"


def pid_alive(pid) -> bool:
    if not isinstance(pid, int) or pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # exists but not ours — treat as alive
    return True


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "gjspark", "cds")


def conf_dir_replaceable(conf_dir: str) -> bool:
    """True when ``conf_dir`` is missing or holds only ``*.template`` files."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def mapped_archive(pid: int) -> str | None:
    """The archive under ``cache_dir()`` that process ``pid`` maps, if any."""
    root = cache_dir() + os.sep
    with open(f"/proc/{pid}/maps") as f:
        for line in f:
            path = line.rstrip("\n").split(maxsplit=5)[5:]
            if path and path[0].startswith(root) and path[0].endswith(".jsa"):
                return path[0]
    return None


def validate(java: str, archive: str, classpath: str) -> bool:
    """Whether a JVM on ``classpath`` maps ``archive`` (in a throwaway JVM)."""
    cmd = [
        java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
        "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
        "-cp", classpath, "-version",
    ]
    try:
        r = subprocess.run(cmd, stdin=subprocess.DEVNULL, capture_output=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired) as e:
        log.warning("cds validation of %s did not run: %s", archive, e)
        return False
    if r.returncode:
        tail = (r.stdout + r.stderr).decode(errors="replace").strip().splitlines()[-1:]
        log.warning("cds validation of %s exited %d %s", archive, r.returncode, tail)
    return r.returncode == 0


def _java() -> str | None:
    """The ``java`` Spark's launch script runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _key(java: str, spark_home: str, extra_cp: str) -> str:
    import pyspark

    st = os.stat(java)
    h = hashlib.sha256(
        f"{java}\0{st.st_size}\0{st.st_mtime_ns}\0{pyspark.__version__}\0{extra_cp}".encode()
    )
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            s = e.stat()
            h.update(f"\0{e.name}\0{s.st_size}\0{s.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, obj: dict, exclusive: bool = False) -> bool:
    """Write ``obj`` whole: to a temp file, then renamed over ``path`` or,
    when ``exclusive``, linked to it (False if ``path`` exists)."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    try:
        if not exclusive:
            os.replace(tmp, path)
            return True
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        if exclusive:
            os.unlink(tmp)


def _quote(flag: str) -> str:
    """One option for Spark's launcher, which splits option strings on
    whitespace outside quotes."""
    return '"' + flag.replace("\\", "\\\\").replace('"', '\\"') + '"'


class Plan:
    """Archive files of one key and what this launch does with them."""

    def __init__(self, root: str, key: str, conf_dir: str) -> None:
        self.conf_dir = conf_dir
        self.archive = os.path.join(root, f"{key}.jsa")
        self.stamp = os.path.join(root, f"{key}.jsa.json")
        self.marker = os.path.join(root, f"{key}.dump")
        self.candidate: str | None = None
        self.flags: list[str] = []

    def settle(self) -> bool:
        """Finish the dump a stopped session left: publish its candidate if
        it validates, else delete it. False while a live process dumps."""
        try:
            rec = _read_json(self.marker)
        except FileNotFoundError:
            return True
        except ValueError:
            rec = {}
        if pid_alive(rec.get("pid")):
            return False
        claimed = f"{self.marker}.{os.getpid()}"
        try:
            os.rename(self.marker, claimed)
        except FileNotFoundError:
            return False  # another session took it over
        try:
            cand = rec.get("candidate")
            if not (cand and os.path.exists(cand)):
                return True
            if rec.get("classpath") and validate(rec["java"], cand, rec["classpath"]):
                st = os.stat(cand)
                _write_json(self.stamp, {"size": st.st_size, "mtime_ns": st.st_mtime_ns})
                os.replace(cand, self.archive)
                log.info("cds archive %s published", self.archive)
            else:
                os.unlink(cand)
                log.warning("cds candidate %s failed validation; deleted", cand)
        finally:
            os.unlink(claimed)
        return True

    def published(self) -> bool:
        """Whether the archive is the file that was validated."""
        try:
            st = os.stat(self.archive)
            want = _read_json(self.stamp)
        except (FileNotFoundError, ValueError):
            return False
        if [st.st_size, st.st_mtime_ns] == [want.get("size"), want.get("mtime_ns")]:
            return True
        log.warning("cds archive %s is not the validated file; deleted", self.archive)
        self._drop()
        return False

    def claim_dump(self) -> bool:
        cand = os.path.join(
            os.path.dirname(self.archive),
            f"{os.path.basename(self.marker)}-{os.getpid()}-{time.time_ns()}.jsa",
        )
        if not _write_json(self.marker, {"pid": os.getpid(), "candidate": cand}, True):
            return False
        self.candidate = cand
        return True

    def java_options(self, user: str | None) -> str:
        """``spark.driver.defaultJavaOptions``: these flags, then the caller's."""
        return " ".join([*(_quote(f) for f in self.flags), *([user] if user else [])])

    def started(self, spark, proc) -> None:
        """Record the launched JVM: for a dump its pid and exact class path
        (validation needs both) and a bounded wait at exit; else log
        whether it mapped the archive."""
        jvm = spark._jvm
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        if self.candidate is None:
            got = mapped_archive(pid)
            if got == self.archive:
                log.info("cds archive %s mapped by driver JVM %d", got, pid)
            else:
                log.warning("cds archive %s not mapped by driver JVM %d", self.archive, pid)
            return
        java = os.path.join(jvm.System.getProperty("java.home"), "bin", "java")
        _write_json(self.marker, {
            "pid": pid, "candidate": self.candidate, "java": java,
            "classpath": jvm.System.getProperty("java.class.path"),
        })
        log.info("cds dumping %s when driver JVM %d exits", self.candidate, pid)
        if proc is not None:
            atexit.register(_await_dump, proc, self.candidate)

    def failed(self) -> None:
        """The JVM did not start with these flags: drop what they named."""
        if self.candidate is None:
            self._drop()
            return
        for path in (self.candidate, self.marker):
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass

    def _drop(self) -> None:
        for path in (self.archive, self.stamp):
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass


def _await_dump(proc, candidate: str) -> None:
    """At interpreter exit: close the JVM's stdin (it exits on EOF) and
    wait for it to write ``candidate``; kill it after ``DUMP_WAIT_S``
    (the partial candidate then fails validation)."""
    if proc.poll() is not None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log.warning("cds dump of %s took over %.0f s; JVM killed", candidate, DUMP_WAIT_S)


def plan(master: str, conf: dict[str, str]) -> Plan | None:
    """Launch plan for a driver JVM about to start on ``master`` with the
    caller's ``conf``, or None (logged) to launch it as before."""
    try:
        return _plan(master, conf)
    except Exception:  # noqa: BLE001 — the session must start regardless
        log.warning("cds skipped: archive setup failed", exc_info=True)
        return None


def _plan(master: str, conf: dict[str, str]) -> Plan | None:
    from pyspark.find_spark_home import _find_spark_home

    def skip(why, *args):
        log.info("cds skipped: " + why, *args)

    if not (master == "local" or master.startswith("local[")):
        return skip("cluster master %s", master)
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not conf_dir_replaceable(conf_dir):
        return skip("conf dir %s holds non-template files", conf_dir)
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if os.environ.get(var):
            return skip("%s puts a directory on the class path", var)
    extra = os.pathsep.join(
        v for v in (
            conf.get("spark.driver.extraClassPath"),
            os.environ.get("SPARK_CLASSPATH"),
            os.environ.get("SPARK_DIST_CLASSPATH"),
        ) if v
    )
    dirs = [p for p in extra.split(os.pathsep) if p and os.path.isdir(p)]
    if dirs:
        return skip("directory %s on the driver class path", dirs[0])
    java = _java()
    if java is None:
        return skip("no java binary")
    root = cache_dir()
    empty = os.path.join(root, "conf")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        return skip("%s is not empty", empty)
    p = Plan(root, _key(java, spark_home, extra), empty)
    idle = p.settle()
    if p.published():
        p.flags = [f"-XX:SharedArchiveFile={p.archive}", _QUIET]
        log.info("cds archive %s", p.archive)
    elif idle and p.claim_dump():
        p.flags = [f"-XX:ArchiveClassesAtExit={p.candidate}", _QUIET]
    else:
        return skip("another session is dumping %s", p.archive)
    return p
