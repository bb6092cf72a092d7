"""Run-level plumbing: scratch directory, environment record, the Spark
session with the benchmark's settings, and process-tree counters.

Everything here reads the engine from outside: CPU and memory come from
``/proc`` for this process and every process it started (the driver JVM
and its Python workers), never from hooks inside the engine.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds of this process tree: each live process's own time
    plus that of its children it has already reaped, so a worker that
    exited still counts once, in its parent."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_reset_peak_rss() -> None:
    """Restart the peak-RSS high-water mark of every process in the tree."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def stop_children(timeout: float = 30.0) -> None:
    """Terminate, then kill, whatever this process started and still
    runs; reap every direct child."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in tree_pids() if p != me]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + timeout
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if len(tree_pids()) == 1:
                return
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> dict[str, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7]}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _git_commit() -> str:
    """HEAD of the checkout if it is a git work tree, else 'unknown'."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


class EnvRecord:
    """nproc, load and CPU steal before/after the run, versions, commit."""

    def __init__(self) -> None:
        self.before = {"loadavg": _loadavg(), **_cpu_jiffies()}

    def finish(self) -> dict:
        import pyspark

        after = {"loadavg": _loadavg(), **_cpu_jiffies()}
        d_total = max(after["total"] - self.before["total"], 1)
        return {
            "nproc": nproc(),
            "loadavg_before": self.before["loadavg"],
            "loadavg_after": after["loadavg"],
            "steal_share": (after["steal"] - self.before["steal"]) / d_total,
            "git_commit": _git_commit(),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }


# ---------------------------------------------------------------------------
# scratch + session
# ---------------------------------------------------------------------------


class Scratch:
    """A per-run directory under the checkout, removed when the run ends."""

    def __init__(self, tag: str) -> None:
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"{tag}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(scratch: Scratch) -> None:
    """Process environment every JVM and Python worker of the run inherits:
    the checkout on the workers' path, ``local[nproc]``, driver memory
    under the box's RAM, and all temp/spill space inside the scratch dir."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        GJSPARK_DRIVER_MEM=f"{max(1, min(4, int(mem_gb // 4)))}g",
        SPARK_LOCAL_DIRS=scratch.sub("spark-local"),
        TMPDIR=scratch.sub("tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )


def spark_conf(scratch: Scratch) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": scratch.sub("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch.sub('tmp')} -XX:-UsePerfData"
        ),
    }


def _worker_round_trip(spark) -> None:
    """One Arrow batch through a Python worker on every task slot."""
    n = nproc()
    spark.range(4 * n, numPartitions=n).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).collect()


def start_session(scratch: Scratch, tracer, cycles: int = 3):
    """Start the session ``cycles`` times (stop in between) and keep the
    last one. Each cycle is a SparkContext start plus the first
    Python-worker round trip; the first cycle also launches the JVM.
    -> (spark, [{"start_s", "worker_warm_s"} per cycle])."""
    from gjspark.session import get_spark

    conf = spark_conf(scratch)
    samples = []
    spark = None
    for i in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session"):
            spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("session.worker_round_trip", "session"):
            _worker_round_trip(spark)
        t2 = time.perf_counter()
        samples.append({"start_s": t1 - t0, "worker_warm_s": t2 - t1})
    return spark, samples


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM gateway down and reap every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    pass
        stop_children()


def emit(result: dict) -> None:
    print(json.dumps(result), flush=True)
