"""Fixed cost of a Python task: identity ``mapInPandas`` jobs over tiny partitions.

Starts a session with ``get_spark`` and runs one warm-up job that starts
the Python daemon and forks its workers; ``boot_s`` times both, and the
warm-up reports where the workers imported ``pyspark`` from
(``pyspark_origin``). Then it runs ``--jobs`` timed jobs, each an
identity ``mapInPandas`` over ``--partitions`` partitions of 8 rows, so
almost all of a task's cost is the worker's per-task setup. Python-worker
CPU is read from ``/proc``: every process under this one started with
``-m <...>daemon`` (the daemon and the workers it forked), own time plus
that of its reaped children.

Usage: python tools/worker_overhead.py [--jobs 10] [--partitions 8]
       [--master local[4]]
Prints one JSON line, naming the Python daemon ``get_spark`` configured
and, as ``cds``, the class-data-sharing archive the driver JVM mapped
(null without one; see ``gjspark.cds``). ``boot_s`` includes the JVM
start, so it is the cold cost of a session's first Python job;
``first_job_s`` is that job alone, where the daemon boots.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, list[str]]]:
    """pid -> (ppid, CPU ticks incl. reaped children, argv)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # ppid is field 4, utime/stime/cutime/cstime fields 14-17 of proc(5)
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), argv)
    return out


def python_worker_cpu_s() -> float:
    table = _proc_table()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        for child, (ppid, ticks, argv) in table.items():
            if ppid != pid:
                continue
            todo.append(child)
            if "-m" in argv[:-1] and argv[argv.index("-m") + 1].endswith("daemon"):
                total += ticks
    return total / _TICK


def _pyspark_origin(batches):
    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    yield pd.DataFrame({"origin": [os.path.dirname(os.path.dirname(pyspark.__file__))]})


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--jobs", type=int, default=10)
    p.add_argument("--partitions", type=int, default=8)
    p.add_argument("--master", default="local[4]")
    args = p.parse_args(argv)

    from gjspark.cds import mapped_archive
    from gjspark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    t0 = time.perf_counter()
    spark = get_spark("worker_overhead", master=args.master, extra_conf=conf)
    t1 = time.perf_counter()
    df = spark.range(8 * args.partitions, numPartitions=args.partitions)
    # the daemon starts and forks its workers in this first job
    probe = df.mapInPandas(_pyspark_origin, "origin string")
    origins = {r.origin for r in probe.collect()}
    t2 = time.perf_counter()
    boot, first_job = t2 - t0, t2 - t1
    archive = mapped_archive(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    job = df.mapInPandas(lambda it: (pdf for pdf in it), "id long")
    job.collect()  # warm-up of the timed plan
    cpu0, t0 = python_worker_cpu_s(), time.perf_counter()
    for _ in range(args.jobs):
        job.collect()
    wall, cpu = time.perf_counter() - t0, python_worker_cpu_s() - cpu0
    tasks = args.jobs * args.partitions
    print(json.dumps({
        "daemon": spark.sparkContext.getConf().get(
            "spark.python.daemon.module", "pyspark.daemon"
        ),
        "python": sys.version.split()[0],
        "master": args.master,
        "jobs": args.jobs,
        "partitions": args.partitions,
        "boot_s": round(boot, 3),
        "first_job_s": round(first_job, 3),
        "pyspark_origin": sorted(origins),
        "cds": archive,
        "wall_s_per_job": round(wall / args.jobs, 4),
        "worker_cpu_s_per_task": round(cpu / tasks, 4),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
