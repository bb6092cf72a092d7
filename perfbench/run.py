"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload {images,contract} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run is one fresh process with one
fresh JVM on ``local[nproc]``; it writes only under ``.perfbench_tmp/``
(removed when the run ends) and, when traced, ``.perfbench_out/``.

With ``--trace 0`` the last stdout line is the end-to-end result:

- ``setup_s``: median of three session starts, each a SparkContext start
  plus the first Python-worker round trip (the first also launches the
  JVM);
- ``wall_s``: the timed pass (``images``: the cold job plus the analyst
  calls; ``contract``: the ten queries);
- ``rows_per_s``: input rows / ``wall_s`` (images per second on
  ``images``, table rows per second on ``contract``);
- ``cpu_s``: CPU of this process, the JVM and its Python workers during
  the timed pass;
- ``peak_rss_mb``: the summed peak resident memory of those processes.

``failed`` counts failed calls plus oracle mismatches, so
``failed / attempted`` is the error rate. The lines before the last
repeat every metric with its unit, plus the error rate, ``images_per_s``
and the environment record (nproc, load and CPU steal before/after,
commit, versions). Those extra figures are not in the last line: it
carries only metrics every workload has, never 0.

With ``--trace 1`` the run also times traced passes, alternating with
untraced ones, and prints the per-layer metrics instead; the spans are
written to ``.perfbench_out/trace-<run id>.json``. On ``images`` each
traced pass also simulates a crash and resumes the job; the lines
before the last then add ``resume_wall_s``, the rerun's median wall
time (traced, so it carries the tracing overhead).
"""

from __future__ import annotations

import sys
import time

T0 = time.perf_counter()
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import traceback  # noqa: E402

import harness  # noqa: E402
from harness import ROOT  # noqa: E402

TIME_LIMIT_S = 175


class RunTimeout(BaseException):
    """Raised by the alarm or SIGTERM; not an ``Exception``, so no pass
    swallows it and the run still stops its JVM and workers."""


def _timeout(signum, frame):
    raise RunTimeout(f"run stopped by signal {signum} (time limit {TIME_LIMIT_S} s)")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("images", "contract"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="image sample rows for the images workload "
                   "(default: the benchmark's size; tests use fewer)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gjspark", "session.py")):
        print(f"perfbench: no gjspark source tree under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import Tracer

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    tracer.enabled = bool(args.trace)
    scratch = harness.Scratch(args.workload)
    env = harness.EnvRecord()
    spark = None
    try:
        harness.configure_env(scratch)
        workloads._log(f"started {time.perf_counter() - T0:.2f} s after launch")
        spark, setup = harness.start_session(scratch, tracer)
        tracer.enabled = False
        workloads._log("session cycles " + ", ".join(
            f"{s['start_s']:.2f}+{s['worker_warm_s']:.2f} s" for s in setup))
        rows = args.rows or workloads.N_IMAGES.get(args.workload, 0)
        run = workloads.Run(spark, scratch, args.seed, args.seconds, bool(args.trace),
                            tracer, rows)
        res = workloads.WORKLOADS[args.workload](run)
        layers = workloads.finish_layers(run, setup) if args.trace else None
    except (Exception, RunTimeout):
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        t0 = time.perf_counter()
        if spark is not None:
            harness.stop_session(spark)
        scratch.close()
        print(f"perfbench: teardown {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    record = env.finish()
    e2e = {
        "setup_s": harness.median([s["start_s"] + s["worker_warm_s"] for s in setup]),
        "wall_s": res["wall_s"],
        "rows_per_s": res["rows"] / res["wall_s"],
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    report = {k: (v, workloads.END_TO_END[k]) for k, v in e2e.items()}
    if args.workload in workloads.N_IMAGES:
        report["images_per_s"] = (e2e["rows_per_s"], "1/s")
    if "resume_wall_s" in res:
        report["resume_wall_s"] = (res["resume_wall_s"], "s")
    report["error_rate"] = (run.failed / max(run.attempted, 1), "ratio")
    report["passes"] = (res["passes"], "count")
    print("perfbench env " + json.dumps(record))
    for k, (v, unit) in report.items():
        print(f"perfbench {args.workload} {k} = {v:.6g} {unit}")
    if args.trace:
        units = workloads.per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{run_id}.json"),
            {"env": record, "end_to_end": e2e, "per_layer": layers},
        )
    else:
        metrics = {k: {"value": v, "unit": workloads.END_TO_END[k]} for k, v in e2e.items()}
    harness.emit(
        {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
