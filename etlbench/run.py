"""Run one benchmark workload and print its metrics.

    python3 etlbench/run.py --workload etl_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a betl_spark checkout: the package is imported from
the current directory. All scratch files live under ``.etlbench/`` there
and are removed at exit; a traced run keeps its spans in
``.etlbench/traces/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``); the line above it gives the number of timed batches and
pipeline tasks the metrics rest on. A run in which any batch failed or
was incorrect still prints its result, and exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to stop means kill
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [os.getcwd(), HERE]
    import harness

    t_start, cpu_start = harness.proc_start_time(), harness.cpu_jiffies()
    if not os.path.isfile(os.path.join(os.getcwd(), "betl_spark", "__init__.py")):
        print("etlbench: no betl_spark package in the current directory", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"etlbench: unknown workload {args.workload!r}; "
              f"have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    out_root = os.path.join(os.getcwd(), ".etlbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    os.makedirs(work)
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.execute(t_start, cpu_start)
        stop_spark(run.spark)
        run.spark = None
        metrics = run.metrics()
        if run.tracer is not None:
            run.tracer.write(os.path.join(
                out_root, "traces", f"{args.workload}-seed{args.seed}.json"
            ))
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name:<40} {value:>16.6g} {unit}")
    times = " ".join(f"{b['time']:.2f}/{b['wall']:.2f}" for b in run.batches)
    n_tasks = sum(b["tasks"] for b in run.batches)
    print(f"{args.workload}: setup {run.setup_s:.2f} s, {len(run.batches)} timed batches "
          f"[{times}] s (time/wall), {n_tasks} timed tasks, "
          f"{run.attempted} attempted, {run.failed} failed")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if run.failed else 0


if __name__ == "__main__":
    sys.exit(main())
