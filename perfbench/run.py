"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|ingest_rw|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the inputs from the seed,
sets the program up, runs one closed loop for about ``--seconds``, checks
every output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers around the program's public functions and prints the per-layer
metrics instead (see NOTES.md). Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

WORKLOADS = ("dashboard", "ingest_rw", "analytics")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    here = os.path.dirname(os.path.abspath(__file__))
    checkout = os.path.dirname(here)
    if not os.path.isdir(os.path.join(checkout, "cardinalsin_spark")):
        print(f"no cardinalsin_spark package under {checkout}", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)

    work = os.path.join(checkout, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the program, Spark and Python workers write inside
    # the checkout, and size the session to this host
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\""
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " pyspark-shell"
    )

    import harness
    import spans

    tracer = None
    if args.trace:
        tracer = spans.Tracer()
        spans.install(tracer)
    try:
        ctx = harness.Ctx(args.seed, args.seconds, work, tracer)
        res = importlib.import_module(args.workload).run(ctx)
        loop = res["loop"]
        # a traced run also has untraced rounds; their ops count too
        loops = [loop] if res["base"] is None else [loop, res["base"]]
        attempted = sum(lp.attempted for lp in loops)
        failed = sum(lp.failed for lp in loops)
        for e in [e for lp in loops for e in lp.errors][:20]:
            print(f"FAILED {e}", flush=True)
        print(
            f"phases: setup {res['metrics']['setup_s']['value']:.1f} s,"
            f" timed {loop.elapsed_s:.1f} s, checks {res['checks_s']:.1f} s,"
            f" run so far {time.perf_counter() - T_START:.1f} s",
            flush=True,
        )
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": res["layers"] if args.trace else res["metrics"],
        }
        if args.trace:
            print("end-to-end (traced loop):", json.dumps(res["metrics"]), flush=True)
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(out), flush=True)
    return 0


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
