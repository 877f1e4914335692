#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Runs one workload in this fresh process on ``local[<usable cores>]``: makes
the seed's inputs (untimed, cached under perfbench/.work), computes the
DuckDB oracle answers (untimed, cached), times the job on a fresh Catalog,
checks every committed table against its oracle, simulates a kill and times
the resume (the median of three), and checks again. Prints a detail record
and, as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``, or no metrics at all when an output did not match its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline", "curation")


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # JVMs otherwise write their perf-data file to /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    from perfbench import host

    t_process = host.process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wikipedia_wikidata_spark")):
        print("wikipedia_wikidata_spark package not found next to perfbench/", file=sys.stderr)
        return 2

    from perfbench.inputs import WORK

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    scratch = os.path.join(WORK, "runs", run_id)
    _isolate(scratch)
    from perfbench import measure

    spark = None
    try:
        from wikipedia_wikidata_spark.session import get_spark

        nproc = host.nproc()
        master = f"local[{nproc}]"
        t_call = time.time()
        spark = get_spark(f"perfbench-{args.workload}", master=master)
        t_ready = time.time()
        spark.sparkContext.setLogLevel("ERROR")
        record, result = measure.run(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            run_id, scratch, master=master, nproc=nproc,
            setup_s=t_ready - t_process, session_span=(t_call, t_ready),
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    record["phases_s"]["stop_s"] = time.perf_counter() - t
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT
    sys.exit(main())
