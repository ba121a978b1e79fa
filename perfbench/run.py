"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload nightly_l5 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the traced pass and prints the per-layer
metrics (see perfbench/README.md). The last line of standard output is
the result; the line before it records the host noise and settings of
the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("nightly_l5", "query_mix")


def _settings(root: str, work: str) -> dict:
    """Process environment for the session: all scratch space inside
    the checkout, one local executor per core, a small driver heap."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_SQL_SHUFFLE_PARTITIONS": cpus,
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"),
    })
    import tempfile
    tempfile.tempdir = tmp
    return {"nproc": int(cpus), "spark_cores": int(cpus),
            "shuffle_partitions": int(cpus), "driver_memory": "2g"}


def _make(workload: str, spark, work: str, seed: int):
    if workload == "query_mix":
        from perfbench.query_mix import QueryMix
        return QueryMix(spark, work, seed, ROOT)
    from perfbench.etl import Nightly
    return Nightly(spark, work, seed)


def _stop(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (it exits when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import from the checkout root; the script's own directory would
    # shadow standard modules
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import linz_bde_uploader_spark  # noqa: F401 - the program under test
        if args.workload == "query_mix":
            import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = _settings(ROOT, work)

    from linz_bde_uploader_spark.session import get_spark

    from perfbench.measure import measure

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = _make(args.workload, spark, work, args.seed)
        out = measure(wl, spark, args, session_s, ROOT)
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              **settings, **out["record"]}
    print("perfbench-run " + json.dumps(record, sort_keys=True))
    for p in out["problems"]:
        print(f"perfbench-check FAILED {p}")
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
