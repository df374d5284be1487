"""Benchmark entry point.

    python3 perfbench/run.py --workload {medallion_batch,merge_churn}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Exits non-zero when a check fails or the
engine cannot be imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["medallion_batch", "merge_churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark and Python write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # as nproc
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to end, also when the session
    failed to start or a terminated call left the Py4J connection broken."""
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001  (the JVM is stopped below)
            print(f"spark.stop failed: {e!r}", file=sys.stderr)
    gw = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gw = getattr(gw, "_gateway", None)
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception as e:  # noqa: BLE001
        print(f"gateway shutdown failed: {e!r}", file=sys.stderr)
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # stdout carries only the result line; everything else (the JVM's
    # output included, which inherits fd 1) goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("ecommerce_dbt_medallion_spark") is None:
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        _isolate(run_dir)
        from perfbench import workloads
        from ecommerce_dbt_medallion_spark import api  # noqa: F401  (imports every layer)
        from ecommerce_dbt_medallion_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).count()
        session_start_s = time.perf_counter() - t0
        res = workloads.execute(spark, args.workload, args.seed, args.seconds,
                                bool(args.trace), run_dir, session_start_s)
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    print(f"wall {time.perf_counter() - t_main:.1f} s", file=sys.stderr)
    for f in res["failures"]:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if res["ties"]:
        print(f"KNOWN DIVERGENCE: {res['ties']} rows matched the oracle only up to a "
              "round-half tie (see perfbench/README.md)", file=sys.stderr)
    print(f"{args.workload} seed={args.seed}: {res['rounds']} rounds", file=sys.stderr)
    for k, m in res["metrics"].items():
        print(f"  {k:40s} {m['value']:>14.6g} {m['unit']}", file=sys.stderr)
    if res["layer_table"]:
        print("end-to-end metrics of this traced run:", file=sys.stderr)
        for k, (v, u) in res["e2e"].items():
            print(f"  {k:40s} {v:>14.6g} {u}", file=sys.stderr)
        print(f"  {'layer':16s} {'calls':>6s} {'self_s':>9s} {'share':>6s} {'jobs':>5s}",
              file=sys.stderr)
        for layer, calls, self_s, share, jobs in res["layer_table"]:
            print(f"  {layer:16s} {calls:6d} {self_s:9.3f} {share:6.1%} {jobs:5d}",
                  file=sys.stderr)
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
