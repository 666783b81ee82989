#!/usr/bin/env python3
"""Benchmark of the POS engine: one workload per process.

    python3 perfbench/run.py --workload daily_file --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts a ``local[4]`` session,
generates the workload's inputs from ``--seed``, runs one untimed
warm-up pass, then runs operations until their summed time reaches
``--seconds`` and checks every operation's output. The last line of
stdout is one JSON object: the end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the measured pass is traced and the run reports the
per-layer metrics instead (see layers.py), and writes the spans to
``.perfbench_out/``. A readable summary goes to stderr.

``--workload all`` runs every workload, one process each, and exits
non-zero when any operation failed or any output mismatched.

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("daily_file", "landing_stream", "query_mix")
E2E_UNITS = {"op_s_p50": "s", "throughput_per_s": "1/s", "setup_s": "s"}
#: the name each workload's headline figure goes by in the readable summary
HEADLINE = {
    "daily_file": ("records_per_s", "throughput_per_s", "records/s"),
    "landing_stream": ("cycle_s_p50", "op_s_p50", "s"),
    "query_mix": ("queries_per_s", "throughput_per_s", "queries/s"),
}
REQUIRED = ("pos_data_insertion_etl_spark/__init__.py", "tests/oracle_harness.py")


def start_session(work: str):
    from pos_data_insertion_etl_spark.session import get_session

    conf = {
        # the progress bar cannot be turned off once the JVM runs
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    spark = get_session(
        "perfbench", master="local[4]", shuffle_partitions=4, extra_confs=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from layers import UNITS, layer_values
    from spans import Tracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer.start()
        p = wl.run_pass(args.seconds)
        attempted, failed = p["attempted"], p["failed"]
        detail = {"setup_s": setup_s, "session_s": session_s, **wl.summary(p),
                  "op_times": p["times"], "mismatch": getattr(wl, "mismatch", [])}
        if args.trace:
            tracer.drain()
            values = layer_values(wl, detail, len(tracer.unattributed))
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"
            ))
            detail["layers"] = values
        else:
            metrics = {
                k: {"value": detail[k], "unit": u} for k, u in E2E_UNITS.items()
            }
        for k in ("rates", "table_rows"):
            if hasattr(wl, k):
                detail[k] = getattr(wl, k)
    finally:
        stop_session(spark)
    name, key, unit = HEADLINE[args.workload]
    print(
        f"{args.workload}: {name}={detail[key]:.4g} {unit}  setup_s={setup_s:.3f} s"
        f"  failed_frac={failed / attempted:.4g} ({failed}/{attempted})",
        file=sys.stderr,
    )
    print(json.dumps(detail, default=str), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Each workload in its own process; non-zero if any op failed."""
    bad = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"{name}: exited {out.returncode}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += 0 if res["correct"] else 1
        for metric, m in res["metrics"].items():
            print(f"{name} {metric} {m['value']:.6g} {m['unit']}")
        print(f"{name} failed_frac {res['failed'] / res['attempted']:.6g} ratio")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a repository checkout, missing {missing}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # temp files of the engine, the JVM and the Python workers stay in work
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = None
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
