"""Benchmark entry point.

    python3 perfbench/run.py --workload <commerce|ad-stream> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/``, starts one Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: the number of usable cores),
sets up, measures for about ``--seconds``, checks the program's
outputs, and prints two JSON lines on stdout: the run's provenance,
then the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics and writes the spans to
``.perfbench_work/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("commerce", "ad-stream")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench.batch import WORKLOADS as BATCH

    units = {
        # whole-run figures too unsteady to carry a bound (see README.md)
        "epoch_p50_s": "s",
        "epoch_p90_s": "s",
        "peak_rss_mb": "MiB",
        "session.start_s": "s",
        "session.warmup_s": "s",
        "sources.load_table_calls": "count",
        "sources.load_table_s": "s",
        "sources.load_table_jobs": "count",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.plan_s": "s",
        "operators.exec_s": "s",
        "operators.jobs": "count",
        "operators.stages": "count",
        "operators.tasks": "count",
        "operators.task_run_s": "s",
        "operators.task_cpu_s": "s",
        "operators.busy_cores": "cores",
        "operators.shuffle_read_mb": "MiB",
        "operators.shuffle_write_mb": "MiB",
        "operators.spill_mb": "MiB",
        "operators.input_mb": "MiB",
        "operators.gc_s": "s",
        "operators.failed_tasks": "count",
        "operators.result_rows": "count",
        "operators.python_rows": "count",
        "operators.python_mb_sent": "MiB",
        "operators.python_run_s": "s",
        "cache.persist_calls": "count",
        "cache.bounded_calls": "count",
        "cache.storage_mb_peak": "MiB",
        "cache.reset_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.latest_offset_s": "s",
        "streaming.query_planning_s": "s",
        "streaming.wal_commit_s": "s",
        "streaming.jobs_per_epoch": "count",
        "streaming.rows_per_epoch": "count",
        "streaming.rows_per_s": "1/s",
        "streaming.blacklisted_rows_dropped": "count",
        "sinks.user_counts_s": "s",
        "sinks.blacklist_s": "s",
        "sinks.cumulative_s": "s",
        "sinks.top3_s": "s",
        "sinks.trend_s": "s",
        "sinks.read_state_s": "s",
        "sinks.read_state_calls": "count",
        "sinks.bytes_written_per_row": "B",
        "sinks.state_bytes_per_row": "B",
        "trace.overhead_s": "s",
        "trace.accounted_min": "ratio",
    }
    units.update({f"query.{q}_s": "s" for q in BATCH["commerce"]})
    return units


def _provenance(args, spark) -> dict:
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=ROOT, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    from perfbench import datagen

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "sf": datagen.SF,
        "spark_version": spark.version,
        "git_head": head or "unknown",
    }


def _environment(work: Path) -> None:
    """Settings the run needs before the JVM starts: UTC everywhere,
    pandas-UDF workers able to import the package, and every scratch
    file inside the checkout."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM the run launches: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: Path) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(ROOT / "tests"))
    from perfbench import batch, datagen, stream

    data_dir = str(work / "data")
    if args.workload != "ad-stream":
        datagen.write_tables(args.seed, data_dir)

    t0 = time.perf_counter()
    import bench  # noqa: F401 — the repository's harness (query registry, cache reset)
    from bigdata_commerce_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        if args.workload == "ad-stream":
            out = stream.run(spark, str(work), args.seed, args.seconds, bool(args.trace), start_s)
        else:
            out = batch.run(
                spark, args.workload, data_dir, args.seconds, bool(args.trace), start_s
            )
        prov = _provenance(args, spark)
    finally:
        _stop(spark)
    return out, prov


def result_record(out: dict, trace: bool) -> dict:
    units = _per_layer_units() if trace else END_TO_END
    values = {**out["end_to_end"], **out["per_layer"]} if trace else out["end_to_end"]
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    return {
        "correct": out["failed"] == 0 and finite,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    _environment(work)

    # JVM and operator writes to fd 1 would corrupt the result line:
    # send fd 1 to stderr for the run, as bench.main does.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        out, prov = run(args, work)
        record = result_record(out, bool(args.trace))
        if args.trace:
            traces = base / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            path = traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            path.write_text(json.dumps({"provenance": prov, **out["trace"]}, default=str))
            print(f"trace written to {path}", file=sys.stderr)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": prov, "errors": out["errors"], "units_s": out["units_s"]}))
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
