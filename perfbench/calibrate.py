"""Compare the generated batch tables with a reference data directory.

    python3 perfbench/calibrate.py --reference <dir> [--seed 1] [--passes 4]

The benchmark reads nothing outside its checkout, so it generates
tables shaped like the repository's testdata at sf0.01
(``datagen.write_tables``). Given that testdata as ``--reference``,
this script measures how close the generated tables come, on one
session and with the benchmark's own pass protocol: table rows, and per
query the result rows and the median cold-shot seconds, and each
batch workload's layer split. Both data
sets are warmed up first and their passes alternate, so with an even
number of passes neither gets the warmer JVM more often. Run from the
root of a checkout; prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LAYERS = ("sources.load_table_s", "plans.build_s", "plans.plan_s", "operators.exec_s")


def _summary(passes: list[dict]) -> dict:
    from perfbench.batch import _median_by_query

    shots = {s["query"]: s for s in passes[0]["shots"]}
    sums = {k: statistics.median(sum(r[k] for r in p["layers"]) for p in passes) for k in LAYERS}
    total = sum(sums.values())
    out = {
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "layer_share": {k: round(v / total, 3) for k, v in sums.items()},
        "query_s": {q: round(v, 3) for q, v in _median_by_query(
            s for p in passes for s in p["shots"]).items()},
        "result_rows": {q: len(s["rows"]) for q, s in shots.items()},
        "errors": [e for p in passes for e in p["errors"]],
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True, help="directory of the reference tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=4)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(ROOT / "tests"))
    from perfbench import batch, datagen, run
    from perfbench.tracing import Tracer

    work = ROOT / ".perfbench_work" / f"calibrate-{os.getpid()}"
    run._environment(work)
    dirs = {
        "generated": datagen.write_tables(args.seed, str(work / "data")),
        "reference": os.path.abspath(args.reference),
    }
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        import pyarrow.parquet as pq

        import bench  # noqa: F401 — the query registry and cache reset
        from bigdata_commerce_spark import get_spark

        spark = get_spark(app_name="perfbench-calibrate")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            for workload, names in batch.WORKLOADS.items():
                for d in dirs.values():
                    batch._cold_pass(spark, names, d)
            passes = {(w, k): [] for w in batch.WORKLOADS for k in dirs}
            for i in range(args.passes):
                for workload, names in batch.WORKLOADS.items():
                    for key, d in sorted(dirs.items(), reverse=i % 2 == 1):
                        passes[workload, key].append(batch.run_pass(
                            spark, names, d, Tracer(spark), f"{key}/{workload}/{i}"))
        finally:
            run._stop(spark)
        report = {
            key: {
                "tables": {
                    t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
                    for t in datagen.SIZES
                },
                **{w: _summary(passes[w, key]) for w in batch.WORKLOADS},
            }
            for key, d in dirs.items()
        }
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
