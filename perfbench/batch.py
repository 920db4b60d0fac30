"""The batch workload: cold passes over a fixed list of catalog queries.

One pass runs the workload's queries in order. Before each query
``bench.reset_caches`` drops every data cache, outside the timed
region (the cold-shot protocol of ``bench.py``). A query's time is
build (calling the catalog function, which loads its tables) + plan
(forcing the physical plan) + execute and collect. The collected rows
are compared with the query's DuckDB oracle after timing ends.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench.tracing import SparkStores, Tracer, instrumented

# Batch forms of the paper's requirements, in requirement order: the
# offline reports 1-6, and 9-10 of the ad-click reports (9 aggregates
# the cumulative counts of 8; 7-10 also run as the ad-stream workload).
COMMERCE = (
    "session_stats",
    "session_extract",
    "top_categories",
    "top_users_per_category",
    "page_funnel",
    "region_top3_parts",
    "ad_province_top3",
    "ad_click_trend",
)
# One corpus query rides along so that the Arrow pandas-UDF boundary
# and the persist registry (operators.cache_util) are measured too:
# embedding_neardup buckets the vectors in a pandas UDF and persists the
# buckets through persist_bounded.
WORKLOADS = {"commerce": COMMERCE + ("embedding_neardup",)}
# About a warm pass on an idle 4-core machine; sizes the number of
# measured passes so that one run measures about --seconds. The count
# is fixed before measuring, so every run samples the same stretch of
# the JVM's warm-up curve, however fast the machine is.
NOMINAL_PASS_S = 4.0

PHASES = ("build", "plan", "exec")


def run_query(spark, name: str, data_dir: str, tracer: Tracer | None) -> dict:
    """One cold shot of ``name``: build, plan, execute and collect.
    Returns its wall time and rows; with ``tracer``, each phase is a
    span with its own job group."""
    import bench

    fn = bench.ALL_QUERIES[name]
    span = tracer.span if tracer else _no_span
    t0 = time.perf_counter()
    with span("plans.build", group="build"):
        df = fn(spark, data_dir)
    with span("plans.plan", group="plan"):
        df._jdf.queryExecution().executedPlan()
    with span("operators.exec", group="exec"):
        rows = df.collect()
    return {
        "query": name,
        "total_s": time.perf_counter() - t0,
        "columns": list(df.columns),
        "rows": [tuple(r) for r in rows],
    }


def _no_span(_name, group=None):
    return contextlib.nullcontext()


def run_pass(spark, names, data_dir: str, tracer: Tracer | None, tag: str) -> dict:
    """One cold pass. With ``tracer``, each query runs twice back to
    back, once untraced and once traced (the order alternating from one
    query to the next), so the difference of the two is the tracing
    overhead; the traced shot's layer breakdown is harvested after its
    time is taken."""
    import bench

    shots = {False: [], True: []}
    errors, layers = [], []
    reset_s = 0.0
    stores = SparkStores(spark) if tracer else None
    if stores:
        stores.python_metrics()  # skip executions of earlier passes
    for i, name in enumerate(names):
        for traced in ((False, True) if i % 2 == 0 else (True, False)) if tracer else (False,):
            t = time.perf_counter()
            bench.reset_caches(spark)
            reset_s += time.perf_counter() - t
            try:
                if traced:
                    tracer.trace_id = f"{tag}/{name}"
                    tracer.counts.clear()
                    with instrumented(tracer):
                        shot = run_query(spark, name, data_dir, tracer)
                    layers.append(_harvest(tracer, stores, shot, stores.storage_mb()))
                else:
                    shot = run_query(spark, name, data_dir, None)
                    if stores:
                        stores.python_metrics()  # not this shot's to report
            except Exception as exc:  # noqa: BLE001 — one query must not end the run
                errors.append((name, f"{type(exc).__name__}: {exc}"[:400]))
                traceback.print_exc()
                continue
            shots[traced].append(shot)
    return {
        "pass_s": sum(s["total_s"] for s in shots[False]),
        "traced_pass_s": sum(s["total_s"] for s in shots[True]),
        "shots": shots[False],
        "traced_shots": shots[True],
        "errors": errors,
        "layers": layers,
        "reset_s": reset_s,
    }


def _harvest(tracer: Tracer, stores: SparkStores, shot: dict, storage_mb: float) -> dict:
    """Per-query layer record from the query's spans, job groups and
    SQL executions. ``plans.build_s`` is the build span's self time:
    the ``load_table`` spans inside it are the sources layer's."""
    tid = tracer.trace_id
    build_s = tracer.total("plans.build", tid)
    load_s = tracer.total("sources.load_table", tid)
    plan_s = tracer.total("plans.plan", tid)
    exec_s = tracer.total("operators.exec", tid)
    jobs = {p: stores.jobs(f"{tid}:{p}") for p in PHASES}
    load_jobs = sum(len(stores.jobs(f"{tid}:{p}.load")) for p in PHASES)
    ex = stores.stage_metrics(jobs["exec"])
    rec = {
        "query": shot["query"],
        "query_s": shot["total_s"],
        "sources.load_table_calls": tracer.counts["sources.load_table_calls"],
        "sources.load_table_s": load_s,
        "sources.load_table_jobs": load_jobs,
        "plans.build_s": build_s - load_s,
        "plans.build_jobs": len(jobs["build"]),
        "plans.plan_s": plan_s,
        "operators.exec_s": exec_s,
        "operators.jobs": len(jobs["exec"]) + len(jobs["plan"]),
        "operators.result_rows": len(shot["rows"]),
        "cache.persist_calls": tracer.counts["cache.persist_calls"],
        "cache.bounded_calls": tracer.counts["cache.bounded_calls"],
        "cache.storage_mb_peak": storage_mb,
        # share of the query's wall time that its layer spans cover
        "accounted": (build_s + plan_s + exec_s) / shot["total_s"],
    }
    rec.update({f"operators.{k}": v for k, v in ex.items()})
    rec.update({f"operators.{k}": v for k, v in stores.python_metrics().items()})
    return rec


# --- correctness -------------------------------------------------------------


class OracleCheck:
    """Compares collected rows with each query's DuckDB oracle at the
    workload's data, using the canonical comparison of
    ``tests/oracle_utils.py``. Oracle results are computed once."""

    def __init__(self, data_dir: str) -> None:
        from oracle_utils import _canon, duckdb_con

        from bigdata_commerce_spark.plans import ORACLES, TWIN_ORACLES

        self._canon = _canon
        self._oracles = {**TWIN_ORACLES, **ORACLES}
        self._con = duckdb_con(data_dir)
        self._expected: dict[str, tuple] = {}

    def mismatch(self, shot: dict) -> str | None:
        """None when the shot's rows equal the oracle's, else why not."""
        name = shot["query"]
        if name not in self._expected:
            res = self._con.execute(self._oracles[name])
            cols = [d[0] for d in res.description]
            self._expected[name] = self._canon(cols, [tuple(r) for r in res.fetchall()])
        want_cols, want = self._expected[name]
        got_cols, got = self._canon(shot["columns"], shot["rows"])
        if got_cols != want_cols:
            return f"schema: spark={got_cols} duckdb={want_cols}"
        if len(got) != len(want):
            return f"row count: spark={len(got)} duckdb={len(want)}"
        bad = sum(1 for a, b in zip(got, want) if a != b)
        return f"{bad} mismatched rows" if bad else None

    def close(self) -> None:
        self._con.close()


def verdict(check, batches) -> tuple[int, int, dict[str, str]]:
    """Attempted and failed shots over ``(label, shots, errors)``
    batches, and the first error of each failed query. Every shot that
    ran is compared with its oracle; every exception is a failure."""
    errors: dict[str, str] = {}
    attempted = failed = 0
    for label, shots, shot_errors in batches:
        attempted += len(shots) + len(shot_errors)
        failed += len(shot_errors)
        for name, err in shot_errors:
            errors.setdefault(name, f"{label}: {err}")
        for shot in shots:
            why = check.mismatch(shot)
            if why:
                failed += 1
                errors.setdefault(shot["query"], f"{label}: wrong result: {why}")
    return attempted, failed, errors


# --- the workload -------------------------------------------------------------


def _cold_pass(spark, names, data_dir: str) -> tuple[list[dict], list[tuple[str, str]]]:
    """Set-up: the JIT-cold first run of every query, all at once on as
    many threads as the session has cores (a sequential cold pass costs
    about three warm ones). Its shots are checked like measured ones."""
    shots, errors = [], []

    def one(name):
        try:
            shots.append(run_query(spark, name, data_dir, None))
        except Exception as exc:  # noqa: BLE001 — reported with the run's errors
            errors.append((name, f"{type(exc).__name__}: {exc}"[:400]))
            traceback.print_exc()

    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        list(pool.map(one, names))
    return shots, errors


def run(spark, workload: str, data_dir: str, seconds: float, trace: bool, start_s: float) -> dict:
    names = WORKLOADS[workload]
    t = time.perf_counter()
    cold_shots, cold_errors = _cold_pass(spark, names, data_dir)
    # Pass times keep falling over the first passes of a session, and
    # fall slowest on a loaded machine; one untimed pass more moves the
    # measured passes onto the flatter part of that curve.
    warm = run_pass(spark, names, data_dir, None, f"{workload}/warm-up")
    warmup_s = time.perf_counter() - t
    print(f"{workload}: start_s={start_s:.3f} warmup_s={warmup_s:.3f}", file=sys.stderr)

    # A traced pass runs every query twice. The count is fixed before
    # measuring and does not depend on how fast the passes go.
    planned = max(2 if trace else 3, round(seconds / NOMINAL_PASS_S / (2 if trace else 1)))
    passes = []
    for i in range(planned):
        tracer = Tracer(spark) if trace else None
        tag = f"{workload}/{i}"
        result = run_pass(spark, names, data_dir, tracer, tag)
        print(f"{tag}: pass_s={result['pass_s']:.3f}", file=sys.stderr)
        if tracer:
            result["spans"] = tracer.spans
        passes.append(result)

    check = OracleCheck(data_dir)
    try:
        attempted, failed, errors = verdict(
            check,
            [("set-up", cold_shots + warm["shots"], cold_errors + warm["errors"])]
            + [
                (f"pass {i}", p["shots"] + p["traced_shots"], p["errors"])
                for i, p in enumerate(passes)
            ],
        )
    finally:
        check.close()

    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "units_s": _median_by_query(s for p in passes for s in p["shots"]),
    }
    stores = SparkStores(spark)
    out["end_to_end"] = _end_to_end(passes, start_s, warmup_s, stores.jvm_peak_rss_mb())
    if trace:
        out["per_layer"] = _per_layer(passes, start_s, warmup_s)
        out["trace"] = {
            "spans": [s for p in passes for s in p.get("spans", [])],
            "queries": [r for p in passes for r in p["layers"]],
        }
    return out


def _median_by_query(shots) -> dict[str, float]:
    times: dict[str, list[float]] = {}
    for s in shots:
        times.setdefault(s["query"], []).append(s["total_s"])
    return {q: statistics.median(v) for q, v in times.items()}


def _end_to_end(passes, start_s, warmup_s, rss_mb) -> dict:
    """End-to-end metrics of the untraced shots. Each query's time is
    its median over the passes; ``pass_s`` is the sum of those medians
    (a median pass), which a spike in one shot of one query moves
    less than a median of pass sums would."""
    per_query = _median_by_query(s for p in passes for s in p["shots"])
    pass_s = sum(per_query.values())
    times = list(per_query.values())
    return {
        "setup_s": start_s + warmup_s,
        "pass_s": pass_s,
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in times)),
        "epoch_p50_s": statistics.median(times),
        "epoch_p90_s": float(np.percentile(times, 90)),
        "peak_rss_mb": rss_mb,
    }


def _per_layer(passes, start_s, warmup_s) -> dict:
    """Layer sums over a pass of traced shots (median over the passes),
    the per-query times of the traced shots, and the tracing overhead:
    traced ``pass_s`` minus untraced."""
    def med(values):
        return statistics.median(list(values))

    layers = [p["layers"] for p in passes]
    keys = [k for k in layers[0][0] if k not in ("query", "query_s", "accounted")]
    out = {k: med(sum(r[k] for r in recs) for recs in layers) for k in keys}
    task_run = med(sum(r["operators.task_run_s"] for r in recs) for recs in layers)
    out["operators.busy_cores"] = task_run / out["operators.exec_s"]
    out["cache.storage_mb_peak"] = max(r["cache.storage_mb_peak"] for recs in layers for r in recs)
    out["cache.reset_s"] = med(p["reset_s"] / 2 for p in passes)
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    out["trace.overhead_s"] = med(p["traced_pass_s"] - p["pass_s"] for p in passes)
    out["trace.accounted_min"] = min(r["accounted"] for recs in layers for r in recs)
    for q, v in _median_by_query(s for p in passes for s in p["traced_shots"]).items():
        out[f"query.{q}_s"] = v
    return out
