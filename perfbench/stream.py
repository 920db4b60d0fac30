"""The ad-stream workload: ``streaming.pipelines.run_ad_pipeline`` over a
seeded feed of ad-click files.

Every file lands before the query starts and the file source takes one
file per trigger, so the stream is a closed loop with one client: an
epoch starts when the previous one commits. The parquet state backend
keeps five state tables; each epoch reads and merges them. After the
stream drains, its final state is compared with
``datagen.reference_state``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict

import numpy as np

from perfbench import datagen
from perfbench.tracing import SparkStores, Tracer

THRESHOLD = 100  # clicks per (date, user, ad) that blacklist a user
WARMUP_FILES = 2
NOMINAL_EPOCH_S = 2.4  # sizes the feed so one pass takes about --seconds
STATE_TABLES = ("user_counts", "blacklist", "cumulative", "top3", "trend")


def feed_files(seconds: float) -> int:
    """Files in the measured feed: at least four, so the planted users
    are blacklisted in the third epoch and dropped in the fourth."""
    return max(4, round(seconds / NOMINAL_EPOCH_S))


class TracedBackend:
    """A proxy for the state backend that times ``read_state`` and each
    sink call on even epochs (odd epochs run untraced, for the
    overhead), counting the Spark jobs each call starts and the bytes
    each sink writes."""

    def __init__(self, inner, tracer: Tracer, stores: SparkStores) -> None:
        self._inner = inner
        self._tracer = tracer
        self._stores = stores
        self.epoch = 0
        self.calls: list[dict] = []

    def _traced(self) -> bool:
        return self.epoch % 2 == 0

    def state_location(self, name: str) -> str:
        return self._inner.state_location(name)

    def read_state(self, name: str, before_epoch: int | None = None):
        if before_epoch is not None:
            self.epoch = before_epoch
        if not self._traced():
            return self._inner.read_state(name, before_epoch)
        return self._call("read_state", name, lambda: self._inner.read_state(name, before_epoch))

    def _call(self, kind: str, name: str, fn, epoch_dir: str | None = None):
        self._tracer.trace_id = f"ad-stream/epoch={self.epoch}"
        jobs0 = self._stores.job_count()
        with self._tracer.span(f"sinks.{kind}.{name}") as rec:
            out = fn()
        self.calls.append(
            {
                "epoch": self.epoch,
                "kind": kind,
                "name": name,
                "s": rec["end"] - rec["start"],
                "jobs": self._stores.job_count() - jobs0,
                "bytes": _dir_bytes(epoch_dir) if epoch_dir else 0,
            }
        )
        return out

    def _wrap(self, name: str, sink):
        def traced_sink(batch_df, epoch_id: int) -> None:
            self.epoch = epoch_id
            if not self._traced():
                return sink(batch_df, epoch_id)
            epoch_dir = os.path.join(self.state_location(name), f"epoch={epoch_id}")
            return self._call("sink", name, lambda: sink(batch_df, epoch_id), epoch_dir)

        return traced_sink

    def accumulate_sink(self, name, key_cols, value_col):
        return self._wrap(name, self._inner.accumulate_sink(name, key_cols, value_col))

    def replace_partition_sink(self, name, partition_cols):
        return self._wrap(name, self._inner.replace_partition_sink(name, partition_cols))

    def distinct_append_sink(self, name, key_cols):
        return self._wrap(name, self._inner.distinct_append_sink(name, key_cols))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_stream(spark, files, base_dir: str, backend_wrapper=None) -> dict:
    """Land ``files``, run the pipeline until it has processed all of
    them, stop it, and return its wall time and epoch progress."""
    from bigdata_commerce_spark.streaming import pipelines, sinks

    datagen.write_feed(files, os.path.join(base_dir, "feed"))
    state_dir = os.path.join(base_dir, "state")
    backend = sinks.ParquetStateBackend(spark, state_dir)
    if backend_wrapper is not None:
        backend = backend_wrapper(backend)
    events = pipelines.file_event_source(spark, os.path.join(base_dir, "feed"))
    t0 = time.perf_counter()
    handles = pipelines.run_ad_pipeline(events, state_dir, THRESHOLD, backend=backend)
    try:
        handles.process_all()
        wall_s = time.perf_counter() - t0
        progress = list(handles.queries[0].recentProgress)
    finally:
        handles.stop()
    epochs = [
        {"epoch": p.batchId, "rows": p.numInputRows, **{k: v / 1e3 for k, v in p.durationMs.items()}}
        for p in progress
        if p.numInputRows > 0
    ]
    return {"wall_s": wall_s, "epochs": epochs, "state_dir": state_dir}


def _final_state(spark, state_dir: str) -> dict:
    from bigdata_commerce_spark.streaming import sinks

    backend = sinks.ParquetStateBackend(spark, state_dir)
    rows = {t: backend.read_state(t).collect() for t in STATE_TABLES}
    return {
        "user_counts": {
            (r.event_date, r.user_id, r.ad_id): r.click_count for r in rows["user_counts"]
        },
        "blacklist": {r.user_id for r in rows["blacklist"]},
        "cumulative": {
            (r.event_date, r.province, r.city, r.ad_id): r.click_count
            for r in rows["cumulative"]
        },
        "top3": {
            (r.event_date, r.province, r.ad_id): (r.click_count, r.rank) for r in rows["top3"]
        },
        "trend": {
            (r.window_start, r.window_end, r.ad_id): r.click_count for r in rows["trend"]
        },
    }


def state_mismatches(got: dict, want: dict) -> dict[str, str]:
    """Per state table, how the pipeline's final state differs from the
    reference (empty when they agree)."""
    out = {}
    for table in STATE_TABLES:
        g, w = got[table], want[table]
        if g == w:
            continue
        if isinstance(g, set):
            out[table] = f"{len(g - w)} extra, {len(w - g)} missing"
        else:
            diff = sum(1 for k in g.keys() | w.keys() if g.get(k) != w.get(k))
            out[table] = f"{diff} keys differ ({len(g)} rows vs {len(w)} expected)"
    return out


def run(spark, work_dir: str, seed: int, seconds: float, trace: bool, start_s: float) -> dict:
    t = time.perf_counter()
    run_stream(spark, datagen.ad_feed(seed, WARMUP_FILES, stream=1), os.path.join(work_dir, "warmup"))
    warmup_s = time.perf_counter() - t

    files = datagen.ad_feed(seed, feed_files(seconds))
    stores = SparkStores(spark)
    tracer = Tracer(spark) if trace else None
    traced: list[TracedBackend] = []

    def wrap(backend):
        traced.append(TracedBackend(backend, tracer, stores))
        return traced[-1]

    jobs0 = stores.job_count()
    res = run_stream(spark, files, os.path.join(work_dir, "measured"), wrap if trace else None)
    jobs = stores.job_count() - jobs0
    epochs = res["epochs"]

    input_rows = sum(len(f) for f in files)
    got = _final_state(spark, res["state_dir"])
    want = datagen.reference_state(files, THRESHOLD)
    errors = {f"state.{k}": v for k, v in state_mismatches(got, want).items()}
    if len(epochs) != len(files) or sum(e["rows"] for e in epochs) != input_rows:
        errors["epochs"] = f"{len(epochs)} non-empty epochs for {len(files)} files"
    times = [e["triggerExecution"] for e in epochs]
    wall_s = res["wall_s"]
    out = {
        "attempted": len(files),
        "failed": len(files) if errors else 0,
        "errors": errors,
        "units_s": {f"epoch={e['epoch']}": e["triggerExecution"] for e in epochs},
        "end_to_end": {
            "setup_s": start_s + warmup_s,
            "pass_s": wall_s,
            "query_geomean_s": math.exp(statistics.fmean(math.log(t) for t in times)),
            "epoch_p50_s": float(np.percentile(times, 50)),
            "epoch_p90_s": float(np.percentile(times, 90)),
            "peak_rss_mb": stores.jvm_peak_rss_mb(),
        },
    }
    if trace:
        out["per_layer"] = _per_layer(
            epochs, traced[0].calls, jobs, input_rows, wall_s, got, res["state_dir"], start_s,
            warmup_s,
        )
        out["trace"] = {"spans": tracer.spans, "epochs": epochs, "calls": traced[0].calls}
    return out


def _per_layer(
    epochs, calls, jobs, input_rows, wall_s, got, state_dir, start_s, warmup_s
) -> dict:
    n = len(epochs)
    traced_epochs = {c["epoch"] for c in calls}
    per_epoch = defaultdict(float)
    for c in calls:
        key = "sinks.read_state" if c["kind"] == "read_state" else f"sinks.{c['name']}"
        per_epoch[f"{key}_s"] += c["s"]
        if c["kind"] == "read_state":
            per_epoch["sinks.read_state_calls"] += 1
    out = {k: v / len(traced_epochs) for k, v in per_epoch.items()}
    for name in STATE_TABLES:
        out.setdefault(f"sinks.{name}_s", 0.0)
    traced_rows = sum(e["rows"] for e in epochs if e["epoch"] in traced_epochs)
    out["sinks.bytes_written_per_row"] = sum(c["bytes"] for c in calls) / traced_rows
    out["sinks.state_bytes_per_row"] = sum(
        _dir_bytes(os.path.join(state_dir, t)) for t in STATE_TABLES
    ) / input_rows

    def med(key):
        return statistics.median(e.get(key, 0.0) for e in epochs)

    out["streaming.add_batch_s"] = med("addBatch")
    out["streaming.latest_offset_s"] = med("latestOffset")
    out["streaming.query_planning_s"] = med("queryPlanning")
    out["streaming.wal_commit_s"] = med("walCommit")
    out["streaming.jobs_per_epoch"] = jobs / n
    out["streaming.rows_per_epoch"] = input_rows / n
    out["streaming.rows_per_s"] = input_rows / wall_s
    out["streaming.blacklisted_rows_dropped"] = input_rows - sum(got["cumulative"].values())
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    # epoch 0 also pays the query's first planning; compare later epochs
    on = [e["triggerExecution"] for e in epochs if e["epoch"] in traced_epochs and e["epoch"] > 0]
    off = [e["triggerExecution"] for e in epochs if e["epoch"] not in traced_epochs]
    out["trace.overhead_s"] = statistics.median(on) - statistics.median(off) if on and off else 0.0
    return out
