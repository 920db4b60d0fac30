"""Tests of the benchmark itself: seeded inputs, the streaming reference
model, and the shape of the printed record.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen, run, stream  # noqa: E402
from perfbench.batch import WORKLOADS, verdict  # noqa: E402


def _bytes(paths):
    return [Path(p).read_bytes() for p in paths]


def test_same_seed_gives_byte_identical_feed(tmp_path):
    a = datagen.write_feed(datagen.ad_feed(5, 4), str(tmp_path / "a"))
    b = datagen.write_feed(datagen.ad_feed(5, 4), str(tmp_path / "b"))
    c = datagen.write_feed(datagen.ad_feed(6, 4), str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_same_seed_gives_byte_identical_tables(tmp_path):
    datagen.write_tables(3, str(tmp_path / "a"))
    datagen.write_tables(3, str(tmp_path / "b"))
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes(), name


def test_feed_plants_blacklisted_users_across_two_dates():
    files = datagen.ad_feed(1, stream.feed_files(8))
    assert all(len(f) == datagen.EVENTS_PER_FILE for f in files)
    assert len({r[1] for f in files for r in f}) == 2
    ref = datagen.reference_state(files, stream.THRESHOLD)
    assert set(datagen.PLANTED_USERS) <= ref["blacklist"]
    # blacklisted in the third file, so every later file's planted clicks drop
    assert ref["dropped"] >= datagen.PLANTED_CLICKS * len(datagen.PLANTED_USERS)
    t0 = datagen.feed_start(len(files))
    late = [
        r for i, f in enumerate(files) for r in f
        if r[0] < t0 + datagen.dt.timedelta(seconds=datagen.FILE_SECONDS * i)
    ]
    assert 0 < len(late) < datagen.EVENTS_PER_FILE * len(files) * 2 * datagen.LATE_SHARE


def test_reference_blacklist_applies_from_the_next_epoch():
    # one user, one ad: 60 clicks per file; crosses 100 in file 2 and
    # is dropped from file 3 on
    t = datagen._MIDNIGHT - datagen.dt.timedelta(hours=1)
    row = (t, t.date(), "0", "0", 7, 3)
    files = [[row] * 60 for _ in range(3)]
    ref = datagen.reference_state(files, 100)
    assert ref["blacklist"] == {7}
    assert ref["user_counts"] == {(t.date(), 7, 3): 120}
    assert ref["dropped"] == 60
    assert ref["top3"] == {(t.date(), "0", 3): (120, 1)}
    assert len(ref["trend"]) == 60


def test_record_carries_every_declared_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run._per_layer_units()
    out = {"attempted": 3, "failed": 0, "end_to_end": dict.fromkeys(e2e, 1.5), "per_layer": {}}
    assert not set(e2e) & set(layer)
    assert set(run.result_record(out, trace=False)["metrics"]) == set(e2e)
    assert set(run.result_record(out, trace=True)["metrics"]) == set(layer)
    record = run.result_record(out, trace=False)
    assert set(record) == {"correct", "attempted", "failed", "metrics"}
    assert record["correct"] is True


# Metrics the benchmark's design names, by layer. ``error_rate`` is the
# record's failed / attempted (a metric that is 0 on a healthy run
# cannot carry a relative bound); ``state_bytes_per_row`` is reported
# per layer as sinks.state_bytes_per_row.
NAMED = [
    "setup_s", "pass_s", "query_geomean_s", "peak_rss_mb", "streaming.rows_per_s",
    "epoch_p50_s", "epoch_p90_s",
    "session.start_s", "session.warmup_s",
    "sources.load_table_calls", "sources.load_table_s", "sources.load_table_jobs",
    "plans.build_s", "plans.build_jobs", "plans.plan_s",
    "operators.exec_s", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.task_run_s", "operators.task_cpu_s", "operators.busy_cores",
    "operators.shuffle_read_mb", "operators.shuffle_write_mb", "operators.spill_mb",
    "operators.input_mb", "operators.gc_s", "operators.failed_tasks",
    "operators.result_rows", "operators.python_rows", "operators.python_mb_sent",
    "cache.persist_calls", "cache.storage_mb_peak", "cache.reset_s",
    "streaming.add_batch_s", "streaming.latest_offset_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.jobs_per_epoch", "streaming.rows_per_epoch",
    "streaming.blacklisted_rows_dropped",
    "sinks.user_counts_s", "sinks.blacklist_s", "sinks.cumulative_s", "sinks.top3_s",
    "sinks.trend_s", "sinks.read_state_s", "sinks.read_state_calls",
    "sinks.bytes_written_per_row", "sinks.state_bytes_per_row",
    "trace.overhead_s",
] + [f"query.{q}_s" for q in WORKLOADS["commerce"]]


def test_set_up_failures_count_like_measured_ones():
    class Check:
        def mismatch(self, shot):
            return "2 mismatched rows" if shot["query"] == "b" else None

    batches = [
        ("set-up", [{"query": "a"}], [("c", "ValueError: boom")]),
        ("pass 0", [{"query": "a"}, {"query": "b"}, {"query": "c"}], []),
    ]
    assert verdict(Check(), batches) == (
        5,
        2,
        {"c": "set-up: ValueError: boom", "b": "pass 0: wrong result: 2 mismatched rows"},
    )


def test_every_named_metric_is_declared():
    declared = set(run.END_TO_END) | set(run._per_layer_units())
    assert [m for m in NAMED if m not in declared] == []


def test_cli_prints_every_end_to_end_metric_last():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ad-stream", "--seed", "4",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    prov, record = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert prov["provenance"]["seed"] == 4 and prov["errors"] == {}
    assert set(record) == {"correct", "attempted", "failed", "metrics"}
    assert record["correct"] is True and record["failed"] == 0
    assert {k: v["unit"] for k, v in record["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in record["metrics"].values())


@pytest.fixture(scope="module")
def spark():
    # collected timestamps are local time: compare in UTC, as run.py does
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (str(ROOT), os.environ.get("PYTHONPATH"))))
    from bigdata_commerce_spark import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_reference_state_matches_pipeline_on_tiny_feed(spark, tmp_path):
    files = datagen.ad_feed(9, 4)
    res = stream.run_stream(spark, files, str(tmp_path))
    got = stream._final_state(spark, res["state_dir"])
    want = datagen.reference_state(files, stream.THRESHOLD)
    assert stream.state_mismatches(got, want) == {}
    assert len(res["epochs"]) == len(files)
    assert want["dropped"] > 0


def test_state_mismatch_is_reported():
    files = datagen.ad_feed(9, 4)
    want = datagen.reference_state(files, stream.THRESHOLD)
    got = dict(want, blacklist=want["blacklist"] - {datagen.PLANTED_USERS[0]})
    assert set(stream.state_mismatches(got, want)) == {"blacklist"}
