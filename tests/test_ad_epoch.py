"""Fast checks of the ad-stream epoch (reqs 7-10): state reads start no
Spark job, and a three-file run of the whole topology lands the batch
answers in all five state tables, blacklist feedback included. The
heavier streaming suites (JDBC parity, restarts, soak) live in
``tests/test_streaming.py`` and ``tests/test_jdbc_state.py``."""

from __future__ import annotations

import datetime as dt
import shutil
import uuid

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.topk import top_k_per_group
from bigdata_commerce_spark.streaming import ad_stream, pipelines, sinks

THRESHOLD = 3
PLANTED = 9999


def _jobs_started(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started, as the status tracker reports."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _read_schema(backend, name):
    df = backend.read_state(name)
    return df, df.schema


def test_read_state_starts_no_job_and_matches_inferred_schema(spark, tmp_path):
    work = str(tmp_path)
    backend = sinks.ParquetStateBackend(spark, work)
    top = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 10, 0), dt.date(2024, 1, 1), "p1", 7, 2),
            (dt.datetime(2024, 1, 2, 23, 59), dt.date(2024, 1, 2), None, 8, 1),
        ],
        "window_start timestamp, event_date date, province string, ad_id long, "
        "click_count long",
    )
    # rank is non-nullable in the footer; inference reports it nullable
    backend.replace_partition_sink("keyed", ["window_start", "event_date"])(
        top.withColumn("rank", F.lit(1)), 0
    )
    backend.distinct_append_sink("empty", ["user_id"])(
        spark.createDataFrame([], "user_id long"), 0
    )
    # the inference job is what the probe must be able to see
    _, inferred_jobs = _jobs_started(
        spark, lambda: spark.read.parquet(f"{work}/keyed/epoch=0").schema
    )
    assert inferred_jobs >= 1

    restarted = sinks.ParquetStateBackend(spark, work)
    for reader, name in ((backend, "empty"), (backend, "keyed"), (restarted, "keyed")):
        (df, schema), jobs = _jobs_started(spark, lambda: _read_schema(reader, name))
        assert jobs == 0, f"{name}: read_state started {jobs} job(s)"
        inferred = spark.read.parquet(f"{work}/{name}/epoch=0")
        assert schema == inferred.schema, name
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, inferred.collect()))
    assert backend.read_state("empty").count() == 0


def _feed():
    """Three files of organic clicks, each (date, user, ad) at most
    once, plus two clicks per file by the planted user on one ad. With
    threshold 3 the planted user crosses in epoch 1 and is dropped from
    epoch 2 on. File 2 crosses midnight and carries a late click from
    file 0's hour."""
    base = dt.datetime(2024, 1, 1, 22, 30)
    files = []
    for f in range(3):
        rows = []
        for i in range(30):
            t = base + dt.timedelta(minutes=40 * f + i)
            user = 100 + i % 10
            rows.append((t, t.date(), f"p{user % 3}", f"c{user % 5}", user, 10 * f + i // 10))
        planted_t = base + dt.timedelta(minutes=40 * f)
        rows += [(planted_t, planted_t.date(), "p9", "c99", PLANTED, 1)] * 2
        files.append(rows)
    files[2].append((base, base.date(), "p0", "c0", 123, 5))
    return files


def test_ad_pipeline_three_files_matches_batch(spark, tmp_path):
    files = _feed()
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, rows in enumerate(files):
        out = tmp_path / f"file_{i}"
        spark.createDataFrame(rows, ad_stream.AD_EVENT_SCHEMA).coalesce(1).write.parquet(
            str(out)
        )
        shutil.copy(next(out.glob("part-*.parquet")), flat / f"{i:02d}.parquet")

    handles = pipelines.run_ad_pipeline(
        pipelines.file_event_source(spark, str(flat)),
        str(tmp_path / "state"),
        blacklist_threshold=THRESHOLD,
    )
    try:
        handles.process_all()
    finally:
        handles.stop()

    effective = [r for rows in files[:2] for r in rows] + [
        r for r in files[2] if r[4] != PLANTED
    ]
    events = spark.createDataFrame(effective, ad_stream.AD_EVENT_SCHEMA)
    counts = events.groupBy("event_date", "user_id", "ad_id").agg(
        F.count(F.lit(1)).alias("click_count")
    )
    cumulative = events.groupBy("event_date", "province", "city", "ad_id").agg(
        F.count(F.lit(1)).alias("click_count")
    )
    want = {
        "user_counts": counts,
        "blacklist": counts.where(F.col("click_count") > THRESHOLD)
        .select("user_id")
        .distinct(),
        "cumulative": cumulative,
        "top3": top_k_per_group(
            events.groupBy("event_date", "province", "ad_id").agg(
                F.count(F.lit(1)).alias("click_count")
            ),
            ["event_date", "province"],
            [F.desc("click_count"), F.asc("ad_id")],
            k=3,
        ),
        "trend": events.groupBy(F.window("event_time", "60 minutes", "1 minute"), "ad_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "ad_id",
            "click_count",
        ),
    }
    backend = handles.backend
    for name, expected in want.items():
        got = backend.read_state(name).select(*expected.columns)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        ), name

    def blacklisted(before_epoch):
        return {r.user_id for r in backend.read_state("blacklist", before_epoch).collect()}

    assert PLANTED not in blacklisted(1) and PLANTED in blacklisted(2)
    planted = backend.read_state("user_counts").where(F.col("user_id") == PLANTED)
    assert planted.agg(F.sum("click_count")).first()[0] == 4  # 6 sent, file 2's dropped
