"""Commerce-pipeline tests (reqs 1-6 on the reference schema).

Oracle strategy: recompute the expected results *independently* in
pandas from the same seeded fixtures and compare exactly — a second
implementation, not a re-run of the Spark logic.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.plans import commerce as C
from bigdata_commerce_spark.sources.commerce import generate_commerce_tables, normalize_actions


@pytest.fixture(scope="module")
def tables(spark):
    t = generate_commerce_tables(spark, num_users=50, sessions_per_user=5, seed=7)
    actions = normalize_actions(t["user_visit_action"]).cache()
    actions.count()
    return {
        **t,
        "actions": actions,
        "raw_pd": t["user_visit_action"].toPandas(),
        "users_pd": t["user_info"].toPandas(),
    }


@pytest.fixture(scope="module")
def sessions(tables):
    return C.session_full_info(tables["actions"], tables["user_info"]).cache()


def test_normalize_sentinels(tables):
    a = tables["actions"]
    assert a.where(F.col("click_category_id") == -1).count() == 0
    row = a.where(F.col("order_category_ids").isNotNull()).first()
    assert isinstance(row.order_category_ids, list)
    assert all(isinstance(x, int) for x in row.order_category_ids)


def test_normalize_actions_total_over_garbage(spark):
    """The typed ingest boundary must be TOTAL: a malformed date,
    time, or id token in one legacy row becomes NULL in that row —
    never an ANSI abort of the whole load."""
    raw = spark.createDataFrame(
        [
            ("2024-01-01", 1, "s1", 10, "2024-01-01 10:00:00", None, 5, 7, "12,34", None, None, None, 3),
            ("not-a-date", 2, "s2", 11, "garbage-time", None, -1, -1, "12,abc,34", "", None, None, 4),
        ],
        "date string, user_id long, session_id string, page_id long, "
        "action_time string, search_keyword string, click_category_id long, "
        "click_product_id long, order_category_ids string, order_product_ids string, "
        "pay_category_ids string, pay_product_ids string, city_id long",
    )
    rows = {r.user_id: r for r in normalize_actions(raw).collect()}
    good, bad = rows[1], rows[2]
    assert good.action_date is not None and good.action_time is not None
    assert good.order_category_ids == [12, 34]
    assert bad.action_date is None and bad.action_time is None
    assert bad.order_category_ids == [12, None, 34]  # garbage token -> NULL element
    assert bad.order_product_ids is None              # empty string -> NULL array
    assert bad.click_category_id is None              # -1 sentinel -> NULL


def test_session_full_info_matches_pandas(tables, sessions):
    pdf = tables["raw_pd"]
    got = {r.session_id: (r.step_length, r.visit_length) for r in sessions.collect()}
    g = pdf.groupby("session_id")["action_time"]
    times = g.agg(lambda s: (pd.to_datetime(s.max()) - pd.to_datetime(s.min())).seconds)
    steps = pdf.groupby("session_id").size()
    assert len(got) == len(steps)
    for sid in steps.index:
        assert got[sid] == (steps[sid], times[sid]), sid


def test_req1_histogram_matches_pandas(tables, sessions, spark):
    params = C.TaskParams()
    row = C.session_aggr_stats(sessions, params).first()
    pdf = tables["raw_pd"]
    t = pd.to_datetime(pdf["action_time"])
    by = pdf.assign(ts=t).groupby("session_id")["ts"]
    vl = (by.max() - by.min()).dt.total_seconds().astype(int)
    sl = pdf.groupby("session_id").size()
    n = len(vl)
    assert row.session_count == n
    assert row.visit_ratio_10s_30s == round(((vl >= 10) & (vl <= 30)).sum() / n, 2)
    assert row.visit_ratio_30m == round((vl >= 1801).sum() / n, 2)
    assert row.step_ratio_1_3 == round(((sl >= 1) & (sl <= 3)).sum() / n, 2)
    assert row.step_ratio_10_30 == round(((sl >= 10) & (sl <= 30)).sum() / n, 2)
    assert row.task_id == params.task_id


def test_task_params_rejects_date_range():
    """Nothing filtered on a date range, so a caller who set one got
    unfiltered results; the fields are gone and setting one fails."""
    with pytest.raises(TypeError):
        C.TaskParams(start_date="2024-03-01")
    with pytest.raises(TypeError):
        C.TaskParams(end_date="2024-03-31")


def test_req1_filters_apply(tables, sessions):
    params = C.TaskParams(start_age=20, end_age=40, sex="male")
    filtered = C.filter_sessions(sessions, params)
    users = tables["users_pd"]
    eligible = set(
        users[(users.age >= 20) & (users.age <= 40) & (users.sex == "male")].user_id
    )
    got_users = {r.user_id for r in filtered.select("user_id").distinct().collect()}
    assert got_users <= eligible
    raw_sessions = {
        r.session_id
        for r in sessions.where(F.col("user_id").isin(list(eligible))).collect()
    }
    assert {r.session_id for r in filtered.collect()} == raw_sessions


def test_req2_extract_quota(tables, sessions):
    params = C.TaskParams()
    out = C.session_random_extract(sessions, params, per_day=100).toPandas()
    # one generated day -> at most ~100 + one-per-hour rounding slack
    assert 0 < len(out) <= 100 + 24
    assert set(out["s_hour"]) <= set(range(24))
    # deterministic: same input -> same extraction
    out2 = C.session_random_extract(sessions, params, per_day=100).toPandas()
    assert sorted(out.session_id) == sorted(out2.session_id)


def test_req3_top10_matches_pandas(tables, spark):
    params = C.TaskParams()
    got = C.top10_categories(tables["actions"], params).toPandas()
    pdf = tables["raw_pd"]
    clicks = pdf[pdf.click_category_id != -1].click_category_id.value_counts()
    orders = (
        pdf.order_category_ids.dropna().str.split(",").explode().astype(int).value_counts()
    )
    pays = pdf.pay_category_ids.dropna().str.split(",").explode().astype(int).value_counts()
    exp = (
        pd.DataFrame({"click_count": clicks, "order_count": orders, "pay_count": pays})
        .fillna(0)
        .astype(int)
        .reset_index(names="category_id")
        .sort_values(
            ["click_count", "order_count", "pay_count", "category_id"],
            ascending=[False, False, False, True],
        )
        .head(10)
    )
    assert list(got.category_id) == list(exp.category_id)
    assert list(got.click_count) == list(exp.click_count)
    assert list(got.pay_count) == list(exp.pay_count)


def test_req4_top_sessions(tables, spark):
    params = C.TaskParams()
    top_cats = C.top10_categories(tables["actions"], params)
    got = C.top10_sessions_per_category(tables["actions"], top_cats, params).toPandas()
    assert set(got.category_id) <= set(top_cats.toPandas().category_id)
    assert (got.groupby("category_id").size() <= 10).all()
    assert (got.groupby("category_id")["rank"].min() == 1).all()
    # per-category click ordering is non-increasing by rank
    for _, grp in got.sort_values(["category_id", "rank"]).groupby("category_id"):
        assert list(grp.click_count) == sorted(grp.click_count, reverse=True)


def test_req5_funnel_matches_pandas(tables, spark):
    params = C.TaskParams(target_page_flow=[0, 1, 2, 3])
    got = C.page_convert_rate(spark, tables["actions"], params).toPandas()
    pdf = tables["raw_pd"].copy()
    pdf["ts"] = pd.to_datetime(pdf.action_time)
    # (ts, page_id) order — the engine's deterministic tiebreak for
    # same-second actions; original-row order would be an accident of
    # generation order
    pdf = pdf.sort_values(["session_id", "ts", "page_id"], kind="mergesort")
    pdf["next_page"] = pdf.groupby("session_id").page_id.shift(-1)
    pairs = pdf.dropna(subset=["next_page"])
    counts = pairs.groupby(["page_id", "next_page"]).size()
    start = (pdf.page_id == 0).sum()
    for _, r in got.iterrows():
        a, b = map(int, r.split.split("_"))
        expected = int(counts.get((a, float(b)), 0))
        assert r.split_count == expected, r.split
        assert r.rate_vs_start == round(expected / start, 2)


def test_req6_area_top3_matches_pandas(tables, spark):
    params = C.TaskParams()
    got = C.area_top3_products(
        tables["actions"], tables["product_info"], tables["city_info"], params
    ).toPandas()
    pdf = tables["raw_pd"]
    city = pd.DataFrame(
        [(c[0], c[1], c[2]) for c in __import__("bigdata_commerce_spark.sources.commerce", fromlist=["CITY_INFO"]).CITY_INFO],
        columns=["city_id", "city_name", "area"],
    )
    clicks = pdf[pdf.click_product_id != -1][["city_id", "click_product_id"]].merge(
        city, on="city_id"
    )
    counts = (
        clicks.groupby(["area", "click_product_id"])
        .size()
        .reset_index(name="click_count")
        .sort_values(["area", "click_count", "click_product_id"], ascending=[True, False, True])
    )
    top3 = counts.groupby("area").head(3)
    exp = {
        (r.area, r.click_product_id, r.click_count)
        for r in top3.itertuples()
    }
    assert {(r.area, r.product_id, r.click_count) for r in got.itertuples()} == exp
    assert (got.groupby("area").size() <= 3).all()
    assert set(got.product_status) <= {"Self", "Third Party"}
    # city list is colon-joined id:name pairs, comma-separated, sorted
    sample = got.city_infos.iloc[0].split(",")
    assert all(":" in c for c in sample) and sample == sorted(sample)


def test_partitioned_sink_prunes(tables, spark, tmp_path):
    """Date-partitioned layout must let Catalyst prune partitions for
    date-range predicates (the 100 TB scan contract)."""
    from pyspark.sql import functions as F2

    from bigdata_commerce_spark.sources.sinks import write_partitioned, write_table

    actions = tables["actions"]
    out = str(tmp_path / "actions_by_date")
    write_partitioned(actions, out, ["action_date"])
    back = spark.read.parquet(out)
    pruned = back.where(F2.col("action_date") == "2024-03-08")
    plan = pruned.queryExecution if False else pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "action_date" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == actions.count()  # single-day fixture

    write_table(actions.limit(10), "t_sink_check")
    assert spark.table("t_sink_check").count() == 10
    spark.sql("DROP TABLE t_sink_check")


def test_partitioned_sink_rejects_empty_string_partition(spark, tmp_path):
    """Spark/Hive writes an empty-string partition value to
    __HIVE_DEFAULT_PARTITION__, so it reads back as NULL — '' and NULL
    rows silently merge on round-trip (measured on this box). The sink
    must refuse by default and obey the explicit off-switch."""
    import pytest as _pytest

    from bigdata_commerce_spark.sources.sinks import write_partitioned

    df = spark.createDataFrame(
        [(1, "en"), (2, ""), (3, None)], "id long, lang string"
    )
    out = str(tmp_path / "bad_parts")
    with _pytest.raises(ValueError, match="empty-string"):
        write_partitioned(df, out, ["lang"])
    # the documented escape hatch accepts the merge
    write_partitioned(df, out, ["lang"], validate=False)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert back.where(F.col("lang").isNull()).count() == 2  # '' merged into NULL
    # NULL-free string partitions and non-string partitions skip clean
    ok = spark.createDataFrame([(1, "en"), (2, None)], "id long, lang string")
    write_partitioned(ok, str(tmp_path / "ok_parts"), ["lang"])


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """df.write.jdbc end-to-end against embedded Derby (the reference
    lands every result in MySQL, ``SessionStat.scala:152-159``): write
    in append mode twice, read back through the same JDBC path."""
    from pyspark.sql import functions as F2

    from bigdata_commerce_spark.sources.sinks import (
        derby_config,
        read_jdbc,
        write_jdbc,
    )

    cfg = derby_config(str(tmp_path / "derbydb"))
    df = spark.range(10).select(
        F2.col("id").alias("k"), (F2.col("id") * 2).cast("double").alias("v")
    )
    write_jdbc(df, "t_roundtrip", cfg)
    write_jdbc(df.where(F2.col("k") < 3), "t_roundtrip", cfg, mode="append")
    back = read_jdbc(spark, "t_roundtrip", cfg)
    assert back.count() == 13
    assert back.agg(F2.sum("v")).collect()[0][0] == sum(i * 2 for i in range(10)) + 6.0
    assert {f.name.lower() for f in back.schema.fields} == {"k", "v"}
