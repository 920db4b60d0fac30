"""Scale probe: does the dedup/ANN family stay sub-quadratic when the
corpus grows 10x?

No sf1 testdata ships in this environment, so the probe synthesizes a
10x corpus from sf0.1 by unioning 10 id-remapped, DECORRELATED
copies. Decorrelation is the load-bearing choice: a verbatim (or
lightly-marked) 10x copy makes every document a 10-way near-dup, so
pair outputs grow ~45x and the measurement becomes "how fast can you
emit 1000x more pairs", not "does candidate generation stay linear"
(a first probe run with one marker token per copy measured exactly
that: 971x the output pairs). Instead:

- documents: every third token gets a copy-specific suffix, so EVERY
  3-gram shingle of a copy differs from the original and from other
  copies (any 3 consecutive tokens contain a mutated position) —
  cross-copy Jaccard is 0 while within-copy structure is preserved
  (copy-mates of originally-similar docs mutate identically, so their
  similarity survives). Output pairs grow exactly 10x.
- embeddings: each copy is multiplied elementwise by a deterministic
  per-copy +-1 sign pattern — an orthogonal transform, so within-copy
  cosines are EXACTLY the originals' while cross-copy cosines collapse
  toward 0. Output near-dup pairs grow exactly 10x.

For each probed operator the headline number is wall(10x)/wall(1x):
a candidate-generation design that is secretly all-pairs goes ~100x;
the banded/bucketed designs should stay near ~10x (plus constant
overhead). Prints one JSON line; run ad-hoc, results recorded in
SCALE.md.

Suites (argv[1]): ``dedup`` (default), ``relational``, ``skew``,
``memory``, ``streaming`` and ``trigger_shapes``. The skew suite
measures wall(skewed)/wall(uniform) on twin corpora differing ONLY in
key distribution (one planted hot key owning ~30% of rows), across
the execution shapes key skew can land on: hash agg, salted agg,
rank-limit window, running-frame window, composite-key window,
sort-merge join with AQE skew-split on/off, and the salted join.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_commerce_spark import get_spark  # noqa: E402
from bigdata_commerce_spark.operators import dedup, similarity  # noqa: E402
from bigdata_commerce_spark.operators.dedup_cluster import connected_components  # noqa: E402

SCRATCH = Path(__file__).resolve().parent / ".scratch" / "scale_probe"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10


def build_corpus(spark) -> tuple[str, str]:
    """10 id-remapped copies of documents + embeddings, written once."""
    docs_out = str(SCRATCH / "documents10x")
    emb_out = str(SCRATCH / "embeddings10x")
    if not (Path(docs_out).exists() and Path(emb_out).exists()):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        n_docs = docs.count()
        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_emb = emb.count()
        copies = spark.range(COPIES).withColumnRenamed("id", "copy")
        (
            docs.crossJoin(F.broadcast(copies))
            .select(
                (F.col("doc_id") + F.col("copy") * F.lit(n_docs)).alias("doc_id"),
                # copy 0 = originals; copies 1..9 mutate every third
                # token (see module docstring)
                F.when(F.col("copy") == 0, F.col("text"))
                .otherwise(
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda x, i: F.when(
                                i % 3 == 0,
                                F.concat(x, F.lit("c"), F.col("copy").cast("string")),
                            ).otherwise(x),
                        ),
                        " ",
                    )
                )
                .alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .repartition(32)
            .write.parquet(docs_out)
        )
        (
            emb.crossJoin(F.broadcast(copies))
            .select(
                (F.col("vec_id") + F.col("copy") * F.lit(n_emb)).alias("vec_id"),
                # deterministic +-1 sign pattern per (copy, dim):
                # parity of a md5 nibble — orthogonal transform, see
                # module docstring; copy 0 keeps the originals
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(F.col("copy") == 0, x).otherwise(
                        x
                        * F.when(
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":",
                                            F.col("copy").cast("string"),
                                            i.cast("string"),
                                        )
                                    ),
                                    1,
                                    1,
                                ),
                                16,
                                10,
                            ).cast("int")
                            % 2
                            == 0,
                            F.lit(1.0),
                        ).otherwise(F.lit(-1.0))
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            )
            .repartition(32)
            .write.parquet(emb_out)
        )
    return docs_out, emb_out


def probes(spark, docs_path: str, emb_path: str):
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    probe_vecs = emb.where(F.col("vec_id") < 5)
    return {
        "dedup_exact": lambda: dedup.exact_duplicates(docs).count(),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            docs, num_hashes=8, bands=4, threshold=0.8
        ).count(),
        "dedup_simhash": lambda: dedup.simhash_pairs(docs, max_hamming=3).count(),
        "dedup_ngram_jaccard": lambda: dedup.jaccard_pairs(docs, threshold=0.8).count(),
        "dedup_clusters": lambda: connected_components(
            docs.select(F.col("doc_id").alias("id")),
            dedup.jaccard_pairs(docs, threshold=0.8),
            node_col="id",
        ).count(),
        "embedding_ann_ivf": lambda: similarity.ivf_topk(
            emb, probe_vecs, k=5, n_centroids=16, nprobe=4
        ).count(),
        "embedding_neardup": lambda: similarity.neardup_pairs(
            emb, threshold=0.45
        ).count(),
    }


# The relational/session/streaming-batch heavies (top unprobed bench
# timings at sf0.1, incl. every r3-verdict target). corpus_curation
# rides along because the 10x documents land in the same dir.
RELATIONAL_PROBE = [
    "region_top3_parts",
    "event_rollup_ladder",
    "ad_launch_window_counts",
    "lineitem_cube",
    "session_extract",
    "asof_click_attribution",
    "heavy_hitter_users",
    "session_stats",
    "pricing_summary",
    "supplier_window_suite",
    "corpus_curation",
]


def build_relational_corpus(spark, docs10: str, emb10: str, n_copies: int) -> str:
    """A full sf-dir at ``n_copies``x: fact tables (lineitem, orders,
    events) unioned as id-remapped copies, dimension tables copied
    verbatim (dims stay broadcast-sized as data grows — the 100 TB
    shape), and the decorrelated documents/embeddings linked in.

    Fact decorrelation = key remapping only (join keys offset by
    copy * (max_key + 1)): join integrity holds within each copy, key
    cardinality grows Nx (Nx users / orders, constant per-key fan-in),
    while value/date distributions are untouched — so group-by output
    grows where keys grow and only there, and a probe ratio near Nx
    means linear scan/shuffle work, not Nx-heavier groups.

    A 1x corpus is built through the SAME writer (32 files): the
    shipped sf0.1 facts are single parquet files, i.e. one scan task,
    so raw sf0.1-vs-10x walls would measure file-layout parallelism,
    not data growth. Layout-matched sides isolate the data term."""
    from bigdata_commerce_spark.sources.testdata import load_table

    out_dir = SCRATCH / f"sf{n_copies}x"
    done = out_dir / "_BUILT"
    if done.exists():
        return str(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)

    for dim in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(SF_DIR, f"{dim}.parquet")
        dst = out_dir / f"{dim}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)

    copies = spark.range(n_copies).withColumnRenamed("id", "copy")

    def fan_out(df, remap: dict):
        """remap: col -> stride. Strides for a SHARED key domain
        (l_orderkey / o_orderkey) must be the same number, or copy k
        of lineitem would reference different orders than copy k of
        orders writes — silent join breakage."""
        fanned = df.crossJoin(F.broadcast(copies))
        for c, stride in remap.items():
            fanned = fanned.withColumn(c, F.col(c) + F.col("copy") * F.lit(stride))
        return fanned.drop("copy").repartition(32)

    li = load_table(spark, "lineitem", SF_DIR)
    orders = load_table(spark, "orders", SF_DIR)
    order_stride = (
        max(
            li.agg(F.max("l_orderkey")).collect()[0][0],
            orders.agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    fan_out(li, {"l_orderkey": order_stride}).write.parquet(
        str(out_dir / "lineitem.parquet")
    )
    fan_out(orders, {"o_orderkey": order_stride}).write.parquet(
        str(out_dir / "orders.parquet")
    )
    ev = load_table(spark, "events", SF_DIR)
    ev_strides = {
        c: int(ev.agg(F.max(c)).collect()[0][0]) + 1 for c in ("event_id", "user_id")
    }
    fan_out(ev, ev_strides).write.parquet(str(out_dir / "events.parquet"))

    # decorrelated text/vector corpora from the dedup-probe builders;
    # the 1x twin re-lands the originals through the same 32-file
    # writer so both sides scan with equal parallelism
    if n_copies == 1:
        for name in ("documents.parquet", "embeddings.parquet"):
            spark.read.parquet(os.path.join(SF_DIR, name)).repartition(32
            ).write.parquet(str(out_dir / name))
    else:
        for src, name in ((docs10, "documents.parquet"), (emb10, "embeddings.parquet")):
            shutil.copytree(src, out_dir / name)
    done.touch()
    return str(out_dir)


# ------------------------------------------- streaming throughput


def streaming_probe(
    spark, n_chunks: int = 20, files_per_trigger: int = 1, backend: str = "parquet"
) -> dict:
    """Sustained-throughput probe of the four-sink reqs 7-10 topology
    (the soak test proves restart correctness; this measures rate):
    sf0.1's ~20k click events (~95x the soak volume; the reference's
    mock feed is 102 events/s, MockRealTimeData.scala:30,72) land as
    ``n_chunks`` files -> one micro-batch each, through
    run_ad_pipeline with the parquet epoch backend. Records rows/sec
    and the per-batch latency TREND from the query's own progress
    telemetry — the trend is the point: every accumulate sink
    re-merges full state per epoch, so per-batch cost grows with
    state size and the slope says when the parquet stand-in stops
    being a stand-in (the JDBC MERGE backend is the per-batch-I/O
    production path)."""
    import tempfile

    from bigdata_commerce_spark.streaming import pipelines

    work = tempfile.mkdtemp(dir=str(SCRATCH), prefix="stream_probe_")
    src = Path(work) / "src"
    src.mkdir()
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ad = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("ts").cast("timestamp").alias("event_time"),
            F.to_date(F.col("ts").cast("timestamp")).alias("event_date"),
            F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string")).alias(
                "province"
            ),
            F.concat(F.lit("c"), (F.col("user_id") % 100).cast("string")).alias(
                "city"
            ),
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("ad_id"),
        )
        .orderBy("event_time")
    )
    rows = ad.collect()
    step = len(rows) // n_chunks
    for i in range(n_chunks):
        chunk = rows[i * step :] if i == n_chunks - 1 else rows[i * step : (i + 1) * step]
        chunk_dir = Path(work) / f"chunk_{i}"
        spark.createDataFrame(chunk, ad.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(chunk_dir))
        shutil.copy(
            next(chunk_dir.glob("part-*.parquet")), src / f"{i:03d}.parquet"
        )

    state_backend = None
    if backend == "jdbc":
        from bigdata_commerce_spark.sources.sinks import derby_config
        from bigdata_commerce_spark.streaming.jdbc_state import JdbcStateBackend

        state_backend = JdbcStateBackend(
            spark, derby_config(os.path.join(work, "derby"))
        )
    handles = pipelines.run_ad_pipeline(
        pipelines.file_event_source(
            spark, str(src), max_files_per_trigger=files_per_trigger
        ),
        os.path.join(work, "state"),
        blacklist_threshold=10**9,  # organic data: measure rate, not feedback
        backend=state_backend,
    )
    t0 = time.perf_counter()
    handles.process_all()
    wall = time.perf_counter() - t0
    progress = [
        {
            "batch": p.batchId,
            "rows": int(p.numInputRows),
            "trigger_ms": int(p.durationMs.get("triggerExecution", -1)),
        }
        for p in handles.queries[0].recentProgress
        if p.numInputRows > 0
    ]
    handles.stop()
    total = sum(p["rows"] for p in progress)
    first3 = [p["trigger_ms"] for p in progress[:3]]
    last3 = [p["trigger_ms"] for p in progress[-3:]]
    return {
        "metric": "streaming_four_sink_throughput",
        "total_rows": total,
        "n_batches": len(progress),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(total / wall, 1),
        "batch_ms_first3": first3,
        "batch_ms_last3": last3,
        "growth_factor": round(
            (sum(last3) / len(last3)) / (sum(first3) / len(first3)), 2
        ),
        "batches": progress,
    }


def run_probe(pairs: dict, headline: str, labels: tuple[str, str] = ("1x", "10x")) -> dict:
    a, b = labels
    out = {"metric": headline, "copies": COPIES, "ops": {}}
    for name, (fn1, fn10) in pairs.items():
        # symmetric warm-up: both sides pay one run before timing, so
        # one-time reader/codegen cost doesn't inflate only the
        # second-side number (the headline ratio)
        fn1()
        fn10()
        t0 = time.perf_counter()
        n1 = fn1()
        w1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        n10 = fn10()
        w10 = time.perf_counter() - t0
        out["ops"][name] = {
            f"wall_{a}": round(w1, 2),
            f"wall_{b}": round(w10, 2),
            "ratio": round(w10 / w1, 2),
            f"rows_{a}": n1,
            f"rows_{b}": n10,
        }
        print(f"# {name}: {w1:.2f}s -> {w10:.2f}s ({w10 / w1:.2f}x)", file=sys.stderr)
    return out


# ------------------------------------------------- skew-stress suite

HOT_USER = -777  # outside the real user_id domain


def build_skew_corpus(spark, sf10: str) -> tuple[str, str, str]:
    """Uniform/skewed twins of the 10x events table + a user dim,
    all landed through the same 32-file writer so walls compare data
    distribution, not layout.

    The base is the 10x events fanned ANOTHER 10x (id-remapped copies,
    10M rows, 150k users): at 1M rows the hot partition sorts in
    ~0.1 s and per-task overhead swamps the skew term — a first probe
    run measured every ratio at 0.93-1.15x, i.e. noise. At 10M rows
    the hot key is ~3M rows on one reducer and the skew term dominates
    where it really would.

    The skewed twin plants one Zipfian-style hot key: every row with
    event_id % 10 < 3 (~30% of all rows) is reassigned to HOT_USER —
    the one-user-owns-a-third-of-traffic shape (bot account, default
    id, null-substitute) that breaks naive key-partitioned stages at
    100 TB. The uniform twin runs the SAME projection with a
    never-true condition, so both sides' files come from identical
    plans. The dim carries every user of either side plus a sha256
    payload column, and broadcast is disabled in the join probes so
    the sort-merge reducer path (where key skew actually lands) is
    what gets measured."""
    out = SCRATCH / "skew"
    done = out / "_BUILT"
    ev_unif = str(out / "events_unif.parquet")
    ev_skew = str(out / "events_skew.parquet")
    user_dim = str(out / "user_dim.parquet")
    if done.exists():
        return ev_unif, ev_skew, user_dim
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    base = spark.read.parquet(os.path.join(sf10, "events.parquet"))
    strides = {
        c: int(base.agg(F.max(c)).collect()[0][0]) + 1
        for c in ("event_id", "user_id")
    }
    copies = spark.range(COPIES).withColumnRenamed("id", "copy")
    ev = base.crossJoin(F.broadcast(copies))
    for c, stride in strides.items():
        ev = ev.withColumn(c, F.col(c) + F.col("copy") * F.lit(stride))
    ev = ev.drop("copy")

    def land(df, path):
        df.repartition(32).write.parquet(path)

    def reassign(threshold: int):
        return ev.withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 < threshold, F.lit(HOT_USER)).otherwise(
                F.col("user_id")
            ),
        )

    land(reassign(-1), ev_unif)  # never-true: uniform, identical plan
    land(reassign(3), ev_skew)  # ~30% of rows on one key
    users = (
        spark.read.parquet(ev_unif)
        .select("user_id")
        .union(spark.read.parquet(ev_skew).select("user_id"))
        .distinct()
    )
    land(
        users.withColumn("segment", F.pmod("user_id", F.lit(100)).cast("int"))
        .withColumn("profile", F.sha2(F.col("user_id").cast("string"), 256)),
        user_dim,
    )
    done.touch()
    return ev_unif, ev_skew, user_dim


def skew_probes(spark, ev_path: str, dim_path: str):
    """One entry per skew-relevant execution shape. Thresholds inside
    the join probes are lowered so AQE's skew split fires at the local
    toy scale (the hot partition here is ~10 MB; production defaults —
    256 MB / 5x median — fire on real skew without tuning)."""
    from pyspark.sql import Window

    from bigdata_commerce_spark.operators.mixing import rate_cap_per_key_bucket
    from bigdata_commerce_spark.operators.salted import salted_count, salted_join

    ev = spark.read.parquet(ev_path)
    dim = spark.read.parquet(dim_path)

    def with_conf(conf: dict, fn):
        def wrapped():
            old = {k: spark.conf.get(k) for k in conf}
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                return fn()
            finally:
                for k, v in old.items():
                    spark.conf.set(k, v)

        return wrapped

    smj = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    aqe_tuned = {
        **smj,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
    }
    aqe_off = {**aqe_tuned, "spark.sql.adaptive.skewJoin.enabled": "false"}

    def join_fn():
        # payload columns on both sides so the join moves real bytes
        # (count() alone would let column pruning empty the shuffle)
        return (
            ev.join(dim, "user_id")
            .agg(F.sum(F.length("profile")) + F.sum(F.length("props")))
            .collect()[0][0]
        )

    def window_fn():
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("r", F.row_number().over(w)).where("r <= 5").count()
        )

    def cumsum_fn():
        # the REAL single-key-window anti-pattern: a running frame
        # cannot be saved by WindowGroupLimit (unlike rank<=k, which
        # Spark 4 pushes below the shuffle as a per-map-partition
        # top-k), so the hot key's 3M rows sort and scan on ONE task
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            ev.withColumn("rt", F.sum("value").over(w))
            .agg(F.sum("rt"))
            .collect()[0][0]
        )

    def running_sum_fn(bucket_seconds):
        # the operator form of the same cumulative sum (exact decimal,
        # two-level prefix path when bucketed)
        from bigdata_commerce_spark.operators.running import running_sum_per_key

        return float(
            running_sum_per_key(
                ev, "user_id", "ts", "value", "rt",
                bucket_seconds=bucket_seconds, tiebreak_col="event_id",
            )
            .agg(F.sum("rt"))
            .collect()[0][0]
        )

    from bigdata_commerce_spark.operators.asof import asof_join
    from bigdata_commerce_spark.operators.sessionize import sessionize

    def asof_fn(bucket_seconds):
        # probe side = ALL events (the hot key then owns 3M window
        # rows — a click/purchase-only probe leaves walls too small
        # for the skew term to dominate at this scale)
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        probes_side = ev.select("event_id", "user_id", "ts")
        # count the MATCHED payloads, not the rows: a bare count()
        # lets Catalyst prune the running-last window away entirely
        # (the side filter doesn't depend on it) and the probe then
        # times an empty plan — measured 0.36s flat for 10M rows
        return (
            asof_join(
                probes_side,
                clicks,
                on="user_id",
                left_ts="ts",
                right_ts="ts",
                payload_cols=["value"],
                bucket_seconds=bucket_seconds,
            )
            .agg(F.count("asof_value"))
            .collect()[0][0]
        )

    def sessionize_fn(bucket_seconds):
        # max() forces session-id computation for every row without a
        # second big shuffle on top
        return (
            sessionize(ev, gap_minutes=30, bucket_seconds=bucket_seconds)
            .agg(F.max("session_id"))
            .collect()[0][0]
        )

    return {
        "groupby_count": lambda: ev.groupBy("user_id").count().count(),
        "asof_exact": lambda: asof_fn(None),
        "asof_bucketed_1h": lambda: asof_fn(3600),
        "sessionize_exact": lambda: sessionize_fn(None),
        "sessionize_bucketed_1h": lambda: sessionize_fn(3600),
        "salted_count_16": lambda: salted_count(
            ev, ["user_id"], F.col("event_id"), 16
        ).count(),
        "window_per_key_top5": window_fn,
        "window_cumsum_per_key": cumsum_fn,
        "running_sum_exact": lambda: running_sum_fn(None),
        "running_sum_bucketed_1h": lambda: running_sum_fn(3600),
        "rate_cap_bucketed": lambda: rate_cap_per_key_bucket(
            ev, 5, 3600, tiebreak_col="event_id"
        ).count(),
        "smj_aqe_skew_on": with_conf(aqe_tuned, join_fn),
        "smj_aqe_skew_off": with_conf(aqe_off, join_fn),
        "salted_join_16": with_conf(
            smj,
            lambda: salted_join(
                ev, dim, ["user_id"], F.col("event_id"), salt_buckets=16
            )
            .agg(F.sum(F.length("profile")) + F.sum(F.length("props")))
            .collect()[0][0],
        ),
    }



def _spill_meter(spark):
    """Cumulative (memoryBytesSpilled, diskBytesSpilled) across all
    completed stages, via the UI REST API (the session must run with
    spark.ui.enabled=true). Callers diff two readings around an op."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def read() -> tuple[int, int]:
        url = f"{ui}/api/v1/applications/{app}/stages?status=COMPLETE"
        with urllib.request.urlopen(url) as r:
            stages = json.load(r)
        return (
            sum(s.get("memoryBytesSpilled", 0) for s in stages),
            sum(s.get("diskBytesSpilled", 0) for s in stages),
        )

    return read


def memory_probes(spark, docs10: str, ev_path: str) -> dict:
    """Memory-pressure probe (round-6 verdict item 4): the heaviest
    operator families under a capped executor heap, with spill bytes
    read from the stage metrics. Run the suite twice —
    SPARK_DRIVER_MEMORY=8g (the tuned default: no spill expected) and
    a hard cap like 2g — and compare wall degradation vs spill volume.
    In local mode the driver heap IS the executor heap, so the cap
    models a 100x input-to-memory ratio: execution memory per task =
    heap * memory.fraction / 32 threads."""
    from bigdata_commerce_spark.operators.sessionize import sessionize

    docs = spark.read.parquet(docs10)

    # Fan the 10M-row events another 5x (50M rows, ~5 GB of payload
    # through the sessionize sort) — the '100x-class' input-to-memory
    # ratio a capped heap is probed against. Built once.
    ev50 = str(SCRATCH / "events_50m.parquet")
    if not os.path.exists(os.path.join(ev50, "_SUCCESS")):
        base = spark.read.parquet(ev_path)
        stride = int(base.agg(F.max("event_id")).collect()[0][0]) + 1
        copies = spark.range(5).withColumnRenamed("id", "copy")
        (
            base.crossJoin(F.broadcast(copies))
            .withColumn("event_id", F.col("event_id") + F.col("copy") * F.lit(stride))
            .drop("copy")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(ev50)
        )
    ev = spark.read.parquet(ev50)
    n_docs, n_ev = docs.count(), ev.count()

    # Every op is consumed through an aggregate over its OUTPUT
    # columns — a bare count() lets column pruning delete the window/
    # join work entirely (first draft measured sessionize_exact at
    # 0.19s for 10M rows: Catalyst had pruned the session ids).
    def session_sum(bucket_seconds):
        def fn():
            s = sessionize(ev, gap_minutes=30, bucket_seconds=bucket_seconds)
            # pmod before the sum: 50M raw xxhash64 values overflow
            # the ANSI-mode long sum
            h = F.pmod(F.xxhash64("user_id", "session_id"), F.lit(1_000_000))
            return int(s.agg(F.sum(h)).collect()[0][0] % 1_000_000)

        return fn

    def minhash():
        pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4, threshold=0.8)
        return int(pairs.agg(F.sum(F.col("id1") + F.col("id2"))).collect()[0][0])

    def clusters():
        edges = dedup.jaccard_pairs(docs, threshold=0.8)
        cc = connected_components(
            docs.select(F.col("doc_id").alias("id")),
            edges,
            node_col="id",
            small_graph_threshold=0,  # force the distributed tier
        )
        return int(cc.agg(F.sum("cluster_id")).collect()[0][0] % 1_000_000)

    ops = {
        "dedup_minhash_lsh": minhash,
        "sessionize_exact": session_sum(None),
        "sessionize_bucketed_1h": session_sum(3600),
        "dedup_clusters_distributed": clusters,
    }
    meter = _spill_meter(spark)
    out = {
        "heap": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "rows": {"documents": n_docs, "events": n_ev},
        "ops": {},
    }
    for name, fn in ops.items():
        fn()  # warm: reader/codegen cost out of the timed run
        m0, d0 = meter()
        t0 = time.perf_counter()
        n = fn()
        wall = time.perf_counter() - t0
        m1, d1 = meter()
        out["ops"][name] = {
            "wall": round(wall, 2),
            "rows": n,
            "spill_mem_mb": round((m1 - m0) / 1048576, 1),
            "spill_disk_mb": round((d1 - d0) / 1048576, 1),
        }
        print(f"# {name}: {wall:.2f}s spill_mem={(m1-m0)/1048576:.0f}MB "
              f"spill_disk={(d1-d0)/1048576:.0f}MB", file=sys.stderr)
    return out


def main() -> None:
    suite = sys.argv[1] if len(sys.argv) > 1 else "dedup"
    spark = get_spark(
        app_name="scale_probe",
        # the memory suite reads spill bytes from the UI REST API
        extra_conf={"spark.ui.enabled": "true"} if suite == "memory" else None,
    )
    docs10, emb10 = build_corpus(spark)

    if suite == "relational":
        # the probed names may sit in either registry
        from bigdata_commerce_spark.plans import QUERIES, TWIN_QUERIES

        all_q = {**TWIN_QUERIES, **QUERIES}
        sf1 = build_relational_corpus(spark, docs10, emb10, 1)
        sf10 = build_relational_corpus(spark, docs10, emb10, COPIES)
        pairs = {
            name: (
                lambda n=name: len(all_q[n](spark, sf1).collect()),
                lambda n=name: len(all_q[n](spark, sf10).collect()),
            )
            for name in RELATIONAL_PROBE
        }
        out = run_probe(pairs, "scale_probe_10x_ratio_relational")
    elif suite == "skew":
        sf10 = build_relational_corpus(spark, docs10, emb10, COPIES)
        ev_unif, ev_skew, user_dim = build_skew_corpus(spark, sf10)
        p_unif = skew_probes(spark, ev_unif, user_dim)
        p_skew = skew_probes(spark, ev_skew, user_dim)
        pairs = {name: (p_unif[name], p_skew[name]) for name in p_unif}
        out = run_probe(pairs, "scale_probe_skew_ratio", labels=("unif", "skew"))
        # context for the SCALE.md table: how hot is the planted key
        from bigdata_commerce_spark.operators.salted import key_skew_report

        rep = key_skew_report(
            spark.read.parquet(ev_skew), ["user_id"], k=1
        ).collect()[0]
        out["planted_skew"] = {
            "hot_share": float(rep.share),
            "skew_factor": float(rep.skew_factor),
            "n_keys": int(rep.n_keys),
            "total_rows": int(rep.total_rows),
        }
    elif suite == "memory":
        sf10 = build_relational_corpus(spark, docs10, emb10, COPIES)
        ev_unif, _, _ = build_skew_corpus(spark, sf10)
        out = {
            "metric": "memory_pressure_probe",
            **memory_probes(spark, docs10, ev_unif),
        }
    elif suite == "streaming":
        # per-file batches (the soak cadence) vs one big batch: the
        # spread between the two rates is the per-batch FIXED cost
        # (sink merges + state reads), not per-row work
        out = {
            "metric": "streaming_four_sink_throughput",
            "per_file_batches": streaming_probe(spark, files_per_trigger=1),
            "single_batch": streaming_probe(spark, files_per_trigger=20),
            # the production state store: per-batch-delta MERGE I/O
            # instead of the parquet store's full-state rewrite.
            # 10 chunks for BOTH backends (the SCALE.md comparison
            # rows): Derby's single-process insert throughput makes
            # the trend sink's replay-artifact volume the wall-clock
            # term, so the jdbc run is ~10s/batch
            "per_file_batches_10": streaming_probe(spark, n_chunks=10),
            "per_file_batches_10_jdbc": streaming_probe(
                spark, n_chunks=10, backend="jdbc"
            ),
        }
    elif suite == "trigger_shapes":
        # round-8 (verdict item 6): the throughput/latency trade at
        # realistic batch sizes — 40 landed files consumed 1 / 4 / 10 /
        # 40 files per trigger. Throughput rises with batch size (the
        # per-batch fixed cost — four sink merges + state reads —
        # amortizes over more rows) while per-event latency bound is
        # the trigger interval itself; the table is the dial a 100 TB
        # ingest chooses an operating point on.
        out = {
            "metric": "streaming_trigger_shapes",
            "shapes": {
                f"files_per_trigger={k}": streaming_probe(
                    spark, n_chunks=40, files_per_trigger=k
                )
                for k in (1, 4, 10, 40)
            },
        }
        for name, s in out["shapes"].items():
            s.pop("batches", None)  # keep the JSON line readable
    else:
        docs1 = os.path.join(SF_DIR, "documents.parquet")
        emb1 = os.path.join(SF_DIR, "embeddings.parquet")
        p1 = probes(spark, docs1, emb1)
        p10 = probes(spark, docs10, emb10)
        pairs = {name: (p1[name], p10[name]) for name in p1}
        out = run_probe(pairs, "scale_probe_10x_ratio")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
