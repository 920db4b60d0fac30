"""Streaming sinks: idempotent keyed-state merges via foreachBatch.

The reference treats MySQL as a mutable state store with four
hand-rolled upsert DAOs (``adversStat/src/main/scala/JdbcHelper.scala``):
AdUserClickCount *accumulates* (``:124``), AdStat / AdClickTrend
*overwrite per key* (``:230,360``), AdProvinceTop3 *delete-then-insert
per (date, province)* (``:283-309``), AdBlacklist *insert-distinct*
(``:21-41``) — all row-at-a-time JDBC with per-row SELECT-classify.

Here each mode is a ``foreachBatch`` function over a **versioned
parquet state table**: epoch E writes ``epoch=E`` under the state dir,
derived from the previous latest epoch + the batch. Re-running an
epoch rewrites the same content — idempotent under micro-batch
replay, which is exactly the guarantee the reference's DAOs lack.

Reading state starts no Spark job: ``read_state`` takes the schema
Spark wrote into a part file's footer and hands it to
``spark.read.schema(...)``, so the parquet schema-inference job that
every state read used to pay is gone. Nothing is cached, so a
restarted process reads the same way.

Full-state rewrite per epoch is the local-test compromise; the
production backend with per-batch I/O proportional to the batch is
``streaming/jdbc_state.JdbcStateBackend`` — the same four merge
algebras as real set-based ``MERGE INTO`` (stage + merge + epoch
ledger), exercised end-to-end against embedded Derby in
``tests/test_jdbc_state.py`` and parity-tested against these sinks.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BatchFn = Callable[[DataFrame, int], None]

_EPOCH_RE = re.compile(r"^epoch=(\d+)$")


def _latest_epoch(state_dir: str, before_epoch: int | None = None) -> int | None:
    if not os.path.isdir(state_dir):
        return None
    epochs = [
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := _EPOCH_RE.match(d)) and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    if before_epoch is not None:
        epochs = [e for e in epochs if e < before_epoch]
    return max(epochs) if epochs else None


def read_state(
    spark: SparkSession, state_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Latest committed state (optionally only epochs < before_epoch),
    or None if there is none.

    Sinks merge against the state *before* their own epoch: epoch E is
    a pure function of (state at E-1, batch E), so replaying a
    micro-batch rewrites identical content instead of double-merging.
    """
    latest = _latest_epoch(state_dir, before_epoch)
    if latest is None:
        return None
    epoch_dir = os.path.join(state_dir, f"epoch={latest}")
    return spark.read.schema(_epoch_schema(epoch_dir)).parquet(epoch_dir)


# Spark stores the writing DataFrame's schema in every part file's
# footer under this key; a committed epoch always has at least one
# part file (an empty write still produces one).
_ROW_METADATA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _epoch_schema(epoch_dir: str) -> T.StructType:
    """The committed epoch's schema, read from one part file's footer
    on the driver: ``spark.read.parquet`` would start a Spark job to
    infer it. The footer may mark columns non-nullable; the file
    source makes a given schema nullable, as inference does."""
    import pyarrow.parquet as pq

    part = next(f for f in sorted(os.listdir(epoch_dir)) if f.startswith("part-"))
    meta = pq.read_schema(os.path.join(epoch_dir, part)).metadata
    return T.StructType.fromJson(json.loads(meta[_ROW_METADATA_KEY]))


# Committed epochs kept per state dir. One committed predecessor is
# required for replay (epoch E re-derives from E-1); a small margin
# keeps debugging pleasant without letting the dir grow as
# epochs x full-state size forever.
KEEP_EPOCHS = 3


def _prune_epochs(state_dir: str, committed_epoch: int) -> None:
    epochs = sorted(
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := _EPOCH_RE.match(d))
    )
    # Never prune the just-committed epoch or the KEEP_EPOCHS before it.
    for e in [e for e in epochs if e <= committed_epoch][:-KEEP_EPOCHS]:
        import shutil

        shutil.rmtree(os.path.join(state_dir, f"epoch={e}"), ignore_errors=True)


def _write_epoch(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    df.write.mode("overwrite").parquet(os.path.join(state_dir, f"epoch={epoch_id}"))
    _prune_epochs(state_dir, epoch_id)


class ParquetStateBackend:
    """The epoch-dir sinks behind the pluggable state-backend protocol
    (same factory surface as ``jdbc_state.JdbcStateBackend``): state
    names resolve to ``work_dir/<name>`` epoch directories."""

    def __init__(self, spark: SparkSession, work_dir: str) -> None:
        self._spark = spark
        self._work_dir = work_dir

    def state_location(self, name: str) -> str:
        return os.path.join(self._work_dir, name)

    def read_state(self, name: str, before_epoch: int | None = None) -> DataFrame | None:
        return read_state(self._spark, self.state_location(name), before_epoch)

    def accumulate_sink(self, name: str, key_cols: list[str], value_col: str) -> BatchFn:
        return accumulate_sink(self.state_location(name), key_cols, value_col)

    def overwrite_sink(self, name: str, key_cols: list[str]) -> BatchFn:
        return overwrite_sink(self.state_location(name), key_cols)

    def replace_partition_sink(self, name: str, partition_cols: list[str]) -> BatchFn:
        return replace_partition_sink(self.state_location(name), partition_cols)

    def distinct_append_sink(self, name: str, key_cols: list[str]) -> BatchFn:
        return distinct_append_sink(self.state_location(name), key_cols)


def accumulate_sink(state_dir: str, key_cols: list[str], value_col: str) -> BatchFn:
    """AdUserClickCount semantics (``JdbcHelper.scala:124``):
    state[key] += batch[key] — an additive MERGE."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.groupBy(*key_cols).agg(F.sum(value_col).alias(value_col))
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        merged = (
            new if old is None
            else old.unionByName(new).groupBy(*key_cols).agg(F.sum(value_col).alias(value_col))
        )
        _write_epoch(merged, state_dir, epoch_id)

    return fn


def overwrite_sink(state_dir: str, key_cols: list[str]) -> BatchFn:
    """AdStat / AdClickTrend semantics (``JdbcHelper.scala:230,360``):
    batch rows replace state rows with the same key (the batch carries
    the new totals, e.g. from an update-mode stateful aggregation)."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is None:
            merged = batch_df
        else:
            merged = old.join(
                batch_df.select(*key_cols), key_cols, "left_anti"
            ).unionByName(batch_df)
        _write_epoch(merged, state_dir, epoch_id)

    return fn


def replace_partition_sink(state_dir: str, partition_cols: list[str]) -> BatchFn:
    """AdProvinceTop3 semantics (``JdbcHelper.scala:283-309``):
    delete-then-insert every partition present in the batch."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is None:
            merged = batch_df
        else:
            parts = batch_df.select(*partition_cols).distinct()
            merged = old.join(parts, partition_cols, "left_anti").unionByName(batch_df)
        _write_epoch(merged, state_dir, epoch_id)

    return fn


def distinct_append_sink(state_dir: str, key_cols: list[str]) -> BatchFn:
    """AdBlacklist semantics (``JdbcHelper.scala:21-41`` + the distinct
    at ``AdverStat.scala:307``): set-union of keys, never duplicated."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.select(*key_cols).distinct()
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        merged = new if old is None else old.unionByName(new).distinct()
        _write_epoch(merged, state_dir, epoch_id)

    return fn
