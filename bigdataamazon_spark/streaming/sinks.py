"""Streaming sinks: foreachBatch upsert into a parquet snapshot.

The standard streaming-CDC pattern: each micro-batch is a change set,
MERGEd into the serving snapshot by key — exactly-once *effect* on top
of Spark's at-least-once foreachBatch.

- **One execution per micro-batch.** The batch frame is a scan over the
  stream's (often stateful) plan, so every action on it re-runs that
  plan and reloads and recommits its state store. The sink reduces the
  batch to one winner per key, persists that, and materializes it with
  a single ``count()``; the merge then reads the persisted rows. A
  batch with no rows (e.g. a no-data batch that only evicts watermark
  state) stops there: the snapshot is neither read nor rewritten. Only
  when no snapshot exists yet does an empty batch write an empty one.
- **Epoch guard.** Each epoch writes ``v{epoch}`` and then swaps the
  ``_CURRENT`` pointer to it; the pointer also records the streaming
  query's id, which stays the same across restarts from one checkpoint.
  A replay by that query of the epoch the pointer names (a crash between
  the swap and Spark's offset commit) is already applied and returns
  without writing; any other replay re-merges, which is idempotent per
  key because ``order_col`` decides between rows, so reordered or
  replayed batches cannot regress the snapshot. A snapshot dir belongs
  to one checkpoint: another query that reaches the epoch the pointer
  names raises instead of dropping its batch or overwriting the version
  it reads.
- **Two-version retention.** After the swap, every version directory
  except the new one and the one it replaced is deleted, so a reader
  that opened the previous version keeps working while disk use stays
  at about two snapshots.

Plain parquet has no transactional commit, so the snapshot swap here is
write-to-versioned-dir + pointer file; on a cluster you'd hand the same
merge plan to a table format (Delta/Iceberg/Hudi) whose commit protocol
makes the swap atomic across writers. The merge plan — snapshot never
shuffles, change keys broadcast — is the same shape as the batch op
``operators/relational.merge_upsert``, plus per-key ``order_col``
arbitration.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

_POINTER = "_CURRENT"


def _read_pointer(snapshot_dir: str) -> tuple[str | None, str]:
    """The current version and the id of the query that wrote it
    (empty when it was written outside a stream)."""
    p = os.path.join(snapshot_dir, _POINTER)
    if not os.path.exists(p):
        return None, ""
    with open(p) as f:
        version, _, query_id = f.read().strip().partition("\n")
    return version or None, query_id


def read_snapshot(spark, snapshot_dir: str) -> DataFrame | None:
    """The current snapshot; None until the first batch is applied."""
    v = _read_pointer(snapshot_dir)[0]
    if v is None:
        return None
    return spark.read.parquet(os.path.join(snapshot_dir, v))


def upsert_batch(
    batch: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    order_col: str,
    epoch_id: int,
) -> None:
    """Merge one micro-batch into the snapshot.

    Correctness under replay AND reordering: the winner for a key is
    the row with max ``order_col`` across {current snapshot row, batch
    rows} — NOT blind last-batch-wins, or an out-of-order micro-batch
    would regress the snapshot. The arbitration set is tiny (touched
    snapshot rows ∪ batch), so its window is cheap; the untouched bulk
    of the snapshot only ever feels a broadcast anti probe — the
    snapshot is never shuffled no matter its size.
    """
    spark = batch.sparkSession
    # set on the thread that runs a streaming query's batches
    query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId") or ""
    version = f"v{epoch_id}"
    previous, owner = _read_pointer(snapshot_dir)
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), *[F.desc(c) for c in batch.columns if c != order_col]
    )
    latest = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .persist()
    )
    try:
        # the one execution of the batch's plan (and its state commit)
        empty = latest.count() == 0
        if previous is not None and (empty or (previous, owner) == (version, query_id)):
            return  # nothing to merge, or a replay of the epoch already applied
        if previous == version:
            raise RuntimeError(
                f"{snapshot_dir}: {version} was written by query {owner or '(none)'}, "
                f"not {query_id or '(none)'}; a snapshot dir belongs to one checkpoint"
            )
        if previous is None:
            merged = latest
        else:
            current = spark.read.parquet(os.path.join(snapshot_dir, previous))
            keys = F.broadcast(latest.select(*key_cols))  # one row per key
            winners = (
                current.join(keys, key_cols, "left_semi")
                .unionByName(latest)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            merged = current.join(keys, key_cols, "left_anti").unionByName(winners)
        merged.write.mode("overwrite").parquet(os.path.join(snapshot_dir, version))
    finally:
        latest.unpersist()
    tmp = os.path.join(snapshot_dir, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(f"{version}\n{query_id}" if query_id else version)
    os.replace(tmp, os.path.join(snapshot_dir, _POINTER))
    for d in os.listdir(snapshot_dir):
        if d[:1] == "v" and d[1:].isdigit() and d not in (version, previous):
            shutil.rmtree(os.path.join(snapshot_dir, d), ignore_errors=True)


def stream_upsert_sink(
    stream: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    order_col: str,
    *,
    checkpoint_dir: str,
    query_name: str = "upsert_sink",
):
    """Attach the merge sink to a stream; returns the StreamingQuery."""
    os.makedirs(snapshot_dir, exist_ok=True)
    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, epoch: upsert_batch(
                df, snapshot_dir, key_cols, order_col, epoch
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
