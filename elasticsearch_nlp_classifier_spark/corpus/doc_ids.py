"""Scalable dense doc_id assignment.

``doc_id = row_number() over (order by repo, path, commit)`` is the
spec (FIXTURES.md F1, mirroring the reference's integer ``_id`` used for
``pmod`` k-folds, `OpenNLPClassifierES.java:31-33`) — but a global
un-partitioned Window collapses to ONE task, which is exactly the kind
of plan that dies at 100 TB.  This module computes the identical result
distributed:

1. range-repartition by the key (global sort order across partitions),
2. sort within partitions,
3. count rows per partition (cheap agg),
4. cumulative per-partition offsets, added in the JVM to each row's
   position within its partition (``monotonically_increasing_id``
   minus the partition bits) — the rows never reach a Python worker.

Equality with the single-task ``row_number`` oracle is asserted in
``tests/test_corpus.py`` at small SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` + dense ``doc_id`` (int64, 1-based, ordered by key)."""
    keys = [F.col(c) for c in key_cols]
    # 4 waves per core by default: range boundaries are sampled, so
    # individual partitions are uneven — many small partitions let the
    # scheduler balance the tail instead of waiting on the largest
    # single partition (matters most when partitions == cores).
    n = num_partitions or (
        df.sparkSession.sparkContext.defaultParallelism * 4
    )
    parted = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .cache()
    )
    # per-partition row counts -> cumulative start offsets
    counts = (
        parted.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid").count()
        .orderBy("_pid")
        .collect()
    )
    offsets = [0] * (max((r["_pid"] for r in counts), default=0) + 1)
    acc = 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]

    # numbered in the JVM: monotonically_increasing_id is (partition id
    # << 33) + the row's position in its partition, so subtracting the
    # high bits leaves the position — no Python worker sees the rows
    pid = F.spark_partition_id()
    pos = F.monotonically_increasing_id() - F.shiftleft(
        pid.cast("bigint"), 33)
    start = F.element_at(F.array(*[F.lit(o) for o in offsets]), pid + 1)
    return parted.withColumn(
        "doc_id", (start.cast("bigint") + pos + 1).cast("bigint"))


def doc_ids_oracle(df: DataFrame, key_cols=("repo", "path", "commit")) -> DataFrame:
    """Single-task row_number oracle (small SF only)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(*key_cols)
    return df.withColumn("doc_id", F.row_number().over(w).cast("bigint"))
