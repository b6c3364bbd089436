"""Document deletes (tombstones) for the physical index — the Lucene
``liveDocs`` model mapped onto parquet.

The reference delegates deletion to ES (documents drop out of results
immediately; segment data is purged lazily by background merges —
Lucene's liveDocs bitset).  Same contract here:

- ``delete_docs`` appends doc ids to a small ``deletes/`` parquet side
  table — an O(deletes) append; posting blocks are untouched (immutable
  segments, exactly like Lucene).
- Query paths mask tombstoned docs **at decode time** (see
  ``query/wand.py``): the mask applies before champion seeding, so the
  pruning threshold θ is computed over live docs only and block-max
  pruning stays exact.
- Corpus/term stats keep counting deleted docs until a compaction —
  Lucene behavior (IDF drifts slightly until merge); ``compact``
  rebuilds the index without the tombstoned postings and resets stats.

Scale shape: tombstone sets are tiny relative to the corpus (Lucene
forces merge at 50% deleted; real delete rates are ≪1%/day).  The
sorted id array ships to scoring tasks in the task closure; the
break-even where you should compact instead is ~10M ids (80 MB
closure), far past any sane un-merged delete backlog.
"""

from __future__ import annotations

import os
import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocks import PhysicalIndex, build_physical_index
from .build import LogicalIndex


#: driver-side cap for the tombstone closure array (~80 MB of int64).
#: Above it, ``deleted_array`` raises and query paths fall back to a
#: distributed anti-join (`query/wand.topk_from_pairs(deleted_df=…)`) —
#: an unbounded ``delete_by_query`` backlog before compaction must not
#: become O(deleted) driver memory.
TOMBSTONE_DRIVER_CAP = 10_000_000


class TombstoneOverflowError(RuntimeError):
    """Tombstone set exceeds the driver-closure cap — use the
    ``deleted_df`` anti-join path (query modules do this automatically)
    or run ``compact``."""


def _deletes_dir(index: PhysicalIndex) -> str:
    return f"{index.path}/deletes"


def _tombstone_files(index: PhysicalIndex) -> tuple[str, ...]:
    """The CURRENT ``deletes/`` parquet files — one ``os.listdir``, and
    the key of every per-index tombstone cache (appends always add
    new files; files are never rewritten in place)."""
    d = _deletes_dir(index)
    try:
        names = sorted(os.listdir(d))
    except OSError:
        return ()
    return tuple(f"{d}/{f}" for f in names if f.endswith(".parquet"))


def tombstone_rows(files) -> int:
    """Sum of parquet-footer row counts over ``files`` — metadata-only,
    no scan.  An over-estimate of the distinct ids when ids repeat
    across batches: the safe direction for a driver-memory guard.  A
    file racing with cleanup no longer counts."""
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except OSError:
            continue
    return total


def read_tombstones(files) -> np.ndarray:
    """Sorted unique doc ids in the tombstone parquet ``files``, read on
    the driver with pyarrow — no Spark job.  Callers bound the size
    first with :func:`tombstone_rows`.  The array is read-only:
    ``deleted_array`` shares it between queries."""
    import pyarrow.parquet as pq

    cols = [pq.read_table(f, columns=["doc_id"]).column("doc_id")
            .drop_null().to_numpy().astype(np.int64) for f in files]
    arr = (np.unique(np.concatenate(cols)) if cols
           else np.empty(0, dtype=np.int64))
    arr.flags.writeable = False
    return arr


def deleted_count_upper_bound(index: PhysicalIndex) -> int:
    """Cheap (no Spark job) upper bound on the tombstone count: the sum
    of parquet-footer row counts over the CURRENT ``deletes/`` files
    (:func:`tombstone_rows`), cached per ``deletes/`` listing.  Unlike
    a monotone lineage-log sum, it reconciles with the live file set:
    files removed by compaction/cleanup stop counting, so a long-lived
    index is not permanently demoted off the fast driver-array
    tombstone path."""
    files = _tombstone_files(index)
    return index.cached("tombstone_rows", files,
                        lambda: tombstone_rows(files))


def delete_docs(
    index: PhysicalIndex, ids: "DataFrame | Iterable[int]"
) -> int:
    """Tombstone documents by id.  Appends to the deletes side table;
    returns how many ids were written (pre-dedup — reads dedup).

    An id list becomes a local relation (built from pandas — no Python
    RDD), so the append is one write job of one file and its count is
    ``len``."""
    spark = index.spark
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).cast("bigint").alias("doc_id"))
        n = df.count()
    else:
        arr = np.fromiter((int(i) for i in ids), dtype=np.int64)
        df = spark.createDataFrame(pd.DataFrame({"doc_id": arr}),
                                   "doc_id bigint").coalesce(1)
        n = len(arr)
    df.write.mode("append").parquet(_deletes_dir(index))
    _log_lineage(index, n)
    return n


def _log_lineage(index: PhysicalIndex, n: int) -> None:
    import json

    with open(f"{index.path}/lineage.jsonl", "a") as f:
        f.write(json.dumps({"stage": "delete_docs", "rows": int(n),
                            "ts": time.time()}) + "\n")


def deleted_df(index: PhysicalIndex) -> DataFrame | None:
    """Distinct tombstoned ids as a DataFrame, or None if no deletes."""
    files = _tombstone_files(index)
    if not files:
        return None
    return (index.spark.read.schema("doc_id bigint")
            .parquet(_deletes_dir(index)).select("doc_id").distinct())


def deleted_array(
    index: PhysicalIndex,
    max_driver_rows: int | None = None,
) -> np.ndarray:
    """Sorted unique tombstoned doc ids (driver-side numpy array).

    Read on the driver with pyarrow from the ``deletes/`` files (no
    Spark job) and cached per ``deletes/`` listing, so queries between
    two deletes re-read nothing; the array rides to scoring tasks in
    the closure (see module docstring).  The returned array is shared
    by those queries: it is read-only.
    GUARDED: when the (cheap, no-job) footer upper bound exceeds
    ``max_driver_rows``, raises :class:`TombstoneOverflowError` instead
    of materializing O(deleted) driver memory — callers fall back to
    the ``deleted_df`` anti-join path (query modules do so
    automatically via ``query/wand._tombstones``)."""
    if max_driver_rows is None:
        max_driver_rows = TOMBSTONE_DRIVER_CAP
    ub = deleted_count_upper_bound(index)
    if ub > max_driver_rows:
        raise TombstoneOverflowError(
            f"~{ub} tombstoned ids exceed the {max_driver_rows}-row "
            "driver-closure cap — use deleted_df() / the anti-join "
            "query path, or compact()"
        )
    files = _tombstone_files(index)
    return index.cached("tombstones", files, lambda: read_tombstones(files))


def mask_deleted(docs: np.ndarray, deleted: np.ndarray) -> np.ndarray:
    """Boolean LIVE mask over ``docs`` given a SORTED deleted array —
    one binary search per posting, no hash set."""
    if not len(deleted):
        return np.ones(len(docs), dtype=bool)
    pos = np.searchsorted(deleted, docs)
    pos[pos == len(deleted)] = len(deleted) - 1
    return deleted[pos] != docs


def live_docs(index: PhysicalIndex, docs: DataFrame,
              id_col: str = "doc_id") -> DataFrame:
    """Filter a DataFrame of per-doc rows down to live (non-tombstoned)
    docs — a broadcast anti-join against the (small) deletes table."""
    d = deleted_df(index)
    if d is None:
        return docs
    return docs.join(
        F.broadcast(d.withColumnRenamed("doc_id", id_col)),
        id_col,
        "left_anti",
    )


def compact(index: PhysicalIndex, out_path: str,
            block_size: int = 128) -> PhysicalIndex:
    """The Lucene background merge: rewrite the index WITHOUT the
    tombstoned postings; term/corpus stats are recomputed from the
    surviving postings, so IDF sees the post-delete corpus.

    Decode → filter → re-encode runs fully distributed (``mapInPandas``
    decode, the standard encode shuffle); nothing but the tombstone set
    touches the driver."""
    deleted = deleted_df(index)
    postings = index.logical_postings()
    if deleted is not None:
        postings = postings.join(F.broadcast(deleted), "doc_id", "left_anti")
    if "positions" in postings.columns:
        # the encoder re-derives pos payloads from the positions column
        pass
    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    logical = LogicalIndex(
        postings=postings,
        term_stats=term_stats,
        doc_lengths=postings.groupBy("doc_id").agg(F.first("dl").alias("dl")),
    )
    return build_physical_index(
        # docs/text_col unused when a prebuilt logical index is passed
        index.spark.createDataFrame([], "doc_id bigint, content string"),
        out_path,
        block_size=block_size,
        logical=logical,
        with_positions="positions" in postings.columns,
    )
