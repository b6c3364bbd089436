"""ES point-in-time (PIT) reads: a frozen view of the index for
consistent multi-request search sessions.

ES's ``POST /<index>/_pit`` pins the segment readers so a paginated
search (PIT + ``search_after``) sees one immutable snapshot even while
writes continue; the reference's scan-and-scroll iterator
(`utils/elasticsearch/read/ScanAndScrollIterator.java`) solves the same
consistency problem with scroll contexts, and ES deprecated scroll in
favor of exactly this PIT idiom.

This engine's index generations are already immutable (posting blocks
never rewrite — ``index/blocks.py``); the ONLY mutable state is the
tombstone side table that ``delete_docs`` appends to (``deletes/``
parquet files — the Lucene liveDocs analog, ``index/deletes.py``).  So
a PIT is just the **frozen file listing of the deletes directory at
open time**: reads through the PIT mask with exactly those tombstones,
and deletes that land afterwards are invisible — no data is copied, no
reader resource is held (dropping the PIT is garbage collection, like
ES's keep_alive expiry, minus the timer).

A compaction (``deletes.compact``) writes a NEW index path, so an open
PIT over the old path stays valid for as long as the caller keeps the
old generation on disk — the same contract as ES, where a PIT holds
segments alive until released.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocks import PhysicalIndex

__all__ = ["PointInTime", "open_pit", "pit_live_docs", "pit_search"]


@dataclass(frozen=True)
class PointInTime:
    index: PhysicalIndex
    delete_files: tuple[str, ...]  # frozen deletes/ listing at open time
    pit_id: str
    opened_at: float


def open_pit(index: PhysicalIndex) -> PointInTime:
    """``POST /_pit``: freeze the current tombstone file set.  O(1)
    metadata listing — nothing is read or copied."""
    d = f"{index.path}/deletes"
    files = tuple(sorted(
        f"{d}/{f}" for f in os.listdir(d) if f.endswith(".parquet")
    )) if os.path.isdir(d) else ()
    return PointInTime(
        index=index,
        delete_files=files,
        pit_id=uuid.uuid4().hex,
        opened_at=time.time(),
    )


def pit_deleted_array(
    pit: PointInTime, max_driver_rows: int | None = None,
) -> np.ndarray:
    """Sorted unique tombstoned ids AS OF the PIT — reads only the
    frozen file list, so appends after ``open_pit`` are invisible.
    Read on the driver with pyarrow, like ``deletes.deleted_array``,
    and GUARDED the same way: the parquet-footer row count
    (metadata-only, no scan) bounds the read; above the cap this
    raises ``TombstoneOverflowError`` and callers use the
    ``pit_deleted_df`` anti-join path."""
    from .deletes import (
        TOMBSTONE_DRIVER_CAP, TombstoneOverflowError, read_tombstones,
        tombstone_rows,
    )

    if max_driver_rows is None:
        max_driver_rows = TOMBSTONE_DRIVER_CAP
    ub = tombstone_rows(pit.delete_files)
    if ub > max_driver_rows:
        raise TombstoneOverflowError(
            f"~{ub} PIT tombstoned ids exceed the {max_driver_rows}-row "
            "driver-closure cap — use pit_deleted_df() / the anti-join "
            "query path"
        )
    return read_tombstones(pit.delete_files)


def pit_deleted_df(pit: PointInTime) -> DataFrame | None:
    if not pit.delete_files:
        return None
    return (
        pit.index.spark.read.parquet(*pit.delete_files)
        .select("doc_id").distinct()
    )


def pit_live_docs(
    pit: PointInTime, docs: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """Filter-context reads at the PIT: broadcast anti-join against the
    frozen tombstone set (the PIT twin of ``deletes.live_docs``).
    Compose with ``query/search.py:search_after`` for the ES
    PIT + search_after pagination idiom — every page sees the same
    live set regardless of concurrent deletes."""
    d = pit_deleted_df(pit)
    if d is None:
        return docs
    return docs.join(
        F.broadcast(d.withColumnRenamed("doc_id", id_col)),
        id_col, "left_anti",
    )


def pit_search(
    pit: PointInTime,
    query_text: str,
    k: int = 10,
    analyzer: str = "code",
    query_id: int = 0,
) -> DataFrame:
    """BM25 top-k THROUGH the PIT: the WAND core runs with the frozen
    tombstone array, so results are reproducible for the PIT's lifetime
    even while new deletes land (ES: search with a ``pit.id``)."""
    from ..analyzer.chain import get_analyzer
    from ..query.wand import topk_from_pairs

    from .deletes import TombstoneOverflowError

    terms = get_analyzer(analyzer).tokenize(query_text)
    pairs = [(query_id, t) for t in sorted(set(terms))]
    try:
        return topk_from_pairs(
            pit.index, pairs, {query_id: k},
            deleted=pit_deleted_array(pit),
        )
    except TombstoneOverflowError:
        # over-cap tombstone backlog: distributed anti-join instead of
        # the driver closure (exact, just not the numpy fast path)
        return topk_from_pairs(
            pit.index, pairs, {query_id: k},
            deleted_df=pit_deleted_df(pit),
        )
