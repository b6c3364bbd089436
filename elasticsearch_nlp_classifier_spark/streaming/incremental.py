"""Incremental index maintenance via Structured Streaming.

The reference is batch-only (SURVEY §2.8) — its scan-and-scroll is a
point-in-time cursor, not a stream.  What the north rule *does* demand
is incremental, resumable index builds; this module supplies the
streaming-native form on top of the same block encoder:

- ``incremental_index_stream``: ``readStream`` over a growing corpus
  directory → analyzer → postings → varbyte block encode → one new
  **segment** per micro-batch (Lucene's segment model mapped onto a
  parquet partition column).  ``foreachBatch`` writes are idempotent
  under replay: each batch overwrites only its own
  ``segment=<batch_id>`` partition (dynamic partition overwrite), and
  per-segment stats live under the segment's own directory — so the
  Structured Streaming checkpoint gives exactly-once index state.
- ``StreamingPhysicalIndex``: same query surface as ``PhysicalIndex``;
  global term/corpus stats are aggregated over segment stats at query
  time (they are Zipf-head small).  Blocks from different segments are
  docID-disjoint (doc_ids assigned monotonically per batch), so
  block-max WAND remains exact without any cross-segment merge.
- ``compact_segments``: the Lucene background merge — decode all
  segments' postings, re-encode into a fresh single-segment index.

Scale shape: a micro-batch touches only its own rows; the only global
state is the (tiny) per-segment stats tables, never the posting data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.blocks import (
    TERM_STATS_SCHEMA, PhysicalIndex, encode_blocks, term_bucket,
)
from ..index.build import build_logical_index

CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)


class StreamingPhysicalIndex(PhysicalIndex):
    """Query surface over a segmented (streaming-built) index.  A
    generation is one set of completed segments: a segment's stats JSON
    is written last, after its blocks and term stats."""

    BLOCK_PARTITIONS = "segment int, tb int"

    def generation(self):
        """The ``seg_stats/`` listing, with each file's mtime: a
        replayed micro-batch rewrites its segment in place, which must
        start a new generation too."""
        try:
            with os.scandir(f"{self.path}/seg_stats") as it:
                return tuple(sorted(
                    (e.name, e.stat().st_mtime_ns) for e in it))
        except OSError:
            return ()

    def _term_stat_rows(self) -> DataFrame:
        return self._table("seg_term_stats",
                           f"{TERM_STATS_SCHEMA}, segment int")

    @property
    def term_stats(self) -> DataFrame:
        return self._term_stat_rows().groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
        )

    def _read_corpus_stats(self) -> dict:
        segs_dir = f"{self.path}/seg_stats"
        doc_count = sum_ttf = sum_doc_freq = 0
        for fn in sorted(os.listdir(segs_dir)):
            with open(f"{segs_dir}/{fn}") as f:
                s = json.load(f)
            doc_count += s["doc_count"]
            sum_ttf += s["sum_ttf"]
            sum_doc_freq += s["sum_doc_freq"]
        return {
            "doc_count": doc_count,
            "sum_ttf": sum_ttf,
            "sum_doc_freq": sum_doc_freq,
            "avgdl": (sum_ttf / doc_count) if doc_count else 0.0,
        }


def _next_doc_id_offset(index_dir: str) -> int:
    """Max doc_id over completed segments (from per-segment stats)."""
    segs_dir = f"{index_dir}/seg_stats"
    if not os.path.isdir(segs_dir):
        return 0
    hi = 0
    for fn in os.listdir(segs_dir):
        with open(f"{segs_dir}/{fn}") as f:
            hi = max(hi, json.load(f).get("max_doc_id", 0))
    return hi


def _write_segment(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str,
    analyzer: str,
    block_size: int,
    n_salts: int,
    salt_threshold: int,
) -> None:
    spark = batch_df.sparkSession
    if not batch_df.take(1):
        return
    offset = _next_doc_id_offset(index_dir)

    from ..corpus.doc_ids import assign_doc_ids

    docs = assign_doc_ids(batch_df).withColumn(
        "doc_id", F.col("doc_id") + F.lit(offset)
    )
    idx = build_logical_index(docs, text_col, analyzer)
    idx.postings = idx.postings.cache()
    stats = idx.corpus_stats

    blocks = encode_blocks(
        idx.postings,
        avgdl=stats["avgdl"] or 1.0,
        doc_count=stats["doc_count"],
        block_size=block_size,
        n_salts=n_salts,
        salt_threshold=salt_threshold,
    ).withColumn("tb", term_bucket(F.col("term")))

    # idempotent under replay: the batch owns exactly its own segment
    # partition; dynamic overwrite replaces it and nothing else
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        blocks.withColumn("segment", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("segment", "tb")
        .parquet(f"{index_dir}/blocks")
    )
    (
        idx.term_stats.withColumn("segment", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("segment")
        .parquet(f"{index_dir}/seg_term_stats")
    )
    max_doc = idx.postings.agg(F.max("doc_id")).collect()[0][0] or offset
    os.makedirs(f"{index_dir}/seg_stats", exist_ok=True)
    with open(f"{index_dir}/seg_stats/segment_{batch_id}.json", "w") as f:
        json.dump({**stats, "segment": int(batch_id),
                   "doc_id_offset": offset, "max_doc_id": int(max_doc)}, f)
    idx.postings.unpersist()


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    text_col: str = "content",
    analyzer: str = "code",
    schema: str = CORPUS_SCHEMA,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the
    incremental indexer over a growing parquet directory.  Returns the
    ``StreamingQuery``; the caller owns ``awaitTermination``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_segment(batch_df, batch_id, index_dir, text_col, analyzer,
                       block_size, n_salts, salt_threshold)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{index_dir}/_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_segments(
    index: StreamingPhysicalIndex,
    out_path: str,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
) -> PhysicalIndex:
    """Lucene-style merge: all segments -> one fresh canonical index
    (global block sizes restored, stats folded into the base layout)."""
    spark = index.spark
    os.makedirs(out_path, exist_ok=True)
    postings = index.logical_postings()
    stats = index.corpus_stats

    blocks = encode_blocks(
        postings,
        avgdl=stats["avgdl"] or 1.0,
        doc_count=stats["doc_count"],
        block_size=block_size,
        n_salts=n_salts,
        salt_threshold=salt_threshold,
    ).withColumn("tb", term_bucket(F.col("term")))
    blocks.write.mode("overwrite").partitionBy("tb").parquet(
        f"{out_path}/blocks"
    )
    index.term_stats.write.mode("overwrite").parquet(
        f"{out_path}/term_stats"
    )
    with open(f"{out_path}/corpus_stats.json", "w") as f:
        json.dump(stats, f)
    return PhysicalIndex(out_path, spark)
