"""Per-generation reader state of the physical indexes: the Spark-job
budget of a single query, cache invalidation when a streaming refresh
adds a segment, and the driver-side tombstone read."""

import uuid

import numpy as np
import pandas as pd
import pytest

from elasticsearch_nlp_classifier_spark.index.deletes import (
    TombstoneOverflowError,
    delete_docs,
    deleted_array,
    deleted_df,
)
from elasticsearch_nlp_classifier_spark.query.wand import wand_topk
from elasticsearch_nlp_classifier_spark.streaming import (
    StreamingPhysicalIndex,
    incremental_index_stream,
)


def _land(spark, src: str, idx: str, name: str, rows: list) -> None:
    """One file lands in the watched directory and the indexer
    refreshes (one new segment)."""
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{src}/{name}.parquet")
    q = incremental_index_stream(spark, f"{src}/*.parquet/", idx)
    q.awaitTermination()
    assert q.exception() is None


def _query(index, text: str) -> list:
    q = pd.DataFrame({"query_id": [1], "query_text": [text], "k": [10]})
    return wand_topk(index, q).toPandas()["doc_id"].tolist()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_long_lived_reader_sees_new_segments(spark, tmp_path):
    """A term probed (and missed) before a refresh is found after it,
    on the same reader instance."""
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    _land(spark, src, idx, "a", [("r", "a.py", "c1", "py",
                                  "alpha beta gamma")])
    index = StreamingPhysicalIndex(idx, spark)
    assert _query(index, "zebra") == []
    _land(spark, src, idx, "b", [("r", "b.py", "c1", "py",
                                  "zebra zebra delta")])
    assert _query(index, "zebra") == [2]
    assert _query(index, "zebra") == _query(
        StreamingPhysicalIndex(idx, spark), "zebra")
    assert index.corpus_stats["doc_count"] == 2


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    from elasticsearch_nlp_classifier_spark.corpus import gen_corpus_pdf

    base = tmp_path_factory.mktemp("reader_state")
    src, idx = str(base / "src"), str(base / "idx")
    pdf = gen_corpus_pdf(80).sort_values(["repo", "path", "commit"])
    rows = list(pdf[["repo", "path", "commit", "lang", "content"]]
                .itertuples(index=False, name=None))
    _land(spark, src, idx, "a", rows[:40])
    _land(spark, src, idx, "b", rows[40:])
    delete_docs(StreamingPhysicalIndex(idx, spark), [3, 45])
    return idx


def test_single_query_job_budget(spark, two_segments):
    fresh = StreamingPhysicalIndex(two_segments, spark)
    # fresh reader: one term-stats probe, then the broadcast of the
    # query's terms and the exchange-free scoring job; tombstones,
    # listings and schemas cost no job
    assert _jobs(spark, lambda: _query(fresh, "import def self")) <= 3
    # the same terms again: scoring only
    assert _jobs(spark, lambda: _query(fresh, "import def self")) <= 2
    hits = _query(fresh, "import def self")
    assert hits and not {3, 45} & set(hits)


def test_deleted_array_matches_deleted_df(spark, two_segments):
    index = StreamingPhysicalIndex(two_segments, spark)
    delete_docs(index, [45, 7, 7])  # 45 repeats the fixture's append
    want = np.sort(deleted_df(index).toPandas()["doc_id"].to_numpy())
    got = deleted_array(index)
    assert got.tolist() == want.tolist() == [3, 7, 45]
    # cached per deletes/ listing: a new append is seen at once
    delete_docs(index, [9])
    assert deleted_array(index).tolist() == [3, 7, 9, 45]
    with pytest.raises(TombstoneOverflowError):
        deleted_array(index, max_driver_rows=3)


def test_single_query_path_matches_batch(spark, two_segments):
    """A one-query batch takes the exchange-free scoring path; its
    ranking and scores equal the same query's rows in a batch."""
    index = StreamingPhysicalIndex(two_segments, spark)
    texts = ["import def self", "return value", "error test the"]
    batch = wand_topk(index, pd.DataFrame({
        "query_id": [1, 2, 3], "query_text": texts, "k": [5, 5, 5],
    })).toPandas()
    for qid, text in enumerate(texts, start=1):
        one = wand_topk(index, pd.DataFrame({
            "query_id": [qid], "query_text": [text], "k": [5],
        })).toPandas()
        want = batch[batch.query_id == qid].reset_index(drop=True)
        assert len(one) == 5
        pd.testing.assert_frame_equal(one, want, check_exact=True)
