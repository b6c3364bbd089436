"""Physical index layout: per-term docID-sorted posting blocks,
delta+varbyte compressed, with block-max metadata for WAND pruning —
the Lucene segment/skip-list layout re-created as a columnar table
(SURVEY §4.2; north rule: posting-list construction, merge, compression).

Layout table ``blocks`` (parquet, hive-partitioned by ``tb`` = term
bucket for partition pruning at query time):

    term        string   analyzed term
    salt        int      doc-range shard of a skewed term (0 for cold)
    block_id    int      ordinal within (term, salt)
    n           int      postings in block (<= block_size)
    first_doc   bigint   min docID in block
    last_doc    bigint   max docID in block
    max_tfhat   double   max_t tf/(tf + k1(1-b+b·dl/avgdl)) in block
    docs_vb     binary   varbyte(delta(docIDs))      (first absolute)
    tfs_vb      binary   varbyte(tfs)
    dls_vb      binary   varbyte(dls)

**Skew handling** (north rule: 'the'/'import'-grade terms): terms with
df > ``salt_threshold`` are split into ``n_salts`` *contiguous docID
ranges* (salt = docID·S/(N+1)), so one reducer never owns a hot term's
whole posting list.  Range (not hash) salting keeps each salt's blocks
doc-disjoint and ordered, so the per-term global block sequence is just
(salt ASC, block_id ASC) — the "merge" of salted runs is a metadata-only
concatenation, never a posting re-sort (SURVEY §4.3).

**Checkpoint/resume**: the build loops over term buckets; each bucket
writes its parquet partition plus a JSON manifest (rows, postings,
bytes, sha256 of the logical block content, wall time).  A re-run skips
buckets whose manifest is already present — kill-and-rerun produces a
byte-identical logical index (tested).  Lineage of every stage is
appended to ``lineage.jsonl``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import LogicalIndex, build_logical_index
from .codec import delta_encode, vb_encode

K1 = 1.2
B = 0.75

BLOCK_SCHEMA = (
    "term string, salt int, block_id int, n int, first_doc bigint, "
    "last_doc bigint, max_tfhat double, docs_vb binary, tfs_vb binary, "
    "dls_vb binary"
)

#: positional layout (``with_positions=True``): one extra payload,
#: ``pos_vb`` = varbyte(gaps(positions)) concatenated posting-by-posting
#: within the block; per-posting segment lengths are the block's tfs, so
#: no extra offsets are stored (Lucene's .prx-style layout).
BLOCK_SCHEMA_POS = BLOCK_SCHEMA + ", pos_vb binary"

#: offsets layout (``with_offsets=True``, round 3): two more payloads
#: in the same .prx-style stream shape — ``off_vb`` =
#: varbyte(gaps(start_offsets)) (starts ascend within a posting because
#: positions do; first value absolute per posting) and ``len_vb`` =
#: varbyte(end−start per occurrence).  Term-vector char spans
#: (`TermVectorQuery.java:60-76` ``offsets`` flag) decode straight from
#: the blocks, no re-tokenization.
BLOCK_SCHEMA_POS_OFF = BLOCK_SCHEMA_POS + ", off_vb binary, len_vb binary"

#: shuffle-side schema: ``tid`` (collision-checked xxhash64 of the
#: term) instead of the term string — the encode exchange carries a
#: fixed 8-byte key per posting, not a variable string; strings are
#: re-attached to the 128×-smaller blocks table by a dictionary join.
BLOCK_SCHEMA_TID = "tid bigint, " + BLOCK_SCHEMA.split(", ", 1)[1]
BLOCK_SCHEMA_TID_POS = BLOCK_SCHEMA_TID + ", pos_vb binary"
BLOCK_SCHEMA_TID_POS_OFF = BLOCK_SCHEMA_TID_POS + \
    ", off_vb binary, len_vb binary"


def _tid_expr(col, seed: int):
    """The shuffle key: xxhash64 of the term (chained with ``seed``
    when a collision forced a re-draw — see ``_choose_tid_seed``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c) if seed == 0 else F.xxhash64(c, F.lit(seed))


def _choose_tid_seed(terms: DataFrame, max_attempts: int = 3) -> int:
    """Smallest seed whose xxhash64 is injective on this vocabulary —
    one vocabulary-sized aggregation per attempt (almost always one:
    collision odds are ~V²/2⁶⁴).  Exactness guarantee: a collision
    would silently merge two terms' postings, so the hashed shuffle key
    is only ever used under this check.

    ``terms`` must be DISTINCT on ``term`` (both call sites are: the
    term_stats table is grouped by term; the fallback derives it via
    ``.distinct()``) — that makes the left side of the injectivity
    check a plain ``count(*)`` instead of a second vocabulary-sized
    ``countDistinct`` shuffle (the check runs inside every build, so
    its constant cost is Amdahl-serial weight at high core counts)."""
    for seed in range(max_attempts):
        r = terms.agg(
            F.count(F.lit(1)).alias("nt"),
            F.countDistinct(_tid_expr("term", seed)).alias("nh"),
        ).collect()[0]
        if r["nt"] == r["nh"]:
            return seed
    raise RuntimeError(
        f"no collision-free xxhash64 seed in {max_attempts} attempts "
        "(vocabulary adversarial?) — cannot use hashed shuffle keys"
    )


def _encode_group(pdf: pd.DataFrame, block_size: int, avgdl: float) -> pd.DataFrame:
    """Encode one (term, salt) posting run into blocks. Input columns:
    term, salt, doc_id, tf, dl."""
    pdf = pdf.sort_values("doc_id")
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    tfhat = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    term = pdf["term"].iloc[0]
    salt = int(pdf["salt"].iloc[0])
    rows = []
    for b, s in enumerate(range(0, len(docs), block_size)):
        e = min(s + block_size, len(docs))
        d = docs[s:e]
        rows.append(
            {
                "term": term,
                "salt": salt,
                "block_id": b,
                "n": e - s,
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "max_tfhat": float(tfhat[s:e].max()),
                "docs_vb": vb_encode(delta_encode(d).astype(np.uint64)),
                "tfs_vb": vb_encode(tfs[s:e].astype(np.uint64)),
                "dls_vb": vb_encode(dls[s:e].astype(np.uint64)),
            }
        )
    return pd.DataFrame(rows)


def encode_blocks(
    postings: DataFrame,
    avgdl: float,
    doc_count: int,
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    shuffle_partitions: int | None = None,
    hot_terms: list[str] | None = None,
    term_dict: DataFrame | None = None,
    tid_seed: int | None = None,
) -> DataFrame:
    """postings (doc_id, term, tf, dl) -> blocks DataFrame.

    Hot terms (df > salt_threshold) get range-salted across ``n_salts``
    reducers; the repartition(tid, salt) is the build's only wide
    dependency.  Encoding runs as ONE ``mapInArrow`` per shuffle
    partition over (tid, salt, doc_id)-sorted rows — groups are
    contiguous, and a carry buffer stitches groups that straddle Arrow
    batch boundaries, so there is no per-group Arrow round-trip (54k
    tiny applyInPandas groups were the original build bottleneck).

    **The exchange carries no strings**: the shuffle key is ``tid``
    (xxhash64 of the term, injectivity-checked on the vocabulary with
    seed re-draw — exact, never probabilistic) and tf/dl travel as
    int32, so a posting row through the wide dependency is ~24 fixed
    bytes instead of ~40+ with a variable string.  Term strings are
    re-attached to the blocks table (1/block_size the rows of
    postings) by a dictionary join that AQE turns into a broadcast
    for any normal vocabulary; a 10⁹-term vocabulary degrades to a
    blocks-sized shuffle join, still ≪ the postings exchange.

    ``hot_terms``: precollected df>threshold term list (tiny — Zipf
    head only); pass it when term_stats already exists to avoid an
    extra aggregation job, else it is computed here.
    ``term_dict``: distinct-term DataFrame (column ``term``) when the
    caller already has one (e.g. term_stats); derived here otherwise."""
    if hot_terms is None:
        hot_terms = [
            r[0]
            for r in postings.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > salt_threshold)
            .select("term")
            .collect()
        ]
    range_salt = (
        (F.col("doc_id") - 1) * n_salts / F.lit(doc_count + 1)
    ).cast("int")
    if hot_terms:
        salt = F.when(F.col("term").isin(hot_terms), range_salt).otherwise(
            F.lit(0)
        )
    else:
        salt = F.lit(0)
    p = postings.withColumn("salt", salt)

    if term_dict is None:
        term_dict = postings.select("term").distinct()
    term_dict = term_dict.cache()
    if tid_seed is None:
        tid_seed = _choose_tid_seed(term_dict)

    with_positions = "positions" in postings.columns
    with_offsets = "start_offsets" in postings.columns
    if with_offsets and not with_positions:
        # the .prx-shaped offset streams are segmented by cum_tf, which
        # _encode_arrow derives from the positions column — without it
        # the declared BLOCK_SCHEMA_TID_POS_OFF and the emitted batch
        # would mismatch at runtime deep inside Arrow; fail fast instead
        raise ValueError(
            "postings carry start_offsets without positions; the block "
            "layout stores offsets as position-segmented streams — build "
            "with positions (build_logical_index(with_offsets=True) does)"
        )
    cols = [
        _tid_expr("term", tid_seed).alias("tid"),
        F.col("salt"),
        F.col("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    ] + ([F.col("positions")] if with_positions else []) \
      + ([F.col("start_offsets"), F.col("end_offsets")]
         if with_offsets else [])
    # 2 waves per core: the (tid, salt) hash distribution is even in
    # expectation but not per-partition; twice as many partitions halves
    # the straggler tail at a negligible task-overhead cost.
    n_shuffle = shuffle_partitions or (
        postings.sparkSession.sparkContext.defaultParallelism * 2
    )
    sorted_p = (
        p.select(*cols)
        .repartition(n_shuffle, "tid", "salt")
        .sortWithinPartitions("tid", "salt", "doc_id")
    )

    out_schema = (
        BLOCK_SCHEMA_TID_POS_OFF if with_offsets
        else BLOCK_SCHEMA_TID_POS if with_positions
        else BLOCK_SCHEMA_TID
    )

    def encode_partition(batches):
        """mapInArrow: the hot path never materializes Python objects —
        terms stay in Arrow string buffers (group detection via C++
        ``dictionary_encode``), numerics go straight to numpy views, and
        the varbyte payload columns are built zero-copy from the
        segmented encoder's (buffer, offsets) pairs.  The earlier
        mapInPandas version allocated ~1 Python str per posting on the
        way in and ~3 bytes objects per block on the way out (26M + 8M
        allocations per 240k-doc build) — pure allocator churn, and the
        reason the encode stage scaled at 1.4× for 4× cores on a
        memory-bandwidth-capped box.

        Groups (term, salt) may straddle Arrow batch boundaries: hold
        back the trailing group of each batch and stitch (accumulated
        as a list — a hot salted run spanning many batches stays O(n),
        not O(n²) re-concat)."""
        import pyarrow as pa

        pending: list[pa.Table] = []  # un-flushed rows, trailing groups only
        for rb in batches:
            if rb.num_rows == 0:
                continue
            t = pa.Table.from_batches([rb])
            cut = _last_group_start(t, pending[-1] if pending else None)
            if cut is None:
                pending.append(t)  # same single group continues
                continue
            head = pa.concat_tables(pending + [t.slice(0, cut)]) \
                if (pending or cut) else None
            pending = [t.slice(cut)]
            if head is not None and head.num_rows:
                yield _encode_arrow(head.combine_chunks(), block_size, avgdl)
        if pending:
            t = pa.concat_tables(pending).combine_chunks()
            if t.num_rows:
                yield _encode_arrow(t, block_size, avgdl)

    encoded = sorted_p.mapInArrow(encode_partition, out_schema)
    # string re-attachment: vocabulary-sized dict vs blocks-sized left
    # side; no join hint — AQE broadcasts any normal vocabulary, and a
    # too-big dict correctly degrades to a shuffle join of the (small)
    # blocks table
    dict_df = term_dict.select(
        _tid_expr("term", tid_seed).alias("tid"), "term"
    )
    out_cols = ["term", "salt", "block_id", "n", "first_doc",
                "last_doc", "max_tfhat", "docs_vb", "tfs_vb", "dls_vb"]
    if with_positions:
        out_cols.append("pos_vb")
    if with_offsets:
        out_cols += ["off_vb", "len_vb"]
    return encoded.join(dict_df, "tid").select(*out_cols)


def _last_group_start(t, prev) -> int | None:
    """Start index (within ``t``) of the trailing (tid, salt) group of
    ``prev``+``t``, or None when every row continues a single group —
    the batch-stitch contract of ``encode_partition``.  ``t`` must be a
    single-batch Table (one chunk per column); rows are (tid, salt,
    doc_id)-sorted so groups are contiguous."""
    tids = t.column("tid").chunk(0).to_numpy()
    salts = t.column("salt").chunk(0).to_numpy()
    change = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
    nz = np.flatnonzero(change)
    if len(nz):
        return int(nz[-1] + 1)
    if prev is None:
        return None
    same = (
        int(tids[0]) == prev.column("tid")[-1].as_py()
        and int(salts[0]) == prev.column("salt")[-1].as_py()
    )
    return None if same else 0


def _binary_from_segments(buf: bytes, off: np.ndarray):
    """Arrow binary array over ``len(off)-1`` segments of ``buf`` —
    zero-copy: the varbyte buffer becomes the array's data buffer
    directly, no per-segment bytes objects."""
    import pyarrow as pa

    off32 = np.ascontiguousarray(off, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(off) - 1,
        [None, pa.py_buffer(off32), pa.py_buffer(buf)],
    )


def _encode_arrow(t, block_size: int, avgdl: float):
    """Encode all contiguous (tid, salt) groups of a sorted Arrow
    table into one blocks RecordBatch — the vectorization strategy of
    ``_encode_partition_groups`` (block boundaries by arithmetic on
    group offsets, ``reduceat`` aggregates, ONE segmented-varbyte pass
    per payload column) with Arrow-native I/O on top: the group key is
    the fixed-width ``tid`` (no string materialization at all — group
    detection is an int64 vector compare) and payload columns are
    built zero-copy from the segmented buffers."""
    import pyarrow as pa

    from .codec import vb_encode_segmented

    tids = t.column("tid").chunk(0).to_numpy()
    docs = t.column("doc_id").chunk(0).to_numpy()
    tfs = t.column("tf").chunk(0).to_numpy()
    dls = t.column("dl").chunk(0).to_numpy()
    salts = t.column("salt").chunk(0).to_numpy()
    n = len(docs)

    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    gchange[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
    gid = np.cumsum(gchange) - 1
    gstart_idx = np.flatnonzero(gchange)
    pos = np.arange(n, dtype=np.int64) - gstart_idx[gid]

    bstarts = np.flatnonzero(pos % block_size == 0)
    bends = np.concatenate((bstarts[1:], [n]))

    tfhat = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=deltas[1:])
    deltas[bstarts] = docs[bstarts]  # first value of a block is absolute

    docs_buf, docs_off = vb_encode_segmented(deltas.astype(np.uint64), bstarts)
    tfs_buf, tfs_off = vb_encode_segmented(tfs.astype(np.uint64), bstarts)
    dls_buf, dls_off = vb_encode_segmented(dls.astype(np.uint64), bstarts)

    arrays = [
        pa.array(tids[bstarts], type=pa.int64()),
        pa.array(salts[bstarts].astype(np.int32), type=pa.int32()),
        pa.array((pos[bstarts] // block_size).astype(np.int32),
                 type=pa.int32()),
        pa.array((bends - bstarts).astype(np.int32), type=pa.int32()),
        pa.array(docs[bstarts], type=pa.int64()),
        pa.array(docs[bends - 1], type=pa.int64()),
        pa.array(np.maximum.reduceat(tfhat, bstarts), type=pa.float64()),
        _binary_from_segments(docs_buf, docs_off),
        _binary_from_segments(tfs_buf, tfs_off),
        _binary_from_segments(dls_buf, dls_off),
    ]
    names = ["tid", "salt", "block_id", "n", "first_doc", "last_doc",
             "max_tfhat", "docs_vb", "tfs_vb", "dls_vb"]
    if "positions" in t.column_names:
        # flat position stream in posting order (zero-copy list
        # flatten); gap-encode with reset at each posting start, then
        # ONE segmented varbyte pass with block boundaries at cum_tf
        cum_tf = np.concatenate(([0], np.cumsum(tfs)))
        pstarts = cum_tf[:-1]

        def _gap_stream(col_name: str):
            flat = t.column(col_name).chunk(0).flatten().to_numpy() \
                .astype(np.int64)
            deltas_ = np.empty(len(flat), dtype=np.int64)
            if len(flat):
                deltas_[0] = flat[0]
                np.subtract(flat[1:], flat[:-1], out=deltas_[1:])
                nonempty = pstarts[pstarts < len(flat)]
                deltas_[nonempty] = flat[nonempty]
            return flat, deltas_

        _, pdeltas = _gap_stream("positions")
        pos_buf, pos_off = vb_encode_segmented(
            pdeltas.astype(np.uint64), cum_tf[bstarts]
        )
        arrays.append(_binary_from_segments(pos_buf, pos_off))
        names.append("pos_vb")
        if "start_offsets" in t.column_names:
            # same .prx-shaped streams for char spans: start-offset
            # gaps (ascending within a posting because positions are)
            # and per-occurrence span lengths (end − start, raw)
            flat_s, sdeltas = _gap_stream("start_offsets")
            flat_e = t.column("end_offsets").chunk(0).flatten() \
                .to_numpy().astype(np.int64)
            off_buf, off_off = vb_encode_segmented(
                sdeltas.astype(np.uint64), cum_tf[bstarts]
            )
            len_buf, len_off = vb_encode_segmented(
                (flat_e - flat_s).astype(np.uint64), cum_tf[bstarts]
            )
            arrays.append(_binary_from_segments(off_buf, off_off))
            names.append("off_vb")
            arrays.append(_binary_from_segments(len_buf, len_off))
            names.append("len_vb")
    return pa.RecordBatch.from_arrays(arrays, names)


def _encode_partition_groups(
    pdf: pd.DataFrame, block_size: int, avgdl: float
) -> pd.DataFrame:
    """Encode all contiguous (term, salt) groups of a sorted chunk —
    fully vectorized: block boundaries by arithmetic on group offsets,
    per-block aggregates via ``reduceat``, and ONE varbyte pass per
    column with per-block byte offsets (`vb_encode_segmented`), instead
    of a pandas groupby loop calling the encoder per posting list
    (~620k Python iterations per 60k-doc corpus — the original
    blocks-phase bottleneck)."""
    from .codec import vb_encode_segmented

    pdf = pdf.sort_values("doc_id", kind="stable")
    # stable doc-sort then stable group-sort => (term, salt, doc_id) order
    pdf = pdf.sort_values(["term", "salt"], kind="stable")
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    salts = pdf["salt"].to_numpy(np.int64)
    tcodes = pd.factorize(pdf["term"], sort=False)[0]
    n = len(docs)
    if n == 0:
        return pd.DataFrame(columns=[
            "term", "salt", "block_id", "n", "first_doc", "last_doc",
            "max_tfhat", "docs_vb", "tfs_vb", "dls_vb",
        ] + (["pos_vb"] if "positions" in pdf.columns else []))

    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    gchange[1:] = (tcodes[1:] != tcodes[:-1]) | (salts[1:] != salts[:-1])
    gid = np.cumsum(gchange) - 1
    gstart_idx = np.flatnonzero(gchange)
    pos = np.arange(n, dtype=np.int64) - gstart_idx[gid]

    bstart_mask = pos % block_size == 0
    bstarts = np.flatnonzero(bstart_mask)
    bends = np.concatenate((bstarts[1:], [n]))

    tfhat = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=deltas[1:])
    deltas[bstarts] = docs[bstarts]  # first value of a block is absolute

    docs_buf, docs_off = vb_encode_segmented(deltas.astype(np.uint64), bstarts)
    tfs_buf, tfs_off = vb_encode_segmented(tfs.astype(np.uint64), bstarts)
    dls_buf, dls_off = vb_encode_segmented(dls.astype(np.uint64), bstarts)

    out = pd.DataFrame(
        {
            "term": pdf["term"].to_numpy()[bstarts],
            "salt": salts[bstarts].astype(np.int32),
            "block_id": (pos[bstarts] // block_size).astype(np.int32),
            "n": (bends - bstarts).astype(np.int32),
            "first_doc": docs[bstarts],
            "last_doc": docs[bends - 1],
            "max_tfhat": np.maximum.reduceat(tfhat, bstarts),
            "docs_vb": [docs_buf[docs_off[i]: docs_off[i + 1]]
                        for i in range(len(bstarts))],
            "tfs_vb": [tfs_buf[tfs_off[i]: tfs_off[i + 1]]
                       for i in range(len(bstarts))],
            "dls_vb": [dls_buf[dls_off[i]: dls_off[i + 1]]
                       for i in range(len(bstarts))],
        }
    )
    if "positions" in pdf.columns:
        # flat position stream in posting order; gap-encode with reset
        # at each posting start (first position absolute), then ONE
        # segmented varbyte pass with block-boundary offsets in the
        # position stream (cum_tf at each block's first posting)
        plists = [np.asarray(x, dtype=np.int64) for x in pdf["positions"]]
        flat_pos = (np.concatenate(plists) if plists
                    else np.empty(0, dtype=np.int64))
        cum_tf = np.concatenate(([0], np.cumsum(tfs)))
        pstarts = cum_tf[:-1]  # posting i's positions at cum_tf[i]:
        pdeltas = np.empty(len(flat_pos), dtype=np.int64)
        if len(flat_pos):
            pdeltas[0] = flat_pos[0]
            np.subtract(flat_pos[1:], flat_pos[:-1], out=pdeltas[1:])
            nonempty = pstarts[pstarts < len(flat_pos)]
            pdeltas[nonempty] = flat_pos[nonempty]
        pos_buf, pos_off = vb_encode_segmented(
            pdeltas.astype(np.uint64), cum_tf[bstarts]
        )
        out["pos_vb"] = [pos_buf[pos_off[i]: pos_off[i + 1]]
                         for i in range(len(bstarts))]
    return out


N_TERM_BUCKETS = 16


def term_bucket(col, n_buckets: int = N_TERM_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


#: on-disk schema of the term stats table (one row per term; the
#: segmented index keeps one row per (term, segment))
TERM_STATS_SCHEMA = "term string, df bigint, ttf bigint"


@dataclass
class PhysicalIndex:
    """Query surface over a built index directory.

    **Reader state per generation**: everything a query needs besides
    the candidate blocks themselves — the parquet listings of
    ``blocks/`` and the stats tables, the corpus stats, and the term
    stats already probed — is built once per index *generation*
    (:meth:`generation`) and reused by every query until the generation
    changes.  Tables are read with their known schema, so opening one
    runs no schema-inference job.  Tombstones are cached the same way,
    keyed by the ``deletes/`` listing (``index/deletes.deleted_array``).
    """

    path: str
    spark: SparkSession
    _cache: dict = field(default_factory=dict, init=False, repr=False,
                         compare=False)

    #: hive partition columns of ``blocks/``, after the data columns
    BLOCK_PARTITIONS = "tb int"

    def generation(self):
        """Identity of the segment set queries read.  A built index is
        one immutable segment; rewriting it in place rewrites
        ``corpus_stats.json``, so its mtime is the key (one ``stat``)."""
        try:
            return os.stat(f"{self.path}/corpus_stats.json").st_mtime_ns
        except OSError:
            return None

    def cached(self, slot: str, key, build):
        """``build()``, memoized on this reader under ``slot`` until
        ``key`` changes."""
        hit = self._cache.get(slot)
        if hit is None or hit[0] != key:
            hit = self._cache[slot] = (key, build())
        return hit[1]

    def _table(self, name: str, schema: str) -> DataFrame:
        """``<path>/<name>`` read with its known schema, listed once per
        generation."""
        return self.cached(
            f"table:{name}", self.generation(),
            lambda: self.spark.read.schema(schema)
            .parquet(f"{self.path}/{name}"))

    @property
    def blocks(self) -> DataFrame:
        cs = self.corpus_stats
        schema = (
            BLOCK_SCHEMA_POS_OFF if cs.get("has_offsets")
            else BLOCK_SCHEMA_POS if cs.get("has_positions")
            else BLOCK_SCHEMA
        )
        return self._table("blocks", f"{schema}, {self.BLOCK_PARTITIONS}")

    @property
    def term_stats(self) -> DataFrame:
        return self._table("term_stats", TERM_STATS_SCHEMA)

    def _term_stat_rows(self) -> DataFrame:
        """The rows the term-stats probe reads; a term's ``df`` is the
        sum of its rows' (one row per term here)."""
        return self.term_stats

    @property
    def corpus_stats(self) -> dict:
        return dict(self.cached("corpus_stats", self.generation(),
                                self._read_corpus_stats))

    def _read_corpus_stats(self) -> dict:
        with open(f"{self.path}/corpus_stats.json") as f:
            return json.load(f)

    @property
    def has_positions(self) -> bool:
        return bool(self.corpus_stats.get("has_positions"))

    @property
    def has_offsets(self) -> bool:
        return bool(self.corpus_stats.get("has_offsets"))

    def term_stats_for(
        self, terms: list[str], n_buckets: int = N_TERM_BUCKETS,
    ) -> dict:
        """{term: (df, tb)} for query terms, with a per-generation cache
        — ``(None, None)`` for vocabulary misses (negative-cached too).

        Term stats are immutable for an index generation (tombstone
        deletes don't rewrite df, matching Lucene-until-merge
        semantics), so repeated query terms never re-probe: a query
        batch whose terms were all seen before costs ZERO stats jobs —
        the working set of query terms is tiny next to the vocabulary,
        which is why this is a cache and not a preload.  A new
        generation (e.g. a streaming refresh adding a segment) starts
        an empty cache, so a term probed before it is probed again.

        A probe is ONE job with no shuffle: the ``isin`` filter reaches
        the parquet scan, and per-segment ``df`` rows are summed here
        on the driver (a handful of rows per query term)."""
        caches = self.cached("term_stats_for", self.generation(), dict)
        cache = caches.setdefault(n_buckets, {})  # tb depends on n_buckets
        missing = sorted(t for t in set(terms) if t not in cache)
        if missing:
            pdf = (
                self._term_stat_rows().where(F.col("term").isin(missing))
                .select("term", "df",
                        term_bucket(F.col("term"), n_buckets).alias("tb"))
                .toPandas()
                .groupby("term").agg(df=("df", "sum"), tb=("tb", "first"))
            )
            found = dict(zip(pdf.index,
                             zip(pdf["df"].astype(int),
                                 pdf["tb"].astype(int))))
            for t in missing:
                cache[t] = found.get(t, (None, None))
        out = {t: cache[t] for t in set(terms)}
        if len(cache) > 1_000_000:  # bound driver memory
            cache.clear()
            cache.update(out)  # current batch stays resolvable
        return out

    def logical_postings(self, blocks_where=None) -> DataFrame:
        """Decode blocks back to (doc_id, term, tf, dl[, positions]) —
        integrity test surface (full-decode == pre-compression
        postings).  ``blocks_where`` (a Column) prunes the block scan
        BEFORE decode — e.g. a ``first_doc <= id <= last_doc`` range
        probe hits parquet min/max stats and decodes only the spanning
        blocks (the more-like-this doc→terms path)."""
        import pyarrow  # noqa: F401  (arrow batches)
        from .codec import segmented_delta_decode, vb_decode

        with_pos = self.has_positions
        with_off = self.has_offsets

        def decode(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                outs = []
                for r in pdf.itertuples():
                    docs = segmented_delta_decode(
                        vb_decode(r.docs_vb).astype(np.int64), np.array([r.n])
                    )
                    tfs = vb_decode(r.tfs_vb).astype(np.int64)
                    cols = {
                        "doc_id": docs,
                        "term": r.term,
                        "tf": tfs,
                        "dl": vb_decode(r.dls_vb).astype(np.int64),
                    }
                    cuts = np.cumsum(tfs)[:-1]
                    if with_pos:
                        flat = segmented_delta_decode(
                            vb_decode(r.pos_vb).astype(np.int64), tfs
                        )
                        cols["positions"] = np.split(flat, cuts)
                    if with_off:
                        starts = segmented_delta_decode(
                            vb_decode(r.off_vb).astype(np.int64), tfs
                        )
                        lens = vb_decode(r.len_vb).astype(np.int64)
                        cols["start_offsets"] = np.split(starts, cuts)
                        cols["end_offsets"] = np.split(starts + lens,
                                                       cuts)
                    outs.append(pd.DataFrame(cols))
                yield pd.concat(outs, ignore_index=True)

        schema = "doc_id bigint, term string, tf bigint, dl bigint"
        if with_pos:
            schema += ", positions array<bigint>"
        if with_off:
            schema += (", start_offsets array<bigint>"
                       ", end_offsets array<bigint>")
        src = self.blocks
        if blocks_where is not None:
            src = src.where(blocks_where)
        return src.mapInPandas(decode, schema)


def _lineage(path: str, stage: str, **metrics) -> None:
    rec = {"stage": stage, **metrics}
    with open(f"{path}/lineage.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")


def _payload_cols(columns) -> list[str]:
    return (
        ["docs_vb", "tfs_vb", "dls_vb"]
        + (["pos_vb"] if "pos_vb" in columns else [])
        + (["off_vb", "len_vb"] if "off_vb" in columns else [])
    )


def _block_hash_dec(payload_cols: list[str]):
    """Per-block content hash folded to decimal(38,0).  Bucket checksum
    = SUM of these — order-independent, so it is invariant to task
    scheduling; collision-negligible for integrity/resume-identity
    purposes.  Shared by the one-shot (observe) and incremental
    (grouped-agg) paths so a resumed build reports byte-identical
    checksums.

    xxhash64 over (key fields, payload columns), not sha256: the old
    sha256 was already truncated to 15 hex digits (~60 bits) before
    summing, so a 64-bit xxhash64 is the same effective strength for
    an integrity checksum while being pure codegen at ~50× the
    throughput — the hash ran over every payload byte of every block
    inside the write pass, where it was a measurable slice of the
    worst-scaling stage."""
    # signed 64-bit hash values summed as decimal(38,0): never
    # overflows at any row count; sign carries no meaning in a checksum
    return F.xxhash64(
        "term", "salt", "block_id", "n", "first_doc", "last_doc",
        *payload_cols,
    ).cast("decimal(38,0)")


def _payload_bytes(payload_cols: list[str]):
    return sum((F.length(c) for c in payload_cols[1:]),
               F.length(payload_cols[0]))


#: Parquet write options for the blocks table.  The payload columns are
#: already varbyte-packed, so a heavy codec buys little; zstd level 1
#: still halves the table (tf/dl byte runs are highly repetitive) at
#: ~memcpy speed, and the JNI buffer pool reuses compressor scratch
#: buffers instead of allocating per page — without it, per-page direct
#: ByteBuffer churn cost ~40% of the whole encode+write stage wall
#: (measured: snappy 26 s vs pooled zstd-1 15 s for the same 32-core
#: write; sizes 141 MB snappy / 103 MB zstd-1 / 270 MB uncompressed).
BLOCKS_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": "1",
    "parquet.compression.codec.zstd.bufferPool.enabled": "true",
}


def _manifest_agg(blocks: DataFrame, group_col: str | None) -> DataFrame:
    """Distributed, order-independent logical checksum + size metrics
    (incremental/resume path; the one-shot path computes the same
    aggregates in-pass via ``observe``)."""
    pc = _payload_cols(blocks.columns)
    enriched = blocks.withColumn("_h", _block_hash_dec(pc))
    aggs = [
        F.count(F.lit(1)).alias("blocks"),
        F.sum("n").alias("postings"),
        F.sum(_payload_bytes(pc)).alias("payload_bytes"),
        F.sum("_h").alias("hsum"),
    ]
    if group_col:
        return enriched.groupBy(group_col).agg(*aggs)
    return enriched.agg(*aggs)


def _manifest_dict(row, bucket: int, wall_s: float) -> dict:
    return {
        "bucket": bucket,
        "blocks": row["blocks"],
        "postings": int(row["postings"] or 0),
        "payload_bytes": int(row["payload_bytes"] or 0),
        "checksum": str(row["hsum"] or 0),
        "wall_s": round(wall_s, 2),
    }


def build_physical_index(
    docs: DataFrame,
    out_path: str,
    text_col: str = "content",
    analyzer: str = "code",
    block_size: int = 128,
    n_salts: int = 16,
    salt_threshold: int = 50_000,
    n_buckets: int = N_TERM_BUCKETS,
    resume: bool = True,
    incremental: bool = False,
    fail_after_bucket: int | None = None,
    logical: LogicalIndex | None = None,
    with_positions: bool = False,
    with_offsets: bool = False,
) -> PhysicalIndex:
    """Checkpointed build: logical index -> block encode + per-bucket
    manifests.

    Two physical strategies, identical output:

    - **one-shot** (default): a single partitionBy(tb) write of every
      bucket, then one grouped pass computing all bucket manifests —
      minimal job count, the throughput path.
    - **incremental** (``incremental=True`` or a partially-built
      ``out_path``): per-bucket encode+write+manifest loop; buckets with
      an existing manifest are skipped, which is the resume path after a
      mid-build failure.

    ``fail_after_bucket`` injects a crash after N completed buckets
    (resume tests only)."""
    spark = docs.sparkSession
    os.makedirs(out_path, exist_ok=True)
    t0 = time.time()
    manifest_dir = f"{out_path}/manifests"
    os.makedirs(manifest_dir, exist_ok=True)
    existing = {
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(manifest_dir)
        if f.startswith("bucket_")
    } if resume else set()
    if existing:
        incremental = True  # partial build present -> only fill the gaps

    idx = logical or build_logical_index(
        docs, text_col, analyzer, with_positions=with_positions,
        with_offsets=with_offsets,
    )
    idx.postings = idx.postings.cache()
    postings = idx.postings.withColumn(
        "tb", term_bucket(F.col("term"), n_buckets)
    )

    # global stats (small) — written once, idempotent.  The term_stats
    # write is the job that materializes both caches; corpus_stats then
    # costs one per-doc agg over the cached postings + a ms-scale agg
    # on the cached ts (no second tokenize pass).
    ts = idx.term_stats = idx.term_stats.cache()
    # cores-many part files (not a fixed tiny coalesce: a 4-task write
    # is identical serial weight at every cluster size — pure Amdahl
    # drag); file creates are cheap under RawLocalFileSystem and the
    # stats table stays O(cores) files.  The write job doubles as the
    # stats job: an Observation on the stats rows yields n_terms,
    # sum_doc_freq and sum_ttf (Σ_terms ttf ≡ Σ_postings tf) for free —
    # each avoided driver-side job boundary is serial time Amdahl
    # charges at high core counts.
    from pyspark.sql import Observation

    t_ts = time.time()
    obs_ts = Observation("ts_stats")
    (
        ts.observe(
            obs_ts,
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("sdf"),
            F.sum("ttf").alias("sttf"),
        )
        .coalesce(max(4, spark.sparkContext.defaultParallelism))
        .write.mode("overwrite").options(**BLOCKS_WRITE_OPTIONS)
        .parquet(f"{out_path}/term_stats")
    )
    svals = obs_ts.get
    _lineage(out_path, "ts_write", wall_s=round(time.time() - t_ts, 2))
    # doc_count (distinct docs with ≥1 posting — not derivable from
    # term_stats): for explode-plan logical indexes built HERE, it
    # arrives FREE via the tokenize-stage Observation that fired inside
    # the cache-materializing ts write above (zero extra jobs — the old
    # full-cache countDistinct pass was ~1.2 s of per-build serial
    # weight at 16 cores).  Caller-provided logicals (whose cache may
    # already be materialized — the observation would never fire) and
    # fused-path indexes keep the explicit aggregation.
    t_st = time.time()
    dc_obs = idx.pop_doc_count_observation() if logical is None else None
    if dc_obs is not None:
        doc_count = int(dc_obs.get["dc"] or 0)
    else:
        doc_count = int(
            idx.postings.agg(
                F.countDistinct("doc_id").alias("dc")
            ).collect()[0]["dc"] or 0
        )
    _lineage(out_path, "stats_aggs", wall_s=round(time.time() - t_st, 2))
    sum_ttf = int(svals["sttf"] or 0)
    stats = idx._corpus_stats = {
        "doc_count": doc_count,
        "sum_ttf": sum_ttf,
        "sum_doc_freq": int(svals["sdf"] or 0),
        "avgdl": (sum_ttf / doc_count) if doc_count else 0.0,
    }
    n_postings = stats["sum_doc_freq"]
    _lineage(out_path, "postings", rows=n_postings,
             wall_s=round(time.time() - t0, 2))
    stats = dict(stats,
                 has_positions="positions" in idx.postings.columns,
                 has_offsets="start_offsets" in idx.postings.columns)
    with open(f"{out_path}/corpus_stats.json", "w") as f:
        json.dump(stats, f)
    hot_terms = [
        r[0]
        for r in ts.where(F.col("df") > salt_threshold)
        .select("term").collect()
    ]
    _lineage(out_path, "stats", terms=int(svals["n_terms"] or 0),
             hot_terms=len(hot_terms))

    avgdl = stats["avgdl"] or 1.0
    doc_count = stats["doc_count"]
    term_dict = ts.select("term")
    # seed chosen ONCE here: the incremental path calls encode_blocks
    # per bucket and would otherwise re-run the vocabulary injectivity
    # job n_buckets times
    tid_seed = _choose_tid_seed(term_dict)
    enc_kw = dict(avgdl=avgdl, doc_count=doc_count, block_size=block_size,
                  n_salts=n_salts, salt_threshold=salt_threshold,
                  hot_terms=hot_terms,
                  # the cached stats table IS the vocabulary — without
                  # it encode_blocks re-derives the dict via a full
                  # distinct-shuffle over the postings exchange
                  term_dict=term_dict, tid_seed=tid_seed)

    if not incremental and fail_after_bucket is None:

        tb0 = time.time()
        blocks = encode_blocks(postings.drop("tb"), **enc_kw).withColumn(
            "tb", term_bucket(F.col("term"), n_buckets)
        )
        # ONE pass shuffle→encode→sort→write.  Round-1/2 ran this as
        # three jobs (encode+cache, repartition+write, manifest scan of
        # the cache) — two extra full traversals of the blocks data plus
        # a second shuffle, all effectively Amdahl-serial weight on a
        # memory-bandwidth-capped box (encode phase scaled 1.3× for 4×
        # cores while the postings phase hit 2.7×).  Now the bucket
        # manifests are computed *in the write pass* via ``observe``
        # (per-bucket conditional aggregates on a CollectMetrics node —
        # no second scan, no cache), and the write consumes the encode
        # partitions directly (2×cores partitions ≥ the old
        # max(buckets, cores) write parallelism).  The local
        # sortWithinPartitions(tb, …) both groups each task's rows by
        # bucket dir (≤ n_buckets files per task, same O(tasks·buckets)
        # worst case as the old (tb, term) hash) and restores
        # term-ordered row groups so the WAND scan's `term isin`
        # min/max row-group skip works on the written files; it also
        # satisfies the dynamic-partition writer's required ordering,
        # so Spark inserts no second sort.
        pc = _payload_cols(blocks.columns)
        enriched = (
            blocks.withColumn("_h", _block_hash_dec(pc))
            .withColumn("_pb", _payload_bytes(pc))
        )
        obs = Observation("bucket_manifests")
        aggs = []
        for b in range(n_buckets):
            cond = F.col("tb") == b
            aggs += [
                F.count(F.when(cond, 1)).alias(f"blocks_{b}"),
                F.sum(F.when(cond, F.col("n"))).alias(f"postings_{b}"),
                F.sum(F.when(cond, F.col("_pb"))).alias(f"bytes_{b}"),
                F.sum(F.when(cond, F.col("_h"))).alias(f"hsum_{b}"),
            ]
        (
            enriched.observe(obs, *aggs)
            .drop("_h", "_pb")
            .sortWithinPartitions("tb", "term", "salt", "block_id")
            .write.mode("overwrite").options(**BLOCKS_WRITE_OPTIONS)
            .partitionBy("tb").parquet(f"{out_path}/blocks")
        )
        wall = time.time() - tb0
        vals = obs.get
        for b in range(n_buckets):
            nblocks = int(vals[f"blocks_{b}"] or 0)
            manifest = {
                "bucket": b,
                "blocks": nblocks,
                "postings": int(vals[f"postings_{b}"] or 0),
                "payload_bytes": int(vals[f"bytes_{b}"] or 0),
                "checksum": str(vals[f"hsum_{b}"] or 0),
                "wall_s": round(wall if nblocks else 0.0, 2),
            }
            with open(f"{manifest_dir}/bucket_{b}.json", "w") as f:
                json.dump(manifest, f)
            _lineage(out_path, "blocks_bucket", **manifest)
    else:
        done = 0
        for b in range(n_buckets):
            if b in existing:
                continue
            tb0 = time.time()
            bucket_blocks = encode_blocks(
                postings.where(F.col("tb") == b).drop("tb"), **enc_kw
            )
            target = f"{out_path}/blocks/tb={b}"
            bucket_blocks.coalesce(2).write.mode("overwrite").options(
                **BLOCKS_WRITE_OPTIONS
            ).parquet(target)
            row = _manifest_agg(spark.read.parquet(target), None).collect()[0]
            manifest = _manifest_dict(row, b, time.time() - tb0)
            with open(f"{manifest_dir}/bucket_{b}.json", "w") as f:
                json.dump(manifest, f)
            _lineage(out_path, "blocks_bucket", **manifest)
            done += 1
            if fail_after_bucket is not None and done > fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")

    _lineage(out_path, "build_done", wall_s=round(time.time() - t0, 2),
             postings=n_postings)
    idx.postings.unpersist()
    ts.unpersist()
    term_dict.unpersist()  # encode_blocks cached the handle we passed
    return PhysicalIndex(out_path, spark)


def index_stats(index: PhysicalIndex) -> dict:
    """ES ``_stats``-style index report: docs/terms/postings counts,
    on-disk bytes per component, block/bucket layout, and compression
    ratio (varbyte payload bytes vs 8-byte-int equivalent).  One
    metadata-only aggregation over the blocks table plus a filesystem
    walk — no posting decode."""
    import os as _os

    def _du(p: str) -> int:
        total = 0
        for root, _, files in _os.walk(p):
            total += sum(
                _os.path.getsize(_os.path.join(root, f)) for f in files
            )
        return total

    agg = index.blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.countDistinct("tb").alias("n_buckets"),
        F.sum("n").alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.sum(F.length("docs_vb")).alias("docs_vb_bytes"),
        F.sum(F.length("tfs_vb")).alias("tfs_vb_bytes"),
    ).collect()[0]
    cs = index.corpus_stats
    payload = int(agg["docs_vb_bytes"]) + int(agg["tfs_vb_bytes"])
    return {
        "doc_count": cs["doc_count"],
        "n_terms": int(agg["n_terms"]),
        "n_postings": int(agg["n_postings"]),
        "n_blocks": int(agg["n_blocks"]),
        "n_buckets": int(agg["n_buckets"]),
        "bytes_blocks": _du(f"{index.path}/blocks"),
        "bytes_term_stats": _du(f"{index.path}/term_stats"),
        "varbyte_payload_bytes": payload,
        "compression_ratio": round(
            (int(agg["n_postings"]) * 16) / max(1, payload), 3
        ),
        "has_positions": index.has_positions,
    }
