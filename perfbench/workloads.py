"""The benchmark's workloads, driven only through the engine's public
functions.  Both are closed loops with one client: the next operation is
sent when the previous one has returned.

``bulk-index``     assign doc ids, build the physical index, then train and
                   run the Naive Bayes ``lang`` classifier over a
                   source-code corpus.  Every write/analyze layer works; no
                   query layer runs.
``ingest-search``  rounds of: a parquet file lands, the streaming indexer
                   refreshes (availableNow), a few docs are tombstoned, and
                   single queries go to a fresh segmented index.  Many
                   small segments, cross-segment stats, cold term-stats
                   caches and deletes.

End-to-end metrics and what each means on each workload:

========================  ==============================  ==========================
metric                    bulk-index                      ingest-search
========================  ==============================  ==========================
docs_per_s                docs / (assign ids + build)     docs / (file landing ->
                          seconds                         stream done) seconds
op_p50_ms                 NB train + predict over the     one single query on a
                          corpus                          fresh segmented index
index_bytes_per_posting   blocks/ + term_stats/ bytes     blocks/ + seg_term_stats/
                          on disk per posting             bytes on disk per posting
setup_s                   session start + one untimed     session start + one
                          bulk job on a small corpus      untimed round
peak_pss_mb               driver JVM + Python workers     same
========================  ==============================  ==========================

Timings are medians over the operations of the run, scaled by ``run.py``
to a reference machine speed.  The traced run
(``--trace 1``) makes the same calls split into their layers, alternating
with untraced operations to measure the tracing overhead, and reports
``LAYER_METRICS``; layers a workload leaves idle read 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
import gen
from spans import Tracer

TEXT = ["content"]

#: per-layer metric -> (unit, end-to-end metric it should move, workload)
LAYER_METRICS = {
    "corpus.assign_doc_ids_s": ("s", "docs_per_s", "bulk-index"),
    "analyzer.tokenize_s": ("s", "docs_per_s op_p50_ms", "bulk-index"),
    "analyzer.tokens": ("count", "docs_per_s", "bulk-index"),
    "index.build.postings_s": ("s", "docs_per_s", "bulk-index"),
    "index.build.postings": ("count", "docs_per_s", "bulk-index"),
    "index.blocks.encode_write_s": (
        "s", "docs_per_s index_bytes_per_posting", "bulk-index"),
    "index.blocks.blocks": ("count", "index_bytes_per_posting", "bulk-index"),
    "index.blocks.bytes": ("B", "index_bytes_per_posting", "bulk-index"),
    "classifier.nb.train_s": ("s", "op_p50_ms", "bulk-index"),
    "classifier.nb.predict_s": ("s", "op_p50_ms", "bulk-index"),
    "analyzer.query_tokenize_s": ("s", "op_p50_ms", "ingest-search"),
    "index.blocks.term_stats_probe_cold_s": (
        "s", "op_p50_ms", "ingest-search"),
    "index.blocks.term_stats_probe_warm_s": (
        "s", "op_p50_ms", "ingest-search"),
    "query.wand.score_s": ("s", "op_p50_ms", "ingest-search"),
    "query.wand.candidate_blocks": ("count", "op_p50_ms", "ingest-search"),
    "session.empty_job_ms": ("ms", "op_p50_ms", "both"),
    "streaming.incremental.refresh_s": ("s", "docs_per_s", "ingest-search"),
    "streaming.incremental.segments": (
        "count", "docs_per_s index_bytes_per_posting", "ingest-search"),
    "index.deletes.delete_s": ("s", "docs_per_s op_p50_ms", "ingest-search"),
    "trace.overhead_pct": ("%", "every metric", "both"),
}
LAYERS = ["corpus", "analyzer", "index.build", "index.blocks",
          "classifier.nb", "query.wand", "session",
          "streaming.incremental", "index.deletes"]
LAYER_METRICS.update({f"{layer}.failed": ("count", "attempted/failed",
                                          "both") for layer in LAYERS})

E2E_UNITS = {"docs_per_s": "1/s", "op_p50_ms": "ms",
             "index_bytes_per_posting": "B", "setup_s": "s",
             "peak_pss_mb": "MB"}

SIZES = {
    # docs in the bulk corpus; docs per ingest round and in the warm
    # round; single queries and tombstones per round
    "full": {"bulk": 5_000, "round": 1_000, "round_warm": 300,
             "queries": 6, "deletes": 3},
    "tiny": {"bulk": 300, "round": 100, "round_warm": 60, "queries": 2,
             "deletes": 2},
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    sizes: dict
    inputs: str          # input cache, kept across runs
    run_dir: str         # this run's engine outputs
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    check_failures: list = field(default_factory=list)

    def op(self, fn, *args, ops: int = 1):
        """Run ``ops`` engine operations as one call; an error counts
        them all as failed and returns None."""
        self.attempted += ops
        try:
            return fn(*args)
        except Exception:
            self.failed += ops
            traceback.print_exc()
            return None

    def check(self, name: str, fn, *args) -> None:
        """Run one correctness check; an error or a returned problem
        counts as a failed operation."""
        self.attempted += 1
        try:
            problem = fn(*args)
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            self.check_failures.append(f"{name}: {problem}")

    @contextmanager
    def untraced(self):
        """Warm passes leave no spans behind."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = enabled


def _now() -> float:
    return time.perf_counter()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def du(*paths: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for p in paths for root, _, files in os.walk(p)
               for f in files)


def calibrate(cores: int, reps: int = 9) -> float:
    """Seconds a fixed sort kernel takes on every core at once (median
    of ``reps``): how fast this machine runs right now."""
    from concurrent.futures import ThreadPoolExecutor

    data = np.random.default_rng(0).random(8_000_000)
    times = []
    with ThreadPoolExecutor(cores) as pool:
        for _ in range(reps):
            t = _now()
            list(pool.map(lambda _: np.sort(data), range(cores)))
            times.append(_now() - t)
    return statistics.median(times)


def _overhead_pct(traced: list, untraced: list) -> float:
    if not traced or not untraced:
        return 0.0
    return (statistics.median(traced) / statistics.median(untraced)
            - 1.0) * 100.0


# --------------------------------------------------------------- bulk-index

def _salt_threshold(n_docs: int) -> int:
    # Half the corpus: the Zipf-head terms ('import', 'return', 'print')
    # occur in nearly every doc, so they take the salted hot-term path at
    # this corpus size, not only above the 50k-doc default.
    return n_docs // 2


def _bulk_job(ctx: Ctx, corpus_path: str, out: str, n_docs: int):
    """(index_s, classify_s, index, predictions)."""
    from elasticsearch_nlp_classifier_spark.classifier import (
        predict_nb, train_nb,
    )
    from elasticsearch_nlp_classifier_spark.corpus import assign_doc_ids
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index,
    )

    t0 = _now()
    docs = assign_doc_ids(ctx.spark.read.parquet(corpus_path))
    index = build_physical_index(docs, out, analyzer="code",
                                 salt_threshold=_salt_threshold(n_docs))
    t1 = _now()
    model = train_nb(docs, TEXT, "lang", analyzer="code", id_col="doc_id")
    preds = predict_nb(model, docs, TEXT, analyzer="code",
                       id_col="doc_id").toPandas()
    return t1 - t0, _now() - t1, index, preds


def _bulk_job_traced(ctx: Ctx, corpus_path: str, out: str, n_docs: int):
    """The same job with each layer called, and its lazy result forced,
    on its own."""
    from pyspark.sql import functions as F

    from elasticsearch_nlp_classifier_spark.classifier import (
        predict_nb, train_nb,
    )
    from elasticsearch_nlp_classifier_spark.corpus import assign_doc_ids
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index, index_stats,
    )
    from elasticsearch_nlp_classifier_spark.index.build import (
        build_logical_index, tokenize_docs,
    )

    tr = ctx.tracer
    tr.new_trace()
    t0 = _now()
    with tr.span("bulk.index"):
        with tr.span("corpus.assign_doc_ids"):
            docs = assign_doc_ids(ctx.spark.read.parquet(corpus_path))
        with tr.span("analyzer.tokenize") as a:
            a["tokens"] = int(tokenize_docs(docs, analyzer="code")
                              .agg(F.sum("dl")).first()[0])
        with tr.span("index.build.postings") as a:
            logical = build_logical_index(docs, analyzer="code")
            a["postings"] = logical.postings.count()
        with tr.span("index.blocks.encode_write") as enc:
            index = build_physical_index(
                docs, out, analyzer="code", logical=logical,
                salt_threshold=_salt_threshold(n_docs))
    t1 = _now()
    with tr.span("bulk.classify"):
        with tr.span("classifier.nb.train"):
            model = train_nb(docs, TEXT, "lang", analyzer="code",
                             id_col="doc_id")
        with tr.span("classifier.nb.predict"):
            preds = predict_nb(model, docs, TEXT, analyzer="code",
                               id_col="doc_id").toPandas()
    t2 = _now()
    # counters, collected outside the spans
    enc.update(blocks=index_stats(index)["n_blocks"],
               bytes=du(f"{out}/blocks"))
    return t1 - t0, t2 - t1, index, preds


def bulk_index(ctx: Ctx) -> dict:
    n = ctx.sizes["bulk"]
    corpus_path = gen.cached_corpus(ctx.inputs, ctx.seed, n, tag="b")
    log("inputs ready")
    # A bulk load is a batch job submitted to a fresh session, so the
    # warm pass is the executor bootstrap only (Python worker pool up);
    # the first job pays the JVM's compilation of its hot paths.  A full
    # warm job per run does not fit the benchmark's time budget.
    from elasticsearch_nlp_classifier_spark.session import (
        warm_python_workers,
    )

    t = _now()
    with ctx.untraced():
        ctx.op(warm_python_workers, ctx.spark)
    setup_s = _now() - t

    jobs = []  # (traced, index_s, classify_s), None times when it failed
    last = None
    # The traced run follows the first job with a traced and an untraced
    # one, and compares those two for the tracing overhead.
    plan = [False, True, False] if ctx.tracer.enabled else []
    t_start = _now()
    while len(jobs) < len(plan) or (
            not plan and (not jobs or _now() - t_start < ctx.seconds)):
        traced = plan[len(jobs)] if plan else False
        out = f"{ctx.run_dir}/bulk{len(jobs)}"
        res = ctx.op(_bulk_job_traced if traced else _bulk_job,
                     ctx, corpus_path, out, n, ops=2)
        if res is None:
            jobs.append((traced, None, None))
            continue
        jobs.append((traced, res[0], res[1]))
        last = (out, res[2], res[3])
        log(f"job {len(jobs)}: index {res[0]:.1f}s classify {res[1]:.1f}s")

    metrics = {"setup_s": setup_s}
    done = [j for j in jobs if j[1] is not None]
    plain = [j for j in done if not j[0]]
    if plain:
        metrics.update(
            docs_per_s=n / statistics.median(j[1] for j in plain),
            op_p50_ms=statistics.median(j[2] for j in plain) * 1e3)
    metrics["trace.overhead_pct"] = _overhead_pct(
        [j[1] + j[2] for j in done if j[0]],
        [j[1] + j[2] for j in plain[1:]])
    if last is not None:
        out, index, preds = last
        cs = index.corpus_stats
        metrics["index_bytes_per_posting"] = (
            du(f"{out}/blocks", f"{out}/term_stats")
            / max(1, cs["sum_doc_freq"]))
        pdf = pd.read_parquet(corpus_path)
        ctx.check("index_stats", checks.index_stats, pdf, cs)
        ctx.check("nb_vs_oracle", checks.nb_vs_oracle, pdf, preds,
                  ctx.seed)
        log("checked")
    return metrics


# ------------------------------------------------------------ ingest-search

def _query(index, row: pd.DataFrame) -> pd.DataFrame:
    from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

    return wand_topk(index, row).toPandas()


def _query_traced(ctx: Ctx, index, row: pd.DataFrame, probed: set
                  ) -> pd.DataFrame:
    """``wand_topk`` split into its layers with public calls: analyze the
    query on the driver, probe term stats, score over the blocks."""
    from pyspark.sql import functions as F

    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        get_analyzer,
    )
    from elasticsearch_nlp_classifier_spark.index.deletes import (
        deleted_array,
    )
    from elasticsearch_nlp_classifier_spark.query.wand import (
        topk_from_pairs,
    )

    tr = ctx.tracer
    tr.new_trace()
    with tr.span("query.single") as q:
        with tr.span("analyzer.query_tokenize"):
            tok = get_analyzer("code").tokenize
            pairs = sorted({(int(qid), t) for qid, text in
                            zip(row["query_id"], row["query_text"])
                            for t in tok(text)})
        terms = sorted({t for _, t in pairs})
        cold = not set(terms) <= probed
        probed.update(terms)
        with tr.span("index.blocks.term_stats_probe_"
                     + ("cold" if cold else "warm")):
            stats = index.term_stats_for(terms)
        if cold:  # the scorer probes again, from the index's cache
            with tr.span("index.blocks.term_stats_probe_warm"):
                index.term_stats_for(terms)
        with tr.span("query.wand.score"):
            deleted = deleted_array(index)
            res = topk_from_pairs(
                index, pairs,
                {int(qid): int(k) for qid, k in zip(row["query_id"],
                                                    row["k"])},
                deleted=deleted if len(deleted) else None).toPandas()
    found = [t for t, (df, _) in stats.items() if df is not None]
    q["candidate_blocks"] = index.blocks.where(
        F.col("tb").isin(sorted({stats[t][1] for t in found}))
        & F.col("term").isin(found)).count() if found else 0
    return res


def _round(ctx: Ctx, r: int, state: dict, n: int, n_queries: int,
           n_del: int) -> dict | None:
    """One ingest round: ``n`` docs land and are refreshed, ``n_del`` are
    tombstoned, ``n_queries`` single queries follow.  Its timings, or
    None if an operation failed."""
    from elasticsearch_nlp_classifier_spark.index.deletes import delete_docs
    from elasticsearch_nlp_classifier_spark.streaming import (
        StreamingPhysicalIndex, incremental_index_stream,
    )

    spark, tr = ctx.spark, ctx.tracer
    first = state["n_docs"]  # generator offset: rare tokens stay unique
    src = gen.cached_corpus(ctx.inputs, ctx.seed, n, start=first, tag="r")
    staged = f"{state['staging']}/round{r}.parquet"
    shutil.copytree(src, staged)
    pdf = pd.read_parquet(src)
    ids = checks.expected_doc_ids(pdf, state["n_docs"])
    rare = gen.rare_terms(pdf, start=first, tag="r")
    picks = np.random.default_rng([ctx.seed, 5, r]).choice(
        [i for i, t in enumerate(rare) if t], size=n_del + 10, replace=False)
    gone = [(rare[i], int(ids[i])) for i in picks[:n_del]]
    live = [(rare[i], int(ids[i])) for i in picks[n_del:]]
    queries = gen.queries(
        ctx.seed, n_queries, 100 + r,
        gen.term_pool([t for t, _ in state["live"] + live]))

    def refresh() -> float:
        tr.new_trace()
        with tr.span("streaming.incremental.refresh") as a:
            t = _now()
            os.rename(staged, f"{state['incoming']}/round{r}.parquet")
            q = incremental_index_stream(
                spark, f"{state['incoming']}/*.parquet/", state["index"])
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            took = _now() - t
        a["segments"] = len(os.listdir(f"{state['index']}/seg_stats"))
        return took

    refresh_s = ctx.op(refresh)
    if refresh_s is None:
        return None
    state["n_docs"] += n
    state["docs"].append(pdf.assign(doc_id=ids)[["doc_id", "content"]])
    state["live"].extend(live)

    def delete() -> float:
        with tr.span("index.deletes.delete"):
            t = _now()
            delete_docs(StreamingPhysicalIndex(state["index"], spark),
                        [doc for _, doc in gone])
            return _now() - t

    delete_s = ctx.op(delete) if gone else 0.0
    if delete_s is None:
        return None
    state["deleted"].extend(gone)
    if not n_queries:
        return {"refresh_s": refresh_s}

    fresh = StreamingPhysicalIndex(state["index"], spark)
    probed: set = set()
    lat, results = [], []
    for i in range(len(queries)):
        row = queries.iloc[i:i + 1]
        # the traced run alternates traced and untraced queries, so both
        # see the same index and the same JVM warmth
        traced = ctx.tracer.enabled and i % 2 == 1
        t = _now()
        res = (ctx.op(_query_traced, ctx, fresh, row, probed) if traced
               else ctx.op(_query, fresh, row))
        if res is None:
            return None
        lat.append((traced, _now() - t))
        results.append(res)
    log(f"round {r}: refresh {refresh_s:.1f}s delete {delete_s:.1f}s "
        f"queries {sum(t for _, t in lat):.1f}s")
    got = pd.concat(results, ignore_index=True)
    ctx.check(f"round{r}_no_tombstones", checks.no_tombstones, got,
              [doc for _, doc in state["deleted"]])
    return {"refresh_s": refresh_s, "query_s": lat, "queries": queries,
            "results": got}


def ingest_search(ctx: Ctx) -> dict:
    from elasticsearch_nlp_classifier_spark.streaming import (
        StreamingPhysicalIndex,
    )

    state = {"incoming": f"{ctx.run_dir}/incoming",
             "staging": f"{ctx.run_dir}/staging",
             "index": f"{ctx.run_dir}/index", "n_docs": 0,
             "docs": [], "live": [], "deleted": []}
    os.makedirs(state["incoming"])
    os.makedirs(state["staging"])
    t = _now()
    sz = ctx.sizes
    with ctx.untraced():  # the warm pass: one small file is refreshed
        _round(ctx, 0, state, sz["round_warm"], 0, 0)
    setup_s = _now() - t

    rounds = []
    t_start = _now()
    while not rounds or _now() - t_start < ctx.seconds:
        res = _round(ctx, len(rounds) + 1, state, sz["round"],
                     sz["queries"], sz["deletes"])
        if res is None:
            break  # the index is behind the inputs: later rounds are moot
        rounds.append(res)

    metrics = {"setup_s": setup_s}
    if not rounds:
        return metrics
    lat = [x for rd in rounds for x in rd["query_s"]]
    plain = [t for traced, t in lat if not traced]
    index = StreamingPhysicalIndex(state["index"], ctx.spark)
    metrics.update(
        docs_per_s=ctx.sizes["round"]
        / statistics.median(rd["refresh_s"] for rd in rounds),
        op_p50_ms=statistics.median(plain) * 1e3,
        index_bytes_per_posting=du(
            f"{state['index']}/blocks", f"{state['index']}/seg_term_stats")
        / max(1, index.corpus_stats["sum_doc_freq"]),
        **{"trace.overhead_pct": _overhead_pct(
            [t for traced, t in lat if traced], plain)})
    ctx.check("rare_terms_and_tombstones", checks.ingest_probe, index,
              state["live"], state["deleted"])
    ctx.check("wand_vs_oracle", checks.wand_vs_oracle,
              pd.concat(state["docs"], ignore_index=True),
              rounds[-1]["queries"], rounds[-1]["results"],
              [doc for _, doc in state["deleted"]])
    log("checked")
    return metrics


WORKLOADS = {"bulk-index": bulk_index, "ingest-search": ingest_search}


def layer_metrics(ctx: Ctx, measured: dict) -> dict:
    """Every ``LAYER_METRICS`` value from the recorded spans: median span
    seconds and median per-operation counts; 0 for idle layers."""
    tr = ctx.tracer

    def med(name: str) -> float:
        d = tr.durations(name)
        return statistics.median(d) if d else 0.0

    def count(name: str, key: str) -> float:
        vals = [s["attrs"].get(key, 0) for s in tr.spans
                if s["name"] == name and s["ok"]]
        return statistics.median(vals) if vals else 0

    empty = []
    for _ in range(5):
        with tr.span("session.empty_job"):
            t = _now()
            ctx.spark.range(1).count()
            empty.append((_now() - t) * 1e3)

    out = {
        "corpus.assign_doc_ids_s": med("corpus.assign_doc_ids"),
        "analyzer.tokenize_s": med("analyzer.tokenize"),
        "analyzer.tokens": count("analyzer.tokenize", "tokens"),
        "index.build.postings_s": med("index.build.postings"),
        "index.build.postings": count("index.build.postings", "postings"),
        "index.blocks.encode_write_s": med("index.blocks.encode_write"),
        "index.blocks.blocks": count("index.blocks.encode_write", "blocks"),
        "index.blocks.bytes": count("index.blocks.encode_write", "bytes"),
        "classifier.nb.train_s": med("classifier.nb.train"),
        "classifier.nb.predict_s": med("classifier.nb.predict"),
        "analyzer.query_tokenize_s": med("analyzer.query_tokenize"),
        "index.blocks.term_stats_probe_cold_s":
            med("index.blocks.term_stats_probe_cold"),
        "index.blocks.term_stats_probe_warm_s":
            med("index.blocks.term_stats_probe_warm"),
        "query.wand.score_s": med("query.wand.score"),
        "query.wand.candidate_blocks": count("query.single",
                                             "candidate_blocks"),
        "session.empty_job_ms": statistics.median(empty),
        "streaming.incremental.refresh_s":
            med("streaming.incremental.refresh"),
        "streaming.incremental.segments": max(
            (s["attrs"].get("segments", 0) for s in tr.spans
             if s["name"] == "streaming.incremental.refresh"), default=0),
        "index.deletes.delete_s": med("index.deletes.delete"),
        "trace.overhead_pct": measured.get("trace.overhead_pct", 0.0),
    }
    out.update({f"{layer}.failed": tr.failed.get(layer, 0)
                for layer in LAYERS})
    return out
