"""Correctness checks on the engine's outputs, run outside the timed
window.  Each returns None when the output is right, else a one-line
description of what is wrong."""

from __future__ import annotations

import numpy as np
import pandas as pd


def expected_doc_ids(pdf: pd.DataFrame, offset: int = 0) -> np.ndarray:
    """doc_id of each row: the engine numbers a batch densely, from
    ``offset + 1``, in (repo, path, commit) order."""
    order = pdf.sort_values(["repo", "path", "commit"]).index.to_numpy()
    ids = np.empty(len(pdf), dtype=np.int64)
    ids[order] = offset + 1 + np.arange(len(pdf))
    return ids


def index_stats(pdf: pd.DataFrame, corpus_stats: dict) -> str | None:
    """Doc count and posting count against the ``code`` analyzer run
    directly over the corpus."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        get_analyzer,
    )

    tok = get_analyzer("code").tokenize
    postings = sum(len(set(tok(text))) for text in pdf["content"])
    want = {"doc_count": len(pdf), "sum_doc_freq": postings}
    got = {k: corpus_stats[k] for k in want}
    return None if got == want else f"got {got}, want {want}"


def wand_vs_oracle(docs: pd.DataFrame, queries: pd.DataFrame,
                   got: pd.DataFrame, deleted: list) -> str | None:
    """WAND top-k results ``got`` against the engine's brute-force BM25
    oracle over ``docs`` (doc_id, content), tombstoned ids left out:
    rank-identical doc ids, scores within 1e-9."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        get_analyzer,
    )
    from elasticsearch_nlp_classifier_spark.query.oracle import bm25_oracle

    an = get_analyzer("code")
    tokens = {int(d): an.tokenize(text)
              for d, text in zip(docs["doc_id"], docs["content"])}
    # deep enough that k live docs remain after dropping tombstones
    deep = queries.assign(k=queries["k"] + len(deleted))
    want = bm25_oracle(tokens, deep.to_dict("records"), an)
    want = want[~want["doc_id"].isin(deleted)]
    if want.empty:
        return "brute-force BM25 found no hits for any query"
    for qid, k in zip(queries["query_id"], queries["k"]):
        g = got[got.query_id == qid].sort_values("rank")
        w = want[want.query_id == qid].sort_values("rank").head(int(k))
        if g.doc_id.tolist() != w.doc_id.tolist():
            return f"query {qid}: doc ids differ"
        if not np.allclose(g.score.to_numpy(), w.score.to_numpy(),
                           rtol=0, atol=1e-9):
            return f"query {qid}: scores differ beyond 1e-9"
    return None


def no_tombstones(results: pd.DataFrame, deleted: list) -> str | None:
    back = sorted(set(results["doc_id"]) & set(deleted))
    return f"tombstoned docs {back} came back" if back else None


def nb_vs_oracle(pdf: pd.DataFrame, preds: pd.DataFrame, seed: int,
                 sample: int = 300) -> str | None:
    """Engine NB labels against the pure-Python oracle trained on the
    same corpus, on a seeded sample of docs."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        get_analyzer,
    )
    from elasticsearch_nlp_classifier_spark.classifier.oracle import (
        predict_oracle, train_oracle,
    )

    if len(preds) != len(pdf):
        return f"{len(preds)} predictions for {len(pdf)} docs"
    an = get_analyzer("code")
    rows = pdf.assign(doc_id=expected_doc_ids(pdf)).to_dict("records")
    model = train_oracle(rows, ["content"], "lang", an)
    pick = np.random.default_rng([seed, 6]).choice(
        len(rows), size=min(sample, len(rows)), replace=False)
    want = predict_oracle(model, [rows[i] for i in pick], ["content"], an,
                          id_col="doc_id")
    got = preds.set_index("doc_id").loc[want["doc_id"], "prediction"]
    bad = int((got.to_numpy() != want["prediction"].to_numpy()).sum())
    return f"{bad} of {len(want)} labels differ" if bad else None


def ingest_probe(index, live: list, deleted: list) -> str | None:
    """Each live doc's rare token returns exactly that doc; a tombstoned
    doc's rare token returns nothing."""
    from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

    probes = live + deleted
    qdf = pd.DataFrame({
        "query_id": np.arange(1, len(probes) + 1, dtype=np.int64),
        "query_text": [t for t, _ in probes],
        "k": np.full(len(probes), 10, dtype=np.int64),
    })
    res = wand_topk(index, qdf).toPandas()
    hits = res.groupby("query_id")["doc_id"].apply(list).to_dict()
    for qid, (tok, doc) in enumerate(live, start=1):
        if hits.get(qid) != [doc]:
            return f"{tok}: got {hits.get(qid)}, want [{doc}]"
    for qid, (tok, doc) in enumerate(deleted, start=len(live) + 1):
        if qid in hits:
            return f"tombstoned doc {doc} came back for {tok}"
    return None
