"""Seeded inputs for the benchmark: source-code corpus, query streams and
ingest rounds.

Every input is a pure function of ``(seed, size)``.  The vocabulary and
row shape follow the engine's synthetic corpus (repo, path, commit, lang,
content) but are defined here, so a change to the program never changes
what the benchmark feeds it.

Inputs are cached under the work directory, one directory per
``(kind, seed, size)``.  Each is written to a temporary directory first
and renamed into place, so a generation killed mid-write never leaves a
half-written parquet directory behind for the next run to trip over.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "scala", "js", "go", "md"]
LANG_W = np.array([0.30, 0.22, 0.12, 0.16, 0.10, 0.10])
EXT = {"python": "py", "java": "java", "scala": "scala",
       "js": "js", "go": "go", "md": "md"}

# Zipf head: the skewed common code terms ('import', 'return', 'print').
# Several are English stopwords that the ``code`` analyzer drops; they
# still cost tokenizer work, as they do in real source files.
HEAD = (
    "the import return def class if else for while self public static "
    "void function var const int string new this null true false package "
    "from with not and or in is to of data value result type error test "
    "file line name list map set get put add key index node len print"
).split()
# head terms that survive the ``code`` analyzer (not stopwords)
QUERY_HEAD = [t for t in HEAD if t not in {
    "the", "if", "else", "for", "while", "this", "from", "with", "not",
    "and", "or", "in", "is", "to", "of"}]

LANG_KW = {
    "python": ["def", "self", "import", "elif", "lambda", "yield"],
    "java": ["public", "static", "void", "extends", "implements", "final"],
    "scala": ["val", "object", "trait", "implicit", "case", "match"],
    "js": ["function", "const", "let", "async", "await", "undefined"],
    "go": ["func", "chan", "defer", "goroutine", "struct", "interface"],
    "md": ["readme", "documentation", "install", "usage", "license", "badge"],
}

N_MID = 2000          # mid-frequency identifier pool
DOCS_PER_FILE = 2500
MIN_TOKENS, MAX_TOKENS = 30, 400


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def corpus(seed: int, n_docs: int, start: int = 0, tag: str = "b"
           ) -> pd.DataFrame:
    """Rows ``[start, start + n_docs)`` of the seed's corpus.

    Doc ``i`` carries the rare tokens ``u{tag}{i}x{j}`` (unique to it), so a
    rare-term query has exactly one right answer.  ``tag`` keeps the rare
    tokens of separately generated corpora (bulk corpus, ingest rounds)
    disjoint."""
    rng = _rng(seed, 1, start, n_docs)
    ids = np.arange(start, start + n_docs)
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_W)
    n_tok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    total = int(n_tok.sum())
    kinds = rng.choice(3, size=total, p=[0.55, 0.40, 0.05])
    head = np.minimum(rng.zipf(1.3, size=total) - 1, len(HEAD) - 1)
    mid = rng.integers(0, N_MID, size=total)
    kw_roll = rng.random(total) < 0.05      # language-signal keywords
    kw_pick = rng.integers(0, 6, size=total)
    dirs = rng.integers(0, 40, size=n_docs)

    head_words = np.array(HEAD, dtype=object)
    mid_words = np.array([f"id_{k}" for k in range(N_MID)], dtype=object)
    kw_words = np.array([LANG_KW[lang] for lang in LANGS], dtype=object)
    doc_of = np.repeat(np.arange(n_docs), n_tok)
    words = np.where(kinds == 0, head_words[head], mid_words[mid])
    words = np.where(kw_roll, kw_words[lang_idx[doc_of], kw_pick], words)

    rows = []
    bounds = np.concatenate(([0], np.cumsum(n_tok)))
    for d in range(n_docs):
        i = int(ids[d])
        toks = words[bounds[d]:bounds[d + 1]].tolist()
        rare = np.flatnonzero(
            (kinds[bounds[d]:bounds[d + 1]] == 2)
            & ~kw_roll[bounds[d]:bounds[d + 1]])
        for j, p in enumerate(rare):
            toks[p] = f"u{tag}{i}x{j}"
        lines = [" ".join(toks[k:k + 8]) for k in range(0, len(toks), 8)]
        lang = LANGS[lang_idx[d]]
        repo = f"org{i % 7}/repo{i % 23}"
        path = f"src/dir{dirs[d]}/file_{tag}{i}.{EXT[lang]}"
        rows.append((repo, path,
                     hashlib.sha1(f"{seed}/{repo}/{path}".encode())
                     .hexdigest(), lang, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                       "content"])


def rare_terms(pdf: pd.DataFrame, start: int = 0, tag: str = "b"
               ) -> list[str | None]:
    """The first rare token of each row of ``corpus(seed, len(pdf), start,
    tag)``, or None for a row that drew none."""
    out = []
    for d, text in enumerate(pdf["content"]):
        tok = f"u{tag}{start + d}x0"
        out.append(tok if re.search(rf"\b{tok}\b", text) else None)
    return out


#: term kinds of the queries in a stream, cycled: 1-4 terms mixing head,
#: mid, rare and absent terms.  A fixed cycle keeps every stream's mix of
#: cheap and costly queries the same, so seeds change only the terms.
SHAPES = [("head",), ("mid", "rare"), ("head", "mid", "absent"),
          ("rare",), ("mid", "mid", "head", "rare"), ("head", "absent")]


def queries(seed: int, n: int, stream: int, term_pool: dict
            ) -> pd.DataFrame:
    """``n`` queries shaped by ``SHAPES``, ``k`` alternating 10 and 100.
    Terms are drawn Zipf-style from the first 40 entries of a per-stream
    shuffle of each pool, so they repeat the way real traffic does."""
    rng = _rng(seed, 2, stream)
    pools = {"head": list(term_pool["head"])}
    for kind in ("mid", "rare"):
        items = list(term_pool[kind])
        rng.shuffle(items)
        pools[kind] = items[:40]

    def term(kind: str) -> str:
        if kind == "absent":
            return f"zzabsent{stream}q{int(rng.integers(8))}"
        if kind == "head":
            return pools["head"][int(rng.integers(len(pools["head"])))]
        items = pools[kind]
        return items[min(int(rng.zipf(1.5)) - 1, len(items) - 1)]

    texts = [" ".join(term(kind) for kind in SHAPES[i % len(SHAPES)])
             for i in range(n)]
    return pd.DataFrame({"query_id": np.arange(1, n + 1, dtype=np.int64),
                         "query_text": texts,
                         "k": np.array([(10, 100)[i % 2] for i in range(n)],
                                       dtype=np.int64)})


def term_pool(rare: list[str]) -> dict:
    """Query terms: the head terms the analyzer keeps, the mid pool, and
    the given rare tokens."""
    return {"head": QUERY_HEAD, "mid": [f"id_{k}" for k in range(N_MID)],
            "rare": rare}


def _write_atomic(path: str, write) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another run finished the same input first
        shutil.rmtree(tmp)


def cached_corpus(cache_dir: str, seed: int, n_docs: int, start: int = 0,
                  tag: str = "b") -> str:
    """Parquet directory of ``corpus(seed, n_docs, start, tag)``; generated
    on first use and cached per (seed, size)."""
    path = os.path.join(cache_dir, f"corpus-{tag}-s{seed}-o{start}-n{n_docs}")
    if not os.path.isdir(path):
        pdf = corpus(seed, n_docs, start, tag)

        def write(d):
            # files of at most DOCS_PER_FILE docs, as a crawler lands them
            for j, lo in enumerate(range(0, n_docs, DOCS_PER_FILE)):
                pq.write_table(pa.Table.from_pandas(
                    pdf.iloc[lo:lo + DOCS_PER_FILE], preserve_index=False),
                    os.path.join(d, f"part-{j:05d}.parquet"))
        _write_atomic(path, write)
    return path
