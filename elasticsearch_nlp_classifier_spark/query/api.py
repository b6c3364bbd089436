"""Small ES admin/utility APIs: ``_analyze``, ``_field_caps``,
``_validate/query``, search templates, ``_mget``.

These are the "day one" endpoints an ES user pokes before writing real
queries (the reference's client exposes all of them —
`utils/elasticsearch/ESClient.java` hands back a stock
`RestHighLevelClient`).  Each is thin by design; the value is 1:1
surface parity so a migrating user finds the same verbs:

- ``analyze_api``     — run any registered analyzer chain on a string,
  returning (token, position) rows like ``POST /_analyze``.
- ``field_caps``      — per-field type/searchable/aggregatable report
  from the DataFrame schema, like ``GET /_field_caps``.
- ``validate_query``  — compile a query-string without running it;
  returns (valid, explanation|error) like ``GET /_validate/query``.
- ``render_search_template`` — ``{{param}}`` substitution into a
  query-string template (mustache's variable subset — the part of
  ``_render/template`` real search templates overwhelmingly use),
  refusing unresolved placeholders.
- ``mget``            — per-requested-id found/missing report in one
  broadcast-joined pass, like ``POST /_mget`` (never N point reads).
- ``msearch``         — N ranked match searches answered as ONE batched
  BM25/WAND job, like ``POST /_msearch`` (response order = request
  order via ``query_id``; never N sequential jobs).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DateType, DoubleType, FloatType,
    IntegerType, LongType, MapType, StringType, StructType, TimestampType,
)

__all__ = [
    "analyze_api",
    "field_caps",
    "validate_query",
    "render_search_template",
    "mget",
    "msearch",
    "terms_enum",
    "with_runtime_fields",
    "count_api",
    "profile_search",
]


def analyze_api(
    spark: SparkSession, text: str, analyzer: str = "default",
) -> DataFrame:
    """ES ``POST /_analyze``: the analyzer chain's output for one
    string as ``(token, position)`` rows (0-based positions, the same
    convention the positional index stores)."""
    from ..analyzer.chain import get_analyzer

    toks = get_analyzer(analyzer).tokenize(text)
    return spark.createDataFrame(
        [(t, i) for i, t in enumerate(toks)],
        "token string, position int",
    )


_ES_TYPE = {
    StringType: "keyword",
    LongType: "long",
    IntegerType: "integer",
    DoubleType: "double",
    FloatType: "float",
    BooleanType: "boolean",
    TimestampType: "date",
    DateType: "date",
    BinaryType: "binary",
}


def field_caps(df: DataFrame, text_fields: set[str] | None = None):
    """ES ``GET /_field_caps``: per-field ``(field, type, searchable,
    aggregatable)``.  ``text_fields`` marks analyzed string columns
    (type ``text``, aggregatable false — exactly ES's text-mapping
    caveat); complex types report like ES's object/nested fields
    (searchable via their leaves, not aggregatable as a whole).
    Schema-only — no job runs."""
    text_fields = text_fields or set()
    rows = []
    for f in df.schema.fields:
        t = type(f.dataType)
        if f.name in text_fields:
            es_t, agg = "text", False
        elif t in _ES_TYPE:
            es_t, agg = _ES_TYPE[t], True
        elif t is ArrayType or t is MapType or t is StructType:
            es_t, agg = "nested", False
        else:
            es_t, agg = f.dataType.simpleString(), False
        rows.append((f.name, es_t, True, agg))
    return rows


def validate_query(query_string: str, **compile_kwargs) -> dict:
    """ES ``GET /_validate/query?explain=true``: compile the query
    string without executing.  Returns ``{"valid": bool,
    "explanation": <compiled Column repr> | None, "error": str |
    None}`` — the compiled expression plays the role of ES's rewritten
    Lucene query in the explanation."""
    from ..functions.query_string import compile_query_string

    try:
        col = compile_query_string(query_string, **compile_kwargs)
        return {"valid": True, "explanation": str(col), "error": None}
    except Exception as e:  # noqa: BLE001 — API reports, never raises
        return {"valid": False, "explanation": None,
                "error": f"{type(e).__name__}: {e}"}


_TPL_VAR = re.compile(r"\{\{\s*([A-Za-z0-9_.]+)\s*\}\}")


def render_search_template(template: str, params: dict) -> str:
    """ES ``_render/template`` (mustache variable subset): substitute
    ``{{name}}`` placeholders from ``params``.  Unresolved
    placeholders raise (ES renders empty — silently corrupting the
    query; failing loudly is the safer library behavior and the test
    suite pins it)."""
    missing = [m for m in _TPL_VAR.findall(template) if m not in params]
    if missing:
        raise KeyError(f"unresolved template params: {missing}")
    return _TPL_VAR.sub(lambda m: str(params[m.group(1)]), template)


def mget(
    docs: DataFrame, ids: list, id_col: str = "doc_id",
) -> DataFrame:
    """ES ``POST /_mget``: one row per *requested* id with ``found``
    flag and the doc's columns (null when missing) — request order is
    recoverable by joining on the id.  The id list broadcasts against
    the corpus scan (the ``isin`` pushes down), never N point
    lookups."""
    spark = docs.sparkSession
    id_type = dict(docs.dtypes)[id_col]
    req = spark.createDataFrame(
        [(i,) for i in ids], f"{id_col} {id_type}"
    )
    hit = docs.where(F.col(id_col).isin(ids))
    return (
        req.join(hit.withColumn("_found", F.lit(True)), id_col, "left")
        .withColumn("found", F.coalesce(F.col("_found"), F.lit(False)))
        .drop("_found")
    )


def msearch(
    index,
    searches: list,
    k: int = 10,
    analyzer: str = "code",
) -> DataFrame:
    """ES ``POST /_msearch``: N independent ranked match searches in
    one request.  Each element of ``searches`` is a query string or a
    ``{"query": str, "size": int}`` dict; ``query_id`` in the result is
    the request position (ES's response-order contract).

    All N searches run as ONE batched top-k job — the per-query
    fan-out happens inside the scoring stage (query_id is part of the
    grouping key), so the postings data is scanned once per batch, not
    once per search.  ``index`` may be a PhysicalIndex (block-max WAND
    over the compressed blocks) or a LogicalIndex (brute BM25); both
    return (query_id, rank, doc_id, score)."""
    specs = []
    for i, s in enumerate(searches):
        if isinstance(s, str):
            specs.append((i, s, k))
        else:
            specs.append((i, s["query"], int(s.get("size", k))))
    if not specs:
        raise ValueError("msearch: empty search list")
    from ..index.blocks import PhysicalIndex
    from .bm25 import bm25_topk
    from .wand import wand_topk

    spark = (index.spark if isinstance(index, PhysicalIndex)
             else index.postings.sparkSession)
    qdf = spark.createDataFrame(
        [(i, q) for i, q, _ in specs], "query_id int, query_text string"
    )
    max_k = max(s for _, _, s in specs)
    fn = wand_topk if isinstance(index, PhysicalIndex) else bm25_topk
    ranked = fn(index, qdf, k=max_k, analyzer=analyzer)
    if len({s for _, _, s in specs}) == 1:
        return ranked
    sizes = spark.createDataFrame(
        [(i, s) for i, _, s in specs], "query_id int, __size int"
    )
    return (
        ranked.join(F.broadcast(sizes), "query_id")
        .where(F.col("rank") <= F.col("__size"))
        .drop("__size")
    )


def terms_enum(
    index, prefix: str = "", size: int = 10,
    case_insensitive: bool = False,
) -> DataFrame:
    """ES ``POST /<index>/_terms_enum``: the first ``size`` indexed
    terms with the given prefix, in term (dictionary) order — ES's
    auto-complete-on-keyword endpoint.  A filter + TakeOrdered over the
    vocabulary-sized ``term_stats`` table; postings are never touched.

    (`utils/elasticsearch/ESClient.java` exposes this via
    the stock client; ES also returns only live-doc terms — here
    tombstoned docs may still hold a term until vacuum, documented.)"""
    t = index.term_stats.select("term")
    if prefix:
        if case_insensitive:
            t = t.where(F.lower(F.col("term")).startswith(prefix.lower()))
        else:
            t = t.where(F.col("term").startswith(prefix))
    return t.orderBy("term").limit(size)


def with_runtime_fields(df: DataFrame, mappings: dict) -> DataFrame:
    """ES ``runtime_mappings`` / ``script_fields``: derived fields
    declared per-search and usable in queries, aggs, and the response —
    without reindexing.  Each mapping value is either a Column or an
    SQL expression string (the Painless-script analog; stays entirely
    inside Catalyst, so runtime fields filter/aggregate with codegen
    exactly like indexed ones — the classic ES caveat that runtime
    fields scan slower than doc_values applies to ES, not here, since
    Parquet scans recompute projections either way)."""
    from pyspark.sql import Column

    out = df
    for name, expr in mappings.items():
        out = out.withColumn(
            name, expr if isinstance(expr, Column) else F.expr(expr)
        )
    return out


def count_api(
    df: DataFrame,
    query_string: str = "",
    text_fields: set[str] | None = None,
    **compile_kwargs,
) -> dict:
    """``GET /_count`` analog: match count for a query-string without
    retrieving hits.  Compiles through the same grammar as search
    (`compile_query_string`), so the count always agrees with what a
    search would return; Catalyst turns it into a pushed-down scan +
    count-star (no row materialization)."""
    from ..functions.query_string import compile_query_string

    pred = compile_query_string(query_string, df.schema.fieldNames(),
                                text_fields=text_fields, **compile_kwargs)
    return {"count": df.where(pred).count()}


def profile_search(
    index,
    query_text: str,
    k: int = 10,
    analyzer: str = "code",
) -> dict:
    """``_search?profile=true`` analog for the WAND path: runs the
    query and returns hits PLUS a per-phase breakdown — analyze,
    term-stats probe, candidate-block count, score+rank — with
    wall-clock millis and the per-term df/idf the scorer used.

    Phase semantics mirror the engine's query shape
    (`query/wand.py:wand_topk`): one term-stats probe job, then the
    scoring job(s).  ``stats_probe_ms`` is ~0 when the
    term-stats cache is warm for this index generation (warm batches
    skip the probe job entirely); ``candidate_blocks`` adds one
    metadata-count job the plain search never runs — profiling has
    observer cost, like ES's profile API."""
    import math
    import time as _time

    import pandas as pd

    from ..analyzer.chain import get_analyzer
    from ..query.wand import wand_topk

    prof: dict = {"query": query_text, "phases": {}}
    t0 = _time.time()
    terms = sorted(set(get_analyzer(analyzer).tokenize(query_text)))
    prof["phases"]["analyze_ms"] = round((_time.time() - t0) * 1e3, 3)
    prof["terms"] = terms

    t1 = _time.time()
    ts = index.term_stats_for(terms)
    prof["phases"]["stats_probe_ms"] = round((_time.time() - t1) * 1e3, 3)
    doc_count = index.corpus_stats["doc_count"]
    prof["term_stats"] = {
        t: {
            "df": df_,
            "tb": tb,
            "idf": round(math.log(1.0 + (doc_count - df_ + 0.5)
                                  / (df_ + 0.5)), 6),
        }
        for t, (df_, tb) in ts.items() if df_ is not None
    }
    matched = sorted(prof["term_stats"])

    t2 = _time.time()
    if matched:
        buckets = sorted({v["tb"] for v in prof["term_stats"].values()})
        prof["candidate_blocks"] = (
            index.blocks.where(F.col("tb").isin(buckets))
            .where(F.col("term").isin(matched)).count()
        )
    else:
        prof["candidate_blocks"] = 0
    prof["phases"]["candidate_count_ms"] = round((_time.time() - t2) * 1e3, 3)

    t3 = _time.time()
    qdf = pd.DataFrame([{"query_id": 0, "query_text": query_text}])
    hits = wand_topk(index, qdf, k=k).collect()
    prof["phases"]["score_ms"] = round((_time.time() - t3) * 1e3, 3)
    prof["took_ms"] = round((_time.time() - t0) * 1e3, 3)
    prof["hits"] = [
        {"doc_id": r.doc_id, "rank": r.rank, "score": r.score}
        for r in hits
    ]
    return prof
