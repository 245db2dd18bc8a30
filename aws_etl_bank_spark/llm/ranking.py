"""Lexical relevance ranking: Okapi BM25 over a document corpus.

Classic training-data curation step (rank corpus docs against a probe
query, e.g. for targeted subset selection or retrieval-quality audits).

Plan shape — columnar, not posting-list: the query is a small literal
term set, so per-term tf becomes a map-side array expression per
document (``size(filter(tokens, x = term))``) — no (doc, term) explode,
no doc-keyed join.  Corpus statistics (N, avgdl, per-term df) reduce to
ONE global aggregation row, broadcast back, and the score is pure
arithmetic over the broadcast row.  Total: two corpus scans (stats +
scoring), one combine-reduced exchange, one 1-row broadcast — survives
an arbitrary corpus size.  (A posting-list formulation only wins when
the query has thousands of terms; for probe queries the columnar form
avoids shuffling O(tokens) rows entirely.)

Formula (Robertson/Sparck-Jones idf, the Lucene variant — always
positive): idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); score(d) =
sum over query terms of idf * tf*(k1+1) / (tf + k1*(1 - b + b*|d|/avgdl)).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: tokenizer shared with the DuckDB oracle (plans/registry_llm_stream.py):
#: lowercase, split on non-alphanumeric runs, drop empties
_TOKEN_SPLIT = "[^a-z0-9]+"


def _per_doc_tf(df: DataFrame, terms: list[str],
                text_col: str, id_col: str) -> DataFrame:
    """(id, doclen, __tf0..__tfN): token count per query term and total
    document length, all map-side array expressions — no explode."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT),
                    lambda x: x != F.lit(""))
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.size("__toks").alias("doclen"),
            *[F.size(F.filter("__toks", lambda x: x == F.lit(t)))
              .alias(f"__tf{i}") for i, t in enumerate(terms)],
        )
    )


def bm25_scores(df: DataFrame, query_terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75,
                round_to: int = 4) -> DataFrame:
    """(id, score, n_terms) for every document matching at least one
    query term; ``n_terms`` is how many distinct query terms hit."""
    terms = sorted({t.lower() for t in query_terms})
    per_doc = _per_doc_tf(df, terms, text_col, id_col)
    # corpus stats in ONE row: N, avgdl (over docs with >=1 token, which
    # is what a (doc, term) posting aggregation would see), df per term
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.when(F.col("doclen") > 0, F.col("doclen"))).alias("avgdl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
          for i in range(len(terms))],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    idf = [F.log(F.lit(1.0) + (F.col("n") - F.col(f"__df{i}") + 0.5)
                 / (F.col(f"__df{i}") + 0.5)) for i in range(len(terms))]
    w = [idf[i] * F.col(f"__tf{i}") * (k1 + 1.0)
         / (F.col(f"__tf{i}") + k1 * (1.0 - b + b * F.col("doclen") / F.col("avgdl")))
         for i in range(len(terms))]
    hits = sum((F.col(f"__tf{i}") > 0).cast("long") for i in range(len(terms)))
    score = sum(F.when(F.col(f"__tf{i}") > 0, w[i]).otherwise(F.lit(0.0))
                for i in range(len(terms)))
    return (
        scored.withColumn("n_terms", hits)
        .filter(F.col("n_terms") > 0)
        .select(F.col(id_col), F.round(score, round_to).alias("score"),
                "n_terms")
    )


def bm25_topk(df: DataFrame, query_terms: list[str], k: int,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Global top-k by BM25 score, deterministically tie-broken by id —
    orderBy+limit, which Spark executes as per-partition TakeOrdered
    (no full sort shuffle)."""
    scored = bm25_scores(df, query_terms, text_col, id_col, k1, b)
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    )
