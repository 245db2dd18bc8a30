"""LLM registry part 3: graph algorithms, text statistics, sampling,
sketches, trainers, arrow-native and late streaming surfaces (formerly
registry_llm.py lines 2617-4431).  Pure mechanical move — see part 1's
docstring for the split contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from aws_etl_bank_spark.plans.registry import _scratch_run, q  # noqa: F401
from aws_etl_bank_spark.sources.testdata import (  # noqa: F401
    events_stream, load_table)
from aws_etl_bank_spark.plans.registry_llm_corpus import (  # noqa: F401
    _planted_corpus)
from aws_etl_bank_spark.plans.registry_llm_stream import (  # noqa: F401
    _events_stream_dir)


@q("graph_pagerank", """
WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS s
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
ed AS (SELECT c AS src, s AS dst FROM e UNION ALL SELECT s AS src, c AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS d FROM ed GROUP BY src),
nn AS (SELECT COUNT(*) AS cnt FROM deg),
p0 AS (SELECT src AS id, 1.0 / (SELECT cnt FROM nn) AS pr FROM deg),
p1 AS (SELECT ed.dst AS id,
              0.15 / (SELECT cnt FROM nn) + 0.85 * SUM(p0.pr / deg.d) AS pr
       FROM ed JOIN p0 ON p0.id = ed.src JOIN deg ON deg.src = ed.src
       GROUP BY ed.dst),
p2 AS (SELECT ed.dst AS id,
              0.15 / (SELECT cnt FROM nn) + 0.85 * SUM(p1.pr / deg.d) AS pr
       FROM ed JOIN p1 ON p1.id = ed.src JOIN deg ON deg.src = ed.src
       GROUP BY ed.dst),
p3 AS (SELECT ed.dst AS id,
              0.15 / (SELECT cnt FROM nn) + 0.85 * SUM(p2.pr / deg.d) AS pr
       FROM ed JOIN p2 ON p2.id = ed.src JOIN deg ON deg.src = ed.src
       GROUP BY ed.dst)
SELECT CAST(id AS BIGINT) AS id, ROUND(pr, 6) AS pagerank FROM p3""")
def graph_pagerank(spark, sf_dir):
    """PageRank (functions/graph.py), 3 power-method rounds at d=0.85
    over the symmetrized customer–supplier purchase graph (every node
    then has out-degree ≥ 1, so no dangling mass).  The oracle unrolls
    the identical recurrence as three chained SQL aggregations; scores
    round to 6 decimals so summation order cannot flip the compare.
    The iterative-algorithm primitive alongside connected components:
    driver-side loop control only, one edges⋈ranks shuffle per round,
    lineage truncated per round via localCheckpoint."""
    from aws_etl_bank_spark.functions.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (o.join(li, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("c"),
                     (F.col("l_suppkey") + 1000000).alias("s"))
             .distinct())
    edges = pairs.selectExpr("c as src", "s as dst").unionAll(
        pairs.selectExpr("s as src", "c as dst"))
    # pairs is distinct and the two union arms have disjoint src ranges,
    # so edges is distinct by construction; 1.6k nodes broadcast freely
    return pagerank(edges, assume_distinct=True, broadcast_ranks=True,
                    symmetric=True).select(
        F.col("id").cast("long").alias("id"),
        F.round("pagerank", 6).alias("pagerank"))


@q("text_unigram_logprob", """
WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
v AS (SELECT w, COUNT(*) AS c FROM wd GROUP BY w),
t AS (SELECT SUM(c) AS tot FROM v)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       ROUND(AVG(-ln(v.c / (SELECT tot FROM t))), 6) AS avg_neg_logp
FROM wd JOIN v USING (w) GROUP BY doc_id""")
def text_unigram_logprob(spark, sf_dir):
    """Self-fitted unigram LM scoring (llm/text.py unigram_logprob):
    the corpus-frequency quality proxy used by CCNet-style filters —
    two hash-aggs plus one words⋈vocab equi-join, no Python in the
    path.  Oracle repeats the identical model in SQL."""
    from aws_etl_bank_spark.llm.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@q("text_hash_split", """
SELECT doc_id,
       CASE WHEN (((doc_id % 97 + 97) % 97) * 12) % 97 < 80 THEN 'train'
            WHEN (((doc_id % 97 + 97) % 97) * 12) % 97 < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang
FROM documents""")
def text_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (llm/text.py hash_split):
    membership is a pure function of doc_id — stable across reruns,
    partitionings and engines (the oracle recomputes the identical
    multiplicative-hash buckets).  Map-only, zero shuffles."""
    from aws_etl_bank_spark.llm.text import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split", "lang")


@q("dedup_minhash_incremental", """
SELECT d.doc_id + 1000000 AS batch_id, c.doc_id AS corpus_id
FROM documents d JOIN documents c ON d.text = c.text
WHERE d.doc_id % 20 = 0""")
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash dedup (llm/dedup.py minhash_band_index +
    minhash_incremental_matches): the corpus is indexed ONCE into
    (id, band, band_hash) rows; a new batch (exact copies of every 20th
    document under fresh ids) is hashed O(batch) and banded-joined
    against the stored index — the daily-ingest shape that never
    re-hashes history.  Projection to the identical-text matches must
    equal DuckDB's batch⋈corpus text-equality join exactly: an exact
    twin collides in EVERY band, so a missing row is a recall bug."""
    from aws_etl_bank_spark.llm.dedup import (minhash_band_index,
                                              minhash_incremental_matches)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = minhash_band_index(docs, "text", "doc_id")
    batch = (docs.filter(F.col("doc_id") % 20 == 0)
             .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    matches = minhash_incremental_matches(batch, index)
    bt = batch.select(F.col("doc_id").alias("batch_id"),
                      F.col("text").alias("__bt"))
    ct = docs.select(F.col("doc_id").alias("corpus_id"),
                     F.col("text").alias("__ct"))
    return (matches.join(bt, "batch_id").join(ct, "corpus_id")
            .where(F.col("__bt") == F.col("__ct"))
            .select("batch_id", "corpus_id"))


@q("stream_incremental_dedup", """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM corpus GROUP BY text""")
def stream_incremental_dedup(spark, sf_dir):
    """Streaming ingest dedup (streaming/incremental_dedup.py): the
    PLANTED corpus (documents ∪ exact copies of every 20th doc at
    +1M ids — the copies' id range puts them in the LAST feed file, so
    every duplicate crosses a batch boundary) replayed as a 3-file
    id-ordered stream; each micro-batch dedups within itself, then
    against the kept corpus via the persisted MinHash band index
    (candidates by banding, acceptance by exact text equality),
    survivors extend corpus + index.  With an id-ordered feed the final
    kept set provably equals batch-global exact dedup with
    lowest-id-wins — the oracle, which the copies make non-trivial
    (all 25 must be rejected by the cross-batch index join)."""
    from aws_etl_bank_spark.plans.registry import _scratch
    from aws_etl_bank_spark.streaming.incremental_dedup import (
        stream_dedup_against_index)

    from aws_etl_bank_spark.sources.testdata import write_ordered_feed

    docs = _planted_corpus(spark, sf_dir)
    import os as _os
    # id-ordered replay is what lowest-id-wins needs (shared helper
    # stamps the range files' mtimes — the file source replays in
    # modification-time order)
    feed_dir = write_ordered_feed(
        docs, _scratch(sf_dir, "dedup_feed_planted"), 3, ["doc_id"],
        src_path=_os.path.realpath(
            _os.path.join(sf_dir, "documents.parquet")))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed_dir))
    kept = stream_dedup_against_index(
        stream, _scratch_run(sf_dir, "dedup_state"),
        checkpoint=_scratch_run(sf_dir, "dedup_ckpt"))
    return kept.select(F.col("doc_id").cast("long"))


@q("infer_embed_texts", """
SELECT doc_id, CAST(64 AS INT) AS dim, CAST(1.0 AS DOUBLE) AS norm
FROM documents""")
def infer_embed_texts(spark, sf_dir):
    """Batched embedding inference plumbing (llm/inference.py
    embed_texts): the corpus through Arrow-batched mapInPandas with the
    deterministic stand-in encoder.  The oracle pins what IS provable
    end-to-end: one vector per document, the declared dimensionality,
    and unit L2 norm COMPUTED FROM the produced vectors JVM-side — so a
    broken batch boundary, dropped row, or skipped normalization fails
    the row/value compare.  Vector determinism (same text ⇒ same
    vector, any partitioning) is pinned in tests/test_llm.py."""
    from aws_etl_bank_spark.llm.inference import embed_texts

    docs = load_table(spark, sf_dir, "documents")
    emb = embed_texts(docs, dim=64, n_workers=8)
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0),
                              lambda a, x: a + x * x))
    return emb.select("doc_id", F.size("embedding").alias("dim"),
                      F.round(norm, 6).cast("double").alias("norm"))


@q("grouped_map_normalize", """
SELECT event_id, user_id,
       ROUND(CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.5
                  ELSE (value - MIN(value) OVER w)
                       / (MAX(value) OVER w - MIN(value) OVER w) END,
             6) AS value_norm
FROM events
WINDOW w AS (PARTITION BY user_id)""")
def grouped_map_normalize(spark, sf_dir):
    """Grouped-map Pandas path (applyInPandas) proven against a SQL
    oracle: per-user min-max normalization computed INSIDE an Arrow
    batch per group, compared to the pure-window form DuckDB runs.
    This is the template for per-group Python that built-ins genuinely
    cannot express (model scoring, scipy fits): one shuffle on the
    group key, whole groups as pandas frames, vectorized numpy inside.
    For normalization itself the window form is the better plan — the
    entry exists to pin the Arrow path's correctness, not to recommend
    Python for this job (the docstringed rule: built-ins first)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["value"].min(), pdf["value"].max()
        return pd.DataFrame({
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "value_norm": (0.5 if hi == lo
                           else (pdf["value"] - lo) / (hi - lo)),
        })

    # round SPARK-side, not in pandas: numpy's round is half-EVEN while
    # Spark/DuckDB ROUND is half-up, and normalized values land exactly
    # on .5 boundaries often enough to flip the compare (seen at sf1:
    # 0.2890625 → 0.289062 vs 0.289063)
    return (ev.select("event_id", "user_id", "value")
            .groupBy("user_id")
            .applyInPandas(norm, schema="event_id long, user_id long, "
                                        "value_norm double")
            .select("event_id", "user_id",
                    F.round("value_norm", 6).alias("value_norm")))


@q("llm_dsir_select", """
WITH rw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tw AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'zh'),
rc AS (SELECT w, count(*) AS cr FROM rw GROUP BY w),
tc AS (SELECT w, count(*) AS ct FROM tw GROUP BY w),
vocab AS (SELECT coalesce(rc.w, tc.w) AS w, coalesce(cr, 0) AS cr,
                 coalesce(ct, 0) AS ct
          FROM rc FULL OUTER JOIN tc ON rc.w = tc.w),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM vocab),
lr AS (SELECT w, ln((ct + 1.0) / (nt + 1.0 * v))
              - ln((cr + 1.0) / (nr + 1.0 * v)) AS lr
       FROM vocab, tot),
dw AS (SELECT doc_id, round(sum(lr), 4) + 0 AS log_weight,
              count(*) AS n_words
       FROM rw JOIN lr USING (w) GROUP BY doc_id)
SELECT doc_id, log_weight, n_words,
       round(log_weight - ln(-ln(
           ((((doc_id % 1000003 + 1000003) % 1000003) * 427799) % 1000003
            + 0.5) / 1000003.0)), 4) + 0 AS score
FROM dw ORDER BY score DESC, doc_id LIMIT 50""")
def llm_dsir_select(spark, sf_dir):
    """DSIR data selection (llm/text.py dsir_select): pick the 50 raw
    docs whose word distribution best matches a zh-language target
    corpus, by Gumbel-top-k over smoothed unigram log-likelihood
    ratios.  The Gumbel noise is a deterministic Knuth-hash function of
    doc_id, so the DuckDB oracle reproduces the SELECTION, not just the
    weights — an engine that mis-smooths, drops vocab on the outer
    join, or perturbs nondeterministically fails the hash compare."""
    from aws_etl_bank_spark.llm import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    return dsir_select(docs, docs.filter(F.col("lang") == "zh"),
                       "text", "doc_id", k=50)


@q("dedup_substring_spans", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
ps AS (
  SELECT doc_id, unnest(range(1, len(words) - 6)) AS pos, words
  FROM w WHERE len(words) >= 8
),
pos_sh AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         array_to_string(words[CAST(pos AS INT):CAST(pos + 7 AS INT)], ' ') AS s
  FROM ps
),
ok AS (SELECT s FROM pos_sh GROUP BY s HAVING count(*) <= 64),
m AS (
  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b, b.pos AS pos_b
  FROM pos_sh a JOIN ok USING (s) JOIN pos_sh b USING (s)
  WHERE a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b, pos_a, pos_b,
         pos_a - row_number() OVER (
             PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
  FROM m
)
SELECT id_a, id_b,
       CAST(min(pos_a) AS INT) AS start_a,
       CAST(min(pos_b) AS INT) AS start_b,
       CAST(max(pos_a) - min(pos_a) + 8 AS INT) AS span_tokens
FROM isl GROUP BY id_a, id_b, pos_a - pos_b, grp""")
def dedup_substring_spans(spark, sf_dir):
    """Substring-level dedup (llm/dedup.py substring_span_pairs): every
    maximal duplicated run of >= 8 word tokens across document pairs —
    the Lee et al. 2022 passage-dedup that doc-level MinHash misses.
    Engine joins positioned shingles on their 64-bit hash (the shuffle
    never carries text); the oracle joins on the shingle TEXT, so a
    hash collision or any positioning/merge bug fails the compare."""
    from aws_etl_bank_spark.llm import substring_span_pairs

    docs = load_table(spark, sf_dir, "documents")
    return substring_span_pairs(docs, "text", "doc_id", k=8,
                                max_shingle_occurrences=64)


@q("text_bigram_logprob", """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (
  SELECT doc_id, l[CAST(i AS INT)] AS w1, l[CAST(i + 1 AS INT)] AS w2
  FROM (SELECT doc_id, unnest(range(1, len(l))) AS i, l
        FROM tk WHERE len(l) >= 2)
),
bi AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
pfx AS (SELECT w1, sum(cb) AS cp FROM bi GROUP BY w1),
wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, count(*) AS cu FROM wd GROUP BY w),
t AS (SELECT sum(cu) AS tot FROM uni)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       -- (1 - 0.7) not literal 0.3: the engine computes 1.0-lam in IEEE
       -- doubles (0.30000000000000004); a 0.3 literal differs in the
       -- last ulp — invisible at ROUND(,6) but a needless hazard for
       -- the sf1 decade audit's tighter magnitudes
       ROUND(AVG(-ln(0.7 * (bi.cb / CAST(pfx.cp AS DOUBLE))
                     + (1 - 0.7) * (uni.cu / CAST((SELECT tot FROM t) AS DOUBLE)))),
             6) AS avg_neg_logp
FROM bg JOIN bi USING (w1, w2) JOIN pfx USING (w1)
        JOIN uni ON uni.w = bg.w2
GROUP BY doc_id""")
def text_bigram_logprob(spark, sf_dir):
    """Interpolated bigram LM scoring (llm/text.py bigram_logprob):
    the KenLM-style perplexity quality proxy one order above
    text_unigram_logprob — p(w2|w1) = 0.7·c(w1w2)/c_prefix(w1) +
    0.3·c(w2)/total, self-fitted on the corpus.  Bigrams are built
    map-only from the token array (no window, no self-join); the
    oracle repeats the identical model in SQL, so smoothing weights,
    prefix normalization, and the natural-log base are all pinned."""
    from aws_etl_bank_spark.llm.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, lam=0.7)


@q("text_tfidf_topterms", r"""
WITH wd AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wd GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS dfn FROM tf GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM documents),
s AS (SELECT doc_id, term, tf,
             tf * (ln((n + 1.0) / (dfn + 1.0)) + 1.0) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN nn),
r AS (SELECT doc_id, term, tf, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rnk
      FROM s)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, ROUND(score, 6) AS score,
       CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 3""")
def text_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (llm/text.py tfidf_top_terms):
    smoothed sklearn-style idf, deterministic (score desc, term asc)
    cut.  Three bounded hash-aggs — per-(doc,term) tf, per-term df OVER
    THE TF ROWS, one-row broadcast doc count — and a per-doc window;
    no global sort, no UDF.  The oracle replays the identical model."""
    from aws_etl_bank_spark.llm.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_n=3)


@q("text_vocab_coverage", r"""
WITH wd AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents),
v AS (SELECT term, COUNT(*) AS cnt FROM wd GROUP BY 1),
t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM v),
top AS (SELECT term, cnt FROM v ORDER BY cnt DESC, term LIMIT 50),
r AS (SELECT term, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS rnk,
             SUM(cnt) OVER (ORDER BY cnt DESC, term
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM top)
SELECT rnk, term, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cum AS DOUBLE) / tot, 6) AS cum_frac
FROM r CROSS JOIN t""")
def text_vocab_coverage(spark, sf_dir):
    """Zipf head of the corpus vocabulary (llm/text.py vocab_coverage):
    top-50 tokens with rank and CUMULATIVE share of all token
    occurrences — the curve a vocab/tokenizer builder reads.  One
    map-side-combined hash-agg (bounded by distinct terms) + TakeOrdered
    top-k + a k-row cumulative window; the total crosses as a one-row
    broadcast."""
    from aws_etl_bank_spark.llm.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    out = vocab_coverage(docs, top_k=50)
    return out.withColumnRenamed("rank", "rnk")


@q("embed_quantize_int8", """
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
c AS (SELECT vec_id, v, mx,
        CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
             ELSE list_transform(v, x -> CAST(least(greatest(
                    floor(x * 127.0 / mx + 0.5), -127), 127) AS BIGINT))
        END AS codes,
        CASE WHEN mx = 0 THEN 0.0
             ELSE list_max(list_transform(v, x -> abs(x - least(greatest(
                    floor(x * 127.0 / mx + 0.5), -127), 127) * mx / 127.0)))
        END AS max_err
      FROM m)
SELECT vec_id, CAST(len(v) AS INT) AS n_dim, ROUND(mx, 6) AS scale,
       array_to_string(codes, ',') AS codes_csv, ROUND(max_err, 6) AS max_err
FROM c""")
def embed_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding table
    (llm/similarity.py quantize_int8): 4× smaller vectors for the ANN
    index, with the per-vector max reconstruction error emitted beside
    the codes.  floor(+0.5) rounding — not an engine round() — because
    half-tie conventions differ between engines while floor is exact
    IEEE everywhere; that is what lets the oracle pin every code and
    every error to the digit.  Map-only built-in array expressions:
    zero shuffles, no UDF, scales embarrassingly.  The half-step error
    bound (max_err <= scale/254 + ulp) is pinned in tests."""
    from aws_etl_bank_spark.llm.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "embedding", "vec_id")
    return out.select(
        "vec_id", "n_dim", "scale",
        F.concat_ws(",", F.col("codes")).alias("codes_csv"), "max_err")


@q("dedup_ngram_containment", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(words) >= 3 THEN
      list_distinct([array_to_string(words[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                     for i in range(1, len(words) - 1)])
    ELSE [array_to_string(words, ' ')] END) AS s
  FROM w
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
directed AS (
  SELECT id_a AS src, id_b AS dst, n_common FROM common
  UNION ALL
  SELECT id_b AS src, id_a AS dst, n_common FROM common)
SELECT src, dst, CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common / CAST(sz AS DOUBLE) + 0.000000001, 4) AS containment
FROM directed JOIN sizes ON sizes.doc_id = directed.src
WHERE n_common / CAST(sz AS DOUBLE) >= 0.8""")
def dedup_ngram_containment(spark, sf_dir):
    """DIRECTIONAL n-gram containment dedup (llm/dedup.py
    ngram_containment_pairs): |sh(src) ∩ sh(dst)| / |sh(src)| ≥ 0.8 —
    Broder's asymmetric resemblance, catching the short-doc-pasted-in-
    long-doc subset duplication that Jaccard's union denominator hides.
    Same one-parse postings plan as dedup_ngram_jaccard (sorted posting
    list per shingle, two-level explode, hub-df cut); each unordered
    pair emits up to two directional rows at zero extra join cost."""
    from aws_etl_bank_spark.llm.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, "text", "doc_id",
                                   shingle_n=3, threshold=0.8)


@q("mix_temperature_weights", """
WITH per AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n
             FROM documents GROUP BY lang),
t AS (SELECT SUM(n) AS tot FROM per),
p AS (SELECT lang, n, n / tot AS p FROM per CROSS JOIN t),
z AS (SELECT SUM(pow(p, 0.7)) AS z FROM p)
SELECT lang, CAST(n AS BIGINT) AS n, ROUND(p, 6) AS p,
       ROUND(pow(p, 0.7) / z, 6) AS w,
       ROUND(pow(p, 0.7) / z / p, 4) AS upsample
FROM p CROSS JOIN z""")
def mix_temperature_weights(spark, sf_dir):
    """Temperature-scaled language-mixing weights (llm/text.py
    temperature_mix_weights, α=0.7 — the XLM/mT5 convention): p^α
    renormalized upsamples tail languages relative to raw proportions;
    the ``upsample`` column is the effective per-language multiplier a
    sampler applies.  Two bounded aggs + two one-row broadcasts —
    nothing scales with the corpus.  The deterministic-weights
    complement of the stochastic token_budget_mix/upsample entries."""
    from aws_etl_bank_spark.llm.text import temperature_mix_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_weights(docs, "lang", alpha=0.7)


@q("embed_dim_variance", """
WITH xs AS (
  SELECT i.i AS dim, CAST(embedding[CAST(i.i + 1 AS INT)] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(0, 64) i(i)),
st AS (
  SELECT dim, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS s2
  FROM xs GROUP BY dim)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       ROUND((s2 - s * s / n) / (n - 1), 6) AS var
FROM st ORDER BY (s2 - s * s / n) / (n - 1) DESC, dim LIMIT 8""")
def embed_dim_variance(spark, sf_dir):
    """Variance-based embedding-dimension selection (llm/similarity.py
    dim_variance_select): the top-8 highest-variance of the 64
    dimensions — the cheapest honest dimensionality reduction (drop
    near-constant dims before they waste ANN index space).  Variance
    uses explicit sufficient statistics (Σx, Σx², n) rather than an
    engine var_samp whose streaming update algorithms differ across
    engines; posexplode → ONE map-side-combined hash-agg to 64 rows →
    TakeOrdered."""
    from aws_etl_bank_spark.llm.similarity import dim_variance_select

    emb = load_table(spark, sf_dir, "embeddings")
    return dim_variance_select(emb, dim=64, top_n=8)


@q("ann_lsh_planted_twin", """
SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
       CAST(1 AS BIGINT) AS rank, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 5""")
def ann_lsh_planted_twin(spark, sf_dir):
    """Oracle-checked projection of random-hyperplane LSH ANN
    (llm/similarity.py lsh_cosine_topk) — the third ANN family beside
    IVF (ann_ivf_planted_twin) and PQ (ann_pq_planted_twin), needing no
    training pass: ±1 hyperplanes from the bounded Knuth hash are
    compiled in as literal arrays (the PQ-codebook pattern), sign-bit
    buckets shuffle only (id, band, bucket) rows, candidates rerank by
    exact cosine.  An exact twin of each query shares EVERY band bucket
    by construction and no organic pair in this embedding set exceeds
    cosine ~0.51, so top-1 must be the twin at cosine 1.0 — the recall
    property a rows-only entry cannot prove to the driver."""
    from aws_etl_bank_spark.llm.similarity import lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twins)
    return lsh_cosine_topk(corpus, queries, k=1, dim=64,
                           n_planes=16, bands=2)


@q("text_decontaminate_bloom", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
s AS (
  SELECT doc_id, unnest(
    CASE WHEN len(words) >= 3 THEN
      list_distinct([array_to_string(words[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                     for i in range(1, len(words) - 1)])
    ELSE [array_to_string(words, ' ')] END) AS sh
  FROM w
),
bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0),
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
m AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_matched
      FROM s JOIN bench USING (sh) GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(n_matched, 0) AS n_matched_ngrams,
       COALESCE(round(n_matched / CAST(sz AS DOUBLE) + 0.000000001, 4), 0.0) AS matched_frac,
       COALESCE(round(n_matched / CAST(sz AS DOUBLE) + 0.000000001, 4), 0.0) >= 0.5 AS contaminated
FROM documents d
JOIN sizes USING (doc_id)
LEFT JOIN m USING (doc_id)""")
def text_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination (llm/dedup.py
    decontaminate_bloom): the corpus's shingles are screened against a
    ≤32 KiB Bloom bitmap of the benchmark's shingles BEFORE the exact
    join — the shape for a benchmark too big to broadcast as rows
    (its bitmap never is).  No false negatives, and the exact join
    removes false positives, so the output — and therefore the oracle —
    is byte-identical to the unfiltered text_decontaminate: what this
    entry proves is that the prefilter changes the plan, not the
    answer (the string sibling of join_bloom_prefilter)."""
    from aws_etl_bank_spark.llm.dedup import decontaminate_bloom

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_bloom(docs, bench, shingle_n=3,
                               frac_threshold=0.5).select(
        "doc_id", "n_matched_ngrams", "matched_frac", "contaminated")


@q("stream_quantile_sketch", """
WITH h AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 2.0), 0), 249) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1),
c AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin) AS cum,
         SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before,
         SUM(cnt) OVER () AS n
  FROM h),
qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q),
probe AS (
  SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS r,
         bin, cnt, cum, cum_before
  FROM qs CROSS JOIN c)
SELECT q, r, bin,
       ROUND(0.0 + 2.0 * (bin + (r - cum_before) / CAST(cnt AS DOUBLE)), 6) AS est
FROM probe WHERE cum >= r AND cum_before < r""")
def stream_quantile_sketch(spark, sf_dir):
    """Streaming quantile rollup via the MERGEABLE binned sketch
    (functions/scale.py): each micro-batch of the event stream builds
    its own ≤250-row histogram; cross-batch state is the SUM of bins —
    never the raw values — and the final estimates are read off the
    merged sketch.  Because merge-equals-direct is exact (pinned in
    tests/test_scale.py), the streamed result equals the batch
    computation to the digit, which is what the shared oracle with
    sketch_quantile_binned checks.  THE mergeable-sketch streaming
    story: per-day/per-batch sketches roll up without re-touching
    history (an exact percentile would re-sort everything per batch)."""
    import pyspark.sql.types as T

    from aws_etl_bank_spark.functions.scale import (quantile_estimate,
                                                    quantile_merge)
    from aws_etl_bank_spark.functions.scale import quantile_sketch as qsk
    from aws_etl_bank_spark.streaming import for_each_batch

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    collected: list = []

    def handle(batch_df, batch_id):
        rows = qsk(batch_df, "value", 0.0, 500.0, n_bins=250).collect()
        collected.extend([(r["bin"], r["cnt"]) for r in rows])

    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "qsk_ckpt"),
        "availableNow": True,
    })
    schema = T.StructType([T.StructField("bin", T.LongType()),
                           T.StructField("cnt", T.LongType())])
    merged = quantile_merge(spark.createDataFrame(collected, schema))
    return quantile_estimate(merged, [0.1, 0.5, 0.9, 0.99],
                             0.0, 500.0, n_bins=250)


@q("graph_degree_distribution", """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT c AS node FROM pairs UNION ALL SELECT s AS node FROM pairs)
  GROUP BY node)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree""")
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the customer–supplier purchase graph (the
    same distinct-edge construction as graph_pagerank): two hash-aggs —
    per-node degree (map-side combined), then nodes per degree — the
    first thing to read before ANY graph algorithm at 100 TB, because
    the max-degree tail IS the skew/hub forecast for CC's and
    PageRank's joins (and for every posting-list dedup op: same hub
    hazard, same cut decision)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (o.join(li, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("c"),
                     (F.col("l_suppkey") + 1_000_000).alias("s"))
             .distinct())
    nodes = (pairs.select(F.col("c").alias("node"))
             .unionAll(pairs.select(F.col("s").alias("node"))))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.col("degree").cast("long"),
                    F.col("n_nodes").cast("long")))


@q("sample_bottomk_hash", """
WITH h AS (
  SELECT doc_id, lang,
         (((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000003 AS hk
  FROM documents)
SELECT doc_id, lang FROM h ORDER BY hk, doc_id LIMIT 200""")
def sample_bottomk_hash(spark, sf_dir):
    """Deterministic uniform-without-replacement k-sample via bottom-k
    of the Knuth multiplicative hash (the llm/text.py hash_split
    family): "give me 200 representative docs" as a TakeOrdered over
    the hash — no global sort, no RNG state, reproducible across
    engines/retries/partitionings, and STABLE under corpus growth (a
    doc's hash never changes, so samples only churn at the k-th-hash
    boundary — the property a debugging/eval sample wants, which
    rand()-based sampling lacks).  The bounded-intermediate form
    (pmod before multiply) never overflows int64."""
    docs = load_table(spark, sf_dir, "documents")
    hk = F.pmod(F.pmod(F.col("doc_id").cast("long"), F.lit(1000003))
                * F.lit(2654435761 % 1000003), F.lit(1000003))
    return (docs.select("doc_id", "lang", hk.alias("__hk"))
            .orderBy("__hk", "doc_id").limit(200)
            .select("doc_id", "lang"))


@q("graph_triangle_count", """
WITH ks AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
            WHERE c_custkey % 7 <> 0),
band AS (
  SELECT x.k AS a, y.k AS b FROM ks x JOIN ks y ON y.k = x.k + 1
  UNION ALL
  SELECT x.k AS a, y.k AS b FROM ks x JOIN ks y ON y.k = x.k + 2),
hub AS (SELECT CAST(0 AS BIGINT) AS a, k AS b FROM ks WHERE k % 3 <= 1),
e AS (SELECT a, b FROM band UNION ALL SELECT a, b FROM hub),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT n FROM
        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e))) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles""")
def graph_triangle_count(spark, sf_dir):
    """Exact triangle counting by degree orientation
    (functions/graph.py:triangle_count) over a deterministic fixture
    with a PLANTED HUB: a banded graph on customer keys (edges k—k+1,
    k—k+2 over keys with k%7≠0, giving closed band triangles) plus a
    hub node 0 adjacent to two-thirds of all nodes.  The hub is the
    point: naive wedge enumeration would generate deg(hub)² ≈ (2N/3)²
    wedges — the quadratic blowup that kills co-occurrence joins at
    100 TB — while degree orientation points every hub edge INTO the
    hub so it generates zero wedges and its triangles are found from
    their low-degree corners (Σ outdeg² ≤ O(m^1.5) on ANY graph).  The
    oracle counts the same triangles by a canonical x<y<z three-way
    self-join, orientation-free — so the check is of the counting
    semantics, not a replay of the plan."""
    from aws_etl_bank_spark.functions.graph import triangle_count

    ks = (load_table(spark, sf_dir, "customer")
          .select(F.col("c_custkey").cast("long").alias("k"))
          .filter(F.col("k") % 7 != 0))
    b1 = (ks.alias("x").join(ks.alias("y"),
                             F.col("y.k") == F.col("x.k") + 1)
          .select(F.col("x.k").alias("a"), F.col("y.k").alias("b")))
    b2 = (ks.alias("x").join(ks.alias("y"),
                             F.col("y.k") == F.col("x.k") + 2)
          .select(F.col("x.k").alias("a"), F.col("y.k").alias("b")))
    hub = (ks.filter(F.col("k") % 3 <= 1)
           .select(F.lit(0).cast("long").alias("a"), F.col("k").alias("b")))
    return triangle_count(b1.unionAll(b2).unionAll(hub))


@q("sample_weighted_priority", """
WITH h AS (
  SELECT o_orderkey, o_totalprice,
         (((o_orderkey % 1000003 + 1000003) % 1000003) * 2654435761)
           % 1000003 + 1 AS hk,
         GREATEST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT), 1) AS w
  FROM orders)
SELECT o_orderkey, o_totalprice
FROM h
ORDER BY CAST(hk AS DOUBLE) / CAST(w AS DOUBLE), o_orderkey
LIMIT 100""")
def sample_weighted_priority(spark, sf_dir):
    """Deterministic weighted priority sample, k=100 orders with
    inclusion biased toward high ``o_totalprice``: priority =
    hash(key)/weight, keep the bottom-k (the exponential-clocks /
    PPSWOR shape of Efraimidis–Espirakis sampling with the uniform
    draw replaced by the corpus-stable Knuth hash of
    sample_bottomk_hash).  Same scale posture as bottom-k: a
    TakeOrdered, never a global sort; reproducible across engines,
    retries and repartitionings; stable under corpus growth.
    Cross-engine exactness by construction: hash and weight are pure
    int64 arithmetic (floor(x·100+0.5) cents, never engine round()
    half-ties) and the only float op is ONE IEEE-exact division —
    no libm (ln/pow) in the ranking key, so both engines compute
    bit-identical priorities."""
    o = load_table(spark, sf_dir, "orders")
    hk = (F.pmod(F.pmod(F.col("o_orderkey").cast("long"), F.lit(1000003))
                 * F.lit(2654435761 % 1000003), F.lit(1000003)) + 1)
    w = F.greatest(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"),
                   F.lit(1))
    pr = hk.cast("double") / w.cast("double")
    return (o.select("o_orderkey", "o_totalprice", pr.alias("__pr"))
            .orderBy("__pr", "o_orderkey").limit(100)
            .select("o_orderkey", "o_totalprice"))


def _feature_hash_oracle(n: int = 16) -> str:
    cols = ",\n  ".join(
        f"CAST(SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}"
        for i in range(n))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents),
tb AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % {n} AS b
  FROM tok WHERE tok <> '')
SELECT doc_id,
  {cols}
FROM tb GROUP BY doc_id"""


@q("feature_hash_text", _feature_hash_oracle())
def feature_hash_text(spark, sf_dir):
    """Hashing-trick bag-of-words featurization over the corpus
    (llm/text.py:feature_hash) — 16 hashed count features per doc,
    no global vocabulary (see the function docstring for why that is
    the 100 TB-shaped choice).  Cross-engine check: the md5-top-60-bit
    bucket is bit-identical in Spark (conv(substring(md5,1,15),16,10))
    and DuckDB (CAST('0x'||substr(md5,1,15) AS BIGINT)), proven here
    over every token of every document."""
    from aws_etl_bank_spark.llm.text import feature_hash

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash(docs, "text", "doc_id", n_features=16)


@q("scale_heavy_hitters", """
WITH kk AS (
  SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_custkey % 10
              ELSE o_custkey + 1000000 END AS key
  FROM orders)
SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt
FROM kk GROUP BY key ORDER BY cnt DESC, key LIMIT 10""")
def scale_heavy_hitters(spark, sf_dir):
    """Exact top-10 heavy hitters via per-partition Misra–Gries
    candidate pruning (functions/scale.py:heavy_hitters_topk) on a
    PLANTED power-law key: a third of all orders collapse onto 10 hub
    keys (each ≈ N/30 ≫ the N/128 MG guarantee threshold), the rest
    stay near-unique — the cardinality profile where a plain
    groupBy-then-top-k shuffles billions of singleton keys to find ten
    hubs.  The MG pass emits ≤ 128 candidates per partition, the exact
    recount groups only candidate rows, and the oracle recomputes true
    top-10 by brute force — checking both the candidate-completeness
    guarantee and the exact counts."""
    from aws_etl_bank_spark.functions.scale import heavy_hitters_topk

    o = load_table(spark, sf_dir, "orders")
    kk = o.select(
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_custkey") % 10)
        .otherwise(F.col("o_custkey") + 1_000_000).alias("key"))
    return heavy_hitters_topk(kk, "key", k=10, counters=128)


@q("embed_pca_planted_axis", """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n,
       CAST(64 AS BIGINT) AS dim,
       CAST(1 AS INTEGER) AS aligned,
       CAST(1 AS INTEGER) AS dominant""")
def embed_pca_planted_axis(spark, sf_dir):
    """Distributed PCA, planted-axis check (the planted-twin oracle
    convention of the ANN family): each embedding is shifted ±2 along
    the unit direction u = 1/8·(1,…,1) by vec_id parity, planting a
    variance-4 component that dwarfs the data's own spectrum; the top
    principal component recovered by llm/decompose.py:pca_top_component
    (per-partition Gram partials via one Arrow pass — executors ship
    d+d² doubles PER PARTITION, never per row — then an O(d³) driver
    eigensolve) must align with u (|cos| ≥ 0.99) and carry ≥ half the
    total variance.  The oracle pins n/dim genuinely and the two
    invariant bits by construction."""
    import numpy as np

    from aws_etl_bank_spark.llm.decompose import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.select(
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            + F.when(F.col("vec_id") % 2 == 0, F.lit(0.25))
            .otherwise(F.lit(-0.25)))
        .alias("v"))
    n, eigval, v, trace = pca_top_component(planted, "v", 64)
    u = np.full(64, 0.125)
    cos = abs(float(np.dot(v, u)))
    return spark.createDataFrame(
        [(n, 64, int(cos >= 0.99), int(eigval >= 0.5 * trace))],
        "n long, dim long, aligned int, dominant int")


@q("sample_per_group_bottomk", """
WITH h AS (
  SELECT lang, doc_id,
         (((doc_id % 1000003 + 1000003) % 1000003) * 2654435761)
           % 1000003 AS hk
  FROM documents),
r AS (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
      FROM h)
SELECT lang, doc_id FROM r WHERE rn <= 5""")
def sample_per_group_bottomk(spark, sf_dir):
    """Deterministic per-group k-sample — "5 representative docs per
    language" — as bottom-k of the corpus-stable Knuth hash WITHIN each
    group (the per-stratum sibling of sample_bottomk_hash, same
    stability-under-growth property per group).  The rank filter is
    planted directly on the window so Catalyst's WindowGroupLimit
    pushdown keeps only k rows per group BEFORE the exchange — each map
    task forwards ≤ k·groups rows, so the shuffle is bounded by the
    sample size, not the corpus (asserted in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    hk = F.pmod(F.pmod(F.col("doc_id").cast("long"), F.lit(1000003))
                * F.lit(2654435761 % 1000003), F.lit(1000003))
    w = Window.partitionBy("lang").orderBy("__hk", "doc_id")
    return (docs.select("lang", "doc_id", hk.alias("__hk"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 5)
            .select("lang", "doc_id"))


@q("multimodal_decode_wav", """
WITH w AS (
  SELECT doc_id AS d, 64 + doc_id % 97 AS n
  FROM documents WHERE doc_id < 500),
s AS (SELECT d, n, unnest(range(0, n)) AS i FROM w),
v AS (SELECT d, n, i, ((d * 17 + i * 13) % 4096) - 2048 AS x FROM s),
z AS (SELECT d,
             CASE WHEN x * lag(x) OVER (PARTITION BY d ORDER BY i) < 0
                  THEN 1 ELSE 0 END AS c
      FROM v)
SELECT v.d AS doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(v.n AS BIGINT) AS n_samples,
       CAST(SUM(v.x) AS DOUBLE) / v.n AS mean_amp,
       sqrt(CAST(SUM(v.x * v.x) AS DOUBLE) / v.n) AS rms,
       CAST(MAX(ABS(v.x)) AS INT) AS peak,
       (SELECT CAST(SUM(c) AS BIGINT) FROM z WHERE z.d = v.d) AS zero_cross
FROM v GROUP BY v.d, v.n""")
def multimodal_decode_wav(spark, sf_dir):
    """REAL audio decoding (llm/multimodal.py:_decode_wav — a proper
    RIFF chunk walk + 16-bit PCM frombuffer, numpy only): deterministic
    mono 8 kHz WAVs are generated per doc id (synthetic_wav_payloads —
    sample i of doc d is ((d·17 + i·13) mod 4096) − 2048), then decoded
    and featurized (count, mean, RMS, peak, zero crossings) inside one
    Arrow-batched map-only pass.  The oracle recomputes every feature
    from the same arithmetic over unnest(range(n)) — a header
    misparse, byte-order flip, off-by-one in the data chunk, or
    dropped sample shifts mean/RMS/zero-cross and fails the hash.
    mean and RMS are exact cross-engine (integer sums, IEEE division,
    IEEE sqrt — no libm, no rounding).  Compressed audio (non-PCM
    format tags) takes the same per-row NULL gate as JPEG/PNG."""
    from aws_etl_bank_spark.llm.multimodal import (decode_audio_features,
                                                   synthetic_wav_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return decode_audio_features(synthetic_wav_payloads(docs))


@q("embed_jl_projection", """
WITH v AS (
  SELECT vec_id, j.i AS j, CAST(j.x AS DOUBLE) AS x
  FROM (SELECT vec_id,
               unnest(embedding) AS x,
               unnest(range(0, 64)) AS i
        FROM embeddings) AS j(vec_id, x, i)),
proj AS (
  SELECT vec_id, d.range AS dim,
         SUM(x * (1.0 - 2.0 * ((((d.range * 64 + j) % 1000003)
                                * 427799 % 1000003) % 2))) / 4.0 AS val
  FROM v, range(16) d
  GROUP BY vec_id, d.range)
SELECT vec_id, CAST(dim AS INT) AS dim, ROUND(val, 5) + 0 AS val
FROM proj""")
def embed_jl_projection(spark, sf_dir):
    """Deterministic JL random projection 64→16
    (llm/decompose.py:jl_project — ±1 Achlioptas matrix from Knuth-hash
    parity, compiled into the plan as literals; zip_with+aggregate
    fold inside codegen, zero exchanges).  The oracle rebuilds the
    SAME matrix from the same hash arithmetic (427799 =
    2654435761 mod 1000003) and recomputes every projected coordinate;
    the only cross-engine slack is float summation order over 64
    terms, masked by the canon-zero 5-decimal round.  JL distance
    preservation is property-tested in tests/test_llm.py."""
    from aws_etl_bank_spark.llm.decompose import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = jl_project(emb, "embedding", "vec_id", 64, 16)
    return out.select("vec_id", "dim",
                      (F.round(F.col("val"), 5) + 0).alias("val"))


@q("dedup_substring_remove", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
ps AS (
  SELECT doc_id, unnest(range(1, len(words) - 6)) AS pos, words
  FROM w WHERE len(words) >= 8
),
pos_sh AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         array_to_string(words[CAST(pos AS INT):CAST(pos + 7 AS INT)], ' ') AS s
  FROM ps
),
ok AS (SELECT s FROM pos_sh GROUP BY s HAVING count(*) <= 64),
m AS (
  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b, b.pos AS pos_b
  FROM pos_sh a JOIN ok USING (s) JOIN pos_sh b USING (s)
  WHERE a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b, pos_a, pos_b,
         pos_a - row_number() OVER (
             PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
  FROM m
),
sp AS (
  SELECT id_b AS doc_id,
         CAST(min(pos_b) AS BIGINT) AS s,
         CAST(min(pos_b) + (max(pos_a) - min(pos_a) + 8) - 1 AS BIGINT) AS e
  FROM isl GROUP BY id_a, id_b, pos_a - pos_b, grp
),
srt AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS pmax
  FROM sp
),
gi AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS isl2
  FROM srt
),
mi AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM gi GROUP BY doc_id, isl2),
tk AS (
  SELECT doc_id, unnest(words) AS tok,
         unnest(range(1, len(words) + 1)) AS pos
  FROM w
),
keep AS (
  SELECT t.doc_id,
         CASE WHEN mi.s IS NULL THEN t.tok END AS tok,
         t.pos
  FROM tk t
  LEFT JOIN mi ON mi.doc_id = t.doc_id AND t.pos BETWEEN mi.s AND mi.e
)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text,
       CAST(SUM(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
FROM keep GROUP BY doc_id""")
def dedup_substring_remove(spark, sf_dir):
    """The REMOVAL half of the Lee et al. passage-dedup pipeline
    (llm/dedup.py remove_duplicate_spans, fed by substring_span_pairs):
    every duplicated ≥8-token run is cut from the higher-id document
    (keep-first), overlapping cut intervals merge per doc, and the
    survivor tokens splice back map-side (array filter/gather inside
    codegen — the 22 M-token frame at sf1 never shuffles).  The oracle
    replays the ENTIRE pipeline in SQL — span mining on shingle TEXT
    (so hash collisions fail the compare), interval merge as windowed
    gaps-and-islands, token filtering via a disjoint-interval join —
    and reconstructs every document's expected cleaned text
    byte-for-byte."""
    from aws_etl_bank_spark.llm import (remove_duplicate_spans,
                                        substring_span_pairs)

    docs = load_table(spark, sf_dir, "documents")
    spans = substring_span_pairs(docs, "text", "doc_id", k=8,
                                 max_shingle_occurrences=64)
    return remove_duplicate_spans(docs, spans, "text", "doc_id", k=8)


@q("ann_ivf_index_persisted", """
SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
       CAST(1 AS BIGINT) AS rank, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 5""")
def ann_ivf_index_persisted(spark, sf_dir):
    """The persisted-index ANN lifecycle (llm/similarity.py
    ivf_index_write / ivf_index_topk): the planted-twin corpus is
    cell-assigned ONCE and written as parquet partitioned by cell_id,
    then queried through the stored index with an isin partition
    filter — the reader prunes every unprobed inverted list's files
    (PartitionFilters pinned in tests/test_llm.py).  Same recall
    oracle as ann_ivf_planted_twin: identical vectors co-cell, the
    twin must come back at rank 1 / cosine 1.0 — proving the
    round-trip (assignment → partitioned write → pruned read → probe
    → rank) preserves the index semantics, not just the in-memory
    plan."""
    from aws_etl_bank_spark.llm.similarity import (ivf_index_topk,
                                                   ivf_index_write)
    from aws_etl_bank_spark.plans.registry import _scratch

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twins)
    path = _scratch(sf_dir, "ivf_index")
    ivf_index_write(corpus, path, n_cells=16)
    return ivf_index_topk(spark, path, queries, k=1, nprobe=4)


@q("text_vocab_encode", """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS token,
         unnest(range(1, len(string_split_regex(lower(text), '\\s+')) + 1))
           AS pos
  FROM documents),
tk AS (SELECT doc_id, token, pos FROM tok WHERE token <> ''),
vc AS (SELECT token, COUNT(*) AS n FROM tk GROUP BY token),
v AS (SELECT token,
             CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS tid
      FROM vc ORDER BY n DESC, token LIMIT 16),
enc AS (
  SELECT tk.doc_id, tk.pos, COALESCE(v.tid, 0) AS tid
  FROM tk LEFT JOIN v USING (token))
SELECT doc_id,
       array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos), ',') AS ids,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM enc GROUP BY doc_id""")
def text_vocab_encode(spark, sf_dir):
    """Vocabulary build + corpus encoding (llm/text.py build_vocab /
    encode_with_vocab) — the tokenize-for-training step: a 16-token
    frequency-ranked vocab (deterministic (count DESC, token)
    tie-break, id 0 = OOV) encodes every document to an id array in
    original token order.  The small vocab deliberately forces OOV
    traffic so the unk path is oracle-checked too.  One corpus
    hash-agg for the vocab (TakeOrdered, no global sort), one
    broadcast join + doc-keyed shuffle for the encode; the oracle
    rebuilds vocabulary, ranks and every position-ordered id array in
    SQL.  The id array is serialized with ``array_join`` (house
    convention — the driver's pandas canon cannot hash raw arrays;
    same as agg_payment_types)."""
    from aws_etl_bank_spark.llm.text import build_vocab, encode_with_vocab

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", vocab_size=16)
    enc = encode_with_vocab(docs, vocab, "text", "doc_id")
    return enc.withColumn(
        "ids",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), ","))


@q("text_word_pmi", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
  FROM documents),
tk AS (
  SELECT doc_id,
         unnest(toks) AS wd,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM w),
t AS (SELECT doc_id, wd, pos FROM tk WHERE wd <> ''),
pr AS (
  SELECT LEAST(a.wd, b.wd) AS w1, GREATEST(a.wd, b.wd) AS w2
  FROM t a JOIN t b
    ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 2),
pc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pr GROUP BY w1, w2),
uni AS (SELECT wd, COUNT(*) AS c FROM t GROUP BY wd),
tot AS (SELECT (SELECT COUNT(*) FROM pr) AS tp,
               (SELECT COUNT(*) FROM t) AS tw)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       ROUND(ln((CAST(c_ab AS DOUBLE) / tp)
                / ((CAST(u1.c AS DOUBLE) / tw)
                   * (CAST(u2.c AS DOUBLE) / tw))), 6) + 0 AS pmi
FROM pc, tot
JOIN uni u1 ON u1.wd = w1
JOIN uni u2 ON u2.wd = w2
ORDER BY c_ab DESC, w1, w2
LIMIT 30""")
def text_word_pmi(spark, sf_dir):
    """Windowed word co-occurrence PMI (window ±2) — the collocation
    statistic under PPMI embedding matrices and phrase detection
    (word2vec's phrase pass), and the text sibling of
    assoc_copurchase_lift.  Pair generation is MAP-ONLY: each doc's
    token array emits its own within-window pairs via nested
    transform + one explode (the shingle pattern — never a positions
    self-join, whose shuffle would carry every token twice); then two
    hash-aggs (pair counts, unigram counts) and 1-row corpus totals
    broadcast.  PMI's log runs only on the top-k output rows, masked
    by the canon-zero round; top-30 by (support DESC, pair) is a
    TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    base = docs.select(F.col("doc_id"), toks.alias("__toks"))
    pair_expr = F.expr(
        "flatten(transform(sequence(1, greatest(size(__toks) - 1, 0)), "
        "i -> transform(sequence(i + 1, least(i + 2, size(__toks))), "
        "j -> struct(element_at(__toks, i) as x, "
        "element_at(__toks, j) as y))))")
    pr = (base.filter(F.size("__toks") >= 2)
          .select(F.explode(pair_expr).alias("p"))
          .filter((F.col("p.x") != "") & (F.col("p.y") != ""))
          .select(F.least("p.x", "p.y").alias("w1"),
                  F.greatest("p.x", "p.y").alias("w2")))
    pc = (pr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
          .persist())
    wd = (base.select(F.explode("__toks").alias("wd"))
          .filter(F.col("wd") != ""))
    uni = wd.groupBy("wd").agg(F.count(F.lit(1)).alias("c")).persist()
    # corpus totals derive from the AGGREGATES (Σc_ab, Σc), never by
    # rescanning the corpus — pc/uni persist because each feeds both
    # its total and the final join
    tot = pc.agg(F.sum("c_ab").alias("tp")).crossJoin(
        uni.agg(F.sum("c").alias("tw")))
    u1 = uni.select(F.col("wd").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("wd").alias("w2"), F.col("c").alias("c2"))
    pmi = (F.round(F.log(
        (F.col("c_ab").cast("double") / F.col("tp"))
        / ((F.col("c1").cast("double") / F.col("tw"))
           * (F.col("c2").cast("double") / F.col("tw")))), 6) + 0)
    return (pc.join(u1, "w1").join(u2, "w2").crossJoin(F.broadcast(tot))
            .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
                    pmi.alias("pmi"))
            .orderBy(F.desc("c_ab"), "w1", "w2").limit(30))


@q("multimodal_audio_spectrum", """
SELECT doc_id,
       CAST(3 + doc_id % 60 AS INT) AS peak_bin,
       CAST((3 + doc_id % 60) * 8000.0 / 256.0 AS DOUBLE) AS peak_hz,
       CAST(256 AS INT) AS n_fft
FROM documents WHERE doc_id < 400""")
def multimodal_audio_spectrum(spark, sf_dir):
    """REAL DSP on really-decoded audio (llm/multimodal.py
    audio_spectral_features): planted pure tones — doc d carries a
    sine at DFT bin 3 + d%60 — are synthesized as PCM16 WAVs, decoded
    by the RIFF parser, and rFFT'd inside one Arrow map-only pass; the
    dominant non-DC bin and its Hz must equal the closed-form planted
    values (a header misparse, sample-order flip, or off-by-one in
    the FFT window moves the peak and fails the hash).  peak_ratio is
    deliberately NOT oracle-compared: leakage magnitudes are
    FFT-implementation-specific — bin and frequency are the portable
    facts."""
    from aws_etl_bank_spark.llm.multimodal import (audio_spectral_features,
                                                   synthetic_tone_wavs)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    feats = audio_spectral_features(synthetic_tone_wavs(docs))
    return feats.select("doc_id", "peak_bin", "peak_hz", "n_fft")


@q("graph_common_neighbors", """
WITH ks AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
            WHERE c_custkey % 7 <> 0),
band AS (
  SELECT x.k AS a, y.k AS b FROM ks x JOIN ks y ON y.k = x.k + 1
  UNION ALL
  SELECT x.k AS a, y.k AS b FROM ks x JOIN ks y ON y.k = x.k + 2),
hub AS (SELECT CAST(0 AS BIGINT) AS a, k AS b FROM ks WHERE k % 3 <= 1),
e AS (SELECT a, b FROM band UNION ALL SELECT a, b FROM hub),
adj AS (SELECT a AS c, b AS n FROM e UNION ALL SELECT b AS c, a AS n FROM e),
deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY c),
ok AS (SELECT c FROM deg WHERE d <= 32),
w AS (
  SELECT x.n AS n1, y.n AS n2
  FROM adj x JOIN ok USING (c) JOIN adj y USING (c)
  WHERE x.n < y.n),
cn AS (SELECT n1, n2, COUNT(*) AS common FROM w GROUP BY n1, n2)
SELECT n1, n2, CAST(common AS BIGINT) AS common,
       CAST(common AS DOUBLE)
         / (d1.d + d2.d - common) AS jaccard
FROM cn JOIN deg d1 ON d1.c = n1 JOIN deg d2 ON d2.c = n2
ORDER BY common DESC, n1, n2 LIMIT 50""")
def graph_common_neighbors(spark, sf_dir):
    """Common-neighbor / neighborhood-Jaccard link-prediction scores
    over the banded-plus-hub graph — the feature under friend-of-
    friend recommenders.  The scale hazard is the same one triangle
    counting dodges: wedge volume is Σ deg(center)², so the planted
    2N/3-degree hub would contribute ~(2N/3)² candidate pairs through
    ITSELF; the standing cut drops high-degree CENTERS (deg > 32)
    before the wedge join — which is also the statistically right
    call (co-adjacency through a celebrity node carries no link
    signal — the same reasoning as the posting-list df cut in the
    dedup family).  Remaining stages: adjacency hash-aggs, one
    (bounded) wedge equi-join, degree join-backs; Jaccard =
    common/(d1+d2−common) is one exact-int IEEE division; top-50 by
    (common DESC, pair) is a TakeOrdered."""
    ks = (load_table(spark, sf_dir, "customer")
          .select(F.col("c_custkey").cast("long").alias("k"))
          .filter(F.col("k") % 7 != 0))
    b1 = (ks.alias("x").join(ks.alias("y"),
                             F.col("y.k") == F.col("x.k") + 1)
          .select(F.col("x.k").alias("a"), F.col("y.k").alias("b")))
    b2 = (ks.alias("x").join(ks.alias("y"),
                             F.col("y.k") == F.col("x.k") + 2)
          .select(F.col("x.k").alias("a"), F.col("y.k").alias("b")))
    hub = (ks.filter(F.col("k") % 3 <= 1)
           .select(F.lit(0).cast("long").alias("a"), F.col("k").alias("b")))
    e = b1.unionAll(b2).unionAll(hub)
    # LAZY checkpoint (r17, the graph_triangle_count treatment): adj
    # feeds deg, both wedge-join sides and the degree join-backs, and
    # the un-truncated logical tree re-expands the three-way edge-build
    # self-joins under every consumer (1,764-line physical plan); with
    # the checkpoint the consumers read one scan and the plan shrinks
    # ~6x, at no extra job (the first action materializes the blocks)
    adj = (e.select(F.col("a").alias("c"), F.col("b").alias("n"))
           .unionAll(e.select(F.col("b").alias("c"), F.col("a").alias("n")))
           .localCheckpoint(eager=False))
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    ok = deg.filter(F.col("d") <= 32).select("c")
    aok = adj.join(ok, "c")
    x, y = aok.alias("x"), aok.alias("y")
    cn = (x.join(y, (F.col("y.c") == F.col("x.c"))
                 & (F.col("x.n") < F.col("y.n")))
          .groupBy(F.col("x.n").alias("n1"), F.col("y.n").alias("n2"))
          .agg(F.count(F.lit(1)).alias("common")))
    d1 = deg.select(F.col("c").alias("n1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("c").alias("n2"), F.col("d").alias("d2"))
    return (cn.join(d1, "n1").join(d2, "n2")
            .select("n1", "n2", F.col("common").cast("long").alias("common"),
                    (F.col("common").cast("double")
                     / (F.col("d1") + F.col("d2") - F.col("common")))
                    .alias("jaccard"))
            .orderBy(F.desc("common"), "n1", "n2").limit(50))


@q("dedup_cluster_sizes", r"""
WITH RECURSIVE w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words
  FROM documents
),
s AS (
  SELECT doc_id, unnest(
    CASE WHEN len(words) >= 3 THEN
      list_distinct([array_to_string(words[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                     for i in range(1, len(words) - 1)])
    ELSE [array_to_string(words, ' ')] END) AS sh
  FROM w
),
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5
),
e AS (SELECT id_a, id_b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
      UNION SELECT doc_id, doc_id FROM w),
reach AS (
  SELECT id_a AS id, id_a AS lbl FROM e
  UNION
  SELECT e.id_b, r.lbl FROM reach r JOIN e ON e.id_a = r.id
),
comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
cs AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM cs GROUP BY cluster_size""")
def dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram — the curation report every
    dedup run ends with ("how much of the corpus sits in dup clusters
    of size k?"), driving both the keep-policy choice and the
    dedup-rate estimate.  Composition: exact n-gram-Jaccard pairs
    (threshold 0.5, the inverted-index postings plan — never
    corpus²) → iterative connected components (singletons included
    via self-edges, so size-1 clusters appear in the histogram) → two
    hash-aggs (members per component, clusters per size).  The oracle
    recomputes the pair graph from shingle TEXT and closes it with a
    recursive min-label CTE — the same ground-truth recipe as the
    entity-resolution entry, here summarizing the whole corpus."""
    from aws_etl_bank_spark.llm import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = (ngram_jaccard_pairs(docs, "text", "doc_id",
                                 shingle_n=3, threshold=0.5)
             .select("id_a", "id_b"))
    selfp = docs.select(F.col("doc_id").alias("id_a"),
                        F.col("doc_id").alias("id_b"))
    comp = connected_components(pairs.unionByName(selfp),
                                on_nonconverged="raise")
    cs = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (cs.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select(F.col("cluster_size").cast("long"),
                    F.col("n_clusters").cast("long"),
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .cast("long").alias("n_docs")))


@q("text_zipf_hapax", r"""
WITH w AS (
  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS wd
  FROM documents),
t AS (SELECT lang, wd FROM w WHERE wd <> ''),
u AS (SELECT lang, wd, COUNT(*) AS c FROM t GROUP BY lang, wd)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_share
FROM u GROUP BY lang""")
def text_zipf_hapax(spark, sf_dir):
    """Per-language vocabulary profile: token/type counts, hapax
    legomena, type-token ratio and hapax share — the Zipf-tail
    diagnostics a corpus curator reads before choosing vocab size and
    min-frequency cuts (a hapax share drifting up across snapshots
    usually means OCR noise or dedup regression).  Two hash-aggs —
    (lang, word) then lang — with map-side combine; the same
    ``split(lower, \\s+), drop empties`` token convention as every
    text entry.  Ratios are exact int/int divisions."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select("lang",
                     F.explode(F.split(F.lower("text"), r"\s+"))
                     .alias("wd"))
         .filter(F.col("wd") != ""))
    u = t.groupBy("lang", "wd").agg(F.count(F.lit(1)).alias("c"))
    return (u.groupBy("lang")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("n_hapax"))
            .select("lang", "n_tokens", "n_types", "n_hapax",
                    F.round(F.col("n_types").cast("double")
                            / F.col("n_tokens"), 6)
                    .alias("type_token_ratio"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_types"), 6)
                    .alias("hapax_share")))


@q("text_lang_vocab_overlap", r"""
WITH w AS (
  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS wd
  FROM documents),
v AS (SELECT DISTINCT lang, wd FROM w WHERE wd <> ''),
sz AS (SELECT lang, COUNT(*) AS n FROM v GROUP BY lang),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
  FROM v a JOIN v b ON a.wd = b.wd AND a.lang < b.lang
  GROUP BY 1, 2)
SELECT lang_a, lang_b, CAST(n_common AS BIGINT) AS n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.lang = lang_a
JOIN sz sb ON sb.lang = lang_b""")
def text_lang_vocab_overlap(spark, sf_dir):
    """Pairwise vocabulary Jaccard between language sub-corpora — the
    cross-lingual contamination / code-switching diagnostic (an en↔fr
    vocab overlap spiking after an ingest usually means mislabeled
    languages, not shared words).  Same postings shape as the dedup
    family: ONE distinct (lang, word) frame, word-keyed equi-join
    emits each unordered language pair once per shared word, then
    set-algebra |A∩B|/(|A|+|B|−|A∩B|) in exact int64 with one exact
    division at the end.  Language count is small but the plan never
    relies on it — the join is word-keyed, not lang²."""
    docs = load_table(spark, sf_dir, "documents")
    v = (docs.select("lang",
                     F.explode(F.split(F.lower("text"), r"\s+"))
                     .alias("wd"))
         .filter(F.col("wd") != "").distinct())
    sz = v.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("lang").alias("lang_a"), "wd")
    b = v.select(F.col("lang").alias("lang_b"), "wd")
    inter = (a.join(b, "wd")
             .filter(F.col("lang_a") < F.col("lang_b"))
             .groupBy("lang_a", "lang_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sz.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    return (inter.join(F.broadcast(sa), "lang_a")
            .join(F.broadcast(sb), "lang_b")
            .select("lang_a", "lang_b",
                    F.col("n_common").cast("long").alias("n_common"),
                    F.round(F.col("n_common").cast("double")
                            / (F.col("na") + F.col("nb")
                               - F.col("n_common")), 6).alias("jaccard")))


@q("ml_kmeans_lloyd", """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5)
                                  AS BIGINT)) AS v
  FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
d1 AS (
  SELECT q.vec_id, q.v, c0.cid,
         list_reduce(list_transform(list_zip(q.v, c0.c),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2])),
             (acc, x) -> acc + x) AS dist
  FROM q CROSS JOIN c0),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1),
c1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos,
           CAST(CAST(SUM(comp) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM (SELECT cid, unnest(v) AS comp,
                 unnest(range(1, len(v) + 1)) AS pos
          FROM a1)
    GROUP BY cid, pos) GROUP BY cid),
d2 AS (
  SELECT q.vec_id, q.v, c1.cid,
         list_reduce(list_transform(list_zip(q.v, c1.c),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2])),
             (acc, x) -> acc + x) AS dist
  FROM q CROSS JOIN c1),
a2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1),
c2 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos,
           CAST(CAST(SUM(comp) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM (SELECT cid, unnest(v) AS comp,
                 unnest(range(1, len(v) + 1)) AS pos
          FROM a2)
    GROUP BY cid, pos) GROUP BY cid),
d3 AS (
  SELECT q.vec_id, c2.cid,
         list_reduce(list_transform(list_zip(q.v, c2.c),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2])),
             (acc, x) -> acc + x) AS dist
  FROM q CROSS JOIN c2)
SELECT vec_id, cid FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, cid) AS rn
  FROM d3) WHERE rn = 1""")
def ml_kmeans_lloyd(spark, sf_dir):
    """Distributed k-means, ORACLE-CHECKED per assignment (llm/
    cluster.py lloyd_assign) — 2 full Lloyd steps from the 4
    smallest-id seeds, then a final assignment; every vector's cluster
    id must match DuckDB's unrolled replica of the same iterations.
    Cross-engine exactness is engineered, not hoped for: integer-
    quantized components (round-half-up canon) make cluster sums exact
    int64 hash-aggs; centroid means are one IEEE division; distance
    folds run left-to-right on both engines (F.aggregate vs
    list_reduce — IEEE 0.0+x==x aligns the seeded/unseeded folds);
    argmin ties break on cid via struct-min.  Scale shape: per
    iteration ONE broadcast-join corpus pass (assignment, no shuffle)
    + one posexplode (cid,pos) hash-agg (k*dim rows out); only k*dim
    centroid means touch the driver between iterations — the same
    bounded-collect convention the PQ codebooks use.  The ml.KMeans
    path (similarity.train_centroids) stays the production entry for
    k-means||; this one is the parity-provable Lloyd core."""
    from aws_etl_bank_spark.llm.cluster import lloyd_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_assign(emb, k=4, iters=2, scale=1000)


@q("text_bpe_train_merges", r"""
WITH wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
    FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w),
s0 AS (
  SELECT array_to_string(list_transform(range(1, length(w) + 1),
           i -> w[CAST(i AS INT)]), ' ') || ' </w>' AS seg, freq
  FROM wf),
p1 AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(string_split(seg, ' '))),
             i -> string_split(seg, ' ')[CAST(i AS INT)] || ' ' ||
                  string_split(seg, ' ')[CAST(i + 1 AS INT)])) AS pair,
           freq
    FROM s0) GROUP BY pair),
t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
s1 AS (
  SELECT trim(replace(replace(replace(' ' || seg || ' ', ' ', '  '),
              ' ' || replace(t1.pair, ' ', '  ') || ' ',
              ' ' || replace(t1.pair, ' ', '') || ' '),
              '  ', ' ')) AS seg, freq
  FROM s0, t1),
p2 AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(string_split(seg, ' '))),
             i -> string_split(seg, ' ')[CAST(i AS INT)] || ' ' ||
                  string_split(seg, ' ')[CAST(i + 1 AS INT)])) AS pair,
           freq
    FROM s1) GROUP BY pair),
t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
s2 AS (
  SELECT trim(replace(replace(replace(' ' || seg || ' ', ' ', '  '),
              ' ' || replace(t2.pair, ' ', '  ') || ' ',
              ' ' || replace(t2.pair, ' ', '') || ' '),
              '  ', ' ')) AS seg, freq
  FROM s1, t2),
p3 AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(string_split(seg, ' '))),
             i -> string_split(seg, ' ')[CAST(i AS INT)] || ' ' ||
                  string_split(seg, ' ')[CAST(i + 1 AS INT)])) AS pair,
           freq
    FROM s2) GROUP BY pair),
t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
SELECT 1 AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM t1
UNION ALL
SELECT 2, pair, replace(pair, ' ', ''), cnt FROM t2
UNION ALL
SELECT 3, pair, replace(pair, ' ', ''), cnt FROM t3""")
def text_bpe_train_merges(spark, sf_dir):
    """BPE merge-table TRAINING (llm/text.py bpe_train_merges) — the
    Sennrich word-frequency formulation: 3 merge rounds over the
    corpus's [a-z]+ words, each round = adjacent-pair counts weighted
    by word frequency (slice+zip array ops, one vocabulary-sized
    hash-agg), top pair by (count DESC, pair ASC), one
    boundary-aware greedy replace to re-segment (separator-doubling
    so 'a a a a' merges to 'aa aa', Sennrich semantics — r10 ADVICE).
    The oracle unrolls all three rounds in SQL with the identical
    doubled-separator replace and must reproduce every learned pair
    AND its count — ties, the greedy pairwise scan ('a a a' → 'aa a'),
    and the </w> end marker all agree by construction.  Scale shape:
    corpus read ONCE to build the word-frequency table; every round
    is vocabulary-sized, and only the 1-row winner reaches the
    driver per round."""
    from aws_etl_bank_spark.llm.text import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "text", n_merges=3)


@q("graph_cc_star_chain", """
WITH v AS (SELECT DISTINCT vec_id FROM embeddings),
r AS (SELECT vec_id,
             vec_id - row_number() OVER (ORDER BY vec_id) AS isl
      FROM v)
SELECT vec_id AS id,
       CAST(MIN(vec_id) OVER (PARTITION BY isl) AS BIGINT) AS component
FROM r""")
def graph_cc_star_chain(spark, sf_dir):
    """Connected components on a LONG-CHAIN graph via alternating
    large-star/small-star rounds (llm/dedup.py
    connected_components_star, Kiveris et al.) — the case min-label
    propagation structurally cannot handle: edges (vec_id, vec_id+1)
    form one path per contiguous id block (diameter = block size −
    hundreds at sf0.01, thousands at sf1), so min-label needs
    diameter-many join rounds while the star algorithm contracts to
    rooted stars in O(log² n) rounds regardless of diameter.  Each
    round is two groupBy-mins + joins, everything keyed on node id;
    only a 2-value convergence signature reaches the driver.  The
    oracle labels each node with its contiguous-run minimum via the
    gaps-and-islands window — the exact component structure of a
    chain-of-consecutive-integers graph.  (Chains are the worst case,
    not a corner case: dup chains, session grafts and entity-merge
    graphs all grow long paths at corpus scale.)"""
    from aws_etl_bank_spark.llm.dedup import connected_components_star

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    nxt = ids.select((F.col("vec_id") + 1).alias("vec_id"))
    chain = (ids.join(nxt, "vec_id")  # vec_ids that have a predecessor
             .select((F.col("vec_id") - 1).alias("id_a"),
                     F.col("vec_id").alias("id_b")))
    # self-loops register every id as a node, so an id with no
    # consecutive neighbor still surfaces as a singleton component —
    # exactly the oracle's all-nodes universe
    loops = ids.select(F.col("vec_id").alias("id_a"),
                       F.col("vec_id").alias("id_b"))
    return (connected_components_star(chain.unionByName(loops))
            .select("id", F.col("component").cast("long").alias("component")))


@q("stream_pyds_arrow_sink", """
WITH c AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM c GROUP BY user_id""")
def stream_pyds_arrow_sink(spark, sf_dir):
    """ARROW-native custom Python streaming sink (Spark 4.1
    ``DataSourceStreamArrowWriter``, sources/pyds_stream.py
    ArrowManifestStreamWriter): tasks receive RecordBatch iterators
    and stream them straight into staged parquet — no Python row
    objects on the hot path, unlike the row-based jsonl sibling — and
    the driver publishes the same atomic per-batch manifest only after
    every task succeeded.  Verification reads back ONLY
    manifest-listed parquet; exactly-once all-or-nothing publication
    is the hash-checked property (per-user totals over the sink equal
    the batch aggregate)."""
    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, read_manifest_sink)

    spark.dataSource.register(ShardedStreamDataSource)
    stream = events_stream(spark, _events_stream_dir(sf_dir)).select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    sink = _scratch_run(sf_dir, "pyds_arrow_sink")
    ck = _scratch_run(sf_dir, "pyds_arrow_ck")
    q = (stream.writeStream.format("sharded_stream")
         .option("path", sink).option("arrowSink", "true")
         .option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    back = read_manifest_sink(
        spark, sink, "event_id bigint, user_id bigint, cents bigint")
    return (back.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("cents")))


@q("stream_state_store_read", """
SELECT CAST(user_id % 101 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1""")
def stream_state_store_read(spark, sf_dir):
    """The STATE STORE READER data source (``spark.read.format(
    "statestore")``, Spark 4): offline introspection of a streaming
    query's checkpointed state — the ops surface for debugging state
    growth, validating a migration, or repairing a poisoned key
    without replaying the stream.  A deterministic availableNow
    aggregation (count by user_id % 101) runs to completion, then the
    entry reads its state DIRECTLY from the checkpoint; for a
    completed bounded stream that state IS the batch aggregate, which
    makes the oracle a plain GROUP BY — the reader is hash-checked,
    not just smoke-tested.  The companion ``state-metadata`` format is
    asserted inline (operator name + exactly one stateful operator).
    Value-struct field names are resolved from the read schema (the
    agg buffer column is version-internal).  At 100 TB state reads
    are per-partition parallel scans of the store files — no stream
    replay, no driver fan-in."""
    from aws_etl_bank_spark.streaming import run_to_memory

    ck = _scratch_run(sf_dir, "state_reader_ck")
    stream = events_stream(spark, _events_stream_dir(sf_dir))
    agg = (stream
           .select((F.col("user_id") % 101).cast("bigint").alias("k"))
           .groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    run_to_memory(agg, "complete", ck)

    meta = spark.read.format("state-metadata").load(ck)
    ops = [r.operatorName for r in meta.select("operatorName").collect()]
    # explicit raise, not assert: PYTHONOPTIMIZE strips asserts and
    # these guards are load-bearing (ADVICE r15) — exactly one
    # stateful operator must own the checkpoint
    if ops != ["stateStoreSave"]:
        raise ValueError(
            f"state-metadata lists operators {ops}; expected exactly "
            "['stateStoreSave'] — the checkpoint is not the single "
            "streaming aggregation this entry wrote")

    st = spark.read.format("statestore").load(ck)
    # exactly ONE buffer field expected (stateFormatVersion 2 stores
    # the key-free agg buffer; v1 would prepend the grouping key and
    # names[0] would silently be the wrong column — fail loud instead)
    names = st.schema["value"].dataType.names
    if len(names) != 1:
        raise ValueError(
            f"statestore value struct has fields {names}; expected a "
            "single agg-buffer field (stateFormatVersion 2) — a v1 "
            "layout would make names[0] the grouping key, silently "
            "reading the wrong column")
    value_field = names[0]
    return (st.select(
        F.col("key.k").alias("k"),
        F.col(f"value.{value_field}").cast("bigint").alias("n")))
