"""LLM registry part 1: batch dedup / ANN / text-quality / multimodal
entries (formerly registry_llm.py lines 15-971).  Pure mechanical move
(VERDICT r15 task 7, same precedent as the r15 registry.py split):
entry source, ``@q`` names and oracles are byte-identical to the
pre-split layout.  REGISTRY order comes from ``registry.PARTS`` (see
``registry.load_registry``).
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from aws_etl_bank_spark.plans.registry import q  # noqa: F401
from aws_etl_bank_spark.sources.testdata import (  # noqa: F401
    events_stream, load_table)


_EN = "('the','a','of','and','to','in','is','it','that','for')"


@q("dedup_exact", """
SELECT text, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text""")
def dedup_exact(spark, sf_dir):
    from aws_etl_bank_spark.llm import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id")


#: DuckDB shingle-set recipe shared with the dedup_ngram_* oracles —
#: lowercase whitespace words, distinct word-3-grams (whole text when
#: shorter), here list_sort'ed so shingle SETS compare as values
_SHSET = r"""list_sort(CASE WHEN len(words) >= 3 THEN
      list_distinct([array_to_string(words[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                     for i in range(1, len(words) - 1)])
    ELSE [array_to_string(words, ' ')] END)"""


def _minhash_pair_invariants(pairs, docs, threshold):
    """Invariant contract for banded MinHash candidate pairs (r17,
    extending the _ann_topk_invariants pattern to the LSH family):
    WHICH near-dup pairs collide in ≥1 of 16 bands is hash-family
    dependent and not SQL-reproducible, but (a) every returned pair
    must survive an INDEPENDENT exact shingle-Jaccard recompute at the
    entry's threshold with the returned jaccard value matching at 4 dp,
    (b) pairs are canonical (id_a < id_b), distinct, and both ends real
    corpus ids, (c) recall on jaccard-exactly-1.0 pairs is TOTAL by LSH
    construction (equal shingle sets ⇒ equal signatures ⇒ collide in
    every band; byte-identical texts ⇒ star edges), so the count of
    returned perfect pairs must equal the closed-form expected count
    the DuckDB oracle derives from the corpus alone: Σ(class_size − 1)
    star edges over identical-text classes (keyed on coalesce(text,'')
    — the operator's _exact_class_split merges NULL with empty) +
    C(k, 2) over each group of k representatives sharing a shingle
    set.  The shingle recompute is restricted to the docs the result
    NAMES (O(result), not a second corpus pass — this entry is in the
    frozen bench set); a fabricated id still reads as null shingles
    because the left joins find no row for it.  The pair list is
    localCheckpoint'ed FIRST: the ids derivation and the verify join
    consume it three times, and without materialization each
    consumption re-evaluates the whole LSH generation DAG — measured
    4.4 s vs 1.9 s at sf0.1 (the A/B is in PERF.md).  A dropped star
    edge, fabricated pair, below-threshold pair, or wrong jaccard
    value each flips its own column."""
    from aws_etl_bank_spark.llm.dedup import _shingle_frame

    pairs = pairs.localCheckpoint(eager=False)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .union(pairs.select(F.col("id_b").alias("doc_id"))).distinct())
    # the per-id shingle relation is consumed by BOTH pair sides; lazy
    # checkpoint so the docs semi-join + re-shingle runs once, not twice
    # (the r17 baseline plan duplicated the whole branch per side)
    sh = _shingle_frame(docs.join(ids, "doc_id", "left_semi"),
                        "text", "doc_id", 3,
                        alias="sh").localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__sb"))
    j = (pairs.join(a, "id_a", "left").join(b, "id_b", "left")
         .withColumn("__raw",
                     F.size(F.array_intersect("__sa", "__sb"))
                     / F.size(F.array_union("__sa", "__sb"))))
    return j.agg(
        F.count_if(F.col("__raw") == 1.0).cast("bigint").alias("n_perfect"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
        F.bool_and(F.col("id_a") < F.col("id_b")).alias("canonical"),
        (F.count(F.lit(1))
         == F.count_distinct(F.struct("id_a", "id_b"))).alias("pairs_distinct"),
        F.bool_and(F.col("__sa").isNotNull()
                   & F.col("__sb").isNotNull()).alias("ids_in_corpus"),
        F.bool_and(F.col("__raw").isNotNull()
                   & (F.round("__raw", 4) >= threshold)
                   & (F.abs(F.round("__raw", 4) - F.col("jaccard"))
                      <= 1e-4)).alias("jaccard_verified"))


@q("dedup_minhash_pairs", f"""
WITH cls AS (SELECT coalesce(text, '') AS ctext, MIN(doc_id) AS rep,
                    COUNT(*) AS n
             FROM documents GROUP BY coalesce(text, '')),
w AS (SELECT c.rep AS doc_id,
             string_split_regex(lower(coalesce(d.text, '')), '\\s+') AS words
      FROM cls c JOIN documents d ON d.doc_id = c.rep),
s AS (SELECT doc_id, {_SHSET} AS shset FROM w),
g AS (SELECT COUNT(*) AS k FROM s GROUP BY shset HAVING COUNT(*) > 1)
SELECT CAST((SELECT COALESCE(SUM(n - 1), 0) FROM cls)
          + (SELECT COALESCE(SUM(k * (k - 1) // 2), 0) FROM g)
       AS BIGINT) AS n_perfect,
       true AS nonempty, true AS canonical, true AS pairs_distinct,
       true AS ids_in_corpus, true AS jaccard_verified""")
def dedup_minhash_pairs(spark, sf_dir):
    """Banded MinHash-LSH near-dup pairs under the invariant-contract
    oracle (r17 — the last rows-only family converted; see
    _minhash_pair_invariants for what is checkable and why the raw
    pair list is not).  The pair GENERATION path is unchanged; the
    result feeds one extra aggregation pass over the returned pairs."""
    from aws_etl_bank_spark.llm import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_perm=64, bands=16,
                              jaccard_threshold=0.5)
    return _minhash_pair_invariants(pairs, docs, threshold=0.5)


def _dedup_keep_invariants(kept, docs):
    """Invariant contract for the greedy MinHash keep set (r17):
    which near-dup SINGLETONS survive is hash-family dependent, but
    (a) survivors are real corpus rows, one per doc_id, (b) an
    identical-text class can keep AT MOST one member and any survivor
    it has is the class MIN id (every non-min member is the larger end
    of a star edge, so greedy always drops it), and (c) at least
    Σ(class_size − 1) rows were dropped corpus-wide.  n_docs and
    n_class_extras are corpus-derived anchors recomputed by the DuckDB
    oracle, so the flags cannot pass vacuously on a corpus that has
    duplicate classes.  Classes are keyed on coalesce(text, '') to
    match the operator's _exact_class_split (NULL merges with empty);
    the subset check compares the raw text null-safely."""
    ckey = F.coalesce(F.col("text"), F.lit("")).alias("__ct")
    cls = docs.groupBy(ckey).agg(F.min("doc_id").alias("__rep"),
                                 F.count(F.lit(1)).alias("__n"))
    corpus = cls.agg(
        F.sum("__n").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.col("__n") - 1), F.lit(0))
        .cast("bigint").alias("n_class_extras"))
    # materialize once: base and per_cls both consume the keep set, and
    # each reference would otherwise re-run the whole greedy LSH DAG
    # (the same 2x-re-execution class the pairs helper's A/B measured)
    k = kept.select("doc_id", "text").localCheckpoint(eager=False)
    base = (k.join(docs.select("doc_id", F.col("text").alias("__dt")),
                   "doc_id", "left")
            .agg(F.count(F.lit(1)).alias("__n_kept"),
                 (F.count(F.lit(1)) > 0).alias("nonempty"),
                 F.bool_and(F.col("__dt").eqNullSafe(F.col("text"))
                            & F.col("doc_id").isNotNull())
                 .alias("kept_subset"),
                 (F.count(F.lit(1)) == F.count_distinct("doc_id"))
                 .alias("kept_distinct")))
    per_cls = (k.groupBy(ckey)
               .agg(F.count(F.lit(1)).alias("__c"),
                    F.min("doc_id").alias("__kmin"))
               .join(cls, "__ct", "left")
               .agg(F.bool_and(F.col("__c") <= 1).alias("one_per_class"),
                    F.bool_and(F.col("__kmin") == F.col("__rep"))
                    .alias("survivor_is_class_min")))
    return (corpus.crossJoin(base).crossJoin(per_cls)  # three 1-row sides
            .select("n_docs", "n_class_extras", "nonempty", "kept_subset",
                    "kept_distinct", "one_per_class",
                    "survivor_is_class_min",
                    ((F.col("n_docs") - F.col("__n_kept"))
                     >= F.col("n_class_extras"))
                    .alias("drops_cover_classes")))


@q("dedup_minhash_keep", """
WITH cls AS (SELECT coalesce(text, '') AS ctext, COUNT(*) AS n
             FROM documents GROUP BY coalesce(text, ''))
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
       CAST((SELECT COALESCE(SUM(n - 1), 0) FROM cls) AS BIGINT)
         AS n_class_extras,
       true AS nonempty, true AS kept_subset, true AS kept_distinct,
       true AS one_per_class, true AS survivor_is_class_min,
       true AS drops_cover_classes""")
def dedup_minhash_keep(spark, sf_dir):
    """Greedy MinHash near-dup keep under the invariant-contract
    oracle (r17 — see _dedup_keep_invariants)."""
    from aws_etl_bank_spark.llm import minhash_dedup_keep

    docs = load_table(spark, sf_dir, "documents")
    kept = minhash_dedup_keep(docs, "text", "doc_id", num_perm=64, bands=16,
                              jaccard_threshold=0.5)
    return _dedup_keep_invariants(kept, docs)


# NOTE: _dedup_keep_invariants verifies the keep against the SAME
# threshold-0.5 pair semantics via the class anchors only — the
# near-dup drops themselves are hash-family dependent and not
# SQL-checkable (the planted companions pin them).


@q("graph_connected_components", """
WITH src AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 10 IN (0, 1, 2)),
nodes AS (SELECT k AS id FROM src UNION SELECT k + 1 FROM src)
SELECT CAST(id AS BIGINT) AS id,
       CAST((id // 10) * 10 AS BIGINT) AS component
FROM nodes""")
def graph_connected_components(spark, sf_dir):
    """Iterative connected components over an edge list — the transitive
    closure primitive behind chain-complete dedup.  Edges (k, k+1) for
    every customer key with k%10 in {0,1,2} build 4-node chains
    10n–10n+1–10n+2–10n+3, so the min label needs three propagation hops
    to reach the chain tail: a genuine multi-round fixpoint, checked
    against a closed-form oracle."""
    from aws_etl_bank_spark.llm import connected_components

    src = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("k"))
        .filter(F.col("k") % 10 <= 2)
    )
    pairs = src.select(F.col("k").alias("id_a"), (F.col("k") + 1).alias("id_b"))
    return connected_components(pairs, on_nonconverged="raise")


@q("dedup_ngram_keep_transitive", r"""
WITH RECURSIVE w AS (
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
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dup_pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 4) >= 0.5
),
edges AS (SELECT id_a AS s, id_b AS d FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp WHERE component < id)""")
def dedup_ngram_keep_transitive(spark, sf_dir):
    """Transitive-closure dedup keep over EXACT n-gram Jaccard pairs:
    exactly one survivor (the smallest doc_id) per duplicate chain, even
    when the chain never produced a direct pair between its endpoints.
    Oracle: recursive-CTE reachability in DuckDB."""
    from aws_etl_bank_spark.llm import dedup_keep_transitive, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.5)
    return dedup_keep_transitive(docs, pairs, "doc_id").select("doc_id")


def _simhash_pair_invariants(pairs, docs, max_hamming):
    """Invariant contract for SimHash LSH pairs (r17): which non-exact
    near-dups share a 16-bit chunk is hash-family dependent, but every
    returned pair's hamming distance must match an INDEPENDENT
    signature recompute (restricted to the docs the result names) and
    respect the entry's bound; pairs are canonical/distinct/in-corpus;
    and the identical-TEXT star edges are exactly enumerable from the
    corpus (identical texts ⇒ identical fingerprints ⇒ hamming 0, and
    the exact-class collapse emits exactly class_size − 1 star edges
    per class, never the clique), so the count of returned same-text
    pairs must equal the oracle's Σ(class_size − 1)."""
    from aws_etl_bank_spark.llm.dedup import simhash_signatures

    # materialize once — ids + the verify join would otherwise
    # re-evaluate the LSH generation DAG per consumption (see the
    # minhash helper's A/B)
    pairs = pairs.localCheckpoint(eager=False)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .union(pairs.select(F.col("id_b").alias("doc_id"))).distinct())
    sub = docs.join(ids, "doc_id", "left_semi")
    sigs = simhash_signatures(sub, "text", "doc_id")
    # ONE per-id verify relation, materialized once (r17): signatures
    # LEFT-joined onto the membership/text rows — a NULL-text corpus doc
    # has no tokens, so simhash_signatures drops it, but it must still
    # carry its membership marker (__m) and class text (coalesce'd, the
    # operator's class key).  The former shape — separate sig and text
    # relations per pair side — cost four joins and two extra docs
    # scans per run; this is two joins against one checkpointed branch.
    vr = (sub.select("doc_id",
                     F.coalesce(F.col("text"), F.lit("")).alias("__t"),
                     F.lit(1).alias("__m"))
          .join(sigs, "doc_id", "left").localCheckpoint(eager=False))
    a = vr.select(F.col("doc_id").alias("id_a"), F.col("bits").alias("__ba"),
                  F.col("__t").alias("__ta"), F.col("__m").alias("__ma"))
    b = vr.select(F.col("doc_id").alias("id_b"), F.col("bits").alias("__bb"),
                  F.col("__t").alias("__tb"), F.col("__m").alias("__mb"))
    j = (pairs.join(a, "id_a", "left").join(b, "id_b", "left")
         .withColumn("__h", F.aggregate(
             F.zip_with("__ba", "__bb",
                        lambda x, y: (x != y).cast("int")),
             F.lit(0), lambda acc, x: acc + x)))
    return j.agg(
        F.count_if(F.col("__ta") == F.col("__tb")).cast("bigint")
        .alias("n_exact_edges"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
        F.bool_and(F.col("id_a") < F.col("id_b")).alias("canonical"),
        (F.count(F.lit(1))
         == F.count_distinct(F.struct("id_a", "id_b"))).alias("pairs_distinct"),
        F.bool_and(F.col("__ma").isNotNull()
                   & F.col("__mb").isNotNull()).alias("ids_in_corpus"),
        F.bool_and(F.col("__h").isNotNull()
                   & (F.col("__h") == F.col("hamming"))
                   & (F.col("hamming") <= max_hamming))
        .alias("hamming_verified"))


@q("dedup_simhash_pairs", """
WITH cls AS (SELECT coalesce(text, '') AS ctext, COUNT(*) AS n
             FROM documents GROUP BY coalesce(text, ''))
SELECT CAST((SELECT COALESCE(SUM(n - 1), 0) FROM cls) AS BIGINT)
         AS n_exact_edges,
       true AS nonempty, true AS canonical, true AS pairs_distinct,
       true AS ids_in_corpus, true AS hamming_verified""")
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash LSH near-dup pairs under the invariant-contract oracle
    (r17 — see _simhash_pair_invariants)."""
    from aws_etl_bank_spark.llm import simhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_lsh_pairs(docs, "text", "doc_id", max_hamming=8)
    return _simhash_pair_invariants(pairs, docs, max_hamming=8)


@q("dedup_ngram_jaccard", r"""
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
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 4) AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 4) >= 0.5""")
def dedup_ngram_jaccard(spark, sf_dir):
    """EXACT n-gram Jaccard join (inverted index, no LSH) — fully
    oracle-checkable, unlike the hash-family dedups."""
    from aws_etl_bank_spark.llm import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.5)


@q("dedup_embedding_pairs", """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id < 100000000),
all_v AS (SELECT vec_id, v FROM base
          UNION ALL SELECT vec_id + 1000000 AS vec_id, v FROM base),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.v, b.v), 4) AS cosine
          FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95""")
def dedup_embedding_pairs(spark, sf_dir):
    """The sf embeddings have no organic near-dups (max off-diagonal cosine
    ≈ 0.51), so the operator is exercised on a planted-duplicate set: the
    table unioned with an id-shifted copy of itself.  Because every other
    pair is far below the 0.95 threshold, hyperplane-LSH recall is exactly
    1.0 here and the output is oracle-checkable against an all-pairs
    DuckDB cosine scan.  Pinned to copy 0 (vec_id < 100M) like
    _planted_embeddings: the make_sf.py upscale plants ~0.997-cosine
    cross-copy near-dups whose LSH recall is not guaranteed."""
    from aws_etl_bank_spark.llm import embedding_dup_pairs

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 100_000_000)
           .select("vec_id", "embedding"))
    planted = emb.unionAll(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    return embedding_dup_pairs(planted, "embedding", "vec_id", dim=64,
                               n_planes=8, cosine_threshold=0.95)


def _planted_embeddings(spark, sf_dir):
    """embeddings ∪ an id-shifted exact copy — same fixture as
    dedup_embedding_pairs; the only pairs at cosine ≥ 0.95 are the
    planted twins (organic max ≈ 0.51), so cell-bounded comparison has
    provable recall 1.0 here (identical vectors co-cell always).

    Pinned to copy 0 (``vec_id < 100M``): make_sf.py upscales by
    stacking PERTURBED copies (+i*0.001 per component) whose cross-copy
    cosines reach ~0.997 — genuine near-dups that can legitimately land
    in different cells, breaking the twins-only contract at sf1+.  Copy
    0 is byte-identical to the source table at every factor, so the
    filter keeps the oracle scale-invariant (and is a no-op at the
    driver's sf0.01)."""
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 100_000_000)
           .select("vec_id", "embedding"))
    return emb.unionAll(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )


@q("dedup_semantic_pairs", """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id < 100000000),
all_v AS (SELECT vec_id, v FROM base
          UNION ALL SELECT vec_id + 1000000 AS vec_id, v FROM base),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.v, b.v), 4) AS cosine
          FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95""")
def dedup_semantic_pairs(spark, sf_dir):
    """SemDeDup-style semantic dedup (llm/dedup.py semantic_dedup_pairs):
    nearest-centroid cells, cosine compared only within a cell.  On the
    planted fixture the output must equal DuckDB's all-pairs cosine scan
    at the same threshold — a missing twin means cell assignment split
    identical vectors (impossible by the deterministic tie-break), an
    extra pair means the threshold leaked."""
    from aws_etl_bank_spark.llm import semantic_dedup_pairs

    return semantic_dedup_pairs(_planted_embeddings(spark, sf_dir),
                                "embedding", "vec_id", n_cells=64,
                                cosine_threshold=0.95)


@q("dedup_semantic_keep", """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id < 100000000),
all_v AS (SELECT vec_id, v FROM base
          UNION ALL SELECT vec_id + 1000000 AS vec_id, v FROM base),
losers AS (SELECT DISTINCT b.vec_id
           FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95)
SELECT vec_id FROM all_v WHERE vec_id NOT IN (SELECT vec_id FROM losers)""")
def dedup_semantic_keep(spark, sf_dir):
    """Keep path of semantic dedup: one survivor (smallest id) per
    connected component.  On the planted fixture components are disjoint
    twin pairs, so the survivor set is exactly all ids minus each pair's
    larger id — DuckDB-expressible."""
    from aws_etl_bank_spark.llm import semantic_dedup_keep

    return semantic_dedup_keep(_planted_embeddings(spark, sf_dir),
                               "embedding", "vec_id", n_cells=64,
                               cosine_threshold=0.95).select("vec_id")


@q("ann_bruteforce_topk", """
WITH qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 5),
cv AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT qv.query_id, cv.neighbor_id,
             round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
      FROM qv, cv WHERE cv.neighbor_id != qv.query_id)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= 10""")
def ann_bruteforce_topk(spark, sf_dir):
    from aws_etl_bank_spark.llm import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter("vec_id < 5"), 10)
    return out.select("query_id", "neighbor_id", "rank")


#: the shared top-k depth — interpolated into BOTH the oracle literal
#: and the helper's call sites so they cannot drift (a reused oracle
#: with a different k would otherwise fail as a bare count mismatch)
_ANN_K = 10

#: shared oracle text for the approximate-top-k shape contracts: 5
#: query vectors (vec_id < 5), k rows each, every neighbor a real
#: corpus id, ranks exactly 1..k, neighbors distinct, scores in range
_ANN_TOPK_INVARIANT_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * {_ANN_K} AS BIGINT) AS n_rows,
       CAST(COUNT(*) * {_ANN_K} AS BIGINT) AS n_contained,
       true AS k_rows_each,
       true AS ranks_complete,
       true AS neighbors_distinct,
       true AS scores_in_range
FROM embeddings WHERE vec_id < 5"""


def _ann_topk_invariants(result, corpus_ids, k, score_col, score_pred):
    """Invariant oracle for approximate top-k results (r15, extending
    the sample_limit precedent to the ANN family): WHICH neighbors an
    IVF/PQ index returns is not SQL-reproducible (that's what the
    planted-twin companions pin), but the result SHAPE is a hard
    contract — exactly k rows per query with ranks EXACTLY 1..k (k
    distinct ranks with min 1 and max k — a sum check alone would
    accept compensating duplicates), every neighbor a genuine corpus
    id, no neighbor repeated within a query, and every score NON-NULL
    and inside its metric's valid range (``bool_and`` alone skips
    NULLs, so the non-null conjunct is explicit).  All checks are
    computed FROM the result in ONE aggregation pass (containment via
    a left-join marker, not a separate semi-join branch), so a bug
    that drops, duplicates, or fabricates candidates reads out as a
    false flag without re-executing the ranking plan per branch."""
    marked = result.join(
        corpus_ids.withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("__in_corpus", F.lit(1)),
        "neighbor_id", "left")
    per_q = marked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("rank").alias("n_ranks"),
        F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax"),
        F.count_distinct("neighbor_id").alias("nd"),
        F.count_if(F.col("__in_corpus").isNotNull()).alias("n_in"),
        F.bool_and(score_pred & F.col(score_col).isNotNull())
        .alias("score_ok"))
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("n_in").cast("bigint").alias("n_contained"),
        F.bool_and(F.col("n") == k).alias("k_rows_each"),
        F.bool_and((F.col("n_ranks") == k) & (F.col("rmin") == 1)
                   & (F.col("rmax") == k)).alias("ranks_complete"),
        F.bool_and(F.col("nd") == k).alias("neighbors_distinct"),
        F.bool_and(F.col("score_ok")).alias("scores_in_range")
    ).select("n_queries", "n_rows", "n_contained", "k_rows_each",
             "ranks_complete", "neighbors_distinct", "scores_in_range")


@q("ann_ivf_topk", _ANN_TOPK_INVARIANT_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF top-10 over the full embeddings table, converted from
    rows-only to the shape-contract invariant oracle (see
    ``_ann_topk_invariants``); neighbor-level recall is pinned by the
    planted-twin companion ann_ivf_planted_twin."""
    from aws_etl_bank_spark.llm import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb.filter("vec_id < 5"), _ANN_K,
                   n_cells=16, nprobe=4)
    return _ann_topk_invariants(
        out, emb.select("vec_id"), _ANN_K, "cosine",
        F.col("cosine").between(-1.0, 1.0))


#: the quality-score model as DuckDB CTEs — shared by the stats entry
#: and the top-fraction selection oracle
_QUALITY_CTES = f"""w AS (
    SELECT doc_id, text,
           string_split_regex(lower(text), '\\s+') AS words,
           length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST(len(words) AS BIGINT) AS n_tokens,
           round(length(text) / CAST(len(words) AS DOUBLE), 4) AS avg_token_len,
           round(n_punct / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           round(len(list_filter(words, x -> x IN {_EN})) / CAST(len(words) AS DOUBLE), 4)
               AS stopword_ratio
    FROM w
),
q AS (
SELECT doc_id, n_chars_computed, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       round((least(n_tokens / 100.0, 1.0) * 0.5 + least(stopword_ratio * 5.0, 1.0) * 0.3)
             * greatest(0.0, 1.0 - punct_ratio * 5.0)
             + 0.2 * greatest(0.0, 1.0 - punct_ratio * 5.0) + 0.000000001, 4) AS quality
FROM s
)"""


@q("text_stats_quality", f"""
WITH {_QUALITY_CTES}
SELECT doc_id, n_chars_computed, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       quality
FROM q""")
def text_stats_quality(spark, sf_dir):
    from aws_etl_bank_spark.llm import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "n_chars_computed", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", "quality",
    )


@q("text_quality_top_fraction", f"""
WITH {_QUALITY_CTES}
SELECT doc_id, quality FROM q
WHERE quality IS NOT NULL
QUALIFY row_number() OVER (ORDER BY quality DESC, doc_id)
        <= CAST(floor(0.2 * (COUNT(*) OVER ())) AS BIGINT)""")
def text_quality_top_fraction(spark, sf_dir):
    """Exact top-20%-by-quality corpus selection via the distributed
    histogram-selection operator (functions/scale.py top_fraction): rows
    in strictly-better histogram buckets are selected wholesale and only
    the boundary bucket (~n/n_buckets rows) is exactly ranked — no
    global sort, no corpus-wide window, unlike the oracle's
    row_number() OVER () form which is the single-task shape this
    operator exists to avoid.  Exactly floor(0.2·n) rows."""
    from aws_etl_bank_spark.functions.scale import top_fraction
    from aws_etl_bank_spark.llm import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality")
    return top_fraction(scored, "quality", 0.2, "doc_id")


@q("text_quality_top_fraction_by_lang", f"""
WITH {_QUALITY_CTES},
ql AS (SELECT q.doc_id, d.lang, q.quality
       FROM q JOIN documents d ON d.doc_id = q.doc_id
       WHERE q.quality IS NOT NULL)
SELECT doc_id, lang, quality FROM ql
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
        <= CAST(floor(0.3 * (COUNT(*) OVER (PARTITION BY lang))) AS BIGINT)""")
def text_quality_top_fraction_by_lang(spark, sf_dir):
    """Stratified curation: the best 30% of documents PER LANGUAGE
    (functions/scale.py top_fraction_by_group) — a grouped window is
    the scale-correct shape here (parallelism = #groups), unlike the
    global selection where a window collapses to one task."""
    from aws_etl_bank_spark.functions.scale import top_fraction_by_group
    from aws_etl_bank_spark.llm import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "lang", "quality")
    return top_fraction_by_group(scored, ["lang"], "quality", 0.3, "doc_id")


@q("scale_shuffle_key", """
SELECT doc_id,
       ((((doc_id + 7919) % 1000003 + 1000003) % 1000003) * 427799)
           % 1000003 AS skey
FROM documents""")
def scale_shuffle_key(spark, sf_dir):
    """Deterministic epoch-shuffle key (functions/scale.py shuffle_key):
    order by (skey, id) for a reproducible pseudo-random training order;
    epoch=1 shifts the permutation.  Engine-reproducible bounded Knuth
    arithmetic (the hash_split/dsir family), map-only, zero shuffles —
    the ordering itself is a range-partitioned sort when materialized,
    never a rank-assignment window."""
    from aws_etl_bank_spark.functions.scale import shuffle_key

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", shuffle_key("doc_id", epoch=1).alias("skey"))


@q("text_token_counts", """
SELECT doc_id,
       CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(greatest(len(string_split_regex(text, '[\\s[:punct:]]+')),
                     CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS bpe_ish_tokens
FROM documents""")
def text_token_counts(spark, sf_dir):
    from aws_etl_bank_spark.llm.text import bpe_ish_token_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


def _langid_oracle() -> str:
    """DuckDB mirror of ``language_id``: same profiles, same scoring, same
    argmax tie-break (struct comparison orders by score then lang)."""
    from aws_etl_bank_spark.llm.text import STOPWORD_PROFILES

    entries = []
    for lang, profile in sorted(STOPWORD_PROFILES.items()):
        in_list = ", ".join(f"'{w}'" for w in profile)
        entries.append(
            "{'score': round(len(list_filter(words, x -> x IN (" + in_list
            + "))) / CAST(len(words) AS DOUBLE), 6), 'lang': '" + lang + "'}"
        )
    structs = ",\n      ".join(entries)
    return rf"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS words
  FROM documents
),
s AS (
  SELECT doc_id, lang,
    list_max([
      {structs}
    ]) AS best
  FROM w
)
SELECT doc_id, lang, best.lang AS predicted_lang,
       round(best.score, 4) AS lang_score
FROM s"""


@q("text_langid", _langid_oracle())
def text_langid(spark, sf_dir):
    from aws_etl_bank_spark.llm import language_id

    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "predicted_lang", "lang_score")


@q("text_fingerprint", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       true AS fp_functional,
       true AS fp_discriminates,
       true AS fp_nonnull
FROM documents""")
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting (whole-text xxhash64 + winnowing-style
    min n-gram hash), converted from rows-only to an INVARIANT oracle
    (r15, the sample_limit precedent): the hash VALUES are not
    SQL-reproducible, but their contract is — (a) one fingerprint row
    per document, (b) FUNCTIONAL over normalized text (identical
    normalized content ⇒ identical fingerprint pair; the property that
    makes fingerprints usable as dedup keys), (c) DISCRIMINATING on
    this corpus (distinct text classes ⇒ distinct fingerprint pairs —
    a 64-bit birthday collision at sf1's 1.5M docs has probability
    ~1e-7, accepted), and (d) non-null everywhere.  The normalization
    here mirrors llm.text.fingerprint's exactly (lower + whitespace
    collapse), so (b)/(c) test the real implementation, not a
    tautology."""
    from aws_etl_bank_spark.llm import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint(docs)
    # coalesce to a sentinel so a NULL-text doc counts as ONE class on
    # BOTH sides of the functional/discriminating compare (count_distinct
    # drops NULL norms but keeps the never-null fingerprint struct —
    # asymmetric without this; latent, current generators emit no NULLs)
    norm = F.coalesce(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " "),
        F.lit("\x00__null_text__"))
    joined = (docs.select("doc_id", norm.alias("__norm"))
              .join(fp, "doc_id"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count_distinct("__norm")
         == F.count_distinct("__norm", "content_hash", "min_gram_hash"))
        .alias("fp_functional"),
        (F.count_distinct("__norm")
         == F.count_distinct(F.struct("content_hash", "min_gram_hash")))
        .alias("fp_discriminates"),
        (F.count_if(F.col("content_hash").isNull()
                    | F.col("min_gram_hash").isNull()) == 0)
        .alias("fp_nonnull"))


def _planted_corpus(spark, sf_dir):
    """documents ∪ exact copies of every 20th doc (new ids +1_000_000):
    a deterministic fixture both Spark and DuckDB rebuild identically,
    giving the hash-family ops a provable ground truth — identical texts
    MUST collide in every hash scheme, so the exact-duplicate projection
    of their candidate sets is oracle-checkable even though the full
    near-dup sets are not SQL-expressible."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.filter(F.col("doc_id") % 20 == 0)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    return docs.unionByName(copies)


_PLANTED_PAIRS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
),
cls AS (SELECT text, MIN(doc_id) AS rep FROM corpus GROUP BY text)
SELECT c.rep AS id_a, a.doc_id AS id_b
FROM corpus a JOIN cls c ON a.text = c.text AND a.doc_id > c.rep"""


def _exact_text_pairs(corpus, pairs):
    """Restrict candidate pairs to identical-text pairs — the provable
    subset (full-recall guarantee: identical text ⇒ same exact-dup
    class ⇒ a star edge from the class representative).  Since the r6
    exact-duplicate pre-pass, the identical-text subset is the STAR set
    (rep, member) per class, not the clique — the oracle mirrors that
    (equal for the twin classes the planted fixture creates; linear, not
    quadratic, on bigger classes)."""
    a = corpus.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    b = corpus.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("__ta") == F.col("__tb"))
        .select("id_a", "id_b")
    )


@q("dedup_minhash_planted_pairs", _PLANTED_PAIRS_ORACLE)
def dedup_minhash_planted_pairs(spark, sf_dir):
    """Oracle-checked projection of banded MinHash-LSH (llm/dedup.py):
    on the planted corpus, the identical-text subset of the LSH candidate
    pairs must be EXACTLY the text-equality self-join DuckDB computes —
    a missing row means the banding lost an exact duplicate (recall
    bug), an extra row is impossible by construction.  The general
    near-dup set stays rows-only (dedup_minhash_pairs)."""
    from aws_etl_bank_spark.llm import minhash_lsh_pairs

    corpus = _planted_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, "text", "doc_id", num_perm=64,
                              bands=16, jaccard_threshold=0.5)
    return _exact_text_pairs(corpus, pairs)


@q("dedup_simhash_planted_pairs", _PLANTED_PAIRS_ORACLE)
def dedup_simhash_planted_pairs(spark, sf_dir):
    """Oracle-checked projection of chunked SimHash (llm/dedup.py), same
    planted-corpus contract as dedup_minhash_planted_pairs: identical
    text ⇒ hamming 0 ⇒ every 16-bit chunk collides ⇒ pair found."""
    from aws_etl_bank_spark.llm import simhash_lsh_pairs

    corpus = _planted_corpus(spark, sf_dir)
    pairs = simhash_lsh_pairs(corpus, "text", "doc_id")
    return _exact_text_pairs(corpus, pairs)


@q("text_fingerprint_planted", """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
)
SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM corpus GROUP BY text HAVING COUNT(*) > 1""")
def text_fingerprint_planted(spark, sf_dir):
    """Oracle-checked projection of document fingerprinting (llm/text.py):
    grouping the planted corpus by (content_hash, min_gram_hash) and
    keeping groups >1 must reproduce DuckDB's group-by-text — identical
    text hashes identically (pure function), and distinct texts
    colliding on a 64-bit xxhash at this corpus size would be a real
    fingerprint defect."""
    from aws_etl_bank_spark.llm import fingerprint

    corpus = _planted_corpus(spark, sf_dir)
    return (
        fingerprint(corpus)
        .groupBy("content_hash", "min_gram_hash")
        .agg(F.min("doc_id").alias("keep_id"),
             F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
        .select("keep_id", "dup_count")
    )


def _twin_token_corpus(spark, sf_dir):
    """Controlled dedup fixture over the documents ids: every doc's text
    is 12 tokens derived from its own doc_id (``w<id>x<i>``), so two
    DISTINCT docs share no shingle (true jaccard 0) while each planted
    twin (every 20th id, copied to id+1_000_000 with the SAME text) has
    jaccard 1.  Because ``minhash_lsh_pairs`` exact-verifies candidates
    against the jaccard threshold, the final pair set is GUARANTEED to be
    exactly the twin pairs — which makes the whole keep composition
    (signature → bands → candidate join → connected components →
    anti-join) oracle-checkable, unlike the free-text corpus whose
    near-dup set is not SQL-expressible."""
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "text",
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.concat(F.lit("w"), F.col("doc_id").cast("string"),
                                   F.lit("x"), i.cast("string")))),
        )
    )
    twins = (base.filter(F.col("doc_id") % 20 == 0)
             .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    return base.unionByName(twins)


@q("dedup_minhash_planted_keep", """
SELECT doc_id FROM documents""")
def dedup_minhash_planted_keep(spark, sf_dir):
    """Oracle-checked keep path of MinHash-LSH dedup (VERDICT r4 items
    4b/7): on the twin-token corpus the verified pair set is exactly the
    planted twins, so transitive keep must equal the exact-dedup keep
    set — every original id survives (it is the min of its component),
    every planted copy is dropped.  The oracle is simply the original
    documents ids."""
    from aws_etl_bank_spark.llm import minhash_dedup_keep

    corpus = _twin_token_corpus(spark, sf_dir)
    keep = minhash_dedup_keep(corpus, "text", "doc_id", transitive=True,
                              num_perm=64, bands=16, jaccard_threshold=0.5)
    return keep.select("doc_id")


@q("multimodal_meta", """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 256 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) * 7) % 256 AS INTEGER) AS height
FROM documents""")
def multimodal_meta(spark, sf_dir):
    """Binary-payload plumbing: attach payload + decode features through the
    Arrow-batched stub decoder (mean_byte excluded from the oracle-checked
    projection; it is exercised in tests)."""
    from aws_etl_bank_spark.llm import attach_binary_payload, decode_image_features

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_image_features(attach_binary_payload(docs), fake=True)
    return feats.select("doc_id", "n_bytes", "width", "height")


@q("multimodal_frames", """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS total FROM documents),
s AS (SELECT doc_id, total,
             greatest(CAST(floor(total / 4.0) AS INT), 1) AS step FROM b),
f AS (SELECT doc_id, unnest(range(0, 4)) AS frame_index, total, step FROM s)
SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
       CAST(greatest(least(step, total - frame_index * step), 0) AS BIGINT)
           AS frame_n_bytes
FROM f""")
def multimodal_frames(spark, sf_dir):
    from aws_etl_bank_spark.llm import attach_binary_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs), n_frames=4)


_PPM_IMGS_SQL = """
imgs AS (SELECT doc_id AS d, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
         FROM documents WHERE doc_id < 500)"""


@q("multimodal_decode_ppm", f"""
WITH {_PPM_IMGS_SQL},
px AS (SELECT d, w, h, unnest(range(0, w * h * 3)) AS i FROM imgs)
SELECT d AS doc_id,
       CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + 3 * w * h AS BIGINT) AS n_bytes,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       ROUND(avg((d * 31 + i * 7) % 256), 4) AS mean_byte
FROM px GROUP BY d, w, h""")
def multimodal_decode_ppm(spark, sf_dir):
    """REAL image decoding (llm/multimodal.py decode_image_features,
    fake=False): deterministic P6 PPM payloads are generated per doc id
    (synthetic_ppm_payloads — pixel i of image d is (d·31 + i·7) mod
    256), then decoded by the numpy P6 parser inside Arrow-batched
    mapInPandas.  Because the fixture is closed-form, the oracle
    recomputes width/height from the id arithmetic, n_bytes from the
    exact header length, and mean_byte by averaging the SAME pixel
    formula over unnest(range(w·h·3)) — a wrong header parse, offset,
    or dropped pixel byte shifts the mean and fails the hash.  The
    decoder itself (not the fixture) is what's under test; BMP and the
    corrupt-payload NULL policy are pinned in tests/test_llm.py."""
    from aws_etl_bank_spark.llm.multimodal import (decode_image_features,
                                                   synthetic_ppm_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    imgs = synthetic_ppm_payloads(docs)
    return decode_image_features(imgs, fake=False)


@q("multimodal_thumbnail_vec", f"""
WITH {_PPM_IMGS_SQL},
pos AS (SELECT d, w, h, unnest(range(0, 16)) AS p FROM imgs),
g AS (SELECT d, w, h, p,
             (((p // 4) * h) // 4 * w + (p % 4) * w // 4) * 3
                 AS base
      FROM pos),
v AS (SELECT d, p,
             (CAST((d * 31 + base * 7) % 256 AS DOUBLE)
              + (d * 31 + (base + 1) * 7) % 256
              + (d * 31 + (base + 2) * 7) % 256) / 3.0 / 255.0 AS val
      FROM g)
SELECT d AS doc_id, CAST(16 AS INT) AS dim,
       ROUND(avg(CAST(CAST(val AS FLOAT) AS DOUBLE)), 4) AS mean_val
FROM v GROUP BY d""")
def multimodal_thumbnail_vec(spark, sf_dir):
    """Decode → nearest-neighbor resize (4×4) → grayscale → unit-range
    vector (llm/multimodal.py image_grayscale_vector): the
    image-to-embedding step that feeds the ANN / semantic-dedup
    operators.  The oracle replays the whole gather in SQL — thumbnail
    position p maps to source pixel ((⌊p/4⌋·h)//4, (p%4·w)//4), channel
    mean over the closed-form pixel bytes, float32 quantization
    matched by the FLOAT cast — and compares the per-image vector mean
    to 4 decimals plus the declared dimensionality; a wrong gather
    index, channel order, or normalization shifts the mean.  Map-only
    (Arrow mapInPandas), no shuffle; the full per-element vector
    equality is pinned in tests/test_llm.py."""
    from aws_etl_bank_spark.llm.multimodal import (image_grayscale_vector,
                                                   synthetic_ppm_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    vec = image_grayscale_vector(synthetic_ppm_payloads(docs),
                                 out_w=4, out_h=4)
    mean_val = F.aggregate("vector", F.lit(0.0),
                           lambda a, x: a + x.cast("double")) / F.size("vector")
    return vec.select("doc_id", F.size("vector").alias("dim"),
                      F.round(mean_val, 4).alias("mean_val"))


@q("multimodal_decode_jpeg", """
WITH imgs AS (
  SELECT doc_id AS d, 1 + doc_id % 3 AS bx, 1 + doc_id % 2 AS by
  FROM documents WHERE doc_id < 300),
blk AS (SELECT d, bx, by, unnest(range(0, bx * by)) AS b FROM imgs),
v AS (SELECT d, bx, by,
             2 * ((31 * d + 17 * b) % 128) AS vy,
             2 * ((7 * d + 29 * b) % 128) AS vcb,
             2 * ((13 * d + 23 * b) % 128) AS vcr
      FROM blk),
px AS (SELECT d, bx, by,
  LEAST(255, GREATEST(0, floor(vy + 1.402 * (vcr - 128) + 0.5))) AS r,
  LEAST(255, GREATEST(0, floor(vy - 0.344136 * (vcb - 128)
                               - 0.714136 * (vcr - 128) + 0.5))) AS g,
  LEAST(255, GREATEST(0, floor(vy + 1.772 * (vcb - 128) + 0.5))) AS bl
  FROM v)
SELECT d AS doc_id,
       CAST(8 * bx AS INT) AS width, CAST(8 * by AS INT) AS height,
       floor(avg(r) * 10000 + 0.5) / 10000 AS mean_r,
       floor(avg(g) * 10000 + 0.5) / 10000 AS mean_g,
       floor(avg(bl) * 10000 + 0.5) / 10000 AS mean_b
FROM px GROUP BY d, bx, by""")
def multimodal_decode_jpeg(spark, sf_dir):
    """REAL JPEG decoding with a from-scratch baseline-sequential codec
    (llm/jpeg.py — marker walk, DHT canonical Huffman build, entropy
    decode with byte-unstuffing, DC prediction, dequant, inverse
    zigzag, float IDCT, JFIF YCbCr→RGB), the r10-verdict follow-up to
    the avro-codec play: no image library exists in the runtime, so
    the decoder is implemented from the public T.81 spec and run
    Arrow-batched in mapInPandas (map-only, no shuffle).  The planted
    fixture (synthetic_jpeg_payloads) is block-constant with EVEN
    YCbCr values and DC quant step 16, which makes the whole decode
    chain integer-exact and closed-form in doc_id (llm/jpeg.py
    fixture_spec) — the oracle replays block geometry, the planted
    constants, and the exact float color transform in SQL, so a wrong
    Huffman code, DC-diff chain, dequant step, IDCT scale, or channel
    order shifts a mean and fails the hash.  Means are exact-integer
    sums / exact counts (order-free); the floor(x·10⁴+0.5)/10⁴ canon
    avoids engine round() half-tie skew.  General-path correctness
    (AC coefficients, 4:2:0, restart markers, corrupt-payload NULLs)
    is pinned in tests/test_jpeg.py."""
    from aws_etl_bank_spark.llm.jpeg import (decode_jpeg_features,
                                             synthetic_jpeg_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    feats = decode_jpeg_features(synthetic_jpeg_payloads(docs))

    def canon(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)) / 10000

    return feats.select(
        "doc_id", "width", "height",
        canon("mean_r").alias("mean_r"),
        canon("mean_g").alias("mean_g"),
        canon("mean_b").alias("mean_b"))


@q("multimodal_decode_jpeg420", """
WITH imgs AS (
  SELECT doc_id AS d, 2 * (1 + doc_id % 2) AS bx, 2 AS by,
         2 * ((7 * doc_id) % 128) AS vcb,
         2 * ((13 * doc_id) % 128) AS vcr
  FROM documents WHERE doc_id < 200),
blk AS (SELECT d, bx, by, vcb, vcr, unnest(range(0, bx * by)) AS b
        FROM imgs),
v AS (SELECT d, bx, by, vcb, vcr,
             2 * ((31 * d + 17 * b) % 128) AS vy
      FROM blk),
px AS (SELECT d, bx, by,
  LEAST(255, GREATEST(0, floor(vy + 1.402 * (vcr - 128) + 0.5))) AS r,
  LEAST(255, GREATEST(0, floor(vy - 0.344136 * (vcb - 128)
                               - 0.714136 * (vcr - 128) + 0.5))) AS g,
  LEAST(255, GREATEST(0, floor(vy + 1.772 * (vcb - 128) + 0.5))) AS bl
  FROM v)
SELECT d AS doc_id,
       CAST(8 * bx AS INT) AS width, CAST(8 * by AS INT) AS height,
       floor(avg(r) * 10000 + 0.5) / 10000 AS mean_r,
       floor(avg(g) * 10000 + 0.5) / 10000 AS mean_g,
       floor(avg(bl) * 10000 + 0.5) / 10000 AS mean_b
FROM px GROUP BY d, bx, by""")
def multimodal_decode_jpeg420(spark, sf_dir):
    """The CHROMA-SUBSAMPLED decode path under the oracle gate:
    4:2:0 baseline JPEGs (full 16×16 MCUs, 2×2 Y blocks + 1 Cb + 1 Cr
    per MCU) with per-block Y and per-image chroma constants
    (llm/jpeg.py fixture_spec_420) — a constant chroma plane
    box-averages to itself, DC-roundtrips exactly, and
    nearest-upsamples back to the same constant, so MCU interleave
    order, sampling-factor bookkeeping, and the upsample gather are
    all hash-checked closed-form (a swapped Y-block within the MCU or
    a mis-strided upsample shifts a block mean).  Same canon as
    multimodal_decode_jpeg."""
    from aws_etl_bank_spark.llm.jpeg import (decode_jpeg_features,
                                             synthetic_jpeg_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = decode_jpeg_features(
        synthetic_jpeg_payloads(docs, subsampling="4:2:0"))

    def canon(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)) / 10000

    return feats.select(
        "doc_id", "width", "height",
        canon("mean_r").alias("mean_r"),
        canon("mean_g").alias("mean_g"),
        canon("mean_b").alias("mean_b"))


@q("multimodal_decode_png", """
WITH imgs AS (
  SELECT doc_id AS d, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 400),
px AS (SELECT d, w, h, unnest(range(0, w * h * 3)) AS i FROM imgs)
SELECT d AS doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       floor(avg((31 * d + 7 * i) % 256) * 10000 + 0.5) / 10000
           AS mean_byte
FROM px GROUP BY d, w, h""")
def multimodal_decode_png(spark, sf_dir):
    """REAL PNG decoding with a from-scratch codec (llm/png.py —
    chunk walk with CRC-32 verification, IDAT inflate via stdlib
    zlib, and full scanline unfiltering: None/Sub/Up/Average/Paeth
    including the floor-average and Paeth tie rules).  Fixture rows
    CYCLE all five filter types at encode time; PNG is lossless, so
    the planted closed-form pixels must come back exactly through
    every unfilter path — a wrong Paeth tie-break or average floor
    shifts the mean and fails the hash.  Same Arrow-batched
    map-only shape as the PPM/BMP/JPEG decoders."""
    from aws_etl_bank_spark.llm.png import (decode_png_features,
                                            synthetic_png_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    feats = decode_png_features(synthetic_png_payloads(docs))
    return feats.select(
        "doc_id", "width", "height", "n_channels",
        (F.floor(F.col("mean_byte") * 10000 + F.lit(0.5)) / 10000)
        .alias("mean_byte"))


@q("multimodal_decode_gif", """
WITH imgs AS (
  SELECT doc_id AS d, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 400),
px AS (SELECT d, w, h,
              (31 * d + 7 * unnest(range(0, w * h))) % 64 AS idx
       FROM imgs)
SELECT d AS doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       floor(avg((4 * idx) % 256) * 10000 + 0.5) / 10000 AS mean_r,
       floor(avg((3 * idx) % 256) * 10000 + 0.5) / 10000 AS mean_g,
       floor(avg((5 * idx) % 256) * 10000 + 0.5) / 10000 AS mean_b
FROM px GROUP BY d, w, h""")
def multimodal_decode_gif(spark, sf_dir):
    """REAL GIF decoding with from-scratch LZW (llm/gif.py): header /
    color-table / sub-block walk plus full LZW dictionary protocol —
    code-size escalation, the KwKwK special case, CLEAR resets at the
    4096 ceiling — implemented from the public spec (no image or LZW
    library here).  GIF is lossless on palette indices, so the
    planted closed-form fixture (index (31d+7i)%64 through the
    (4j,3j,5j)%256 palette) hash-checks the whole decompressor: a
    wrong width-bump boundary or KwKwK branch scrambles pixels and
    the channel means.  Fourth codec in the image family
    (PPM/BMP/JPEG/PNG/GIF); same Arrow-batched map-only shape."""
    from aws_etl_bank_spark.llm.gif import (decode_gif_features,
                                            synthetic_gif_payloads)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    feats = decode_gif_features(synthetic_gif_payloads(docs))

    def canon(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)) / 10000

    return feats.select(
        "doc_id", "width", "height",
        canon("mean_r").alias("mean_r"),
        canon("mean_g").alias("mean_g"),
        canon("mean_b").alias("mean_b"))
