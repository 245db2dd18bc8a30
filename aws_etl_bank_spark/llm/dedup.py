"""Deduplication operators for large-scale training-data pipelines.

All candidate generation is *banded LSH join* — never an all-pairs
product — so the shuffle volume is O(docs × bands), not O(docs²).
Everything below stays JVM-side (built-in array/hash expressions,
``xxhash64`` as the hash family); no Python UDFs in any hot path.

- exact: hash-groupBy (map-side combine applies).
- MinHash+LSH: word-shingles → per-permutation min of seeded xxhash64 →
  band buckets → within-bucket pairs → optional exact-Jaccard verify.
- SimHash: token bit-vote signature as array<int>, banded on 16-bit
  chunks, hamming-verified with zip_with.
- Embedding near-dup: random-hyperplane LSH buckets → within-bucket
  cosine verify.
"""

from __future__ import annotations

import logging
import math
import random

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """One row per distinct value of ``cols``: the lowest id wins, with a
    duplicate count.  Single hash-aggregation; at 100 TB this shuffles once
    on the content hash (group keys), with partial aggregation map-side."""
    return (
        df.groupBy(*cols)
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingles_expr(text_col: str, n: int) -> str:
    """Word n-gram shingles as a SQL expression (array<string>); documents
    shorter than n words contribute their full text as one shingle.

    NOTE: inlines the word split at every reference — including INSIDE the
    transform lambda, where common-subexpression elimination does not
    reach, so the split re-runs per shingle.  Prefer :func:`_shingle_frame`
    (measured ~7x faster at sf0.1); this form is kept for expression-only
    contexts."""
    words = f"split(lower({text_col}), '\\\\s+')"
    return (
        f"CASE WHEN size({words}) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size({words}) - {n}), "
        f"i -> concat_ws(' ', slice({words}, i + 1, {n})))) "
        f"ELSE array(concat_ws(' ', {words})) END"
    )


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int,
                   alias: str = "sh_arr") -> DataFrame:
    """(id, shingle array<string>) with the word split evaluated ONCE per
    row.  A plain ``withColumn`` alias is not enough: CollapseProject +
    ColumnPruning inline the alias into every reference site — including
    INSIDE the transform lambda, where codegen CSE cannot reach, so the
    regex split re-runs per shingle (measured 2.9-7 s vs 0.4 s for the
    bare parse of the sf0.1 corpus).  ``explode(array(split(...)))`` is a
    one-row-per-row Generate whose output attribute the optimizer cannot
    inline — a deliberate, cheap materialization barrier.  Shingles are
    then built with ``element_at`` + ``concat`` (no per-shingle sub-array
    allocation).

    A compact documents file under-splits the scan (1 task at sf0.1), so
    the parse + downstream explode/hash would run serially;
    ``widen_if_underscanned`` spreads it across cores when — and only
    when — the source provides fewer splits than cores (measured:
    minhash signatures 1.6 -> 1.0 s at sf0.1; dead branch at scale)."""
    from aws_etl_bank_spark.functions.scale import widen_if_underscanned

    df = widen_if_underscanned(df, id_col)
    parts = ", ' ', ".join(f"element_at(__words, i + {k})" for k in range(n))
    shingles = (
        f"CASE WHEN size(__words) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(__words) - {n} + 1), "
        f"i -> concat({parts}))) "
        f"ELSE array(concat_ws(' ', __words)) END"
    )
    words = F.explode(F.array(F.expr(f"split(lower({text_col}), '\\\\s+')")))
    return (
        df.select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.expr(shingles).alias(alias))
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, shingle_n: int = 3) -> DataFrame:
    """(id, h0..h{num_perm-1}) MinHash signature.

    One explode + one groupBy: shingle rows are hashed ``num_perm`` ways
    with seeded xxhash64 and min-aggregated per document.  min() combines
    map-side, so the shuffle carries only num_perm longs per document.
    (A map-only variant — array_min over 64 transform() calls per row —
    was measured 2x SLOWER: it allocates 64 arrays per row, while this
    shape stays inside whole-stage-codegen hash aggregation.)"""
    shingled = _shingle_frame(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.explode("sh_arr").alias("shingle")
    ).withColumn("h", F.xxhash64("shingle"))
    # permutation family over ONE string hash: h_i = xxhash64(h, i).  The
    # per-permutation hash re-mixes a fixed-width long (a few multiplies,
    # JVM-side), not the string — and unlike the classic a*h+b trick it
    # never relies on silent bigint overflow wrap, so it is correct under
    # both ANSI postures.
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def _exact_class_split(df: DataFrame, text_col: str, id_col: str):
    """(reps, star): exact-duplicate pre-pass shared by the LSH pair
    generators.

    ``reps`` is one representative row (the smallest id) per
    byte-identical text class; ``star`` is (id_a=rep, id_b=member) for
    every non-representative member.  Identity is keyed on TWO
    independent xxhash64 seeds of the text (128 collision bits — a
    single 64-bit key collides at birthday scale on 100 TB corpora and
    would silently merge distinct documents), so the full text never
    shuffles.

    Why: N byte-identical docs share every band hash, so each LSH band
    bucket yields N²/2 candidate pairs — band width bounds NEAR-dup
    collisions, not exact ones, and real crawl corpora have
    million-member identical classes (r5 verdict #3).  Collapsing each
    class to its representative before signature generation makes
    signature cost and candidate volume linear in the number of DISTINCT
    texts, and the star edges reconnect members to the representative's
    component, so connected components / keep sets are unchanged (a star
    spans the same component as the clique)."""
    # NULL keys on coalesce(text, ''): the shingle/token parsers have
    # always treated a NULL text exactly like an empty string (split of
    # NULL → [''] under the CASE fallback), so NULL docs ARE mutual
    # exact duplicates of each other and of ''-text docs — the class key
    # must agree with the downstream notion of identity or the star
    # edges and the LSH pairs would disagree on NULL corpora.
    #
    # Shape: ONE pass, ONE shuffle — min(id) as a window over the class
    # key (classes are tiny, so (k1,k2)-partitioned windows are
    # perfectly parallel), vs the groupBy + join-back form that scans
    # the input twice and shuffles twice (measured ~0.5 s slower per
    # call at sf0.1).
    from pyspark.sql import Window

    norm_text = F.coalesce(F.col(text_col), F.lit(""))
    classed = df.withColumn("__k1", F.xxhash64(norm_text)).withColumn(
        "__k2", F.xxhash64(norm_text, F.lit(1)))
    classed = classed.withColumn(
        "__rep", F.min(id_col).over(Window.partitionBy("__k1", "__k2")))
    star = classed.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    reps = (classed.filter(F.col(id_col) == F.col("__rep"))
            .drop("__k1", "__k2", "__rep"))
    return reps, star


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_perm: int = 64, bands: int = 16, shingle_n: int = 3,
                      jaccard_threshold: float | None = 0.8,
                      verify: bool = True) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH, optionally
    verified with exact shingle-set Jaccard.

    Output: (id_a, id_b[, jaccard]) with id_a < id_b.  The pair join is
    an equi self-join on (band_index, band_hash) — no cartesian product
    anywhere in the plan (asserted by tests).

    Exact-duplicate classes are collapsed to one representative BEFORE
    signatures (:func:`_exact_class_split`) and re-attached as star
    edges (rep, member, jaccard 1.0) — the pair set is therefore a
    component-preserving sparsification: within an N-member identical
    class you get N-1 star edges, not the N²/2 clique, and cross-class
    near-dup edges connect representatives.  Components, keep sets and
    twin fixtures (class size 2) are identical to the clique form."""
    rows_per_band = num_perm // bands
    df, star = _exact_class_split(df, text_col, id_col)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    band_hashes = F.array(*[
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ])
    banded = sigs.select(F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash"))
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    if not verify:
        return pairs.unionByName(star)
    shingle_sets = _shingle_frame(df, text_col, id_col, shingle_n, alias="sh")
    a = shingle_sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingle_sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    if jaccard_threshold is not None:
        verified = verified.filter(F.col("jaccard") >= jaccard_threshold)
    # star edges are byte-identical texts: jaccard is 1.0 by definition
    # (>= any threshold), no need to re-shingle the members
    return verified.unionByName(star.withColumn("jaccard", F.lit(1.0)))


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iterations: int = 20,
                         on_nonconverged: str = "warn") -> DataFrame:
    """(id, component) for every node of the pair graph; ``component`` is
    the smallest id reachable through pair edges (full transitive closure).

    Min-label propagation: each round every node takes the min label among
    itself and its neighbors — converging in O(graph diameter) rounds.
    Duplicate chains are short in practice, so the loop usually stops after
    2-4 rounds; ``max_iterations`` bounds pathological graphs.  Per round
    (r17, guide §2.4): the "min of self and neighbors" update is ONE
    equi-join + min-aggregate over the edge list WITH a self-loop at every
    node — the self-loop folds the node's own label into the same
    map-side-combined min, so the second per-round join (labels LEFT JOIN
    neighbor-min) the textbook formulation pays is gone.  The cached edge
    list is pre-partitioned on the join key once, so each round shuffles
    only the label table (the edge side joins from its cached layout);
    convergence is a 2-value (count, Σ xxhash64) label signature computed
    in the SAME job that materializes the round's ``localCheckpoint``
    blocks — labels only ever decrease, so a stable signature is a stable
    labeling.  This is the standard iterative-CC-over-edge-list shape that
    scales to 100 TB pair lists; the driver holds only loop control,
    never data.  If ``max_iterations`` rounds pass without a stable
    round a loud warning is emitted: convergence is unverified — labels
    MAY be an under-merged over-approximation (some components appear
    split; they are complete only if the last round happened to apply the
    final updates), never wrongly merged.  ``on_nonconverged="raise"``
    (r16 advice) escalates that warning to a ValueError for callers whose
    downstream contract depends on the full closure — an oracle-checked
    registry entry would otherwise surface a larger-diameter fixture as
    an opaque value-hash mismatch instead of a loud operator error."""
    if on_nonconverged not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconverged must be 'warn' or 'raise', got "
            f"{on_nonconverged!r}")
    e = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    both = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # self-loop at EVERY node: min over Γ(u) ∪ {u} becomes one aggregate
    loops = both.select(F.col("s").alias("s"), F.col("s").alias("d"))
    # pre-partitioned AND pre-sorted on the per-round join key: every
    # round's sort-merge join reads this cached layout as-is — only the
    # label side is exchanged and sorted per round.  The repartition
    # comes FIRST so the dedup rides the same exchange (guide §2.4:
    # clustering on d satisfies the (s, d) dedup's requirement).
    edges = (both.union(loops)
             .repartition("d").dropDuplicates(["s", "d"])
             .sortWithinPartitions("d").persist())
    labels = edges.select(F.col("s").alias("id")).distinct().withColumn("comp", F.col("id"))
    # lazy: materialized by round 1's signature job (an eager checkpoint
    # would spend a dedicated job per round — r17)
    labels = labels.localCheckpoint(eager=False)

    def _sig(lab: DataFrame) -> tuple:
        row = lab.agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.xxhash64("id", "comp")).alias("h")).collect()[0]
        return (row["n"], row["h"])

    # None, not _sig(labels): an up-front signature of the identity
    # labeling would spend one whole extra job on EVERY call to save one
    # round only on inputs with no merging edge at all (labels can then
    # stabilize at round 1; with None the stable pair is seen at round 2)
    prev_sig = None
    converged = False
    for it in range(max_iterations):
        new_labels = (
            edges.join(labels.select(F.col("id").alias("d"), "comp"), "d")
            .groupBy("s").agg(F.min("comp").alias("comp"))
            .withColumnRenamed("s", "id")
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        # the round's ONE job: materializes the lazy checkpoint blocks
        # and folds them into the signature in the same pass
        sig = _sig(new_labels)
        labels = new_labels
        if sig == prev_sig:
            log.info("connected_components: converged after %d rounds", it + 1)
            converged = True
            break
        prev_sig = sig
    edges.unpersist()
    if not converged:
        msg = (
            "connected_components: no zero-change round within "
            f"max_iterations={max_iterations} — convergence unverified; "
            f"components with diameter > {max_iterations} may still be "
            "split (labels are complete only if the final round applied "
            "the last updates). Raise max_iterations for chain-heavy "
            "graphs, or use connected_components_star (round count "
            "diameter-independent).")
        if on_nonconverged == "raise":
            raise ValueError(msg)
        log.warning(msg)
    return labels.select("id", F.col("comp").alias("component"))


def dedup_keep_transitive(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``df`` surviving transitive dedup: exactly one survivor —
    the smallest id — per connected component of the pair graph, plus
    every row in no pair at all."""
    comp = connected_components(pairs)
    losers = (
        comp.filter(F.col("component") != F.col("id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def minhash_dedup_keep(df: DataFrame, text_col: str, id_col: str,
                       transitive: bool = False, **kwargs) -> DataFrame:
    """Documents surviving near-dup removal.

    Greedy (default): drop every doc that is the larger id of any pair —
    one pass, no iteration, but a chain B~C, A~C (no A~B pair) keeps both
    A and B.  ``transitive=True`` runs iterative connected components so
    exactly one doc — the smallest id — survives per duplicate chain."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    if transitive:
        return dedup_keep_transitive(df, pairs, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def decontaminate(df: DataFrame, benchmark: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bench_text_col: str = "text",
                  shingle_n: int = 3, frac_threshold: float = 0.5,
                  mode: str = "flag") -> DataFrame:
    """Benchmark decontamination: score every corpus document by its
    distinct word-``shingle_n``-gram overlap with an evaluation benchmark
    and flag documents whose matched shingle fraction reaches
    ``frac_threshold`` — the standard guard against eval-set leakage into
    training data (real pipelines use long n-grams, e.g. 13, where any
    collision is decisive; the fraction form also works for the short
    n-grams tests use).

    Output: all ``df`` columns plus ``n_matched_ngrams`` (distinct
    shingles shared with the benchmark, bigint), ``matched_frac``
    (share of the document's distinct shingles that are matched, rounded
    to 4), and ``contaminated`` (boolean).  ``mode="drop"`` instead
    returns only the clean rows, signal columns omitted.

    100 TB design: an eval benchmark is tiny (thousands of items), so its
    distinct-shingle set is broadcast — the corpus side is one scan +
    shingle explode + broadcast inner join + one hash aggregation on doc
    id, then an id-keyed join back to the corpus rows (AQE-planned;
    broadcast when the matched set is small).  Nothing corpus×corpus.
    The per-doc shingle parse is the same single-parse Generate barrier
    as every other dedup op (:func:`_shingle_frame`)."""
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    doc_sh = _shingle_frame(df, text_col, id_col, shingle_n)
    doc_sh = doc_sh.select(
        F.col(id_col),
        F.size("sh_arr").alias("__sz"),
        F.explode("sh_arr").alias("__sh"),
    )
    # the benchmark "id" is its own text: _shingle_frame only needs a
    # pass-through column, and a well-distributed key keeps its widen
    # path (if taken) balanced — a constant would hash to one partition
    bench_sh = (
        _shingle_frame(
            benchmark.select(F.col(bench_text_col).alias("__bid"),
                             F.col(bench_text_col)),
            bench_text_col, "__bid", shingle_n)
        .select(F.explode("sh_arr").alias("__sh"))
        .distinct()
    )
    matched = (
        doc_sh.join(F.broadcast(bench_sh), "__sh")
        .groupBy(id_col, "__sz")
        .agg(F.count("*").alias("__n"))  # shingles are distinct per doc
    )
    # 1e-9 nudge: matched_frac is a small-denominator rational, so the
    # 5th decimal can be a systematic half-tie; the nudge makes Spark and
    # a SQL oracle round identically (same rationale as quality_score).
    signals = matched.select(
        F.col(id_col),
        F.col("__n").cast("long").alias("n_matched_ngrams"),
        F.round(F.col("__n") / F.col("__sz") + F.lit(1e-9), 4).alias("matched_frac"),
    )
    out = (
        df.join(signals, id_col, "left")
        .withColumn("n_matched_ngrams", F.coalesce("n_matched_ngrams", F.lit(0).cast("long")))
        .withColumn("matched_frac", F.coalesce("matched_frac", F.lit(0.0)))
        .withColumn("contaminated", F.col("matched_frac") >= frac_threshold)
    )
    if mode == "drop":
        return out.filter(~F.col("contaminated")).drop(
            "n_matched_ngrams", "matched_frac", "contaminated")
    return out


#: Default hub-shingle document-frequency cut.  A shingle occurring in
#: df documents contributes ~df²/2 join rows, so an unbounded hub makes
#: the self-join quadratic; 10k caps any single shingle's contribution
#: at ~50M pairs while being far above honest shingle frequencies (the
#: sf corpora max out at df=25).
DEFAULT_MAX_SHINGLE_DF = 10_000


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        shingle_n: int = 3, threshold: float = 0.5,
                        max_shingle_df: int | str | None = "auto",
                        strategy: str = "postings",
                        report_dropped: bool = False) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity join via an inverted index —
    no LSH approximation and no cartesian product.

    Plan shape (default "postings"): explode distinct shingles → collect
    the sorted posting list per shingle → generate within-list pairs →
    count common shingles per pair → jaccard = common / (|A| + |B| - common).

    At 100 TB the hazard is hub shingles (a shingle present in millions of
    documents makes the pair generation quadratic in its posting list).
    ``max_shingle_df`` drops shingles with document frequency above the cut
    before pairs are generated — the standard prefix-filter trade-off:
    pairs whose overlap is *only* hub shingles are missed, everything else
    is exact.  The default ``"auto"`` applies :data:`DEFAULT_MAX_SHINGLE_DF`
    so the scale-safe plan is the one you get without thinking; pass
    ``None`` to opt into fully exact semantics (quadratic on hub-heavy
    corpora)."""
    if max_shingle_df == "auto":
        max_shingle_df = DEFAULT_MAX_SHINGLE_DF
        log.info(
            "ngram_jaccard_pairs: hub-shingle cut active at df>%d "
            "(pass max_shingle_df=None for fully exact semantics)",
            max_shingle_df,
        )
    # Three exact strategies, all candidate-generation-without-cartesian:
    #
    # "postings" (default; measured 5.6 s vs 8.9 s for "inverted" at sf0.1
    # on this corpus): ONE scan + shingle parse, group by shingle into a
    # sorted posting array, then a two-level explode emits each in-list
    # pair exactly once.  The join-based strategies parse the corpus 4x
    # (both self-join legs plus both df-cut subtrees) because Catalyst
    # cannot dedupe the repeated subplans; this shape parses once and
    # shuffles twice (by shingle, then by pair).  Per-shingle pair work is
    # identical to the self-join's — a hub's pairs land in one task either
    # way, bounded by the df cut.
    #
    # "inverted": explode ALL shingles, self equi-join on the shingle,
    # count common shingles per pair with a groupBy — no per-pair array
    # work at all.  Kept as the A/B reference.
    #
    # "prefix" (SSJoin/PPJoin lemma): under one global total order —
    # lexicographic here — any pair with J >= t shares a shingle inside
    # each side's first |d| - ceil(t*|d|) + 1 sorted shingles, so only
    # prefixes enter the join and full arrays verify candidates exactly.
    # Wins on long documents where even posting-list collection is too
    # wide and only prefixes should enter the index.
    if strategy == "postings":
        # (doc, set size) ride the posting list as a struct, so the
        # corpus really is parsed ONCE and no size join-back is needed:
        # pair rows come out of the explode already carrying both sizes.
        shingled = _shingle_frame(df, text_col, id_col, shingle_n).select(
            F.col(id_col).alias("doc"), F.size("sh_arr").alias("sz"),
            F.explode("sh_arr").alias("sh"),
        )
        postings = (
            shingled.groupBy("sh")
            .agg(F.sort_array(F.collect_set(F.struct("doc", "sz"))).alias("ps"))
            .filter(F.size("ps") >= 2)  # singleton shingles pair nothing
        )
        if max_shingle_df is not None:
            postings = postings.withColumn("df_", F.size("ps"))
            if report_dropped:  # opt-in: costs one extra count job
                n_drop = postings.filter(F.col("df_") > max_shingle_df).count()
                log.info("ngram_jaccard_pairs: dropped %d hub shingles (df > %d)",
                         n_drop, max_shingle_df)
            postings = postings.filter(F.col("df_") <= max_shingle_df)
        # each pair once: ps is sorted by doc, element i pairs with every
        # later element — two pipelined explodes, no self-join; sz_a/sz_b
        # are functionally dependent on the ids, so grouping by all four
        # keys keeps the same pair cardinality.
        return (
            postings
            .select(F.explode(F.expr("sequence(0, size(ps) - 2)")).alias("i"), "ps")
            .select(
                F.expr("element_at(ps, i + 1)").alias("a"),
                F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("b"),
            )
            .groupBy(
                F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"),
                F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
            .withColumn(
                "jaccard",
                F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if strategy == "inverted":
        shingled = _shingle_frame(df, text_col, id_col, shingle_n).select(
            F.col(id_col).alias("doc"), F.explode("sh_arr").alias("sh")
        )
        # set size == array length: map-only, no explode and no groupBy
        sizes = _shingle_frame(df, text_col, id_col, shingle_n).select(
            F.col(id_col).alias("doc"), F.size("sh_arr").alias("sz")
        )
        if max_shingle_df is not None:
            dfreq = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
            if report_dropped:  # opt-in: costs one extra count job
                n_drop = dfreq.filter(F.col("df_") > max_shingle_df).count()
                log.info("ngram_jaccard_pairs: dropped %d hub shingles (df > %d)",
                         n_drop, max_shingle_df)
            keep = dfreq.filter(F.col("df_") <= max_shingle_df).select("sh")
            shingled = shingled.join(keep, "sh")
        a, b = shingled.alias("a"), shingled.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
        return (
            common.join(sa, "id_a").join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if strategy != "prefix":
        raise ValueError(f"ngram_jaccard_pairs: unknown strategy {strategy!r}")
    arrays = _shingle_frame(df, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("doc"), F.array_sort("sh_arr").alias("sh")
    )
    prefix_len = F.greatest(
        F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh")).cast("int") + 1,
        F.lit(1),
    )
    prefixed = arrays.select(
        "doc", F.explode(F.slice("sh", 1, prefix_len)).alias("s")
    )
    if max_shingle_df is not None:
        dfreq = prefixed.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
        if report_dropped:  # opt-in: costs one extra count job
            n_drop = dfreq.filter(F.col("df_") > max_shingle_df).count()
            log.info("ngram_jaccard_pairs: dropped %d hub shingles (df > %d)",
                     n_drop, max_shingle_df)
        keep = dfreq.filter(F.col("df_") <= max_shingle_df).select("s")
        prefixed = prefixed.join(keep, "s")
    a, b = prefixed.alias("a"), prefixed.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    fa = arrays.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    fb = arrays.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(fa, "id_a").join(fb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- SimHash ---------------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       bits: int = 64) -> DataFrame:
    """(id, sig array<int> of ±-vote signs packed per 16-bit chunk as
    array<bigint> chunk hashes, plus bit array) — token-level SimHash.
    Bit votes are computed with bit-extraction expressions on xxhash64 and
    sum-aggregated (map-side combinable)."""
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(((F.shiftright("h", k).bitwiseAND(F.lit(1))) * 2 - 1)).alias(f"v{k}")
        for k in range(bits)
    ]
    sig = tokens.groupBy(id_col).agg(*votes)
    bit_cols = [(F.col(f"v{k}") > 0).cast("int").alias(f"b{k}") for k in range(bits)]
    sig = sig.select(F.col(id_col), *bit_cols)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"b{k}") for k in range(bits)]).alias("bits"),
    )


def simhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str, bits: int = 64,
                      chunks: int = 4, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs where at least one 16-bit chunk matches exactly
    (LSH guarantee for hamming ≤ chunks-1 collisions), verified with an
    exact hamming distance via zip_with.

    Exact-duplicate classes collapse to one representative before
    signatures and re-attach as (rep, member, hamming 0) star edges —
    same component-preserving sparsification as
    :func:`minhash_lsh_pairs` (see :func:`_exact_class_split`)."""
    per = bits // chunks
    df, star = _exact_class_split(df, text_col, id_col)
    sigs = simhash_signatures(df, text_col, id_col, bits)
    chunk_hash = F.array(*[
        F.xxhash64(F.concat_ws(",", *[F.col("bits")[c * per + i] for i in range(per)]))
        for c in range(chunks)
    ])
    banded = sigs.select(F.col(id_col), F.col("bits"), F.posexplode(chunk_hash).alias("chunk", "chash"))
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chash") == F.col("r.chash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.bits").alias("bits_a"),
            F.col("r.bits").alias("bits_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.aggregate(
                F.zip_with("bits_a", "bits_b", lambda x, y: (x != y).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs.unionByName(star.withColumn("hamming", F.lit(0)))


# -- Embedding near-dup ----------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _dot_expr(vec_col, plane: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_dup_pairs(df: DataFrame, vec_col: str, id_col: str, dim: int,
                        n_planes: int = 8, cosine_threshold: float = 0.95,
                        seed: int = 42) -> DataFrame:
    """Near-duplicate vector pairs: random-hyperplane LSH bucket (one
    n_planes-bit signature) → within-bucket equi-join → cosine verify.
    Deterministic for a fixed seed.  Only same-bucket pairs are compared —
    recall can be raised with multiple tables (re-call with other seeds)."""
    planes = _hyperplanes(dim, n_planes, seed)
    sig = F.concat_ws("", *[(_dot_expr(F.col(vec_col), p) > 0).cast("int").cast("string") for p in planes])
    bucketed = df.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))
    l, r = bucketed.alias("l"), bucketed.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)

    def norm(side):
        return F.sqrt(F.aggregate(
            F.transform(F.col(f"{side}.{vec_col}"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))

    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .withColumn("cosine", F.round(dot / (norm("l") * norm("r")), 4))
        .filter(F.col("cosine") >= cosine_threshold)
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"), "cosine")
    )


def line_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               min_chars: int = 1) -> DataFrame:
    """Corpus-wide exact line deduplication (C4/CCNet-style): every
    distinct line is kept at its first occurrence — smallest
    ``(id, position)`` — and removed from every other document; each
    document is then reassembled from its surviving lines in order.

    Returns ``(id, text, n_lines, n_kept)`` for every input row —
    documents whose lines were all claimed elsewhere come back with an
    empty string, so the caller decides the drop policy.  Lines shorter
    than ``min_chars`` (blank lines by default) bypass dedup: a web
    corpus has billions of identical blank/short lines, and removing all
    but one would be noise, not dedup.

    Plan shape (no window over the line key, on purpose): the winner per
    line is ``min(struct(id, pos))`` — a hash aggregation with map-side
    partial combine, so a hub line (boilerplate headers, "Home") reduces
    to one struct per map task instead of serializing a billion-row
    window sort.  The winner rows ARE the kept long lines — no join back
    to the exploded frame.  Cost: explode + two hash aggs + one
    broadcast-or-shuffle join to re-attach empty documents.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    long_kept = (
        lines.filter(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
        .select(F.col(f"w.{id_col}").alias(id_col), F.col("w.pos").alias("pos"),
                "line")
    )
    kept = long_kept.unionByName(lines.filter(F.length("line") < min_chars))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"]),
        ).alias("__text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return base.join(rebuilt, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
    )


# -- Semantic dedup (SemDeDup-style) ---------------------------------------


def assign_cells(df: DataFrame, vec_col: str, id_col: str,
                 centroids: DataFrame | None = None,
                 n_cells: int = 16) -> DataFrame:
    """(id, vec double[], cell_id): each row assigned to its nearest
    centroid by cosine, deterministically (ties break to the lowest
    cell_id).

    ``centroids`` is a tiny (cell_id, centroid array<double>) frame —
    e.g. :func:`~aws_etl_bank_spark.llm.similarity.train_centroids` —
    and is broadcast; the default stand-in (the ``n_cells`` lowest-id
    corpus vectors) keeps the path deterministic with no training job,
    matching ``ivf_topk``'s convention.

    Plan shape: broadcast-nested-loop fan-out to N x n_cells rows, then
    argmax as ``min(struct(-sim, cell_id))`` — a HASH aggregation with
    map-side partial combine (one shuffle of N pre-combined rows), not a
    per-id window sort.  At 100 TB this is one pass over the corpus plus
    one combine-reduced exchange.

    The centroids are L2-normalized up front (tiny frame), which makes
    argmax-cosine = argmax-dot for each row: the row's own norm is a
    constant factor across its n_cells candidates, so no norm is ever
    computed in the N x n_cells hot loop (higher-order array expressions
    are interpreted — per-candidate work is what dominates)."""
    from aws_etl_bank_spark.llm.similarity import _dot, _norm, _to_double

    if centroids is None:
        centroids = (
            df.orderBy(id_col).limit(n_cells)
            .select(F.col(id_col).alias("cell_id"),
                    _to_double(F.col(vec_col)).alias("centroid"))
        )
    else:
        centroids = centroids.select(
            "cell_id", _to_double(F.col("centroid")).alias("centroid"))
    centroids = centroids.withColumn("__cn", _norm(F.col("centroid"))).select(
        "cell_id",
        F.transform("centroid", lambda x: x / F.col("__cn")).alias("centroid"))
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("__v"))
    sim = _dot(F.col("__v"), F.col("centroid"))
    scored = v.join(F.broadcast(centroids), F.lit(True)).select(
        id_col, "__v",
        F.struct((-F.round(sim, 6)).alias("neg_sim"),
                 F.col("cell_id").alias("cell_id")).alias("__w"))
    return (
        scored.groupBy(id_col)
        .agg(F.min("__w").alias("__w"), F.first("__v").alias("__v"))
        .select(F.col(id_col), F.col("__v").alias("vec"),
                F.col("__w.cell_id").alias("cell_id"))
    )


def semantic_dedup_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", n_cells: int = 16,
                         cosine_threshold: float = 0.95,
                         centroids: DataFrame | None = None,
                         assigned: DataFrame | None = None) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings (k-means cells), compare
    cosine only WITHIN a cell, emit pairs at/above the threshold as
    ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    Scale contract: the join is an equi-join on ``cell_id`` — never a
    corpus x corpus product — so the comparison volume is
    sum(cell_size^2) ~ N^2 / n_cells for balanced cells.  ``n_cells``
    must therefore grow with the corpus (SemDeDup uses ~100k clusters at
    web scale; rule of thumb n_cells ~ N / target_cell_rows).  Identical
    vectors always land in the same cell (identical similarities, same
    deterministic tie-break), so exact-duplicate recall is 1.0 by
    construction regardless of centroid quality — that is the planted
    oracle contract (plans/registry_llm_corpus.py: dedup_semantic_pairs).

    ``assigned`` (r17): a precomputed :func:`assign_cells` result
    (columns id, vec, cell_id) to reuse — for callers that also need
    the cell assignment itself (e.g. a recall audit), passing one
    shared (ideally checkpointed) assignment stops the whole
    scan + score + argmin subtree from being planned and executed
    once per consumer."""
    if assigned is None:
        assigned = assign_cells(df, vec_col, id_col, centroids, n_cells)
    from aws_etl_bank_spark.llm.similarity import _dot, _norm

    # compute each row's norm ONCE below the shuffle (the repartition
    # exchange materializes it) so the per-PAIR work inside the cell
    # join is a single dot product — higher-order array expressions are
    # interpreted, not codegen'd, and dot + two norms per pair measured
    # 3x the per-pair cost on the Σ cell² comparisons
    normed = assigned.withColumn("__nrm", _norm(F.col("vec")))
    # pre-partition on the join key BEFORE aliasing the two sides: both
    # join inputs then hang off the SAME exchange subplan (halves the
    # corpus scans vs aliasing first; the join itself adds no shuffle)
    part = normed.repartition("cell_id")
    a = part.select(F.col(id_col).alias("id_a"), F.col("vec").alias("__va"),
                    F.col("__nrm").alias("__na"), "cell_id")
    b = part.select(F.col(id_col).alias("id_b"), F.col("vec").alias("__vb"),
                    F.col("__nrm").alias("__nb"), "cell_id")
    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, ["cell_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup_keep(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", n_cells: int = 16,
                        cosine_threshold: float = 0.95,
                        centroids: DataFrame | None = None) -> DataFrame:
    """Rows surviving semantic dedup: one survivor (smallest id) per
    connected component of the semantic-pair graph — the transitive
    closure, so a chain a~b~c keeps only ``a`` even without an a~c
    pair."""
    pairs = semantic_dedup_pairs(df, vec_col, id_col, n_cells,
                                 cosine_threshold, centroids)
    return dedup_keep_transitive(df, pairs, id_col)


def _probe_cells(df: DataFrame, vec_col: str, id_col: str,
                 centroids: DataFrame, nprobe: int) -> DataFrame:
    """(id, vec, cell_id) with one row per (row, probed cell): the
    ``nprobe`` nearest centroids by dot-against-normalized-centroid,
    deterministically tie-broken.  Window-ranked — meant for the SMALL
    side (a benchmark); the corpus side uses :func:`assign_cells`'s
    agg form."""
    from pyspark.sql import Window

    from aws_etl_bank_spark.llm.similarity import _dot, _norm, _to_double

    if nprobe <= 1:
        return assign_cells(df, vec_col, id_col, centroids)
    cents = centroids.withColumn("__cn", _norm(F.col("centroid"))).select(
        "cell_id",
        F.transform("centroid", lambda x: x / F.col("__cn")).alias("centroid"))
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    sim = _dot(F.col("vec"), F.col("centroid"))
    w = Window.partitionBy(id_col).orderBy(
        F.round(sim, 6).desc(), F.col("cell_id"))
    return (
        v.join(F.broadcast(cents), F.lit(True))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= nprobe)
        .select(id_col, "vec", "cell_id")
    )


def decontaminate_semantic(corpus: DataFrame, benchmark: DataFrame,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           bench_id_col: str | None = None,
                           n_cells: int = 16,
                           cosine_threshold: float = 0.95,
                           centroids: DataFrame | None = None,
                           mode: str = "flag",
                           nprobe: int = 1) -> DataFrame:
    """Embedding-space decontamination: flag corpus rows whose vector is
    within ``cosine_threshold`` of ANY benchmark vector — catches eval
    leakage that survives paraphrase, which n-gram :func:`decontaminate`
    misses.

    ``mode="flag"`` → ``(id, n_matches, max_cosine)`` for contaminated
    rows; ``mode="drop"`` → the clean corpus rows.

    100 TB design: the corpus is cell-assigned once (:func:`assign_cells`
    — broadcast centroids, map-side argmax); the benchmark is tiny so
    its cell-assigned, L2-normalized form is BROADCAST and the match is
    a broadcast equi-join on cell_id + one dot product per same-cell
    candidate.  Nothing corpus x benchmark-wide, no shuffle of corpus
    rows beyond the assignment's combine-reduced exchange.  Exact
    copies of a benchmark vector are always caught (identical vectors
    co-cell deterministically); near-matches straddling a cell boundary
    are subject to the same within-cell recall contract as SemDeDup.
    ``nprobe`` restores boundary recall: each benchmark vector is
    replicated into its ``nprobe`` nearest cells (benchmark is tiny, so
    the broadcast grows by nprobe, not the corpus side); at
    ``nprobe=n_cells`` the match is exact brute force (property-tested).
    Trained ``centroids`` raise cell quality when recall matters."""
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be flag|drop, got {mode!r}")
    bench_id = bench_id_col or id_col
    from aws_etl_bank_spark.llm.similarity import _dot, _norm

    if centroids is None:
        # derive the stand-in from the CORPUS and pass it explicitly:
        # letting assign_cells default per-frame would give corpus and
        # benchmark different centroid sets, breaking co-celling
        centroids = (
            corpus.orderBy(id_col).limit(n_cells)
            .select(F.col(id_col).alias("cell_id"),
                    F.transform(vec_col, lambda x: x.cast("double"))
                    .alias("centroid"))
        )
    c = (assign_cells(corpus, vec_col, id_col, centroids, n_cells)
         .withColumn("__cn", _norm(F.col("vec"))))
    b = (_probe_cells(benchmark, vec_col, bench_id, centroids, nprobe)
         .withColumnRenamed(bench_id, "__bid")
         .withColumn("__bn", _norm(F.col("vec")))
         .select("__bid", F.col("vec").alias("__bv"), "__bn", "cell_id"))
    cos = _dot(F.col("vec"), F.col("__bv")) / (F.col("__cn") * F.col("__bn"))
    matches = (
        c.join(F.broadcast(b), "cell_id")
        .withColumn("__cos", F.round(cos, 4))
        .filter(F.col("__cos") >= cosine_threshold)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matches"),
             F.max("__cos").alias("max_cosine"))
    )
    if mode == "flag":
        return matches
    return corpus.join(matches.select(id_col), id_col, "left_anti")


def fuzzy_pairs_ed1(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """All pairs within Levenshtein edit distance 1 via SymSpell-style
    deletion-neighborhood blocking (Garbe's symmetric-delete algorithm,
    public domain): each string expands to itself plus its ``len``
    single-character-deletion variants; two strings with ed ≤ 1 ALWAYS
    share a variant (delete the edited position from both sides — a
    substitution meets in the middle, an insert/delete meets at the
    shorter string), so the variant equi-join is a LOSSLESS candidate
    generator.  Candidates sharing a variant at ed 2 (two deletions that
    happen to collide) are removed by the exact ``levenshtein`` verify.

    Scale (r17, guide §2.3/§8 — shuffle keys, not payloads): the
    variant rows that cross the wire are (id, xxhash64(variant)) — 16
    bytes each, O(rows × avg_len) of them — and the texts are joined
    back BY ID onto the distinct candidate pairs before the verify.
    Carrying the text through the variant exchange instead (the naive
    shape) multiplies the payload by the explosion factor: O(rows ×
    len²) shuffle bytes, quadratic in string length.  The candidate
    join is banded like MinHash, never an all-pairs product; the
    exact-levenshtein verify runs only on bucket collisions.  For long
    documents run this on a normalized key field (title, URL, licence
    string), not the body.  Ids are assumed unique (a duplicated id
    joins back every text that shares it).

    Returns (id_a, text_a, id_b, text_b, dist) with id_a < id_b.
    """
    s = F.col(text_col)
    # positions 1..len: concat(prefix before i, suffix after i)
    variants = F.concat(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(s.substr(F.lit(1), i - F.lit(1)),
                               s.substr(i + F.lit(1), F.length(s)))))
    sig = (df.select(F.col(id_col).alias("__id"),
                     F.explode(variants).alias("__v"))
           .select("__id", F.xxhash64("__v").alias("__h"))
           .dropDuplicates(["__id", "__h"]))
    a = sig.select(F.col("__id").alias("id_a"), "__h")
    b = sig.select(F.col("__id").alias("id_b"), "__h")
    cand = (a.join(b, "__h")
            .where(F.col("id_a") < F.col("id_b"))
            .drop("__h").dropDuplicates(["id_a", "id_b"]))
    ta = df.select(F.col(id_col).alias("id_a"), s.alias("text_a"))
    tb = df.select(F.col(id_col).alias("id_b"), s.alias("text_b"))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .select("id_a", "text_a", "id_b", "text_b")
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .where(F.col("dist") <= 1)
    )


def minhash_band_index(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, bands: int = 16,
                       shingle_n: int = 3,
                       collapse_exact: bool = False) -> DataFrame:
    """(id, band, band_hash) — the persistable LSH index rows for
    ``df``.  Writing this once per corpus (bucketed by band_hash) is
    what makes dedup INCREMENTAL: a new batch is indexed and joined
    against the stored rows instead of re-hashing the whole corpus.

    ``collapse_exact=True`` stores ONE representative per byte-identical
    text class (the :func:`_exact_class_split` pre-pass): an N-member
    identical class otherwise contributes N copies of every band row,
    so each colliding batch doc would fan out to N match rows — the
    incremental sibling of the pair-generator blowup.  A batch doc
    matching the representative still answers "is this a duplicate of
    something ingested?"; keep the default when you need the match list
    to name every historical copy."""
    rows_per_band = num_perm // bands
    if collapse_exact:
        df, _ = _exact_class_split(df, text_col, id_col)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    band_hashes = F.array(*[
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ])
    return sigs.select(F.col(id_col),
                       F.posexplode(band_hashes).alias("band", "band_hash"))


def minhash_incremental_matches(batch: DataFrame, index: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_perm: int = 64, bands: int = 16,
                                shingle_n: int = 3) -> DataFrame:
    """Incremental dedup: candidate (batch_id, corpus_id) collisions of a
    NEW batch against a PREVIOUSLY BUILT ``minhash_band_index`` — the
    daily-ingest shape where re-hashing the historical corpus would be
    O(corpus) per batch.  Only the batch is shingled/hashed
    (O(batch)); the join is the same banded equi-join as
    ``minhash_lsh_pairs``, with the index side pre-bucketed on
    (band, band_hash) if it was written with ``write_bucketed``.

    Returns distinct (batch_id, corpus_id) candidates; same-id matches
    (a re-ingested document meeting its own index rows) are kept — the
    caller decides whether identity collisions mean "already ingested".
    Verification against raw text requires the corpus texts and is the
    caller's second join, exactly as in ``minhash_lsh_pairs``.

    Join strategy (r16 decade audit, measured at 500 k docs): the
    batch's band rows outgrow the auto-broadcast threshold at 16
    bands, so this is a shuffle join whose index-side cost grows with
    the corpus — ~0.7 s/batch at the decade scale.  An explicit
    ``F.broadcast`` on the batch side was TRIED and measured 2.5×
    WORSE end-to-end: broadcast materialization removes the shuffle
    files that otherwise let Spark reuse the band-hash subtree across
    the candidate/verify/index-append consumers, so the whole MinHash
    lineage recomputes per consumer.  The production-scale mitigation
    is co-location instead: persist the index with ``write_bucketed``
    on BOTH (band, band_hash) and the join leaves the index side
    entirely Exchange-free — only the O(batch) side re-partitions
    into the bucket layout (plan shape pinned in
    tests/test_scale.py::test_bucketed_minhash_index_join_leaves_index_side_shuffle_free)."""
    b = minhash_band_index(batch, text_col, id_col, num_perm, bands,
                           shingle_n)
    return band_rows_matches(b, index, id_col)


def band_rows_matches(batch_bands: DataFrame, index: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """The banded candidate equi-join of :func:`minhash_incremental_matches`
    for PRE-COMPUTED batch band rows (``minhash_band_index`` output).
    Split out (r17) so a caller joining one batch against SEVERAL index
    slices — e.g. the streaming dedup's bucketed compacted history plus
    its small uncompacted tail — hashes the batch once, persists the
    band rows, and reuses them across every slice join instead of
    re-running the MinHash lineage per slice."""
    return (
        batch_bands.alias("b").join(
            index.alias("i"),
            (F.col("b.band") == F.col("i.band"))
            & (F.col("b.band_hash") == F.col("i.band_hash")))
        .select(F.col(f"b.{id_col}").alias("batch_id"),
                F.col(f"i.{id_col}").alias("corpus_id"))
        .distinct()
    )


def substring_span_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8,
                         max_shingle_occurrences: int = 64) -> DataFrame:
    """Exact duplicated-substring spans across documents — the
    substring-level dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), which removes repeated ≥k-token
    passages that doc-level MinHash misses (boilerplate headers, quoted
    chunks, licence blocks).  The reference engine has no substring
    dedup; this is the training-data extension the suffix-array method
    maps to in pure DataFrame algebra.

    Distributed shape (no suffix array, same result for word tokens):

    1. every doc emits its positioned k-token shingles, hashed to 8
       bytes (``xxhash64``) so the shuffle never carries shingle text;
    2. hub shingles occurring more than ``max_shingle_occurrences``
       times corpus-wide are cut (hash-agg + equi-join, skew-safe —
       a window count would put one hub shingle in one task);
    3. a self equi-join on the hash yields (pos_a, pos_b) matches;
    4. runs of consecutive matches at constant offset ``pos_a - pos_b``
       merge into maximal spans (gaps-and-islands: one window per
       (id_a, id_b, offset) group — bounded by matches per doc PAIR,
       never corpus-sized).

    Every k-token duplicate is found (exact, not probabilistic); a
    hash collision (~2^-64/pair) could add a false match — the oracle
    joins on shingle text and would catch it.  Spans of ``span_tokens``
    > k are maximal runs; overlapping spans at different offsets (self-
    repetitive text) are reported separately, as in the paper.
    Positions are 1-based token indices after ``split(lower(text),
    '\\s+')``.  At 100 TB the positioned-shingle frame is ~20 bytes/
    token — the same order as the suffix-array approach's index — and
    every stage is a hash-partitioned agg/join with map-side combine.
    """
    from aws_etl_bank_spark.functions.scale import widen_if_underscanned

    df = widen_if_underscanned(df, id_col)
    parts = ", ' ', ".join(f"element_at(__words, i + {j})" for j in range(k))
    sh = (f"transform(sequence(1, size(__words) - {k} + 1), "
          f"i -> xxhash64(concat({parts})))")
    # explode(array(...)) materialization barrier: see _shingle_frame
    words = F.explode(F.array(F.expr(f"split(lower({text_col}), '\\\\s+')")))
    pos_sh = (
        df.select(F.col(id_col), words.alias("__words"))
        .filter(F.expr(f"size(__words) >= {k}"))
        .select(F.col(id_col), F.posexplode(F.expr(sh)).alias("__p0", "__h"))
        .select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "__h"))
    ok = (pos_sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__occ"))
          .filter(F.col("__occ") <= max_shingle_occurrences)
          .select("__h"))
    pos_sh = pos_sh.join(ok, "__h")
    a = pos_sh.select(F.col(id_col).alias("id_a"),
                      F.col("pos").alias("pos_a"), "__h")
    b = pos_sh.select(F.col(id_col).alias("id_b"),
                      F.col("pos").alias("pos_b"), "__h")
    m = (a.join(b, "__h").filter(F.col("id_a") < F.col("id_b"))
         .withColumn("__off", F.col("pos_a") - F.col("pos_b")))
    from pyspark.sql import Window
    w = Window.partitionBy("id_a", "id_b", "__off").orderBy("pos_a")
    return (
        m.withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__off", "__isl")
        .agg(F.min("pos_a").alias("start_a"),
             F.min("pos_b").alias("start_b"),
             (F.max("pos_a") - F.min("pos_a") + k).alias("span_tokens"))
        .select("id_a", "id_b",
                F.col("start_a").cast("int").alias("start_a"),
                F.col("start_b").cast("int").alias("start_b"),
                F.col("span_tokens").cast("int").alias("span_tokens"))
    )


def ngram_containment_pairs(df: DataFrame, text_col: str, id_col: str,
                            shingle_n: int = 3, threshold: float = 0.8,
                            max_shingle_df: int | str | None = "auto") -> DataFrame:
    """DIRECTIONAL near-duplicate detection by n-gram CONTAINMENT —
    ``C(src → dst) = |sh(src) ∩ sh(dst)| / |sh(src)|`` — the asymmetric
    companion of :func:`ngram_jaccard_pairs`: a short document pasted
    inside a long one has low Jaccard (the union is big) but containment
    ≈ 1 from the short side, which is exactly the quote/boilerplate/
    subset-duplication case Jaccard misses (Broder 1997's "containment"
    resemblance).

    Same scale-safe postings plan as the Jaccard op (ONE corpus parse,
    sorted posting list per shingle, two-level explode emits each
    unordered pair once, hub-shingle df cut bounds any shingle's
    quadratic contribution); each surviving pair then emits up to TWO
    directional rows — dividing the shared count by the source side's
    set size costs nothing extra.  Output: (src, dst, n_common,
    containment) for containment ≥ threshold, src ≠ dst."""
    if max_shingle_df == "auto":
        max_shingle_df = DEFAULT_MAX_SHINGLE_DF
    shingled = _shingle_frame(df, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("doc"), F.size("sh_arr").alias("sz"),
        F.explode("sh_arr").alias("sh"),
    )
    postings = (
        shingled.groupBy("sh")
        .agg(F.sort_array(F.collect_set(F.struct("doc", "sz"))).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    if max_shingle_df is not None:
        postings = postings.filter(F.size("ps") <= max_shingle_df)
    pairs = (
        postings
        .select(F.explode(F.expr("sequence(0, size(ps) - 2)")).alias("i"), "ps")
        .select(
            F.expr("element_at(ps, i + 1)").alias("a"),
            F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("b"),
        )
        .groupBy(
            F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"),
            F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    directed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
        "n_common", F.col("sz_a").alias("sz_src"),
    ).unionByName(pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
        "n_common", F.col("sz_b").alias("sz_src"),
    ))
    # Filter on the UNROUNDED ratio (IEEE int/int division is exact, so
    # Spark and a SQL oracle agree bit-for-bit at the threshold); the
    # rounded form is output-only, with the house 1e-9 half-tie nudge
    # (same convention as decontaminate/quality_score).  Filtering on
    # the rounded value admitted raw containment in [0.79995, 0.8) that
    # a raw-ratio oracle rejects.
    return (directed
            .withColumn("__raw", F.col("n_common") / F.col("sz_src"))
            .filter(F.col("__raw") >= threshold)
            .withColumn("containment",
                        F.round(F.col("__raw") + F.lit(1e-9), 4))
            .select("src", "dst", F.col("n_common").cast("long"),
                    "containment"))


def decontaminate_bloom(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text", shingle_n: int = 3,
                        frac_threshold: float = 0.5,
                        m_bits: int = 1 << 17) -> DataFrame:
    """:func:`decontaminate` with a Bloom-bitmap PREFILTER on the corpus
    shingles — the shape for when the benchmark's distinct-shingle set
    is too big to broadcast as rows but its ≤32 KiB bitmap never is
    (the string sibling of functions/scale.py bloom_prefilter_join).

    Corpus shingles failing the bitmap test (guaranteed non-matches —
    Bloom has no false negatives) never reach the exact join's shuffle;
    false positives are eliminated by the exact join that follows, so
    the output is BYTE-IDENTICAL to :func:`decontaminate` — which is
    what its oracle checks.  Per-doc shingle totals are taken BEFORE
    the prefilter, so matched_frac denominators are unchanged."""
    from aws_etl_bank_spark.functions.scale import (bloom_bitmap,
                                                    bloom_might_contain)

    doc_sh = _shingle_frame(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.size("sh_arr").alias("__sz"),
        F.explode("sh_arr").alias("__sh"))
    bench_sh = (
        _shingle_frame(
            benchmark.select(F.col(bench_text_col).alias("__bid"),
                             F.col(bench_text_col)),
            bench_text_col, "__bid", shingle_n)
        .select(F.explode("sh_arr").alias("__sh"))
        .distinct())
    bloom = bloom_bitmap(bench_sh, "__sh", m_bits=m_bits)
    prefiltered = (doc_sh.crossJoin(F.broadcast(bloom))
                   .where(bloom_might_contain(F.col("__bloom"),
                                              F.col("__sh"), m_bits=m_bits))
                   .drop("__bloom"))
    matched = (prefiltered.join(F.broadcast(bench_sh), "__sh")
               .groupBy(id_col, "__sz")
               .agg(F.count("*").alias("__n")))
    signals = matched.select(
        F.col(id_col),
        F.col("__n").cast("long").alias("n_matched_ngrams"),
        F.round(F.col("__n") / F.col("__sz") + F.lit(1e-9), 4)
        .alias("matched_frac"))
    return (df.join(signals, id_col, "left")
            .withColumn("n_matched_ngrams",
                        F.coalesce("n_matched_ngrams", F.lit(0).cast("long")))
            .withColumn("matched_frac", F.coalesce("matched_frac", F.lit(0.0)))
            .withColumn("contaminated",
                        F.col("matched_frac") >= frac_threshold))


def remove_duplicate_spans(df: DataFrame, spans: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Second half of the Lee et al. passage-dedup pipeline: given the
    (id_a, id_b, start_b, span_tokens) pairs from
    :func:`substring_span_pairs`, CUT each duplicated passage from the
    higher-id document (keep-first: every duplicate class retains its
    content only in its smallest doc id) and splice the survivor tokens
    back into text.  Returns (id, clean_text, n_removed) for EVERY
    input document — untouched docs pass through with n_removed = 0.

    Distributed shape: per-doc cut intervals first MERGE (overlapping
    spans against different partners collapse — gaps-and-islands over a
    running max(e), groups bounded by spans per doc, never corpus-
    sized), then collect to ONE array per affected doc and broadcast-
    class equi-join back to the corpus; the splice itself is a map-side
    array expression (filter positions not covered by any interval →
    element_at gather → concat_ws) inside whole-stage codegen — the
    token frame never explodes into a shuffle.  Positions are 1-based
    indices of ``split(lower(text), '\\s+')``, the same tokenization
    the span finder used; the cleaned text is therefore the lowered
    form (the normalization under which spans were defined)."""
    from pyspark.sql import Window

    cuts = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").cast("long").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).cast("long").alias("e"))
    w = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        cuts.withColumn(
            "__ni",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
            .otherwise(0))
        .withColumn("__isl", F.sum("__ni").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(id_col, "__isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__ivl")))
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("__toks")) \
             .join(merged, id_col, "left")
    kept = F.expr(
        "filter(sequence(1, size(__toks)), p -> __ivl is null or "
        "not exists(__ivl, iv -> p >= iv.s and p <= iv.e))")
    return (base.withColumn("__kept", kept)
            .select(
                id_col,
                F.concat_ws(
                    " ",
                    F.expr("transform(__kept, p -> element_at(__toks, p))"))
                .alias("clean_text"),
                (F.size("__toks") - F.size("__kept")).cast("long")
                .alias("n_removed")))


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_rounds: int = 50) -> DataFrame:
    """(id, component) via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the scale path next to :func:`connected_components`: min-label
    propagation needs O(diameter) rounds, so a million-node chain
    needs a million joins; star rounds contract the graph toward
    rooted stars in O(log² n) rounds REGARDLESS of diameter.

    Per round (both phases are one groupBy-min + one join + one
    explode-free emit — everything shuffles on node id with map-side
    combine):

    - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
      rewires each LARGER neighbor v>u to m;
    - small-star: every node u with smaller neighbors Γ⁻(u) computes
      m = min(Γ⁻(u)) and rewires Γ⁻(u) ∪ {u} to m.

    The large-star output ``ls`` is lazily ``localCheckpoint``-ed
    every round (r17): it feeds the small-star min-aggregate AND the
    small-star join-back, and the captured executed round plan
    (plans/r17/graph_cc_star_round_before.txt) shows filter pushdown
    specializing each consumer's copy of the subtree — ReuseExchange
    sees different subplans and the whole large-star join re-executed
    3-4× per round.  With the checkpoint the join runs once and the
    consumers read its blocks.  Two shapes A/B'd same-JVM and
    REJECTED (r17, all four variants local parity at sf0.1 —
    per-round cost there is stage machinery over tiny frames, so the
    choice is on scale grounds): an explicit shared ``repartition``
    per phase (pushdown specializes the copies anyway, and it costs
    the min-aggregate its map-side partial combine — the exchange
    carries raw edges instead of per-key mins), and per-round
    ``persist``/unpersist of the phase frames (measured 35% WORSE
    locally: cache write + InMemoryRelation machinery exceeds the
    recompute it saves at this size, and the checkpoint already
    stops the expensive re-execution).

    Convergence = the canonical edge multiset is stable round-over-
    round, detected with a (count, Σ xxhash64) signature — one tiny
    aggregate, no edge-set diff join.  At convergence every edge is
    (node, root-of-its-component).  The driver holds loop control and
    the 2-value signature, never data; ``localCheckpoint`` truncates
    lineage per round."""
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # nodes BEFORE the self-loop filter: a node whose only edge is a
    # self-loop is still a (singleton) component, like min-label CC.
    # LAZY checkpoints throughout (r17): an eager localCheckpoint runs a
    # dedicated materialization job, then the next action re-reads the
    # cached blocks — with eager=False the first real action (the round's
    # convergence-signature collect, or the caller's final action for
    # `nodes`) materializes the blocks in the same job, halving the
    # job count of every round at identical lineage-truncation safety.
    nodes = (raw.select(F.col("a").alias("id"))
             .union(raw.select(F.col("b").alias("id")))
             .distinct().localCheckpoint(eager=False))
    e0 = raw.filter(F.col("a") != F.col("b"))
    edges = (e0.select(F.least("a", "b").alias("a"),
                       F.greatest("a", "b").alias("b"))
             .distinct().localCheckpoint(eager=False))
    prev_sig, converged = None, False
    for _ in range(max_rounds):
        both = edges.union(edges.select(F.col("b").alias("a"),
                                        F.col("a").alias("b")))
        mins = both.groupBy("a").agg(F.min("b").alias("mn"))
        j = both.join(mins, "a").withColumn("m", F.least("mn", F.col("a")))
        # ls is CHECKPOINTED, not just distinct'd (r17): its two
        # consumers (small-star min + join-back) otherwise re-execute
        # the whole large-star join — pushdown specializes each copy of
        # the subtree, so ReuseExchange cannot dedup them (see the
        # captured executed round plan under plans/r17/)
        ls = (j.filter(F.col("b") > F.col("a"))
              .select(F.col("b").alias("a"), F.col("m").alias("b"))
              .filter(F.col("a") != F.col("b")).distinct()
              .localCheckpoint(eager=False))
        # small-star: ls edges are already (larger, smaller)
        mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        em1 = (ls.join(mins2, "a")
               .select(F.col("b").alias("a"), F.col("m").alias("b")))
        em2 = mins2.select("a", F.col("m").alias("b"))
        edges_new = (em1.union(em2).filter(F.col("a") != F.col("b"))
                     .select(F.least("a", "b").alias("a"),
                             F.greatest("a", "b").alias("b"))
                     .distinct().localCheckpoint(eager=False))
        # this collect is the round's ONE job: it materializes the lazy
        # checkpoint blocks (ls first, then the new edge set off it) and
        # folds them into the 2-value signature
        s = edges_new.agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.xxhash64("a", "b")).alias("h")).collect()[0]
        sig = (s["n"], s["h"])
        edges = edges_new
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        log.warning(
            "connected_components_star: edge set not stable within "
            "max_rounds=%d — labels may be under-contracted.", max_rounds)
    # at convergence every canonical edge is (root, node): the root is
    # the component MIN, so it lands in the `a` slot
    labeled = edges.select(F.col("b").alias("id"),
                           F.col("a").alias("component"))
    # roots map to themselves; isolated original nodes keep themselves
    rest = (nodes.join(labeled.select("id"), "id", "left_anti")
            .withColumn("component", F.col("id")))
    return labeled.unionByName(rest.select("id", "component"))
