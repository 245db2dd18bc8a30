"""Scale tools: salting correctness and bucketed shuffle-free joins."""

import pyspark.sql.functions as F
import pytest

from aws_etl_bank_spark.functions import scale


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_agg_matches_plain_agg(spark):
    df = spark.range(0, 10_000).withColumn("k", F.pmod("id", F.lit(3))) \
        .withColumn("v", F.col("id") * 2)
    plain = {(r["k"], r["total"], r["n"])
             for r in df.groupBy("k").agg(F.sum("v").alias("total"),
                                          F.count(F.lit(1)).alias("n")).collect()}
    salted = {(r["k"], r["total"], r["n"])
              for r in scale.salted_agg(
                  df, ["k"],
                  partials=[F.sum("v").alias("pv"), F.count(F.lit(1)).alias("pc")],
                  aggs=[F.sum("pv").alias("total"), F.sum("pc").alias("n")],
                  n_salts=8).collect()}
    assert salted == plain


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 5_000).withColumn("k", F.pmod("id", F.lit(4)))
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, tag string")
    plain = {(r["id"], r["tag"]) for r in big.join(small, "k").collect()}
    salted = {(r["id"], r["tag"]) for r in scale.salted_join(big, small, "k", n_salts=4).collect()}
    assert salted == plain


def test_salt_deterministic_by_column(spark):
    df = spark.createDataFrame([(1,), (2,), (1,)], "k long")
    out = scale.with_salt(df, n_salts=64, deterministic_by="k").collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r["k"], set()).add(r["_salt"])
    assert all(len(s) == 1 for s in by_k.values())  # same key → same salt


def test_default_salt_is_deterministic_across_runs(spark):
    # the default salt is a pure function of row content — two separate
    # evaluations (as on a task retry) must assign identical salts
    df = spark.range(0, 2_000).withColumn("k", F.pmod("id", F.lit(7)))
    one = {r["id"]: r["_salt"] for r in scale.with_salt(df, n_salts=16).collect()}
    two = {r["id"]: r["_salt"] for r in scale.with_salt(df, n_salts=16).collect()}
    assert one == two
    assert len(set(one.values())) > 1  # and it still spreads rows


def test_default_salt_plan_has_no_nondeterministic_expr(spark):
    df = spark.range(0, 10).withColumn("k", F.pmod("id", F.lit(3)))
    plan = _plan(scale.with_salt(df, n_salts=8))
    assert "monotonically_increasing_id" not in plan


def test_bucketed_join_has_no_shuffle(spark, scratch):
    # saveAsTable writes to the default warehouse dir (gitignored)
    a = spark.range(0, 1_000).withColumn("k", F.pmod("id", F.lit(50))) \
        .withColumn("va", F.col("id") + 1)
    b = spark.range(0, 1_000).withColumn("k", F.pmod("id", F.lit(50))) \
        .withColumn("vb", F.col("id") + 2)
    scale.write_bucketed(a.select("k", "va"), "bkt_a", "k", n_buckets=8)
    scale.write_bucketed(b.select("k", "vb"), "bkt_b", "k", n_buckets=8)
    # bucketed scans only report bucketing when AQE doesn't coalesce them;
    # restore the session-wide pin (session.OPTIONAL_CONFS) afterwards
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        joined = scale.read_bucketed(spark, "bkt_a").join(
            scale.read_bucketed(spark, "bkt_b"), "k")
        plan = _plan(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set(key, old)
    # the join itself needs no Exchange: both sides pre-partitioned on k
    assert "Exchange hashpartitioning(k" not in plan
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_widen_if_underscanned_only_fires_below_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1_000).coalesce(1).withColumn("k", F.pmod("id", F.lit(7)))
    widened = scale.widen_if_underscanned(narrow, "k")
    assert widened.rdd.getNumPartitions() == cores
    # grouped result unchanged
    base = {(r["k"], r["n"]) for r in
            narrow.groupBy("k").agg(F.count("*").alias("n")).collect()}
    out = {(r["k"], r["n"]) for r in
           widened.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert out == base
    # at-or-above cores: unchanged plan (no-op)
    wide = spark.range(0, 1_000).repartition(cores + 4)
    assert scale.widen_if_underscanned(wide, "id") is wide


def test_widen_is_idempotent_under_composition(spark, tmp_path):
    # a compact single-file parquet source under-splits the scan
    p = str(tmp_path / "narrow.parquet")
    spark.range(0, 1_000).withColumn("k", F.pmod("id", F.lit(7))) \
        .coalesce(1).write.mode("overwrite").parquet(p)
    src = spark.read.parquet(p)
    once = scale.widen_if_underscanned(src)           # round-robin widen
    assert once is not src
    # composing a second widened operator must NOT stack another shuffle
    assert scale.widen_if_underscanned(once) is once
    assert scale.widen_if_underscanned(once, "k") is once


def test_widen_fires_on_coalesce_over_repartition(spark, tmp_path):
    p = str(tmp_path / "renarrow.parquet")
    spark.range(0, 1_000).coalesce(1).write.mode("overwrite").parquet(p)
    cores = spark.sparkContext.defaultParallelism
    # a coalesce stacked over a repartition re-narrows the frame: the
    # topmost repartition-family node is the coalesce, so widen must fire
    renarrowed = spark.read.parquet(p).repartition(cores).coalesce(1)
    widened = scale.widen_if_underscanned(renarrowed)
    assert widened.rdd.getNumPartitions() == cores
    # a plan-string LITERAL mentioning a repartition node must not suppress
    lit = spark.read.parquet(p).filter(F.lit("Repartition 5, true") != "x")
    assert scale.widen_if_underscanned(lit) is not lit


def test_write_range_clustered_files_prune(spark, tmp_path):
    """Files written range-clustered must cover non-overlapping key
    ranges (parquet min/max footer stats = whole-file pruning) and be
    sorted within each file."""
    import glob

    import pyarrow.parquet as pq

    from aws_etl_bank_spark.functions.scale import write_range_clustered

    df = spark.range(0, 10_000).selectExpr(
        "cast(id * 7919 % 10000 as long) as k", "id as v")
    path = str(tmp_path / "clustered")
    write_range_clustered(df, path, ["k"], n_files=8)

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"


def test_bloom_prefilter_join_matches_plain_join(spark):
    fact = spark.range(0, 20_000).withColumn("fk", F.pmod("id", F.lit(1000)))
    dim = (spark.range(0, 1000).where(F.pmod("id", F.lit(13)) == 0)
           .select(F.col("id").alias("dk"), (F.col("id") * 10).alias("attr")))
    plain = {(r["id"], r["attr"])
             for r in fact.join(dim, fact.fk == dim.dk).select("id", "attr").collect()}
    bloomed = {(r["id"], r["attr"])
               for r in scale.bloom_prefilter_join(fact, dim, "fk", "dk")
               .select("id", "attr").collect()}
    assert bloomed == plain


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    keys = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
    bf = scale.bloom_bitmap(keys, "k", m_bits=1 << 14, n_hashes=5)
    # probe members and non-members in one pass
    probe = spark.range(0, 5000).select(F.col("id").alias("p"))
    hit = (probe.crossJoin(F.broadcast(bf))
           .select("p", scale.bloom_might_contain(
               F.col("__bloom"), F.col("p"), m_bits=1 << 14, n_hashes=5).alias("h")))
    rows = {r["p"]: r["h"] for r in hit.collect()}
    members = {i * 7 + 3 for i in range(500)}
    missed = [p for p in rows if p in members and not rows[p]]
    assert missed == []  # Bloom guarantee: zero false negatives
    non = [p for p in rows if p not in members]
    fp = sum(1 for p in non if rows[p]) / len(non)
    # k=5, n=500, m=16384 → theoretical fp ≈ (1-e^{-kn/m})^k ≈ 0.0005
    assert fp < 0.01, fp


def test_bloom_bitmap_is_single_broadcast_row(spark):
    fact = spark.range(0, 1000).withColumn("fk", F.pmod("id", F.lit(50)))
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    out = scale.bloom_prefilter_join(fact, dim, "fk", "dk")
    plan = _plan(out)
    # the bitmap reaches the fact side via a broadcast, never a shuffle
    # of the fact for the prefilter itself
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert scale.bloom_bitmap(dim, "dk").count() == 1


def test_bloom_prefilter_rejects_outer_joins(spark):
    fact = spark.range(0, 10).withColumn("fk", F.col("id"))
    dim = spark.range(0, 5).select(F.col("id").alias("dk"))
    with pytest.raises(ValueError, match="outer"):
        scale.bloom_prefilter_join(fact, dim, "fk", "dk", how="left")


def test_compact_small_files_reduces_count_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    spark.range(0, 10_000).withColumn("v", F.col("id") * 2) \
        .repartition(32).write.parquet(path)
    import os
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    n = scale.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert before == 32 and n == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(10_000))


def test_compact_restores_crashed_swap(spark, tmp_path):
    """ADVICE r5: a run that died between the two renames leaves the
    data only in .__compact_old__ — the next call must restore it to
    ``path`` instead of treating the leftover as disposable."""
    import os
    import shutil

    path = str(tmp_path / "ds")
    spark.range(0, 1000).write.parquet(path)
    # simulate the crash window: path swapped out, tmp never swapped in
    os.rename(path, path + ".__compact_old__")
    assert not os.path.exists(path)
    n = scale.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + ".__compact_old__")
    shutil.rmtree(path)


def test_managed_table_path_layout(spark):
    # ADVICE r5: qualified names previously resolved to wh/db.tbl (a
    # path Spark never uses), silently no-op'ing the healing
    import os
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    p = scale._managed_table_path
    assert p(spark, "t1") == os.path.join(wh, "t1")
    assert p(spark, "default.T1") == os.path.join(wh, "t1")
    assert p(spark, "mydb.t1") == os.path.join(wh, "mydb.db", "t1")
    assert p(spark, "spark_catalog.mydb.t1") == os.path.join(
        wh, "mydb.db", "t1")
    with pytest.raises(ValueError):
        p(spark, "a.b.c.d")


def test_write_bucketed_heals_orphan_dir_via_rename_aside(spark, tmp_path):
    import os
    from urllib.parse import urlparse

    table = "orphan_heal_probe"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    orphan = os.path.join(wh, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    scale.write_bucketed(df, table, "k", n_buckets=4)
    assert spark.table(table).count() == 100
    # the aside is cleaned up after a successful commit
    assert not any(e.startswith(f"{table}.__stale__")
                   for e in os.listdir(wh))
    spark.sql(f"DROP TABLE {table}")


def test_skew_report_shares_and_ranks(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 70 + ["b"] * 20 + ["c"] * 10], "k string")
    rows = {r["k"]: (r["n"], r["share"], r["rank"])
            for r in scale.skew_report(df, "k", top=2).collect()}
    assert rows["a"] == (70, 0.7, 1)
    assert rows["b"] == (20, 0.2, 2)
    assert "c" not in rows


def _files_overlapping(path, col, lo, hi):
    """(n_overlapping, n_total) parquet files whose footer min/max for
    ``col`` intersects [lo, hi] — exactly the file-skipping decision a
    scan makes."""
    import glob
    import pyarrow.parquet as pq
    total, hit = 0, 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mn = min(md.row_group(i).column(
            [md.schema.column(j).name for j in range(md.num_columns)].index(col)
        ).statistics.min for i in range(md.num_row_groups))
        mx = max(md.row_group(i).column(
            [md.schema.column(j).name for j in range(md.num_columns)].index(col)
        ).statistics.max for i in range(md.num_row_groups))
        total += 1
        if not (mx < lo or mn > hi):
            hit += 1
    return hit, total


def test_zorder_roundtrip_and_2d_pruning(spark, scratch):
    """Z-order layout must (a) preserve the data exactly and (b) give
    file-level skipping on the SECOND clustered column, where 1-D range
    clustering by the first column prunes nothing."""
    # deterministic uniform 2-D grid: x and y independent
    df = (spark.range(20_000)
          .select((F.col("id") % 200).alias("x"),
                  (F.floor(F.col("id") / 200) % 100).alias("y"),
                  F.col("id").alias("v")))
    zpath = f"{scratch}/z2d"
    rpath = f"{scratch}/r1d"
    scale.write_zorder_clustered(df, zpath, ["x", "y"], bits=8, n_files=32)
    scale.write_range_clustered(df, rpath, ["x"], n_files=32)

    back = spark.read.parquet(zpath)
    assert back.count() == 20_000
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(20_000))

    # box predicate on y alone (quarter of its domain)
    zhit, ztot = _files_overlapping(zpath, "y", 0, 24)
    rhit, rtot = _files_overlapping(rpath, "y", 0, 24)
    assert ztot == 32 and rtot == 32
    assert rhit == 32          # clustered by x: y stats span everything
    assert zhit <= 16          # z-order: most files skipped on y too
    # and the first dimension still prunes
    xhit, _ = _files_overlapping(zpath, "x", 0, 49)
    assert xhit <= 16

    with pytest.raises(ValueError):
        scale.write_zorder_clustered(df, zpath, [], bits=8)
    with pytest.raises(ValueError):
        scale.write_zorder_clustered(df, zpath, ["x", "y"], bits=32)


def test_top_fraction_exact_selection(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, round(rnd.uniform(0, 1), 4)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, score double")
    out = scale.top_fraction(df, "score", 0.25, "id", n_buckets=50)
    got = sorted((r["score"], r["id"]) for r in out.collect())
    want = sorted(sorted(((s, i) for i, s in rows),
                         key=lambda t: (-t[0], t[1]))[:500])
    assert got == want  # exactly the top 500 by (score desc, id asc)


def test_top_fraction_degenerate_cases(spark):
    df = spark.createDataFrame([(i, 0.5) for i in range(100)],
                               "id long, score double")
    # all-equal scores: selection degrades to smallest tie ids
    out = scale.top_fraction(df, "score", 0.1, "id")
    assert sorted(r["id"] for r in out.collect()) == list(range(10))
    # fraction covering everything
    assert scale.top_fraction(df, "score", 1.0, "id").count() == 100
    # NULL scores are never selected and don't count toward n
    withnull = spark.createDataFrame(
        [(1, 0.9), (2, None), (3, 0.1), (4, 0.5)], "id long, score double")
    got = sorted(r["id"] for r in
                 scale.top_fraction(withnull, "score", 0.67, "id").collect())
    assert got == [1, 4]  # floor(0.67*3)=2 best non-null
    with pytest.raises(ValueError):
        scale.top_fraction(df, "score", 0.0, "id")


def test_top_fraction_has_no_corpus_window(spark):
    # the whole point: no row_number/percent_rank over the full frame —
    # the only window is partitioned by the boundary-bucket tag
    df = spark.range(0, 5000).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(1000)) / 1000.0).alias("score"))
    out = scale.top_fraction(df, "score", 0.2, "id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__tfb" in spec, spec


def test_shuffle_key_deterministic_and_epoch_varies(spark):
    df = spark.range(0, 1000).select(F.col("id"))
    k0 = [r[0] for r in df.select(scale.shuffle_key("id", 0)).collect()]
    k0b = [r[0] for r in df.select(scale.shuffle_key("id", 0)).collect()]
    k1 = [r[0] for r in df.select(scale.shuffle_key("id", 1)).collect()]
    assert k0 == k0b                      # reproducible
    assert k0 != k1                       # epoch changes the permutation
    assert all(0 <= v < 1_000_003 for v in k0)
    # huge / negative ids stay defined (bounded arithmetic)
    big = spark.createDataFrame([(2**62,), (2**63 - 1,), (-5,)], "id long")
    vals = [r[0] for r in big.select(scale.shuffle_key("id", 3)).collect()]
    assert all(v is not None and 0 <= v < 1_000_003 for v in vals)
    # reduce-before-add: id at the int64 ceiling must equal the exact
    # modular value, not a wrapped one
    want = ((((2**63 - 1) % 1_000_003) + (3 * 7919) % 1_000_003)
            % 1_000_003 * (2654435761 % 1_000_003)) % 1_000_003
    assert vals[1] == want


def test_top_fraction_by_group_exact_per_group(spark):
    rows = []
    for g in ("a", "b"):
        for i in range(10):
            rows.append((g, i, float(i if g == "a" else 9 - i)))
    rows.append(("a", 99, None))  # NULL score: not in a's universe
    df = spark.createDataFrame(rows, "g string, id long, score double")
    out = scale.top_fraction_by_group(df, ["g"], "score", 0.3, "id")
    got = {(r["g"], r["id"]) for r in out.collect()}
    # a: top-3 scores are ids 9,8,7; b: scores 9-i → ids 0,1,2
    assert got == {("a", 9), ("a", 8), ("a", 7),
                   ("b", 0), ("b", 1), ("b", 2)}
    with pytest.raises(ValueError):
        scale.top_fraction_by_group(df, ["g"], "score", 1.5, "id")


def test_top_fraction_by_group_window_is_group_partitioned(spark):
    df = spark.createDataFrame(
        [("x", i, float(i)) for i in range(50)], "g string, id long, score double")
    out = scale.top_fraction_by_group(df, ["g"], "score", 0.5, "id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(re.search(r"\bg#\d+", s) for s in specs), specs


def test_top_fraction_full_fraction_excludes_null_scores(spark):
    df = spark.createDataFrame(
        [(1, 0.9), (2, None), (3, 0.1)], "id long, score double")
    got = sorted(r["id"] for r in
                 scale.top_fraction(df, "score", 1.0, "id").collect())
    assert got == [1, 3]


from hypothesis import given, settings, strategies as st


@settings(max_examples=12, deadline=None)
@given(
    scores=st.lists(
        st.one_of(st.integers(0, 30).map(lambda i: i / 7.0), st.none()),
        min_size=1, max_size=40),
    frac_pct=st.integers(1, 100),
    descending=st.booleans(),
)
def test_top_fraction_matches_sorted_reference(spark, scores, frac_pct,
                                               descending):
    """Property: for any score multiset (ties, NULLs, any fraction,
    either direction) the histogram-selection result equals the plain
    sorted-prefix reference over the non-null universe."""
    fraction = frac_pct / 100.0
    rows = [(i, s) for i, s in enumerate(scores)]
    df = spark.createDataFrame(rows, "id long, score double")
    # tiny n_buckets forces real boundary-bucket refinement work
    out = scale.top_fraction(df, "score", fraction, "id",
                             descending=descending, n_buckets=4)
    got = sorted((r["score"], r["id"]) for r in out.collect())
    nn = [(s, i) for i, s in rows if s is not None]
    k = int(len(nn) * fraction)
    ordered = sorted(nn, key=lambda t: (-t[0] if descending else t[0], t[1]))
    want = sorted(ordered[:k])
    assert got == want


def test_count_min_sketch_never_underestimates_and_merges(spark):
    import collections
    import random

    rnd = random.Random(11)
    keys = [rnd.randint(0, 50) for _ in range(3000)]
    true = collections.Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sk = scale.count_min_sketch(df, "k", depth=4, width=64)
    probes = spark.createDataFrame([(k,) for k in true], "k long")
    est = {r["k"]: r["estimate"] for r in
           scale.cms_estimate(sk, probes, "k", depth=4, width=64).collect()}
    for k, n in true.items():
        assert est[k] >= n          # CMS overestimates, never under
    # width=64 on 51 keys: error bounded by 2N/width in expectation —
    # assert a loose factor so the test is noise-proof
    assert sum(est[k] - n for k, n in true.items()) / len(true) < 2 * 3000 / 64
    # mergeability: sketch(A ∪ B) == cellwise sum of sketch(A), sketch(B)
    a, b = df.randomSplit([0.5, 0.5], seed=1)
    import pyspark.sql.functions as F
    merged = (scale.count_min_sketch(a, "k", 4, 64)
              .unionByName(scale.count_min_sketch(b, "k", 4, 64))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    whole = {(r["row"], r["bucket"]): r["cnt"]
             for r in scale.count_min_sketch(df, "k", 4, 64).collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == whole
    with pytest.raises(ValueError):
        scale.count_min_sketch(df, "k", depth=9)


# --- HyperLogLog sketch --------------------------------------------------


def test_hll_merge_equals_union(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit — the
    property that lets per-partition/per-day sketches roll up."""
    a = spark.range(0, 3_000).withColumn("k", F.col("id") * 7 + 3)
    b = spark.range(2_000, 6_000).withColumn("k", F.col("id") * 7 + 3)
    union = a.unionByName(b)
    merged = {(r["register"], r["max_rank"])
              for r in scale.hll_merge(scale.hll_sketch(a, "k"),
                                       scale.hll_sketch(b, "k")).collect()}
    direct = {(r["register"], r["max_rank"])
              for r in scale.hll_sketch(union, "k").collect()}
    assert merged == direct


def test_hll_estimate_within_error_bound(spark):
    """Relative error within 3·(1.04/√m) ≈ 19.5% at m=256 across three
    orders of magnitude, including the linear-counting regime.  The
    hash is deterministic, so this is a fixed-fixture check, not a
    statistical flake."""
    for n in (150, 1_000, 20_000):
        df = spark.range(0, n)  # sequential ids: the adversarial case
        est = scale.hll_estimate(scale.hll_sketch(df, "id"), m=256).collect()[0]
        rel = abs(est["estimate"] - n) / n
        assert rel < 0.195, (n, est["estimate"])
        assert est["n_set"] <= 256


def test_hll_estimate_empty_sketch_is_zero(spark):
    """Zero input rows ⇒ the 2^-rank SUM is NULL; the estimate must
    coalesce to the linear-counting answer 0 (all m registers empty ⇒
    m·ln(m/m) = 0), never NULL (r7 advice)."""
    df = spark.range(0, 10).filter(F.col("id") < 0)  # empty
    est = scale.hll_estimate(scale.hll_sketch(df, "id"), m=256).collect()[0]
    assert est["n_set"] == 0
    assert est["sum_inv"] == 256.0
    assert est["estimate"] == 0.0


def test_hll_sketch_bounded_and_mapside(spark):
    """≤ m rows out regardless of input size; the build is one hash
    aggregation (partial_max visible = map-side combine)."""
    df = spark.range(0, 50_000)
    sk = scale.hll_sketch(df, "id", m=64)
    assert sk.count() <= 64
    assert "partial_max" in _plan(sk)


def test_top_fraction_nondeterministic_upstream_exact(spark):
    """cache=True pins a nondeterministic score column across the three
    passes: exactly k rows, every one a genuine source row (the r6
    ADVICE hazard — histogram vs selection disagreement — silently
    changes the row count when the upstream re-rolls per pass)."""
    df = (spark.range(0, 4_000)
          .withColumn("score", F.rand()))  # no seed: re-rolls on recompute
    out = scale.top_fraction(df, "score", 0.25, "id", n_buckets=40)
    rows = out.collect()
    assert len(rows) == 1_000
    assert {r["id"] for r in rows} <= set(range(4_000))
    # second materialization of the SAME returned frame stays consistent
    assert out.count() == 1_000


# --- binned-quantile sketch ----------------------------------------------


def test_quantile_merge_equals_direct(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) bin-for-bin, and the
    estimates read off either are identical — the roll-up property."""
    a = spark.range(0, 4_000).select((F.col("id") % 313 * 1.3).alias("v"))
    b = spark.range(0, 5_000).select((F.col("id") % 457 * 0.9).alias("v"))
    union = a.unionByName(b)
    direct = scale.quantile_sketch(union, "v", 0.0, 500.0, n_bins=100)
    merged = scale.quantile_merge(
        scale.quantile_sketch(a, "v", 0.0, 500.0, n_bins=100),
        scale.quantile_sketch(b, "v", 0.0, 500.0, n_bins=100))
    assert ({tuple(r) for r in direct.collect()}
            == {tuple(r) for r in merged.collect()})
    qs = [0.1, 0.5, 0.9]
    e1 = {r["q"]: r["est"] for r in
          scale.quantile_estimate(direct, qs, 0.0, 500.0, 100).collect()}
    e2 = {r["q"]: r["est"] for r in
          scale.quantile_estimate(merged, qs, 0.0, 500.0, 100).collect()}
    assert e1 == e2


def test_quantile_estimate_within_bin_width(spark):
    """Every estimate is within one bin width of the EXACT quantile —
    the sketch's deterministic error bound."""
    df = spark.range(0, 10_000).select((F.col("id") % 997 * 0.5).alias("v"))
    vals = sorted(r["v"] for r in df.collect())
    sk = scale.quantile_sketch(df, "v", 0.0, 500.0, n_bins=250)
    w = 500.0 / 250
    for r in scale.quantile_estimate(sk, [0.05, 0.5, 0.95],
                                     0.0, 500.0, 250).collect():
        exact = vals[int(r["q"] * (len(vals) - 1))]
        assert abs(r["est"] - exact) <= w + 1e-9, (r, exact)


def test_quantile_sketch_bounded_and_clamped(spark):
    """≤ n_bins rows out regardless of input size; out-of-range values
    land in the edge bins instead of vanishing; NULLs drop."""
    df = spark.createDataFrame(
        [(-50.0,), (0.0,), (250.0,), (9999.0,), (None,)], "v double")
    sk = scale.quantile_sketch(df, "v", 0.0, 500.0, n_bins=10)
    rows = {r["bin"]: r["cnt"] for r in sk.collect()}
    assert rows == {0: 2, 5: 1, 9: 1}
    big = spark.range(0, 30_000).select((F.col("id") * 0.01).alias("v"))
    assert scale.quantile_sketch(big, "v", 0.0, 500.0, n_bins=64).count() <= 64


# --- KMV sketch ----------------------------------------------------------


def test_kmv_merge_equals_direct(spark):
    """bottom-k of the union of two sketches == sketch of the union of
    the raw sets — the KMV roll-up property."""
    a = spark.range(0, 2_000).select(F.col("id").alias("k"))
    b = spark.range(1_000, 3_500).select(F.col("id").alias("k"))
    direct = scale.kmv_sketch(a.unionByName(b), "k", k=64)
    merged = (scale.kmv_sketch(a, "k", k=64)
              .unionByName(scale.kmv_sketch(b, "k", k=64))
              .distinct().orderBy("h").limit(64))
    assert ([r["h"] for r in direct.collect()]
            == [r["h"] for r in merged.collect()])


def test_kmv_estimate_regimes_and_error(spark):
    """Small regime: fewer distinct keys than k ⇒ the estimate is EXACT.
    Full regime: relative error within 3/√k."""
    small = spark.range(0, 40).select(F.col("id").alias("k"))
    est = scale.kmv_estimate(scale.kmv_sketch(small, "k", k=128), k=128)
    assert est.collect()[0]["estimate"] == 40.0
    for n in (1_000, 20_000):
        df = spark.range(0, n).select(F.col("id").alias("k"))
        e = scale.kmv_estimate(scale.kmv_sketch(df, "k", k=256),
                               k=256).collect()[0]
        assert abs(e["estimate"] - n) / n < 3 / (256 ** 0.5), (n, e)


def test_kmv_jaccard_tracks_true_overlap(spark):
    """J(A, B) estimate within 3/√k of the true Jaccard for a planted
    50% overlap, and exactly 1.0 for identical sets."""
    a = spark.range(0, 2_000).select(F.col("id").alias("k"))
    b = spark.range(1_000, 3_000).select(F.col("id").alias("k"))
    ska = scale.kmv_sketch(a, "k", k=256)
    skb = scale.kmv_sketch(b, "k", k=256)
    j = scale.kmv_jaccard(ska, skb, k=256).collect()[0]
    true_j = 1_000 / 3_000
    assert abs(j["jaccard_est"] - true_j) < 3 / (256 ** 0.5), (j, true_j)
    same = scale.kmv_jaccard(ska, ska, k=256).collect()[0]
    assert same["jaccard_est"] == 1.0


def test_hll_grouped_consistent_with_global(spark):
    """Each group's sketch rows equal the GLOBAL sketch of that group's
    rows alone — grouped sketching is just sketching per group."""
    df = (spark.range(0, 6_000)
          .withColumn("g", (F.col("id") % 3).cast("string"))
          .withColumn("k", F.col("id") * 13 + 1))
    grouped = scale.hll_sketch_grouped(df, ["g"], "k", m=64)
    for g in ("0", "1", "2"):
        sub = {(r["register"], r["max_rank"])
               for r in scale.hll_sketch(df.where(F.col("g") == g), "k",
                                         m=64).collect()}
        got = {(r["register"], r["max_rank"])
               for r in grouped.where(F.col("g") == g)
               .select("register", "max_rank").collect()}
        assert got == sub
    est = {r["g"]: r["estimate"] for r in
           scale.hll_estimate_grouped(grouped, ["g"], m=64).collect()}
    for g in ("0", "1", "2"):  # 2000 distinct per group, 1.04/sqrt(64)=13%
        assert abs(est[g] - 2000) / 2000 < 3 * 1.04 / 8


def test_bottomk_hash_sample_stable_under_growth(spark):
    """The k-sample is a pure function of ids: re-evaluation is
    identical, and growing the corpus only churns the sample at the
    k-th-hash boundary (new sample ⊆ old sample ∪ new rows)."""
    hk = lambda c: F.pmod(  # noqa: E731
        F.pmod(c.cast("long"), F.lit(1000003)) * F.lit(2654435761 % 1000003),
        F.lit(1000003))

    def sample(df, k):
        return [r["id"] for r in df.select("id", hk(F.col("id")).alias("h"))
                .orderBy("h", "id").limit(k).collect()]

    base = spark.range(0, 5_000)
    s1, s2 = sample(base, 100), sample(base, 100)
    assert s1 == s2 and len(s1) == 100
    grown = spark.range(0, 7_500)
    s3 = sample(grown, 100)
    assert set(s3) <= set(s1) | set(range(5_000, 7_500))


def test_heavy_hitters_exact_counts_and_completeness(spark):
    from aws_etl_bank_spark.functions.scale import heavy_hitters_topk

    # 3 planted hitters far above N/counters, 500 singletons
    rows = ([(7,)] * 300 + [(11,)] * 200 + [(13,)] * 100
            + [(1000 + i,) for i in range(500)])
    df = spark.createDataFrame(rows, "key long").repartition(8)
    got = heavy_hitters_topk(df, "key", k=3, counters=16).collect()
    assert [(r.key, r.cnt) for r in got] == [(7, 300), (11, 200), (13, 100)]


def test_heavy_hitters_mg_trim_survives_batching(spark):
    from aws_etl_bank_spark.functions.scale import heavy_hitters_topk

    # interleave the hitter with noise so every Arrow batch must trim
    rows = []
    for i in range(2000):
        rows.append((5,) if i % 4 == 0 else (10_000 + i,))
    df = spark.createDataFrame(rows, "key long").repartition(4)
    got = heavy_hitters_topk(df, "key", k=1, counters=8).collect()
    assert got[0].key == 5 and got[0].cnt == 500


def test_heavy_hitters_result_is_takeordered(spark):
    from aws_etl_bank_spark.functions.scale import heavy_hitters_topk

    df = spark.createDataFrame([(1,)] * 10, "key long")
    plan = heavy_hitters_topk(df, "key", k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bitmap_retention_equals_exact_counts(spark):
    """The bitmap rollup must reproduce exact distinct counts and exact
    next-day intersections — bitmaps are a representation change, not
    an approximation."""
    import pyspark.sql.functions as F

    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()
    from aws_etl_bank_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.day: (r.dau, r.returned_next_day)
           for r in registry["scale_bitmap_retention"].fn(spark, sf).collect()}
    ev = load_table(spark, sf, "events") \
        .select(F.to_date("ts").alias("day"), "user_id").distinct()
    exact_dau = {r.day: r.c for r in
                 ev.groupBy("day").agg(F.count(F.lit(1)).alias("c")).collect()}
    nxt = ev.select(F.date_sub("day", 1).alias("day"),
                    F.col("user_id").alias("u2"))
    exact_ret = {r.day: r.c for r in
                 ev.join(nxt, ["day"]).filter("user_id = u2")
                 .groupBy("day").agg(F.count(F.lit(1)).alias("c")).collect()}
    for day, (dau, ret) in got.items():
        assert dau == exact_dau[day]
        assert ret == exact_ret.get(day, 0)


def test_bucketed_global_rank_matches_window(spark):
    """bucketed_global_rank must equal row_number() OVER (ORDER BY ...)
    exactly — both directions, skewed values, ties broken by the tie
    column, and the degenerate all-equal-scores input (one cell)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import bucketed_global_rank

    random.seed(11)
    cases = [
        ([(i, random.randint(0, 30)) for i in range(400)], False, 16),
        ([(i, random.randint(0, 30)) for i in range(397)], True, 8),
        ([(i, 7) for i in range(50)], True, 64),          # all equal
        ([(i, i) for i in range(5)], False, 4096),         # n << buckets
    ]
    for rows, desc, nb in cases:
        df = spark.createDataFrame(rows, "id long, v long")
        got = bucketed_global_rank(df, "v", ["id"], out_col="rk",
                                   descending=desc, n_buckets=nb)
        w = Window.orderBy(
            F.col("v").desc() if desc else F.col("v").asc(), F.col("id"))
        exp = df.withColumn("rk", F.row_number().over(w).cast("long"))
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, exp.collect()))
        spark.catalog.clearCache()


def test_bucketed_rank_plan_has_no_unpartitioned_window(spark):
    """The point of the helper: the executed plan's window runs
    partitioned by the histogram cell, never over one global
    partition."""
    from aws_etl_bank_spark.functions.scale import bucketed_global_rank

    df = spark.range(1000).selectExpr("id", "id % 97 AS v")
    got = bucketed_global_rank(df, "v", ["id"], out_col="rk")
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "partitionBy" not in plan.lower() or True  # textual form varies
    # the reliable signal: WindowExec emits a single-partition warning
    # only when its partition spec is empty; assert the spec is present
    assert "windowspecdefinition(__bgr_b" in \
        got._jdf.queryExecution().optimizedPlan().toString().lower()
    spark.catalog.clearCache()


def test_ntile_from_rank_matches_spark_ntile(spark):
    """ntile_from_rank(rank, n, k) == F.ntile(k) for every split shape:
    n divisible by k, remainder tiles, n < k."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import ntile_from_rank

    for n, k in [(120, 4), (121, 4), (123, 7), (3, 5), (8, 8), (9, 2)]:
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)],
                                   "rk long")
        got = df.select("rk", ntile_from_rank(F.col("rk"), n, k).alias("t"))
        exp = df.select("rk", F.ntile(k).over(
            Window.orderBy("rk")).cast("int").alias("t"))
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, exp.collect())), (n, k)


def test_bucketed_rank_by_group_matches_partitioned_window(spark):
    """Grouped bucketed rank == row_number() OVER (PARTITION BY g ORDER
    BY ...) — mixed group sizes, both directions, plus an all-equal-
    scores group (the one-cell degenerate case)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import bucketed_rank_by_group

    random.seed(13)
    rows = [(i, random.randint(0, 6), random.randint(0, 25))
            for i in range(1500)]
    rows += [(1500 + j, 99, 5) for j in range(40)]   # all-equal group
    df = spark.createDataFrame(rows, "id long, g int, v long")
    for desc in (False, True):
        got = bucketed_rank_by_group(df, ["g"], "v", ["id"],
                                     out_col="rk", descending=desc,
                                     n_buckets=16)
        w = Window.partitionBy("g").orderBy(
            F.col("v").desc() if desc else F.col("v").asc(), "id")
        exp = df.withColumn("rk", F.row_number().over(w).cast("long"))
        assert sorted(map(tuple, got.select("id", "g", "rk").collect())) \
            == sorted(map(tuple, exp.select("id", "g", "rk").collect()))
        spark.catalog.clearCache()


def test_compaction_reduces_file_count(spark):
    """The maintenance entry's observable: 64 fragments in, a
    size-targeted handful out (tiny table → exactly 1), data identical."""
    import os

    from aws_etl_bank_spark.plans.registry import _scratch, load_registry
    registry = load_registry()

    sf = "/root/testdata/sf0.001"
    out = registry["maintenance_compact_small_files"].fn(spark, sf)
    n_rows = out.count()
    frag = _scratch(sf, "supplier_fragmented")
    comp = _scratch(sf, "supplier_compacted")
    n_frag = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    n_comp = sum(1 for f in os.listdir(comp) if f.endswith(".parquet"))
    assert n_rows == 10
    assert n_frag > n_comp == 1


def test_bucketed_rank_null_scores_get_null_rank(spark):
    """NULL scores stay OUT of the ranking universe (NULL rank, row
    kept) in both rank helpers — F.least's null-skipping would
    otherwise file them into the extreme cell with a real rank."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import (bucketed_global_rank,
                                                    bucketed_rank_by_group)

    rows = [(0, 0, None), (1, 0, 5), (2, 0, 3), (3, 1, None),
            (4, 1, None), (5, 2, 7), (6, 2, 7)]
    df = spark.createDataFrame(rows, "id long, g int, v int")

    got = bucketed_global_rank(df, "v", ["id"], out_col="rk")
    by_id = {r["id"]: r["rk"] for r in got.collect()}
    w = Window.orderBy(F.col("v").asc(), F.col("id"))
    exp = {r["id"]: r["rk"] for r in
           df.filter(F.col("v").isNotNull())
           .withColumn("rk", F.row_number().over(w).cast("long")).collect()}
    assert {i for i, rk in by_id.items() if rk is None} == {0, 3, 4}
    assert {i: rk for i, rk in by_id.items() if rk is not None} == exp
    spark.catalog.clearCache()

    got_g = bucketed_rank_by_group(df, ["g"], "v", ["id"], out_col="rk")
    by_id_g = {r["id"]: r["rk"] for r in got_g.collect()}
    assert len(by_id_g) == 7                      # no rows dropped
    assert {i for i, rk in by_id_g.items() if rk is None} == {0, 3, 4}
    assert by_id_g[2] == 1 and by_id_g[1] == 2    # group 0 non-null order
    assert by_id_g[5] == 1 and by_id_g[6] == 2    # tie broken by id
    spark.catalog.clearCache()


def test_bucketed_rank_null_group_key_kept(spark):
    """A NULL group KEY is a real partition (groupBy and PARTITION BY
    both treat it so) — the r9 ADVICE hole: the internal stats join
    was a plain equi-join, so NULL-keyed rows lost their stats row and
    silently VANISHED.  Now both internal joins are eqNullSafe."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import bucketed_rank_by_group

    rows = [(0, None, 9), (1, None, 2), (2, None, 2), (3, "a", 4),
            (4, "a", 1), (5, None, None)]
    df = spark.createDataFrame(rows, "id long, g string, v int")
    got = bucketed_rank_by_group(df, ["g"], "v", ["id"], out_col="rk")
    by_id = {r["id"]: r["rk"] for r in got.collect()}
    assert len(by_id) == 6                        # NULL-g rows survive
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), "id")
    exp = {r["id"]: r["rk"] for r in
           df.filter(F.col("v").isNotNull())
           .withColumn("rk", F.row_number().over(w).cast("long")).collect()}
    assert by_id[5] is None                       # NULL score, NULL key
    assert {i: rk for i, rk in by_id.items() if rk is not None} == exp
    spark.catalog.clearCache()


def test_bucketed_global_rank_date_scores(spark):
    """DATE/TIMESTAMP scores rank without the caller pre-converting
    (r9 ADVICE: float(lo) crashed on datetime objects) — the internal
    monotone integer twin (days / epoch-micros) buckets exactly."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import (bucketed_global_rank,
                                                    bucketed_rank_by_group)

    rows = [(i, i % 3, dt.date(2024, 1, 1) + dt.timedelta(days=(i * 7) % 23))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g int, d date")
    got = bucketed_global_rank(df, "d", ["id"], out_col="rk", n_buckets=8)
    w = Window.orderBy(F.col("d").asc(), "id")
    exp = df.withColumn("rk", F.row_number().over(w).cast("long"))
    assert sorted(map(tuple, got.select("id", "rk").collect())) \
        == sorted(map(tuple, exp.select("id", "rk").collect()))
    spark.catalog.clearCache()

    ts = df.withColumn("t", F.col("d").cast("timestamp")).drop("d")
    got_g = bucketed_rank_by_group(ts, ["g"], "t", ["id"], out_col="rk",
                                   n_buckets=8)
    wg = Window.partitionBy("g").orderBy(F.col("t").asc(), "id")
    exp_g = ts.withColumn("rk", F.row_number().over(wg).cast("long"))
    assert sorted(map(tuple, got_g.select("id", "rk").collect())) \
        == sorted(map(tuple, exp_g.select("id", "rk").collect()))
    spark.catalog.clearCache()


def test_bucketed_cumsum_matches_global_window(spark):
    """bucketed_cumsum == SUM(v) OVER (ORDER BY x) for every value
    column, including the one-cell degenerate case (all-equal order
    keys are impossible post-group, but lo==hi from a single row is)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from aws_etl_bank_spark.functions.scale import bucketed_cumsum

    random.seed(7)
    xs = random.sample(range(100000), 800)
    rows = [(float(x), x % 7, (x * 3) % 11) for x in xs]
    df = spark.createDataFrame(rows, "x double, a long, b long")
    got = bucketed_cumsum(df, "x", ["a", "b"], n_buckets=16)
    w = (Window.orderBy("x")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    exp = df.select("x", F.sum("a").over(w).alias("cum_a"),
                    F.sum("b").over(w).alias("cum_b"))
    assert sorted(map(tuple, got.select("x", "cum_a", "cum_b").collect())) \
        == sorted(map(tuple, exp.collect()))

    one = spark.createDataFrame([(5.0, 2, 3)], "x double, a long, b long")
    r = bucketed_cumsum(one, "x", ["a", "b"]).collect()[0]
    assert (r["cum_a"], r["cum_b"]) == (2, 3)

    # All-NULL order keys: the degenerate branch must keep the SAME
    # row universe as the normal path (NULL keys filtered — r10
    # ADVICE), so the result is EMPTY, not the NULL-keyed input rows.
    nul = spark.createDataFrame([(None, 1, 2), (None, 3, 4)],
                                "x double, a long, b long")
    empty = bucketed_cumsum(nul, "x", ["a", "b"])
    assert empty.count() == 0
    assert set(empty.columns) == {"x", "a", "b", "cum_a", "cum_b"}
    spark.catalog.clearCache()


def test_bucket_pruned_read_scans_one_bucket(spark):
    """scale_bucket_pruned_read's plan claim: an equality filter on the
    bucket column must prune the scan to ONE of the 8 buckets
    (SelectedBucketsCount in the FileScan node) — the no-index point
    lookup the bucketed layout buys."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    from tests.conftest import SF_SMOKE

    df = registry["scale_bucket_pruned_read"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 1 out of 8" in plan, plan


def test_bucketed_minhash_index_join_leaves_index_side_shuffle_free(spark):
    """The production co-location claimed by llm/dedup.py's
    minhash_incremental_matches docstring, pinned as a plan shape: a
    band index persisted with write_bucketed on BOTH join keys
    (band, band_hash) joins a fresh batch's band rows with NO Exchange
    on the index branch — only the O(batch) side shuffles into the
    bucket partitioning, so the growing history is scanned in place
    every ingest step instead of being re-shuffled (the measured
    per-batch latency growth in the r16 decade audit).  Broadcast is
    disabled for the probe because at production index sizes the
    broadcast path is unavailable anyway (and was measured slower —
    see the dedup.py docstring)."""
    import pyspark.sql.functions as F

    from aws_etl_bank_spark.functions import scale
    from aws_etl_bank_spark.llm.dedup import (minhash_band_index,
                                              minhash_incremental_matches)

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), (F.col("id") % 500).cast("string"))
        .alias("text"))
    idx = minhash_band_index(docs, "text", "doc_id")
    scale.write_bucketed(idx, "bkt_band_idx", ["band", "band_hash"],
                         n_buckets=8, sort_col=["band", "band_hash"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = spark.range(3000, 3400).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text "), (F.col("id") % 500).cast("string"))
            .alias("text"))
        cand = minhash_incremental_matches(
            batch, spark.table("bkt_band_idx"))
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    scan_i = next(i for i, ln in enumerate(lines) if "bkt_band_idx" in ln)
    assert "Bucketed: true" in lines[scan_i]
    join_i = max(i for i, ln in enumerate(lines)
                 if "SortMergeJoin" in ln and i < scan_i)
    # between the join and the bucketed scan exactly ONE Exchange may
    # appear — the BATCH branch's re-partitioning into the bucket
    # layout; the index branch (which ends at the scan) must reach the
    # scan Exchange-free
    sub = lines[join_i:scan_i + 1]
    exch_is = [i for i, ln in enumerate(sub) if "Exchange" in ln]
    assert len(exch_is) == 1, (
        f"expected only the batch-side Exchange between join and "
        f"bucketed scan, got {len(exch_is)}:\n" + "\n".join(sub))
    assert "hashpartitioning" in sub[exch_is[0]]
    # whole plan: batch-side Exchange + the distinct's — nothing else
    assert plan.count("Exchange") == 2
