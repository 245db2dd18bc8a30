"""Analytics registry subpart 1: time series, ML features, graph,
quality, sampling, scale patterns (formerly registry_analytics.py
lines 39-2017).  Pure mechanical move (VERDICT r15 task 7, same
contract as the r15 registry.py split and the r16 registry_llm
split): entry source, ``@q`` names and oracles are byte-identical to
the pre-split layout.  REGISTRY order comes from ``registry.PARTS``
(see ``registry.load_registry``).
"""

from __future__ import annotations

import os  # noqa: F401

import pyspark.sql.functions as F  # noqa: F401
import pyspark.sql.types as T  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from aws_etl_bank_spark.sources.testdata import load_table  # noqa: F401
from aws_etl_bank_spark.plans.registry import (  # noqa: F401
    SCRATCH, canon0, q, _scratch, _scratch_run)


@q("ts_ohlc_bucket", """
WITH r AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS bucket, value,
         row_number() OVER (PARTITION BY event_type,
                                         epoch_us(ts) // 86400000000
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       ROUND(min_by(value, rn), 2) AS open,
       ROUND(MAX(value), 2) AS high,
       ROUND(MIN(value), 2) AS low,
       ROUND(max_by(value, rn), 2) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY event_type, bucket""")
def ts_ohlc_bucket(spark, sf_dir):
    """OHLC candle rollup: per (event_type, day) open/high/low/close/
    count — the financial time-series compaction (ts_bucket_rollup's
    sibling with ORDER-dependent endpoints).  One keyed window assigns
    the within-bucket sequence (deterministic (ts, event_id) order),
    and the same-key aggregation REUSES the window's exchange — one
    shuffle total; open/close are min_by/max_by over the unique rank,
    identical semantics on both engines.  Day buckets are exact
    epoch-microsecond integer division (no float epoch)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    w = (Window.partitionBy("event_type", "bucket")
         .orderBy("ts", "event_id"))
    r = (ev.withColumn("bucket", bucket)
         .withColumn("rn", F.row_number().over(w)))
    return (r.groupBy("event_type", "bucket")
            .agg(F.round(F.expr("min_by(value, rn)"), 2).alias("open"),
                 F.round(F.max("value"), 2).alias("high"),
                 F.round(F.min("value"), 2).alias("low"),
                 F.round(F.expr("max_by(value, rn)"), 2).alias("close"),
                 F.count(F.lit(1)).alias("n"))
            .select("event_type", F.col("bucket").cast("long"),
                    "open", "high", "low", "close",
                    F.col("n").cast("long").alias("n")))


@q("ts_active_users_7d", """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
wau AS (
  SELECT d.day AS day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
  FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day)
SELECT w.day AS day, dau.dau AS dau, w.active_7d AS active_7d
FROM wau w JOIN dau ON dau.day = w.day""")
def ts_active_users_7d(spark, sf_dir):
    """Rolling 7-day distinct active users per day (the DAU/WAU
    engagement rollup) WITHOUT a range join: count-distinct composes
    with neither window frames nor partial aggregation, so the naive
    forms — a RANGE-interval window over users, or a days×events
    interval join — are respectively impossible and a broadcast-
    nested-loop.  The scalable shape: dedupe events to (day, user)
    FIRST (one hash-agg — the 100 TB row count drops to
    days×actives), then explode each pair to the ≤7 report days it
    feeds (bounded 7× of the DEDUPED frame, never of raw events), and
    count-distinct per report day.  All equi-shuffles keyed by
    (day, user); the report-day membership join broadcasts the tiny
    day dimension."""
    ev = load_table(spark, sf_dir, "events")
    # the deduped (day, user) frame feeds the explode, the day
    # dimension and the DAU agg — persist or pay three event scans
    du = (ev.select(F.to_date("ts").alias("day"), "user_id")
          .distinct().persist())
    days = du.select("day").distinct()
    exp = (du.select("user_id", "day",
                     F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"))
           .select("user_id", F.expr("date_add(day, off)").alias("day")))
    wau = (exp.join(F.broadcast(days), "day")
           .groupBy("day")
           .agg(F.countDistinct("user_id").alias("active_7d")))
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (wau.join(dau, "day")
            .select("day", F.col("dau").cast("long").alias("dau"),
                    F.col("active_7d").cast("long").alias("active_7d")))


@q("label_churn_window", """
WITH cm AS (
  SELECT DISTINCT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month
  FROM orders),
nxt AS (
  SELECT o_custkey,
         CAST(month - INTERVAL 1 MONTH AS DATE) AS month, 1 AS act
  FROM cm)
SELECT c.o_custkey AS o_custkey, c.month AS month,
       CAST(CASE WHEN n.act IS NULL THEN 1 ELSE 0 END AS INTEGER) AS churned
FROM cm c
LEFT JOIN nxt n ON n.o_custkey = c.o_custkey AND n.month = c.month
WHERE c.month < (SELECT MAX(month) FROM cm)""")
def label_churn_window(spark, sf_dir):
    """Churn-label generation — the supervised-learning labeling op:
    for every (customer, month) with activity, did the customer place
    NO order in the following month?  The scalable shape is
    dedupe-then-self-equi-join: orders collapse to distinct
    (customer, month) first (one hash-agg; the 100 TB fact becomes a
    customers×months frame), the "future" is that same frame shifted
    back one month and equi-joined — never a per-row interval probe
    or a correlated EXISTS.  The final month is excluded (its label
    window is unobserved — the right-censoring rule every churn
    dataset needs); the max-month scalar rides a 1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    # cm feeds three consumers (labels, shifted future, max month):
    # persist so the fact scans + dedup-shuffles once, not thrice
    cm = (o.select("o_custkey",
                   F.trunc(F.col("o_orderdate").cast("date"), "month")
                   .alias("month"))
          .distinct().persist())
    nxt = cm.select("o_custkey", F.add_months("month", -1).alias("month"),
                    F.lit(1).alias("act"))
    mx = cm.agg(F.max("month").alias("__mx"))
    return (cm.join(nxt, ["o_custkey", "month"], "left")
            .join(F.broadcast(mx))
            .filter(F.col("month") < F.col("__mx"))
            .select("o_custkey", "month",
                    F.when(F.col("act").isNull(), 1).otherwise(0)
                    .cast("int").alias("churned")))


@q("assoc_copurchase_lift", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ok AS (SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING COUNT(*) <= 50),
b AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN ok USING (l_orderkey)),
n AS (SELECT COUNT(*) AS n_orders FROM ok),
ic AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY l_partkey),
pc AS (
  SELECT a.l_partkey AS p1, b2.l_partkey AS p2, COUNT(*) AS c_ab
  FROM b a
  JOIN b b2 ON b2.l_orderkey = a.l_orderkey
           AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2)
SELECT p1, p2, CAST(c_ab AS BIGINT) AS c_ab,
       CAST(c_ab * n_orders AS DOUBLE)
         / CAST(i1.c * i2.c AS DOUBLE) AS lift
FROM pc, n
JOIN ic i1 ON i1.l_partkey = p1
JOIN ic i2 ON i2.l_partkey = p2
ORDER BY c_ab DESC, p1, p2
LIMIT 50""")
def assoc_copurchase_lift(spark, sf_dir):
    """Market-basket association: top co-purchased part pairs by
    support, with lift = P(ab)/(P(a)·P(b)).  The quadratic hazard is
    the within-basket pair join — bounded here the way production
    basket analysis bounds it: dedupe to (order, part), CAP the basket
    size (≤50; one hash-agg + semi-join — a single pathological
    999-item basket would otherwise emit half a million pairs), then
    the pair self-join is equi on orderkey with per-order work ≤ k²/2.
    Lift is computed as ONE IEEE-exact division of exact int64
    products (counts ≤ 10⁷ ⇒ products ≤ 10¹⁴, no overflow), so no
    rounding is needed for cross-engine equality; top-50 by
    (support DESC, p1, p2) compiles to TakeOrdered, never a global
    sort."""
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    ok = (li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("__k"))
          .filter(F.col("__k") <= 50).select("l_orderkey"))
    # the capped basket frame is read four ways (order count, item
    # counts, both pair-join sides) — but all four consumers share the
    # identical (distinct → join) subtree inside ONE action, which
    # Catalyst collapses via ReusedExchange (4 in the executed plan,
    # A/B-measured faster than an explicit persist at sf0.1)
    b = li.join(ok, "l_orderkey")
    n = b.select("l_orderkey").distinct() \
         .agg(F.count(F.lit(1)).alias("__n"))
    ic = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("__c"))
    a2, b2 = b.alias("a"), b.alias("b2")
    pc = (a2.join(b2, (F.col("a.l_orderkey") == F.col("b2.l_orderkey"))
                  & (F.col("a.l_partkey") < F.col("b2.l_partkey")))
          .groupBy(F.col("a.l_partkey").alias("p1"),
                   F.col("b2.l_partkey").alias("p2"))
          .agg(F.count(F.lit(1)).alias("c_ab")))
    i1 = ic.select(F.col("l_partkey").alias("p1"), F.col("__c").alias("c1"))
    i2 = ic.select(F.col("l_partkey").alias("p2"), F.col("__c").alias("c2"))
    return (pc.join(i1, "p1").join(i2, "p2").join(F.broadcast(n))
            .select("p1", "p2", F.col("c_ab").cast("long").alias("c_ab"),
                    ((F.col("c_ab") * F.col("__n")).cast("double")
                     / (F.col("c1") * F.col("c2")).cast("double"))
                    .alias("lift"))
            .orderBy(F.desc("c_ab"), "p1", "p2").limit(50))


@q("ts_seasonal_strength", """
WITH c AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) % 168 AS how,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events),
g AS (SELECT event_type, how, COUNT(*) AS ng,
             CAST(SUM(v) AS BIGINT) AS sg
      FROM c GROUP BY 1, 2),
t AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(v * v) AS BIGINT) AS ss
      FROM c GROUP BY 1),
w AS (SELECT event_type,
             SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS sw
      FROM g GROUP BY 1)
SELECT t.event_type AS event_type, CAST(n AS BIGINT) AS n,
  ROUND((ss - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n / 10000.0,
        4) + 0 AS var_total,
  ROUND((ss - sw) / n / 10000.0, 4) + 0 AS var_within,
  ROUND(1.0 - (ss - sw)
            / GREATEST(ss - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n,
                       0.000000000001), 4) + 0 AS strength
FROM t JOIN w ON w.event_type = t.event_type""")
def ts_seasonal_strength(spark, sf_dir):
    """Hour-of-week seasonal decomposition strength per event type —
    "how much of this series' variance is weekly seasonality?"
    (1 − var(residual)/var(total), the STL-style strength statistic,
    with the seasonal component the hour-of-week group mean).  Exact
    sufficient statistics all the way: values become int64 cents, the
    per-(type, hour) partials are exact integer (n, Σv) and the totals
    exact (n, Σv, Σv²) — so the heavy pass is TWO map-side-combined
    hash-aggs over exact ints (engine-order-independent, the class
    the r6 sf1 audit taught us to use), and floating point enters
    only in the final 168-term combine and divisions, masked by the
    canon-zero 4-decimal round.  Hour-of-week is pure epoch-µs
    integer division — no timezone/dayofweek calendar calls to
    diverge between engines."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("pmod(unix_micros(cast(ts as timestamp)) div 3600000000, 168)")
        .alias("how"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"))
    g = (c.groupBy("event_type", "how")
         .agg(F.count(F.lit(1)).alias("ng"), F.sum("v").alias("sg")))
    t = (c.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
              F.sum(F.col("v") * F.col("v")).alias("ss")))
    w = (g.groupBy("event_type")
         .agg(F.sum(F.col("sg").cast("double") * F.col("sg").cast("double")
                    / F.col("ng")).alias("sw")))
    tot = (F.col("ss") - F.col("s").cast("double") * F.col("s").cast("double")
           / F.col("n"))
    return (t.join(w, "event_type")
            .select("event_type", F.col("n").cast("long").alias("n"),
                    (F.round(tot / F.col("n") / 10000.0, 4) + 0)
                    .alias("var_total"),
                    (F.round((F.col("ss") - F.col("sw")) / F.col("n")
                             / 10000.0, 4) + 0).alias("var_within"),
                    (F.round(1.0 - (F.col("ss") - F.col("sw"))
                             / F.greatest(tot, F.lit(1e-12)), 4) + 0)
                    .alias("strength")))


@q("feature_velocity_windows", """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events)
SELECT user_id, event_id,
  CAST(COUNT(*) OVER w1 AS BIGINT) AS n_1h,
  CAST(SUM(v) OVER w1 AS BIGINT) AS cents_1h,
  CAST(COUNT(*) OVER w24 AS BIGINT) AS n_24h,
  CAST(SUM(v) OVER w24 AS BIGINT) AS cents_24h
FROM e
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY us
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
  w24 AS (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""")
def feature_velocity_windows(spark, sf_dir):
    """Point-in-time-correct velocity features — trailing 1 h / 24 h
    per-user event counts and amount sums AS OF each event (the
    feature-store primitive behind fraud velocity rules and any
    leakage-free training set: a feature may only see events ≤ its own
    timestamp).  Expressed as RANGE-frame windows over exact
    epoch-microsecond integers — the frame bound is data-defined, so
    Catalyst evaluates it per row with ONE sort per user partition and
    zero self-joins (the naive form is an events×events interval join).
    Both window frames share one partitioning+sort (a single Exchange,
    one Sort in the plan); amounts are int64 cents so the running sums
    are engine-order-independent.  Skew: a hot user serializes its
    partition — the running_sum_split hot-key treatment
    (operators/windows.py) applies unchanged if a user exceeds executor
    memory; at the events table's fan-out it is not needed."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"))
    w1 = (Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-3_600_000_000, 0))
    w24 = (Window.partitionBy("user_id").orderBy("us")
           .rangeBetween(-86_400_000_000, 0))
    return e.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w1).cast("long").alias("n_1h"),
        F.sum("v").over(w1).cast("long").alias("cents_1h"),
        F.count(F.lit(1)).over(w24).cast("long").alias("n_24h"),
        F.sum("v").over(w24).cast("long").alias("cents_24h"))


@q("session_markov_transitions", """
WITH s AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id
  FROM events),
tr AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id, day
                               ORDER BY ts, event_id) AS from_type
  FROM s),
c AS (
  SELECT from_type, to_type, COUNT(*) AS cnt
  FROM tr WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type),
tot AS (SELECT from_type, SUM(cnt) AS t FROM c GROUP BY from_type)
SELECT c.from_type AS from_type, c.to_type AS to_type,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE) AS p
FROM c JOIN tot ON tot.from_type = c.from_type""")
def session_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: within
    each (user, day) session, count consecutive event-type bigrams and
    normalize per source state — the behavioral-analytics /
    next-action-model primitive.  One keyed window (deterministic
    (ts, event_id) order) emits the lag pairs, then two hash-aggs; the
    per-source normalizer joins back on the tiny state set.
    Transition probability is ONE IEEE-exact division of exact counts
    — no rounding needed for cross-engine equality."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("user_id", F.to_date("ts").alias("day"),
                  "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    tr = (s.select(F.col("event_type").alias("to_type"),
                   F.lag("event_type").over(w).alias("from_type"))
          .filter(F.col("from_type").isNotNull()))
    c = tr.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.groupBy("from_type").agg(F.sum("cnt").alias("t"))
    return (c.join(tot, "from_type")
            .select("from_type", "to_type",
                    F.col("cnt").cast("long").alias("cnt"),
                    (F.col("cnt").cast("double") / F.col("t").cast("double"))
                    .alias("p")))


@q("score_psi_drift", """
WITH e AS (
  SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
              THEN 'ref' ELSE 'cur' END AS pop,
         LEAST(CAST(FLOOR(value / 60.0) AS BIGINT), 9) AS bin
  FROM events),
c AS (SELECT pop, bin, COUNT(*) AS n FROM e GROUP BY pop, bin),
n AS (SELECT pop, SUM(n) AS tot FROM c GROUP BY pop),
bins AS (SELECT range AS bin FROM range(10)),
pq AS (
  SELECT b.bin,
    (COALESCE(r.n, 0) + 0.5)
      / ((SELECT tot FROM n WHERE pop = 'ref') + 5.0) AS p,
    (COALESCE(u.n, 0) + 0.5)
      / ((SELECT tot FROM n WHERE pop = 'cur') + 5.0) AS q
  FROM bins b
  LEFT JOIN c r ON r.bin = b.bin AND r.pop = 'ref'
  LEFT JOIN c u ON u.bin = b.bin AND u.pop = 'cur')
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(SUM((p - q) * ln(p / q)), 6) + 0 AS psi
FROM pq""")
def score_psi_drift(spark, sf_dir):
    """Population Stability Index between the month's first- and
    second-half score distributions — the model-monitoring drift
    metric every deployed banking model is watched with
    (PSI = Σ (p−q)·ln(p/q) over score bins; > 0.2 conventionally
    triggers retraining).  Scale shape: ONE hash-agg over
    (population, bin) — the 100 TB scan reduces to 20 rows — then the
    10-bin spine (a literal range, so empty bins are present, with
    add-half smoothing keeping ln finite) assembles driver-light.
    Counts and totals are exact ints; ln enters only on 10 final
    terms, masked by the canon-zero 6-decimal round."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), "ref")
        .otherwise("cur").alias("pop"),
        F.least(F.floor(F.col("value") / 60.0).cast("long"), F.lit(9))
        .alias("bin"))
    # Collect the ≤20-row (pop, bin) agg ONCE — it feeds both the
    # totals scalar and the spine join, and a driver copy of a bounded
    # histogram is cheaper than persist()-and-forget (the r8 advice:
    # persisted intermediates leaked for the session's lifetime).  The
    # 100 TB scan still happens exactly once, distributed.
    c_rows = (e.groupBy("pop", "bin")
              .agg(F.count(F.lit(1)).alias("n")).collect())
    tots: dict[str, int] = {}
    for row in c_rows:
        tots[row["pop"]] = tots.get(row["pop"], 0) + row["n"]
    c = spark.createDataFrame(
        [(row["pop"], int(row["bin"]), int(row["n"])) for row in c_rows],
        "pop string, bin long, n long")
    bins = spark.range(10).select(F.col("id").alias("bin"))
    r = (c.filter(F.col("pop") == "ref")
         .select("bin", F.col("n").alias("rn")))
    u = (c.filter(F.col("pop") == "cur")
         .select("bin", F.col("n").alias("un")))
    pq = (bins.join(r, "bin", "left").join(u, "bin", "left")
          .select(
              ((F.coalesce(F.col("rn"), F.lit(0)) + 0.5)
               / F.lit(float(tots.get("ref", 0)) + 5.0)).alias("p"),
              ((F.coalesce(F.col("un"), F.lit(0)) + 0.5)
               / F.lit(float(tots.get("cur", 0)) + 5.0)).alias("q")))
    return pq.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (F.round(F.sum((F.col("p") - F.col("q"))
                       * F.log(F.col("p") / F.col("q"))), 6) + 0)
        .alias("psi"))


@q("stream_heavy_hitters", """
WITH kk AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN user_id % 10
              ELSE event_id + 10000000 END AS key
  FROM events)
SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt
FROM kk GROUP BY key ORDER BY cnt DESC, key LIMIT 10""")
def stream_heavy_hitters(spark, sf_dir):
    """Streaming top-10 heavy hitters — the real-time "who is hammering
    us right now" op: each micro-batch runs the distributed
    Misra–Gries candidate pass (functions/scale.py heavy_hitters_topk,
    so per-batch driver traffic is ≤ counters candidate rows, never
    the batch's key cardinality), the driver merges batch summaries
    with the MG trim (summary merge keeps the additive-error
    guarantee: any key with total count > N/counters survives to the
    end of the stream), and a final exact recount over the stored
    table verifies the candidates — the same sketch-then-verify shape
    as the batch entry, with the sketch half running incrementally.
    The planted fixture (a third of events collapse onto 10 hub keys,
    the rest near-unique) puts the hubs far above the guarantee
    threshold, so the streamed result equals the batch oracle's
    brute-force top-10 exactly."""
    from aws_etl_bank_spark.functions.scale import heavy_hitters_topk
    from aws_etl_bank_spark.plans.registry_llm_stream import _events_stream_dir
    from aws_etl_bank_spark.sources.testdata import events_stream
    from aws_etl_bank_spark.streaming import for_each_batch

    counters = 128

    def keyed(df):
        return df.select(
            F.when(F.col("event_id") % 3 == 0, F.col("user_id") % 10)
            .otherwise(F.col("event_id") + 10_000_000).alias("key"))

    state: dict = {}

    def handle(batch_df, batch_id):
        rows = heavy_hitters_topk(keyed(batch_df), "key",
                                  k=counters, counters=counters).collect()
        for r in rows:
            state[r.key] = state.get(r.key, 0) + r.cnt
        if len(state) > counters:
            cut = sorted(state.values(), reverse=True)[counters]
            for k2 in list(state):
                state[k2] -= cut
                if state[k2] <= 0:
                    del state[k2]

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "hh_ckpt"),
        "availableNow": True,
    })
    cand = spark.createDataFrame([(int(k),) for k in state], "key long")
    exact = (keyed(load_table(spark, sf_dir, "events"))
             .join(F.broadcast(cand), "key", "left_semi")
             .groupBy("key").agg(F.count(F.lit(1)).alias("cnt")))
    return (exact.orderBy(F.desc("cnt"), "key").limit(10)
            .select("key", F.col("cnt").cast("long").alias("cnt")))


@q("feature_decayed_velocity", """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE)
           / 3600000000.0 AS t
  FROM events),
s AS (
  SELECT user_id, event_id, t,
         SUM(exp(t / 24.0)) OVER w AS s1,
         SUM(value * exp(t / 24.0)) OVER w AS s2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id,
       ROUND(exp(-t / 24.0) * s1, 4) + 0 AS decayed_n,
       ROUND(exp(-t / 24.0) * s2, 4) + 0 AS decayed_amt
FROM s""")
def feature_decayed_velocity(spark, sf_dir):
    """Exponentially time-decayed running features AS OF each event
    (24 h e-folding): decayed count Σe^{−λΔt} and decayed amount
    Σ value·e^{−λΔt} — the recency-weighted sibling of the hard-window
    velocity features, and the classic fraud/engagement feature a
    feature store serves.  The recursion s_i = x_i + e^{−λδ}·s_{i−1}
    is SERIAL as written; the scalable form factorizes it —
    e^{−λt_i} · Σ_{j≤i} x_j·e^{+λt_j} — turning it into TWO cumulative
    window sums over one keyed sort (the CUSUM trick: closed windows
    only, no applyInPandas, no serial scan).  Time is exact integer
    epoch-µs shifted to the data's base year before ONE IEEE division
    (keeps e^{+λt} ≤ e^{30} — factorization overflows if t is raw
    epoch), and both engines evaluate the prefix sums in the same
    deterministic (t, event_id) order, so the only cross-engine slack
    is exp()'s last ulp — masked by the canon-zero 4-decimal round."""
    ev = load_table(spark, sf_dir, "events")
    lam = 1.0 / 24.0
    t = ((F.expr("unix_micros(cast(ts as timestamp))")
          - F.lit(1704067200000000)).cast("double") / 3.6e9)
    e = ev.select("user_id", "event_id", "value", t.alias("t"))
    w = (Window.partitionBy("user_id").orderBy("t", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    s1 = F.sum(F.exp(F.col("t") * lam)).over(w)
    s2 = F.sum(F.col("value") * F.exp(F.col("t") * lam)).over(w)
    return e.select(
        "user_id", "event_id",
        (F.round(F.exp(-F.col("t") * lam) * s1, 4) + 0).alias("decayed_n"),
        (F.round(F.exp(-F.col("t") * lam) * s2, 4) + 0).alias("decayed_amt"))


@q("quality_entropy_profile", """
WITH lng AS (
  SELECT 'o_orderstatus' AS col, CAST(o_orderstatus AS VARCHAR) AS val
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
c AS (SELECT col, val, COUNT(*) AS n FROM lng GROUP BY col, val),
t AS (SELECT col, SUM(n) AS tot, COUNT(*) AS n_distinct FROM c GROUP BY col)
SELECT c.col AS col,
       CAST(t.n_distinct AS BIGINT) AS n_distinct,
       CAST(t.tot AS BIGINT) AS n_rows,
       ROUND(-SUM((CAST(n AS DOUBLE) / tot)
                  * ln(CAST(n AS DOUBLE) / tot)), 6) + 0 AS entropy
FROM c JOIN t ON t.col = c.col
GROUP BY c.col, t.n_distinct, t.tot""")
def quality_entropy_profile(spark, sf_dir):
    """Per-column Shannon entropy + distinct-count profile for
    categorical columns — the data-profiling statistic that flags both
    constant columns (entropy 0: a broken upstream writing one value)
    and exploding-cardinality columns (entropy ≈ log n — o_custkey is
    profiled as the planted example of an id leaking into a dimension)
    before they hit a model.  Scale shape: the wide
    table UNPIVOTS map-side to (col, val) — one fact scan for ALL
    profiled columns — then two hash-aggs (value counts map-side
    combine; per-column totals on the tiny count frame).  Counts and
    totals are exact ints; p·ln p runs only over the distinct-value
    frame, masked by the canon-zero 6-decimal round."""
    o = load_table(spark, sf_dir, "orders")
    lng = o.select(
        F.explode(F.map_from_arrays(
            F.array(F.lit("o_orderstatus"), F.lit("o_orderpriority"),
                    F.lit("o_custkey")),
            F.array(F.col("o_orderstatus").cast("string"),
                    F.col("o_orderpriority").cast("string"),
                    F.col("o_custkey").cast("string"))))
        .alias("col", "val"))
    c = lng.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    t = (c.groupBy("col")
         .agg(F.sum("n").alias("tot"),
              F.count(F.lit(1)).alias("n_distinct")))
    p = F.col("n").cast("double") / F.col("tot")
    return (c.join(t, "col")
            .groupBy("col", "n_distinct", "tot")
            .agg((F.round(-F.sum(p * F.log(p)), 6) + 0).alias("entropy"))
            .select("col", F.col("n_distinct").cast("long").alias("n_distinct"),
                    F.col("tot").cast("long").alias("n_rows"), "entropy"))


@q("scale_bitmap_retention", """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(user_id // 62 AS BIGINT) AS word,
         1::BIGINT << CAST(user_id % 62 AS INT) AS mask
  FROM events),
bm AS (SELECT day, word, bit_or(mask) AS bits FROM e GROUP BY day, word),
dau AS (SELECT day, CAST(SUM(bit_count(bits)) AS BIGINT) AS dau
        FROM bm GROUP BY day),
ret AS (
  SELECT a.day AS day,
         CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS returned
  FROM bm a JOIN bm b ON b.word = a.word AND b.day = a.day + 1
  GROUP BY a.day)
SELECT d.day AS day, d.dau,
       COALESCE(r.returned, 0) AS returned_next_day
FROM dau d LEFT JOIN ret r ON r.day = d.day""")
def scale_bitmap_retention(spark, sf_dir):
    """Bitmap-index distinct rollup — the Druid/ClickHouse groupBitmap
    pattern in pure DataFrame algebra: user presence per day compresses
    to 62-bit words via bit_or (one map-side-combined hash-agg; the
    per-day state is ≤ max_user/62 words, NOT a user set), DAU is a
    bit_count sum over the bitmap, and next-day retention is a bitmap
    AND — an equi-join on (word, day+1) followed by popcount, with NO
    count-distinct shuffle anywhere.  This is the shape that replaces
    COUNT(DISTINCT) entirely for dense integer ids at 100 TB: bitmaps
    merge associatively (incremental days just OR in), intersect
    cheaply (any cohort overlap is AND+popcount), and the whole state
    is int64 columns any engine can store.  62 bits per word, not 64:
    a shift into the sign bit is int64 overflow on engines that check
    (DuckDB raises).  The tiny bitmap frame persists — its three
    consumers (DAU, both retention sides) would otherwise rescan the
    fact."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("user_id div 62").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(user_id, 62) as int))").alias("mask"))
    bm = (e.groupBy("day", "word")
          .agg(F.expr("bit_or(mask)").alias("bits")).persist())
    dau = (bm.groupBy("day")
           .agg(F.sum(F.bit_count("bits")).cast("long").alias("dau")))
    a, b = bm.alias("a"), bm.alias("b")
    ret = (a.join(b, (F.col("b.word") == F.col("a.word"))
                  & (F.col("b.day") == F.date_add(F.col("a.day"), 1)))
           .groupBy(F.col("a.day").alias("day"))
           .agg(F.sum(F.bit_count(
               F.col("a.bits").bitwiseAND(F.col("b.bits"))))
               .cast("long").alias("returned")))
    return (dau.join(ret, "day", "left")
            .select("day", "dau",
                    F.coalesce(F.col("returned"), F.lit(0)).cast("long")
                    .alias("returned_next_day")))


@q("session_top_paths", """
WITH s AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id
           FROM events),
p AS (SELECT user_id, day,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, day),
c AS (SELECT path, COUNT(*) AS n FROM p GROUP BY path)
SELECT path, CAST(n AS BIGINT) AS n
FROM c ORDER BY n DESC, path LIMIT 20""")
def session_top_paths(spark, sf_dir):
    """Top-20 user journey paths — each (user, day) session's ordered
    event-type sequence as a '>'-joined path string, counted and
    ranked (the clickstream "common paths" report; the full-sequence
    sibling of session_markov_transitions' bigrams).  Scale shape: ONE
    hash-agg builds every session's path via collect_list +
    array_sort(struct(ts, event_id, type)) — sorting happens inside
    the aggregation buffer per session (bounded by session length),
    not as a corpus-wide sort — then a path-keyed count and a
    TakeOrdered finish.  Deterministic: the struct sort pins
    (ts, event_id) order identically to the oracle's ordered
    string_agg."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("user_id", F.to_date("ts").alias("day"),
                  "event_type", "ts", "event_id")
    p = (s.groupBy("user_id", "day")
         .agg(F.array_join(
             F.transform(
                 F.array_sort(F.collect_list(
                     F.struct("ts", "event_id", "event_type"))),
                 lambda x: x["event_type"]),
             ">").alias("path")))
    return (p.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "path").limit(20)
            .select("path", F.col("n").cast("long").alias("n")))


@q("scd_snapshot_diff", """
WITH oldt AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0),
newt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 89 <> 0),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_totalprice AS op, o.o_orderstatus AS os,
         n.o_totalprice AS np, n.o_orderstatus AS ns,
         o.o_orderkey IS NOT NULL AS ino,
         n.o_orderkey IS NOT NULL AS inn
  FROM oldt o FULL OUTER JOIN newt n ON n.o_orderkey = o.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT ino THEN 'I' WHEN NOT inn THEN 'D'
            ELSE 'U' END AS change_type,
       CASE WHEN ino AND inn THEN array_to_string(list_sort(list_filter(
              [CASE WHEN op IS DISTINCT FROM np
                    THEN 'o_totalprice' END,
               CASE WHEN os IS DISTINCT FROM ns
                    THEN 'o_orderstatus' END],
              x -> x IS NOT NULL)), ',')
            ELSE '' END AS changed_cols,
       np AS o_totalprice, ns AS o_orderstatus
FROM j
WHERE NOT (ino AND inn AND op IS NOT DISTINCT FROM np
           AND os IS NOT DISTINCT FROM ns)""")
def scd_snapshot_diff(spark, sf_dir):
    """Changeset generation between two daily extracts
    (aws_etl_bank_spark/scd.py:snapshot_diff) — the CDC-feed-from-
    full-extract pattern: yesterday's snapshot (keys %97 removed
    simulate not-yet-inserted rows) diffed against today's (keys %89
    dropped = deletes, %13 repriced = updates) in ONE null-safe
    full-outer join; I/D fall out of join-side nullness, U out of a
    null-safe column compare, per-column change flags are array
    expressions on the same row.  The +1.5 reprice is an IEEE-exact
    double op, so both engines see identical update values.  The
    changed-column list is sorted and serialized with ``array_join``
    (house convention — the driver's pandas canon cannot hash raw
    arrays; same as agg_payment_types)."""
    from aws_etl_bank_spark.scd import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderkey") % 97 != 0)
           .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    new = (o.filter(F.col("o_orderkey") % 89 != 0)
           .select("o_orderkey",
                   F.when(F.col("o_orderkey") % 13 == 0,
                          F.col("o_totalprice") + 1.5)
                   .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
                   "o_orderstatus"))
    d = snapshot_diff(old, new, ["o_orderkey"],
                      ["o_totalprice", "o_orderstatus"])
    return d.withColumn("changed_cols",
                        F.array_join(F.array_sort("changed_cols"), ","))


@q("ts_lateness_profile", """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
l AS (
  SELECT user_id,
         GREATEST(0, COALESCE(
             max(us) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) - us, 0)) AS late_us
  FROM e)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us
FROM l GROUP BY user_id""")
def ts_lateness_profile(spark, sf_dir):
    """Event-time lateness profile — the diagnostic that SIZES
    WATERMARKS: per key, how many events arrived behind an
    already-seen later timestamp (arrival order = the monotonic
    ingest id) and by at most how much.  The streaming suite's
    `withWatermark` thresholds are exactly this table's max/quantiles;
    running it on the batch mirror of the stream is how the threshold
    is chosen rather than guessed.  Shape: one KEYED running-max
    window (the global-watermark variant would be a single-partition
    ORDER BY event_id window — the anti-pattern; compute per key and
    aggregate the per-key maxima instead) + one hash-agg; lateness is
    exact epoch-µs integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("us"))
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    late = F.greatest(
        F.lit(0), F.coalesce(F.max("us").over(w) - F.col("us"), F.lit(0)))
    return (e.withColumn("late_us", late)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
                 .cast("long").alias("n_late"),
                 F.max("late_us").cast("long").alias("max_late_us")))


@q("ts_rollup_cascade", """
WITH c AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events)
SELECT event_type,
       CAST(day // 30 AS BIGINT) AS period,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS sum_cents,
       CAST(MIN(v) AS BIGINT) AS min_cents,
       CAST(MAX(v) AS BIGINT) AS max_cents
FROM c GROUP BY event_type, day // 30""")
def ts_rollup_cascade(spark, sf_dir):
    """Rollup CASCADE: the 30-day-period rollup computed FROM the
    daily rollup — never re-touching raw events — checked against an
    oracle that aggregates the raw data directly.  This is the
    continuous-aggregate maintenance contract at 100 TB: day → week →
    month each re-aggregates the previous (decomposable) level, so
    coarser grains cost |days| rows, not |events|; the oracle equality
    IS the proof that (count, sum, min, max) compose losslessly
    through the cascade (avg deliberately re-derives from sum/count —
    averaging averages is the classic cascade bug, kept out by
    construction).  Two map-side-combined hash-aggs; exact int cents
    and epoch-µs day buckets throughout."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"))
    daily = (c.groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                  F.min("v").alias("mn"), F.max("v").alias("mx")))
    return (daily.groupBy("event_type",
                          F.expr("day div 30").cast("long").alias("period"))
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("s").cast("long").alias("sum_cents"),
                 F.min("mn").cast("long").alias("min_cents"),
                 F.max("mx").cast("long").alias("max_cents")))


@q("feature_impute_group", """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS v
  FROM events),
p AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e WHERE v IS NOT NULL),
medx AS (
  SELECT p.event_type,
         (CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS DOUBLE)
          + MAX(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 2.0 AS med
  FROM p GROUP BY p.event_type)
SELECT e.event_id, e.event_type,
       COALESCE(CAST(e.v AS DOUBLE), medx.med) AS v_imputed,
       CAST(CASE WHEN e.v IS NULL THEN 1 ELSE 0 END AS INTEGER)
           AS was_imputed
FROM e JOIN medx ON medx.event_type = e.event_type""")
def feature_impute_group(spark, sf_dir):
    """Group-median NULL imputation — the ML-preprocessing step with
    the grouped-median trap: engine `median()` interpolation rules
    differ, so the median is rank-picked exactly
    ((⌊(n+1)/2⌋-th + ⌈(n+1)/2⌉-th)/2 over int cents — the
    ts_anomaly_mad recipe), making imputed values engine-identical by
    arithmetic, not by luck.  NULLs are planted deterministically
    (event_id % 7) so the imputation path is oracle-covered for every
    group.  Shape: one rank window per group over NON-NULL rows only
    + a group-sized broadcast join-back; the imputed flag rides along
    for downstream leakage audits."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .alias("v"))
    nn = e.filter(F.col("v").isNotNull())
    w = Window.partitionBy("event_type").orderBy("v")
    p = (nn.withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(
             Window.partitionBy("event_type"))))
    med = (p.groupBy("event_type")
           .agg(((F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                               F.col("v")).otherwise(None)
                        .cast("double"))
                  + F.max(F.when(F.col("rn") == F.expr("(n + 2) div 2"),
                                 F.col("v")).otherwise(None)))
                 / 2.0).alias("med")))
    return (e.join(F.broadcast(med), "event_type")
            .select("event_id", "event_type",
                    F.coalesce(F.col("v").cast("double"), F.col("med"))
                    .alias("v_imputed"),
                    F.when(F.col("v").isNull(), 1).otherwise(0)
                    .cast("int").alias("was_imputed")))


@q("feature_target_encode_loo", """
WITH e AS (
  SELECT o_orderkey, o_orderpriority AS cat,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
  FROM orders),
g AS (SELECT cat, SUM(y) AS s, COUNT(*) AS n FROM e GROUP BY cat)
SELECT o_orderkey, cat,
       CASE WHEN n > 1 THEN CAST(s - y AS DOUBLE) / (n - 1) END AS te_loo
FROM e JOIN g USING (cat)""")
def feature_target_encode_loo(spark, sf_dir):
    """Leave-one-out target encoding — the high-cardinality-categorical
    feature with the leakage correction done in closed form: each
    row's encoding is (Σ_group y − y_own)/(n_group − 1), so a row
    never sees its own target (the naive group-mean join leaks and
    overfits; the naive per-row recompute is O(N·groups)).  ONE
    hash-agg to group sufficient stats + a group-sized broadcast
    join-back; the encoding is exact int cents and one IEEE division,
    engine-identical without rounding.  Singleton groups yield NULL
    (no peer signal) rather than a leaked self-mean."""
    o = load_table(spark, sf_dir, "orders")
    e = o.select("o_orderkey", F.col("o_orderpriority").alias("cat"),
                 F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                 .alias("y"))
    g = e.groupBy("cat").agg(F.sum("y").alias("s"),
                             F.count(F.lit(1)).alias("n"))
    return (e.join(F.broadcast(g), "cat")
            .select("o_orderkey", "cat",
                    F.when(F.col("n") > 1,
                           (F.col("s") - F.col("y")).cast("double")
                           / (F.col("n") - 1)).alias("te_loo")))


@q("sample_class_balanced", """
WITH e AS (
  SELECT event_id, event_type,
         (((event_id % 1000003 + 1000003) % 1000003) * 2654435761)
           % 1000003 AS hk
  FROM events),
cc AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY event_type),
nm AS (SELECT MIN(n) AS n_min FROM cc),
r AS (SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hk, event_id) AS rn
      FROM e)
SELECT r.event_id, r.event_type
FROM r, nm WHERE r.rn <= nm.n_min""")
def sample_class_balanced(spark, sf_dir):
    """Deterministic class-balanced downsample — every label keeps
    exactly n_min rows (the minority-class count), selected by the
    corpus-stable Knuth hash so membership is a pure function of the
    id (reproducible across reruns/partitionings/engines; rand()-based
    balancing is not).  The per-class rank filter rides the
    WindowGroupLimit pattern of sample_per_group_bottomk — except the
    limit is data-dependent (n_min via a 1-row broadcast), so the
    filter applies post-window; the window is still keyed per class,
    never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    hk = F.pmod(F.pmod(F.col("event_id").cast("long"), F.lit(1000003))
                * F.lit(2654435761 % 1000003), F.lit(1000003))
    e = ev.select("event_id", "event_type", hk.alias("__hk"))
    nm = (e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
          .agg(F.min("n").alias("__n_min")))
    w = Window.partitionBy("event_type").orderBy("__hk", "event_id")
    return (e.withColumn("__rn", F.row_number().over(w))
            .join(F.broadcast(nm))
            .filter(F.col("__rn") <= F.col("__n_min"))
            .select("event_id", "event_type"))


@q("split_temporal_purged", """
WITH e AS (
  SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-18' THEN 'train'
              WHEN CAST(ts AS DATE) >= DATE '2024-01-20' THEN 'test'
              ELSE 'purged' END AS split,
         epoch_us(ts) AS us
  FROM events)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(us) AS BIGINT) AS min_us,
       CAST(MAX(us) AS BIGINT) AS max_us
FROM e GROUP BY split""")
def split_temporal_purged(spark, sf_dir):
    """Purged temporal train/test split — the financial-ML split
    discipline (de Prado's purging): a 2-day embargo BETWEEN train and
    test is dropped so that features with trailing windows (the
    velocity/decay entries) cannot straddle the boundary and leak
    test-period information into training rows.  Map-only labeling;
    the oracle pins each split's row count and exact epoch-µs
    boundaries, which is the property that matters (no event on the
    wrong side).  The summary shape keeps the entry compact; the
    per-row labeling is the same CASE expression."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    split = (F.when(day < F.lit("2024-01-18").cast("date"), "train")
             .when(day >= F.lit("2024-01-20").cast("date"), "test")
             .otherwise("purged"))
    return (ev.select(split.alias("split"),
                      F.expr("unix_micros(cast(ts as timestamp))")
                      .alias("us"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("us").cast("long").alias("min_us"),
                 F.max("us").cast("long").alias("max_us")))


@q("ml_ols_closed_form", """
WITH f AS (
  SELECT CAST(epoch_us(ts) // 86400000000 - 19723 AS BIGINT) AS x1,
         CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS x2,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
  FROM events),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM f),
d AS (
  SELECT n, s1, s2, sy, s11, s12, s22, s1y, s2y,
    CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                         - CAST(s12 AS DOUBLE) * s12)
    - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
                            - CAST(s12 AS DOUBLE) * s2)
    + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                            - CAST(s11 AS DOUBLE) * s2) AS det
  FROM s)
SELECT CAST(n AS BIGINT) AS n,
  ROUND((CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                               - CAST(s12 AS DOUBLE) * s12)
         - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
                                 - CAST(s12 AS DOUBLE) * s2y)
         + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12
                                 - CAST(s11 AS DOUBLE) * s2y))
        / det, 6) + 0 AS beta0,
  ROUND((CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
                              - CAST(s12 AS DOUBLE) * s2y)
         - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
                                 - CAST(s12 AS DOUBLE) * s2)
         + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
                                 - CAST(s1y AS DOUBLE) * s2))
        / det, 6) + 0 AS beta1,
  ROUND((CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y
                              - CAST(s1y AS DOUBLE) * s12)
         - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
                                 - CAST(s1y AS DOUBLE) * s2)
         + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                                 - CAST(s11 AS DOUBLE) * s2))
        / det, 6) + 0 AS beta2
FROM d""")
def ml_ols_closed_form(spark, sf_dir):
    """Distributed ordinary least squares in closed form — cents ~
    day-index + hour-of-day: the 100 TB regression shape is ONE
    map-side-combined aggregation to the 9 exact-int64 sufficient
    statistics (n, Σx, Σxxᵀ, Σxy — feature magnitudes bound every sum
    far below 2⁶³), then the 3×3 normal equations solve by CRAMER'S
    RULE as a row-local expression — no driver linear algebra, no
    iterations, no collect beyond the single stats row.  Cross-engine
    exactness: the determinant expressions are WRITTEN IDENTICALLY on
    both sides over identical exact ints, so the doubles agree to the
    last ulp before the canon-zero 6-decimal round.  (The d×d general
    case is embed_pca_planted_axis's Gram machinery + a driver solve;
    Cramer is the no-driver special case every fixed-small-d
    regression should use.)"""
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        (F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         - 19723).alias("x1"),
        F.expr("pmod(unix_micros(cast(ts as timestamp)) div 3600000000, 24)")
        .alias("x2"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"))
    s = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"))
    c = {k: F.col(k).cast("double") for k in
         ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")}
    det = (c["n"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
           - c["s1"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
           + c["s2"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"]))
    b0 = (c["sy"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
          - c["s1"] * (c["s1y"] * c["s22"] - c["s12"] * c["s2y"])
          + c["s2"] * (c["s1y"] * c["s12"] - c["s11"] * c["s2y"]))
    b1 = (c["n"] * (c["s1y"] * c["s22"] - c["s12"] * c["s2y"])
          - c["sy"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
          + c["s2"] * (c["s1"] * c["s2y"] - c["s1y"] * c["s2"]))
    b2 = (c["n"] * (c["s11"] * c["s2y"] - c["s1y"] * c["s12"])
          - c["s1"] * (c["s1"] * c["s2y"] - c["s1y"] * c["s2"])
          + c["sy"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"]))
    return s.select(
        F.col("n").cast("long").alias("n"),
        (F.round(b0 / det, 6) + 0).alias("beta0"),
        (F.round(b1 / det, 6) + 0).alias("beta1"),
        (F.round(b2 / det, 6) + 0).alias("beta2"))


@q("stream_batch_unified", """
SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY day""")
def stream_batch_unified(spark, sf_dir):
    """Kappa-style stream/batch unification: history is a batch read
    (days before the cutover), the live path REPLAYS the stream from
    one day BEFORE the cutover (the deliberate overlap every
    at-least-once handoff has) through a real foreachBatch parquet
    sink, and the unified view dedups the overlap by event id
    (first-arrival) before aggregating.  The oracle is the plain
    batch aggregate over the WHOLE table — equality proves the
    handoff loses nothing and double-counts nothing, the two failure
    modes of a batch→stream cutover.  The live path stays distributed
    end-to-end (micro-batches append to files; nothing corpus-sized
    crosses the driver)."""
    from aws_etl_bank_spark.plans.registry_llm_stream import _events_stream_dir
    from aws_etl_bank_spark.sources.testdata import events_stream
    from aws_etl_bank_spark.streaming import for_each_batch

    cut = F.lit("2024-01-16").cast("date")
    ev = load_table(spark, sf_dir, "events")
    hist = (ev.filter(F.to_date("ts") < cut)
            .select("event_id", F.to_date("ts").alias("day")))
    sink = _scratch_run(sf_dir, "kappa_sink")

    def handle(batch_df, batch_id):
        (batch_df.filter(F.to_date("ts") >= F.date_sub(cut, 1))
         .select("event_id", F.to_date("ts").alias("day"))
         .write.mode("append").parquet(sink))

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "kappa_ckpt"),
        "availableNow": True,
    })
    live = spark.read.parquet(sink)
    return (hist.unionByName(live)
            .dropDuplicates(["event_id"])
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


@q("agg_mode_per_group", """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type),
r AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rn
  FROM c)
SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n
FROM r WHERE rn = 1""")
def agg_mode_per_group(spark, sf_dir):
    """Exact per-group mode with a DETERMINISTIC tie-break — each
    user's most frequent event type, ties to the lexicographically
    first (engine `mode()` tie behavior is undefined, which is why it
    never appears here).  Two-level shape: value counts first (one
    map-side-combined hash-agg — the (group, value) frame is the
    small one), then max_by over the counted rows; the rank filter
    rides WindowGroupLimit so only one row per group survives the
    second exchange."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (c.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", F.col("event_type").alias("mode_type"),
                    F.col("n").cast("long").alias("n")))


@q("join_interval_overlap", """
WITH s AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MIN(epoch_us(ts)) AS lo,
         MIN(epoch_us(ts)) + 300000000 AS hi
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
p AS (
  SELECT a.day AS day, a.user_id AS u1, b.user_id AS u2
  FROM s a JOIN s b
    ON b.day = a.day AND a.user_id < b.user_id
   AND a.lo <= b.hi AND b.lo <= a.hi)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
FROM p GROUP BY day""")
def join_interval_overlap(spark, sf_dir):
    """INTERVAL × INTERVAL overlap join — which users' 5-minute
    session-start windows were concurrently active each day — the
    two-sided generalization of
    the point-probe range join (operators/joins.py range_join): both
    sides are intervals, so neither can be bucketized away
    one-sidedly.  Scale shape: each day-session explodes to the HOUR
    BUCKETS it covers (bounded ≤ 24× — the banding trick), candidate
    pairs come from an equi-join on (day, bucket), duplicates from
    multi-bucket overlaps collapse with a distinct, and the exact
    lo ≤ hi' ∧ lo' ≤ hi predicate verifies candidates — never a
    non-equi nested-loop over sessions² (no BNLJ, plan-asserted in
    tests).  The oracle does the naive quadratic interval join —
    checking the banded plan against the definition.  The 5-minute
    fixture keeps the TRUE overlap density sparse at every SF (a
    whole-day-interval fixture degenerates to all-pairs — output
    quadratic in users, which no join strategy can save; interval
    joins are only meaningful when overlap is selective)."""
    ev = load_table(spark, sf_dir, "events")
    s = (ev.select("user_id", F.to_date("ts").alias("day"),
                   F.expr("unix_micros(cast(ts as timestamp))").alias("us"))
         .groupBy("user_id", "day")
         .agg(F.min("us").alias("lo"),
              (F.min("us") + 300_000_000).alias("hi")))
    hour = 3_600_000_000
    b = s.select(
        "user_id", "day", "lo", "hi",
        F.explode(F.sequence(F.expr(f"lo div {hour}"),
                             F.expr(f"hi div {hour}"))).alias("bucket"))
    a2, b2 = b.alias("a"), b.alias("b")
    cand = (a2.join(b2, (F.col("b.day") == F.col("a.day"))
                    & (F.col("b.bucket") == F.col("a.bucket"))
                    & (F.col("a.user_id") < F.col("b.user_id")))
            .filter((F.col("a.lo") <= F.col("b.hi"))
                    & (F.col("b.lo") <= F.col("a.hi")))
            .select(F.col("a.day").alias("day"),
                    F.col("a.user_id").alias("u1"),
                    F.col("b.user_id").alias("u2"))
            .distinct())
    return (cand.groupBy("day")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_overlapping_pairs")))


@q("agg_weighted_median", """
WITH e AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CAST(1 + user_id % 5 AS BIGINT) AS w
  FROM events),
r AS (
  SELECT event_type, v, w,
         SUM(w) OVER (PARTITION BY event_type ORDER BY v, w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cw,
         SUM(w) OVER (PARTITION BY event_type) AS tw
  FROM e)
SELECT event_type,
       CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
           AS weighted_median_cents,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM r GROUP BY event_type""")
def agg_weighted_median(spark, sf_dir):
    """Exact weighted median per group — the lower weighted median
    (smallest v whose cumulative weight reaches half the total), the
    definition that needs NO interpolation and therefore no
    engine-specific percentile semantics: one keyed sort window for
    the running weight, one whole-group window for the total (both
    share the partition exchange), and a conditional-min aggregate
    picks the answer.  All arithmetic exact int64 (cents, integer
    weights, 2·cw ≥ tw instead of cw ≥ tw/2 — no division at all).
    Deterministic under ties via the (v, w) sort; weights here derive
    from user_id so the fixture is reproducible."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        (1 + F.col("user_id") % 5).cast("long").alias("w"))
    wcum = (Window.partitionBy("event_type").orderBy("v", "w")
            .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy("event_type")
    r = (e.withColumn("cw", F.sum("w").over(wcum))
         .withColumn("tw", F.sum("w").over(wtot)))
    return (r.groupBy("event_type")
            .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v")))
                 .cast("long").alias("weighted_median_cents"),
                 F.max("tw").cast("long").alias("total_weight")))


@q("ts_autocorrelation", """
WITH h AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000),
p AS (
  SELECT event_type, s AS x,
         lead(s) OVER (PARTITION BY event_type ORDER BY hr) AS y
  FROM h),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM p WHERE y IS NOT NULL GROUP BY event_type)
SELECT event_type, n,
  ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
        6) + 0 AS acf_lag1
FROM st""")
def ts_autocorrelation(spark, sf_dir):
    """Lag-1 autocorrelation of each event type's hourly totals — the
    first statistic of any forecasting/seasonality screen ("is this
    series even autocorrelated?"), computed the cross-engine-exact
    way: hourly cent sums are exact int64, the lag pairs come from one
    keyed window, and the Pearson correlation is assembled from exact
    integer sufficient statistics (N·Σxy − ΣxΣy form — the same
    no-streaming-variance rule as ts_seasonal_strength), with floats
    only in the final per-group expression (IEEE mult/sub/div/sqrt —
    no libm), canon-zero rounded.  Two map-side-combined hash-aggs +
    one keyed sort shared by the lag window."""
    ev = load_table(spark, sf_dir, "events")
    h = (ev.select("event_type",
                   F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
                   .alias("hr"),
                   F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"))
         .groupBy("event_type", "hr").agg(F.sum("v").alias("s")))
    w = Window.partitionBy("event_type").orderBy("hr")
    p = (h.select("event_type", F.col("s").alias("x"),
                  F.lead("s").over(w).alias("y"))
         .filter(F.col("y").isNotNull()))
    st = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    c = {k: F.col(k).cast("double")
         for k in ("n", "sx", "sy", "sxx", "syy", "sxy")}
    acf = ((c["n"] * c["sxy"] - c["sx"] * c["sy"])
           / F.sqrt((c["n"] * c["sxx"] - c["sx"] * c["sx"])
                    * (c["n"] * c["syy"] - c["sy"] * c["sy"])))
    return st.select("event_type", F.col("n").cast("long").alias("n"),
                     (F.round(acf, 6) + 0).alias("acf_lag1"))


@q("stream_ohlc_incremental", """
WITH r AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS bucket, value,
         row_number() OVER (PARTITION BY event_type,
                                         epoch_us(ts) // 86400000000
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       ROUND(min_by(value, rn), 2) AS open,
       ROUND(MAX(value), 2) AS high,
       ROUND(MIN(value), 2) AS low,
       ROUND(max_by(value, rn), 2) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY event_type, bucket""")
def stream_ohlc_incremental(spark, sf_dir):
    """Streaming OHLC candles — ts_ohlc_bucket's mergeable form:
    open/close look order-dependent (the disqualifier for naive
    incremental aggregation), but each micro-batch's partial
    (argmin/argmax of value OVER THE EVENT-TIME KEY (ts, event_id),
    plus min/max/count) IS decomposable: cross-batch merge is the
    same min_by/max_by over the partials' keys, so candles stream
    with per-(type, bucket) state of five scalars — no raw-row state,
    no arrival-order dependence (proof: events arrive in file order,
    not time order, and the result still hash-matches the BATCH
    oracle, shared verbatim with ts_ohlc_bucket)."""
    import pyspark.sql.types as T

    from aws_etl_bank_spark.plans.registry_llm_stream import _events_stream_dir
    from aws_etl_bank_spark.sources.testdata import events_stream
    from aws_etl_bank_spark.streaming import for_each_batch

    def partials(df):
        bucket = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        key = F.struct(F.col("ts"), F.col("event_id"))
        return (df.withColumn("bucket", bucket)
                .groupBy("event_type", "bucket")
                .agg(F.expr("min_by(struct(ts, event_id, value), "
                            "struct(ts, event_id))").alias("o"),
                     F.max("value").alias("high"),
                     F.min("value").alias("low"),
                     F.expr("max_by(struct(ts, event_id, value), "
                            "struct(ts, event_id))").alias("c"),
                     F.count(F.lit(1)).alias("n")))

    collected: list = []

    def handle(batch_df, batch_id):
        collected.extend(partials(batch_df).collect())

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "ohlc_ckpt"),
        "availableNow": True,
    })
    key_t = T.StructType([T.StructField("ts", T.TimestampType()),
                          T.StructField("event_id", T.LongType()),
                          T.StructField("value", T.DoubleType())])
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("o", key_t), T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()), T.StructField("c", key_t),
        T.StructField("n", T.LongType())])
    parts = spark.createDataFrame(collected, schema)
    merged = (parts.groupBy("event_type", "bucket")
              .agg(F.expr("min_by(o, struct(o.ts, o.event_id))").alias("o"),
                   F.max("high").alias("high"), F.min("low").alias("low"),
                   F.expr("max_by(c, struct(c.ts, c.event_id))").alias("c"),
                   F.sum("n").alias("n")))
    return merged.select(
        "event_type", F.col("bucket").cast("long").alias("bucket"),
        F.round(F.col("o.value"), 2).alias("open"),
        F.round("high", 2).alias("high"), F.round("low", 2).alias("low"),
        F.round(F.col("c.value"), 2).alias("close"),
        F.col("n").cast("long").alias("n"))


@q("csv_malformed_policy", """
SELECT
  CAST((SELECT COUNT(*) FROM customer WHERE c_custkey <= 1000)
       AS BIGINT) AS n_permissive,
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_custkey <= 1000 AND c_custkey % 10 = 0)
       AS BIGINT) AS n_corrupt,
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_custkey <= 1000 AND c_custkey % 10 <> 0)
       AS BIGINT) AS n_dropmalformed,
  CAST((SELECT SUM(c_custkey * 2) FROM customer
        WHERE c_custkey <= 1000 AND c_custkey % 10 <> 0)
       AS BIGINT) AS sum_amount_good""")
def csv_malformed_policy(spark, sf_dir):
    """CSV malformed-record policies end-to-end (the mode= /
    columnNameOfCorruptRecord contract of the CSV source): a landing
    file is written DISTRIBUTED (lines via write.text — no driver
    loop) with every 10th record's numeric field corrupted, then read
    back under an enforced schema in PERMISSIVE mode (row count
    preserved, corrupt originals captured in the rescue column — the
    audit-trail the banking raw zone wants) and DROPMALFORMED mode
    (bad rows vanish).  The oracle derives all four counts and the
    good-row checksum from the source table — a policy regression
    (silent row loss in PERMISSIVE, leakage in DROPMALFORMED, a
    miscounted rescue column) moves a number."""
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 1000))
    lines = cust.select(F.when(
        F.col("c_custkey") % 10 == 0,
        F.concat_ws(",", F.col("c_custkey").cast("string"),
                    F.lit("not-a-number")))
        .otherwise(F.concat_ws(",", F.col("c_custkey").cast("string"),
                               (F.col("c_custkey") * 2).cast("string")))
        .alias("value"))
    path = _scratch_run(sf_dir, "csv_malformed")
    lines.write.mode("overwrite").text(path)
    schema = "id long, amount long, _corrupt string"
    # Spark forbids referencing the rescue column on the raw CSV
    # relation (it would need a second parse with different semantics);
    # the documented contract is to cache the parsed rows first
    perm = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path).cache())
    perm_agg = perm.agg(
        F.count(F.lit(1)).alias("n_permissive"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .alias("n_corrupt"))
    drop = (spark.read.schema("id long, amount long")
            .option("mode", "DROPMALFORMED").csv(path))
    drop_agg = drop.agg(F.count(F.lit(1)).alias("n_dropmalformed"),
                        F.sum("amount").alias("sum_amount_good"))
    return (perm_agg.crossJoin(drop_agg)
            .select(F.col("n_permissive").cast("long"),
                    F.col("n_corrupt").cast("long"),
                    F.col("n_dropmalformed").cast("long"),
                    F.col("sum_amount_good").cast("long")))


@q("funnel_time_to_convert", """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_us
  FROM events WHERE event_type = 'view' GROUP BY user_id),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_us
  GROUP BY e.user_id),
d AS (
  SELECT (p.p_us - v.v_us) // 1000000 AS ttc_s
  FROM v JOIN p ON p.user_id = v.user_id),
r AS (
  SELECT ttc_s,
         row_number() OVER (ORDER BY ttc_s) AS rn,
         COUNT(*) OVER () AS n
  FROM d)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
  CAST((MAX(CASE WHEN rn = (n + 1) // 2 THEN ttc_s END)
        + MAX(CASE WHEN rn = (n + 2) // 2 THEN ttc_s END)) / 2.0
       AS DOUBLE) AS median_ttc_s,
  CAST(MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN ttc_s END) AS BIGINT)
      AS p90_ttc_s
FROM r""")
def funnel_time_to_convert(spark, sf_dir):
    """Funnel latency — seconds from a user's FIRST view to their first
    purchase at-or-after it, summarized as median and p90 (both
    rank-picked over exact integer seconds — the engine-independent
    percentile recipe, no interpolation semantics).  Shape: two
    filtered aggregations joined per user (the funnel_stages chained-
    min pattern), epoch-µs integer arithmetic, then one bounded
    ranking over the CONVERTED-USERS frame (users-sized, not
    events-sized; at 100 TB the rank window keys would move to the
    two-pass top_fraction histogram if converters outgrew a
    partition).  The p90 pick is ⌈0.9·n⌉ = (9n+9)//10 — closed-form
    integer rank on both engines."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    v = (ev.filter(F.col("event_type") == "view")
         .select("user_id", us.alias("us"))
         .groupBy("user_id").agg(F.min("us").alias("v_us")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", us.alias("us"))
         .join(v, "user_id")
         .filter(F.col("us") >= F.col("v_us"))
         .groupBy("user_id").agg(F.min("us").alias("p_us")))
    d = (v.join(p, "user_id")
         .select(F.expr("(p_us - v_us) div 1000000").alias("ttc_s")))
    w = Window.orderBy("ttc_s")
    r = (d.withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(
             Window.partitionBy())))
    return r.agg(
        F.max("n").cast("long").alias("n_converted"),
        ((F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                       F.col("ttc_s")))
          + F.max(F.when(F.col("rn") == F.expr("(n + 2) div 2"),
                         F.col("ttc_s")))) / 2.0)
        .cast("double").alias("median_ttc_s"),
        F.max(F.when(F.col("rn") == F.expr("(n * 9 + 9) div 10"),
                     F.col("ttc_s"))).cast("long").alias("p90_ttc_s"))


@q("agg_gini_concentration", """
WITH x AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY o_custkey),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i FROM x),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(i * v) AS BIGINT) AS siv
  FROM r)
SELECT n,
       ROUND((2.0 * CAST(siv AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)))
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) + 0 AS gini
FROM s""")
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of customer spending — the concentration /
    inequality metric behind exposure and AML reporting ("what share
    of volume sits with the top accounts?").  Exact closed form over
    sorted ranks: G = 2·Σ i·xᵢ/(n·Σx) − (n+1)/n with x ascending —
    rank and both sums are exact int64 (i·v ≤ 10⁵·10¹⁰ per term),
    floats only in the final expression, canon-zero rounded.  The
    rank is a single global sort window over the CUSTOMER aggregate
    (customers-sized, not orders-sized — the bounded-window
    exception); ``agg_gini_concentration_hist`` is the PROVEN
    billions-of-customers form — identical output, rank from the
    two-pass histogram machinery instead of one task."""
    o = load_table(spark, sf_dir, "orders")
    x = (o.groupBy("o_custkey")
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                    .cast("long")).alias("v")))
    w = Window.orderBy("v", "o_custkey")
    r = x.withColumn("i", F.row_number().over(w))
    s = r.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
              F.sum(F.col("i") * F.col("v")).alias("siv"))
    gini = ((2.0 * F.col("siv").cast("double")
             / (F.col("n").cast("double") * F.col("sv").cast("double")))
            - (F.col("n").cast("double") + 1.0) / F.col("n"))
    return s.select(F.col("n").cast("long").alias("n"),
                    (F.round(gini, 6) + 0).alias("gini"))


@q("agg_gini_concentration_hist", """
WITH x AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY o_custkey),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i FROM x),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(i * v) AS BIGINT) AS siv
  FROM r)
SELECT n,
       ROUND((2.0 * CAST(siv AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)))
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) + 0 AS gini
FROM s""")
def agg_gini_concentration_hist(spark, sf_dir):
    """The billions-of-customers Gini — identical output to
    ``agg_gini_concentration`` (same oracle), but the ascending rank
    comes from ``bucketed_global_rank`` (functions/scale.py): an
    equi-width histogram of the cent totals prefix-sums to per-cell
    rank offsets (≤4096 driver rows, never data) and ``row_number``
    runs per cell in parallel — no single-task corpus sort anywhere in
    the plan.  The sibling proves the scale path the plain entry's
    docstring names, the way ``fact_snapshot_split`` proves the
    flagship's (r8 verdict item 4).  Rank and both sums stay exact
    int64; floats only in the final expression, canon-zero rounded."""
    from aws_etl_bank_spark.functions.scale import bucketed_global_rank

    o = load_table(spark, sf_dir, "orders")
    x = (o.groupBy("o_custkey")
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                    .cast("long")).alias("v")))
    r = bucketed_global_rank(x, "v", ["o_custkey"], out_col="i",
                             descending=False)
    s = r.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
              F.sum(F.col("i") * F.col("v")).alias("siv"))
    gini = ((2.0 * F.col("siv").cast("double")
             / (F.col("n").cast("double") * F.col("sv").cast("double")))
            - (F.col("n").cast("double") + 1.0) / F.col("n"))
    return s.select(F.col("n").cast("long").alias("n"),
                    (F.round(gini, 6) + 0).alias("gini"))


@q("src_avro_datum_roundtrip", """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 10 = 0""")
def src_avro_datum_roundtrip(spark, sf_dir):
    """Avro DATUM encode→decode roundtrip over the orders slice — the
    Kafka/Glue ``unbox(format="avro")`` surface, newly REAL in this
    sandbox: spark-avro's jar is absent, so sources/avro.py implements
    the binary datum codec in pure Python (cross-checked byte-for-byte
    against the org.apache.avro JVM reference in tests/test_avro.py)
    and runs it Arrow-batched inside mapInPandas.  Each row serializes
    to schema-less avro bytes, then decodes back through the same
    jsonFormatSchema contract ``from_avro`` uses; the oracle sees the
    identity, so any codec asymmetry (zigzag, unions, utf-8 lengths)
    fails the hash.  Scale shape: two map-only Arrow passes, no
    shuffle, no driver data."""
    import json as _json

    from aws_etl_bank_spark.sources.avro import (from_avro_datum,
                                                 to_avro_datum)

    schema = _json.dumps({
        "type": "record", "name": "order", "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_custkey", "type": "long"},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderstatus", "type": ["null", "string"]}]})
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % 10 == 0)
         .select("o_orderkey", "o_custkey", "o_totalprice",
                 "o_orderstatus"))
    enc = to_avro_datum(
        o, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        schema, out_col="payload")
    dec = from_avro_datum(enc.select("payload"), "payload", schema,
                          out_col="rec")
    return dec.select(
        F.col("rec.o_orderkey").alias("o_orderkey"),
        F.col("rec.o_custkey").alias("o_custkey"),
        F.col("rec.o_totalprice").alias("o_totalprice"),
        F.col("rec.o_orderstatus").alias("o_orderstatus"))


@q("src_avro_ocf_roundtrip", """
SELECT s_suppkey, s_nationkey, s_acctbal, s_name
FROM supplier""")
def src_avro_ocf_roundtrip(spark, sf_dir):
    """Avro Object Container File write→read through sources/avro.py:
    ``write_avro`` emits one deflate-compressed OCF per partition via
    mapInPandas (distributed, nothing collects), ``read_avro`` lists
    the files with Spark's built-in binaryFile source and decodes each
    partition Arrow-batched — per-file parallelism, the same split
    granularity spark-avro itself achieves on deflate containers.  The
    oracle is the identity on supplier, so header/metadata/sync-marker
    or block-framing bugs fail the roundtrip, not just datum bugs."""
    from aws_etl_bank_spark.sources.avro import read_avro, write_avro

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name")
    path = _scratch(sf_dir, "supplier_ocf")
    write_avro(s.repartition(4), path, codec="deflate")
    return read_avro(spark, path)


@q("src_avro_logical_types", """
SELECT event_id,
       ts AS ts_us,
       make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts_ms,
       CAST(ts AS DATE) AS d
FROM events WHERE event_id % 20 = 0""")
def src_avro_logical_types(spark, sf_dir):
    """Avro LOGICAL-type decode (r9 verdict task 6): timestamp-micros /
    timestamp-millis (long) and date (int) roundtrip through the pure-
    Python datum codec (sources/avro.py) as primitives, then
    ``avro_logical_casts`` decorates them back to TIMESTAMP/DATE with
    built-in JVM expressions (timestamp_micros / timestamp_millis /
    date_from_unix_date) — the spark-avro decode-time mapping,
    re-expressed as a codegen-friendly column cast so the codec stays
    primitive.  The oracle recomputes the same truncations with DuckDB
    epoch integer math (`// 1000` millis truncation; epoch micros stay
    well inside int64).  Scale shape: two map-only Arrow passes + pure
    expressions, no shuffle."""
    import json as _json

    from aws_etl_bank_spark.sources.avro import (avro_logical_casts,
                                                 from_avro_datum,
                                                 to_avro_datum)

    schema_d = {
        "type": "record", "name": "ev", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "ts_us",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_ms",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}}]}
    schema = _json.dumps(schema_d)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 20 == 0)
          .select("event_id",
                  F.col("ts").cast("timestamp").alias("t")))
    src = ev.select(
        "event_id",
        F.unix_micros("t").alias("ts_us"),
        F.expr("unix_micros(t) DIV 1000").alias("ts_ms"),
        F.datediff(F.col("t").cast("date"),
                   F.lit("1970-01-01").cast("date")).cast("int").alias("d"))
    enc = to_avro_datum(src, ["event_id", "ts_us", "ts_ms", "d"],
                        schema, out_col="payload")
    dec = from_avro_datum(enc.select("payload"), "payload", schema,
                          out_col="rec")
    flat = dec.select("rec.event_id", "rec.ts_us", "rec.ts_ms", "rec.d")
    return avro_logical_casts(flat, schema_d)


@q("feature_quantile_normalize", """
WITH r AS (
  SELECT event_id, value,
         row_number() OVER (ORDER BY value, event_id) AS rk
  FROM events),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r)
SELECT event_id, value,
       ROUND((CAST(rk AS DOUBLE) - 1.0)
             / (CAST(n.n AS DOUBLE) - 1.0), 6) + 0 AS q
FROM r, n""")
def feature_quantile_normalize(spark, sf_dir):
    """Quantile (rank-gauss style) normalization of a feature over the
    WHOLE corpus — the ML-preprocessing staple that naively needs
    ``percent_rank() OVER ()``: a single-task window at 100 TB.  Here
    the exact global rank comes from ``bucketed_global_rank``
    (functions/scale.py: histogram cells → driver prefix-sum offsets →
    per-cell row_number), so the output is bit-identical to the SQL
    window form while every sort stays cell-local.  q = (rank−1)/(n−1)
    is an IEEE-exact integer division, canon-zero rounded."""
    from aws_etl_bank_spark.functions.scale import bucketed_global_rank

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = bucketed_global_rank(ev, "value", ["event_id"], out_col="rk")
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (ranked.crossJoin(F.broadcast(n))
            .select("event_id", "value",
                    (F.round((F.col("rk").cast("double") - 1.0)
                             / (F.col("n").cast("double") - 1.0), 6) + 0)
                    .alias("q")))


@q("agg_rollup_hierarchy", """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS lvl,
       CAST(COUNT(c_custkey) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP(r_name, n_name)""")
def agg_rollup_hierarchy(spark, sf_dir):
    """ROLLUP along the region→nation hierarchy (the drill-down
    companion of ``agg_cube_grouping``'s CUBE): per-nation, per-region
    subtotal, and grand-total rows in ONE aggregation pass —
    Catalyst expands the rollup into a single Expand+HashAggregate, so
    the fact is scanned once however many levels roll up.  The two dims
    broadcast; money sums in DECIMAL per the exactness rule;
    grouping_id's bit layout (first rollup column = high bit) matches
    GROUPING(r)*2+GROUPING(n) on the oracle side."""
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    j = (c.join(F.broadcast(nat),
                c["c_nationkey"] == nat["n_nationkey"])
         .join(F.broadcast(reg),
               nat["n_regionkey"] == reg["r_regionkey"]))
    return (j.rollup("r_name", "n_name")
            .agg(F.grouping_id().cast("int").alias("lvl"),
                 F.count("c_custkey").alias("n_cust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("total_bal"))
            .select("r_name", "n_name", "lvl", "n_cust", "total_bal"))


@q("label_time_to_event", """
WITH u AS (
  SELECT user_id,
         MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY user_id)
SELECT user_id,
       CAST((epoch_us(CAST(COALESCE(tp, TIMESTAMP '2024-02-01') AS TIMESTAMP))
             - epoch_us(CAST(t0 AS TIMESTAMP))) AS BIGINT) AS duration_us,
       (tp IS NOT NULL) AS observed
FROM u""")
def label_time_to_event(spark, sf_dir):
    """Survival-analysis label extraction: per user, the time from
    first activity to first PURCHASE, right-censored at the horizon
    (2024-02-01) when no purchase happened — the (duration, observed)
    pair every churn/conversion hazard model trains on.  One hash-agg
    over the fact (two conditional MINs — no sessionize, no window);
    durations are unix_micros integer math (the engine-safe epoch
    form), never second-truncating timestamp subtraction."""
    ev = load_table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.min("ts").alias("t0"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.col("ts"))).alias("tp")))
    horizon = F.lit("2024-02-01 00:00:00").cast("timestamp")
    dur = (F.unix_micros(F.coalesce(F.col("tp").cast("timestamp"), horizon))
           - F.unix_micros(F.col("t0").cast("timestamp")))
    return u.select("user_id", dur.cast("long").alias("duration_us"),
                    F.col("tp").isNotNull().alias("observed"))


@q("fraud_round_amount_share", """
WITH c AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                            % 10000 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_round
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, n_orders, n_round,
       ROUND(CAST(n_round AS DOUBLE) / n_orders + 0.000000001, 4)
         AS round_share,
       (CAST(n_round AS DOUBLE) / n_orders >= 0.3) AS flagged
FROM c""")
def fraud_round_amount_share(spark, sf_dir):
    """Round-amount structuring screen — the AML heuristic that flags
    customers whose orders cluster on whole-hundred amounts (classic
    smurfing tell).  Cents via the house ``floor(x·100+0.5)`` money
    canon make "round" an exact integer predicate; the FLAG compares
    the raw IEEE-exact ratio (never the rounded rendering — the
    containment-fix convention), the displayed share gets the 1e-9
    half-tie nudge.  One hash-agg, map-side combinable."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    c = (o.groupBy("o_custkey")
         .agg(F.count(F.lit(1)).alias("n_orders"),
              F.sum(F.when(cents % 10000 == 0, 1).otherwise(0))
              .cast("long").alias("n_round")))
    raw = F.col("n_round").cast("double") / F.col("n_orders")
    return c.select(
        "o_custkey", "n_orders", "n_round",
        F.round(raw + F.lit(1e-9), 4).alias("round_share"),
        (raw >= 0.3).alias("flagged"))


@q("agg_partial_merge", """
SELECT o_custkey,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY 1, 2""")
def agg_partial_merge(spark, sf_dir):
    """Re-aggregatable partial aggregates — the incremental-pipeline
    pattern: DAILY (custkey, day) partials roll up to the MONTHLY
    answer by summing sums and summing counts, proving the partial
    state is mergeable (what lets a 100 TB daily job feed monthly
    marts without rescanning the fact; the batch mirror of the
    streaming OHLC/KMV incremental entries).  The oracle aggregates
    the fact directly — any non-decomposable leak (an avg taken too
    early, a count double-merged) breaks the hash.  Cents int64 per
    the money canon."""
    o = load_table(spark, sf_dir, "orders")
    daily = (o.groupBy("o_custkey",
                       F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                        .cast("long")).alias("cents"),
                  F.count(F.lit(1)).alias("n")))
    return (daily.groupBy("o_custkey",
                          F.trunc("day", "month").alias("month"))
            .agg(F.sum("cents").cast("long").alias("cents"),
                 F.sum("n").cast("long").alias("n")))


@q("feature_quantile_normalize_grouped", """
WITH r AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_id, event_type, value,
       ROUND((CAST(rk AS DOUBLE) - 1.0)
             / (CAST(n AS DOUBLE) - 1.0), 6) + 0 AS q
FROM r""")
def feature_quantile_normalize_grouped(spark, sf_dir):
    """PER-GROUP quantile normalization (value → within-event-type
    quantile) via ``bucketed_rank_by_group`` (functions/scale.py): the
    grouped rank machinery where per-group histogram offsets
    prefix-sum in a ≤n_buckets-row window and row_number runs per
    (group, cell) — so a HOT group's sort splits across its cells
    instead of serializing one task, and NOTHING collects to the
    driver (billions of groups are fine).  Group sizes come from the
    same cell counts at zero extra cost.  Bit-identical to the
    PARTITION BY window form the oracle runs."""
    from pyspark.sql import Window as W

    from aws_etl_bank_spark.functions.scale import bucketed_rank_by_group

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    ranked = bucketed_rank_by_group(ev, ["event_type"], "value",
                                    ["event_id"], out_col="rk")
    n = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n")))
    # null-safe count join: groupBy (and the oracle's PARTITION BY)
    # keep NULL event_type as a real group, a plain equi-join would
    # drop its rows (r9 ADVICE, medium — same hole as the stats join
    # inside bucketed_rank_by_group, fixed there too)
    return (ranked.join(n, ranked["event_type"].eqNullSafe(n["event_type"]))
            .select(ranked["event_id"], ranked["event_type"],
                    ranked["value"],
                    (F.round((F.col("rk").cast("double") - 1.0)
                             / (F.col("n").cast("double") - 1.0), 6) + 0)
                    .alias("q")))


@q("win_dist_family_by_user", """
SELECT event_id, user_id,
       ROUND(percent_rank() OVER w + 0.000000001, 6) AS pr,
       ROUND(cume_dist() OVER w + 0.000000001, 6) AS cd,
       CAST(ntile(3) OVER w AS INT) AS tercile,
       first_value(event_id) OVER w AS first_ev,
       nth_value(event_id, 2) OVER w AS second_ev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""")
def win_dist_family_by_user(spark, sf_dir):
    """The DISTRIBUTION window family (§2.5 completion next to the
    rank/lead-lag family entry): percent_rank, cume_dist, ntile,
    first_value and nth_value over per-user frames — one Window node,
    one shuffle on user_id, every function sharing the same sort.
    percent_rank/cume_dist are exact small-int divisions; the 1e-9
    half-tie nudge canon applies to their 6-decimal rendering.
    nth_value uses the default frame (unbounded preceding → current
    row) on BOTH engines, so rows before the 2nd of their user are
    NULL — frame semantics, not a quirk."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("pr"),
        F.round(F.cume_dist().over(w) + F.lit(1e-9), 6).alias("cd"),
        F.ntile(3).over(w).cast("int").alias("tercile"),
        F.first("event_id").over(w).alias("first_ev"),
        F.nth_value("event_id", 2).over(w).alias("second_ev"))


@q("maintenance_compact_small_files", """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier""")
def maintenance_compact_small_files(spark, sf_dir):
    """Small-files compaction — the table-maintenance chore every
    100 TB lake runs nightly: a fragmented write (64 shards of a
    supplier snapshot — the many-small-files pathology that slows
    every downstream scan's task scheduling and footer reads) is
    compacted by a size-targeted coalesce (ceil(bytes/128 MiB),
    floor 1: coalesce NARROWS — no shuffle, files merge within
    executors) and read back.  The oracle is the identity, so a
    dropped or duplicated row in either write fails the hash; the
    file counts before/after are asserted in tests, not here, to keep
    the result deterministic."""
    import math

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    frag_path = _scratch(sf_dir, "supplier_fragmented")
    s.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    total_bytes = sum(
        f.stat().st_size for f in os.scandir(frag_path)
        if f.name.endswith(".parquet"))
    target = max(1, math.ceil(total_bytes / (128 * 1024 * 1024)))
    out_path = _scratch(sf_dir, "supplier_compacted")
    frag.coalesce(target).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)
