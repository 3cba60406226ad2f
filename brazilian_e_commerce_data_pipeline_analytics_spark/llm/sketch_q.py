"""Bounded-state sketch-style operators with exact final answers.

Three training-data-pipeline primitives the reference's batch layer
implies but never scales (reference computes full GROUP BYs over the
whole domain — fine at 100k orders, a full-vocabulary shuffle at
100 TB):

* q125 — frequent-item (heavy-hitter) detection with a bounded-state
  candidate pass + an exact verification pass restricted to candidates.
* q126 — deterministic weighted sampling (priority sampling) that is a
  pure function of (key, seed, weight): reproducible across runs,
  engines, and repartitionings.
* q127 — TF-IDF term scoring with per-document top-k, the classic
  relevance feature for corpus curation.

All three carry value-exact DuckDB oracles: the sketch stage only
NARROWS work; the emitted numbers are exact, so the oracle can replay
them with plain SQL.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.sampling import md5_60, md5_60_sql
from ..registry import register
from ..scratch import fresh_dir, sf_key
from .text import TOKENS_SQL, tokens


# ---------------------------------------------------------------------------
# q125: phi-frequent tokens — candidate pass with bounded state, exact
# verify pass over candidates only.
#
# Why not a plain groupBy(token).count()?  At 100 TB the token domain is
# the full vocabulary (hundreds of millions of distinct n-grams) and the
# groupBy shuffles every (token, partial-count) pair.  The classic fix
# (Misra-Gries / space-saving) exploits the pigeonhole principle: split
# the stream into disjoint chunks; any token with GLOBAL count > N/K
# must have count > n_chunk/K in at least one chunk (else summing the
# per-chunk bounds caps its total at N/K).  So emitting each Arrow
# batch's tokens with local count*K > batch_len yields a candidate set
# that provably contains every global phi=1/K heavy hitter.  The exact
# pass then counts ONLY candidate tokens — the shuffle carries
# |candidates| x partitions rows instead of |vocabulary| x partitions.
#
# The candidate stage is an Arrow-batched mapInPandas using vectorized
# value_counts (no per-row Python); its state is one batch's distinct
# tokens, bounded by the Arrow batch size regardless of corpus size.
# Candidate-set size depends on partitioning, but the FINAL output does
# not: it is the exact count of every token with count*K > N, which the
# candidate set provably contains (superset) and the verify pass filters
# (exact).  K=30 is calibrated to the synthetic corpus' near-uniform
# 31-token vocabulary so the threshold lands inside the count spread.
# ---------------------------------------------------------------------------

_HH_K = 30

_Q125_ORACLE = f"""
WITH t AS (
  SELECT unnest({TOKENS_SQL}) AS token FROM documents
),
c AS (SELECT token, COUNT(*) AS n_occurrences FROM t GROUP BY token),
tot AS (SELECT SUM(n_occurrences) AS n_total FROM c)
SELECT token,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       ROUND(n_occurrences / n_total, 6) AS share
FROM c, tot
WHERE n_occurrences * {_HH_K} > n_total
"""


def _hh_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf) == 0:
            continue
        counts = pdf["token"].value_counts()
        cand = counts[counts * _HH_K > len(pdf)]
        yield pd.DataFrame({"token": cand.index.astype(str)})


@register("q125_heavy_hitters", oracle=_Q125_ORACLE, tags=("sketch", "llm", "text"))
def q125_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("token"))
    candidates = toks.mapInPandas(_hh_candidates, schema="token string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    # N counts ALL tokens (not just candidates): one cheap global agg —
    # sum of per-doc token counts, no explode, a single long per
    # partition reduces to one row; no wide shuffle.
    total = d.agg(F.sum(F.size(tokens("text"))).alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _HH_K > F.col("n_total"))
        .select(
            "token",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("n_total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q126: deterministic weighted sample via priority sampling
# (Duffield-Lund-Thorup).  Each row gets priority = w / u where u is a
# uniform in (0,1] derived from the portable md5 hash of (key, seed) —
# the same 60-bit construction as operators/sampling.py — and the sample
# is the top-k rows by priority.  Expected inclusion probability is
# proportional to weight (longer documents sampled more often), and the
# chosen set is a PURE FUNCTION of (key, seed, weight): stable across
# runs, engines, partitionings, and incremental reruns — none of which
# holds for df.sample's per-partition RNG.
#
# Numerics are engine-portable BY CONSTRUCTION: u = (h+1)/2^60 and
# priority = w/u use only integer->double casts and IEEE divisions
# (each exactly rounded), never a transcendental — so Spark and DuckDB
# produce bit-identical priorities and the SAME top-k, no tolerance
# needed.  Plan shape: narrow projection + TakeOrderedAndProject
# (per-partition top-k, k rows per partition to the driver-side merge —
# no global sort shuffle).
# ---------------------------------------------------------------------------

_WS_SEED = 7
_WS_K = 100
_TWO60 = 1 << 60

_Q126_ORACLE = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {md5_60_sql(f"CAST(doc_id AS VARCHAR) || ':{_WS_SEED}'")} AS bucket
  FROM documents
),
p AS (
  SELECT doc_id, n_chars, bucket,
         CAST(n_chars AS DOUBLE)
           / (CAST(bucket + 1 AS DOUBLE) / CAST({_TWO60} AS DOUBLE)) AS priority
  FROM h
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INT) AS rank,
       doc_id, n_chars, bucket, ROUND(priority, 4) AS priority
FROM p
ORDER BY priority DESC, doc_id
LIMIT {_WS_K}
"""


@register("q126_weighted_sample", oracle=_Q126_ORACLE, tags=("sampling", "llm", "sketch"))
def q126_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import top_k

    d = load_table(spark, sf_dir, "documents")
    salted = F.concat(F.col("doc_id").cast("string"), F.lit(f":{_WS_SEED}"))
    bucket = md5_60(salted)
    u = (bucket + F.lit(1)).cast("double") / F.lit(_TWO60).cast("double")
    scored = d.select(
        "doc_id",
        "n_chars",
        bucket.alias("bucket"),
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    out = top_k(scored, [F.desc("priority"), "doc_id"], k=_WS_K)
    return out.select(
        "rank", "doc_id", "n_chars", "bucket", F.round("priority", 4).alias("priority")
    )


# ---------------------------------------------------------------------------
# q127: TF-IDF top terms per document.  tf = term count / doc length,
# smooth idf = ln((N+1)/(df+1)) + 1 (the sklearn formulation — never
# divides by zero, never goes negative), top-3 terms per doc by tfidf.
#
# Plan: ONE lineage over the exploded tokens — explode -> (doc,term)
# count [shuffle 1, map-side combine] -> df as a count() window over
# the term partition [shuffle 2; valid because tf rows are unique per
# (doc,term), so rows-per-term IS document frequency] -> doc_len as a
# sum() window and the rank window both over the doc_id partition
# [shuffle 3, shared exchange].  The naive formulation (separate dl/df
# aggregates joined back) recomputes the tf relation once per consumer
# — three full scans of the corpus; the window chain reads it once.
# Only the scalar N comes from a second (single-column, count-only)
# scan.  Ranking is deterministic cross-engine: ties in
# tfidf can only arise from equal (tf, df, doc_len) triples — then both
# engines compute IDENTICAL doubles and the term tiebreak decides;
# distinct triples differ by far more than the 1-ulp libm ln() skew.
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3

_Q127_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS n FROM t GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(n) AS doc_len FROM tf GROUP BY doc_id),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.n AS tf, df.df,
         (CAST(tf.n AS DOUBLE) / dl.doc_len)
           * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(tfidf, 6) AS tfidf, rank
FROM ranked WHERE rank <= {_TFIDF_TOPK}
"""


@register("q127_tfidf_top_terms", oracle=_Q127_ORACLE, tags=("text", "llm", "ranking"))
def q127_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy("doc_id")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .withColumn("doc_len", F.sum("tf").over(w_doc))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf").cast("double") / F.col("doc_len"))
            * (
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


# ---------------------------------------------------------------------------
# q131: per-domain document caps — the crawl-curation policy that stops
# any single domain from dominating the training mixture (the cap is
# the "no more than k pages per host" rule every web-corpus recipe
# applies before dedup).  Selection WITHIN a domain must be unbiased
# and reproducible, so the kept set is the k docs with the lowest
# portable hash bucket (doc_id tiebreak) — a pure function of
# (doc_id, seed), independent of row order and partitioning, exactly
# like q83's split assignment.
#
# Plan shape: one shuffle on source, and the rank window is eligible
# for WindowGroupLimit pruning (each partition only materializes k
# survivors).  A pathologically hot domain (millions of docs on one
# key) would skew that window's sort; the fix at that scale is a
# pre-filter on the hash bucket (keep bucket < ~2k/|domain| * N_BUCKETS
# via a broadcast per-domain count) before ranking — same two-phase
# narrowing as q125.
# ---------------------------------------------------------------------------

_CAP_PER_DOMAIN = 15
_CAP_SEED = 11

_Q131_ORACLE = f"""
WITH b AS (
  SELECT doc_id, source,
         {md5_60_sql(f"CAST(doc_id AS VARCHAR) || ':{_CAP_SEED}'")} % 10000 AS bucket
  FROM documents
),
r AS (
  SELECT doc_id, source, bucket,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY bucket, doc_id) AS INT) AS pick_rank
  FROM b
)
SELECT doc_id, source, pick_rank FROM r WHERE pick_rank <= {_CAP_PER_DOMAIN}
"""


@register("q131_domain_caps", oracle=_Q131_ORACLE, tags=("sampling", "llm", "curation"))
def q131_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import portable_bucket

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("bucket", "doc_id")
    return (
        d.select("doc_id", "source", portable_bucket("doc_id", _CAP_SEED).alias("bucket"))
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= _CAP_PER_DOMAIN)
        .select("doc_id", "source", "pick_rank")
    )


# ---------------------------------------------------------------------------
# q132: unigram language-model scoring — the cheap perplexity proxy for
# quality filtering (docs whose tokens are improbable under the corpus
# unigram distribution are boilerplate, garbled encodings, or wrong-
# language).  score(doc) = mean over token INSTANCES of ln p(token),
# p estimated from the corpus itself.
#
# Plan: one vocabulary aggregation (map-side combined; output is
# vocab-sized, broadcast back), then a narrow join + per-doc agg.  The
# model is data-derived, so this is the self-scoring pattern: no model
# artifact to ship, two passes over the corpus total.  ln() is the one
# libm call — round-6 after the mean absorbs its 1-ulp engine skew
# (q103's precedent).
# ---------------------------------------------------------------------------

_Q132_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
v AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
tot AS (SELECT SUM(cnt) AS n FROM v)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(ln(v.cnt / tot.n)) / COUNT(*), 6) AS avg_logprob
FROM t JOIN v USING (token) CROSS JOIN tot
GROUP BY t.doc_id
"""


@register("q132_unigram_logprob", oracle=_Q132_ORACLE, tags=("text", "llm", "quality"))
def q132_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    v = t.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = v.agg(F.sum("cnt").alias("n"))
    logp = F.log(F.col("cnt") / F.col("n"))
    return (
        t.join(F.broadcast(v.crossJoin(F.broadcast(tot))), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(logp) / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# q158: HLL calibration — the value-exact driver row for the sketch
# family (q97's raw HLL counts are engine-specific, hence rows-only).
# The query computes BOTH the exact distincts and approx_count_distinct
# at rsd=0.01, and asserts the sketch landed within a 5% gate; the
# emitted columns are the exact counts plus the gate verdict, which the
# oracle replays (measured HLL error on this data: <=0.7% at every sf,
# so the 5% gate is 7x slack — deterministic, not flaky: Spark's HLL
# is a pure function of the data).
# ---------------------------------------------------------------------------

_Q158_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bounds
FROM events GROUP BY 1
"""


@register("q158_hll_calibration", oracle=_Q158_ORACLE, tags=("sketch", "approx", "events"))
def q158_hll_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.01)
                - F.countDistinct("user_id")
            )
            / F.countDistinct("user_id")
            <= 0.05
        ).alias("within_bounds"),
    )


# ---------------------------------------------------------------------------
# q177: approx_percentile calibration — the oracle-checked proof of the
# 100 TB quantile path documented in SCALING.md (exact ``percentile``
# buffers every group value in one aggregator; ``approx_percentile``'s
# bounded sketch is the swap at extreme group sizes). Same calibration
# shape as q158: the approx result is NOT emitted (its exact value can
# vary with partition merge order), only a deterministically-TRUE gate
# derived from its published guarantee — approx_percentile(x, p, acc)
# returns an element whose rank r satisfies
# floor((p - 1/acc)·n) <= r <= ceil((p + 1/acc)·n). With duplicates the
# returned value occupies the rank interval
# [count(v < x) + 1, count(v <= x)], so the gate checks that this
# interval intersects the guaranteed band. Exact p50 rides along and is
# value-checked against quantile_cont (the q27 identity). Two passes,
# both map-side-combining aggregations; the 5-row stats relation joins
# back by broadcast — no scale hazard.
# ---------------------------------------------------------------------------

_Q177_ACC = 1000

_Q177_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS p50,
       TRUE AS within_bound
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "q177_approx_percentile_calibration",
    oracle=_Q177_ORACLE,
    tags=("sketch", "approx", "percentile"),
)
def q177_approx_percentile_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.expr(
            f"approx_percentile(o_totalprice, 0.5, {_Q177_ACC})"
        ).alias("p50_approx"),
    )
    joined = o.join(F.broadcast(stats), "o_orderpriority")
    ranks = joined.groupBy(
        "o_orderpriority", "n_orders", "p50", "p50_approx"
    ).agg(
        F.sum(
            F.when(F.col("o_totalprice") < F.col("p50_approx"), 1).otherwise(0)
        ).alias("rank_lt"),
        F.sum(
            F.when(F.col("o_totalprice") <= F.col("p50_approx"), 1).otherwise(0)
        ).alias("rank_le"),
    )
    n = F.col("n_orders").cast("double")
    lo = F.floor((0.5 - 1.0 / _Q177_ACC) * n)
    hi = F.ceil((0.5 + 1.0 / _Q177_ACC) * n)
    return ranks.select(
        "o_orderpriority",
        "n_orders",
        "p50",
        ((F.col("rank_lt") + 1 <= hi) & (F.col("rank_le") >= lo)).alias(
            "within_bound"
        ),
    )


# ---------------------------------------------------------------------------
# q190: count-min sketch — the fixed-memory frequency sketch (Cormode &
# Muthukrishnan): d=4 hash rows x w=256 counters; estimate(token) =
# min over rows of its counter, guaranteed >= the true count and within
# eN/w with probability 1-(1/2)^d. Unlike q97's engine-internal HLL,
# every hash here is the repo's portable md5 bucket (sampling.py), so
# the ENTIRE sketch — counters and estimates — replays bit-exactly in
# the oracle: the driver hash-checks the estimates themselves, not just
# a bound gate. Sketch build is one map-side-combined (row, bucket) agg
# whose state is d*w counters regardless of vocabulary size — the whole
# point at 100 TB — and the probe joins the 20-row heavy-hitter set
# against the 1024-row counter table.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256

_Q190_ORACLE = f"""
WITH t AS (
  SELECT unnest({TOKENS_SQL}) AS token FROM documents
),
ex AS (
  SELECT token, j,
         {md5_60_sql("token || ':' || CAST(j AS VARCHAR)")} % {_CMS_W} AS bucket
  FROM t CROSS JOIN range(0, {_CMS_D}) AS r(j)
),
counters AS (
  SELECT j, bucket, COUNT(*) AS c FROM ex GROUP BY 1, 2
),
top AS (
  SELECT token, COUNT(*) AS true_cnt FROM t GROUP BY 1
  ORDER BY true_cnt DESC, token LIMIT 20
),
probes AS (
  SELECT top.token, top.true_cnt, r.j,
         {md5_60_sql("top.token || ':' || CAST(r.j AS VARCHAR)")} % {_CMS_W} AS bucket
  FROM top CROSS JOIN range(0, {_CMS_D}) AS r(j)
)
SELECT p.token, CAST(p.true_cnt AS BIGINT) AS true_cnt,
       CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
       MIN(c.c) >= p.true_cnt AS never_underestimates
FROM probes p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
GROUP BY p.token, p.true_cnt
"""


def _cms_bucket(token, j):
    salted = F.concat(token, F.lit(":"), j.cast("string"))
    return (
        md5_60(salted) % _CMS_W
    )


@register("q190_cms_frequency", oracle=_Q190_ORACLE, tags=("sketch", "frequency", "llm"))
def q190_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.explode(tokens("text")).alias("token"))
    js = F.array(*[F.lit(i) for i in range(_CMS_D)])
    ex = t.select("token", F.explode(js).alias("j")).select(
        "j", _cms_bucket(F.col("token"), F.col("j")).alias("bucket")
    )
    counters = ex.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    top = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "token")
        .limit(20)
    )
    probes = top.select(
        "token", "true_cnt", F.explode(js).alias("j")
    ).select(
        "token", "true_cnt", "j", _cms_bucket(F.col("token"), F.col("j")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            "true_cnt",
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            (F.col("cms_estimate") >= F.col("true_cnt")).alias(
                "never_underestimates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q192: mergeable bottom-k sample — the sampling analogue of q171's
# mergeable moments. A bottom-k sketch (k lowest md5 priorities) is
# mergeable: take each shard's k lowest, union the shard candidates,
# take the k lowest of that — and you MUST get exactly the global k
# lowest, because a globally-bottom-k element is bottom-k within its
# shard a fortiori. That identity is what lets 1000 executors each keep
# k candidates and a coordinator merge 1000·k rows instead of the
# corpus; the oracle computes the global bottom-k DIRECTLY, so equality
# proves merge-then-select == select-globally, key for key. Priorities
# are the portable md5 hash (pure function of the key), so the "sample"
# is deterministic and engine-identical; doc_id breaks the (measure-zero
# but representable) priority ties.
# ---------------------------------------------------------------------------

_Q192_K = 20
_Q192_SHARDS = 8

_Q192_ORACLE = f"""
WITH pri AS (
  SELECT doc_id,
         {md5_60_sql("CAST(doc_id AS VARCHAR) || ':rsv'")} AS priority
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS INT) AS rank,
       doc_id, priority
FROM pri
ORDER BY priority, doc_id
LIMIT {_Q192_K}
"""


@register("q192_bottomk_merge", oracle=_Q192_ORACLE, tags=("sketch", "sampling", "algebra"))
def q192_bottomk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pri = d.select(
        "doc_id",
        md5_60(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv")))
        .alias("priority"),
        (F.col("doc_id") % _Q192_SHARDS).alias("shard"),
    )
    shard_w = Window.partitionBy("shard").orderBy("priority", "doc_id")
    candidates = (
        pri.withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= _Q192_K)
        .drop("rn", "shard")
    )
    merged = candidates.orderBy("priority", "doc_id").limit(_Q192_K)
    final_w = Window.orderBy("priority", "doc_id")
    return merged.withColumn(
        "rank", F.row_number().over(final_w).cast("int")
    ).select("rank", "doc_id", "priority")


# ---------------------------------------------------------------------------
# q209: AMS F2 sketch — the second-moment estimator (Alon-Matias-
# Szegedy) that query optimizers use to estimate SELF-JOIN SIZE from
# bounded state: 16 counters Z_j = Σ_v f_v·s_j(v), where s_j(v) = ±1
# comes from bit j of the value's portable md5 hash; E[Z_j²] = F2 =
# Σ_v f_v² exactly. Every counter is an EXACT integer (signed sum of
# token multiplicities), every Z² is an exact integer, so — like
# q190's CMS — the sketch's estimates replay bit-for-bit in the
# oracle: this is a value-checked sketch, not a tolerance gate. The
# true F2 (token self-join size) rides along for the relative-error
# row the estimator is judged on.
#
# Scale: state is 16 integers regardless of vocabulary (the entire
# point); the counter aggregation is one map-side-combined sum per
# sign-hash; counters merge across shards by ADDITION (same mergeable
# algebra as q171/q192). True-F2 needs the exact per-token counts —
# at 100 TB that side is the expensive one, which is why the sketch
# exists; here it is the audit.
# ---------------------------------------------------------------------------

_AMS_J = 16


_Q209_ORACLE = f"""
WITH t AS (
  SELECT unnest({TOKENS_SQL}) AS token FROM documents
),
h AS (
  SELECT token,
         {md5_60_sql("token")} AS v
  FROM t
),
signs AS (
  SELECT r.j,
         SUM(CASE WHEN (h.v // r.p) % 2 = 1 THEN 1 ELSE -1 END) AS z
  FROM h CROSS JOIN (
    SELECT j, CAST(pow(2, j) AS BIGINT) AS p FROM range(0, {_AMS_J}) AS r0(j)
  ) r
  GROUP BY r.j
),
est AS (SELECT SUM(z * z) AS sum_z2 FROM signs),
truth AS (
  SELECT SUM(cnt * cnt) AS f2 FROM (
    SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1
  )
)
SELECT CAST({_AMS_J} AS INT) AS n_estimators,
       CAST(truth.f2 AS BIGINT) AS true_f2,
       CAST(est.sum_z2 AS BIGINT) AS sum_z2,
       (CAST(est.sum_z2 AS DOUBLE) / {_AMS_J}) AS f2_estimate,
       round(abs(CAST(est.sum_z2 AS DOUBLE) / {_AMS_J} - truth.f2)
             / truth.f2, 6) AS rel_error
FROM est CROSS JOIN truth
"""


@register("q209_ams_f2_sketch", oracle=_Q209_ORACLE, tags=("sketch", "moment", "llm"))
def q209_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.explode(tokens("text")).alias("token"))
    h = t.select(
        md5_60("token").alias("v")
    )
    jp = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.lit(2**j).cast("bigint").alias("p"))
            for j in range(_AMS_J)
        ]
    )
    signs = (
        h.select("v", F.explode(jp).alias("r"))
        .select(
            F.col("r.j").alias("j"),
            F.when(F.expr("(v div r.p) % 2 = 1"), 1).otherwise(-1).alias("s"),
        )
        .groupBy("j")
        .agg(F.sum("s").alias("z"))
    )
    est = signs.agg(F.sum(F.col("z") * F.col("z")).alias("sum_z2"))
    truth = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2"))
    )
    f2_est = F.col("sum_z2").cast("double") / _AMS_J
    return est.crossJoin(F.broadcast(truth)).select(
        F.lit(_AMS_J).cast("int").alias("n_estimators"),
        F.col("f2").cast("bigint").alias("true_f2"),
        F.col("sum_z2").cast("bigint").alias("sum_z2"),
        f2_est.alias("f2_estimate"),
        F.round(F.abs(f2_est - F.col("f2")) / F.col("f2"), 6).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q223: DataSketches HLL union — the MERGEABLE-sketch API that q158's
# approx_count_distinct cannot express: per-partition (here: per-day)
# HLL sketches built independently, UNIONED with hll_union_agg, and
# only then estimated — the exact shape of a 1000-executor distinct
# count (each executor sketches its shard; the driver merges kilobytes,
# never re-reads data; daily sketches also persist for rolling windows
# without rescans). The sketch binary is engine-specific, so — the
# q158/q177 calibration rule — the estimate is NOT emitted; the gate
# derived from the published lgK=12 error bound (±1.6% std, gated at
# 5%) is deterministically TRUE and value-checked, with the exact
# distinct count riding along. The per-day sketch count proves the
# fan-out actually happened.
# ---------------------------------------------------------------------------

_Q223_ORACLE = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_daily_sketches,
       TRUE AS union_within_bounds
FROM events
"""


@register("q223_hll_sketch_union", oracle=_Q223_ORACLE, tags=("sketch", "approx", "mergeable"))
def q223_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.crossJoin(F.broadcast(merged)).select(
        F.col("exact_users").cast("bigint").alias("exact_users"),
        F.col("n_daily_sketches").cast("bigint").alias("n_daily_sketches"),
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("union_within_bounds"),
    )


# ---------------------------------------------------------------------------
# q252: EXACT distinct counting via bitmap segments (bitmap_bucket_number
# / bitmap_bit_position / bitmap_construct_agg, Spark 3.5+) — the third
# point on the distinct-count cost curve: COUNT(DISTINCT) shuffles every
# raw value; HLL (q97/q158) ships KB sketches but is approximate; bitmap
# segments ship one <=4KB bitmap per 32768-id bucket and stay EXACT —
# the Databricks "exact distinct at scale" pattern. The first aggregate
# is map-side-combined per (group, bucket); the second merges
# fixed-size bitmaps, never raw ids; both levels are orthodox shuffles.
# Being exact, it hash-matches COUNT(DISTINCT) directly — no
# calibration gate needed.
# ---------------------------------------------------------------------------

_Q252_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register("q252_bitmap_exact_distinct", oracle=_Q252_ORACLE, tags=("sketch", "bitmap", "distinct"))
def q252_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("__bkt"),
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("__bm"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("__n").alias("n_events"),
        F.sum(F.expr("bitmap_count(__bm)")).alias("n_users"),
    )


# ---------------------------------------------------------------------------
# q259: approx_top_k (Spark 4.1) under an EXACTNESS contract — the
# space-saving heavy-hitter aggregate is exact whenever maxItemsTracked
# >= the column's NDV (it never evicts, so it degenerates to exact
# counting); here 100 >> 5 event types, making the sketch hash-checkable
# against the exact top-3 (q125's hand-built heavy hitters cover the
# genuinely-approximate regime with a calibration gate; this covers the
# built-in's API surface on the exact side of the line). Rank-boundary
# determinism: counts at the k=3 cut are distinct at every tested SF
# (verified; ties at the cut would make ANY top-k ambiguous — Spark
# picked eviction-order-dependent winners in a probe, so never ship
# this pattern without a distinct-counts or tiebreak argument).
# ---------------------------------------------------------------------------

_Q259_ORACLE = """
SELECT event_type, n_events
FROM (
  SELECT event_type, COUNT(*) AS n_events
  FROM events
  GROUP BY event_type
)
ORDER BY n_events DESC, event_type
LIMIT 3
"""


@register("q259_approx_top_k", oracle=_Q259_ORACLE, tags=("sketch", "topk", "approx"))
def q259_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__q259_events")
    return spark.sql(
        """
        SELECT tk.item AS event_type, tk.count AS n_events
        FROM (
          SELECT approx_top_k(event_type, 3, 100) AS a FROM __q259_events
        )
        LATERAL VIEW inline(a) tk
        """
    )


# ---------------------------------------------------------------------------
# q272: approx_top_k_accumulate / _combine / _estimate (Spark 4.1) —
# the MERGEABLE form of q259's heavy-hitter sketch, and the one that
# matters at 100 TB: each shard/day/partition accumulates its own
# fixed-size sketch, sketches union with _combine (associative,
# bounded state — the same algebra as q97's HLL union and q171's
# moments), and _estimate extracts top-k from the merged state. Here
# the partial sketches are per-month, combined to a global top-3 —
# exactly how a daily-rollup pipeline keeps heavy hitters without
# re-scanning history. Same exactness contract as q259
# (maxItemsTracked=100 >> 5 event types => no evictions => the merge
# is exact and hash-checkable; counts at the cut distinct at every
# tested SF).
# ---------------------------------------------------------------------------

_Q272_ORACLE = """
SELECT event_type, n_events
FROM (
  SELECT event_type, COUNT(*) AS n_events
  FROM events
  GROUP BY event_type
)
ORDER BY n_events DESC, event_type
LIMIT 3
"""


@register("q272_approx_top_k_mergeable", oracle=_Q272_ORACLE, tags=("sketch", "topk", "mergeable", "approx"))
def q272_approx_top_k_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__q272_events")
    return spark.sql(
        """
        WITH partials AS (
          SELECT month(ts) AS m,
                 approx_top_k_accumulate(event_type, 100) AS sk
          FROM __q272_events
          GROUP BY 1
        ),
        merged AS (
          SELECT approx_top_k_estimate(approx_top_k_combine(sk), 3) AS a
          FROM partials
        )
        SELECT tk.item AS event_type, tk.count AS n_events
        FROM merged
        LATERAL VIEW inline(a) tk
        """
    )


# ---------------------------------------------------------------------------
# q282: approx_top_k over an INT column — q259/q272 exercised the
# sketch on strings; the numeric-key path (shard ids, status codes,
# bucket numbers — the usual heavy-hitter keys in a pipeline) returns
# the item in its NATIVE int type through inline(), no stringification.
# Same exactness contract as q259: maxItemsTracked=100 >> 7 distinct
# line numbers => no evictions => exact; counts at the k=3 cut are
# distinct at every tested SF (verified: gaps 24/8/75 at
# sf0.001/0.01/0.1 — and per the q259 rule, NEVER ship a top-k whose
# cut can tie without a tiebreak argument).
# ---------------------------------------------------------------------------

_Q282_ORACLE = """
SELECT CAST(l_linenumber AS INT) AS linenumber,
       CAST(n_items AS BIGINT) AS n_items
FROM (
  SELECT l_linenumber, COUNT(*) AS n_items
  FROM lineitem
  GROUP BY l_linenumber
)
ORDER BY n_items DESC, l_linenumber
LIMIT 3
"""


@register("q282_approx_top_k_int", oracle=_Q282_ORACLE, tags=("sketch", "topk", "approx", "int"))
def q282_approx_top_k_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__q282_lineitem")
    return spark.sql(
        """
        SELECT tk.item AS linenumber, tk.count AS n_items
        FROM (
          SELECT approx_top_k(l_linenumber, 3, 100) AS a FROM __q282_lineitem
        )
        LATERAL VIEW inline(a) tk
        """
    )


# ---------------------------------------------------------------------------
# q283: approx_top_k_combine across DIFFERENT sketch sizes — the
# contract edge of q272's merge algebra. Two shards accumulate with
# different maxItemsTracked (100 and 50 — the "yesterday's job ran with
# an older config" scenario): a BARE approx_top_k_combine(sk) REFUSES
# to merge them (APPROX_TOP_K_SKETCH_SIZE_NOT_MATCH — pinned in
# tests/test_llm_ops.py, because silently merging unequal-width
# sketches would corrupt the error bound), while combine(sk, size)
# with an explicit target size re-buckets and merges. Exactness holds
# because EVERY width in play (accumulate 100 and 50, combine target
# 80 — min 50) exceeds the 7-value NDV — no
# sketch ever evicted, so the re-bucketed merge is still exact and
# hash-checkable against the true counts. Same cut-distinctness
# argument as q282.
# ---------------------------------------------------------------------------

_Q283_ORACLE = """
SELECT CAST(l_linenumber AS INT) AS linenumber,
       CAST(n_items AS BIGINT) AS n_items
FROM (
  SELECT l_linenumber, COUNT(*) AS n_items
  FROM lineitem
  GROUP BY l_linenumber
)
ORDER BY n_items DESC, l_linenumber
LIMIT 3
"""


@register(
    "q283_approx_top_k_mixed_sizes",
    oracle=_Q283_ORACLE,
    tags=("sketch", "topk", "mergeable", "approx"),
)
def q283_approx_top_k_mixed_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__q283_lineitem")
    return spark.sql(
        """
        WITH partials AS (
          SELECT approx_top_k_accumulate(l_linenumber, 100) AS sk
          FROM __q283_lineitem WHERE l_orderkey % 2 = 0
          UNION ALL
          SELECT approx_top_k_accumulate(l_linenumber, 50) AS sk
          FROM __q283_lineitem WHERE l_orderkey % 2 = 1
        ),
        merged AS (
          SELECT approx_top_k_estimate(approx_top_k_combine(sk, 80), 3) AS a
          FROM partials
        )
        SELECT tk.item AS linenumber, tk.count AS n_items
        FROM merged
        LATERAL VIEW inline(a) tk
        """
    )


# ---------------------------------------------------------------------------
# q286: approx_top_k NULL contract — unlike almost every aggregate
# (COUNT(col)/SUM/MIN ignore nulls), approx_top_k counts NULL as a
# FIRST-CLASS ITEM (probed r8: 3 nulls + 2 'a' + 1 'b' returns
# [null:3, a:2, b:1]). That is the right semantics for a heavy-hitter
# audit — "the most common value is missing" is exactly the data-quality
# signal — but it is a trap if the consumer assumes null-free output.
# Exercised by NULLIF-ing the 'view' type away: NULL then genuinely
# competes for (and at sf0.1 wins) a top-3 slot. Oracle: the same
# GROUP BY with NULLs grouped (ANSI behavior in both engines); same
# tracked>=NDV exactness + cut-distinctness contract as q259/q282
# (cut gaps 2/24/78 at sf0.001/0.01/0.1 — verified).
# ---------------------------------------------------------------------------

_Q286_ORACLE = """
SELECT et AS event_type, CAST(n_events AS BIGINT) AS n_events
FROM (
  SELECT NULLIF(event_type, 'view') AS et, COUNT(*) AS n_events
  FROM events
  GROUP BY 1
)
ORDER BY n_events DESC, et NULLS FIRST
LIMIT 3
"""


@register(
    "q286_approx_top_k_null_item",
    oracle=_Q286_ORACLE,
    tags=("sketch", "topk", "approx", "nulls"),
)
def q286_approx_top_k_null_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__q286_events")
    return spark.sql(
        """
        SELECT tk.item AS event_type, tk.count AS n_events
        FROM (
          SELECT approx_top_k(NULLIF(event_type, 'view'), 3, 100) AS a
          FROM __q286_events
        )
        LATERAL VIEW inline(a) tk
        """
    )


# ---------------------------------------------------------------------------
# q322: PERSISTED sketch rollup — the leg q223 names but doesn't
# exercise: daily HLL sketches written to PARQUET as a binary column
# (kilobytes per day), then a SEPARATE scan reads the stored sketches
# back and unions them into WEEKLY distinct-user estimates — the
# "sketch lakehouse" pattern where rollups over any window come from
# stored kilobytes instead of re-scanning the fact table (at 100 TB:
# a weekly distinct from 7 stored rows vs a week's re-scan; the
# raw-event scan happens ONCE at ingest; weeks because this fixture
# spans exactly one calendar month at every SF). The q158/q177/q223
# calibration rule: sketch binaries are engine-specific, so the
# estimate itself is not emitted — the value-checked output is the
# per-week error gate (lgK=12 published bound ±1.6% std, gated 5%),
# the day fan-out count, and the exact side. Storage round-trip is the
# point: the gate passing proves the sketch SURVIVED parquet
# serialization and a fresh scan, not just an in-plan union.
# ---------------------------------------------------------------------------

_Q322_ORACLE = """
SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bounds
FROM events
GROUP BY 1
"""


@register(
    "q322_sketch_persistence",
    oracle=_Q322_ORACLE,
    tags=("sketch", "approx", "mergeable", "lakehouse"),
)
def q322_sketch_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    store = fresh_dir("sketchstore", prefix=f"daily_{sf_key(sf_dir)}")
    # ingest-time pass: one scan of the fact, one binary sketch per day
    (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .write.mode("overwrite")
        .parquet(store)
    )
    # rollup pass: reads ONLY the stored kilobytes, never the fact table
    weekly = (
        spark.read.parquet(store)
        .groupBy(F.date_trunc("week", F.col("d")).cast("date").alias("week"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
        )
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.join(weekly, "week").select(
        "week",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (
            F.abs(F.col("__est") - F.col("exact_users")) / F.col("exact_users")
            <= 0.05
        ).alias("within_bounds"),
    )
