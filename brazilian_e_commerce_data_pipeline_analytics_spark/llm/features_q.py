"""Feature-engineering operators for training-data pipelines: target
encoding, the feature-hashing trick, vocabulary/OOV coverage, and
document chunking with overlap.

These are the transforms that sit between curation (llm/curation_q.py)
and the trainer: turning raw categorical/text columns into bounded
numeric features and model-ready chunks. Every query keeps the repo's
determinism discipline — exact decimal sums, the portable md5 hash
(``operators/sampling.md5_60``, replayed in DuckDB by ``md5_60_sql``),
and total-order tie-breaks — so each has a value-exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.sampling import md5_60, md5_60_sql
from ..registry import register
from .text import TOKENS_SQL, tokens


# ---------------------------------------------------------------------------
# q181: leave-one-out target encoding — encode a categorical column
# (market segment) by the mean of a target (order total) over all OTHER
# rows in the category: loo = (Σ_seg − own) / (n_seg − 1). LOO is the
# standard leakage guard for target encoding (plain category means let
# each row see its own label). One map-side-combined aggregation
# produces the 5-row (Σ, n) table, broadcast back — no window over
# segment-sized partitions, no per-row recompute. Σ is an exact decimal
# so every row's encode is order-independent. Output is a deterministic
# 1-in-10 slice of orders (hash-free: key mod) to keep the checked
# relation small while exercising every segment.
# ---------------------------------------------------------------------------

_Q181_ORACLE = """
WITH j AS (
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
  SELECT segment, SUM(x) AS sx, COUNT(*) AS n FROM j GROUP BY 1
)
SELECT j.o_orderkey, j.segment,
       round((CAST(s.sx AS DOUBLE) - CAST(j.x AS DOUBLE)) / (s.n - 1), 6)
         AS loo_encoding
FROM j JOIN s USING (segment)
WHERE j.o_orderkey % 10 = 0
"""


@register("q181_target_encoding_loo", oracle=_Q181_ORACLE, tags=("features", "encoding", "ml"))
def q181_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("x")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", F.col("c_mktsegment").alias("segment"), "x"
    )
    s = j.groupBy("segment").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    return (
        j.join(F.broadcast(s), "segment")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "segment",
            F.round(
                (F.col("sx").cast("double") - F.col("x").cast("double"))
                / (F.col("n") - 1),
                6,
            ).alias("loo_encoding"),
        )
    )


# ---------------------------------------------------------------------------
# q182: feature hashing (the hashing trick) — tokens map to a fixed
# 64-bucket feature space via the portable md5 hash; a second hash bit
# supplies the ± sign that makes hash collisions cancel in expectation
# (Weinberger et al.'s signed variant). Per document the signed counts
# form the hashed feature vector; the checked output is its nnz and L2
# norm, which any single bucket error would move. All arithmetic is
# integer-exact until the final sqrt. Narrow plan: explode → two
# map-side-combined aggs, no joins, no Python.
# ---------------------------------------------------------------------------

_Q182_N_BUCKETS = 64

_Q182_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
h AS (
  SELECT doc_id,
         {md5_60_sql("token")} AS hv
  FROM t
),
w AS (
  SELECT doc_id, hv % {_Q182_N_BUCKETS} AS bucket,
         SUM(CASE WHEN (hv // {_Q182_N_BUCKETS}) % 2 = 0 THEN 1 ELSE -1 END) AS wgt
  FROM h GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN wgt <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
       round(sqrt(CAST(SUM(wgt * wgt) AS DOUBLE)), 6) AS l2_norm
FROM w GROUP BY doc_id
"""


@register("q182_feature_hashing", oracle=_Q182_ORACLE, tags=("features", "hashing", "ml"))
def q182_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    hv = md5_60("token")
    h = t.select("doc_id", hv.alias("hv"))
    # sign bit via an exact integer shift: hv is a 60-bit value, so
    # floor(hv / 64) through DOUBLE division would drop the low bits
    # (53-bit mantissa) and scramble the sign — shiftright keeps it exact
    w = h.groupBy(
        "doc_id", (F.col("hv") % _Q182_N_BUCKETS).alias("bucket")
    ).agg(
        F.sum(
            F.when((F.shiftright(F.col("hv"), 6) % 2) == 0, 1).otherwise(-1)
        ).alias("wgt")
    )
    return w.groupBy("doc_id").agg(
        F.sum(F.when(F.col("wgt") != 0, 1).otherwise(0)).cast("bigint").alias("nnz"),
        F.round(F.sqrt(F.sum(F.col("wgt") * F.col("wgt")).cast("double")), 6).alias(
            "l2_norm"
        ),
    )


# ---------------------------------------------------------------------------
# q184: vocabulary coverage / OOV rate — build the top-500 token
# vocabulary (count desc, token asc: a total order) and measure each
# document's out-of-vocabulary token-instance rate, the quick tokenizer
# fit check run before committing to a vocab. The vocabulary is
# TakeOrderedAndProject-sized and broadcast; documents join against it
# with a left join + null flag, so the corpus never shuffles on token.
# ---------------------------------------------------------------------------

_Q184_VOCAB = 500

_Q184_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
v AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1
  ) ORDER BY cnt DESC, token LIMIT {_Q184_VOCAB}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM t LEFT JOIN v ON t.token = v.token
GROUP BY t.doc_id
"""


@register("q184_vocab_oov_rate", oracle=_Q184_ORACLE, tags=("features", "text", "vocab"))
def q184_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    v = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(_Q184_VOCAB)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    j = t.join(F.broadcast(v), "token", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# q185: document chunking with overlap — split each document into
# 50-token windows at stride 25 (the standard context-window prep;
# q87/q88 PACK short docs, this SPLITS long ones). Chunk starts come
# from an in-plan sequence()+explode over the token count — one row per
# chunk, no Python, no driver loop — and each chunk is verified by
# CONTENT: md5 over the space-joined token slice, so an off-by-one in
# any boundary fails the oracle. Chunking is embarrassingly parallel
# (explode of a narrow array column); at 100 TB the only knob is input
# split size.
# ---------------------------------------------------------------------------

_Q185_W = 50
_Q185_S = 25

_Q185_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) > 0
),
c AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {_Q185_S})) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // {_Q185_S} AS INT) AS chunk_no,
       CAST(least({_Q185_W}, len(toks) - start) AS INT) AS chunk_len,
       md5(array_to_string(
             toks[start + 1 : start + least({_Q185_W}, len(toks) - start)],
             ' ')) AS chunk_hash
FROM c
"""


@register("q185_doc_chunking", oracle=_Q185_ORACLE, tags=("features", "chunking", "llm"))
def q185_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    c = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_Q185_S))
        ).alias("start"),
    )
    chunk_len = F.least(F.lit(_Q185_W), F.size("toks") - F.col("start"))
    return c.select(
        "doc_id",
        (F.col("start") / _Q185_S).cast("int").alias("chunk_no"),
        chunk_len.cast("int").alias("chunk_len"),
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("start") + 1, chunk_len))
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# q234: quantile normalization across sources — the batch-effect
# remover feature pipelines apply when the SAME feature is measured on
# different scales per origin (each crawl source's length distribution
# differs): every document's n_chars is replaced by the GLOBAL decile
# representative of its rank WITHIN its source, so all sources share
# one distribution afterward. Per-source deciles come from exact
# integer rank arithmetic (10·(rank−1)/n, never a float percentile per
# row); the 10 global representatives are one exact-percentile
# aggregate (q27's bit-identical interpolation) broadcast back.
#
# Scale: the rank window partitions by source (the parallelism unit);
# the representative table is 10 rows; output rolls up to
# (source, decile) — |sources|×10. The q177 approx swap applies to the
# global boundaries at corpus scale.
# ---------------------------------------------------------------------------

_Q234_ORACLE = """
WITH g AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS bs
  FROM documents
),
r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
d AS (
  -- integer division on BOTH engines: DuckDB CAST(double AS INT)
  -- ROUNDS while Spark truncates (caught at sf0.001)
  SELECT source, CAST((10 * (rk - 1)) // n AS INT) AS decile FROM r
)
SELECT d.source, d.decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       g.bs[d.decile + 1] AS normalized_value
FROM d CROSS JOIN g
GROUP BY d.source, d.decile, g.bs[d.decile + 1]
"""


@register("q234_quantile_normalization", oracle=_Q234_ORACLE, tags=("features", "normalize", "llm"))
def q234_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    g = d.agg(
        F.percentile(
            F.col("n_chars").cast("double"),
            F.array(*[F.lit(i / 10) for i in range(1, 11)]),
        ).alias("bs")
    )
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    r = d.select(
        "source",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    dec = r.select(
        "source",
        F.expr("CAST((10 * (rk - 1)) div n AS INT)").alias("decile"),
    )
    return (
        dec.crossJoin(F.broadcast(g))
        .groupBy(
            "source",
            "decile",
            F.element_at("bs", F.col("decile") + 1).alias("normalized_value"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select("source", "decile", "n_docs", "normalized_value")
    )


# ---------------------------------------------------------------------------
# q235: interleaved shard assignment — the deterministic data-loader
# step that turns a skewed multilingual corpus into training shards
# with a FIXED language mix: docs are ordered within their language by
# the portable md5 priority (stable under repartitioning — q208's fold
# rule), and shard = that rank modulo the shard count, so every shard
# receives ⌈n_lang/k⌉-or-⌊n_lang/k⌋ docs of EVERY language — round-
# robin interleaving, proven by the per-(shard, lang) composition
# this query emits (max−min ≤ 1 per language by construction, checked
# as a column). Contrast q208 (random fold balance ± sampling noise):
# interleaving gives exact balance at the cost of a per-language rank.
#
# Scale: one rank window per language partition; the composition
# rollup is k×|langs|. No global ordering anywhere.
# ---------------------------------------------------------------------------

_Q235_SHARDS = 8

_Q235_ORACLE = f"""
WITH r AS (
  SELECT lang,
         CAST((row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shard'), doc_id
          ) - 1) % {_Q235_SHARDS} AS INT) AS shard
  FROM documents
),
comp AS (
  SELECT shard, lang, COUNT(*) AS n_docs FROM r GROUP BY 1, 2
),
spread AS (
  SELECT lang, MAX(n_docs) - MIN(n_docs) AS spread FROM comp GROUP BY 1
)
SELECT comp.shard, comp.lang,
       CAST(comp.n_docs AS BIGINT) AS n_docs,
       spread.spread <= 1 AS balanced
FROM comp JOIN spread USING (lang)
"""


@register("q235_interleaved_shards", oracle=_Q235_ORACLE, tags=("sampling", "llm", "loader"))
def q235_interleaved_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))), "doc_id"
    )
    r = d.select(
        "lang",
        ((F.row_number().over(w) - 1) % _Q235_SHARDS).cast("int").alias("shard"),
    )
    comp = r.groupBy("shard", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    spread = comp.groupBy("lang").agg(
        (F.max("n_docs") - F.min("n_docs")).alias("spread")
    )
    return comp.join(F.broadcast(spread), "lang").select(
        "shard",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("spread") <= 1).alias("balanced"),
    )
