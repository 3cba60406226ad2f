"""Registered text-analysis queries over the ``documents`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.sampling import md5_60, md5_60_sql
from ..registry import register
from .minhash import shingle_sql
from .text import (
    BPE_ISH_RE,
    LANG_STOPWORDS,
    TOKENS_SQL,
    bow_fingerprint,
    content_hash,
    lang_scores,
    predict_lang,
    quality_score,
    subword_token_count,
    token_char_sum,
    tokens,
)


def _duck_stop_count(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({TOKENS_SQL}, x -> x IN ({inlist})))"


# ---------------------------------------------------------------------------
# q40: per-document token statistics — pure projection, no shuffle.
# ---------------------------------------------------------------------------

_Q40_ORACLE = f"""
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len({TOKENS_SQL}) AS INT) AS n_tokens,
       CAST(len(list_distinct({TOKENS_SQL})) AS INT) AS n_distinct_tokens,
       list_sum(list_transform({TOKENS_SQL}, x -> length(x))) / len({TOKENS_SQL}) AS avg_token_len
FROM documents
"""


@register("q40_token_stats", oracle=_Q40_ORACLE, tags=("text", "llm"))
def q40_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (token_char_sum(toks) / F.size(toks)).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# q41: language-ID confusion matrix — stopword-vote heuristic vs the
# labeled ``lang`` column.
# ---------------------------------------------------------------------------

_PRED_SQL = f"""
CASE WHEN {_duck_stop_count(LANG_STOPWORDS['en'])} = 0
      AND {_duck_stop_count(LANG_STOPWORDS['es'])} = 0
      AND {_duck_stop_count(LANG_STOPWORDS['de'])} = 0
      AND {_duck_stop_count(LANG_STOPWORDS['fr'])} = 0 THEN 'unknown'
     WHEN {_duck_stop_count(LANG_STOPWORDS['en'])} >= {_duck_stop_count(LANG_STOPWORDS['es'])}
      AND {_duck_stop_count(LANG_STOPWORDS['en'])} >= {_duck_stop_count(LANG_STOPWORDS['de'])}
      AND {_duck_stop_count(LANG_STOPWORDS['en'])} >= {_duck_stop_count(LANG_STOPWORDS['fr'])} THEN 'en'
     WHEN {_duck_stop_count(LANG_STOPWORDS['es'])} >= {_duck_stop_count(LANG_STOPWORDS['de'])}
      AND {_duck_stop_count(LANG_STOPWORDS['es'])} >= {_duck_stop_count(LANG_STOPWORDS['fr'])} THEN 'es'
     WHEN {_duck_stop_count(LANG_STOPWORDS['de'])} >= {_duck_stop_count(LANG_STOPWORDS['fr'])} THEN 'de'
     ELSE 'fr' END
"""

_Q41_ORACLE = f"""
SELECT lang, {_PRED_SQL} AS predicted_lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


@register("q41_lang_id_confusion", oracle=_Q41_ORACLE, tags=("text", "llm"))
def q41_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    pred = predict_lang(lang_scores(toks))
    return (
        d.withColumn("predicted_lang", pred)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q42: per-document quality score + band.
# ---------------------------------------------------------------------------

_Q42_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({TOKENS_SQL}) AS INT) AS n_tokens,
         CAST(len(list_distinct({TOKENS_SQL})) AS INT) AS n_distinct,
         CAST({_duck_stop_count(LANG_STOPWORDS['en'])} AS INT) AS n_stop
  FROM documents
)
SELECT doc_id,
       n_tokens,
       round(0.5 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (n_distinct / n_tokens)
             + 0.2 * (1.0 - n_stop / n_tokens), 6) AS quality,
       CASE WHEN round(0.5 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * (n_distinct / n_tokens)
                       + 0.2 * (1.0 - n_stop / n_tokens), 6) >= 0.7 THEN 'high'
            WHEN round(0.5 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * (n_distinct / n_tokens)
                       + 0.2 * (1.0 - n_stop / n_tokens), 6) >= 0.4 THEN 'medium'
            ELSE 'low' END AS band
FROM t
"""


@register("q42_quality_score", oracle=_Q42_ORACLE, tags=("text", "llm"))
def q42_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))).alias("n_stop"),
    )
    q = quality_score(F.col("n_tokens"), F.col("n_distinct"), F.col("n_stop"))
    return base.select(
        "doc_id",
        "n_tokens",
        q.alias("quality"),
        F.when(q >= 0.7, "high").when(q >= 0.4, "medium").otherwise("low").alias("band"),
    )


# ---------------------------------------------------------------------------
# q43: bag-of-words fingerprint groups (document fingerprinting).
# ---------------------------------------------------------------------------

_Q43_ORACLE = f"""
SELECT md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS rep_doc_id
FROM documents
GROUP BY 1
"""


@register("q43_fingerprint_groups", oracle=_Q43_ORACLE, tags=("text", "fingerprint", "llm"))
def q43_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("fingerprint", bow_fingerprint("text"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("rep_doc_id"))
    )


# ---------------------------------------------------------------------------
# q44: exact dedup by content hash (hash-groupBy dedup — the baseline
# dedup operator; one shuffle on the hash).
# ---------------------------------------------------------------------------

_Q44_ORACLE = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("q44_exact_dedup", oracle=_Q44_ORACLE, tags=("dedup", "llm"))
def q44_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", content_hash("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# q61: subword (BPE-ish) token budgeting vs whitespace words — the count
# an LLM data pipeline actually bills by. One regex, verified to
# tokenize identically in Spark (Java regex) and DuckDB (RE2).
# ---------------------------------------------------------------------------

_DUCK_BPE = BPE_ISH_RE.replace("'", "''")

_Q61_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_DUCK_BPE}'))) AS BIGINT) AS total_subwords,
       CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS total_words,
       CAST(MAX(len(regexp_extract_all(text, '{_DUCK_BPE}'))) AS INT) AS max_subwords
FROM documents
GROUP BY lang
"""


@register("q61_subword_token_stats", oracle=_Q61_ORACLE, tags=("text", "tokenize", "llm"))
def q61_subword_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(subword_token_count("text")).cast("bigint").alias("total_subwords"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_words"),
        F.max(subword_token_count("text")).cast("int").alias("max_subwords"),
    )


# ---------------------------------------------------------------------------
# q66: rolling-hash fingerprint groups — the order-sensitive dedup key
# (reordered tokens fingerprint differently, unlike q43's bag-of-words
# hash). The DuckDB oracle replays the identical Rabin-Karp fold with
# list_reduce over the same md5-derived token values.
# ---------------------------------------------------------------------------

_DUCK_ROLL = f"""
list_reduce(
  list_prepend(CAST(0 AS BIGINT),
    list_transform({TOKENS_SQL},
      t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))),
  (acc, v) -> (acc * 131 + v) % 1000000007)
"""

_Q66_ORACLE = f"""
SELECT {_DUCK_ROLL} AS fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
"""


@register("q66_rolling_fingerprint", oracle=_Q66_ORACLE, tags=("text", "fingerprint", "llm"))
def q66_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import rolling_fingerprint

    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", rolling_fingerprint("text"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


# ---------------------------------------------------------------------------
# q83: deterministic train/valid/test split (operators/sampling.py).
# Assignment is a pure function of (doc_id, seed) via a portable
# md5-prefix bucket, so it is stable across runs, partitionings, and
# engines — the DuckDB oracle recomputes every bucket and split
# byte-identically. 90/5/5 split, seed 42.
# ---------------------------------------------------------------------------

_Q83_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         {md5_60_sql("CAST(doc_id AS VARCHAR) || ':42'")} % 10000 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'valid'
            ELSE 'test' END AS split
FROM b
"""


@register("q83_hash_split", oracle=_Q83_ORACLE, tags=("sampling", "llm"))
def q83_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import portable_bucket, split_assign

    d = load_table(spark, sf_dir, "documents")
    out = split_assign(d, "doc_id", {"train": 0.9, "valid": 0.05, "test": 0.05}, seed=42)
    return out.select(
        "doc_id", portable_bucket("doc_id", 42).alias("bucket"), "split"
    )


# ---------------------------------------------------------------------------
# q84: blocked fuzzy string matching (edit distance) — the entity-
# resolution / catalog-normalization primitive. Works on the DISTINCT
# name vocabulary (fuzzy-matching raw rows explodes on repeated names:
# m copies x n copies of two near-identical strings is m*n pairs for
# zero new information), blocks on the first character so the self-join
# is an equi-join (standard blocking: bounded recall loss — a typo in
# position 1 lands in another block — in exchange for never running the
# O(V^2) cross join), then scores survivors with exact Levenshtein <= 4.
# Both engines implement textbook edit distance, so values match.
# ---------------------------------------------------------------------------

_Q84_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a,
       b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM names a
JOIN names b
  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@register("q84_fuzzy_part_names", oracle=_Q84_ORACLE, tags=("fuzzy", "text"))
def q84_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        a.join(
            b,
            (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .select("name_a", "name_b", "dist")
    )


# ---------------------------------------------------------------------------
# q85: corpus-derived stopword filtering — the boilerplate-removal pass
# of a training-data pipeline. The stopword list is not a constant: it
# is the corpus's own top-20 tokens by total occurrences (tie-broken
# lexicographically so the list is deterministic), which then filters
# the exploded token relation via a broadcast anti-join. Per document:
# total tokens, kept (content) tokens, distinct kept tokens, and the
# kept ratio rounded to 6 digits. Exercises a derived dimension (top-k
# becomes a filter), anti-join, and two-level aggregation in one plan.
# ---------------------------------------------------------------------------

_Q85_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents
),
stop AS (
  SELECT t FROM (
    SELECT t, COUNT(*) AS n,
           row_number() OVER (ORDER BY COUNT(*) DESC, t) AS rn
    FROM tok GROUP BY t
  ) WHERE rn <= 20
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         COUNT(*) FILTER (WHERE t NOT IN (SELECT t FROM stop)) AS n_kept,
         COUNT(DISTINCT t) FILTER (WHERE t NOT IN (SELECT t FROM stop))
           AS n_kept_distinct
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_kept, n_kept_distinct,
       round(n_kept / n_tokens, 6) AS kept_ratio
FROM per_doc
"""


@register("q85_stopword_filtered_stats", oracle=_Q85_ORACLE, tags=("text", "llm"))
def q85_stopword_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("t"),
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    # Top-20 via orderBy+limit => TakeOrderedAndProject (per-partition
    # top-k, driver merge of 20-row heads), NOT row_number over an
    # unpartitioned window — the window form funnels the whole vocab
    # (unbounded at corpus scale) through one WindowExec partition.
    stop = counts.orderBy(F.col("n").desc(), "t").limit(20).select("t")
    flagged = tok.join(
        F.broadcast(stop.withColumn("__stop", F.lit(1))), "t", "left"
    )
    kept = F.when(F.col("__stop").isNull(), 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(kept).alias("n_kept"),
        F.countDistinct(F.when(F.col("__stop").isNull(), F.col("t"))).alias(
            "n_kept_distinct"
        ),
        F.round(
            F.sum(kept) / F.count(F.lit(1)),
            6,
        ).alias("kept_ratio"),
    )


# ---------------------------------------------------------------------------
# q86: stratified deterministic sampling — rebalance a multilingual
# corpus by keeping per-language fractions (downsample the dominant
# language, keep the rest whole). Same portable md5-bucket as q83, so
# DuckDB recomputes membership exactly; stable per (doc_id, seed)
# regardless of partitioning or corpus growth.
# ---------------------------------------------------------------------------

_Q86_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         {md5_60_sql("CAST(doc_id AS VARCHAR) || ':7'")} % 10000 AS bucket
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM b
WHERE bucket < CASE lang
  WHEN 'en' THEN 3000
  WHEN 'zh' THEN 8000
  ELSE 10000 END
"""


@register("q86_stratified_sample", oracle=_Q86_ORACLE, tags=("sampling", "llm"))
def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_hash_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_hash_sample(
        d,
        "doc_id",
        "lang",
        fractions={"en": 0.3, "zh": 0.8},
        default_fraction=1.0,
        seed=7,
    )


# ---------------------------------------------------------------------------
# q87: sliding-window document chunking — the standard LLM-pretraining
# preprocessing step (fixed-size token windows with overlap, e.g. for
# context-length packing or embedding indexing). Pure JVM array
# expressions: one sequence() of chunk starts, posexplode, slice — no
# UDF, no Python. Chunk text is fingerprinted with md5 so the output
# stays narrow and the DuckDB oracle can replay every chunk boundary
# and its content byte-exactly. Window 50 tokens, stride 25.
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 50, 25

_Q87_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
chunks AS (
  SELECT doc_id,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         unnest(starts) AS start_tok,
         t
  FROM (SELECT doc_id, t, generate_series(1, len(t), {_STRIDE}) AS starts FROM toks)
)
SELECT doc_id, chunk_idx, start_tok,
       least({_CHUNK}, len(t) - start_tok + 1) AS n_tok,
       md5(array_to_string(t[start_tok : start_tok + {_CHUNK} - 1], ' ')) AS chunk_md5
FROM chunks
"""


@register("q87_doc_chunks", oracle=_Q87_ORACLE, tags=("text", "chunking", "llm"))
def q87_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    with_starts = d.select(
        "doc_id",
        F.col("text"),
        toks.alias("t"),
    ).select(
        "doc_id",
        "t",
        # guard: Spark's sequence(1, 0) raises where DuckDB returns
        # empty — zero-token docs must yield zero chunks, not an error
        F.when(
            F.size("t") > 0,
            F.sequence(F.lit(1), F.size("t"), F.lit(_STRIDE)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("starts"),
    )
    exploded = with_starts.select(
        "doc_id",
        "t",
        F.posexplode("starts").alias("chunk_idx", "start_tok"),
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.least(F.lit(_CHUNK), F.size("t") - F.col("start_tok") + 1).alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.slice("t", F.col("start_tok"), _CHUNK))
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# q88: sequence packing — the "concat then chop" step that turns a
# tokenized corpus into fixed-length training rows (budget 512 tokens).
# Documents are laid out in doc_id order; a running token total places
# each document at a global offset, and integer division by the budget
# yields the training-sequence ids its tokens land in. Pure window
# arithmetic: ONE cumulative-sum window, no iteration, no Python. A doc
# straddling a boundary reports both the first and last sequence it
# touches (n_seqs = how many rows it spans).
# ---------------------------------------------------------------------------

_PACK = 512

_Q88_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, len({TOKENS_SQL}) AS n_tok FROM documents
),
placed AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS tok_offset
  FROM toks
)
SELECT doc_id, n_tok,
       -- BIGINT casts: DuckDB types window SUM()/'//' over integers as
       -- HUGEINT (INT128); the driver materializes oracles via
       -- pandas/arrow, where HUGEINT coerces to float64 and hashes as
       -- 1.0 against Spark's bigint 1 (CORRECTNESS_r02 red row)
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset // {_PACK} AS BIGINT) AS first_seq,
       CAST((tok_offset + n_tok - 1) // {_PACK} AS BIGINT) AS last_seq,
       CAST((tok_offset + n_tok - 1) // {_PACK} - tok_offset // {_PACK} + 1
            AS BIGINT) AS n_seqs
FROM placed
WHERE n_tok > 0
"""


@register("q88_sequence_packing", oracle=_Q88_ORACLE, tags=("text", "packing", "llm"))
def q88_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import distributed_cumsum

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
    )
    # NOT Window.orderBy(doc_id) — a global unpartitioned window is one
    # task; the distributed prefix sum keeps the layout parallel
    placed = distributed_cumsum(
        toks, "doc_id", "n_tok", out="tok_offset", exclusive=True
    )
    first_seq = F.floor(F.col("tok_offset") / _PACK)
    last_seq = F.floor((F.col("tok_offset") + F.col("n_tok") - 1) / _PACK)
    return placed.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "n_tok",
        "tok_offset",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# q95: repetition-based quality signals (Gopher-style filters): the
# duplicate-word fraction and the top-bigram mass fraction per document.
# Bigrams are built JVM-side with zip_with over the token array and its
# own 1-shifted slice (no UDF, no Python), then exploded once; both
# fractions come from one groupBy over the exploded relation with
# map-side partial aggregation, so at corpus scale the shuffle carries
# (doc_id, bigram) pairs already combined per map task.
# ---------------------------------------------------------------------------

_Q95_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks WHERE len(t) >= 2
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
agg AS (SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS total_bg FROM cnt GROUP BY 1)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       1.0 - len(list_distinct(t.t)) / len(t.t) AS dup_word_frac,
       agg.top_cnt / agg.total_bg AS top_bigram_frac
FROM toks t JOIN agg ON t.doc_id = agg.doc_id
WHERE len(t.t) >= 2
"""


@register("q95_repetition_stats", oracle=_Q95_ORACLE, tags=("text", "llm", "quality"))
def q95_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    toks = d.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    n = F.size("t")
    bigrams = toks.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct("t")) / n).alias("dup_word_frac"),
        F.explode(
            F.zip_with(
                F.slice("t", 1, n - 1),
                F.slice("t", 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    cnt = bigrams.groupBy("doc_id", "n_tokens", "dup_word_frac", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return cnt.groupBy("doc_id", "n_tokens", "dup_word_frac").agg(
        (F.max("c") / F.sum("c")).alias("top_bigram_frac")
    ).select("doc_id", "n_tokens", "dup_word_frac", "top_bigram_frac")


# ---------------------------------------------------------------------------
# q96: BM25 keyword search — the classic ranked retrieval the reference
# delegates to its BI tool's search box, done engine-side. Document
# frequencies and corpus stats are tiny aggregates (broadcast), term
# frequencies come from one explode+filter+groupBy over the corpus; the
# per-term partial scores are rounded then decimal-summed (functions/
# compat.py) so the ranking is order-independent and oracle-exact.
# Top-k goes through orderBy+limit => TakeOrderedAndProject (per-
# partition heads + driver merge), not a single-task global window.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75

_Q96_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  WHERE tok IN ('spark', 'join', 'window', 'hash')
  GROUP BY 1, 2
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(ROUND(
           ln((stats.n_docs - dfreq.df + 0.5)/(dfreq.df + 0.5) + 1.0)
           * tf.tf * ({_BM25_K1} + 1.0)
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)),
         6) AS DECIMAL(28,8))) AS DOUBLE) AS score
  FROM tf
  JOIN dfreq USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY 1
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
ORDER BY score DESC, doc_id
LIMIT 20
"""


@register("q96_bm25_search", oracle=_Q96_ORACLE, tags=("text", "llm", "search"))
def q96_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.compat import roundsum

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    part = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    scored = part.groupBy("doc_id").agg(roundsum("s", 6, alias="score"))
    top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# q98: benchmark decontamination — flag corpus documents sharing any
# word n-gram with a held-out "benchmark" slice (doc_id % 97 == 0),
# the standard train/eval overlap check for training corpora. Real
# pipelines use 8-13-gram overlap; here n=4 because the synthetic
# fixture corpus has zero cross-doc 8-gram overlap at every sf (ADVICE
# r1 — an always-empty result exercises nothing), while 4-grams yield
# hits at sf0.001 AND sf0.01, so the hit counting, contamination_frac
# and HAVING filter all face real data. The capability is identical
# modulo n. Grams are built with one sequence+slice transform per
# document (JVM-side), deduplicated per doc, and joined on
# (xxhash64(gram), gram): the numeric hash leads the key for cheap
# partitioning/compare, the gram string rides along so a 64-bit hash
# collision cannot diverge from the string-equality oracle (ADVICE r1 —
# unlike dedup.py's rows-only LSH queries, this one is value-exact).
# The benchmark side is a distinct gram set — small relative to the
# corpus, marked broadcast here; at larger benchmark sizes drop the
# hint and let AQE pick.
# ---------------------------------------------------------------------------

_Q98_ORACLE = f"""
WITH {shingle_sql("documents", 4)}bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT sh.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       SUM(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) AS contamination_frac
FROM sh LEFT JOIN bench ON sh.shingle = bench.shingle
WHERE sh.doc_id % 97 <> 0
GROUP BY sh.doc_id
HAVING SUM(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


@register("q98_decontamination", oracle=_Q98_ORACLE, tags=("text", "llm", "dedup"))
def q98_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", tokens("text").alias("t"))
        .filter(F.size("t") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(t) - 3), i -> concat_ws(' ', slice(t, i, 4)))")
            ).alias("g"),
        )
        .select("doc_id", F.xxhash64("g").alias("gh"), "g")
        .distinct()
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("gh").alias("hit_gh"), F.col("g").alias("hit_g"))
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    hit = F.when(F.col("hit_gh").isNotNull(), 1).otherwise(0)
    joined = corpus.join(
        F.broadcast(bench),
        (corpus["gh"] == F.col("hit_gh")) & (corpus["g"] == F.col("hit_g")),
        "left",
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).alias("n_contaminated"),
            (F.sum(hit) / F.count(F.lit(1))).alias("contamination_frac"),
        )
        .filter(F.col("n_contaminated") > 0)
    )


# ---------------------------------------------------------------------------
# q102: corpus token-frequency (Zipf) profile — the vocabulary head a
# training pipeline inspects for tokenizer coverage and boilerplate
# detection. Explode -> token groupBy (map-side combine shrinks the
# shuffle to the vocabulary, not the corpus) -> distributed top-k
# (TakeOrderedAndProject: per-partition heap, never a global sort) ->
# rank/cumulative-share window over the surviving 30 rows only, so the
# single-partition window is O(k) at any corpus size. Shares are
# round-6 + decimal-cumulated: order-independent, value-exact vs DuckDB.
# ---------------------------------------------------------------------------

_Q102_ORACLE = f"""
WITH ex AS (SELECT unnest({TOKENS_SQL}) AS tok FROM documents),
agg AS (SELECT tok, COUNT(*) AS freq FROM ex GROUP BY tok),
tot AS (SELECT SUM(freq) AS total FROM agg),
ranked AS (
  SELECT tok, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
  FROM agg
)
SELECT rank, tok, freq,
       ROUND(freq / total, 6) AS share,
       CAST(SUM(CAST(ROUND(freq / total, 6) AS DECIMAL(18,6)))
            OVER (ORDER BY rank) AS DOUBLE) AS cum_share
FROM ranked, tot
WHERE rank <= 30
"""


@register("q102_token_zipf", oracle=_Q102_ORACLE, tags=("text", "llm", "zipf"))
def q102_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.windows import top_k

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = tf.agg(F.sum("freq").alias("total"))
    top = top_k(tf, [F.col("freq").desc(), F.col("tok")], k=30)
    w = Window.orderBy("rank")
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("freq") / F.col("total"), 6))
        .withColumn(
            "cum_share",
            F.sum(F.col("share").cast("decimal(18,6)")).over(w).cast("double"),
        )
        .select("rank", "tok", "freq", "share", "cum_share")
    )


# ---------------------------------------------------------------------------
# q103: per-document token-distribution Shannon entropy — the
# "word-salad vs natural prose vs degenerate repetition" quality signal
# (low entropy = repetitive/templated text, a standard pretraining
# filter). Two shuffles: (doc, token) term frequencies, then a per-doc
# window for length + final agg. Each -p*ln(p) term is rounded to 6
# decimals and decimal-summed (functions/compat.py pattern), so the
# entropy double is bit-identical across engines despite libm-vs-Math
# ln() ulp differences; normalized entropy divides by ln(n_distinct)
# and rounds again.
# ---------------------------------------------------------------------------

_Q103_ORACLE = f"""
WITH ex AS (SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
wd AS (
  SELECT doc_id, tf, SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf
),
ent AS (
  SELECT doc_id,
         CAST(MAX(dl) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         CAST(SUM(CAST(ROUND(-(tf / dl) * ln(tf / dl), 6) AS DECIMAL(28,8)))
              AS DOUBLE) AS entropy
  FROM wd GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, entropy,
       CASE WHEN n_distinct > 1 THEN ROUND(entropy / ln(n_distinct), 6)
            ELSE 0.0 END AS norm_entropy
FROM ent
"""


@register("q103_token_entropy", oracle=_Q103_ORACLE, tags=("text", "llm", "quality"))
def q103_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.compat import roundsum

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wd = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    p = F.col("tf") / F.col("dl")
    ent = wd.groupBy("doc_id").agg(
        F.max("dl").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        roundsum(-p * F.log(p), 6, alias="entropy"),
    )
    return ent.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "entropy",
        F.when(
            F.col("n_distinct") > 1,
            F.round(F.col("entropy") / F.log(F.col("n_distinct").cast("double")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


# ---------------------------------------------------------------------------
# q121: repeated-span statistics — the span-level generalization of
# doc-level dedup (the "dedup repeated substrings, not just documents"
# insight from training-data dedup practice). Every 20-token sliding
# window of every document is hashed; a span is "duplicated" when it
# occurs in >= 2 DISTINCT documents; each document reports the fraction
# of its spans that are duplicated — the signal a span-level dedup
# policy thresholds on. Joins are on (xxhash64, span-text) so a 64-bit
# collision cannot diverge from the string-equality oracle (the q98
# rule). Plan: one explode (sum-of-tokens rows), one per-span distinct-
# doc agg, one join back — all narrow-keyed, no all-pairs anything.
# Scale note: carrying the span TEXT through both shuffles is the
# exactness tax; at ~10^12 spans (100 TB) switch the key to a 128-bit
# hash (md5, or two independent xxhash64 seeds) and DROP the text —
# collision odds ~d^2/2^129 stay negligible where 64 bits would not,
# and the shuffled bytes drop by the span width (~100x).
# ---------------------------------------------------------------------------

_SPAN = 20

_Q121_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
spans AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {_SPAN - 2}),
                i -> array_to_string(t[i:i+{_SPAN - 1}], ' '))) AS s
  FROM toks WHERE len(t) >= {_SPAN}
),
span_docs AS (
  SELECT s, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY s
)
SELECT spans.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN sd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(SUM(CASE WHEN sd.nd >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6) AS dup_frac
FROM spans JOIN span_docs sd ON spans.s = sd.s
GROUP BY spans.doc_id
"""


@register("q121_repeated_spans", oracle=_Q121_ORACLE, tags=("text", "dedup", "llm"))
def q121_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    spans = (
        d.select("doc_id", tokens("text").alias("t"))
        .filter(F.size("t") >= _SPAN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN - 1}),"
                    f" i -> concat_ws(' ', slice(t, i, {_SPAN})))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("sh"), "s")
    )
    span_docs = spans.groupBy("sh", "s").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        spans.join(span_docs, ["sh", "s"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q122: corpus mixture rebalancing — compute per-language keep
# thresholds that move the corpus toward a UNIFORM language mixture,
# then apply them with the deterministic portable-bucket sample
# (operators/sampling.py). The whole computation is integer arithmetic:
# threshold_lang = min(N_BUCKETS, total * N_BUCKETS // (n_langs *
# n_lang_docs)) — no float boundary can flip a row's keep decision
# between engines. Overrepresented languages are downsampled to the
# target share; underrepresented ones keep everything (no upsampling).
# Plan: one tiny per-lang agg broadcast back onto the corpus; the keep
# predicate is a pure per-row hash compare — this is how a 100 TB
# corpus is re-mixed in one narrow pass.
# ---------------------------------------------------------------------------

_MIX_SEED = 7
_MIX_BUCKETS = 10_000

_Q122_ORACLE = f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_langs FROM per_lang),
thresh AS (
  SELECT lang, n_docs,
         LEAST({_MIX_BUCKETS},
               CAST(total * {_MIX_BUCKETS} // (n_langs * n_docs) AS BIGINT)
         ) AS keep_thresh
  FROM per_lang, tot
),
kept AS (
  SELECT d.lang,
         CASE WHEN {md5_60_sql(f"CAST(d.doc_id AS VARCHAR) || ':{_MIX_SEED}'")} % {_MIX_BUCKETS} < t.keep_thresh
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN thresh t ON d.lang = t.lang
)
SELECT t.lang,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       t.keep_thresh,
       CAST(SUM(k.keep) AS BIGINT) AS n_kept
FROM thresh t JOIN kept k ON k.lang = t.lang
GROUP BY t.lang, t.n_docs, t.keep_thresh
"""


@register("q122_mixture_rebalance", oracle=_Q122_ORACLE, tags=("sampling", "mixture", "llm"))
def q122_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import portable_bucket

    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_lang.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    thresh = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(_MIX_BUCKETS).cast("bigint"),
            # integer `div`, not floor(double /): exact like DuckDB's //
            # at any magnitude (double-quotient floor can flip by one
            # when the true quotient sits within 1 ulp of an integer)
            F.expr(f"(total * {_MIX_BUCKETS}) div (n_langs * n_docs)"),
        ).alias("keep_thresh"),
    )
    keep = F.when(
        portable_bucket("doc_id", _MIX_SEED, _MIX_BUCKETS) < F.col("keep_thresh"), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(thresh), "lang")
        .groupBy("lang", "n_docs", "keep_thresh")
        .agg(F.sum(keep).alias("n_kept"))
    )


# ---------------------------------------------------------------------------
# q136: entity resolution — the composition a catalog-normalization
# pipeline runs after fuzzy matching: q84's blocked edit-distance pairs
# become the edge set, transitive closure (operators/graph connected
# components — label propagation over STRING node ids, min() is
# lexicographic in both engines) assigns every name to a cluster, and
# the cluster's lexicographically-smallest name becomes the canonical
# form. Names matching nothing are their own singleton cluster.
#
# Scale shape: the pair join is blocked (first-character equi-join, see
# q84), the closure runs O(cluster-diameter) label-propagation rounds
# over an edge relation that is tiny relative to the corpus (only
# near-matching names), and the final joins are name-cardinality. The
# DuckDB oracle replays the closure with a recursive CTE (q82's walk
# pattern).
# ---------------------------------------------------------------------------

_Q136_ORACLE = """
WITH RECURSIVE
names AS (SELECT DISTINCT p_name FROM part),
pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a
  JOIN names b
    ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
   AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 4
),
edges AS (
  SELECT name_a AS a, name_b AS b FROM pairs
  UNION
  SELECT name_b, name_a FROM pairs
),
walk(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a
),
comp AS (
  SELECT a AS p_name, LEAST(a, MIN(b)) AS canonical_name FROM walk GROUP BY a
),
assigned AS (
  SELECT n.p_name, COALESCE(c.canonical_name, n.p_name) AS canonical_name
  FROM names n
  LEFT JOIN comp c USING (p_name)
)
SELECT a.p_name, a.canonical_name, s.cluster_size
FROM assigned a
JOIN (
  SELECT canonical_name, COUNT(*) AS cluster_size FROM assigned GROUP BY 1
) s USING (canonical_name)
"""


@register("q136_entity_resolution", oracle=_Q136_ORACLE, tags=("fuzzy", "graph", "text"))
def q136_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import canonical_docs
    from ..operators.windows import distributed_rank

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    # connected_components' convergence probe is numeric (sum of
    # labels), so map each name to its lexicographic RANK — an
    # order-isomorphic bigint id (min rank == min name) — and map back
    # after clustering. The rank rides distributed_rank (range-shuffle
    # + parallel local row_number, operators/windows.py), so even a
    # corpus-scale name vocabulary never funnels through one task.
    ids = distributed_rank(names, ["p_name"], out="nid").withColumn(
        "nid", F.col("nid").cast("bigint")
    )
    a = ids.select(F.col("p_name").alias("name_a"), F.col("nid").alias("nid_a"))
    b = ids.select(F.col("p_name").alias("name_b"), F.col("nid").alias("nid_b"))
    pairs = (
        a.join(
            b,
            (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(F.levenshtein("name_a", "name_b") <= 4)
        .select("nid_a", "nid_b")
    )
    clustered = canonical_docs(
        ids.select("nid"), pairs, "nid", "nid_a", "nid_b"
    )
    canon_names = ids.select(
        F.col("nid").alias("canonical_id"), F.col("p_name").alias("canonical_name")
    )
    return (
        clustered.join(ids, "nid")
        .join(F.broadcast(canon_names), "canonical_id")
        .select("p_name", "canonical_name", "cluster_size")
    )


# ---------------------------------------------------------------------------
# q186: interpolated bigram language model — the step up from q132's
# unigram perplexity proxy: score(doc) = mean over bigram instances of
# ln(λ·p(w2|w1) + (1−λ)·p(w2)), with both distributions estimated from
# the corpus itself (Jelinek-Mercer interpolation, the classic smoothing
# that keeps unseen-context scores finite). Better garbled-text
# separation than unigram because word ORDER now matters.
#
# Plan: three map-side-combined count aggs (unigram, bigram, context
# totals) build the model; the per-doc pass joins bigram instances to
# the model and averages. The model relation is vocabulary²-bounded but
# Zipf-concentrated; at corpus scale it's an ordinary shuffle join on
# (w1, w2) — never a driver-side dict. All probabilities are integer-
# division doubles evaluated in one pinned expression order; ln() is the
# lone libm call and round-6 after the mean absorbs its 1-ulp skew
# (q132's precedent).
# ---------------------------------------------------------------------------

_Q186_LAMBDA = 0.7

_Q186_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
u AS (SELECT unnest(t) AS w FROM t),
uc AS (SELECT w, COUNT(*) AS n1 FROM u GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM u),
bgpos AS (
  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t
),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM bgpos),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c2) AS ctx FROM c2 GROUP BY 1)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(SUM(ln({_Q186_LAMBDA} * (c2.c2 / ctx.ctx)
                    + {1 - _Q186_LAMBDA} * (uc.n1 / tot.n))) / COUNT(*), 6)
         AS avg_logprob
FROM bg
JOIN c2 USING (w1, w2)
JOIN ctx USING (w1)
JOIN uc ON uc.w = bg.w2
CROSS JOIN tot
GROUP BY bg.doc_id
"""


@register("q186_bigram_lm", oracle=_Q186_ORACLE, tags=("text", "llm", "quality"))
def q186_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread

    # spread (opt r13): the bigram/unigram tokenize explodes ran on the
    # single-row-group scan's one task; no-op at corpus scale
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tokens("text").alias("t")).filter(F.size("t") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    u = d.select(F.explode(tokens("text")).alias("w"))
    uc = u.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    tot = u.agg(F.count(F.lit(1)).alias("n"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("w1").agg(F.sum("c2").alias("ctx"))
    lam = _Q186_LAMBDA
    p = lam * (F.col("c2") / F.col("ctx")) + (1 - lam) * (
        F.col("n1") / F.col("n")
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uc, bg.w2 == uc.w)
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q199: curriculum binning — the stage assignment a curriculum-learning
# data loader consumes: every document placed on a 2-d grid of
# (heuristic quality band from q42) × (bigram-LM fluency tercile from
# q186's scorer), with per-cell counts and mean scores. The two signals
# disagree exactly where curricula care (high-quality-but-stilted vs
# fluent-but-thin text), so the grid, not either axis alone, is the
# schedule. Tercile boundaries are EXACT percentiles of the per-doc LM
# score (q27's bit-identical interpolation precedent) broadcast back as
# a 1-row relation — deliberately NOT a global ntile() window, which
# would sort the whole corpus on one task; boundary-compare keeps the
# assignment a broadcast map-side projection at any scale (the
# SCALING.md approx_percentile swap applies verbatim when exactness is
# relaxed). Docs sitting exactly on a boundary compare identically in
# both engines because the per-doc scores are round-6-pinned doubles.
# ---------------------------------------------------------------------------

_Q199_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
qual AS (
  SELECT doc_id,
         CASE WHEN round(0.5 * least(len({TOKENS_SQL}) / 100.0, 1.0)
                         + 0.3 * (len(list_distinct({TOKENS_SQL}))
                                  / len({TOKENS_SQL}))
                         + 0.2 * (1.0 - {_duck_stop_count(LANG_STOPWORDS['en'])}
                                  / len({TOKENS_SQL})), 6) >= 0.7 THEN 'high'
              WHEN round(0.5 * least(len({TOKENS_SQL}) / 100.0, 1.0)
                         + 0.3 * (len(list_distinct({TOKENS_SQL}))
                                  / len({TOKENS_SQL}))
                         + 0.2 * (1.0 - {_duck_stop_count(LANG_STOPWORDS['en'])}
                                  / len({TOKENS_SQL})), 6) >= 0.4 THEN 'medium'
              ELSE 'low' END AS band,
         round(0.5 * least(len({TOKENS_SQL}) / 100.0, 1.0)
               + 0.3 * (len(list_distinct({TOKENS_SQL})) / len({TOKENS_SQL}))
               + 0.2 * (1.0 - {_duck_stop_count(LANG_STOPWORDS['en'])}
                        / len({TOKENS_SQL})), 6) AS quality
  FROM documents
),
u AS (SELECT unnest(t) AS w FROM t),
uc AS (SELECT w, COUNT(*) AS n1 FROM u GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM u),
bgpos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM bgpos),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c2) AS ctx FROM c2 GROUP BY 1),
lm AS (
  SELECT bg.doc_id,
         round(SUM(ln(0.7 * (c2.c2 / ctx.ctx) + 0.3 * (uc.n1 / tot.n)))
               / COUNT(*), 6) AS lp
  FROM bg
  JOIN c2 USING (w1, w2)
  JOIN ctx USING (w1)
  JOIN uc ON uc.w = bg.w2
  CROSS JOIN tot
  GROUP BY bg.doc_id
),
scored AS (SELECT q.doc_id, q.band, q.quality, lm.lp FROM qual q JOIN lm USING (doc_id)),
b AS (
  SELECT quantile_cont(lp, 1.0/3) AS b1, quantile_cont(lp, 2.0/3) AS b2
  FROM scored
)
SELECT band,
       1 + CAST(lp > b.b1 AS INT) + CAST(lp > b.b2 AS INT) AS lm_tercile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       (CAST(SUM(CAST(round(quality * 1e6, 0) AS BIGINT)) AS DOUBLE)
        / COUNT(*)) / 1e6 AS avg_quality,
       (CAST(SUM(CAST(round(lp * 1e6, 0) AS BIGINT)) AS DOUBLE)
        / COUNT(*)) / 1e6 AS avg_logprob
FROM scored CROSS JOIN b
GROUP BY 1, 2
"""


@register(
    "q199_curriculum_bins",
    oracle=_Q199_ORACLE,
    tags=("text", "llm", "quality", "curriculum"),
)
def q199_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))).alias("n_stop"),
    )
    q = quality_score(F.col("n_tokens"), F.col("n_distinct"), F.col("n_stop"))
    qual = base.select(
        "doc_id",
        q.alias("quality"),
        F.when(q >= 0.7, "high").when(q >= 0.4, "medium").otherwise("low").alias("band"),
    )

    # per-doc bigram-LM score — q186's model, reduced to (doc_id, lp)
    t = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    u = d.select(F.explode(toks).alias("w"))
    uc = u.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    tot = u.agg(F.count(F.lit(1)).alias("n"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("w1").agg(F.sum("c2").alias("ctx"))
    p = 0.7 * (F.col("c2") / F.col("ctx")) + 0.3 * (F.col("n1") / F.col("n"))
    lm = (
        bg.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uc, bg.w2 == uc.w)
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias("lp"))
    )

    scored = qual.join(lm, "doc_id")
    b = scored.agg(
        F.percentile("lp", F.lit(1.0 / 3)).alias("b1"),
        F.percentile("lp", F.lit(2.0 / 3)).alias("b2"),
    )
    return (
        scored.crossJoin(F.broadcast(b))
        .withColumn(
            "lm_tercile",
            F.lit(1)
            + (F.col("lp") > F.col("b1")).cast("int")
            + (F.col("lp") > F.col("b2")).cast("int"),
        )
        .groupBy("band", "lm_tercile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # NOT round(avg(...)): averaging round-6 doubles sums them in
            # engine-specific order, and round-6 of a ulp-divergent sum
            # tips half boundaries differently (caught at sf0.01: Spark
            # -3.405009 vs DuckDB -3.40501). The per-doc scores are exact
            # at 6 decimals, so sum them as micro-unit INTEGERS and do
            # the (identical-expression) double division once — every
            # intermediate is then bit-equal across engines, no final
            # round needed.
            (
                (
                    F.sum(F.round(F.col("quality") * 1e6, 0).cast("bigint")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                )
                / F.lit(1e6)
            ).alias("avg_quality"),
            (
                (
                    F.sum(F.round(F.col("lp") * 1e6, 0).cast("bigint")).cast("double")
                    / F.count(F.lit(1))
                )
                / F.lit(1e6)
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# q207: n-gram novelty scoring — dedup-aware sampling's ranking signal:
# how much of each document's 3-gram mass appears for the FIRST time in
# the corpus (ordered by doc_id, the ingest order)? A document whose
# shingles were all seen in earlier documents is recombinated bulk; a
# high-novelty one carries new content. novelty = fraction of the doc's
# distinct shingles whose global first-occurrence doc IS this doc.
#
# The "cumulative distinct" is NOT a running scan: the first occurrence
# of every shingle is a single min(doc_id) aggregation over the
# exploded shingle relation, joined back to per-doc shingles — two
# map-side-combined aggs and one shuffle join on the shingle key, the
# q45/q81 inverted-index economics. At 100 TB the min-doc relation is
# vocabulary-sized (Zipf-concentrated), and the same df-cap rule
# applies if it must shrink.
# ---------------------------------------------------------------------------

_Q207_ORACLE = f"""
WITH {shingle_sql("documents", 3)}first_ AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM sh JOIN first_ f USING (shingle)
GROUP BY sh.doc_id
"""


@register("q207_ngram_novelty", oracle=_Q207_ORACLE, tags=("text", "dedup", "llm"))
def q207_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 3
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sh = (
        d.select("doc_id", toks.alias("__t"))
        .filter(F.size("__t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(__t) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(__t, i, {n})))"
                    )
                )
            ).alias("shingle"),
        )
        # feeds the first-occurrence agg AND the per-doc rollup
        .cache()
    )
    first_ = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(first_, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# q208: k-fold split audit — the check run after any hash-based CV
# split: folds must be (a) deterministic and (b) stratum-balanced.
# Fold id = the q83/q86 portable md5 bucket mod K (stable per doc_id
# regardless of partitioning or corpus growth — a re-run or a late
# partition cannot move a document between folds). The audit compares
# each fold's per-language share against the corpus share and reports
# the fold's worst absolute deviation — the number a split-quality gate
# thresholds before training starts.
#
# Scale: one scan → (fold, lang) counts (map-side combined, K×|langs|
# rows out); margins derive from the cells; the deviation fold is over
# the constant-size cell relation. Exact-integer counts; shares are
# single divisions round-6'd once.
# ---------------------------------------------------------------------------

_Q208_FOLDS = 5

_Q208_ORACLE = f"""
WITH f AS (
  SELECT doc_id, lang,
         CAST({md5_60_sql("CAST(doc_id AS VARCHAR) || ':13'")} % {_Q208_FOLDS} AS INT)
           AS fold
  FROM documents
),
cells AS (SELECT fold, lang, COUNT(*) AS c FROM f GROUP BY 1, 2),
per_fold AS (SELECT fold, SUM(c) AS nf FROM cells GROUP BY 1),
per_lang AS (SELECT lang, SUM(c) AS nl FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
dev AS (
  SELECT cells.fold,
         abs(cells.c / CAST(per_fold.nf AS DOUBLE)
             - per_lang.nl / CAST(tot.n AS DOUBLE)) AS d
  FROM cells JOIN per_fold USING (fold) JOIN per_lang USING (lang)
  CROSS JOIN tot
)
SELECT per_fold.fold,
       CAST(per_fold.nf AS BIGINT) AS n_docs,
       round(MAX(dev.d), 6) AS max_share_dev
FROM per_fold JOIN dev USING (fold)
GROUP BY 1, 2
"""


@register("q208_kfold_split_audit", oracle=_Q208_ORACLE, tags=("sampling", "eval", "llm"))
def q208_kfold_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "lang",
        (
            md5_60(F.concat(F.col("doc_id").cast("string"), F.lit(":13")))
            % _Q208_FOLDS
        )
        .cast("int")
        .alias("fold"),
    )
    cells = f.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("c"))
    per_fold = cells.groupBy("fold").agg(F.sum("c").alias("nf"))
    per_lang = cells.groupBy("lang").agg(F.sum("c").alias("nl"))
    tot = cells.agg(F.sum("c").alias("n"))
    dev = (
        cells.join(F.broadcast(per_fold), "fold")
        .join(F.broadcast(per_lang), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "nf",
            F.abs(
                F.col("c") / F.col("nf").cast("double")
                - F.col("nl") / F.col("n").cast("double")
            ).alias("d"),
        )
    )
    return dev.groupBy("fold", F.col("nf").cast("bigint").alias("n_docs")).agg(
        F.round(F.max("d"), 6).alias("max_share_dev")
    ).select("fold", "n_docs", "max_share_dev")


# ---------------------------------------------------------------------------
# q217: Heaps' law fit — vocabulary growth V(n) ≈ k·n^β, the corpus
# statistic that predicts how much NEW vocabulary the next TB of data
# buys (β≈0.5 for natural text; β→1 means unbounded novelty — a
# synthetic-data red flag next to q102's Zipf check). Per-doc new-type
# counts come from q207's first-occurrence index (one min-agg, no
# running scan); the cumulative (n, V) curve is corpus-sized in docs,
# so it runs through distributed_cumsums (operators/windows.py) — ONE
# range shuffle carries BOTH running totals; no unpartitioned window
# (VERDICT r4 item 2). The log-log OLS slope is computed from
# micro-integer quantized ln values (round(ln·1e6) as BIGINT), so every
# moment is an EXACT integer sum (DECIMAL(38,0) — products reach 2e18)
# and β is bit-identical cross-engine — the q199 micro-int rule applied
# to regression moments. Residual risk (ADVICE r4): round(ln(x)·1e6)
# puts a libm call inside a discretization both engines must agree on;
# a 1-ulp ln() difference at an exact .5 boundary would shift one
# micro-int by 1. ln(integer)·1e6 landing within 1 ulp of a half
# boundary has ~1e-10 probability per point; sim-verified bit-identical
# at sf0.001/0.01/0.1 on this corpus and the driver compare would
# surface any future flip — accepted and documented rather than traded
# for a coarser integer-only fit.
# ---------------------------------------------------------------------------

_Q217_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS w FROM documents
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_inst FROM tok GROUP BY 1
),
first_ AS (
  SELECT w, MIN(doc_id) AS first_doc FROM tok GROUP BY 1
),
new_types AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_new FROM first_ GROUP BY 1
),
curve AS (
  SELECT p.doc_id,
         SUM(p.n_inst) OVER (ORDER BY p.doc_id) AS n_cum,
         SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.doc_id) AS v_cum
  FROM per_doc p LEFT JOIN new_types nt USING (doc_id)
),
q AS (
  SELECT CAST(round(ln(n_cum) * 1e6, 0) AS BIGINT) AS x,
         CAST(round(ln(v_cum) * 1e6, 0) AS BIGINT) AS y
  FROM curve
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM q
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS heaps_beta,
       round(((CAST(sy AS DOUBLE)
               - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE)) / n) / 1e6, 6) AS ln_k
FROM m
"""


@register("q217_heaps_law_fit", oracle=_Q217_ORACLE, tags=("text", "stats", "llm"))
def q217_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import distributed_cumsums

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_inst"))
    first_ = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_types = first_.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    per_doc_new = (
        per_doc.join(new_types, "doc_id", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
    )
    curve = distributed_cumsums(
        per_doc_new, "doc_id", [("n_inst", "n_cum"), ("n_new", "v_cum")]
    ).select("n_cum", "v_cum")
    q = curve.select(
        F.round(F.log("n_cum") * 1e6, 0).cast("bigint").alias("x"),
        F.round(F.log("v_cum") * 1e6, 0).cast("bigint").alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_points"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(((sy - beta * sx) / n) / F.lit(1e6), 6).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# q218: intra-document repetition (the Gopher/MassiveText rule) —
# q121 measures spans repeated ACROSS documents; this is the other
# canon repetition filter: n-gram duplication WITHIN one document
# (looping generation, scraped pagination, chart spam). For n ∈ {2,3}:
# dup fraction = 1 − distinct/total over the doc's own n-gram
# instances, plus the Gopher-style flag at the 3-gram threshold.
# Instances here are NOT de-duplicated before counting (unlike the
# dedup family's distinct shingles) — repetition is exactly what
# dedup's array_distinct throws away.
#
# Scale: pure per-document array expressions (size/array_distinct over
# transform) — a projection, no shuffle, no explode; the cheapest
# curation signal in the battery.
# ---------------------------------------------------------------------------

_Q218_FLAG = 0.18  # Gopher's dup-3gram-fraction cutoff (order of magnitude)

_Q218_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i + 1]) AS g2,
         list_transform(generate_series(1, len(t) - 2),
                        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS g3
  FROM t WHERE len(t) >= 3
)
SELECT doc_id,
       CAST(len(g2) AS INT) AS n_2grams,
       CAST(len(g2) - len(list_distinct(g2)) AS INT) AS n_dup_2grams,
       round((len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE), 6)
         AS dup_frac_2,
       CAST(len(g3) AS INT) AS n_3grams,
       CAST(len(g3) - len(list_distinct(g3)) AS INT) AS n_dup_3grams,
       round((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6)
         AS dup_frac_3,
       (len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE)
         > {_Q218_FLAG} AS repetition_flag
FROM g
"""


@register("q218_intradoc_repetition", oracle=_Q218_ORACLE, tags=("text", "quality", "curation", "llm"))
def q218_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # tokens projected once: a tokenizer inside the lambdas would run
    # once per n-gram (see dedup.word_shingles)
    g = (
        d.select("doc_id", tokens("text").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.expr("transform(sequence(1, size(t) - 1), i -> concat_ws(' ', slice(t, i, 2)))")
            .alias("g2"),
            F.expr("transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")
            .alias("g3"),
        )
    )
    d2 = F.size("g2") - F.size(F.array_distinct("g2"))
    d3 = F.size("g3") - F.size(F.array_distinct("g3"))
    frac3 = d3 / F.size("g3").cast("double")
    return g.select(
        "doc_id",
        F.size("g2").cast("int").alias("n_2grams"),
        d2.cast("int").alias("n_dup_2grams"),
        F.round(d2 / F.size("g2").cast("double"), 6).alias("dup_frac_2"),
        F.size("g3").cast("int").alias("n_3grams"),
        d3.cast("int").alias("n_dup_3grams"),
        F.round(frac3, 6).alias("dup_frac_3"),
        (frac3 > _Q218_FLAG).alias("repetition_flag"),
    )
