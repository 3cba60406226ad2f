"""Corpus-curation operators: PII redaction, boilerplate-line removal,
and BPE merge induction.

These are the remaining canon steps of a training-data pipeline that
the repo's text family did not yet cover (reference has no equivalent;
its text processing stops at column cleanup, ``transformation.py:94-98``):

* q139 — regex PII scrubbing (emails / phones / IPv4), the standard
  pre-release redaction pass.
* q140 — corpus-frequency line dedup (the RefinedWeb / C4 "boilerplate
  line" rule): a line occurring in many distinct documents is chrome,
  not content, and is dropped from every document.
* q141 — byte-pair-encoding merge induction: the first merges of a
  tokenizer-training run, computed as distributed pair counting plus a
  relational greedy merge application.
* q153 — BPE application: the trained merges segment the corpus by
  word type and roll up per-document subword/compression stats.
* q159 — the one-row corpus data card (volume, composition, dup rate).

All are pure JVM expressions / relational plans (no Python UDFs), and
every step is replayed value-exactly by a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Any, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread
from ..operators.sampling import md5_60, md5_60_sql, portable_bucket
from ..registry import register
from ..scratch import fresh_dir, sf_key
from .minhash import (
    CANDIDATES_SQL,
    band_candidates,
    band_keys,
    minhash_sql,
    portable_signatures,
    verified_pairs,
)
from .text import TOKENS_SQL, tokens

# ---------------------------------------------------------------------------
# q139: PII redaction.
#
# The synthetic corpus is word salad with no PII, so the query first
# derives a deterministic augmented text (doc_id/source-keyed contact
# block appended to every document) and then scrubs it — both engines
# replay the same construction, so the regexes face real matches at
# every scale factor instead of an always-empty result (the ADVICE-r1
# "an empty result exercises nothing" rule).
#
# Patterns are RE2-and-Java-compatible on purpose: character classes
# and bounded repeats only — no lookaround (RE2 has none), no \b, no
# backreferences. Replacement order matters and is pinned:
# email -> phone -> IPv4 (the constructions cannot overlap, but the
# chain order is still part of the contract).
#
# Scale: one projection — regexp_count + a 3-step regexp_replace chain
# runs inside whole-stage codegen, zero shuffles, zero Python.
# ---------------------------------------------------------------------------


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source"
    " || '.com or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 7) % 256 AS VARCHAR)"
)

_Q139_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_AUG_SQL} AS a FROM documents),
red AS (
  SELECT doc_id, a,
         regexp_replace(
           regexp_replace(
             regexp_replace(a, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g'),
           '{_IP_RE}', '<IP>', 'g') AS r
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(a, '{_PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(a, '{_IP_RE}')) AS INT) AS n_ips,
       CAST(length(r) AS INT) AS redacted_len,
       md5(r) AS redacted_sig
FROM red
"""


def _augmented_text() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail-"),
        F.col("source"),
        F.lit(".com or call +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit(".0."),
        ((did * 7) % 256).cast("string"),
    )


@register("q139_pii_redaction", oracle=_Q139_ORACLE, tags=("text", "curation", "llm"))
def q139_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = d.select("doc_id", _augmented_text().alias("a"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("a"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )

    def _n(pat: str) -> F.Column:
        return F.size(F.regexp_extract_all(F.col("a"), F.lit(pat), 0)).cast("int")

    return aug.select(
        "doc_id",
        _n(_EMAIL_RE).alias("n_emails"),
        _n(_PHONE_RE).alias("n_phones"),
        _n(_IP_RE).alias("n_ips"),
        F.length(red).cast("int").alias("redacted_len"),
        F.md5(red).alias("redacted_sig"),
    )


# ---------------------------------------------------------------------------
# q140: boilerplate-line removal by corpus line frequency.
#
# Documents are segmented into fixed 3-token "lines" (the synthetic
# corpus has no newlines; 3 tokens over its Zipfian vocabulary makes
# repeats real at sf0.01 — 10-token lines would never collide and the
# filter would face an empty boilerplate set). A line whose md5 key
# occurs in >= _BOILER_DF distinct documents is boilerplate and is
# dropped from EVERY document; each document reports its kept fraction
# and the md5 signature of its kept text (original line order).
#
# Scale shape: explode(lines) -> groupBy(line_key) [map-side combined]
# -> broadcast-sized? NO — the line-frequency table is corpus-sized, so
# it stays a shuffle join on line_key; the per-doc reassembly is one
# groupBy(doc_id) with a sorted collect_list of (pos, line) structs —
# state per doc = its own lines, same bound as q87's chunker.
# ---------------------------------------------------------------------------

_LINE_LEN = 3
_BOILER_DF = 3

_Q140_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
ls AS (
  SELECT doc_id,
         list_transform(range((len(toks) + {_LINE_LEN - 1}) // {_LINE_LEN}),
                        i -> array_to_string(
                               list_slice(toks, i * {_LINE_LEN} + 1,
                                          i * {_LINE_LEN} + {_LINE_LEN}), ' '))
           AS lines
  FROM t
),
ln AS (
  SELECT doc_id, lines, unnest(range(len(lines))) AS pos FROM ls
),
line AS (
  SELECT doc_id, pos, lines[pos + 1] AS line, md5(lines[pos + 1]) AS k FROM ln
),
freq AS (
  SELECT k, COUNT(DISTINCT doc_id) AS df FROM line GROUP BY k
),
flagged AS (
  SELECT line.doc_id, line.pos, line.line,
         (freq.df >= {_BOILER_DF}) AS boiler
  FROM line JOIN freq USING (k)
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_lines,
       CAST(COUNT(*) FILTER (WHERE boiler) AS INT) AS n_boiler,
       round((COUNT(*) FILTER (WHERE NOT boiler)) / COUNT(*), 6) AS kept_frac,
       md5(COALESCE(string_agg(line, ' ' ORDER BY pos)
                      FILTER (WHERE NOT boiler), '')) AS kept_sig
FROM flagged
GROUP BY doc_id
"""


@register("q140_boilerplate_lines", oracle=_Q140_ORACLE, tags=("text", "dedup", "curation", "llm"))
def q140_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_lines = F.floor((F.size("toks") + _LINE_LEN - 1) / _LINE_LEN).cast("int")
    lines = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice("toks", i * _LINE_LEN + 1, _LINE_LEN), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # posexplode the expression, not a projected ``lines`` column: from a
    # Generate over a column Catalyst infers a ``size(lines) > 0`` Filter
    # and pushes it below both Projects, where it would re-tokenize each
    # document once per line inside the lambda
    line = (
        d.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.posexplode(lines).alias("pos", "line"))
        .withColumn("k", F.md5("line"))
    )
    freq = line.groupBy("k").agg(F.countDistinct("doc_id").alias("df"))
    flagged = line.join(freq, "k").select(
        "doc_id", "pos", "line", (F.col("df") >= _BOILER_DF).alias("boiler")
    )
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "line", "boiler"))),
        lambda s: ~s["boiler"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(F.col("boiler").cast("int")).cast("int").alias("n_boiler"),
        F.round(
            F.sum((~F.col("boiler")).cast("int")) / F.count(F.lit(1)), 6
        ).alias("kept_frac"),
        F.md5(
            F.array_join(F.transform(kept, lambda s: s["line"]), " ")
        ).alias("kept_sig"),
    )


# ---------------------------------------------------------------------------
# q141: BPE merge induction (tokenizer training, first 3 merges).
#
# Classic byte-pair encoding over the corpus vocabulary: words are
# char-split, adjacent-symbol pairs are counted weighted by word
# frequency, the most frequent pair becomes a merge (ties broken
# lexicographically), the merge is applied greedily left-to-right, and
# the cycle repeats. Output is the merge table itself — (iteration,
# left, right, count) — which is exactly what a tokenizer trainer
# persists.
#
# Distribution: pair counting is a map-side-combined groupBy over
# (sym, nxt); merge application is window arithmetic partitioned by
# word (state per word = its symbols). Greedy left-to-right conflict
# resolution ("aaa" merges positions 0-1, not 1-2) is relational:
# maximal runs of consecutive matching positions (gaps-and-islands via
# pos - row_number) accept every other position from the run start.
# The per-iteration argmax is a 1-row driver collect — the merge table
# lives on the driver in any real BPE trainer, same O(1)-row class as
# the graph.py convergence probe. Each iteration's symbol relation is
# localCheckpoint'ed so iteration N+1's action does not replay
# iterations 1..N.
# ---------------------------------------------------------------------------

_BPE_ITERS = 3


def _bpe_iter_sql(n: int) -> str:
    """One BPE iteration as a CTE block: s{n-1} -> t{n} (top pair) -> s{n}.

    ``p{n}`` and ``s{n}`` are MATERIALIZED: DuckDB's default CTE
    inlining re-expands multiply-referenced CTEs, which makes an
    unrolled merge chain super-linear in iteration depth (measured:
    the 6-iteration q197 oracle fell from 334s to seconds at sf0.001
    once pinned). Materializing matches what the Spark side's
    localCheckpoint does anyway.
    """
    p, t, s_in, s_out = f"p{n}", f"t{n}", f"s{n - 1}", f"s{n}"
    return f"""
{p} AS MATERIALIZED (
  SELECT word, cnt, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM {s_in}
),
{t} AS (
  SELECT sym AS l, nxt AS r, SUM(cnt) AS pc
  FROM {p} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY pc DESC, l, r LIMIT 1
),
m{n} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when {t} is EMPTY (merges
  -- exhausted on a degenerate corpus) every row must pass through with
  -- m=FALSE so s{n} == s{n-1}; a cross join would annihilate the
  -- relation and diverge from the trainer's graceful stop (ADVICE r3)
  SELECT p.*, COALESCE(p.sym = t.l AND p.nxt = t.r, FALSE) AS m
  FROM {p} p LEFT JOIN {t} t ON TRUE
),
g{n} AS (
  SELECT word, pos,
         pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
  FROM m{n} WHERE m
),
a{n} AS (
  SELECT word, pos,
         ((row_number() OVER (PARTITION BY word, grp ORDER BY pos) - 1) % 2 = 0)
           AS acc
  FROM g{n}
),
j{n} AS (
  SELECT m.word, m.cnt, m.pos, m.sym, m.nxt, COALESCE(a.acc, FALSE) AS acc
  FROM m{n} m LEFT JOIN a{n} a ON m.word = a.word AND m.pos = a.pos
),
k{n} AS (
  SELECT *, COALESCE(lag(acc) OVER (PARTITION BY word ORDER BY pos), FALSE)
              AS consumed
  FROM j{n}
),
{s_out} AS MATERIALIZED (
  SELECT word, cnt,
         row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         CASE WHEN acc THEN sym || nxt ELSE sym END AS sym
  FROM k{n} WHERE NOT consumed
)"""


# Shared CTE prefix: vocabulary, char split, and the unrolled merge
# iterations — ends with the post-merge symbol relation s{iters}.
# q141 selects the merge table from it; q153 applies it to the corpus;
# q197 unrolls deeper for the fertility study.
def _bpe_cte_prefix(iters: int) -> str:
    return (
        f"""
WITH wc AS (
  SELECT t AS word, COUNT(*) AS cnt
  FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents)
  GROUP BY t
),
c0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS chars FROM wc),
s0 AS (
  SELECT word, cnt, pos, chars[pos + 1] AS sym
  FROM (SELECT word, cnt, chars, unnest(range(len(chars))) AS pos FROM c0)
),"""
        + ",".join(_bpe_iter_sql(n) for n in range(1, iters + 1))
    )


_BPE_CTE_PREFIX = _bpe_cte_prefix(_BPE_ITERS)

_Q141_ORACLE = (
    _BPE_CTE_PREFIX
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {n} AS it, l AS left_sym, r AS right_sym,"
        f" CAST(pc AS BIGINT) AS pair_count FROM t{n}"
        for n in range(1, _BPE_ITERS + 1)
    )
)


def _bpe_train(
    spark: SparkSession, sf_dir: str, iters: int = _BPE_ITERS
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Run the merge loop; return (post-merge symbol relation, merge table)."""
    # spread (opt r13): parallelism floor on the raw scan before the
    # corpus tokenize explode (single-row-group fixture = one task);
    # no-op at corpus scale. The per-iteration window passes shuffle by
    # word regardless, so only the s0 build needed the floor.
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        F.explode(tokens("text")).alias("word")
    )
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    s = wc.select(
        "word",
        "cnt",
        F.posexplode(F.regexp_extract_all(F.col("word"), F.lit("."), 0)).alias(
            "pos", "sym"
        ),
    ).localCheckpoint()

    w_word = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, iters + 1):
        # keyed_spread on the iteration windows was A/B'd in r14 and
        # REVERTED: the explicit shuffle-width repartition doubled the
        # bench read (2.0 -> 4.0s min-of-3) — each iteration is ~7
        # short stages x 3 iterations, and at fixture bytes the
        # 32-task scheduling overhead dwarfs the serial window CPU it
        # removes. At corpus scale the window shuffle is byte-large and
        # AQE already sizes it; the production knob for CPU-dense
        # iterations is coalescePartitions.minPartitionSize with the
        # executor memory to back it (r13's OOM note).
        pairs = s.withColumn("nxt", F.lead("sym").over(w_word))
        pc = (
            pairs.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").alias("pc"))
        )
        top_rows = pc.orderBy(F.desc("pc"), "sym", "nxt").limit(1).collect()
        if not top_rows:
            # Merges exhausted (every word is one symbol) — classic BPE
            # stops. The SQL oracle now agrees: its m{n} stage is a LEFT
            # JOIN ON TRUE against the empty t{n}, so s{n} passes through
            # unchanged (== this break keeping the last relation) and the
            # exhausted iterations contribute no merge rows on either
            # engine (ADVICE r3, oracle-side fix).
            break
        top = top_rows[0]
        merges.append((it, top["sym"], top["nxt"], top["pc"]))

        m = pairs.withColumn(
            "m",
            F.coalesce(
                (F.col("sym") == F.lit(top["sym"]))
                & (F.col("nxt") == F.lit(top["nxt"])),
                F.lit(False),
            ),
        )
        matched = m.filter("m").select(
            "word", "pos", (F.col("pos") - F.row_number().over(w_word)).alias("grp")
        )
        acc = matched.select(
            "word",
            "pos",
            (
                (
                    F.row_number().over(
                        Window.partitionBy("word", "grp").orderBy("pos")
                    )
                    - 1
                )
                % 2
                == 0
            ).alias("acc"),
        )
        j = m.join(acc, ["word", "pos"], "left").withColumn(
            "acc", F.coalesce("acc", F.lit(False))
        )
        k = j.withColumn(
            "consumed", F.coalesce(F.lag("acc").over(w_word), F.lit(False))
        )
        s = (
            k.filter(~F.col("consumed"))
            .select(
                "word",
                "cnt",
                (F.row_number().over(w_word) - 1).alias("pos"),
                F.when(F.col("acc"), F.concat("sym", "nxt"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint()
        )

    return s, merges


@register("q141_bpe_merges", oracle=_Q141_ORACLE, tags=("text", "tokenizer", "iterative", "llm"))
def q141_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "it int, left_sym string, right_sym string, pair_count bigint"
    )


# ---------------------------------------------------------------------------
# q153: BPE application — the other half of the tokenizer loop. The
# trained merges (q141) collapse the symbol sequences of every
# vocabulary word; applying them to the corpus is a per-word subword
# count joined back onto the token stream (segmenting by word-TYPE,
# never re-running merges per token instance — the vocabulary is the
# unit of work, exactly how production tokenizers amortize encoding).
# Per document: token/char/subword totals and the chars-per-subword
# compression the 3 merges bought.
# ---------------------------------------------------------------------------

_Q153_ORACLE = (
    _BPE_CTE_PREFIX
    + f""",
wordlen AS (SELECT word, COUNT(*) AS n_sub FROM s{_BPE_ITERS} GROUP BY word),
tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS word FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_tokens,
       CAST(SUM(length(word)) AS INT) AS n_chars,
       CAST(SUM(n_sub) AS INT) AS n_subwords,
       round(SUM(length(word)) / SUM(n_sub), 6) AS compression
FROM tok JOIN wordlen USING (word)
GROUP BY doc_id
"""
)


@register("q153_bpe_apply", oracle=_Q153_ORACLE, tags=("text", "tokenizer", "llm"))
def q153_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, _ = _bpe_train(spark, sf_dir)
    wordlen = s.groupBy("word").agg(F.count(F.lit(1)).alias("n_sub"))
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(tokens("text")).alias(
            "word"
        ),
    )
    return (
        tok.join(wordlen, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.length("word")).cast("int").alias("n_chars"),
            F.sum("n_sub").cast("int").alias("n_subwords"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_sub"), 6
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# q197: tokenizer fertility by language — the metric tokenizer teams
# actually tune for: subwords emitted per word (fertility) and chars
# absorbed per subword (compression), split by language, under a DEEPER
# merge table than q141/q153's 3 (6 merges here; TODO r4 "deeper BPE"
# item). Languages whose character sequences the learned merges cover
# poorly show high fertility — the signal that drives vocab-budget
# reallocation in multilingual tokenizer training.
#
# Distribution: identical economics to q153 — the merge loop's unit of
# work is the vocabulary (word TYPES), never the token stream; the
# per-language rollup joins the subword-count-per-word relation onto
# the exploded token stream by word (shuffle on the Zipf-concentrated
# vocab key; at corpus scale the wordlen relation is tiny and
# broadcastable). Deeper unrolls are linear: each merge is the same
# CTE block / window pass. Fertility and compression are single-division
# doubles rounded once.
# ---------------------------------------------------------------------------

_Q197_ITERS = 6

_Q197_ORACLE = (
    _bpe_cte_prefix(_Q197_ITERS)
    + f""",
wordlen AS (SELECT word, COUNT(*) AS n_sub FROM s{_Q197_ITERS} GROUP BY word),
tok AS (
  SELECT lang, unnest({TOKENS_SQL}) AS word FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       round(SUM(n_sub) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
       round(SUM(length(word)) / CAST(SUM(n_sub) AS DOUBLE), 6) AS compression
FROM tok JOIN wordlen USING (word)
GROUP BY lang
"""
)


@register(
    "q197_tokenizer_fertility",
    oracle=_Q197_ORACLE,
    tags=("text", "tokenizer", "llm", "iterative"),
)
def q197_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, _ = _bpe_train(spark, sf_dir, iters=_Q197_ITERS)
    wordlen = s.groupBy("word").agg(F.count(F.lit(1)).alias("n_sub"))
    # spread (opt r13): second corpus tokenize of this query — same
    # single-task-scan floor as _bpe_train's
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "lang",
        F.explode(tokens("text")).alias(
            "word"
        ),
    )
    return (
        tok.join(wordlen, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.round(
                F.sum("n_sub") / F.count(F.lit(1)).cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_sub").cast("double"), 6
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# q159: corpus data card — the one-row release summary every published
# training set ships with. Unions the pipeline's signal families into a
# single relation: volume (docs/tokens), composition (language count +
# dominant language via deterministic argmax), and duplication (exact
# content-hash dup rate). Each component is a tiny aggregate; the final
# row assembles via crossJoins of 1-row relations — no shuffle wider
# than the component aggs themselves.
# ---------------------------------------------------------------------------

_Q159_ORACLE = f"""
WITH vol AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT)
           AS n_tokens,
         COUNT(DISTINCT md5(text)) AS n_distinct_docs,
         COUNT(DISTINCT lang) AS n_langs
  FROM documents
),
top AS (
  SELECT lang AS top_lang FROM (
    SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1
    ORDER BY c DESC, lang LIMIT 1
  )
)
SELECT n_docs, n_tokens, n_langs, top_lang,
       round(1.0 - n_distinct_docs / n_docs, 6) AS dup_rate,
       round(n_tokens / n_docs, 6) AS mean_doc_tokens
FROM vol CROSS JOIN top
"""


@register("q159_corpus_datacard", oracle=_Q159_ORACLE, tags=("text", "report", "llm"))
def q159_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    vol = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
        F.countDistinct(F.md5("text")).alias("n_distinct_docs"),
        F.countDistinct("lang").alias("n_langs"),
    )
    top = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    return vol.crossJoin(top).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "top_lang",
        F.round(1.0 - F.col("n_distinct_docs") / F.col("n_docs"), 6).alias(
            "dup_rate"
        ),
        F.round(F.col("n_tokens") / F.col("n_docs"), 6).alias("mean_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# q174: collocation mining — bigram association strength as the PMI
# ratio n(ab)*N / (n(a)*n(b)) (exp of pointwise mutual information),
# the phrase-induction signal tokenizers and phrase tables are built
# from. Kept as the exact RATIO of integer counts (one rounded double
# at the end) rather than its log — no transcendental in the
# comparison path. Bigrams under a support floor are noise and are
# cut; top-20 by (ratio, bigram) total order via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5

_Q174_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
uni AS (
  SELECT u AS tok, COUNT(*) AS n
  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1
),
big AS (
  SELECT b AS bigram, COUNT(*) AS nab
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS b
    FROM toks
  ) GROUP BY 1
),
tot AS (SELECT SUM(n) AS nn FROM uni)
SELECT bigram, CAST(nab AS BIGINT) AS n_pair,
       round(CAST(nab AS DOUBLE) * nn / (a.n * b.n), 6) AS pmi_ratio
FROM big
JOIN uni a ON a.tok = split_part(bigram, ' ', 1)
JOIN uni b ON b.tok = split_part(bigram, ' ', 2)
CROSS JOIN tot
WHERE nab >= {_PMI_MIN_COUNT}
ORDER BY pmi_ratio DESC, bigram LIMIT 20
"""


@register("q174_collocations_pmi", oracle=_Q174_ORACLE, tags=("text", "tokenizer", "llm"))
def q174_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select(toks.alias("t"))
    uni = t.select(F.explode("t").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    bigrams = t.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat(
                        F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    big = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("nab"))
    tot = uni.agg(F.sum("n").alias("nn"))
    a = uni.select(F.col("tok").alias("ta"), F.col("n").alias("na"))
    b = uni.select(F.col("tok").alias("tb"), F.col("n").alias("nb"))
    scored = (
        big.filter(F.col("nab") >= _PMI_MIN_COUNT)
        .join(a, F.split("bigram", " ")[0] == F.col("ta"))
        .join(b, F.split("bigram", " ")[1] == F.col("tb"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            F.col("nab").alias("n_pair"),
            F.round(
                F.col("nab").cast("double") * F.col("nn") / (F.col("na") * F.col("nb")),
                6,
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.desc("pmi_ratio"), "bigram").limit(20)


# ---------------------------------------------------------------------------
# q176: quality-score calibration table — the sanity report behind any
# score-based filter policy: bucket documents by fixed-width quality
# decile (floor(q*10) — deliberately NOT ntile, whose global ranking
# window is a scale smell AND whose buckets move with the data) and
# profile each bucket: volume, mean length, exact-duplicate share.
# A good quality score should show dup share falling as the bucket
# rises; the table is how that claim gets checked before the filter
# threshold ships.
# ---------------------------------------------------------------------------

_Q176_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text,
         CAST(len({TOKENS_SQL}) AS INT) AS n_tokens,
         round(0.5 * least(len({TOKENS_SQL}) / 100.0, 1.0)
               + 0.3 * (len(list_distinct({TOKENS_SQL}))
                        / len({TOKENS_SQL}))
               + 0.2 * (1.0 - len(list_filter({TOKENS_SQL},
                          x -> x IN ('the', 'a', 'and', 'of', 'is')))
                        / len({TOKENS_SQL})), 6) AS q
  FROM documents
),
b AS (
  SELECT CAST(floor(q * 10) AS INT) AS bucket, n_tokens, md5(text) AS h FROM t
)
SELECT bucket,
       COUNT(*) AS n_docs,
       round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups
FROM b GROUP BY 1
"""


@register("q176_quality_calibration", oracle=_Q176_ORACLE, tags=("text", "quality", "report", "llm"))
def q176_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import LANG_STOPWORDS, quality_score, stopword_count, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select(
        F.size(toks).alias("n_tokens"),
        quality_score(
            F.size(toks),
            F.size(F.array_distinct(toks)),
            stopword_count(toks, LANG_STOPWORDS["en"]),
        ).alias("q"),
        F.md5("text").alias("h"),
    )
    return t.groupBy(
        F.floor(F.col("q") * 10).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_tokens"
        ),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
    )


# ---------------------------------------------------------------------------
# q204: temperature-scaled mixture sampling — the multilingual-corpus
# rebalancing rule (share_i ∝ n_i^α, α=0.3) that upsamples low-resource
# languages for training without letting the head language drown them
# (the exponent scheme used by multilingual LM data recipes). Outputs,
# per language: token mass, the natural share, the α-share the sampler
# should draw at, and the boost factor (α-share / natural share) the
# data loader applies as a per-language sampling rate.
#
# q131 (domain caps) clamps ABSOLUTE counts; q122 (mixture rebalance)
# hits EXPLICIT targets; temperature sampling is the third policy —
# smooth, parameter-light reweighting. Scale: one scan to a per-lang
# token count (map-side combined); everything downstream operates on
# the |languages|-row relation. pow() is the only libm call; shares
# are round-6'd once (the q191 ln() precedent).
# ---------------------------------------------------------------------------

_Q204_ALPHA = 0.3

_Q204_ORACLE = f"""
WITH t AS (
  SELECT lang,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1
),
tot AS (
  SELECT SUM(n_tokens) AS all_tokens,
         SUM(pow(n_tokens, {_Q204_ALPHA})) AS all_alpha
  FROM t
)
SELECT t.lang,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       t.n_tokens,
       round(t.n_tokens / CAST(tot.all_tokens AS DOUBLE), 6) AS share_natural,
       round(pow(t.n_tokens, {_Q204_ALPHA}) / tot.all_alpha, 6) AS share_alpha,
       round((pow(t.n_tokens, {_Q204_ALPHA}) / tot.all_alpha)
             / (t.n_tokens / CAST(tot.all_tokens AS DOUBLE)), 6) AS boost
FROM t CROSS JOIN tot
"""


@register(
    "q204_temperature_mixture",
    oracle=_Q204_ORACLE,
    tags=("curation", "sampling", "llm"),
)
def q204_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("lang").agg(
        F.sum(F.size(tokens("text")))
        .cast("bigint")
        .alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    tot = t.agg(
        F.sum("n_tokens").alias("all_tokens"),
        F.sum(F.pow("n_tokens", F.lit(_Q204_ALPHA))).alias("all_alpha"),
    )
    nat = F.col("n_tokens") / F.col("all_tokens").cast("double")
    alp = F.pow("n_tokens", F.lit(_Q204_ALPHA)) / F.col("all_alpha")
    return t.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(nat, 6).alias("share_natural"),
        F.round(alp, 6).alias("share_alpha"),
        F.round(alp / nat, 6).alias("boost"),
    )


# ---------------------------------------------------------------------------
# q250: k-anonymity audit — the governance check a training-data release
# runs before shipping user-derived records (q228's erasure audit covers
# deletion; this covers re-identification). Quasi-identifier = (nation,
# market segment, account-balance band); any QI group smaller than k=5
# is re-identifiable and must be suppressed or generalized. One
# grouping pass to QI-group sizes (map-side combined), one bounded
# rollup to per-nation risk; suppression_rate = rows-at-risk / rows —
# exactly the number a release gate thresholds on. All counts are exact
# integers; the single double division is one op, rounded to 6.
# ---------------------------------------------------------------------------

_Q250_K = 5

_Q250_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey,
         COUNT(*) AS grp_n
  FROM (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000.0) AS INT) AS bal_band
    FROM customer
  )
  GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT c_nationkey,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN grp_n < {_Q250_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(SUM(CASE WHEN grp_n < {_Q250_K} THEN grp_n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       round(SUM(CASE WHEN grp_n < {_Q250_K} THEN grp_n ELSE 0 END)
             / CAST(SUM(grp_n) AS DOUBLE), 6) AS suppression_rate
FROM qi
GROUP BY c_nationkey
"""


@register("q250_k_anonymity_audit", oracle=_Q250_ORACLE, tags=("governance", "privacy", "curation"))
def q250_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(2000.0)).cast("int").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("grp_n"))
    )
    viol = F.when(F.col("grp_n") < _Q250_K, F.col("grp_n")).otherwise(F.lit(0))
    return qi.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < _Q250_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(viol).cast("bigint").alias("n_rows_at_risk"),
        F.round(
            F.sum(viol) / F.sum("grp_n").cast("double"), 6
        ).alias("suppression_rate"),
    )


# ---------------------------------------------------------------------------
# q261: differential-privacy-SHAPED noisy counts (Laplace mechanism) —
# the release mechanism a private data card runs over grouped counts:
# count + Laplace(sensitivity/epsilon) noise, sensitivity 1 for a
# per-entity count, epsilon 1. HONESTY NOTE: the unit uniform here is
# derived from a hash of the group key (portable md5 arithmetic), so
# the "noise" is deterministic and replayable — which is what lets the
# DuckDB oracle verify the MECHANISM (inverse-CDF transform, scale,
# clipping at 0) value-exactly, and is also exactly what a production
# release must NOT do (hash noise is recomputable, hence zero actual
# privacy). Swap the uniform for real randomness at release time; the
# surrounding algebra — sensitivity bookkeeping, per-group noise,
# non-negativity clip — is the part worth testing. Single ln() per
# group; round-6 absorbs the libm ulp (q132 precedent).
# ---------------------------------------------------------------------------

_Q261_EPS = 1.0

_Q261_ORACLE = f"""
WITH counts AS (
  SELECT n_name, COUNT(*) AS n_customers
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
noised AS (
  SELECT n_name, n_customers,
         ({md5_60_sql("n_name")}
          / 1152921504606846976.0) - 0.5 AS p
  FROM counts
)
SELECT n_name,
       round(greatest(0.0,
         n_customers
         - (1.0 / {_Q261_EPS}) * sign(p) * ln(1.0 - 2.0 * abs(p))
       ), 6) AS noisy_count
FROM noised
"""


@register("q261_dp_noisy_counts", oracle=_Q261_ORACLE, tags=("governance", "privacy", "dp"))
def q261_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    # unit uniform in (-0.5, 0.5) from the 60-bit md5 prefix (2^60 =
    # 1152921504606846976); Laplace via the standard inverse CDF
    p = (
        md5_60("n_name")
        / F.lit(1152921504606846976.0)
    ) - F.lit(0.5)
    noise = (F.lit(1.0 / _Q261_EPS) * F.signum(p) * F.log(F.lit(1.0) - 2.0 * F.abs(p)))
    return counts.select(
        "n_name",
        F.round(
            F.greatest(F.lit(0.0), F.col("n_customers") - noise), 6
        ).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# q306: format-preserving data MASKING — mask() (Spark 3.4), the
# column-level governance primitive next to q139's content redaction:
# q139 rewrites PII patterns INSIDE free text; mask() de-identifies a
# whole typed column while preserving its FORMAT (case class and digit
# positions survive, so downstream format validation, length stats,
# and pattern analytics still work on the masked export). The shape is
# the standard de-identified extract: top parts by retail price with
# name/brand/type masked — default alphabet (X/x/n, other chars kept)
# plus the custom-alphabet form on the brand (digits -> '#') — under a
# total-order rank (p_retailprice DESC, p_partkey). Value-exact
# oracle: mask() is a pure character-class map, replayed in DuckDB as
# a regexp_replace chain ([A-Z]->X, [a-z]->x, [0-9]->n) — equivalence
# probed on Spark 4.1.2 (2026-08-15). Scale: a codegen'd row-local
# expression — no shuffle, no Python, applies at any width.
# ---------------------------------------------------------------------------

_Q306_MASK_DUCK = (
    "regexp_replace(regexp_replace(regexp_replace({col}, '[A-Z]', '{u}', 'g'),"
    " '[a-z]', '{l}', 'g'), '[0-9]', '{d}', 'g')"
)

_Q306_ORACLE = f"""
SELECT p_partkey,
       {_Q306_MASK_DUCK.format(col="p_name", u="X", l="x", d="n")} AS name_masked,
       {_Q306_MASK_DUCK.format(col="p_brand", u="X", l="x", d="n")} AS brand_masked,
       {_Q306_MASK_DUCK.format(col="p_type", u="X", l="x", d="n")} AS type_masked,
       {_Q306_MASK_DUCK.format(col="p_brand", u="X", l="x", d="#")} AS brand_custom,
       p_retailprice
FROM part
ORDER BY p_retailprice DESC, p_partkey
LIMIT 20
"""


@register(
    "q306_data_masking",
    oracle=_Q306_ORACLE,
    tags=("governance", "pii", "masking", "curation"),
)
def q306_data_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.expr("mask(p_name)").alias("name_masked"),
            F.expr("mask(p_brand)").alias("brand_masked"),
            F.expr("mask(p_type)").alias("type_masked"),
            F.expr("mask(p_brand, 'X', 'x', '#')").alias("brand_custom"),
            "p_retailprice",
        )
        .orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q328: SUBJECT ACCESS export (DSAR) — the read dual of q228's
# right-to-erasure: given a subject set, enumerate every record the
# lake holds about each subject ACROSS tables, with provenance — the
# report a data-protection request actually requires before any
# erasure runs (you delete what you can first enumerate). Subjects =
# customers with c_custkey % 100 = 7 (a stable keyed slice at every
# SF); reach = the same propagation edges q228 erases along: the
# customer row itself, the subject's orders, the lineitems of those
# orders (two hops — the indirect reach that naive per-table key
# filters miss), and the subject's events (user_id keyed to custkey).
#
# Scale: each leg is ONE semi-join of a fact against the small subject
# (or subject-order) key set — no cross-table row movement, provenance
# added as a literal column, one final per-(subject, table) rollup.
# The lineitem leg reuses the orders leg's key set, so the deepest
# reach costs one extra semi-join, not a re-walk.
# ---------------------------------------------------------------------------

_Q328_ORACLE = """
WITH subjects AS (
  SELECT c_custkey AS subject_id FROM customer WHERE c_custkey % 100 = 7
),
export AS (
  SELECT s.subject_id, 'customer' AS source_table
  FROM customer c JOIN subjects s ON c.c_custkey = s.subject_id
  UNION ALL
  SELECT s.subject_id, 'orders'
  FROM orders o JOIN subjects s ON o.o_custkey = s.subject_id
  UNION ALL
  SELECT s.subject_id, 'lineitem'
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN subjects s ON o.o_custkey = s.subject_id
  UNION ALL
  SELECT s.subject_id, 'events'
  FROM events e JOIN subjects s ON e.user_id = s.subject_id
)
SELECT subject_id, source_table,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM export
GROUP BY 1, 2
"""


@register(
    "q328_subject_access_export",
    oracle=_Q328_ORACLE,
    tags=("governance", "dsar", "provenance", "llm"),
)
def q328_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    subjects = customer.filter(F.col("c_custkey") % 100 == 7).select(
        F.col("c_custkey").alias("subject_id")
    )
    c_leg = customer.join(
        subjects, customer["c_custkey"] == subjects["subject_id"]
    ).select("subject_id", F.lit("customer").alias("source_table"))
    o_keys = orders.join(
        subjects, orders["o_custkey"] == subjects["subject_id"]
    ).select("subject_id", "o_orderkey")
    o_leg = o_keys.select("subject_id", F.lit("orders").alias("source_table"))
    l_leg = lineitem.join(
        o_keys, lineitem["l_orderkey"] == o_keys["o_orderkey"]
    ).select("subject_id", F.lit("lineitem").alias("source_table"))
    e_leg = events.join(
        subjects, events["user_id"] == subjects["subject_id"]
    ).select("subject_id", F.lit("events").alias("source_table"))
    return (
        c_leg.unionByName(o_leg)
        .unionByName(l_leg)
        .unionByName(e_leg)
        .groupBy("subject_id", "source_table")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


# ---------------------------------------------------------------------------
# q330: the END-TO-END training-data curation pipeline as ONE lineage —
# the LLM-corpus counterpart of the reference's bronze→silver→gold chain
# (Readme.md:34-57 chains ingest→clean→star-schema for commerce data;
# this row chains the curation stages every corpus release runs):
#
#   ingest → exact dedup (q44 rule: keep MIN(doc_id) per md5(text))
#          → near-dup dedup (MinHash LSH, the q315-sweep-chosen config
#            k=32/bands=8, portable md5 hashes; candidates exact-verified
#            at Jaccard >= 0.5 by the integer rule 2*|∩| >= |∪|; the
#            larger doc_id of every verified pair drops — the
#            keep-first edge rule; full transitive clustering is q82/
#            q321's job)
#          → quality + boilerplate filter (Gopher-style integer rules:
#            >=20 tokens, >=40% distinct tokens, mean word length in
#            [3.0, 5.5] via 10*chars vs nt bounds; plus the q140
#            RefinedWeb line rule at a RELATIVE threshold — a 3-token
#            line is boilerplate when it appears in >=1% of stage-input
#            docs AND >=3 docs — drop majority-boiler docs; on this
#            synthetic corpus the majority rule drops 0 docs, so the
#            boiler-key inventory is emitted as its own value-checked
#            row '3_boiler_lines' to keep the line-frequency relation
#            evidence-bearing)
#          → mixture rebalance (q122 integer thresholds toward uniform
#            language mix, portable bucket seed 7 / 10000 buckets)
#          → interleaved shard assignment (q235 rule: per-lang md5
#            priority rank % 8).
#
# Output = per-stage survivor counts + the final per-(shard, lang)
# composition, one row set.
#
# ONE-LINEAGE CONTRACT (the plan pin in tests/test_plans.py): documents
# is scanned exactly once. Every stage boundary is materialized with
# localCheckpoint — the single-process twin of what a 100 TB run does
# with a parquet write between stages — so no downstream self-join ever
# re-reads the source, and the final plan contains ZERO parquet scans
# (only ExistingRDD scans of the checkpointed stage outputs).
#
# Scale shape: stage 1 is one hash-partitioned window; stage 2 is the
# q46p LSH plan (docs×bands candidate rows, exact verify on candidates
# only — never corpus²); stage 3 is one explode + one line-frequency
# groupBy + a broadcast join against the (bounded, inventoried) boiler
# key set; stages 4-5 are q122/q235's broadcast-threshold + per-lang
# rank passes. The DuckDB oracle replays every stage in one staged CTE.
#
# The stage parts below are shared by the whole chain family: q330
# here, and the incremental chains q344/q349/q350 further down, which
# run the same stages on a history/batch split. Their oracles share
# the SQL text of the same stages.
# ---------------------------------------------------------------------------

_Q330_K = 32          # q315-sweep-chosen MinHash config (sharpest S-curve)
_Q330_BANDS = 8
_Q330_SHINGLE = 3
_Q330_MIN_TOK = 20
_Q330_DR10 = 4        # 10*n_distinct >= 4*n_tokens  (>=40% distinct)
_Q330_ML_LO = 30      # 10*chars >= 30*n_tokens      (mean len >= 3.0)
_Q330_ML_HI = 55      # 10*chars <= 55*n_tokens      (mean len <= 5.5)
_Q330_MIX_SEED = 7
_Q330_BUCKETS = 10_000
_Q330_SHARDS = 8


# ---- oracle SQL shared by the chain family -------------------------------


# The MinHash prelude over the exact-dedup survivors ``s1``: tokens,
# distinct shingles, portable signatures and band keys (CTEs toks, sh,
# ex, sigs, banded).
_S1_MINHASH_SQL = minhash_sql("s1", _Q330_SHINGLE, _Q330_K, _Q330_BANDS)


_MIX_BUCKET_SQL = md5_60_sql(f"CAST(doc_id AS VARCHAR) || ':{_Q330_MIX_SEED}'")


def _mixture_sql(
    names: tuple[str, str, str, str, str] = (
        "per_lang", "tot", "thresh", "s4", "shards"
    ),
    *,
    count_scope: str = "",
    s4_cols: str = "s3.doc_id, s3.lang FROM s3",
    s4_keep: str = "",
    shard_scope: str = "",
) -> str:
    """Stages 4-5 over ``s3``: per-lang counts, q122 keep thresholds,
    the mixture filter and q235's interleaved shard rank. ``names``
    are the five CTE names; the keyword arguments splice the chain's
    history/batch scoping into the count, filter and shard CTEs."""
    per_lang, tot, thresh, s4, shards = names
    pt, p4, ps = (" " * (len(name) + 5) for name in (thresh, s4, shards))
    return f"""{per_lang} AS (SELECT lang, COUNT(*) AS n_docs FROM s3{count_scope} GROUP BY lang),
{tot} AS (SELECT SUM(n_docs) AS total, COUNT(*) AS n_langs FROM {per_lang}),
{thresh} AS (SELECT lang,
{pt}       LEAST({_Q330_BUCKETS},
{pt}             CAST(total * {_Q330_BUCKETS} // (n_langs * n_docs) AS BIGINT))
{pt}         AS keep_thresh
{pt}FROM {per_lang}, {tot}),
{s4} AS (SELECT {s4_cols} JOIN {thresh} USING (lang)
{p4}WHERE {s4_keep}{_MIX_BUCKET_SQL} % {_Q330_BUCKETS} < keep_thresh),
{shards} AS (SELECT lang,
{ps}       CAST((row_number() OVER (PARTITION BY lang
{ps}             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shard'), doc_id)
{ps}             - 1) % {_Q330_SHARDS} AS INT) AS shard
{ps}FROM {s4}{shard_scope})"""


def _q330_oracle() -> str:
    ll = _LINE_LEN
    return f"""
WITH s1 AS (
  SELECT doc_id, lang, text FROM (
    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents d) q
  WHERE rn = 1
),
{_S1_MINHASH_SQL}{CANDIDATES_SQL}sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
vcommon AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT v.doc_a, v.doc_b FROM vcommon v
  JOIN sizes sa ON sa.doc_id = v.doc_a
  JOIN sizes sb ON sb.doc_id = v.doc_b
  WHERE 2 * v.nc >= sa.n_sh + sb.n_sh - v.nc
),
s2 AS (SELECT s1.* FROM s1 WHERE NOT EXISTS
         (SELECT 1 FROM verified v WHERE v.doc_b = s1.doc_id)),
toks2 AS (SELECT doc_id, lang, {TOKENS_SQL} AS t FROM s2),
meas AS (SELECT doc_id, lang, len(t) AS nt, len(list_distinct(t)) AS nd,
                CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS ch
         FROM toks2),
ls AS (SELECT doc_id, unnest(list_transform(range((len(t) + {ll - 1}) // {ll}),
         i -> array_to_string(list_slice(t, i * {ll} + 1, i * {ll} + {ll}), ' ')))
         AS line
       FROM toks2 WHERE len(t) > 0),
nin AS (SELECT COUNT(DISTINCT doc_id) AS n_in FROM ls),
freq AS (SELECT md5(line) AS k, COUNT(DISTINCT doc_id) AS df FROM ls GROUP BY 1),
bkeys AS (SELECT k FROM freq, nin
          WHERE 100 * df >= n_in AND df >= {_BOILER_DF}),
per AS (SELECT ls.doc_id, COUNT(*) AS nl,
               COUNT(*) FILTER (WHERE bkeys.k IS NOT NULL) AS nb
        FROM ls LEFT JOIN bkeys ON md5(ls.line) = bkeys.k
        GROUP BY 1),
s3 AS (
  SELECT m.doc_id, m.lang
  FROM meas m LEFT JOIN per p ON p.doc_id = m.doc_id
  WHERE m.nt >= {_Q330_MIN_TOK}
    AND 10 * m.nd >= {_Q330_DR10} * m.nt
    AND 10 * m.ch >= {_Q330_ML_LO} * m.nt AND 10 * m.ch <= {_Q330_ML_HI} * m.nt
    AND NOT (2 * COALESCE(p.nb, 0) > COALESCE(p.nl, 0))
),
{_mixture_sql()}
SELECT CAST('0_ingest' AS VARCHAR) AS stage, CAST(-1 AS INT) AS shard,
       CAST('ALL' AS VARCHAR) AS lang,
       (SELECT COUNT(*) FROM documents) AS n_docs
UNION ALL SELECT '1_exact_dedup', -1, 'ALL', (SELECT COUNT(*) FROM s1)
UNION ALL SELECT '2_near_dedup', -1, 'ALL', (SELECT COUNT(*) FROM s2)
UNION ALL SELECT '3_boiler_lines', -1, 'ALL', (SELECT COUNT(*) FROM bkeys)
UNION ALL SELECT '3_quality', -1, 'ALL', (SELECT COUNT(*) FROM s3)
UNION ALL SELECT '4_mixture', -1, 'ALL', (SELECT COUNT(*) FROM s4)
UNION ALL
SELECT '5_shard', shard, lang, COUNT(*) FROM shards GROUP BY 2, 3
"""


_Q330_ORACLE = _q330_oracle()


# ---- stage parts shared by the chain family ------------------------------


def _checkpointed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 0: ingest. localCheckpoint = the stage-boundary materialize
    (a 100 TB run writes parquet here); documents is scanned ONCE."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .localCheckpoint()
    )


def _keep_first_per_text(df: DataFrame, *order) -> DataFrame:
    """Exact dedup (q44 rule): keep the first row per md5(text) under
    ``order`` — one hash-partitioned window pass."""
    w = Window.partitionBy(F.md5("text")).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _verify_drops_j05(
    cands: DataFrame, new_sh, old_sh, new_sz, old_sz
) -> DataFrame:
    """Exact-verify (later_id, earlier_id) candidates at J >= 0.5;
    return the distinct later_ids to drop."""
    pairs = verified_pairs(
        cands, new_sh, old_sh, new_sz, old_sz, "later_id", "earlier_id", k=2
    )
    return pairs.select(F.col("later_id").alias("doc_id")).distinct()


def _self_near_dups(sh: DataFrame, both: DataFrame, cands: DataFrame) -> DataFrame:
    """Keep-first near-dup drops within one relation: its own banded
    (doc_a < doc_b) candidates, verified at J >= 0.5; the larger id of
    every verified pair drops."""
    later_first = cands.select(
        F.col("doc_b").alias("later_id"), F.col("doc_a").alias("earlier_id")
    )
    return _verify_drops_j05(later_first, sh, sh, both, both)


def _q330_gopher(df: DataFrame) -> DataFrame:
    """The q330 per-doc Gopher integer rules -> (doc_id, lang)
    survivors."""
    toks = tokens("text")
    meas = df.select("doc_id", "lang", toks.alias("t")).select(
        "doc_id",
        "lang",
        F.size("t").alias("nt"),
        F.size(F.array_distinct("t")).alias("nd"),
        F.aggregate(
            F.transform("t", F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("ch"),
    )
    return meas.filter(
        (F.col("nt") >= _Q330_MIN_TOK)
        & (F.lit(10) * F.col("nd") >= F.lit(_Q330_DR10) * F.col("nt"))
        & (F.lit(10) * F.col("ch") >= F.lit(_Q330_ML_LO) * F.col("nt"))
        & (F.lit(10) * F.col("ch") <= F.lit(_Q330_ML_HI) * F.col("nt"))
    ).select("doc_id", "lang")


def _doc_lines(df: DataFrame, *extra: str) -> DataFrame:
    """q140's 3-token line construction over ``text`` ->
    (*extra, doc_id, k = md5(line))."""
    toks = tokens("text")
    ll = _LINE_LEN
    n_lines = F.floor((F.size("t") + ll - 1) / ll).cast("int")
    return (
        df.select(*extra, "doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            *extra,
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_lines - 1),
                    lambda i: F.array_join(F.slice("t", i * ll + 1, ll), " "),
                )
            ).alias("line"),
        )
        .select(*extra, "doc_id", F.md5("line").alias("k"))
    )


def _frozen_boiler_keys(df_text: DataFrame) -> DataFrame:
    """The q140/q330 corpus-relative boilerplate rule (line in >= 1% of
    docs AND >= _BOILER_DF docs) evaluated once over ``df_text``;
    returns the key set (``k``). q330 applies it to its own stage
    input; the frozen-epoch rows (q348/q350) freeze it per release
    epoch. Metadata-sized output — bounded by the 1%-of-docs threshold
    itself (at most ~100 qualifying lines is the expected order)."""
    hls = _doc_lines(df_text)
    n_in = hls.agg(F.countDistinct("doc_id").alias("n_in"))
    return (
        hls.groupBy("k")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_in))
        .filter(
            (F.lit(100) * F.col("df") >= F.col("n_in"))
            & (F.col("df") >= _BOILER_DF)
        )
        .select("k")
    )


def _frozen_boiler_drops(df_text: DataFrame, bkeys: DataFrame) -> DataFrame:
    """Majority-rule boiler drops against a FROZEN key set: doc_ids of
    ``df_text`` whose boiler lines outnumber their other lines. The
    frozen keys ship as a broadcast join against the exploded lines —
    |df|-linear, no corpus-relative state recomputation."""
    per = (
        _doc_lines(df_text)
        .join(F.broadcast(bkeys.withColumn("__b", F.lit(1))), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nl"),
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias("nb"),
        )
    )
    return per.filter(F.lit(2) * F.col("nb") > F.col("nl")).select("doc_id")


def _boiler_quality(df_text: DataFrame, bkeys: DataFrame) -> DataFrame:
    """Stage 3 with the line rule: Gopher survivors of ``df_text`` minus
    its majority-boiler docs under ``bkeys``."""
    return _q330_gopher(df_text).join(
        _frozen_boiler_drops(df_text, bkeys), "doc_id", "left_anti"
    )


def _lang_counts(df: DataFrame) -> DataFrame:
    """The mergeable mixture state: per-lang doc counts (lang, n_docs)."""
    return df.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _mixture_and_shards(s3: DataFrame, counts: DataFrame) -> DataFrame:
    """Stages 4-5: q122 keep thresholds from the per-lang ``counts``,
    then q235's per-doc shard rank among ``s3``'s own mixture survivors
    -> (doc_id, lang, shard)."""
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    thresh = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(_Q330_BUCKETS).cast("bigint"),
            F.expr(f"(total * {_Q330_BUCKETS}) div (n_langs * n_docs)"),
        ).alias("keep_thresh"),
    )
    s4 = s3.join(F.broadcast(thresh), "lang").filter(
        portable_bucket("doc_id", _Q330_MIX_SEED, _Q330_BUCKETS)
        < F.col("keep_thresh")
    )
    w5 = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))), "doc_id"
    )
    return s4.select(
        "doc_id",
        "lang",
        ((F.row_number().over(w5) - 1) % _Q330_SHARDS).cast("int").alias("shard"),
    )


def _shard_counts(release: DataFrame) -> DataFrame:
    """Per-(lang, shard) doc counts of a shard assignment."""
    return release.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


def _q330_stage_row(df: DataFrame, stage: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).select(
        F.lit(stage).alias("stage"),
        F.lit(-1).cast("int").alias("shard"),
        F.lit("ALL").alias("lang"),
        "n_docs",
    )


def _chain_report(
    stages: list[tuple[DataFrame, str]], release: DataFrame
) -> DataFrame:
    """The chain rows' output: one survivor-count row per (relation,
    stage) plus the final per-(shard, lang) composition ('5_shard')."""
    rows = [_q330_stage_row(df, stage) for df, stage in stages]
    rows.append(
        _shard_counts(release).select(
            F.lit("5_shard").alias("stage"), "shard", "lang", "n_docs"
        )
    )
    return reduce(DataFrame.unionByName, rows)


@register(
    "q330_curation_pipeline",
    oracle=_Q330_ORACLE,
    tags=("dedup", "curation", "mixture", "pipeline", "llm"),
)
def q330_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _checkpointed_documents(spark, sf_dir)

    # Stage 1: exact dedup — keep MIN(doc_id) per content hash (q44).
    s1 = _keep_first_per_text(base, "doc_id").localCheckpoint()

    # Stage 2: MinHash-LSH near-dup at the q315-chosen (k=32, bands=8).
    # Candidates exact-verified (candidate pairs ONLY — the production
    # shape; q101 measures full recall separately), keep-first rule.
    sh, both = portable_signatures(s1, "doc_id", "text", n=_Q330_SHINGLE, k=_Q330_K)
    cands = band_candidates(both, "doc_id", _Q330_K, _Q330_BANDS)
    s2 = s1.join(_self_near_dups(sh, both, cands), "doc_id", "left_anti")
    s2 = s2.localCheckpoint()
    sh.unpersist()  # s2 is materialized; the shingle cache is done

    # Stage 3: Gopher-style quality rules + the q140 line rule at a
    # relative threshold (>=1% of stage-input docs AND >=3 docs).
    # spread (opt r13): the checkpointed stage output materializes at
    # ONE partition locally (AQE coalesces byte-tiny relations), which
    # serialized the tokenize passes below; the conditional floor on
    # the ExistingRDD costs a row-count check only and is a no-op at
    # corpus scale. The key set is checkpointed: the stage-3 filter and
    # the '3_boiler_lines' row both read it.
    s2s = spread(s2)
    bkeys = _frozen_boiler_keys(s2s).localCheckpoint()
    s3 = _boiler_quality(s2s, bkeys).localCheckpoint()

    # Stages 4-5: mixture rebalance toward uniform language mix (q122),
    # then interleaved shard assignment (q235 rule).
    release = _mixture_and_shards(s3, _lang_counts(s3)).localCheckpoint()

    return _chain_report(
        [
            (base, "0_ingest"),
            (s1, "1_exact_dedup"),
            (s2, "2_near_dedup"),
            (bkeys, "3_boiler_lines"),
            (s3, "3_quality"),
            (release, "4_mixture"),
        ],
        release,
    )


# ---------------------------------------------------------------------------
# q333: URL parsing + domain rollup — the web-corpus curation verbs a
# CommonCrawl-style pipeline runs before anything else (host
# extraction, registered-domain rollup for per-domain caps — q131's
# key-maker — percent-encoding normalization). The synthetic corpus
# carries no URLs, so a deterministic URL is derived per document from
# its own attributes (the q139 synthesize-then-process pattern: both
# engines replay the construction, so the parsers face real structure
# at every scale factor): subdomain from doc_id parity, host from
# (source, lang), TLD from doc_id%4, path /docs/<id>, query
# ?ref=<id%7>&q=<lang>.
#
# Spark faces exercised: parse_url HOST/PATH/PROTOCOL, the
# parse_url(url, 'QUERY', key) per-key extraction face, url_encode
# (application/x-www-form-urlencoded: '=' -> %3D, space -> '+'), and
# substring_index registered-domain derivation. The oracle replays the
# construction directly (DuckDB has no parse_url; the synthesized
# shape makes every parsed component closed-form) and hardcodes the
# percent-encoding rule itself ('q%3D' || lang || '+docs') so a Spark
# encoding regression would hash-mismatch, not tautologically agree.
#
# Scale: one narrow projection + one groupBy on the registered domain
# (bounded: |source| x |lang| x |tld| combinations).
# ---------------------------------------------------------------------------

_Q333_ORACLE = """
WITH u AS (
  SELECT doc_id, lang, source,
         CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END AS sub,
         ['com', 'org', 'net', 'io'][CAST(doc_id % 4 AS INT) + 1] AS tld
  FROM documents
),
parsed AS (
  SELECT doc_id,
         sub || source || '-' || lang || '.' || tld AS host,
         source || '-' || lang || '.' || tld AS reg_domain,
         CAST(doc_id % 7 AS VARCHAR) AS ref,
         'q%3D' || lang || '+docs' AS encoded_q
  FROM u
)
SELECT reg_domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_subdomains,
       CAST(COUNT(DISTINCT ref) AS BIGINT) AS n_refs,
       MAX(doc_id) AS max_path_id,
       MIN(encoded_q) AS encoded_q
FROM parsed
GROUP BY 1
"""


@register(
    "q333_url_domain_rollup",
    oracle=_Q333_ORACLE,
    tags=("text", "curation", "url", "llm"),
)
def q333_url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    sub = F.when(F.col("doc_id") % 2 == 0, "www.").otherwise("cdn.")
    url = F.concat(
        F.lit("https://"),
        sub,
        F.col("source"), F.lit("-"), F.col("lang"), F.lit("."), tld,
        F.lit("/docs/"), F.col("doc_id").cast("string"),
        F.lit("?ref="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&q="), F.col("lang"),
    )
    parsed = d.select(
        "doc_id",
        "lang",
        url.alias("url"),
    ).select(
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'QUERY', 'ref')").alias("ref"),
        F.expr("parse_url(url, 'PROTOCOL')").alias("proto"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("url_encode(concat('q=', lang, ' docs'))").alias("encoded_q"),
    )
    # registered domain: the last two labels of the parsed host. The
    # PATH face round-trips the synthesized /docs/<id> path: the id
    # parsed back OUT of the extracted path must aggregate to the same
    # MAX(doc_id) the oracle reads directly (ADVICE r11: PATH was
    # claimed but not exercised).
    return (
        parsed.withColumn("reg_domain", F.substring_index("host", ".", -2))
        .groupBy("reg_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_subdomains"),
            F.countDistinct("ref").alias("n_refs"),
            F.max(F.substring_index("path", "/", -1).cast("bigint")).alias(
                "max_path_id"
            ),
            F.min("encoded_q").alias("encoded_q"),
        )
    )


# ---------------------------------------------------------------------------
# q344: INCREMENTAL curation — q330's chain run the way a 100 TB
# pipeline actually runs it (VERDICT r11 item 5): a new crawl batch is
# curated AGAINST the accumulated corpus instead of re-curating
# everything (the reference's own 30-minute full-overwrite cadence,
# `Dag/E-commerce_dag.py:88`, is the anti-pattern this replaces). The
# corpus splits by the q133 portable hash (seed 5, bucket < 8000 →
# history ~80%, else the incoming batch).
#
# THE INCREMENTAL SKELETON (shared by q344, q349 and q350 — each row
# keeps only its hook and its stages 3-5):
#
#   _chain_split: the checkpointed documents scan, the is_hist split,
#     and exact dedup for BOTH sides as one row_number window over
#     md5(text) ordered history-first (history keep-first dedup, batch
#     keep-first dedup and the batch-vs-history hash anti-join in one
#     pass — exactly the oracles' s1 CTE).
#   _incremental_near_dedup: MinHash relations for both sides; the
#     history's own near-dup drops (its band-key index keeps ALL
#     stage-1 survivors, not stage-2: a batch doc that matches a
#     history doc which itself lost an earlier-id tie must still drop —
#     the index keeps everything seen); then the hook
#     ``history_state(hist_s1, hist_drops)`` builds the row's history
#     state (the PRIOR publish run, priced here only because a
#     registered row is self-contained — production persists it).
#     The batch side meanwhile joins its band keys against the HISTORY
#     index (never history x history — each day's work scales with
#     |batch| x bands) plus batch x batch at lower-id orientation, and
#     exact-verifies at Jaccard >= 0.5 (2|∩| >= |∪|), keep-first.
#
# q344's hook: the mergeable mixture state — per-lang counts of the
# history's Gopher survivors. Its batch run then does:
#     3. quality: the q330 Gopher integer rules — per-doc only. The
#        corpus-RELATIVE boilerplate line rule is deliberately out of
#        scope here: its line-frequency state merges fine (counts are
#        additive), but re-thresholding under merged frequencies flips
#        decisions on already-published history shards, which is
#        exactly the full-recompute cadence this row replaces. A real
#        pipeline freezes the boiler-key list per release epoch (q348,
#        and q350 with the frozen filter inline).
#     4. mixture: q122 thresholds computed from the MERGED per-lang
#        state (history counts + batch counts) — equal by construction
#        to a full recompute's union counts;
#     5. shards: append-only — the batch's survivors rank among
#        THEMSELVES (q235 rule) into new shard files; published shards
#        are immutable.
#
# THE ORACLE IS NOT A REPLAY of the incremental algorithm: it is the
# FULL RECOMPUTE over the union (arrival order = history before batch,
# then doc_id), restricted to the batch's rows. The driver row
# therefore *proves the incremental-equals-full equivalence* — every
# batch decision (dedup, near-dup, quality, mixture) is exactly what a
# from-scratch run over history+batch would have decided for those
# docs — which is the property that lets a production pipeline run
# incrementally at all.
#
# Scale shape: the history indexes are write-once state read via
# equi-joins on hash/band keys; the batch-vs-history candidate join is
# |batch| x bands against a bucketed index; nothing in the incremental
# path is quadratic in |history|.
# ---------------------------------------------------------------------------

_Q344_SPLIT_SEED = 5      # q133's split
_Q344_HIST_CUT = 8000     # bucket < 8000 -> history (~80%)

# the incremental oracles' history/batch split of ``documents``
_SPLIT_BASE_CTE = f"""base AS (
  SELECT doc_id, lang, text,
         {md5_60_sql(f"CAST(doc_id AS VARCHAR) || ':{_Q344_SPLIT_SEED}'")} % 10000
           < {_Q344_HIST_CUT} AS is_hist
  FROM documents
),
"""


def _incremental_s2_sql() -> str:
    """The incremental oracles' shared prefix: the history/batch split,
    the history-first exact dedup ``s1`` and the keep-first near-dup
    survivors ``s2`` of the union (CTEs base … s2)."""
    return f"""
WITH {_SPLIT_BASE_CTE}s1 AS (
  SELECT doc_id, lang, text, is_hist FROM (
    SELECT b.*, row_number() OVER (
      PARTITION BY md5(text)
      ORDER BY CASE WHEN is_hist THEN 0 ELSE 1 END, doc_id) AS rn
    FROM base b) q
  WHERE rn = 1
),
{_S1_MINHASH_SQL}cands AS (
  SELECT DISTINCT x.doc_id AS later_id, y.doc_id AS earlier_id
  FROM banded x
  JOIN s1 sx ON sx.doc_id = x.doc_id
  JOIN banded y ON x.band = y.band AND x.key = y.key
  JOIN s1 sy ON sy.doc_id = y.doc_id
  WHERE (sy.is_hist AND NOT sx.is_hist)
     OR (sy.is_hist = sx.is_hist AND sy.doc_id < sx.doc_id)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
vcommon AS (
  SELECT c.later_id, c.earlier_id, COUNT(*) AS nc
  FROM cands c
  JOIN sh a ON a.doc_id = c.later_id
  JOIN sh b ON b.doc_id = c.earlier_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT v.later_id FROM vcommon v
  JOIN sizes sa ON sa.doc_id = v.later_id
  JOIN sizes sb ON sb.doc_id = v.earlier_id
  WHERE 2 * v.nc >= sa.n_sh + sb.n_sh - v.nc
),
s2 AS (SELECT s1.* FROM s1 WHERE NOT EXISTS
         (SELECT 1 FROM verified v WHERE v.later_id = s1.doc_id)),
"""


# Gopher-only stage 3 over the union (q344, q349).
_GOPHER_S3_SQL = f"""meas AS (SELECT doc_id, lang, is_hist, len(t) AS nt,
                len(list_distinct(t)) AS nd,
                CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS ch
         FROM (SELECT doc_id, lang, is_hist,
                      {TOKENS_SQL} AS t FROM s2)),
s3 AS (
  SELECT doc_id, lang, is_hist FROM meas
  WHERE nt >= {_Q330_MIN_TOK}
    AND 10 * nd >= {_Q330_DR10} * nt
    AND 10 * ch >= {_Q330_ML_LO} * nt AND 10 * ch <= {_Q330_ML_HI} * nt
),
"""

# The batch-scoped stages 4-5 of q344/q350 (thresholds from the union).
_BATCH_MIXTURE_SQL = _mixture_sql(
    s4_cols="s3.doc_id, s3.lang, s3.is_hist\n       FROM s3",
    shard_scope=" WHERE NOT is_hist",
)

# The batch-scoped report rows q344/q350 share, around q350's extra
# boiler-key row.
_INCREMENTAL_HEAD_ROWS_SQL = """
SELECT CAST('0_history' AS VARCHAR) AS stage, CAST(-1 AS INT) AS shard,
       CAST('ALL' AS VARCHAR) AS lang,
       (SELECT COUNT(*) FROM base WHERE is_hist) AS n_docs
UNION ALL SELECT '0_batch', -1, 'ALL',
       (SELECT COUNT(*) FROM base WHERE NOT is_hist)
UNION ALL SELECT '1_exact_dedup', -1, 'ALL',
       (SELECT COUNT(*) FROM s1 WHERE NOT is_hist)
UNION ALL SELECT '2_near_dedup', -1, 'ALL',
       (SELECT COUNT(*) FROM s2 WHERE NOT is_hist)
"""
_INCREMENTAL_TAIL_ROWS_SQL = """UNION ALL SELECT '3_quality', -1, 'ALL',
       (SELECT COUNT(*) FROM s3 WHERE NOT is_hist)
UNION ALL SELECT '4_mixture', -1, 'ALL',
       (SELECT COUNT(*) FROM s4 WHERE NOT is_hist)
UNION ALL
SELECT '5_shard', shard, lang, COUNT(*) FROM shards GROUP BY 2, 3
"""


_Q344_ORACLE = (
    _incremental_s2_sql()
    + _GOPHER_S3_SQL
    + _BATCH_MIXTURE_SQL
    + _INCREMENTAL_HEAD_ROWS_SQL
    + _INCREMENTAL_TAIL_ROWS_SQL
)


class _Incremental(NamedTuple):
    """Stages 0-2 of an incremental chain, batch side, plus the hook's
    history state."""

    hist: DataFrame   # stage-0 history rows
    batch: DataFrame  # stage-0 batch rows
    b_s1: DataFrame   # batch exact-dedup survivors
    b_s2: DataFrame   # batch near-dup survivors (checkpointed)
    state: Any        # what ``history_state`` returned


def _chain_split(spark: SparkSession, sf_dir: str):
    """Stages 0-1 of the incremental chains -> (base, is_hist, s1_all):
    the checkpointed documents scan, the history predicate and the
    checkpointed exact-dedup survivors of both sides (one window pass,
    history first)."""
    base = _checkpointed_documents(spark, sf_dir)
    is_hist = portable_bucket("doc_id", _Q344_SPLIT_SEED) < _Q344_HIST_CUT
    s1_all = _keep_first_per_text(
        base, F.when(is_hist, F.lit(0)).otherwise(F.lit(1)), "doc_id"
    ).localCheckpoint()
    return base, is_hist, s1_all


def _on_worker(pool: ThreadPoolExecutor, spark: SparkSession, desc: str, fn, *args):
    """Submit ``fn(*args)`` to ``pool`` with the caller's local
    properties (pinned-thread safe) and ``desc`` as its job
    description, reset when ``fn`` ends however it ends."""

    @inheritable_thread_target(spark)
    def run():
        spark.sparkContext.setJobDescription(desc)
        try:
            return fn(*args)
        finally:
            spark.sparkContext.setJobDescription(None)

    return pool.submit(run)


def _incremental_near_dedup(
    spark: SparkSession,
    sf_dir: str,
    desc: str,
    history_state: Callable[[DataFrame, DataFrame], Any],
) -> _Incremental:
    """Stages 0-2 of the incremental chains for history and batch.

    ``history_state(hist_s1, hist_drops)`` builds the chain's history
    state from the history exact-dedup survivors and their near-dup
    drops; it runs on the one worker thread (job description ``desc``)
    while this thread runs the batch near-dup verify. An exception in
    the hook (or in the history MinHash build) propagates from here.

    OVERLAP (opt r14, guide §2.6): the history side's jobs (its
    shingle cache, its own near-dup verify, the hook's state) are
    independent of the batch side's shingle cache and verify. Two
    handoffs keep both sides busy: the worker builds the history
    relations while this thread builds the batch ones (the batch
    candidate join needs the history band keys), then runs the history
    verify and the hook while this thread runs the batch verify and
    the b_s2 checkpoint. A/B on a 4-vCPU host, sf0.1, the three chains
    min-of-3: overlap vs the same code run inline, medians 46.0 vs
    48.4 s at width 4, 44.2 vs 49.1 s at width 8.
    """
    base, is_hist, s1_all = _chain_split(spark, sf_dir)
    hist_s1 = s1_all.filter(is_hist)
    b_s1 = s1_all.filter(~is_hist)
    mh = (_Q330_SHINGLE, _Q330_K)

    with ThreadPoolExecutor(max_workers=1) as pool:
        rel_fut = _on_worker(
            pool, spark, desc, portable_signatures, hist_s1, "doc_id", "text", *mh
        )
        sh_b, both_b = portable_signatures(b_s1, "doc_id", "text", *mh)
        sh_h, both_h = rel_fut.result()
        cands_h = band_candidates(both_h, "doc_id", _Q330_K, _Q330_BANDS)

        def _history():
            return history_state(hist_s1, _self_near_dups(sh_h, both_h, cands_h))

        state_fut = _on_worker(pool, spark, desc, _history)

        # batch bands x history index + batch x batch (lower id)
        banded_b = band_keys(both_b, "doc_id", _Q330_K, _Q330_BANDS)
        banded_h = band_keys(both_h, "doc_id", _Q330_K, _Q330_BANDS)
        later = banded_b.select(F.col("doc_id").alias("later_id"), "band", "key")
        c_bh = later.join(
            banded_h.select(F.col("doc_id").alias("earlier_id"), "band", "key"),
            ["band", "key"],
        ).select("later_id", "earlier_id")
        c_bb = (
            later.join(
                banded_b.select(F.col("doc_id").alias("earlier_id"), "band", "key"),
                ["band", "key"],
            )
            .filter(F.col("earlier_id") < F.col("later_id"))
            .select("later_id", "earlier_id")
        )
        # doc_id spaces are disjoint across the split, so the union stays
        # duplicate-free after per-branch distinct
        cands = c_bh.unionByName(c_bb).distinct()
        # the UNIONs are new relations over the two MATERIALIZED shingle
        # caches (see minhash.cached_shingles, opt r13): their static
        # size estimate is the sum of the measured cache sizes — honest, so
        # the planner broadcasts only when the bytes genuinely fit and AQE
        # keeps its runtime re-plan on every other join.
        old_sh = sh_h.unionByName(sh_b)
        old_sz = both_h.select("doc_id", "n_sh").unionByName(
            both_b.select("doc_id", "n_sh")
        )
        b_drops = _verify_drops_j05(cands, sh_b, old_sh, both_b, old_sz)
        b_s2 = b_s1.join(b_drops, "doc_id", "left_anti").localCheckpoint()
        # Join the history side before releasing the caches: the hook's
        # checkpoints and b_s2's are the last consumers of the shingle
        # caches, and all have materialized now.
        state = state_fut.result()
    sh_b.unpersist()
    sh_h.unpersist()
    return _Incremental(
        base.filter(is_hist), base.filter(~is_hist), b_s1, b_s2, state
    )


def _merged_counts(hist_counts: DataFrame, b_s3: DataFrame) -> DataFrame:
    """The mixture state merged across the split: history per-lang
    counts plus the batch survivors' -> (lang, n_docs)."""
    return (
        hist_counts.unionByName(_lang_counts(b_s3))
        .groupBy("lang")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def _incremental_report(
    inc: _Incremental,
    b_s3: DataFrame,
    hist_counts: DataFrame,
    *extra: tuple[DataFrame, str],
) -> DataFrame:
    """Stages 4-5 of q344/q350 and their report: mixture thresholds
    from the MERGED per-lang state (history + batch counts), the batch
    survivors' append-only shards, and the batch-scoped stage rows
    (``extra`` rows go between stage 2 and stage 3)."""
    merged = _merged_counts(hist_counts, b_s3)
    release = _mixture_and_shards(b_s3, merged).localCheckpoint()
    return _chain_report(
        [
            (inc.hist, "0_history"),
            (inc.batch, "0_batch"),
            (inc.b_s1, "1_exact_dedup"),
            (inc.b_s2, "2_near_dedup"),
            *extra,
            (b_s3, "3_quality"),
            (release, "4_mixture"),
        ],
        release,
    )


def _q344_history_state(hist_s1: DataFrame, hist_drops: DataFrame) -> DataFrame:
    """q344's hook: per-lang counts of the history's Gopher survivors,
    checkpointed (metadata-sized) so the batch mixture job reads state
    instead of replaying the history verify."""
    # spread on the checkpointed survivors (free probe): unspread, the
    # gopher tokenize ran on s1_all's single materialized partition
    # (opt r13; no-op at corpus scale)
    hist_s2 = spread(hist_s1).join(hist_drops, "doc_id", "left_anti")
    return _lang_counts(_q330_gopher(hist_s2)).localCheckpoint()


@register(
    "q344_incremental_curation",
    oracle=_Q344_ORACLE,
    tags=("dedup", "curation", "mixture", "pipeline", "incremental", "llm"),
)
def q344_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    inc = _incremental_near_dedup(
        spark, sf_dir, "q344: history near-dup state", _q344_history_state
    )
    # 3. quality (per-doc Gopher rules — see the header for why the
    # corpus-relative boilerplate rule is frozen per release epoch).
    # spread (opt r13): parallelism floor over the checkpointed stage
    # output before the tokenize pass; no-op at corpus scale.
    b_s3 = _q330_gopher(spread(inc.b_s2)).localCheckpoint()
    return _incremental_report(inc, b_s3, inc.state)


# ---------------------------------------------------------------------------
# q348: FROZEN boiler-key epochs — the release-epoch contract q344's
# header documents as the production answer to corpus-relative rules
# under incremental curation, now exercised as its own row. The q140/
# q330 boilerplate rule thresholds line frequency AGAINST THE CORPUS
# (>= 1% of docs AND >= 3 docs), so naively re-running it per batch
# flips decisions on already-published shards. The epoch contract: the
# key set is computed ONCE from the history epoch (here: history
# exact-dedup survivors, q344's split), FROZEN, and every incoming
# batch is filtered against that frozen set — new batches never move
# the threshold until the next release epoch re-freezes it.
#
# Output: per-lang batch rollup (docs, docs hitting >= 1 frozen boiler
# line, total boiler-line hits, majority-rule drops — genuinely 0 on
# this corpus, same as q330's, value-checked as 0 in both engines —
# and survivors), with the epoch's key-inventory size carried as a
# constant column so the frozen state itself is value-checked.
#
# Scale shape: the frozen key set is epoch state (metadata-sized —
# 20 keys at sf0.01; bounded by the >= 1%-of-epoch-docs threshold
# itself: at most 100 such keys per epoch is the EXPECTED order), read
# via a broadcast join against the batch's exploded lines; the batch
# side is one explode + one per-doc groupBy + one per-lang rollup —
# |batch|-linear, nothing touches history again.
# ---------------------------------------------------------------------------

_Q348_ORACLE = f"""
WITH {_SPLIT_BASE_CTE}hs1 AS (
  SELECT doc_id, text FROM (
    SELECT b.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM base b WHERE is_hist) q
  WHERE rn = 1
),
hls AS (SELECT doc_id, unnest(list_transform(range((len(t) + {_LINE_LEN - 1}) // {_LINE_LEN}),
          i -> array_to_string(list_slice(t, i * {_LINE_LEN} + 1,
                                          i * {_LINE_LEN} + {_LINE_LEN}), ' ')))
          AS line
        FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM hs1)
        WHERE len(t) > 0),
nin AS (SELECT COUNT(DISTINCT doc_id) AS n_in FROM hls),
freq AS (SELECT md5(line) AS k, COUNT(DISTINCT doc_id) AS df FROM hls GROUP BY 1),
bkeys AS (SELECT k FROM freq, nin
          WHERE 100 * df >= n_in AND df >= {_BOILER_DF}),
nkeys AS (SELECT COUNT(*) AS n_epoch_keys FROM bkeys),
bls AS (SELECT doc_id, lang, unnest(list_transform(range((len(t) + {_LINE_LEN - 1}) // {_LINE_LEN}),
          i -> array_to_string(list_slice(t, i * {_LINE_LEN} + 1,
                                          i * {_LINE_LEN} + {_LINE_LEN}), ' ')))
          AS line
        FROM (SELECT doc_id, lang, {TOKENS_SQL} AS t
              FROM base WHERE NOT is_hist)
        WHERE len(t) > 0),
per AS (SELECT doc_id, lang, COUNT(*) AS nl,
               COUNT(*) FILTER (WHERE bkeys.k IS NOT NULL) AS nb
        FROM bls LEFT JOIN bkeys ON md5(bls.line) = bkeys.k
        GROUP BY 1, 2)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_docs,
       CAST(SUM(nb) AS BIGINT) AS n_boiler_lines,
       CAST(SUM(CASE WHEN 2 * nb > nl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN 2 * nb > nl THEN 0 ELSE 1 END) AS BIGINT)
         AS n_kept,
       (SELECT n_epoch_keys FROM nkeys) AS n_epoch_keys
FROM per
GROUP BY lang
"""


@register(
    "q348_boiler_epoch_freeze",
    oracle=_Q348_ORACLE,
    tags=("curation", "boilerplate", "incremental", "llm"),
)
def q348_boiler_epoch_freeze(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (opt r13): parallelism floor on the raw scan — the line
    # explodes and the exact-dedup md5 map side below ran on the
    # single-row-group scan's one task; no-op at corpus scale.
    base = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    is_hist = portable_bucket("doc_id", _Q344_SPLIT_SEED) < _Q344_HIST_CUT

    # EPOCH STATE (computed once per release from the history epoch):
    # exact-dedup survivors -> line frequency -> frozen key set.
    hist_s1 = _keep_first_per_text(base.filter(is_hist), "doc_id")
    bkeys = _frozen_boiler_keys(hist_s1)
    n_keys = bkeys.agg(F.count(F.lit(1)).cast("bigint").alias("n_epoch_keys"))

    # BATCH PASS against the frozen keys: broadcast semi-class join.
    per = (
        _doc_lines(base.filter(~is_hist), "lang")
        .join(F.broadcast(bkeys.withColumn("__b", F.lit(1))), "k", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("nl"),
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias("nb"),
        )
    )
    dropped = F.when(F.lit(2) * F.col("nb") > F.col("nl"), 1).otherwise(0)
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("nb") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit_docs"),
            F.sum("nb").cast("bigint").alias("n_boiler_lines"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.sum(F.lit(1) - dropped).cast("bigint").alias("n_kept"),
        )
        .crossJoin(F.broadcast(n_keys))
    )


# ---------------------------------------------------------------------------
# q350: the FULL incremental chain with the FROZEN boiler filter INLINE
# (VERDICT r12 item 3) — the composition of q344 and q348 that closes
# the last asterisk on the incremental == full-recompute claim. q344
# deliberately left the corpus-relative boilerplate rule out of its
# incremental stage 3 (re-thresholding under merged line frequencies
# would flip already-published history shards); q348 proved the
# production answer — freeze the key set per release epoch — as a
# standalone contract. This row runs the whole chain with the frozen
# filter in its stage-3 position, on q344's incremental skeleton:
#
#   hook (the epoch state of the prior publish run): the history
#     near-dup survivors (checkpointed: several state jobs read them),
#     the boiler-key set FROZEN from those survivors (q330's key
#     source, so the history epoch's own publish decisions are exactly
#     a full q330 run over history), and the mergeable mixture state —
#     per-lang survivors of quality AND the frozen-boiler majority rule.
#   batch run: stage 3 = Gopher rules + majority-rule drop against the
#     FROZEN keys via broadcast join (q348's batch pass,
#     |batch|-linear); stages 4-5 are q344's (merged-state mixture,
#     append-only shards).
#
# THE ORACLE IS THE FULL RECOMPUTE over the union with the SAME
# epoch-frozen key set (keys derived from the union run's history-side
# near-dup survivors — provably the same set, since a history doc's
# near-dup fate never depends on later batch docs), restricted to the
# batch's rows. Green means: every batch decision — dedup, near-dup,
# quality INCLUDING the frozen boiler rule, mixture — is exactly what
# a from-scratch run over history+batch under the frozen epoch would
# have decided. The frozen key inventory itself is value-checked as
# its own stage row ('3_boiler_keys').
#
# Scale shape: q344's (history read via hash/band-key equi-joins,
# nothing quadratic in |history|) plus q348's (frozen keys are
# metadata-sized epoch state, broadcast against the batch's exploded
# lines). Reference anchor: the reference recomputes its whole corpus
# every 30 minutes (Dag/E-commerce_dag.py:88); this row is the
# incremental replacement with ALL q330 stages active.
# ---------------------------------------------------------------------------


def _q350_oracle() -> str:
    ll = _LINE_LEN
    return (
        _incremental_s2_sql()
        + f"""toks2 AS (SELECT doc_id, lang, is_hist,
                 {TOKENS_SQL} AS t FROM s2),
hls AS (SELECT doc_id, unnest(list_transform(range((len(t) + {ll - 1}) // {ll}),
          i -> array_to_string(list_slice(t, i * {ll} + 1,
                                          i * {ll} + {ll}), ' ')))
          AS line
        FROM toks2 WHERE is_hist AND len(t) > 0),
nin AS (SELECT COUNT(DISTINCT doc_id) AS n_in FROM hls),
freq AS (SELECT md5(line) AS k, COUNT(DISTINCT doc_id) AS df FROM hls GROUP BY 1),
bkeys AS (SELECT k FROM freq, nin
          WHERE 100 * df >= n_in AND df >= {_BOILER_DF}),
ls2 AS (SELECT doc_id, unnest(list_transform(range((len(t) + {ll - 1}) // {ll}),
          i -> array_to_string(list_slice(t, i * {ll} + 1,
                                          i * {ll} + {ll}), ' ')))
          AS line
        FROM toks2 WHERE len(t) > 0),
per AS (SELECT ls2.doc_id, COUNT(*) AS nl,
               COUNT(*) FILTER (WHERE bkeys.k IS NOT NULL) AS nb
        FROM ls2 LEFT JOIN bkeys ON md5(ls2.line) = bkeys.k
        GROUP BY 1),
meas AS (SELECT doc_id, lang, is_hist, len(t) AS nt,
                len(list_distinct(t)) AS nd,
                CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS ch
         FROM toks2),
s3 AS (
  SELECT m.doc_id, m.lang, m.is_hist FROM meas m
  LEFT JOIN per p ON p.doc_id = m.doc_id
  WHERE m.nt >= {_Q330_MIN_TOK}
    AND 10 * m.nd >= {_Q330_DR10} * m.nt
    AND 10 * m.ch >= {_Q330_ML_LO} * m.nt AND 10 * m.ch <= {_Q330_ML_HI} * m.nt
    AND NOT (2 * COALESCE(p.nb, 0) > COALESCE(p.nl, 0))
),
"""
        + _BATCH_MIXTURE_SQL
        + _INCREMENTAL_HEAD_ROWS_SQL
        + "UNION ALL SELECT '3_boiler_keys', -1, 'ALL', (SELECT COUNT(*) FROM bkeys)\n"
        + _INCREMENTAL_TAIL_ROWS_SQL
    )


_Q350_ORACLE = _q350_oracle()


def _q350_history_state(hist_s1: DataFrame, hist_drops: DataFrame):
    """q350's hook -> (bkeys, hist_counts): the FROZEN epoch key set and
    the per-lang counts of the history's quality + frozen-boiler
    survivors, both checkpointed."""
    # checkpointed (unlike q344's hook): the key freeze and the mixture
    # state below both read the history near-dup survivors
    hist_s2 = hist_s1.join(hist_drops, "doc_id", "left_anti").localCheckpoint()
    # spread (opt r13): three tokenize/line passes consume the
    # checkpointed history survivors — parallelism floor once, no-op at
    # corpus scale. The key set is metadata-sized and materialized
    # eagerly so no later job replays the history line explode.
    hs2 = spread(hist_s2)
    bkeys = _frozen_boiler_keys(hs2).localCheckpoint()
    return bkeys, _lang_counts(_boiler_quality(hs2, bkeys)).localCheckpoint()


@register(
    "q350_incremental_frozen_chain",
    oracle=_Q350_ORACLE,
    tags=("curation", "incremental", "boilerplate", "llm"),
)
def q350_incremental_frozen_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    inc = _incremental_near_dedup(
        spark, sf_dir, "q350: frozen-epoch history state", _q350_history_state
    )
    bkeys, hist_counts = inc.state
    # 3. quality: Gopher rules + the FROZEN boiler filter INLINE
    # (spread: two tokenize passes over the checkpointed batch
    # survivors — opt r13 parallelism floor, no-op at corpus scale)
    b_s3 = _boiler_quality(spread(inc.b_s2), bkeys).localCheckpoint()
    return _incremental_report(inc, b_s3, hist_counts, (bkeys, "3_boiler_keys"))


# ---------------------------------------------------------------------------
# q349: a training-data RELEASE is a VERSIONED TABLE (VERDICT r12 item
# 2) — the missing join between the curation chain (q330/q344) and the
# lakehouse lifecycle (sources/versioned.py). The composition's shard
# assignment is not a report, it is the artifact a training run reads;
# this row publishes it as a COW-manifest versioned table, one MERGE
# per release epoch, and proves the contents by reading the table BACK
# through time travel. It runs on q344's incremental skeleton:
#
#   hook = epoch 1 (the prior publish run): the full boilerless chain
#     over the HISTORY split (q344's premise made concrete) — near-dup
#     survivors -> Gopher quality -> mixture under history-only
#     per-lang counts -> per-doc shard assignment — written with
#     create_table(partition_col='lang') as version 1; it returns the
#     history per-lang counts;
#   epoch 2 (the incremental publish): q344's batch chain (stages 1-4
#     against the history state, mixture under MERGED counts) ->
#     per-doc shards ranked among the batch's survivors (append-only,
#     q235 rule) — merge_version(key=doc_id) as version 2. Epoch
#     doc_ids are disjoint, so the MERGE is a pure insert: version 1's
#     rows are carried binary-identical (untouched partitions keep
#     their immutable dirs; q334's RESTORE and q16x's CDC/diff apply
#     to this table unchanged).
#
# Output: per-(version, lang, shard) doc counts READ FROM THE TABLE —
# version 1 via read_version(v=1) time travel AFTER version 2 was
# committed, version 2 via the latest snapshot. The ORACLE recomputes
# both epochs' shard relations from the raw corpus, so a green row
# proves release(v1) == the history chain's shard relation, and
# release(v2) == v1 + exactly the q344 batch shard relation — i.e. the
# published manifest IS the q344 composition, with history rows frozen
# across epochs.
#
# Scale shape: everything upstream is q344's (nothing quadratic in
# |history|); the release write is one partitioned parquet write per
# epoch + a metadata-sized manifest swap; the MERGE's driver work is
# the touched-partition value list only. Reference anchor: replaces
# the reference's full-overwrite publish (ingestion.py:31-38,
# if_exists='replace') with an immutable, time-travelable release log.
# ---------------------------------------------------------------------------


_Q349_ORACLE = (
    _incremental_s2_sql()
    + _GOPHER_S3_SQL
    + "-- epoch 1: mixture + shards under HISTORY-ONLY counts\n"
    + _mixture_sql(
        ("plh", "toth", "threshh", "hs4", "hshards"),
        count_scope=" WHERE is_hist",
        s4_keep="is_hist AND ",
    )
    + ",\n-- epoch 2: q344's batch mixture + shards under MERGED counts\n"
    + _mixture_sql(
        ("per_lang", "tot", "thresh", "bs4", "bshards"), s4_keep="NOT is_hist AND "
    )
    + """
SELECT CAST(1 AS INT) AS version, lang, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hshards GROUP BY 2, 3
UNION ALL
SELECT CAST(2 AS INT), lang, shard, CAST(COUNT(*) AS BIGINT)
FROM (SELECT lang, shard FROM hshards
      UNION ALL SELECT lang, shard FROM bshards)
GROUP BY 2, 3
"""
)


@register(
    "q349_release_manifest",
    oracle=_Q349_ORACLE,
    tags=("curation", "lakehouse", "versioned", "llm"),
)
def q349_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import create_table, merge_version, read_version

    # ---- the release table root (driver-side prep, cheap)
    table_dir = fresh_dir("versioned", prefix=f"release_{sf_key(sf_dir)}")

    def _publish_epoch1(hist_s1: DataFrame, hist_drops: DataFrame) -> DataFrame:
        # checkpointed: the epoch-1 publish AND the epoch-2 mixture
        # state both read the history near-dup survivors
        hist_s2 = hist_s1.join(hist_drops, "doc_id", "left_anti").localCheckpoint()
        # spread (opt r13): parallelism floor over the checkpointed
        # stage output before the tokenize pass; no-op at corpus scale
        hist_s3 = _q330_gopher(spread(hist_s2))
        hist_counts = _lang_counts(hist_s3).localCheckpoint()
        # version 1 = the history epoch
        create_table(_mixture_and_shards(hist_s3, hist_counts), table_dir, "lang")
        return hist_counts

    inc = _incremental_near_dedup(
        spark, sf_dir, "q349: epoch-1 history publish", _publish_epoch1
    )

    # ---- version 2 = MERGE the batch epoch (disjoint keys -> insert)
    b_s3 = _q330_gopher(spread(inc.b_s2))
    b_release = _mixture_and_shards(b_s3, _merged_counts(inc.state, b_s3))
    merge_version(spark, table_dir, b_release, key_cols=["doc_id"])

    # ---- prove the releases by reading the TABLE back (time travel)
    def _rollup(df: DataFrame, version: int) -> DataFrame:
        return _shard_counts(df).select(
            F.lit(version).cast("int").alias("version"), "lang", "shard", "n_docs"
        )

    return _rollup(read_version(spark, table_dir, version=1), 1).unionByName(
        _rollup(read_version(spark, table_dir), 2)
    )
