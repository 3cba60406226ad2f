"""SURVEY §2.10 closure: Python UDTF and grouped-agg UDAF under the
differential gate.

The reference calls no UDFs (§2.10's row exists because its API surface
does); the modern-Spark counterparts are demonstrated the Spark-4 way:

- q107: a Python UDTF (table function) lateral-joined per document —
  the one Python boundary whose OUTPUT is rows, not scalars. Arrow-
  optimized (``useArrow=True``); the oracle replays the expansion with
  DuckDB unnest + generate_subscripts. Downstream aggregation keeps the
  compared result compact.
- q108: a pandas grouped-agg UDAF computing a per-group XOR set
  signature over 60-bit md5 values. XOR is associative, commutative and
  exact on integers — the rare custom aggregate that is deterministic
  under ANY partitioning/order — and DuckDB's bit_xor replays it
  value-exactly (the md5-prefix trick from llm/dedup_q). Scale note:
  grouped-agg pandas UDFs do not partial-aggregate; at fact scale use
  Spark's built-in ``bit_xor`` (JVM, map-side combine) for this exact
  signature — q108 exists to exercise the CUSTOM-UDAF path.

Both run Python where Python pays (row-generating expansion; a fold
numpy does in one reduce); the hash inputs themselves are computed
JVM-side so Arrow traffic is one long per row, not the text.
"""

from __future__ import annotations

from typing import Iterator, Tuple  # noqa: UP035 — pandas_udf resolves string hints

import pandas as pd  # module scope: pandas_udf resolves string type hints

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from ..catalog import load_table
from ..llm.text import TOKEN_RE, TOKENS_SQL
from ..operators.sampling import md5_60, md5_60_sql
from ..registry import register

_Q107_ORACLE = f"""
WITH ex AS (
  SELECT doc_id,
         generate_subscripts({TOKENS_SQL}, 1) AS pos,
         unnest({TOKENS_SQL}) AS tok
  FROM documents
)
SELECT length(tok) AS tok_len,
       COUNT(*) AS n_tokens,
       CAST(SUM(pos) AS BIGINT) AS sum_pos,
       MIN(doc_id) AS min_doc
FROM ex
GROUP BY 1
"""


@udtf(returnType="pos int, tok string", useArrow=True)
class TokenPositions:
    """(1-based position, token) per whitespace token of the input."""

    def eval(self, text: str):
        if text:
            for i, t in enumerate(text.split()):
                yield i + 1, t


@register("q107_udtf_token_positions", oracle=_Q107_ORACLE, tags=("udtf", "python"))
def q107_udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("token_positions", TokenPositions)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__q107_docs")
    return spark.sql(
        """
        SELECT length(tp.tok) AS tok_len,
               COUNT(*) AS n_tokens,
               SUM(tp.pos) AS sum_pos,
               MIN(d.doc_id) AS min_doc
        FROM __q107_docs d, LATERAL token_positions(d.text) tp
        GROUP BY 1
        """
    )


_Q108_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       bit_xor({md5_60_sql("text")})
         AS xor_signature
FROM documents
GROUP BY lang
"""


@register("q108_udaf_xor_signature", oracle=_Q108_ORACLE, tags=("udaf", "python"))
def q108_udaf_xor_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @pandas_udf("long")
    def xor_agg(h: pd.Series) -> int:
        return int(np.bitwise_xor.reduce(h.to_numpy(dtype=np.int64)))

    # grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas agg too
    @pandas_udf("long")
    def count_agg(h: pd.Series) -> int:
        return len(h)

    d = load_table(spark, sf_dir, "documents")
    h = md5_60("text")
    return (
        d.select("lang", h.alias("h"))
        .groupBy("lang")
        .agg(count_agg("h").alias("n_docs"), xor_agg("h").alias("xor_signature"))
    )


# ---------------------------------------------------------------------------
# q168: Arrow-optimized scalar Python UDF — the remaining cell of the
# Python-boundary matrix (q39 pandas_udf, q57 cogrouped applyInPandas,
# q55 withState, q107 UDTF, q108 grouped-agg UDAF; this is the
# row-at-a-time API with ``useArrow=True``, which batches rows through
# Arrow instead of pickling one at a time — measured 2-5x over legacy
# pickle UDFs, still ~10x behind pandas_udf; registered here as API
# surface with an honest "prefer the vectorized forms" warning, and
# deliberately NOT used by any other query).
# ---------------------------------------------------------------------------

_Q168_ORACLE = """
SELECT doc_id, md5(reverse(text)) AS rsig,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


@register("q168_arrow_scalar_udf", oracle=_Q168_ORACLE, tags=("python", "udf", "arrow"))
def q168_arrow_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    # ASCII-corpus assumption (ADVICE r3): Python s[::-1] reverses CODE
    # POINTS while DuckDB reverse() operates on grapheme clusters — the
    # md5 signatures agree only while documents.text stays free of
    # multi-codepoint graphemes (combining marks, emoji ZWJ), which the
    # synthetic fixtures guarantee. A byte-level reverse is not portable:
    # DuckDB reverse() is VARCHAR-only (no BLOB overload, verified).
    @F.udf(returnType="string", useArrow=True)
    def rev_md5(s: str) -> str:
        return hashlib.md5(s[::-1].encode("utf-8")).hexdigest()

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rev_md5("text").alias("rsig"),
        F.length("text").cast("int").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# q244: POLYMORPHIC Python UDTF — the Spark-4 ``analyze()`` static
# method derives the output schema from the call-site arguments (here
# the n-gram width names its own output column), closing the last
# §2.10 Python-boundary cell (q107 covers the static-returnType UDTF).
# The lateral expansion itself is the row-generating Python path; the
# downstream aggregation is ordinary JVM group-by, so Python touches
# each token window exactly once. Oracle: DuckDB replays the expansion
# with generate_series + list_transform (q45's shingle pattern).
# ---------------------------------------------------------------------------

_Q244_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
),
ex AS (
  SELECT doc_id,
         unnest(generate_series(1, len(tk) - 2)) AS pos,
         unnest(list_transform(
           generate_series(1, len(tk) - 2),
           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
         )) AS gram
  FROM t
  WHERE len(tk) >= 3
)
SELECT gram,
       COUNT(*) AS n_occ,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS sum_pos
FROM ex
GROUP BY 1
HAVING COUNT(*) >= 2
"""


@register("q244_udtf_polymorphic_ngrams", oracle=_Q244_ORACLE, tags=("udtf", "python", "text"))
def q244_udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import IntegerType, StringType, StructType

    @udtf
    class DocNGrams:
        """(1-based position, n-gram) per whitespace-token window; the
        gram column is NAMED by the width argument (gram3, gram4, ...)
        — schema resolved per call site via analyze()."""

        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int) or n.value < 1:
                raise ValueError("n must be a positive integer literal")
            return AnalyzeResult(
                schema=StructType()
                .add("pos", IntegerType())
                .add(f"gram{n.value}", StringType())
            )

        def eval(self, text: str, n: int):
            if text:
                toks = text.split()
                for i in range(len(toks) - n + 1):
                    yield i + 1, " ".join(toks[i : i + n])

    spark.udtf.register("doc_ngrams", DocNGrams)
    from ..catalog import spread

    # spread (opt r13): the row-at-a-time UDTF eval ran in ONE Python
    # worker off the single-row-group scan; the floor fans the lateral
    # expansion across the worker pool. No-op at corpus scale.
    spread(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "__q244_docs"
    )
    return spark.sql(
        """
        SELECT g.gram3 AS gram,
               COUNT(*) AS n_occ,
               COUNT(DISTINCT d.doc_id) AS n_docs,
               SUM(g.pos) AS sum_pos
        FROM __q244_docs d, LATERAL doc_ngrams(d.text, 3) g
        GROUP BY 1
        HAVING COUNT(*) >= 2
        """
    )


# ---------------------------------------------------------------------------
# q264: mapInArrow — the LAST cell of the Python-boundary matrix (q39
# pandas_udf, q57 cogrouped applyInPandas, q55 withState, q107/q244
# UDTF, q108 grouped-agg UDAF, q168 Arrow scalar UDF, q52 mapInPandas;
# this is the RecordBatch-level API). Unlike mapInPandas, batches stay
# in Arrow end-to-end — no pandas materialization, no object boxing —
# so per-batch work runs as pyarrow.compute C++ kernels
# (utf8_split_whitespace / binary_length) over zero-copy buffers. The
# right tier for byte-shovelling feature extraction where even pandas
# conversion is measurable; the per-doc features then aggregate
# JVM-side. Oracle replays bytes (strlen) vs chars (length) and the
# whitespace tokenization in DuckDB.
# ---------------------------------------------------------------------------

_Q264_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(SUM(length({TOKENS_SQL})) AS BIGINT)
         AS total_tokens,
       CAST(MAX(strlen(text) - length(text)) AS BIGINT) AS max_multibyte
FROM documents
GROUP BY 1
"""


@register("q264_mapinarrow_doc_bytes", oracle=_Q264_ORACLE, tags=("python", "arrow", "mapInArrow", "text"))
def q264_mapinarrow_doc_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def doc_features(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            n_bytes = pc.binary_length(pc.cast(text, pa.binary()))
            n_chars = pc.utf8_length(text)
            n_tokens = pc.list_value_length(pc.utf8_split_whitespace(text))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("lang"),
                    pc.cast(n_bytes, pa.int64()),
                    pc.cast(n_tokens, pa.int64()),
                    pc.cast(pc.subtract(n_bytes, n_chars), pa.int64()),
                ],
                names=["doc_id", "lang", "n_bytes", "n_tokens", "n_multibyte"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    feats = d.mapInArrow(
        doc_features,
        "doc_id long, lang string, n_bytes long, n_tokens long, n_multibyte long",
    )
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_multibyte").alias("max_multibyte"),
    )


# ---------------------------------------------------------------------------
# q265: grouped applyInArrow — the Arrow-native sibling of q57's
# cogrouped applyInPandas: each label's embedding block arrives as ONE
# pyarrow.Table (zero-copy from the JVM), the fixed-width FLOAT[64]
# list column flattens to a (n, 64) numpy view without per-row boxing,
# and the per-group geometry (vector norms) reduces in float64. The
# shape to reach for when per-group math is numpy-friendly but the
# pandas object layer would dominate (wide fixed-size vectors).
# Determinism contract: per-vector norms round6'd BEFORE the group
# mean (both engines), group mean round6'd after — the established
# round-after-double-fold convention; max/min are order-free.
# Scale: state is one label's block; labels partition the corpus, so
# group size is corpus/|labels| — for unbounded groups switch to the
# two-level mergeable-moments aggregate (q171), which this replays.
# ---------------------------------------------------------------------------

_Q265_ORACLE = """
WITH norms AS (
  SELECT label,
         round(sqrt(list_aggregate(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')), 6) AS norm6
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(AVG(norm6), 6) AS mean_norm,
       round(MAX(norm6), 6) AS max_norm,
       round(MIN(norm6), 6) AS min_norm
FROM norms
GROUP BY label
"""


@register("q265_applyinarrow_norms", oracle=_Q265_ORACLE, tags=("python", "arrow", "applyInArrow", "embeddings"))
def q265_applyinarrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    def label_stats(tbl):
        import numpy as np
        import pyarrow as pa

        emb = tbl.column("embedding").combine_chunks()
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        mat = flat.reshape(len(tbl), -1)
        norms = np.round(np.sqrt((mat * mat).sum(axis=1)), 6)
        return pa.table(
            {
                "label": pa.array([tbl.column("label")[0].as_py()], pa.int32()),
                "n_vecs": pa.array([len(tbl)], pa.int64()),
                "mean_norm": pa.array([round(float(norms.mean()), 6)], pa.float64()),
                "max_norm": pa.array([round(float(norms.max()), 6)], pa.float64()),
                "min_norm": pa.array([round(float(norms.min()), 6)], pa.float64()),
            }
        )

    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return e.groupBy("label").applyInArrow(
        label_stats,
        "label int, n_vecs long, mean_norm double, max_norm double, min_norm double",
    )


# ---------------------------------------------------------------------------
# q271: UDTF with a TABLE argument (Spark 4) — `FROM gap_stats(TABLE(v)
# PARTITION BY user_id ORDER BY us, event_id)`: the planner shuffles by
# the PARTITION BY key and streams each partition's rows through ONE
# UDTF instance in ORDER BY order (eval per row, terminate at partition
# end). This is the SQL-surface form of a custom per-key sequential
# operator — per-user inter-event gap statistics here — the shape that
# otherwise needs applyInPandas; unlike a lateral-join UDTF (q107/q244)
# the function sees a whole ordered partition, not one row. The ORDER
# BY carries a total order (ts micros, event_id) so the scan sequence —
# hence the result — is deterministic. Oracle: lag-window replay.
# Scale: one shuffle on user_id; per-partition Python state is O(1).
# ---------------------------------------------------------------------------

_Q271_ORACLE = """
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS gap_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(MAX(gap_us), 0) AS BIGINT) AS max_gap_us
FROM seq
GROUP BY user_id
"""


@register("q271_udtf_table_argument", oracle=_Q271_ORACLE, tags=("udtf", "python", "table-arg", "sessionization"))
def q271_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    @udtf(returnType="user_id bigint, n_events bigint, max_gap_us bigint")
    class GapStats:
        def __init__(self):
            self.user = None
            self.prev = None
            self.n = 0
            self.max_gap = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            if self.prev is not None:
                self.max_gap = max(self.max_gap, row["us"] - self.prev)
            self.prev = row["us"]

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.max_gap

    spark.udtf.register("gap_stats", GapStats)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    ev.createOrReplaceTempView("__q271_events")
    return spark.sql(
        "SELECT * FROM gap_stats(TABLE(__q271_events) "
        "PARTITION BY user_id ORDER BY (us, event_id))"
    )


# ---------------------------------------------------------------------------
# q303: UDTF TABLE argument via the DataFrame asTable() API (Spark 4) —
# q271's capability (a whole ordered partition streamed through one
# UDTF instance), expressed programmatically:
# ``Fn(df.asTable().partitionBy(...).orderBy(...))`` instead of the SQL
# string ``FROM fn(TABLE(v) PARTITION BY ... ORDER BY (...))``. Same
# planner contract — one shuffle on the partition key, rows delivered
# in ORDER BY order, a fresh instance per partition, terminate() at
# partition end — so pipelines can compose custom sequential operators
# without a temp view + SQL round-trip. The computation is distinct
# from q271's gap stats: per-user event-type SWITCH counts (a Markov-
# chain transition tally, the sequential shape lag() replays). Total
# order (ts micros, event_id) makes the scan sequence deterministic.
# Probed Spark 4.1.2 (2026-08-15).
# ---------------------------------------------------------------------------

_Q303_ORACLE = """
WITH seq AS (
  SELECT user_id,
         event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_type IS NOT NULL AND event_type <> prev_type
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
FROM seq
GROUP BY user_id
"""


@register(
    "q303_udtf_astable_api",
    oracle=_Q303_ORACLE,
    tags=("udtf", "python", "table-arg", "dataframe-api"),
)
def q303_udtf_astable_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    @udtf(returnType="user_id bigint, n_events bigint, n_switches bigint")
    class TypeSwitches:
        def __init__(self):
            self.user = None
            self.prev = None
            self.n = 0
            self.switches = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            t = row["event_type"]
            if self.prev is not None and t != self.prev:
                self.switches += 1
            self.prev = t

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.switches

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    return TypeSwitches(
        ev.asTable().partitionBy("user_id").orderBy("us", "event_id")
    )


# ---------------------------------------------------------------------------
# q311: ITERATOR pandas UDFs — the missing leg of the Python-boundary
# matrix (q39 scalar pandas_udf, q168 Arrow scalar, q264 mapInArrow,
# q265 applyInArrow, q57 cogrouped, q55 withState, q107/q244/q271/q303
# UDTF, q108 UDAF): ``Iterator[pd.Series] -> Iterator[pd.Series]`` and
# the multi-column ``Iterator[Tuple[...]]`` face. The iterator form is
# the production shape for model-scoring pipelines: the function body
# runs ONCE per python worker per task, so expensive setup (loading a
# scoring model / codebook / tokenizer — here a weight table and a
# compiled pattern) is amortized across every Arrow batch the task
# streams through it, instead of re-running per batch like a plain
# scalar pandas_udf's closure would. At 100 TB with ~10k-row Arrow
# batches that is the difference between one model load per TASK and
# one per 10k rows. The once-per-iterator contract is pinned with
# accumulators in tests/test_plans.py (inits == tasks while
# batches > tasks under a small maxRecordsPerBatch).
#
# Deterministic stand-in for the "model": a 5-term lexicon scorer
# (integer weights, whitespace tokens — q264's tokenization) and a
# per-lang multiplier; the oracle replays both as literal VALUES
# tables. Everything post-UDF aggregates JVM-side.
# ---------------------------------------------------------------------------

_Q311_LEXICON = {"scan": 3, "join": 2, "sort": 2, "the": 1, "a": 1}
_Q311_LANG_MULT = {"en": 1, "fr": 2, "es": 3, "de": 4, "zh": 5}

_Q311_ORACLE = """
WITH lex(tok, w) AS (
  VALUES ('scan', 3), ('join', 2), ('sort', 2), ('the', 1), ('a', 1)
),
mult(lang, m) AS (
  VALUES ('en', 1), ('fr', 2), ('es', 3), ('de', 4), ('zh', 5)
),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
  FROM documents
),
scored AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         COALESCE((SELECT SUM(l.w) FROM toks t JOIN lex l ON t.tok = l.tok
                   WHERE t.doc_id = d.doc_id), 0) AS lex_score
  FROM documents d
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.lex_score) AS BIGINT) AS total_lex,
       CAST(SUM(s.n_chars * m.m) AS BIGINT) AS total_char_load
FROM scored s JOIN mult m ON s.lang = m.lang
GROUP BY 1
"""


@register(
    "q311_iterator_pandas_udf",
    oracle=_Q311_ORACLE,
    tags=("python", "udf", "iterator", "arrow"),
)
def q311_iterator_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("long")
    def lex_score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time init per python worker per task: the "model load"
        import re

        weights = dict(_Q311_LEXICON)
        pat = re.compile(TOKEN_RE)
        for texts in batches:
            yield texts.map(
                lambda t: sum(weights.get(tok, 0) for tok in pat.findall(t.lower()))
            ).astype("int64")

    @pandas_udf("long")
    def char_load(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        mult = dict(_Q311_LANG_MULT)  # init once; applied per batch
        for n_chars, langs in batches:
            yield (n_chars * langs.map(mult)).astype("int64")

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    scored = d.select(
        "lang",
        lex_score(F.col("text")).alias("lex"),
        char_load(F.col("n_chars"), F.col("lang")).alias("load"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("lex").alias("total_lex"),
        F.sum("load").alias("total_char_load"),
    )


# ---------------------------------------------------------------------------
# q331: pandas UDAF as a WINDOW function (WindowInPandas) — the last
# Python-boundary face the matrix was missing: q108 runs a grouped-agg
# pandas UDF in GROUP BY position (AggregateInPandas), but the SAME
# decorator in WINDOW position plans a different physical operator —
# ArrowWindowPython on Spark 4.x (WindowInPandasExec's Arrow-native
# successor) — with different batch mechanics (for bounded ROWS
# frames Spark ships each partition once plus per-row frame bounds, and
# the worker evaluates the UDAF per frame slice — not one Arrow batch
# per frame). This is the shape of any custom rolling metric the
# built-in window aggregates can't express (rolling model score,
# rolling robust statistic); the exemplar here is a rolling RMS over
# the last 3 purchase amounts per user.
#
# Determinism: amounts become integer cents JVM-side (round(value*100)
# — exact, value has 2dp), the UDAF's sum-of-squares is exact int64
# (cents^2 * 3 << 2^53), and the only float ops are one division, one
# sqrt, and the final shared round(6) — IEEE-identical in both engines.
# Frame order is total: (ts, event_id) with event_id unique.
#
# Scale: one shuffle on user_id; WindowInPandas streams each user's
# rows through the worker once. The built-in COUNT rides a separate
# JVM Window over the same spec (mixed-type window functions split
# into two Window nodes over one sort — pinned in tests/test_plans.py).
# ---------------------------------------------------------------------------

_Q331_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
w AS (
  SELECT user_id, event_id,
         CAST(SUM(cents * cents) OVER fr AS BIGINT) AS ss,
         COUNT(*) OVER fr AS n
  FROM e
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       round(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS rms_cents,
       CAST(n AS INT) AS frame_n
FROM w
"""


@register(
    "q331_pandas_window_udaf",
    oracle=_Q331_ORACLE,
    tags=("python", "udf", "window", "arrow"),
)
def q331_pandas_window_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    @pandas_udf("double")
    def rolling_rms(cents: pd.Series) -> float:
        # exact int64 sum of squares; floats only at divide+sqrt
        import math

        ss = int((cents.astype("int64") ** 2).sum())
        return math.sqrt(float(ss) / float(len(cents)))

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(rolling_rms("cents").over(w), 6).alias("rms_cents"),
        F.count(F.lit(1)).over(w).cast("int").alias("frame_n"),
    )


# ---------------------------------------------------------------------------
# q335: BARRIER-mode mapInPandas — the gang-scheduling face of the
# Python boundary (mapInPandas(..., barrier=True), SPARK-42896). In
# ordinary scheduling Spark launches tasks as slots free up; a
# data-parallel TRAINING step (each worker computes a local partial,
# then all-reduces over a side channel) deadlocks under that policy —
# worker 0's allreduce waits forever for worker 7 that hasn't been
# scheduled. barrier=True launches ALL tasks of the stage together or
# not at all (and restarts the whole stage on any task failure — the
# fate-sharing training frameworks assume). The exemplar is the
# local-statistics step of synchronized data-parallel training: shard
# by group key, each gang member computes its shard's batch stats in
# one pandas pass.
#
# Determinism: rows are hash-repartitioned BY THE GROUP COLUMN, so
# every group lands wholly in one task and the per-group stats are
# partitioning-independent (int64-exact count/sum) — the result is
# identical at any gang width; what the barrier changes is scheduling,
# which the plan pin (the trailing barrier flag on the MapInPandas
# node) makes visible. Oracle: plain GROUP BY.
# ---------------------------------------------------------------------------

_Q335_SHARDS = 8

_Q335_ORACLE = f"""
SELECT doc_id % {_Q335_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


@register(
    "q335_barrier_shard_stats",
    oracle=_Q335_ORACLE,
    tags=("python", "barrier", "arrow", "training"),
)
def q335_barrier_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A barrier stage launches all its tasks together, so the gang can
    # be no wider than the session's task slots; several shards may
    # then share one gang member, which groups them apart below.
    gang = min(_Q335_SHARDS, spark.sparkContext.defaultParallelism)
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % _Q335_SHARDS).alias("shard"),
            "n_chars",
        )
        .repartition(gang, "shard")
    )

    def shard_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one gang member per shard partition: local batch statistics
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts)
        out = (
            pdf.groupby("shard", sort=True)
            .agg(n_docs=("shard", "size"), total_chars=("n_chars", "sum"))
            .reset_index()
        )
        out["n_docs"] = out["n_docs"].astype("int64")
        out["total_chars"] = out["total_chars"].astype("int64")
        yield out

    return d.mapInPandas(
        shard_stats,
        "shard bigint, n_docs bigint, total_chars bigint",
        barrier=True,
    )
