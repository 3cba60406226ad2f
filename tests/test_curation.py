"""Semantics tests for the curation operators (q139-q141): PII is
actually gone from redacted text, the boilerplate-line rule drops
exactly the high-frequency lines, and the BPE greedy merge resolves
overlapping pair runs left-to-right."""

from __future__ import annotations

from pyspark.sql import functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q import (
    _BOILER_DF,
    _EMAIL_RE,
    _IP_RE,
    _PHONE_RE,
    _augmented_text,
    q139_pii_redaction,
    q140_boilerplate_lines,
    q141_bpe_merges,
)

from .conftest import SF_SMALL


def test_pii_redaction_removes_all_matches(spark):
    """After the redaction chain, none of the three patterns matches the
    redacted text — re-derive the redacted string and re-scan it."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table

    d = load_table(spark, SF_SMALL, "documents").limit(50)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(_augmented_text(), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    leftovers = (
        d.select(red.alias("r"))
        .select(
            (
                F.size(F.regexp_extract_all("r", F.lit(_EMAIL_RE), 0))
                + F.size(F.regexp_extract_all("r", F.lit(_PHONE_RE), 0))
                + F.size(F.regexp_extract_all("r", F.lit(_IP_RE), 0))
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert leftovers == 0


def test_pii_counts_positive(spark):
    """Every augmented doc carries exactly one email, phone and IP —
    the regexes face real matches, not an always-empty corpus."""
    out = q139_pii_redaction(spark, SF_SMALL)
    bad = out.filter(
        (F.col("n_emails") != 1) | (F.col("n_phones") != 1) | (F.col("n_ips") != 1)
    ).count()
    assert bad == 0


def test_boilerplate_threshold(spark):
    """Re-derive line document-frequencies independently and check the
    query dropped exactly the lines with df >= threshold."""
    out = q140_boilerplate_lines(spark, SF_SMALL)
    # Independent recomputation at line granularity:
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table

    d = load_table(spark, SF_SMALL, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    n_lines = F.floor((F.size("t") + 2) / 3).cast("int")
    lines = (
        d.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_lines - 1),
                    lambda i: F.array_join(F.slice("t", i * 3 + 1, 3), " "),
                )
            ).alias("line"),
        )
    )
    df_tbl = lines.groupBy("line").agg(F.countDistinct("doc_id").alias("df"))
    expected = (
        lines.join(df_tbl, "line")
        .groupBy("doc_id")
        .agg(F.sum((F.col("df") >= _BOILER_DF).cast("int")).cast("int").alias("nb"))
    )
    joined = out.join(expected, "doc_id")
    assert joined.filter(F.col("n_boiler") != F.col("nb")).count() == 0
    # the rule must actually fire somewhere
    assert out.agg(F.sum("n_boiler")).collect()[0][0] > 0


def test_bpe_greedy_run_parity(spark):
    """'aaaa' under merge (a,a): greedy left-to-right accepts positions
    0 and 2 -> 'aa','aa'; never the overlapping 1. Verified through the
    full query on a corpus engineered so (a,a) is the top pair."""
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa xy")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("curation_bpe_micro")
    # run the same program the registered query runs, against the micro corpus
    import brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q as cq

    orig = cq.load_table
    try:
        cq.load_table = lambda _s, _sf, _n: df  # type: ignore[assignment]
        out = {(r["it"]): r for r in q141_bpe_merges(spark, "unused").collect()}
    finally:
        cq.load_table = orig
    # iteration 1: (a,a) appears 2x per 'aaaa' word-type (greedy), weight 3
    assert (out[1]["left_sym"], out[1]["right_sym"]) == ("a", "a")
    assert out[1]["pair_count"] == 3 * 3  # 3 adjacent pairs x weight 3 pre-merge
    # iteration 2: after 'aaaa'->'aa aa', top pair is (aa, aa) with count 3
    assert (out[2]["left_sym"], out[2]["right_sym"]) == ("aa", "aa")
    assert out[2]["pair_count"] == 3


def test_random_projection_is_signed_sum(spark):
    """Each projected value equals the sum of components whose sign bit
    is +1 minus the sum of those whose sign bit is -1 — re-derive one
    vector's projection in Python from the same md5 parity rule."""
    import hashlib

    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q import q139_pii_redaction  # noqa: F401
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.similarity_q import (
        q142_random_projection,
    )

    out = {
        (r["dim"]): r["val"]
        for r in q142_random_projection(spark, SF_SMALL)
        .filter(F.col("vec_id") == 0)
        .collect()
    }
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table

    vec = (
        load_table(spark, SF_SMALL, "embeddings")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    )
    for j in (0, 7):
        acc = 0.0
        for i, x in enumerate(float(c) for c in vec):
            h = hashlib.md5(f"{j}_{i}".encode()).hexdigest()
            sign = (int(h[0], 16) % 2) * 2 - 1
            acc += x * sign
        assert abs(out[j] - round(acc, 6)) < 1e-9


def test_semdedup_drops_planted_twins(spark):
    """Every planted twin that lands in its source's cell is dropped
    against exactly that source, at cosine >= tau."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.similarity_q import (
        _SEMDEDUP_TAU,
        q143_semdedup,
    )

    rows = q143_semdedup(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        # dropped ids are the planted twins; keeper is their source
        assert r["vec_id"] >= 100000
        assert r["keeper_id"] == r["vec_id"] - 100000
        assert r["score"] >= _SEMDEDUP_TAU


def test_wav_decoder_walks_chunks_and_validates():
    """The RIFF parser is a real chunk walker: a LIST chunk inserted
    before 'data' must not break it, and garbage must be rejected."""
    import struct

    import numpy as np
    import pytest as _pytest

    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.codecs import (
        WAV_RATE,
        decode_wav,
        encode_wav,
    )

    base = encode_wav(3)
    ref = decode_wav(base)
    assert ref["sample_rate"] == WAV_RATE and ref["n_samples"] == 160 + 3 * 80

    # rebuild with an extra odd-sized chunk between fmt and data
    fmt_chunk = base[12:36]
    data_chunk = base[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # word-aligned
    body = fmt_chunk + extra + data_chunk
    rebuilt = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert decode_wav(rebuilt) == ref

    with _pytest.raises(ValueError):
        decode_wav(b"garbage bytes that are not RIFF at all")


def test_bmp_decoder_handles_top_down_and_padding():
    """Negative height (top-down row order) must decode to the same
    channel means; width 5 exercises the 4-byte row padding."""
    import struct

    import pytest as _pytest

    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.codecs import (
        decode_bmp,
        encode_bmp,
    )

    base = encode_bmp(4)  # width 5+0... media_id 4 -> w=5+0=5? w = 5 + 4%4 = 5
    ref = decode_bmp(base)
    assert ref["width"] == 5 + 4 % 4 and ref["height"] == 3 + 4 % 3

    # flip to top-down: negate height and reverse the pixel rows
    w, h = ref["width"], ref["height"]
    stride = (w * 3 + 3) & ~3
    off = struct.unpack_from("<I", base, 10)[0]
    rows = [base[off + i * stride : off + (i + 1) * stride] for i in range(h)]
    flipped = base[:off] + b"".join(reversed(rows))
    flipped = (
        flipped[:22] + struct.pack("<i", -h) + flipped[26:]
    )  # height field at offset 22
    assert decode_bmp(flipped) == ref

    with _pytest.raises(ValueError):
        decode_bmp(b"NOTABMP")


def test_bpe_oracle_survives_merge_exhaustion(spark):
    """Degenerate corpus (every word one char): merges exhaust at
    iteration 1. The trainer breaks gracefully; the ORACLE must agree —
    its m{n} stage is a LEFT JOIN ON TRUE against the empty top-pair
    CTE, so s{n} passes through unchanged instead of annihilating
    (ADVICE r3: a CROSS JOIN there returned 0 oracle rows while Spark
    returned full per-doc stats). Both engines, both queries, compared."""
    import duckdb

    import brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q as cq
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q import (
        _Q141_ORACLE,
        _Q153_ORACLE,
        q141_bpe_merges,
        q153_bpe_apply,
    )

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c")], "doc_id long, text string"
    )
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM (VALUES "
                "(1, 'a b c a'), (2, 'b c')) t(doc_id, text)")

    orig = cq.load_table
    try:
        cq.load_table = lambda _s, _sf, _n: df  # type: ignore[assignment]
        merges = q141_bpe_merges(spark, "unused").collect()
        stats = {r["doc_id"]: (r["n_tokens"], r["n_subwords"])
                 for r in q153_bpe_apply(spark, "unused").collect()}
    finally:
        cq.load_table = orig

    oracle_merges = con.execute(_Q141_ORACLE).fetchall()
    oracle_stats = {r[0]: (r[1], r[3]) for r in con.execute(_Q153_ORACLE).fetchall()}
    con.close()

    assert merges == [] and oracle_merges == []  # exhausted on both engines
    # pass-through: every word stays a single symbol, so subwords == tokens
    assert stats == oracle_stats == {1: (4, 4), 2: (2, 2)}


def test_incremental_chain_surfaces_history_hook_error(spark, monkeypatch):
    """The incremental chains run their history hook on the one worker
    thread of ``_incremental_near_dedup``, concurrently with the batch
    verify. A hook that raises must fail the chain builder with its own
    exception — no hang, no swallowed error — and the hook must have run
    under the chain's job description."""
    from concurrent.futures import ThreadPoolExecutor

    import pytest

    import brazilian_e_commerce_data_pipeline_analytics_spark.llm.curation_q as cq
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    from .conftest import SF_SMALL

    class HistoryStateError(RuntimeError):
        pass

    seen = {}

    def failing_hook(hist_s1, hist_drops):
        seen["desc"] = spark.sparkContext.getLocalProperty("spark.job.description")
        hist_drops.count()  # real Spark work on the worker first
        raise HistoryStateError("history state broke")

    monkeypatch.setattr(cq, "_q344_history_state", failing_hook)
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        builder = all_queries()["q344_incremental_curation"].builder
        fut = pool.submit(builder, spark, SF_SMALL)
        with pytest.raises(HistoryStateError, match="history state broke"):
            fut.result(timeout=600)
    finally:
        pool.shutdown(wait=False)
        spark.catalog.clearCache()
    assert seen["desc"] == "q344: history near-dup state"
