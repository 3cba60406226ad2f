"""Semantics tests for the LLM-pipeline operators: MinHash-LSH recall vs
the exact Jaccard result and SimHash behavior on near-identical docs
(both through the registered q46p/q68 constructions), similarity
search, and the multimodal Arrow plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from brazilian_e_commerce_data_pipeline_analytics_spark.llm.dedup import (
    shingle_pairs_exact,
    word_shingles,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.llm.dedup_q import (
    _N_BITS,
    _simhash60,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.llm.minhash import (
    band_candidates,
    portable_signatures,
    verified_pairs,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.llm.multimodal import (
    extract_features,
    with_payload,
)
from brazilian_e_commerce_data_pipeline_analytics_spark.llm.similarity import knn_bruteforce
from brazilian_e_commerce_data_pipeline_analytics_spark.llm.text import tokens

from .conftest import SF_SMALL


BASE = "the quick brown fox jumps over the lazy dog and runs far away tonight"


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("lazy", "sleepy")
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),  # exact dup
        Row(doc_id=3, text=near),  # near dup
        Row(doc_id=4, text="completely different words about spark engines here today"),
        Row(doc_id=5, text="tiny"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows)


def test_word_shingles(spark):
    def shingles(text):
        df = spark.createDataFrame([Row(text=text)]).select(tokens("text").alias("t"))
        return df.select(word_shingles("t").alias("s")).collect()[0]["s"]

    assert sorted(shingles("a b c d")) == ["a b c", "b c d"]
    assert shingles("a b") == []


def test_exact_jaccard_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in shingle_pairs_exact(docs, "doc_id", "text", threshold=0.05).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.2 < pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_high_jaccard_pairs(docs):
    """q46p's pieces (k=32, bands=8) on the injected fixture."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in shingle_pairs_exact(docs, "doc_id", "text", threshold=0.05).collect()
    }
    sh, both = portable_signatures(docs, "doc_id", "text", n=3, k=32)
    cands = band_candidates(both, "doc_id", 32, 8)
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in verified_pairs(cands, sh, sh, both, both, "doc_a", "doc_b", k=20).collect()
    }
    # verified candidates carry the same exact jaccard values
    for pair, j in lsh.items():
        assert exact[pair] == j
    # banded LSH must recall every very-high-similarity pair
    for pair, j in exact.items():
        if j >= 0.5:
            assert pair in lsh, f"LSH missed high-jaccard pair {pair} ({j})"


def test_simhash_near_dups(docs):
    """q68's SimHash construction on the injected fixture."""
    hashes = {r["doc_id"]: r["sh"] for r in _simhash60(docs).collect()}
    assert all(len(h) == _N_BITS and set(h) <= {"0", "1"} for h in hashes.values())
    assert hashes[1] == hashes[2]  # identical docs, identical simhash
    ham13 = sum(a != b for a, b in zip(hashes[1], hashes[3]))
    ham14 = sum(a != b for a, b in zip(hashes[1], hashes[4]))
    assert ham13 < ham14  # near dup closer than unrelated doc


def test_knn_excludes_self_and_ranks(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.1]),
        Row(vec_id=3, embedding=[0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = knn_bruteforce(df, df.filter("vec_id = 1"), k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(2, 1), (3, 2)]


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello world"), Row(doc_id=2, text="x")])
    media = with_payload(docs)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == len(b"hello world")
    import hashlib

    assert feats[1]["checksum"] == hashlib.md5(b"hello world").hexdigest()
    assert feats[2]["n_bytes"] == 1
    # deterministic fake decode -> stable feature string
    assert feats[1]["feat_mean"] == feats[1]["feat_mean"]


def test_binary_roundtrip_schema(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text="payload")])
    media = with_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    row = media.collect()[0]
    assert bytes(row["payload"]) == b"payload"


def test_rolling_fingerprint_is_order_sensitive(spark):
    """The rolling hash distinguishes reordered token streams (the
    bag-of-words fingerprint deliberately does not)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.text import bow_fingerprint, rolling_fingerprint

    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="gamma beta alpha")]
    )
    rows = df.select(
        "doc_id",
        rolling_fingerprint("text").alias("roll"),
        bow_fingerprint("text").alias("bow"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["roll"] != by_id[2]["roll"]
    assert by_id[1]["bow"] == by_id[2]["bow"]


def test_shingle_frequency_cap_is_conservative(docs):
    """max_df results are a subset of the exact pairs with never-higher
    jaccard (the cap can only lose intersection, not invent it)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in shingle_pairs_exact(docs, "doc_id", "text", threshold=0.01).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in shingle_pairs_exact(
            docs, "doc_id", "text", threshold=0.01, max_df=2
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair]
    # a generous cap changes nothing
    uncapped_equiv = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in shingle_pairs_exact(
            docs, "doc_id", "text", threshold=0.01, max_df=10**6
        ).collect()
    }
    assert uncapped_equiv == exact


def test_ivf_ann_clusters_and_recall(spark):
    """IVF on 2 well-separated clusters: every query's neighbors come from
    its own cluster, scores/ranks match brute force restricted to the
    probed cells, and the plan is deterministic across runs."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.similarity import ivf_ann

    dims = 8
    # cluster A around e_0, cluster B around e_1 (orthogonal -> cosine 0)
    def vec(axis, vid):
        v = [0.01 * ((vid * 7) % 5)] * dims
        v[axis] = 10.0 + 0.1 * (vid % 3)
        return [float(x) for x in v]

    rows = [Row(vec_id=i, embedding=vec(0, i)) for i in range(10)] + [
        Row(vec_id=10 + i, embedding=vec(1, i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    queries = df.filter(F.col("vec_id").isin(0, 15))
    out = ivf_ann(
        df, queries, k=3, n_cells=2, n_probe=1, dims=dims
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 15}
    # neighbors of the axis-0 query are axis-0 vectors; axis-1 likewise
    assert all(r["neighbor_id"] < 10 for r in by_q[0])
    assert all(r["neighbor_id"] >= 10 for r in by_q[15])
    for rs in by_q.values():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3]
        scores = [r["score"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
    # determinism: identical output on a rebuilt plan
    again = ivf_ann(df, queries, k=3, n_cells=2, n_probe=1, dims=dims).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(out, key=key) == sorted(again, key=key)


def test_ivf_probe_all_cells_matches_bruteforce(spark):
    """With n_probe = n_cells every cell is scanned, so IVF must equal the
    exact brute-force top-k (same scores, same ranks)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.similarity import ivf_ann

    dims = 6
    rows = [
        Row(vec_id=i, embedding=[float((i * j + 3) % 7 + 1) for j in range(dims)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 4 == 0)
    ivf = ivf_ann(df, queries, k=4, n_cells=3, n_probe=3, dims=dims).collect()
    bf = knn_bruteforce(df, queries, k=4).collect()
    ivf_set = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in ivf}
    bf_set = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in bf}
    assert ivf_set == bf_set


def test_q98_decontamination_injected_overlap(spark, tmp_path):
    """q98 on a corpus with KNOWN cross-doc 4-gram overlap: one benchmark
    doc (doc_id % 97 == 0) whose grams partially appear in two corpus
    docs. Pins exact n_grams / n_contaminated / contamination_frac so the
    hit counting and HAVING filter are exercised independently of what
    overlap the synthetic fixtures happen to contain (ADVICE r1)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.text_q import q98_decontamination

    rows = [
        # benchmark doc (0 % 97 == 0): grams include "alpha beta gamma delta"
        Row(doc_id=0, text="alpha beta gamma delta epsilon", lang="en",
            source="bench", n_chars=30),
        # corpus doc with exactly one contaminated gram out of three
        Row(doc_id=1, text="zzz alpha beta gamma delta qqq", lang="en",
            source="web", n_chars=30),
        # corpus doc fully contained in the benchmark doc's gram set
        Row(doc_id=2, text="beta gamma delta epsilon", lang="en",
            source="web", n_chars=24),
        # clean corpus doc -> filtered out by HAVING n_contaminated > 0
        Row(doc_id=3, text="one two three four five six", lang="en",
            source="web", n_chars=27),
        # too short for any 4-gram -> contributes nothing
        Row(doc_id=4, text="tiny doc", lang="en", source="web", n_chars=8),
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["contamination_frac"])
        for r in q98_decontamination(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (3, 1, pytest.approx(1 / 3)),
        2: (1, 1, pytest.approx(1.0)),
    }


def test_q46_config_recall_floor(spark):
    """The chosen q46 config (k=32, bands=8, rows=4) must keep finding
    EVERY j>=0.8 exact pair, with zero candidates below the j<0.1 band
    (the measured property that selected it — SCALING.md recall study)."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import load_table
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.minhash import minhash_recall_portable

    d = load_table(spark, SF_SMALL, "documents")
    rec = {
        r["jacc_band"]: (r["n_hit"], r["n_exact"])
        for r in minhash_recall_portable(
            d, "doc_id", "text", n=3, k=32, bands=8
        ).collect()
    }
    for band, (hit, n) in rec.items():
        if band >= 8:
            assert hit == n, f"recall loss in band {band}: {hit}/{n}"
        if band == 0:
            assert hit == 0, f"spurious low-jaccard candidates: {hit}"


def test_incremental_neardup_only_crosses_the_split(spark):
    """q133 must pair BATCH docs with HISTORY docs only — no
    history x history or batch x batch pair can appear."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.llm.dedup_q import (
        _Q133_HIST_CUT,
        _Q133_SPLIT_SEED,
        q133_incremental_neardup,
    )
    from brazilian_e_commerce_data_pipeline_analytics_spark.operators.sampling import (
        N_BUCKETS,
        portable_bucket,
    )
    import hashlib

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}:{_Q133_SPLIT_SEED}".encode()).hexdigest()
        return int(h[:15], 16) % N_BUCKETS

    out = q133_incremental_neardup(spark, "/root/testdata/sf0.001").collect()
    assert out, "expected at least one cross-split near-dup at sf0.001"
    for r in out:
        assert bucket(r["doc_new"]) >= _Q133_HIST_CUT
        assert bucket(r["doc_hist"]) < _Q133_HIST_CUT
        assert r["jaccard"] >= 0.05


def test_approx_top_k_combine_refuses_mixed_sizes_bare(spark):
    """q283's contract edge, pinned: merging sketches accumulated with
    different maxItemsTracked is an ERROR unless combine() is given an
    explicit target size — Spark refuses rather than silently merging
    unequal-width sketches (which would corrupt the error bound)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    spark.range(100).selectExpr("id", "id % 7 AS v").createOrReplaceTempView(
        "__mixed_sizes_probe"
    )
    with pytest.raises(SparkRuntimeException, match="APPROX_TOP_K_SKETCH_SIZE_NOT_MATCH"):
        spark.sql(
            """
            WITH p AS (
              SELECT approx_top_k_accumulate(v, 100) sk
              FROM __mixed_sizes_probe WHERE id % 2 = 0
              UNION ALL
              SELECT approx_top_k_accumulate(v, 50) sk
              FROM __mixed_sizes_probe WHERE id % 2 = 1
            )
            SELECT approx_top_k_estimate(approx_top_k_combine(sk), 3) FROM p
            """
        ).collect()


def test_q312_span_merge_closed_form(spark, tmp_path):
    """q312's interval merge, pinned on a constructed corpus: two docs
    share one verbatim 12-token run (k=8 -> 5 consecutive window starts
    -> ONE maximal span of exactly 12 tokens in each doc); a third doc
    shares nothing and must not appear. Also pins the overlap case:
    a second shared run ADJACENT to unique text merges into its own
    span, not the first one."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    shared = " ".join(f"s{i}" for i in range(12))        # 12-token run
    shared2 = " ".join(f"z{i}" for i in range(9))        # 9-token run
    rows = [
        Row(doc_id=0, text=f"a0 a1 a2 {shared} a3 a4 a5 a6 {shared2}"),
        Row(doc_id=1, text=f"b0 {shared} b1 b2 b3 b4 b5 b6 b7 {shared2} b8"),
        Row(doc_id=2, text=" ".join(f"c{i}" for i in range(30))),
    ]
    d = spark.createDataFrame(rows)
    d.write.parquet(str(tmp_path / "documents.parquet"))
    builder = all_queries()["q312_repeated_substring_spans"].builder
    res = {r["doc_id"]: r for r in builder(spark, str(tmp_path)).collect()}
    assert set(res) == {0, 1}
    for doc in (0, 1):
        assert res[doc]["n_spans"] == 2, res[doc]
        assert res[doc]["max_span"] == 12, res[doc]
        assert res[doc]["dup_tokens"] == 12 + 9, res[doc]


def test_q317_triangle_count_closed_form(spark, tmp_path):
    """q317 on a constructed graph: basket 3 holds parts {10,20,30,40}
    (a K4: 6 edges, 4 triangles, every degree 3 so wedges = 4*3 = 12,
    coefficient 3*4/12 = 1.0 before the extra edge) and basket 6 holds
    {50,60} (one edge, degree-1 endpoints, no wedges). Keys chosen to
    survive the builder's partkey%10==0 / orderkey%3==0 sparsification."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    rows = [
        Row(l_orderkey=3, l_partkey=p) for p in (10, 20, 30, 40)
    ] + [Row(l_orderkey=6, l_partkey=p) for p in (50, 60)]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "lineitem.parquet"))
    builder = all_queries()["q317_triangle_count"].builder
    out = builder(spark, str(tmp_path)).collect()[0]
    assert out["n_nodes"] == 6
    assert out["n_edges"] == 7  # K4's 6 + the {50,60} edge
    assert out["n_wedges"] == 12  # K4 only: 4 nodes x C(3,2)
    assert out["n_triangles"] == 4  # C(4,3)
    assert out["clustering_coeff"] == 1.0  # 3*4 / 12
