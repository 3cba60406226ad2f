"""Portable MinHash/LSH: hash family, signatures, band keys and the
banded candidate self-join, each next to its DuckDB SQL twin.

A portable near-dup builder is only as exact as its oracle's replay of
the same tokenizer, hash and shingle rule, so each rule has one home
and builders and oracles spell it only through that home (the source
lint in ``tests/test_registry.py`` holds every module to it):

- whitespace tokenizer: ``llm/text.tokens`` / ``text.TOKENS_SQL``;
- 60-bit md5-prefix hash: ``operators/sampling.md5_60`` / ``md5_60_sql``;
- distinct word n-shingles per doc: ``llm/dedup.word_shingles`` over a
  projected token column (``dedup.exploded_shingles``, cached here as
  :func:`cached_shingles`) / :func:`shingle_sql` (every oracle's
  shingle relation ``sh``);
- MinHash/LSH: this module. Shingle values are ``md5_60`` of the
  shingle; permutations are the universal family
  h_s(v) = (v % P * A_s + B_s) % P with P = 2^31 - 1 and per-permutation
  constants inlined as literals on both sides (operands stay < 2^31, so
  DuckDB's BIGINT never overflows); a band key is the comma-joined row
  hashes of the band; candidates are distinct equal-(band, key) pairs
  with doc_a < doc_b.

The SQL generators emit CTE text (``name AS (...),`` each ending in a
comma) for a caller's ``WITH`` list; callers that differ (q133's
history split, q198's weight expansion, the curation chains' scoping)
keep the difference in their own CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import materialized_cache
from ..operators.sampling import md5_60, md5_60_sql
from .dedup import exploded_shingles
from .text import TOKENS_SQL

MH_P = 2147483647  # 2^31 - 1


def mh_consts(k: int) -> list[tuple[int, int]]:
    """Per-permutation (A_s, B_s) for the universal-hash family,
    deterministic and inlined as literals in both engines."""
    return [
        ((((2 * s + 1) * 2654435761) % MH_P) or 1, (s * 1000003 + 12345) % MH_P)
        for s in range(k)
    ]


def minhash_mins(k: int) -> list[Column]:
    """The k signature aggregates ``__h0..__h{k-1}`` over a ``__v``
    (shingle value) column."""
    return [
        F.min((F.col("__v") % MH_P * F.lit(a) + F.lit(b)) % MH_P).alias(f"__h{s}")
        for s, (a, b) in enumerate(mh_consts(k))
    ]


def band_keys(sigs: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(id, band, key) band-bucket rows from a signature relation with
    ``__h0..__h{k-1}`` columns — the LSH index structure. A narrow
    explode to ``bands`` rows per doc; the key is the concatenated
    row-hash tuple of the band."""
    rows = k // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bq).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"__h{bq * rows + i}").cast("string")
                                for i in range(rows)
                            ],
                        ).alias("key"),
                    )
                    for bq in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band"), F.col("bk.key"))


def band_candidates(sigs: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """Distinct (doc_a, doc_b) banded-LSH candidate pairs, doc_a < doc_b:
    the band-key self-join (never all-pairs)."""
    banded = band_keys(sigs, id_col, k, bands)
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def cached_shingles(d: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle): each doc's distinct whitespace-token n-shingles,
    exploded, cached and materialized.

    Parallelism floor (opt r13, guide §2.5 "input skew"): every caller
    hands a single-file scan or a checkpointed stage output, and both
    arrive as ONE partition locally (single row-group fixtures; AQE
    coalesces byte-tiny stage outputs to one) — which serialized the
    tokenize+shingle explode, the md5/minhash arithmetic, AND the cache
    build + every map side downstream. ``spread`` is the documented
    conditional floor: a no-op at corpus scale where the input already
    has >= cores splits. Callers MUST keep passing only
    scans/checkpointed relations — ``spread``'s partition probe
    executes lazy AQE plans (measured ~2.4s on a window plan at sf0.1).

    HONEST-STATS materialization (opt r13, replacing r12's MERGE
    hints): this relation is CORPUS-SIZED (one row per doc-shingle),
    but the static planner underestimates it — Generate/explode does
    not inflate its child's size estimate, and an UNMATERIALIZED cache
    reports the child's stats — so at sf10 the verify joins were
    planned as BroadcastHashJoins with the 50M-row shingle relation as
    the BUILD SIDE, and the driver died building the broadcast table (a
    statically planned broadcast cannot be undone by AQE). r12
    answered with blanket MERGE hints, which ALSO forbade AQE's runtime
    broadcast of the genuinely small sides — every verify join paid a
    two-sided shuffle + sort at every scale. The fix that keeps both
    properties: force the cache to materialize NOW (the count() job is
    the cache build the first consumer would have paid anyway), so
    every downstream join is planned from the cache's MEASURED
    sizeInBytes — broadcast only when the bytes are actually small,
    sort-merge when not, and AQE still free to re-plan the rest.
    Measured at sf0.1: q46p-shape verify 4.67s (merge hints) -> 4.12s
    (honest stats); the sf1.0 smoke is the regression gate for the OOM
    this replaces. Callers that materialize a plan derived from the
    result should ``unpersist()`` it afterwards (ADVICE r2: caches
    accumulated across the driver's 50+ queries per process).
    """
    return materialized_cache(exploded_shingles(d, id_col, text_col, n))


def portable_signatures(
    d: DataFrame, id_col: str, text_col: str, n: int, k: int
) -> tuple[DataFrame, DataFrame]:
    """Portable-hash MinHash signatures. Returns ``(sh, both)``:

    - ``sh``: the :func:`cached_shingles` (id, shingle) relation (feeds
      the signature build AND both sides of exact-verify joins);
    - ``both``: per-doc (id, n_sh, __h0..__h{k-1}) — sizes fused into
      the signature groupBy so the exploded relation aggregates once.

    Band them with :func:`band_keys` / :func:`band_candidates`.
    """
    sh = cached_shingles(d, id_col, text_col, n)
    ex = sh.withColumn("__v", md5_60("shingle"))
    # per-doc sizes ride the signature groupBy (the fused-sizes rule):
    # one aggregation pass over the exploded relation, not two.
    # This relation is DOC-cardinality but inherits its size estimate
    # from sh through the aggregate; with sh's cache materialized the
    # estimate is the measured shingle bytes — conservatively LARGE for
    # a per-doc aggregate, so the static planner never broadcasts it at
    # scale (the r12 sf10 OOM class), while AQE's runtime re-check
    # broadcasts it from the measured shuffle when it truly fits. No
    # hint needed on either face.
    both = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"), *minhash_mins(k))
    return sh, both


def exact_jacc_bands(sh: DataFrame, both: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, jacc_band): every exact 3-shingle Jaccard >= 0.05
    pair (integer threshold 20*common >= union) with its Jaccard decile
    ``(10*common) div union`` — the reference set LSH recall is
    measured against."""
    sizes = both.select(F.col(id_col), "n_sh")
    ea = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    eb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        ea.join(eb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("__nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("__na") + F.col("__nb") - F.col("n_common"))
        .filter(F.lit(20) * F.col("n_common") >= F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("(10 * n_common) div n_union").cast("int").alias("jacc_band"),
        )
    )


def verified_pairs(
    cands: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    sz_a: DataFrame,
    sz_b: DataFrame,
    a: str,
    b: str,
    k: int,
) -> DataFrame:
    """Exact-verify the (a, b) candidate pairs: (a, b, n_common,
    n_union, jaccard) for the pairs with ``k * n_common >= n_union``
    (Jaccard >= 1/k in integer arithmetic, no float boundary). Side a's
    ids are looked up in the shingle relation ``sh_a`` (doc_id, shingle)
    and the sizes ``sz_a`` (doc_id, n_sh), side b's in ``sh_b``/``sz_b``.
    The shingles join is restricted by the (small) candidate relation,
    not an all-pairs self-join — the whole point of LSH at corpus
    scale."""
    ea = sh_a.select(F.col("doc_id").alias(a), "shingle")
    eb = sh_b.select(F.col("doc_id").alias(b), "shingle")
    common = (
        cands.join(ea, a)
        .join(eb, [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz_a.select(F.col("doc_id").alias(a), F.col("n_sh").alias("__na"))
    sb = sz_b.select(F.col("doc_id").alias(b), F.col("n_sh").alias("__nb"))
    return (
        common.join(sa, a)
        .join(sb, b)
        .withColumn("n_union", F.col("__na") + F.col("__nb") - F.col("n_common"))
        .filter(F.lit(k) * F.col("n_common") >= F.col("n_union"))
        .select(
            a,
            b,
            "n_common",
            "n_union",
            (F.col("n_common") / F.col("n_union")).alias("jaccard"),
        )
    )


def minhash_recall_portable(
    d: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Recall of banded-LSH candidates vs exact Jaccard>=0.05 pairs,
    grouped by Jaccard decile. Fully deterministic + SQL-replayable
    (q101's oracle)."""
    sh, both = portable_signatures(d, id_col, text_col, n, k)
    cands = band_candidates(both, id_col, k, bands).withColumn("__hit", F.lit(1))
    return (
        exact_jacc_bands(sh, both, id_col)
        .join(cands, ["doc_a", "doc_b"], "left")
        .groupBy("jacc_band")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
    )


# ---- DuckDB twins ----------------------------------------------------------


def shingle_sql(src: str, n: int) -> str:
    """CTEs ``toks`` (whitespace tokens of ``src``'s ``text``) and ``sh``
    (doc_id, shingle): the SQL twin of :func:`cached_shingles`."""
    return f"""toks AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM {src}
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(t) - {n - 1}),
           i -> array_to_string(t[i:i+{n - 1}], ' ')
         ))) AS shingle
  FROM toks WHERE len(t) >= {n}
),
"""


def signature_sql(k: int, bands: int) -> str:
    """CTEs ``sigs`` (doc_id, h0..h{k-1}) over ``ex``'s (doc_id, v) and
    ``banded`` (doc_id, band, key): the SQL twin of
    :func:`minhash_mins` + :func:`band_keys`."""
    rows = k // bands
    mins = ",\n         ".join(
        f"MIN((v % {MH_P} * {a} + {b}) % {MH_P}) AS h{s}"
        for s, (a, b) in enumerate(mh_consts(k))
    )
    band_structs = ", ".join(
        "{'band': %d, 'key': %s}"
        % (
            bq,
            " || ',' || ".join(
                f"CAST(h{bq * rows + i} AS VARCHAR)" for i in range(rows)
            ),
        )
        for bq in range(bands)
    )
    return f"""sigs AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
banded AS (
  SELECT doc_id, bk['band'] AS band, bk['key'] AS key
  FROM (SELECT doc_id, unnest([{band_structs}]) AS bk FROM sigs)
),
"""


def minhash_sql(src: str, n: int, k: int, bands: int) -> str:
    """CTEs ``toks``, ``sh``, ``ex`` (doc_id, shingle, v) and the
    ``sigs``/``banded`` of :func:`signature_sql`: the SQL twin of
    :func:`portable_signatures` + :func:`band_keys`."""
    return f"""{shingle_sql(src, n)}ex AS (
  SELECT doc_id, shingle,
         {md5_60_sql("shingle")} AS v
  FROM sh
),
{signature_sql(k, bands)}"""


# SQL twin of band_candidates over signature_sql's ``banded``
CANDIDATES_SQL = """cands AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x
  JOIN banded y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
"""
