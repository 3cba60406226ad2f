"""Near-duplicate detection operators for document corpora.

Three scales of the same problem:

- ``shingle_pairs_exact``: exact n-gram Jaccard over candidate pairs found
  by an inverted-index join on shared shingles. The prefilter is LOSSLESS
  (any pair with Jaccard > 0 shares >= 1 shingle) so the result is exact —
  and fully SQL-expressible, which gives us a DuckDB oracle. Cost is
  bounded by sum over shingles of (docs-per-shingle choose 2); fine while
  shingle frequencies are modest.
- ``minhash_signatures`` / ``lsh_candidate_pairs``: MinHash + banded LSH.
  The scale path: candidate generation cost is (docs x bands), independent
  of pairwise counts; candidates are then verified with exact Jaccard.
  Hash = xxhash64(shingle, seed) — JVM built-in, whole-stage codegen, no
  Python. Subsamples nothing; recall is probabilistic in the usual
  banded-LSH way.
- ``simhash64``: 64-bit SimHash from per-token xxhash64 bit votes;
  near-dups are pairs at small Hamming distance, banded on 16-bit chunks
  (any pair with distance <= 3 shares at least one of 4 chunks exactly).

All are built-in-expression plans (arrays + lambdas), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import materialized_cache, spread
from .text import tokens


def _shingles_from_tokens(toks: Column, n: int) -> Column:
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Documents shorter than ``n`` tokens yield an empty array.

    NOTE: this inline form evaluates the tokenizing regexp three times
    per row (Catalyst does not CSE across lambda scopes) — fine for
    one-off use; hot paths should go through :func:`with_shingles`.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _shingles_from_tokens(tokens(c), n)


def with_shingles(
    df: DataFrame, text_col: str, n: int = 3, out: str = "__sh"
) -> DataFrame:
    """``df`` plus a shingle-array column, tokenizing ONCE per row.

    The token array gets its own projection; CollapseProject keeps a
    non-cheap expression referenced 3x from being inlined, so the
    regexp runs once instead of three times (measured ~7x faster on the
    documents table than the inline form).
    """
    toks = tokens(F.col(text_col))
    return (
        spread(df)
        .withColumn("__toks", toks)
        .withColumn(out, _shingles_from_tokens(F.col("__toks"), n))
        .drop("__toks")
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows — the inverted-index relation.

    Deliberately the INLINE shingle expression: Generate fuses with its
    generator, and measured cold+warm this beats pre-materializing the
    array column 2.5x (the opposite tradeoff from minhash_signatures,
    which reuses the array k times and wants :func:`with_shingles`).
    ``spread`` first: the tokenize+shingle explode is the CPU-dominant
    stage and must not inherit a single-partition scan (measured ~2.7x
    on q45 at sf0.1; no-op when the input is already split).
    """
    return spread(df).select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


def shingle_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.05,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shared-shingle join.

    |A ∩ B| falls out of the join's group count; |A| and |B| come from the
    per-doc shingle counts; union = |A| + |B| - |A ∩ B|. Every quantity is
    an integer, so the Jaccard division is bit-identical across engines.

    ``max_df`` is the corpus-scale knob: the pair count is
    sum_over_shingles(df_s choose 2), quadratic in the hottest shingle's
    document frequency. Capping drops shingles with df > max_df from pair
    generation only (per-doc sizes still count them), which makes the
    computed intersection a lower bound — pairs can only be missed, never
    over-scored, and only pairs whose entire overlap is stop-shingles are
    affected. Default None = exact.

    TWO physical plans, chosen by the cap:

    - uncapped: inverted-index SELF-JOIN on the shingle. Pairs for a hot
      shingle are spread across tasks by the join hash, so an unbounded
      document frequency degrades throughput but can't OOM a task (and
      AQE's skew split keeps the shuffle balanced).
    - capped: per-shingle doc-list aggregation, pairs generated by array
      expressions from each list. One shuffle of the exploded relation
      instead of two join sides (~15% faster at sf0.1) and the df filter
      is a free post-aggregation ``size(ids) <= max_df`` instead of a
      separate count + broadcast join. Safe ONLY because the cap bounds
      the per-row pair array at (max_df choose 2) — uncapped, one hot
      shingle would materialize its whole quadratic blowup inside a
      single task.
    """
    if max_df is not None:
        return _shingle_pairs_capped_grouped(
            df, id_col, text_col, n, threshold, max_df
        )
    # The self-join shuffle DOMINATES this plan, so keep its rows as
    # narrow as possible: (id, shingle-HASH) only. Two measured rules:
    # - The tempting "fusion" — carrying the per-doc size alongside
    #   every exploded row so the join yields n_a/n_b inline — removes
    #   two joins and a groupBy but widens BOTH shuffle sides by 8
    #   bytes/row, and measured 50% SLOWER at sf0.1 (8.0s vs 5.4s). The
    #   sizes relation is one row per doc and joins back cheaply (AQE
    #   broadcasts it whenever it fits). Never widen the dominant
    #   shuffle to save two cheap post-aggregation joins.
    # - Joining on xxhash64(shingle) instead of the ~20-30-byte shingle
    #   string shrinks those same shuffle rows to two longs and makes
    #   the join compare a long-equality: measured ~25-35% faster at
    #   sf0.1, value-identical output. Standard hashed-shingling (Broder
    #   '97); a 64-bit collision would merge two shingles and over-count
    #   one intersection, with probability ~d^2/2^65 for d distinct
    #   shingles — negligible below ~10^8 docs; verified zero collisions
    #   on the test corpora.
    # HONEST-STATS materialization (opt r13, replacing r12's MERGE
    # hints): Generate/explode does not inflate the static size
    # estimate and an unmaterialized cache reports its child's stats,
    # so the planner would BUILD-SIDE BROADCAST the corpus-sized
    # relation at scale and die building the table (a static broadcast
    # is never re-checked by AQE). The count() below materializes the
    # cache the first consumer would have built anyway, so every join
    # is planned from its MEASURED bytes — broadcast only when truly
    # small, sort-merge when not, AQE free to re-plan the rest (the
    # blanket hints forbade both). See minhash.cached_shingles.
    ex = (
        exploded_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    )
    ex = materialized_cache(ex)
    # cached: referenced twice (doc_a and doc_b side) — recomputing the
    # tokenize+shingle subplan per side measures ~3x slower at sf0.1.
    # Its static estimate derives from ex's measured bytes through the
    # aggregate — conservatively large, so no static broadcast at scale.
    sizes = (
        ex.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .cache()
    )
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _score_pairs(common, sizes, id_col, threshold)


def _score_pairs(
    common: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, n_common) + per-doc sizes -> thresholded Jaccard.

    ``sizes`` is one row per DOC — small relative to the pair relation
    but unbounded at corpus scale, so no forced broadcast; AQE picks
    broadcast when it fits and falls back to shuffle join when not.
    The self-join/pair shuffle DOMINATES the full plan, so pair rows stay
    as narrow as possible: the tempting "fusion" — carrying per-doc sizes
    alongside every exploded row so the join yields n_a/n_b inline —
    removes these two joins but widens BOTH shuffle sides by 8 bytes/row,
    and measured 50% SLOWER at sf0.1 (8.0s vs 5.4s). Never widen the
    dominant shuffle to save two cheap post-aggregation joins.
    """
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .withColumn("jaccard", F.col("n_common") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
    )


def _shingle_pairs_capped_grouped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int,
) -> DataFrame:
    """Capped exact-Jaccard pairs via per-shingle doc lists.

    groupBy(shingle) -> sorted doc-id list -> pairs from array
    expressions (outer index x suffix slice), exploded and counted.
    Per-doc sizes are computed from the UNCAPPED exploded relation, so
    the cap keeps its conservative-bound semantics (intersection is a
    lower bound; see :func:`shingle_pairs_exact`). The per-row pair
    array is bounded by (max_df choose 2) elements — the cap is what
    makes this plan task-memory-safe, which is why the uncapped path
    keeps the self-join shape instead.
    """
    # Same hashed-shingle trick as the uncapped path: the groupBy key
    # becomes one long, narrowing the dominant shuffle (see
    # shingle_pairs_exact for the collision analysis). n_sh counts rows,
    # not distinct hashes, so sizes are unaffected either way.
    ex = exploded_shingles(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )
    # doc-cardinality size lookup: this path caches nothing, so there
    # is no measured size to plan from — the explode-propagated
    # UNDERESTIMATE would statically broadcast a corpus-scaling
    # relation (the r12 sf10 OOM class). The merge hint stays
    # load-bearing here (deliberate exception to the opt-r13
    # honest-stats sweep).
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh")).hint("merge")
    grouped = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        # lower bound 2: singleton shingles generate no pairs (and
        # sequence(1, 0) would wrap into a DESCENDING sequence)
        .filter(F.size("ids").between(2, max_df))
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 1, F.size("ids") - i),
                        lambda b: F.struct(
                            F.element_at(F.col("ids"), i).alias("doc_a"),
                            b.alias("doc_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common"))
    return _score_pairs(common, sizes, id_col, threshold)


def _signatures_from_shingle_arrays(
    sh: DataFrame, id_col: str, shingles_col: str, k: int, prehashed: bool = False
) -> DataFrame:
    """(id, signature array<bigint>) from a (id, shingle-array) relation.

    ``prehashed=True`` means the array already holds xxhash64 values
    (array<bigint>), so the base-hash step is skipped — signatures are
    bit-identical either way since permutations re-hash the same value.

    Explode + one groupBy with k ``min(...)`` aggs: map-side partial
    aggregation reduces the shuffle to docs x k longs (never the shingle
    strings), and measured 3x faster than computing the same hashes with
    nested array transforms inside a projection.

    Each shingle STRING is hashed exactly once (xxhash64 over the bytes);
    the k permutations re-hash the resulting 8-byte value with seed s —
    O(1) per permutation instead of O(len(shingle)), measured ~2x faster
    at k=32 with the same uniformity (xxhash64 of a uniform long stays
    uniform).

    Measured and REJECTED: one-permutation hashing (Li et al. 2012 —
    bin by h mod k, min per bin, rotation densification), the textbook
    way to cut k hashes/element to one. In Tungsten it runs 6-10x
    SLOWER than these k plain min-aggs at k=32: the k conditional
    ``min(when(bin==s, h))`` accumulators are mostly-null and fall off
    the hash-agg fast path, while xxhash64 of a long costs almost
    nothing inside codegen. The hash count is not the bottleneck on the
    JVM; the aggregation shape is.
    """
    elem = F.col("__shingle")
    ex = sh.select(F.col(id_col), F.explode(shingles_col).alias("__shingle")).select(
        F.col(id_col),
        (elem if prehashed else F.xxhash64(elem)).alias("__h0"),
    )
    aggs = [F.min(F.xxhash64("__h0", F.lit(s))).alias(f"__h{s}") for s in range(k)]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[f"__h{s}" for s in range(k)]).alias("signature"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 32
) -> DataFrame:
    """k-permutation MinHash signature per document (array<bigint>).

    h_s(doc) = min over shingles of xxhash64(shingle, s). Documents with
    no shingles are dropped (no meaningful signature).
    """
    sh = with_shingles(df, text_col, n).filter(F.size("__sh") > 0)
    return _signatures_from_shingle_arrays(sh, id_col, "__sh", k)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 8, rows: int = 4
) -> DataFrame:
    """Banded-LSH candidate pairs: equal signature slice in >= 1 band.

    Emits distinct (doc_a < doc_b) pairs. Shuffle cost: docs x bands rows
    keyed by (band, band-hash) — the scalable alternative to the quadratic
    shared-shingle join when shingle frequencies are high.
    """
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice(F.col("signature"), b * rows + 1, rows)).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard on their shingle sets.

    Output schema matches :func:`shingle_pairs_exact`; on corpora where
    banded LSH reaches the pairs at all, the verified output is a subset
    of the exact result (equal when recall is 1).
    """
    rows = k // bands
    # ONE cached relation feeds everything: the EXPLODED (id, hash)
    # rows, not per-doc shingle arrays. Materializing array columns was
    # the dominant cost of the old shape (array construction + columnar
    # array storage, ~3-5s at sf0.1 vs ~1s for the narrow long rows);
    # signatures, sizes, and the exact-verify intersection all derive
    # from the exploded relation directly, and the whole query measures
    # ~2x faster, value-identical. Hash-collision analysis:
    # shingle_pairs_exact.
    # honest-stats materialization (opt r13): corpus-sized explode
    # output must never be a static broadcast build side — the count()
    # pins the MEASURED cache size into every downstream join's plan
    # (see shingle_pairs_exact)
    ex = (
        exploded_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    )
    ex = materialized_cache(ex)
    # ONE groupBy produces signatures AND per-doc sizes: the count rides
    # the same map-side partial agg as the k mins, deleting what was a
    # second full aggregation pass (+shuffle) over the exploded relation
    # — measured 2.53s -> 1.76s at sf0.1, value-identical. (Contrast with
    # shingle_pairs_exact, where fusing sizes into the JOIN widened the
    # dominant shuffle and lost; here the extra column rides an
    # aggregation that already exists, and docs-many rows are cheap.)
    aggs = [F.min(F.xxhash64("h", F.lit(s))).alias(f"__h{s}") for s in range(k)]
    both = (
        ex.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"), *aggs)
        # doc-cardinality; estimate inherits ex's measured bytes — no
        # static broadcast at scale, AQE re-plans from real sizes
        .cache()
    )
    sigs = both.select(
        F.col(id_col), F.array(*[f"__h{s}" for s in range(k)]).alias("signature")
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows)
    # Exact verify: intersection size = join the candidate pairs back to
    # the inverted index on (doc, hash). Candidates are few relative to
    # the corpus (that is LSH's whole point), so both joins stay small;
    # AQE broadcasts the pair relation when it fits.
    sizes = both.select(F.col(id_col), "n_sh")
    ex_a = ex.select(F.col(id_col).alias("doc_a"), "h")
    ex_b = ex.select(F.col(id_col).alias("doc_b"), "h")
    common = (
        cands.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("__nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("__na") + F.col("__nb") - F.col("n_common"))
        .withColumn("jaccard", F.col("n_common") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
    )


def simhash64_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) with a 64-bit SimHash as a 64-char bit string (MSB first).

    Shaped for scale: explode distinct tokens, hash each once with
    xxhash64, then ONE hash aggregation computes all 64 bit votes
    (sum of +-1 per bit) — vectorized JVM aggregation, no nested array
    folds, one shuffle on the doc id. A bit-string output avoids signed-64
    arithmetic pitfalls and makes Hamming distance a character comparison.
    """
    c = F.col(text_col) if isinstance(text_col, str) else F.col(text_col)
    toks = F.array_distinct(tokens(c))
    tok_hash = spread(df).select(
        F.col(id_col), F.explode(toks).alias("__tok")
    ).withColumn("__h", F.xxhash64("__tok"))
    votes = tok_hash.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    bits = [
        F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(63, -1, -1)
    ]
    return votes.select(F.col(id_col), F.concat(*bits).alias("sh"))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= ``max_hamming``, banded on
    four 16-bit chunks (lossless for distance <= 3; heuristic above)."""
    hashed = simhash64_table(df, id_col, text_col)
    chunks = hashed.select(
        F.col(id_col),
        F.col("sh"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.struct(
                    i.alias("chunk_id"),
                    F.substring(F.col("sh"), i * 16 + 1, 16).alias("chunk"),
                ),
            )
        ).alias("cc"),
    ).select(F.col(id_col), F.col("sh"), F.col("cc.chunk_id"), F.col("cc.chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.substring(F.col("sh_a"), i, F.lit(1))
            != F.substring(F.col("sh_b"), i, F.lit(1)),
        )
    )
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
