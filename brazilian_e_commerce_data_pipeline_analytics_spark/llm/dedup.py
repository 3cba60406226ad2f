"""Exact near-duplicate pairs for document corpora.

``shingle_pairs_exact``: exact n-gram Jaccard over candidate pairs found
by an inverted-index join on shared shingles. The prefilter is LOSSLESS
(any pair with Jaccard > 0 shares >= 1 shingle) so the result is exact —
and fully SQL-expressible, which gives us a DuckDB oracle. Cost is
bounded by sum over shingles of (docs-per-shingle choose 2); fine while
shingle frequencies are modest, and ``max_df`` caps it beyond that.

The approximate scale path — MinHash signatures, banded-LSH candidates
and their exact verify — is ``llm/minhash.py`` (q46p, q101, q133, q198,
q315 and the curation chains); SimHash is q68's md5 vote construction
in ``llm/dedup_q.py``.

All are built-in-expression plans (arrays + lambdas), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import materialized_cache, spread
from .text import tokens


def word_shingles(toks: str, n: int = 3) -> Column:
    """Distinct word n-shingles (array<string>) of the array<string>
    token column named ``toks``; rows with fewer than ``n`` tokens yield
    an empty array.

    The one shingle expression (q45's family through
    :func:`exploded_shingles`, the MinHash builders through
    ``minhash.cached_shingles``). It takes a token COLUMN, never the
    tokenizer: Catalyst does not hoist a loop-invariant expression out
    of a lambda, so ``slice(tokens(text), i, n)`` in the lambda body
    would re-tokenize the document once per shingle — quadratic in its
    length. Project the tokens first, then shingle them.
    """
    return F.expr(
        f"array_distinct(CASE WHEN size({toks}) >= {n}"
        f" THEN transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n})))"
        f" ELSE array() END)"
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows — the inverted-index relation.

    ``spread`` first: the tokenize+shingle explode is the CPU-dominant
    stage and must not inherit a single-partition scan (measured ~2.7x
    on q45 at sf0.1; no-op when the input is already split). The tokens
    are projected once per document after the repartition, so the
    shuffle still carries only the raw rows, and :func:`word_shingles`
    shingles that column. A short document's empty array explodes to no
    rows; a ``size >= n`` Filter instead would be pushed below the token
    Project and tokenize every document twice.
    """
    return (
        spread(df)
        .select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(F.col(id_col), F.explode(word_shingles("__t", n)).alias("shingle"))
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
