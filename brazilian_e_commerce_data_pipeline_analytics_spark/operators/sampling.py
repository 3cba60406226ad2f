"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need samples and train/valid/test splits that
are (a) reproducible across runs and engines, (b) stable under
repartitioning and data reordering, and (c) consistent for the same key
(a document keeps its split forever, so later incremental runs never
leak train docs into test). Spark's ``df.sample``/``sampleBy`` give
none of that — they seed per-partition RNGs, so the selected set
changes with partitioning. We hash the KEY instead: bucket =
md5-prefix(key:seed) mod n_buckets, and membership is a pure predicate
on the bucket.

The hash is a 60-bit integer from the md5 hex prefix — replayable in
any engine with md5 (DuckDB oracle replays it exactly), uniform enough
for sampling, and intentionally NOT xxhash64 (which only the JVM has).
Inside one engine this costs one md5 per row, JVM-side, no shuffle —
sampling stays a narrow, pushdown-friendly filter at any scale.

This module is the one home of that hash: :func:`md5_60` is its Spark
spelling and :func:`md5_60_sql` its DuckDB twin, and every builder and
oracle that hashes a key, token or shingle to 60 bits (sampling,
splits, sketches, SimHash, MinHash shingle values) spells it only
through them. The whitespace tokenizer lives in ``llm/text.py``
(``tokens`` / ``TOKENS_SQL``) and portable MinHash/LSH in
``llm/minhash.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 10_000


def md5_60(x: Column | str) -> Column:
    """60-bit integer from the md5 hex prefix of ``x`` (15 hex chars
    keeps it inside a signed 64-bit int in every engine)."""
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")


def md5_60_sql(x: str) -> str:
    """DuckDB twin of :func:`md5_60` over the SQL expression ``x``."""
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def portable_bucket(key: Column | str, seed: int, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic bucket in [0, n_buckets) from a key column + seed:
    :func:`md5_60` of ``key:seed``."""
    key = F.col(key) if isinstance(key, str) else key
    salted = F.concat(key.cast("string"), F.lit(f":{seed}"))
    return (md5_60(salted) % n_buckets).alias("bucket")


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen deterministically by key hash.

    Same (key, seed) is kept or dropped identically in every run, every
    engine, every partitioning. Narrow op: no shuffle, no RNG state.
    """
    return df.filter(portable_bucket(key_col, seed) < int(fraction * N_BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. rebalance by language).

    Each stratum gets its own keep-fraction; rows in strata missing from
    ``fractions`` keep ``default_fraction``. Same hash-bucket mechanics
    as :func:`hash_sample`, so the kept set is stable per (key, seed)
    and independent across strata — a narrow filter, no shuffle, no
    per-stratum pass (unlike ``df.sampleBy``, which is also RNG-seeded
    per partition and not reproducible under repartitioning).
    """
    bucket = portable_bucket(key_col, seed)
    expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        lim = F.lit(int(frac * N_BUCKETS))
        expr = F.when(cond, lim) if expr is None else expr.when(cond, lim)
    limit = F.lit(int(default_fraction * N_BUCKETS)) if expr is None else expr.otherwise(
        int(default_fraction * N_BUCKETS)
    )
    return df.filter(bucket < limit)


def split_assign(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one named split.

    ``weights`` maps split name -> weight (normalized internally);
    assignment is by cumulative bucket thresholds, so it is exhaustive,
    non-overlapping, and stable for a given (key, seed). Iteration
    order of ``weights`` fixes the threshold order — pass an ordered
    dict (all Python 3.7+ dicts are).
    """
    total = sum(weights.values())
    bucket = portable_bucket(key_col, seed)
    expr: Column | None = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        cond = bucket < int(cum * N_BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, last)
