"""Multimodal (binary) column plumbing.

Images/audio/video are opaque ``binary`` payloads with typed metadata —
the Spark-side concerns are schema, batch shape, partition sizing and the
Arrow boundary, not the codec. Feature extraction runs as a
``mapInPandas`` stage (Arrow-batched, one Python worker per partition)
around ``decode_stub``, a deterministic stand-in whose byte arithmetic
q58's oracle replays in SQL. Real decoding — WAV, BMP and a framed
video container, frame sampling included — is ``llm/codecs.py``, run by
q156, q157 and q173 (``llm/codecs_q.py``).

The registered query ``q52_blob_meta`` exercises the binary type end to
end against the DuckDB oracle (UTF-8 payloads synthesized from the
documents table, since the test corpus has no real media column).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..registry import register

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("checksum", StringType(), True),
        StructField("feat_mean", StringType(), True),
    ]
)


def with_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a binary media table from a text corpus (deterministic)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )


def decode_stub(payload: bytes) -> list[float]:
    """Deterministic fake 'decode' -> fixed-size feature vector.

    Real deployments swap this for PIL/ffmpeg/torchaudio; the Spark
    plumbing around it is identical.
    """
    if payload is None:
        raise NotImplementedError("real media decode requires codec libraries")
    return [float(payload[i % len(payload)]) / 255.0 for i in range(8)]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps the binary column inside Arrow record batches —
    one serialization boundary per batch, not per row. Partition sizing
    note: for real media, repartition so each task holds
    O(spark.sql.files.maxPartitionBytes) of payload, not row count.
    """
    import hashlib

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            # zip over columns, not iterrows: iterrows materializes a
            # pandas Series per row (~10x slower for narrow rows)
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                vec = decode_stub(bytes(payload))
                feats.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(payload),
                        "checksum": hashlib.md5(bytes(payload)).hexdigest(),
                        "feat_mean": f"{sum(vec) / len(vec):.6f}",
                    }
                )
            yield pd.DataFrame(feats, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# q52: binary-column metadata, JVM-side only (no Python) — length, head
# byte, md5 — grouped into payload-size buckets.
# ---------------------------------------------------------------------------

_Q52_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         encode(text) AS payload,
         md5(text) AS checksum
  FROM documents
)
SELECT CASE WHEN octet_length(payload) < 200 THEN 'small'
            WHEN octet_length(payload) < 500 THEN 'medium'
            ELSE 'large' END AS size_class,
       COUNT(*) AS n_blobs,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
       MIN(checksum) AS min_checksum
FROM m
GROUP BY 1
"""


@register("q52_blob_meta", oracle=_Q52_ORACLE, tags=("multimodal", "binary", "llm"))
def q52_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = with_payload(d).withColumn(
        "checksum", F.md5(F.col("payload"))
    )
    nbytes = F.length("payload")
    size_class = (
        F.when(nbytes < 200, "small").when(nbytes < 500, "medium").otherwise("large")
    )
    return (
        m.withColumn("size_class", size_class)
        .groupBy("size_class")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(nbytes).cast("bigint").alias("total_bytes"),
            F.min("checksum").alias("min_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# q58: the full multimodal decode pipeline — binary payloads through the
# Arrow-batched mapInPandas feature extractor (stubbed codec). Formerly
# rows-only; now VALUE-EXACT (VERDICT r3 item 3): because the stub codec
# is deterministic byte arithmetic over the UTF-8 payload, the oracle can
# replay it in SQL — vec[i] = byte[i % len]/255 via ascii(substring(...))
# on the ASCII corpus, summed in the same left-to-right IEEE order Python's
# sum() uses, /8 (exact power of two), then printf('%.6f') which formats
# the identical double identically to Python's f"{x:.6f}". Real codecs
# (which genuinely can't be SQL-replayed) are value-checked through the
# library-free WAV/BMP/video decoders in q156/q157/q173 instead.
# ---------------------------------------------------------------------------

_Q58_FEAT_TERMS = " + ".join(
    f"(ascii(substring(text, CAST({i} % octet_length(encode(text)) AS INT) + 1, 1))"
    " / 255.0)"
    for i in range(8)
)

_Q58_ORACLE = f"""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       printf('%.6f', ({_Q58_FEAT_TERMS}) / 8) AS feat_mean
FROM documents
ORDER BY media_id
"""


@register("q58_media_features", oracle=_Q58_ORACLE, tags=("multimodal", "map-in-pandas", "llm"))
def q58_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return extract_features(with_payload(d)).orderBy("media_id")
