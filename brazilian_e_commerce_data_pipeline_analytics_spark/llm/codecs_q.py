"""Registered queries for the REAL media decoders (llm/codecs.py).

These upgrade the multimodal family's evidence from rows-only to
value-exact: payloads are synthesized with integer-deterministic
content, encoded into honest WAV/BMP files, decoded by real parsers,
and the DuckDB oracle replays the decoded features from the same
integer arithmetic — proving the whole binary pipeline (Arrow batch
boundary included) end to end.

Plan shape (both queries): ids -> mapInPandas(encode) ->
mapInPandas(decode) — two Arrow stages over a binary column, zero
driver involvement, partition-parallel. This is exactly the shape a
PIL/ffmpeg deployment uses; only the codec function changes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .codecs import decode_bmp, decode_wav, encode_bmp, encode_wav

# ---------------------------------------------------------------------------
# q156: WAV synth -> RIFF parse -> audio features.
# ---------------------------------------------------------------------------

_Q156_ORACLE = """
WITH m AS (SELECT doc_id AS media_id, 160 + (doc_id % 5) * 80 AS n FROM documents),
s AS (
  SELECT media_id, n,
         list_transform(range(n),
                        k -> ((media_id * 7 + k * 13) % 2003) - 1001) AS smp
  FROM m
)
SELECT media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak,
       round(sqrt(list_sum(list_transform(smp, x -> x * x)) / n), 6) AS rms
FROM s
"""


@register("q156_wav_decode", oracle=_Q156_ORACLE, tags=("multimodal", "audio", "codec", "llm"))
def q156_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [encode_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(synth, "media_id long, payload binary")

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [decode_wav(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [r["sample_rate"] for r in rows],
                    "n_samples": [r["n_samples"] for r in rows],
                    "peak": [r["peak"] for r in rows],
                    "rms": [round(r["rms"], 6) for r in rows],
                }
            )

    return media.mapInPandas(
        feats,
        "media_id long, sample_rate int, n_samples int, peak int, rms double",
    )


# ---------------------------------------------------------------------------
# q157: BMP synth -> header/pixel parse -> image features.
# ---------------------------------------------------------------------------

_BMP_CH = "((media_id * 11 + (i % w) * 3 + (i // w) * 7 + {c} * 31) % 256)"

_Q157_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h
  FROM documents
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       round(list_sum(list_transform(range(w * h), i -> {_BMP_CH.format(c=2)}))
             / (w * h), 6) AS mean_r,
       round(list_sum(list_transform(range(w * h), i -> {_BMP_CH.format(c=1)}))
             / (w * h), 6) AS mean_g,
       round(list_sum(list_transform(range(w * h), i -> {_BMP_CH.format(c=0)}))
             / (w * h), 6) AS mean_b
FROM m
"""


@register("q157_bmp_decode", oracle=_Q157_ORACLE, tags=("multimodal", "image", "codec", "llm"))
def q157_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [encode_bmp(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(synth, "media_id long, payload binary")

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [decode_bmp(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [r["width"] for r in rows],
                    "height": [r["height"] for r in rows],
                    "mean_r": [round(r["mean_r"], 6) for r in rows],
                    "mean_g": [round(r["mean_g"], 6) for r in rows],
                    "mean_b": [round(r["mean_b"], 6) for r in rows],
                }
            )

    return media.mapInPandas(
        feats,
        "media_id long, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


# ---------------------------------------------------------------------------
# q173: video frame sampling — demux the frame container, KEEP every
# 2nd frame (frame sampling: decode cost scales with the sample, not
# the footage), decode the survivors with the real BMP
# parser, and emit per-sampled-frame features. Completes the
# image (q157) / audio (q156) / video triple with value-exact
# evidence; the container format is honest (magic, counts, length
# prefixes, trailing-bytes check), only the inner codec is BMP
# instead of a licensed video codec the container lacks.
# ---------------------------------------------------------------------------

_VID_STRIDE = 2

_VID_CH = "(((media_id * 1000 + f) * 11 + (i % w) * 3 + (i // w) * 7 + 2 * 31) % 256)"

_Q173_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, 4 + doc_id % 5 AS nf FROM documents
),
fr AS (
  SELECT media_id, unnest(range(nf)) AS f FROM m
),
sampled AS (
  SELECT media_id, f,
         5 + (media_id * 1000 + f) % 4 AS w,
         3 + (media_id * 1000 + f) % 3 AS h
  FROM fr WHERE f % {_VID_STRIDE} = 0
)
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       round(list_sum(list_transform(range(w * h), i -> {_VID_CH}))
             / (w * h), 6) AS mean_r
FROM sampled
"""


@register("q173_video_frame_sample", oracle=_Q173_ORACLE, tags=("multimodal", "video", "codec", "llm"))
def q173_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .codecs import decode_bmp, demux_vid, encode_vid

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [encode_vid(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(synth, "media_id long, payload binary")

    def feats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "width": [], "height": [], "mean_r": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = demux_vid(bytes(payload))
                for f in range(0, len(frames), _VID_STRIDE):
                    d = decode_bmp(frames[f])
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(f)
                    out["width"].append(d["width"])
                    out["height"].append(d["height"])
                    out["mean_r"].append(round(d["mean_r"], 6))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        feats,
        "media_id long, frame_idx int, width int, height int, mean_r double",
    )


# ---------------------------------------------------------------------------
# q314: perceptual image near-dup (average-hash) — the IMAGE member of
# the dedup family (text: q44/q45/q46p/q68/q312; this is the pixel
# side): decode each BMP, compute the aHash bit grid (bit i set iff
# pixel i's luminance strictly exceeds the image mean — integer-exact
# as lum*n > total, no float division), pack row-major into one BIGINT
# (dims here are <= 8x5 = 40 bits), and cluster by (width, height,
# ahash). aHash is brightness-offset invariant, so the fixture's
# media_id*11 luminance offset collapses non-wrapping same-dims images
# into genuine clusters — the property production aHash relies on
# (exposure changes don't break matches). Grouping by dims stands in
# for the resize normalization a library-backed pipeline would do
# (documented stub boundary: no image libs in this environment; the
# decode and hash arithmetic are real).
#
# Scale: synth/decode/hash is one mapInPandas pass (Arrow batches, no
# pixel ever leaves the executor); clustering is a groupBy on a 16-byte
# key — exact-hash clusters need NO pairwise join (the q44 economics);
# a Hamming-banded near-match pass would bolt on exactly like q68's.
# Oracle: the closed-form pixel function replayed per (w, h) in DuckDB
# (q157's discipline), including the per-channel mod-before-sum
# luminance and the strict-inequality bit rule.
# ---------------------------------------------------------------------------

_Q314_LUM = (
    "(((media_id * 11 + (i % w) * 3 + (i // w) * 7) % 256)"
    " + ((media_id * 11 + (i % w) * 3 + (i // w) * 7 + 31) % 256)"
    " + ((media_id * 11 + (i % w) * 3 + (i // w) * 7 + 62) % 256))"
)

_Q314_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h
  FROM documents
),
lum AS (
  SELECT media_id, w, h,
         list_transform(range(w * h), i -> {_Q314_LUM}) AS l
  FROM m
),
hashed AS (
  SELECT media_id, w, h,
         CAST(list_sum(list_transform(
           range(w * h),
           i -> CASE WHEN l[i + 1] * (w * h) > list_sum(l)
                THEN 1::BIGINT << i ELSE 0::BIGINT END
         )) AS BIGINT) AS ahash
  FROM lum
)
SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height, ahash,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       MIN(media_id) AS min_media
FROM hashed
GROUP BY 1, 2, 3
HAVING COUNT(*) >= 2
"""


@register(
    "q314_image_ahash_neardup",
    oracle=_Q314_ORACLE,
    tags=("multimodal", "image", "dedup", "llm"),
)
def q314_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .codecs import decode_bmp_pixels

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [encode_bmp(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(synth, "media_id long, payload binary")

    def ahash(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, hv = [], [], []
            for p in pdf["payload"]:
                px = decode_bmp_pixels(bytes(p)).astype(np.int64)
                h, w = px.shape[0], px.shape[1]
                lum = px.sum(axis=2).reshape(-1)  # B+G+R, row-major top-down
                n, total = lum.size, int(lum.sum())
                bits = lum * n > total  # strict: integer-exact mean compare
                val = 0
                for i in np.nonzero(bits)[0]:
                    val |= 1 << int(i)
                ws.append(w)
                hs.append(h)
                hv.append(val)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "ahash": pd.Series(hv, dtype="int64"),
                }
            )

    hashed = media.mapInPandas(
        ahash, "media_id long, width int, height int, ahash long"
    )
    return (
        hashed.groupBy("width", "height", "ahash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("media_id").alias("min_media"),
        )
        .filter(F.col("n_images") >= 2)
    )


# ---------------------------------------------------------------------------
# q316: audio frame-level activity features — the AUDIO analog of
# q173's video frame sampling and q314's image hashing (per-frame
# featurization, the shape under every VAD / silence-trim / segment
# pass in a speech-data pipeline): decode each WAV with the real RIFF
# parser, cut the PCM into fixed 5 ms frames (40 samples @ 8 kHz),
# compute integer frame ENERGY (sum of squares — exact, no float RMS),
# mark a frame active iff energy * n_frames > total_energy (the
# strict integer mean-compare, q314's rule), and reduce per file:
# active count, peak frame energy, and the LONGEST ACTIVE RUN via the
# q312 gaps-and-islands window (what a silence-trimmer would keep).
#
# Scale: decode + frame energies are one mapInPandas pass emitting
# ~n/40 narrow rows per file; thresholding and runs are JVM windows
# PARTITIONED per media (bounded by clip length); the final rollup is
# one groupBy. Oracle: the closed-form sample generator replayed per
# frame in DuckDB (q156/q157's discipline), runs replayed with the
# same island arithmetic.
# ---------------------------------------------------------------------------

_Q316_FRAME = 40  # samples per frame: 5 ms at the 8 kHz fixture rate

# energy of frame f for media m: sum over j of ((m*7+(40f+j)*13)%2003-1001)^2
_Q316_E = (
    "CAST(list_sum(list_transform(range(40), j -> "
    "((media_id * 7 + (f * 40 + j) * 13) % 2003 - 1001)"
    " * ((media_id * 7 + (f * 40 + j) * 13) % 2003 - 1001))) AS BIGINT)"
)

_Q316_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, (160 + (doc_id % 5) * 80) // 40 AS n_frames
  FROM documents
),
fr AS (
  SELECT media_id, n_frames, unnest(range(n_frames)) AS f FROM m
),
en AS (
  SELECT media_id, n_frames, f, {_Q316_E} AS energy FROM fr
),
tot AS (
  SELECT media_id, SUM(energy) AS total_energy FROM en GROUP BY 1
),
act AS (
  SELECT e.media_id, e.f
  FROM en e JOIN tot t ON e.media_id = t.media_id
  WHERE e.energy * e.n_frames > t.total_energy
),
isl AS (
  SELECT media_id, f,
         f - row_number() OVER (PARTITION BY media_id ORDER BY f) AS grp
  FROM act
),
runs AS (
  SELECT media_id, MAX(cnt) AS longest_active FROM (
    SELECT media_id, grp, COUNT(*) AS cnt FROM isl GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT e.media_id,
       CAST(MAX(e.n_frames) AS INT) AS n_frames,
       CAST(SUM(CASE WHEN e.energy * e.n_frames > t.total_energy
                THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       MAX(e.energy) AS max_energy,
       CAST(COALESCE(MAX(r.longest_active), 0) AS BIGINT) AS longest_active
FROM en e
JOIN tot t ON e.media_id = t.media_id
LEFT JOIN runs r ON e.media_id = r.media_id
GROUP BY 1
"""


@register(
    "q316_audio_frame_features",
    oracle=_Q316_ORACLE,
    tags=("multimodal", "audio", "codec", "llm"),
)
def q316_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    from .codecs import decode_wav_samples

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [encode_wav(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(synth, "media_id long, payload binary")

    def frame_energies(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, fs, es = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _rate, s = decode_wav_samples(bytes(p))
                frames = s.reshape(-1, _Q316_FRAME)
                e = (frames * frames).sum(axis=1)
                mids.extend([int(mid)] * len(e))
                fs.extend(range(len(e)))
                es.extend(int(x) for x in e)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "f": pd.Series(fs, dtype="int64"),
                    "energy": pd.Series(es, dtype="int64"),
                }
            )

    en = media.mapInPandas(frame_energies, "media_id long, f long, energy long")
    w_media = Window.partitionBy("media_id")
    en = en.withColumn("n_frames", F.count(F.lit(1)).over(w_media)).withColumn(
        "total_energy", F.sum("energy").over(w_media)
    )
    act = en.filter(F.col("energy") * F.col("n_frames") > F.col("total_energy"))
    w_ord = Window.partitionBy("media_id").orderBy("f")
    runs = (
        act.withColumn("grp", F.col("f") - F.row_number().over(w_ord))
        .groupBy("media_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("media_id")
        .agg(F.max("cnt").alias("longest_active"))
    )
    base = en.groupBy("media_id").agg(
        F.max("n_frames").cast("int").alias("n_frames"),
        F.sum(
            (F.col("energy") * F.col("n_frames") > F.col("total_energy")).cast("long")
        ).alias("n_active"),
        F.max("energy").alias("max_energy"),
    )
    return base.join(runs, "media_id", "left").select(
        "media_id",
        "n_frames",
        "n_active",
        "max_energy",
        F.coalesce(F.col("longest_active"), F.lit(0)).cast("bigint")
        .alias("longest_active"),
    )
