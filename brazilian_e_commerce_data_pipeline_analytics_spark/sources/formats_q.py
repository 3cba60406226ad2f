"""Multi-format source/sink roundtrip (ORC + JSON lines).

The reference ingests CSV and writes its lakehouse tables through one
store (``spark_jobs/ingestion.py``); a Spark-first engine gets the
remaining interchange formats for free from the DataSource framework,
but each has a scale trap this query pins down:

* **ORC** — columnar, written ``partitionBy(event_type)`` so reads
  prune whole partitions from the directory listing (dynamic partition
  pruning applies to joins too).  Predicate pushdown and column
  pruning work as in parquet.
* **JSON lines** — row-oriented interchange.  The trap is schema
  INFERENCE: ``spark.read.json(path)`` without a schema runs a full
  extra pass over 100 TB just to guess types.  The reader here always
  passes the explicit schema — one pass, stable types.

q129 writes the events fact out in both formats, reads each back, and
aggregates per (format, event_type); the oracle computes the same
aggregates straight from the parquet source, so the check proves the
roundtrip is LOSSLESS (bigint/double/string survive both formats
bit-exact — doubles because Spark's JSON writer emits shortest
round-trip representations).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from ..scratch import fresh_dir, sf_key
from ..session import conf_scope

_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ]
)

_AGG = """
SELECT '{fmt}' AS fmt, event_type,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY event_type
"""

_Q129_ORACLE = _AGG.format(fmt="orc") + " UNION ALL " + _AGG.format(fmt="json")


def _per_format_agg(df: DataFrame, fmt: str) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(F.lit(fmt).alias("fmt"), "event_type", "n_rows", "n_users", "total_value")


@register("q129_format_roundtrip", oracle=_Q129_ORACLE, tags=("source", "sink", "formats"))
def q129_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )

    orc_dir = fresh_dir("formats", prefix=f"events_orc_{sf_key(sf_dir)}")
    ev.write.mode("overwrite").partitionBy("event_type").orc(orc_dir)
    orc_back = spark.read.orc(orc_dir)

    json_dir = fresh_dir("formats", prefix=f"events_json_{sf_key(sf_dir)}")
    ev.write.mode("overwrite").json(json_dir)
    json_back = spark.read.schema(_ROUNDTRIP_SCHEMA).json(json_dir)

    return _per_format_agg(orc_back, "orc").unionAll(
        _per_format_agg(json_back, "json")
    )


# ---------------------------------------------------------------------------
# q145: range-partitioned sorted write — the "sorted table" lakehouse
# layout that makes parquet zone maps (min/max row-group stats) prune
# date-range scans.
#
# lineitem is laid out by calendar quarter: repartitionByRange on
# (quarter_bucket, l_shipdate) gives a global range partitioning (big
# quarters split across several ordered files, no single-task global
# sort), sortWithinPartitions makes every file internally shipdate-
# sorted, and partitionBy(bucket) adds directory-level pruning on top.
# A reader with a shipdate predicate then skips (a) whole directories
# via partition pruning and (b) row groups via zone maps — the two
# mechanisms compose. The audit output re-reads the written table and
# proves per-bucket completeness (counts, min/max bounds, exact revenue)
# against the source; file-level sortedness is pinned in
# tests/test_graph_formats.py (a window over input_file_name).
#
# Scale: the shuffle is ONE range exchange (sampled boundaries, AQE-
# splittable); the sort is per-partition, never global; the write is
# embarrassingly parallel. This is the idiomatic Spark replacement for
# the reference's unsorted full-overwrite storage (ingestion.py:15-22).
# ---------------------------------------------------------------------------

_Q145_ORACLE = """
SELECT CAST(year(l_shipdate) * 10 + quarter(l_shipdate) AS INT) AS bucket,
       COUNT(*) AS n_rows,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem
GROUP BY 1
"""


@register("q145_range_sorted_write", oracle=_Q145_ORACLE, tags=("sink", "sorted", "lakehouse"))
def q145_range_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.compat import dsum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        "l_extendedprice",
        (F.year("l_shipdate") * 10 + F.quarter("l_shipdate"))
        .cast("int")
        .alias("bucket"),
    )
    out_dir = fresh_dir("formats", prefix=f"sorted_{sf_key(sf_dir)}")
    (
        li.repartitionByRange(8, "bucket", "l_shipdate")
        .sortWithinPartitions("bucket", "l_shipdate")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    rb = spark.read.parquet(out_dir)
    return rb.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        dsum("l_extendedprice", "total_price"),
    )


# ---------------------------------------------------------------------------
# q147: Z-order (Morton) layout — the multi-dimensional clustering key
# behind Delta's Z-ORDER / Iceberg's sort-order optimization. A single
# range-sort can only cluster ONE dimension; interleaving the bits of
# two dimensions gives a 1-D key whose ranges are small rectangles in
# (ship-day, part) space, so zone maps prune scans filtered on EITHER
# dimension.
#
# z(x, y) interleaves 12 bits of each coordinate — pure integer
# shift/mask arithmetic, identical in any engine, no UDF. The audit
# groups rows by the top 8 bits of z (256 coarse tiles) and reports the
# per-tile bounding box of both dimensions: bounded boxes on BOTH axes
# is the property that makes the layout prune two-dimensionally (a
# shipdate-sorted layout would show full-range part bounds in every
# tile). The clustered write itself is q145's repartitionByRange +
# sortWithinPartitions applied to z.
# ---------------------------------------------------------------------------

_Z_BITS = 12


def _z_expr_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_Q147_ORACLE = f"""
WITH d AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS x,
         CAST(l_partkey % 4096 AS BIGINT) AS y
  FROM lineitem
),
z AS (SELECT x, y, {_z_expr_sql('x', 'y')} AS z FROM d)
SELECT CAST(z >> 16 AS INT) AS tile,
       COUNT(*) AS n_rows,
       CAST(MIN(x) AS INT) AS min_x, CAST(MAX(x) AS INT) AS max_x,
       CAST(MIN(y) AS INT) AS min_y, CAST(MAX(y) AS INT) AS max_y
FROM z GROUP BY 1
"""


def _z_col(x: F.Column, y: F.Column) -> F.Column:
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    return z


@register("q147_zorder_layout", oracle=_Q147_ORACLE, tags=("layout", "zorder", "lakehouse"))
def q147_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        (F.col("l_partkey") % 4096).cast("bigint").alias("y"),
    )
    z = d.select("x", "y", _z_col(F.col("x"), F.col("y")).alias("z"))
    return z.groupBy(F.shiftright("z", 16).cast("int").alias("tile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").cast("int").alias("min_x"),
        F.max("x").cast("int").alias("max_x"),
        F.min("y").cast("int").alias("min_y"),
        F.max("y").cast("int").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# q150: native XML roundtrip — Spark 4's built-in XML source (the
# spark-xml package folded into core as SPARK-44265). Same lossless-
# roundtrip contract as q129's ORC/JSON legs: write the events
# projection as XML, read it back with an EXPLICIT schema (XML
# inference is an extra full pass, same rule as CSV/JSON), and prove
# the aggregates match the parquet source.
#
# Scale notes: XML is the interchange format here, not the analytical
# layout — a row-per-element text format parses ~10x slower than
# columnar; the roundtrip exists for ingest parity (ERP/legacy feeds),
# after which data lands in parquet. Write and read are both
# embarrassingly parallel (one XML file per task, StAX record reader
# per file).
# ---------------------------------------------------------------------------

_Q150_ORACLE = _AGG.format(fmt="xml")


@register("q150_xml_roundtrip", oracle=_Q150_ORACLE, tags=("source", "sink", "formats", "xml"))
def q150_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    xml_dir = fresh_dir("formats", prefix=f"events_xml_{sf_key(sf_dir)}")
    (
        ev.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(xml_dir)
    )
    back = (
        spark.read.format("xml")
        .schema(_ROUNDTRIP_SCHEMA)
        .option("rowTag", "event")
        .load(xml_dir)
    )
    return _per_format_agg(back, "xml")


# ---------------------------------------------------------------------------
# q152: schema evolution on read — two generations of a feed land with
# DIFFERENT schemas (gen 1 carries `value`, gen 2 drops it and adds
# `event_type`), and a mergeSchema read reconciles them into one
# relation with NULLs where a generation lacks a column. This is the
# schema-drift reality of any long-lived ingest path; the versioned-
# table layer (q124/q137) assumes a stable schema, so this query is
# the missing drift leg.
#
# mergeSchema=true unions the parquet footers at planning time (no
# data pass); per-file projection still prunes to the columns that
# file actually has. The `gen` directory key is discovered as a
# partition column. The audit proves exactly which columns are NULL
# in which generation and that no rows were lost.
# ---------------------------------------------------------------------------

_Q152_ORACLE = """
SELECT gen,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) FILTER (WHERE gen = 2) AS n_null_value,
       COUNT(*) FILTER (WHERE gen = 1) AS n_null_type
FROM (
  SELECT CAST(1 + (event_id % 2) AS INT) AS gen, user_id FROM events
)
GROUP BY gen
"""


@register("q152_schema_evolution", oracle=_Q152_ORACLE, tags=("source", "schema", "lakehouse"))
def q152_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = fresh_dir("formats", prefix=f"schema_evo_{sf_key(sf_dir)}")
    gen1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    gen2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy(F.col("gen").cast("int").alias("gen")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum(F.col("event_type").isNull().cast("long")).alias("n_null_type"),
    )


# ---------------------------------------------------------------------------
# q155: corrupt-record-tolerant ingest — PERMISSIVE JSON reading with
# columnNameOfCorruptRecord, the robustness contract every real feed
# needs (the reference's inferschema CSV ingest dies on the first bad
# row; ingestion.py:12). Good rows parse normally; malformed lines
# land whole in _corrupt_record with every data column NULL, so bad
# data is QUARANTINED, not dropped and not fatal. The fixture plants
# 7 deterministic malformed lines among the real JSON.
#
# Scale: PERMISSIVE parsing is per-row inside the scan — no extra
# pass, no driver involvement; the quarantine column prunes away for
# queries that don't select it.
# ---------------------------------------------------------------------------

_N_CORRUPT = 7

_Q155_ORACLE = f"""
SELECT 'good' AS kind, COUNT(*) AS n_rows,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6) AS total_value
FROM events
UNION ALL
SELECT 'corrupt', {_N_CORRUPT}, NULL
"""


@register("q155_corrupt_records", oracle=_Q155_ORACLE, tags=("source", "robustness", "json"))
def q155_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    d = fresh_dir("formats", prefix=f"corrupt_json_{sf_key(sf_dir)}")
    ev.write.mode("overwrite").json(d)
    # plant malformed lines (deterministic content and count) among the
    # real part files — a driver-side FIXTURE construction, not a data path
    with open(os.path.join(d, "zz-corrupt-extra.json"), "w", encoding="utf-8") as fh:
        for i in range(_N_CORRUPT):
            fh.write(f'{{"event_id": BAD{i}, "user_id": !!}}\n')
    schema = T.StructType(
        list(_ROUNDTRIP_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
    )
    return back.groupBy(
        F.when(F.col("_corrupt_record").isNull(), "good")
        .otherwise("corrupt")
        .alias("kind")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 6
        ).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q224: binaryFile source — Spark's built-in whole-file reader, the
# ingestion front door for the multimodal pipeline (q52/q156/q157/
# q173 decode binary COLUMNS; this is how raw files BECOME those
# columns at 100 TB: a distributed directory scan where each file is
# one row of (path, modificationTime, length, content), partitioned by
# Spark's file-listing — no driver-side reads). The fixture writes one
# .bin file per sampled document (driver-side, 20 metadata-sized
# files — the fixture is the stand-in for an existing object-store
# prefix); the DISTRIBUTED part under test is the binaryFile scan and
# the binary-content expressions (md5/length over BinaryType). The
# oracle replays filename, length, and content hash straight from the
# documents table, proving the file roundtrip byte-lossless.
# ---------------------------------------------------------------------------

_Q224_N_FILES = 20

_Q224_ORACLE = f"""
SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS filename,
       CAST(length(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {_Q224_N_FILES}
"""


@register("q224_binaryfile_source", oracle=_Q224_ORACLE, tags=("source", "binary", "multimodal"))
def q224_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _Q224_N_FILES
    )
    out = fresh_dir("formats", prefix=f"binfiles_{sf_key(sf_dir)}")
    os.makedirs(out, exist_ok=True)
    # fixture: materialize the sampled docs as real files (ASCII corpus,
    # so text bytes == utf-8 encode on both engines)
    for row in d.select("doc_id", "text").collect():
        with open(os.path.join(out, f"doc_{row['doc_id']}.bin"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(out)
    return files.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("filename"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# q232: parquet aggregate pushdown — MIN/MAX/COUNT answered from file
# FOOTER METADATA, zero data pages read: the reason "how many rows,
# what key range" costs milliseconds on a 100 TB table. Requires the
# DSv2 scan path (useV1SourceList='') plus parquet.aggregatePushdown;
# both confs are scoped to this builder by session.conf_scope — the
# physical plan is forced (executedPlan is materialized once per
# QueryExecution and reused by the driver's collect) BEFORE the confs
# are restored, so no other registered query's plan shifts to v2 as a
# side effect (the lazy-plan rule in conf_scope's docstring). The plan pin
# (tests/test_plans.py) asserts `PushedAggregation:
# [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]` on the BatchScan.
# ---------------------------------------------------------------------------

_Q232_ORACLE = """
SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
"""


@register("q232_parquet_agg_pushdown", oracle=_Q232_ORACLE, tags=("source", "pushdown", "optimizer"))
def q232_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    with conf_scope(spark, confs):
        df = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .agg(
                F.min("o_orderkey").alias("min_orderkey"),
                F.max("o_orderkey").alias("max_orderkey"),
                F.count("*").alias("n_rows"),
            )
        )
        # materialize the physical plan (a cached lazy val on this
        # QueryExecution) while the pushdown confs are active
        df._jdf.queryExecution().executedPlan()
    return df


# ---------------------------------------------------------------------------
# q307: XML EXPRESSION functions (Spark 4.0 — to_xml / from_xml /
# schema_of_xml) — the column-level face of the XML story, same split
# as to_json/from_json vs the json source: q150 reads/writes XML FILES
# through the DataSource; these functions convert per-ROW between a
# struct column and an XML string inside a plan, which is how an XML
# payload embedded in another feed (a CDC envelope, a message queue
# column) gets parsed without a detour through files. The row proves a
# value-exact struct -> to_xml -> from_xml round trip on real order
# rows (the parsed values ARE the compared output), plus two
# calibration-gate columns: the serialized form carries the expected
# field tags, and schema_of_xml infers the documented schema string
# for a sample literal (deterministic engine output replayed by the
# oracle as a literal, q158/q97 shape).
# ---------------------------------------------------------------------------

_Q307_ORACLE = """
SELECT o_orderkey AS okey_rt,
       o_orderpriority AS prio_rt,
       CAST(o_totalprice AS DOUBLE) AS price_rt,
       TRUE AS xml_has_tags,
       'STRUCT<id: BIGINT>' AS inferred_schema
FROM orders
ORDER BY o_orderkey
LIMIT 10
"""


@register(
    "q307_xml_functions",
    oracle=_Q307_ORACLE,
    tags=("formats", "xml", "functions", "semi-structured"),
)
def q307_xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(10)
        .select(
            F.struct(
                F.col("o_orderkey"),
                F.col("o_orderpriority"),
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
            ).alias("s")
        )
    )
    xml = o.select(F.to_xml("s").alias("x"))
    parsed = xml.select(
        F.from_xml(
            "x", "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE"
        ).alias("p"),
        "x",
    )
    return parsed.select(
        F.col("p.o_orderkey").alias("okey_rt"),
        F.col("p.o_orderpriority").alias("prio_rt"),
        F.col("p.o_totalprice").alias("price_rt"),
        (
            F.col("x").contains("<o_orderkey>")
            & F.col("x").contains("<o_orderpriority>")
        ).alias("xml_has_tags"),
        F.schema_of_xml(F.lit("<ROW><id>1</id></ROW>")).alias("inferred_schema"),
    )


# ---------------------------------------------------------------------------
# q308: UTF-8 validation quartet (Spark 4.0 — is_valid_utf8 /
# make_valid_utf8 / try_validate_utf8) — ingest hygiene for binary
# feeds, next to q155's corrupt-record JSON handling: real corpora
# arrive with encoding damage, and the three policies are exactly
# these functions — DETECT (is_valid_utf8 flag for routing), REPAIR
# (make_valid_utf8 substitutes U+FFFD for invalid sequences, keeping
# the valid remainder), REJECT (try_validate_utf8 -> NULL, the
# dead-letter route; validate_utf8 raises, exercised in the test
# suite, not here — a raising expression can't be a driver row). The
# fixture damages real document bytes deterministically (odd doc_ids
# get an invalid 0xFF prefix), so every policy's outcome is
# closed-form: repaired length = 1 replacement char + the original,
# rejected = all damaged rows. Oracle replays by construction.
# ---------------------------------------------------------------------------

_Q308_ORACLE = """
SELECT TRUE AS is_valid,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_rejected,
       CAST(0 AS BIGINT) AS extra_repair_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT FALSE,
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM documents WHERE doc_id % 2 = 1
"""


@register(
    "q308_utf8_validation",
    oracle=_Q308_ORACLE,
    tags=("formats", "robustness", "utf8", "curation"),
)
def q308_utf8_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    damaged = d.select(
        "doc_id",
        F.length("text").alias("orig_chars"),
        F.when(
            F.col("doc_id") % 2 == 0, F.encode("text", "UTF-8")
        ).otherwise(
            F.concat(F.lit(bytes([0xFF])), F.encode("text", "UTF-8"))
        ).alias("raw"),
    )
    return (
        damaged.select(
            "orig_chars",
            F.expr("is_valid_utf8(raw)").alias("is_valid"),
            F.expr("try_validate_utf8(raw)").alias("tried"),
            F.length(F.expr("make_valid_utf8(raw)")).alias("repaired_chars"),
        )
        .groupBy("is_valid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("tried").isNull().cast("long")).alias("n_rejected"),
            F.sum(F.col("repaired_chars") - F.col("orig_chars")).alias(
                "extra_repair_chars"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q339: XPath expression family — the UNTYPED XML extraction face,
# complementing q307's typed one (from_xml needs a schema up front;
# xpath_*() pulls values straight out of markup, which is how ad-hoc
# extraction over scraped/legacy XML actually starts before anyone
# writes a schema). Faces: xpath() (node-list -> array), xpath_long
# with an XPath AGGREGATE ('sum(/ps/p)') — the aggregation happens
# inside the XPath engine, per row — and xpath_string with a
# positional predicate ('/ps/p[1]').
#
# The XML is aggregated per brand from part rows (listagg ordered by
# p_partkey, so the document's element ORDER is deterministic — the
# [1] predicate then has a defined answer). DuckDB has no XPath; the
# oracle replays each extraction from the same relational facts
# (count, integer sum, value-at-min-partkey), so a Spark extraction
# bug mismatches instead of tautologically agreeing — the q333/q139
# synthesize-then-process pattern.
#
# Scale: one groupBy(brand) with an ordered listagg, then per-row
# xpath over kilobyte documents — embarrassingly parallel; nothing
# corpus-sized ever concatenates.
# ---------------------------------------------------------------------------

_Q339_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS INT) AS n_parts_x,
       CAST(SUM(p_size) AS BIGINT) AS sum_size_x,
       CAST(arg_min(p_size, p_partkey) AS VARCHAR) AS first_size_x
FROM part
GROUP BY p_brand
"""


@register(
    "q339_xpath_extraction",
    oracle=_Q339_ORACLE,
    tags=("xml", "xpath", "sql"),
)
def q339_xpath_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    docs = p.groupBy("p_brand").agg(
        F.concat(
            F.lit("<ps>"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("p_partkey", "p_size"))
                    ),
                    lambda s: F.concat(
                        F.lit("<p>"), s["p_size"].cast("string"), F.lit("</p>")
                    ),
                ),
                "",
            ),
            F.lit("</ps>"),
        ).alias("xml")
    )
    return docs.select(
        "p_brand",
        F.size(F.expr("xpath(xml, '/ps/p/text()')")).alias("n_parts_x"),
        F.expr("xpath_long(xml, 'sum(/ps/p)')").alias("sum_size_x"),
        F.expr("xpath_string(xml, '/ps/p[1]')").alias("first_size_x"),
    )
