"""Non-parquet source/sink catalog entries (SURVEY.md §2.2 "Sources").

The reference's storage layer is format-agnostic directory scan + write
(``DistrStorage.java:137-155`` scan, ``192-210`` write); parquet entries
cover the scan contract elsewhere, and these two entries put the CSV and
JSON source/sink paths under the same DuckDB oracle gate.

Oracle strategy: each entry ROUND-TRIPS a parquet table through the text
format (Spark sink -> Spark source -> aggregate), while the oracle computes
the same aggregate straight from the parquet view. Equality proves the
format writer and reader are lossless for the carried types — no shared
file path between engines, so there is no ordering dependency between the
driver's Spark and DuckDB runs.

Scale notes: schemas are always EXPLICIT on read — ``inferSchema`` (CSV) or
schema inference (JSON) is an extra full scan of the input at 100 TB and is
never acceptable in a pipeline; the JSON entry derives its schema with
``schema_of_json`` from a one-row sample instead, which is the idiomatic
bounded-cost alternative. Writes stay partitioned (one file per task, the
reference's exactly-R contract lives in io.write_exact_files).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.queries.catalog import register
from irio_mapreduce_spark.session import scoped_conf, session_memo
from irio_mapreduce_spark.streaming import drain


@functools.cache
def _scratch_root() -> str:
    """This process's scratch root, removed at process exit."""
    root = tempfile.mkdtemp(prefix="irio_mapreduce_spark_sources_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _scratch(sf_dir: str, leaf: str) -> str:
    """A fresh, empty scratch dir for one build, outside the repo tree.

    Every build gets its own directory under :func:`_scratch_root`, so
    building an entry again never rewrites the files a lazy frame from an
    earlier build still lists, and two processes on one host never share
    a path."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return tempfile.mkdtemp(prefix=f"{tag}_{leaf}_", dir=_scratch_root())


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_acctbal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source: supplier -> headered CSV -> explicit-schema read
    -> aggregate. The oracle aggregates the original parquet, so a hash
    match proves the CSV writer/reader are lossless for int/double/string
    (incl. quoting of comma-bearing strings and round-trippable double
    formatting)."""
    path = _scratch(sf_dir, "supplier_csv")
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    s.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(
            "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE"
        )
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey % 101 = 0
    GROUP BY o_orderpriority
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source: orders subset -> json -> read with a
    schema derived by ``schema_of_json`` from a one-row sample (the SURVEY
    §2.2 JSON-family function not exercised elsewhere) -> aggregate vs the
    parquet truth."""
    path = _scratch(sf_dir, "orders_json")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    o.write.mode("overwrite").json(path)
    sample = '{"o_orderkey": 1, "o_orderpriority": "1-URGENT", "o_totalprice": 1.0}'
    back = (
        spark.read.text(path)
        .select(
            F.from_json(F.col("value"), F.schema_of_json(F.lit(sample))).alias("r")
        )
        .select("r.*")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT p_brand, p_type, count(*) AS n_parts,
           CAST(round(sum(CAST(p_retailprice AS DECIMAL(38,10))), 2) AS DOUBLE)
             AS total_retail,
           CAST(sum(p_size) AS BIGINT) AS total_size
    FROM part
    GROUP BY p_brand, p_type
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source: part -> ORC -> read -> aggregate vs the parquet
    truth. ORC is Spark's second first-class columnar format (built-in
    reader/writer, predicate pushdown, column pruning) — the reference's
    format-agnostic storage scan (``DistrStorage.java:137-155``) maps to
    either columnar container. ORC carries its schema, so the read needs
    no explicit schema (unlike the CSV/JSON entries); a hash match proves
    writer/reader are lossless for int/double/string."""
    path = _scratch(sf_dir, "part_orc")
    p = read_table(spark, sf_dir, "part")
    p.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand", "p_type").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum(F.col("p_retailprice").cast("decimal(38,10)")), 2)
        .cast("double")
        .alias("total_retail"),
        F.sum("p_size").cast("long").alias("total_size"),
    )


def _top20_wordcount(lines: DataFrame) -> DataFrame:
    """Shared scoring pipeline of the two dir-of-files wordcount entries."""
    from irio_mapreduce_spark.llm.dedup import tokens

    return (
        lines.select(F.explode(tokens(F.col("value"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


# Shared top-20 wordcount oracle of the two dir-of-files source entries
# (batch dirtext round trip and streaming dirtail) - one definition so the
# two entries provably check the same contract.
_WORDCOUNT_ORACLE = """
    SELECT w AS word, count(*) AS n FROM (
      SELECT unnest(list_filter(
               string_split_regex(lower(regexp_replace(text, '[\\r\\n]+', ' ', 'g')),
                                  '\\s+'),
               t -> t <> '')) AS w
      FROM documents)
    GROUP BY w ORDER BY n DESC, w LIMIT 20
"""


@register(
    "source_dirtext_wordcount",
    oracle=_WORDCOUNT_ORACLE,
)
def source_dirtext_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the pure-Python ``dirtext`` data source
    (irio_mapreduce_spark.pysource — the reference's dir-of-files storage
    model with tmp+driver-commit writes): documents flow OUT through the
    custom writer (one line per doc, newlines flattened) and back IN
    through the custom reader (one task per file), then a word count
    top-20 — hash-checked against DuckDB computing the same count straight
    from the parquet table, proving the custom source neither drops nor
    mangles a byte."""
    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    d = _scratch(sf_dir, "dirtext") + "/docs"
    docs = read_table(spark, sf_dir, "documents").select(
        F.regexp_replace(F.col("text"), r"[\r\n]+", " ").alias("value")
    )
    docs.repartition(8).write.format("dirtext").option("path", d).mode(
        "append"
    ).save()
    lines = spark.read.format("dirtext").option("path", d).load()
    return _top20_wordcount(lines)


@register(
    "source_hive_partitioned_pruned",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    """,
)
def source_hive_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-PRUNED source: documents written
    ``partitionBy("lang")``, read back with a ``lang = 'en'`` predicate
    that Spark satisfies from directory names alone — the non-'en'
    partitions are never opened (tests/test_plans.py asserts the plan's
    PartitionFilters; tests/test_io.py proves pruning file-count-wise).
    At 100 TB this is THE first-order scan reducer: partition layout turns
    a full-corpus read into a per-slice read before any row-level filter
    runs. The oracle aggregates the original parquet under the same
    predicate, so a hash match also proves the partitioned layout is
    lossless (values in partition columns round-trip through directory
    encoding)."""
    path = _scratch(sf_dir, "documents_by_lang")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "source_malformed_csv",
    oracle="""
    WITH base AS (SELECT s_suppkey, s_nationkey FROM supplier)
    SELECT CAST((SELECT count(*) FROM base WHERE s_suppkey % 7 <> 0) AS BIGINT)
             AS n_good,
           CAST((SELECT count(*) FROM base WHERE s_suppkey % 7 = 0) AS BIGINT)
             AS n_bad,
           CAST((SELECT sum(s_suppkey) FROM base WHERE s_suppkey % 7 <> 0)
                AS BIGINT) AS good_key_sum
    """,
)
def source_malformed_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust ingest: a CSV with PLANTED corrupt rows (every suppkey % 7
    row becomes non-numeric garbage with the wrong arity) read in
    PERMISSIVE mode with a ``_corrupt_record`` column — the 100 TB ingest
    reality where a fraction of upstream records is broken and the job
    must quarantine, not crash. Output: good/bad row counts and the key
    sum over clean rows; the oracle derives all three from the plant
    recipe. DROPMALFORMED/FAILFAST are the documented alternatives; the
    corrupt-record column is the quarantine-and-audit mode."""
    path = _scratch(sf_dir, "supplier_malformed_csv")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lines = s.select(
        F.when(
            F.col("s_suppkey") % 7 == 0,
            F.concat(F.lit("garbage|not,a,number,"), F.col("s_suppkey").cast("string")),
        )
        .otherwise(
            F.concat_ws(",", F.col("s_suppkey").cast("string"),
                        F.col("s_nationkey").cast("string"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "s_suppkey BIGINT, s_nationkey BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark disallows queries over raw CSV that touch the corrupt-record
    # column without a materialization barrier (UNSUPPORTED_FEATURE.
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN — verified: the aggregate below
    # trips it even though it also references s_suppkey). cache() is the
    # documented unblock; at 100 TB the equivalent one-pass shape is to
    # SPLIT-WRITE immediately (good rows -> table, bad rows ->
    # badRecordsPath-style quarantine dir) instead of caching the input.
    back = back.cache()
    result = barrier(
        back.agg(
            F.count(F.when(F.col("_corrupt_record").isNull(), 1))
            .cast("long")
            .alias("n_good"),
            F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
            .cast("long")
            .alias("n_bad"),
            F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("s_suppkey")))
            .cast("long")
            .alias("good_key_sum"),
        )
    )
    # the aggregate is materialized above, so the cached CSV can be
    # released immediately instead of pinning executor storage until GC
    back.unpersist()
    return result


@register(
    "source_schema_evolution",
    oracle="""
    SELECT n_nationkey AS key_col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_region
    FROM (
      SELECT n_nationkey, 0 AS batch FROM nation
      UNION ALL
      SELECT n_nationkey, 1 FROM nation
    ) GROUP BY n_nationkey
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: batch v1 writes (key, name), batch v2
    adds a region column; ``mergeSchema`` reads both under the unified
    schema with NULLs for the missing column — the append-only evolution
    path a long-lived 100 TB table actually takes (schema-on-read; no
    rewrite of historical partitions). Counts per key prove both batches
    surfaced and exactly the v2 rows carry the new column."""
    path = _scratch(sf_dir, "nation_evolving")
    n = read_table(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(path + "/b0")
    n.select("n_nationkey", "n_name", "n_regionkey").write.mode("overwrite").parquet(
        path + "/b1"
    )
    back = spark.read.option("mergeSchema", True).parquet(path + "/b0", path + "/b1")
    return back.groupBy(F.col("n_nationkey").alias("key_col")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("n_regionkey").cast("long").alias("n_with_region"),
    )


@register(
    "source_dirtail_stream_wordcount",
    oracle=_WORDCOUNT_ORACLE,
)
def source_dirtail_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the pure-Python dir-of-files source under the
    driver's oracle gate: documents flow OUT through the custom ``dirtext``
    batch writer, are TAILED back in through the custom ``dirtail``
    streaming source (offsets = the consumed-file list, checkpointed),
    drained through the idempotent ``foreachBatch`` parquet sink, then
    word-counted — the same top-20 oracle as the batch ``dirtext`` entry,
    proving the streaming source delivers every line exactly once. The
    batch entry proves the storage model; this one proves its tail-replay
    contract (``pysource.DirTailStreamReader.read``/``readBetweenOffsets``)
    on the real engine."""
    from irio_mapreduce_spark import pysource
    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    pysource.register(spark)
    base = _scratch(sf_dir, "dirtail")
    d, out, ck = f"{base}/docs", f"{base}/out", f"{base}/ck"
    docs = read_table(spark, sf_dir, "documents").select(
        F.regexp_replace(F.col("text"), r"[\r\n]+", " ").alias("value")
    )
    docs.repartition(4).write.format("dirtext").option("path", d).mode(
        "append"
    ).save()
    stream = spark.readStream.format("dirtail").option("path", d).load()
    write_stream_parquet_exactly_once(stream.select("value"), out, ck)
    lines = spark.read.parquet(out)
    return _top20_wordcount(lines)


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer WHERE c_custkey % 7 = 0
    GROUP BY c_mktsegment
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source (Spark 4's NATIVE xml data source — no external
    package): a customer slice -> row-tagged XML files -> explicit-schema
    read -> aggregate. The oracle aggregates the original parquet, so a
    hash match proves the XML writer/reader pair is lossless for
    int/string/double columns including XML-escaping of attribute-unsafe
    characters (customer names carry '#'). Money compares in exact cents
    (double -> text -> double is value-preserving but the convention
    avoids float sums). At 100 TB XML is an INGEST format, never a
    processing format — the entry's write exists to prove the reader
    against a known corpus; one partition-parallel scan either way."""
    path = _scratch(sf_dir, "customer_xml")
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    (
        c.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(
            "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, "
            "c_acctbal DOUBLE"
        )
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )


@register(
    "fn_xml_family",
    oracle="""
    SELECT p_partkey,
           p_type AS x_type,
           CAST(p_size AS BIGINT) AS x_size,
           CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n_words
    FROM part WHERE p_partkey % 83 = 0
    """,
)
def fn_xml_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scalar-function family (xpath_string / xpath_int / xpath over
    node lists): each row is serialized to an XML fragment IN-QUERY and
    the fields extracted back with XPath — the oracle states the expected
    values directly from the raw columns, so the hash match proves the
    construct->parse round trip (including '&'/'<' escaping in p_type
    via the escape done at build time). The node-list xpath() counts
    per-word <w> elements. DuckDB has no XPath; identity-style oracles
    are exactly how non-SQL scalar families stay hash-checkable."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 83 == 0)
    esc = F.regexp_replace(
        F.regexp_replace(F.col("p_type"), "&", "&amp;"), "<", "&lt;"
    )
    words_xml = F.concat(
        F.lit("<ws><w>"),
        F.regexp_replace(esc, " ", "</w><w>"),
        F.lit("</w></ws>"),
    )
    xml = F.concat(
        F.lit("<part><type>"),
        esc,
        F.lit("</type><size>"),
        F.col("p_size").cast("string"),
        F.lit("</size></part>"),
    )
    return p.select(
        "p_partkey",
        F.xpath_string(xml, F.lit("/part/type")).alias("x_type"),
        F.xpath_int(xml, F.lit("/part/size")).cast("long").alias("x_size"),
        F.size(F.xpath(words_xml, F.lit("/ws/w/text()"))).cast("long").alias("n_words"),
    )


@register(
    "source_pystream_writer_wordcount",
    oracle=_WORDCOUNT_ORACLE,
)
def source_pystream_writer_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING SINK half of the pure-Python source — with this the
    custom dirtext/dirtail format covers ALL FOUR quadrants (batch read,
    batch write, stream read, stream write). Documents flow out through
    the batch dirtext writer, tail back in through the dirtail streaming
    source, and stream OUT again through ``DirTextStreamWriter`` — whose
    per-micro-batch commit finalizes task ``_tmp_`` files under a
    batch-scoped prefix and is replay-idempotent (a re-run batch deletes
    its own prefix first, so failure between task writes and commit can
    never double data). The batch dirtext reader then re-reads the
    stream-written directory and the same top-20 wordcount oracle must
    hash-match — one dropped, doubled, or torn line anywhere in the
    chain breaks it."""
    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    base = _scratch(sf_dir, "pystream")
    a, b, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    docs = read_table(spark, sf_dir, "documents").select(
        F.regexp_replace(F.col("text"), r"[\r\n]+", " ").alias("value")
    )
    docs.repartition(4).write.format("dirtext").option("path", a).mode(
        "append"
    ).save()
    stream = (
        spark.readStream.format("dirtail")
        .option("path", a)
        .load()
        .select("value")
    )
    drain(stream, "dirtext", path=b, checkpoint=ck)
    lines = spark.read.format("dirtext").option("path", b).load()
    return _top20_wordcount(lines)


@register(
    "source_parquet_bloom_stats",
    oracle="""
    SELECT c_custkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer WHERE c_custkey IN (2, 3, 5, 7, 11, 13)
    GROUP BY c_custkey
    """,
)
def source_parquet_bloom_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COLUMN BLOOM FILTERS (``parquet.bloom.filter.enabled#col``)
    — the point-lookup row-group-skipping knob beside the codec knob
    (``source_parquet_codecs``): min/max footer stats cannot skip row
    groups for a high-cardinality key whose values span every group (an
    id column's min/max covers the whole domain), but a per-row-group
    bloom filter answers "is key k possibly here?" and lets an
    ``id = k`` / ``IN`` scan skip groups with no false negatives — at
    100 TB the difference between touching every row group and touching
    one. The entry writes the customer table with a bloom on c_custkey
    (ndv-tuned), reads it back through an IN-list point predicate, and
    checksums the hits in exact cents; the oracle runs the same lookup on
    the ORIGINAL parquet, so the hash match proves the bloom-annotated
    file is value-identical and the lookup loses nothing.
    tests/test_io.py pins that the option actually emits bloom payloads
    (byte-identical data written with/without the option differs by the
    filter bytes; this container's pyarrow predates bloom-offset
    metadata accessors, so the size delta is the observable)."""
    path = _scratch(sf_dir, "customer_bloom")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    (
        c.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#c_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#c_custkey", "20000")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("c_custkey").isin(2, 3, 5, 7, 11, 13)
    )
    return back.groupBy("c_custkey").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )


@register(
    "source_parquet_codecs",
    oracle="""
    SELECT c.codec,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer, (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec)
    WHERE c_custkey % 17 = 0
    GROUP BY c.codec
    """,
)
def source_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COMPRESSION-CODEC roundtrip: the same customer slice
    written under zstd, gzip, and snappy, read back and checksummed per
    codec — identical rows and exact-cents totals prove codec choice
    never touches values (it changes CPU/size tradeoffs only: zstd/gzip
    for cold data, snappy/lz4 for hot paths; Spark's lz4 writes
    LZ4_RAW, which this container's pyarrow can't name in footers, so
    the asserted trio is gzip/snappy/zstd — the 100 TB knob that shrinks
    a table 2-4x for the price of decode CPU). tests/test_io.py asserts
    the written footers actually carry each codec (a silently-ignored
    option would still pass the value check — the footer assert is what
    pins the knob works)."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 17 == 0
    ).select("c_custkey", "c_acctbal")
    out = None
    for codec in ("gzip", "snappy", "zstd"):
        path = _scratch(sf_dir, f"customer_codec_{codec}")
        c.write.mode("overwrite").option("compression", codec).parquet(path)
        back = (
            spark.read.parquet(path)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
                ).cast("long").alias("acctbal_cents"),
            )
            .select(F.lit(codec).alias("codec"), "n_rows", "acctbal_cents")
        )
        out = back if out is None else out.unionByName(back)
    return out


@register(
    "source_dirtail_partitioned_stream",
    oracle=_WORDCOUNT_ORACLE,
)
def source_dirtail_partitioned_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITIONED streaming reader (full ``DataSourceStreamReader``)
    under the oracle gate — the scale-path half of the custom streaming
    source beside the Simple-API entry (`source_dirtail_stream_wordcount`):
    there, every byte funnels through one driver-side ``read()`` per
    micro-batch (the Simple API's documented trade-off); here the driver
    computes only OFFSETS (a directory listing) and plans one input
    partition per new file, whose contents EXECUTORS read in parallel —
    the reference's one-map-task-per-file split
    (`DistrStorage.java:137-155`) on the streaming engine, and the only
    form that survives a 1000-executor backlog drain. Same top-20
    wordcount oracle over the same exactly-once parquet drain: one
    dropped, doubled, or torn line anywhere breaks the hash."""
    from irio_mapreduce_spark import pysource
    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    pysource.register(spark)
    base = _scratch(sf_dir, "dirtail_partitioned")
    d, out, ck = f"{base}/docs", f"{base}/out", f"{base}/ck"
    docs = read_table(spark, sf_dir, "documents").select(
        F.regexp_replace(F.col("text"), r"[\r\n]+", " ").alias("value")
    )
    docs.repartition(4).write.format("dirtext").option("path", d).mode(
        "append"
    ).save()
    stream = spark.readStream.format("dirtailp").option("path", d).load()
    write_stream_parquet_exactly_once(stream.select("value"), out, ck)
    lines = spark.read.parquet(out)
    return _top20_wordcount(lines)


@register(
    "source_malformed_json",
    oracle="""
    WITH base AS (SELECT s_suppkey, s_nationkey FROM supplier)
    SELECT CAST((SELECT count(*) FROM base WHERE s_suppkey % 5 <> 0) AS BIGINT)
             AS n_good,
           CAST((SELECT count(*) FROM base WHERE s_suppkey % 5 = 0) AS BIGINT)
             AS n_bad,
           CAST((SELECT sum(s_nationkey) FROM base WHERE s_suppkey % 5 <> 0)
                AS BIGINT) AS good_nation_sum
    """,
)
def source_malformed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSON twin of the malformed-CSV quarantine entry: every
    suppkey % 5 record is planted as STRUCTURALLY broken JSON (truncated
    object — an unclosed brace mid-stream, the shape a crashed upstream
    writer leaves), read back in PERMISSIVE mode with a
    ``_corrupt_record`` column. JSON breaks differently from CSV (no
    arity to violate; corruption is tokenizer-level), so the quarantine
    family needs both under the oracle gate. Same
    materialization-barrier note as the CSV entry (cache, aggregate,
    checkpoint, unpersist); at 100 TB the one-pass shape is an immediate
    good/bad split-write."""
    path = _scratch(sf_dir, "supplier_malformed_json")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lines = s.select(
        F.when(
            F.col("s_suppkey") % 5 == 0,
            F.concat(
                F.lit('{"s_suppkey": '), F.col("s_suppkey").cast("string"),
                F.lit(', "s_nationkey": '),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"s_suppkey": '), F.col("s_suppkey").cast("string"),
                F.lit(', "s_nationkey": '),
                F.col("s_nationkey").cast("string"), F.lit("}"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "s_suppkey BIGINT, s_nationkey BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    back = back.cache()
    result = barrier(
        back.agg(
            F.count(F.when(F.col("_corrupt_record").isNull(), 1))
            .cast("long")
            .alias("n_good"),
            F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
            .cast("long")
            .alias("n_bad"),
            F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("s_nationkey")))
            .cast("long")
            .alias("good_nation_sum"),
        )
    )
    back.unpersist()
    return result


def _events_by_day_dir(spark: SparkSession, sf_dir: str) -> str:
    """``events`` rewritten ``partitionBy(day)`` once per session — the
    shared fixture of the two partition-pruning entries (static range +
    dynamic join-driven)."""

    def build() -> str:
        d = _scratch(sf_dir, "events_by_day")
        (
            read_table(spark, sf_dir, "events")
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.partitionBy("day")
            .mode("overwrite")
            .parquet(d)
        )
        return d

    return session_memo(("events_by_day", sf_dir), build)


@register(
    "source_partition_range_pruning",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d')
          BETWEEN '2024-01-05' AND '2024-01-11'
    GROUP BY 1, 2
    """,
)
def source_partition_range_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE pruning over TYPE-INFERRED partition values — the second
    static-pruning path beside ``source_hive_partitioned_pruned`` (that
    entry: EQUALITY on a string partition; this one: a BETWEEN range
    over partition directories that type inference reads back as DATE).
    ``events`` is laid out ``partitionBy(day)`` — the ingest-date layout
    every production event table uses — and a 7-day range query must
    prune at the FILE LISTING level: range predicates only prune when
    the inferred partition TYPE orders correctly (a string-vs-date
    mismatch silently degrades BETWEEN to a post-scan filter), which is
    exactly the failure mode this entry pins. The executed plan must
    carry the day bounds in PartitionFilters or the entry raises; the
    oracle recomputes the rollup from the unpartitioned source of
    truth, and the output day column exercises the DATE->string
    round trip of the directory encoding. Written once per session
    (30 directories, one job)."""
    out = (
        spark.read.parquet(_events_by_day_dir(spark, sf_dir))
        .filter(F.col("day").between("2024-01-05", "2024-01-11"))
        # partition-type inference reads the directory names back as
        # DATE; the oracle-compared output column is the string form
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters" not in plan or "2024-01-05" not in plan:
        raise RuntimeError(
            "day-range predicate did not reach PartitionFilters — "
            f"pruning degraded to a full scan:\n{plan[:2000]}"
        )
    return out


@register(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT strftime(DATE '2024-01-01' + INTERVAL (i) DAY, '%Y-%m-%d')
               AS day,
             CASE WHEN i % 5 = 2 THEN 'promo' ELSE 'normal' END AS grp
      FROM range(0, 31) t(i))
    SELECT d.day, e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 2) AS total_value
    FROM events e
      JOIN dim d ON strftime(time_bucket(INTERVAL 1 DAY, e.ts),
                             '%Y-%m-%d') = d.day
    WHERE d.grp = 'promo'
    GROUP BY d.day, e.event_type
    """,
)
def join_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the join-driven sibling of the two
    static pruning entries: the fact side is partitioned on ``day`` but
    the query's day set is only known from a FILTERED DIMENSION (the 6
    'promo' days of a 31-day calendar), so no static PartitionFilter can
    exist. Catalyst injects a ``dynamicpruning`` subquery into the fact
    scan's PartitionFilters: the dim's broadcast result is reused to
    prune the fact's FILE LISTING at runtime — at 100 TB this is the
    star-schema fast path (scan 6/31 of the fact for free; without DPP
    the whole fact is read and filtered post-join). The entry raises
    unless the executed plan shows the injected dynamicpruning filter;
    the oracle recomputes the same join from the unpartitioned source
    of truth, so the hash also proves pruning dropped no rows."""
    fact = spark.read.parquet(_events_by_day_dir(spark, sf_dir))
    dim = spark.range(31).select(
        F.date_add(
            F.lit("2024-01-01").cast("date"), F.col("id").cast("int")
        ).alias("day"),
        F.when(F.col("id") % 5 == 2, F.lit("promo"))
        .otherwise(F.lit("normal"))
        .alias("grp"),
    )
    out = (
        fact.join(dim.filter(F.col("grp") == "promo"), "day")
        .groupBy(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "dynamicpruning" not in plan.lower():
        raise RuntimeError(
            "no dynamicpruning filter injected on the fact scan — DPP "
            f"degraded to a full read:\n{plan[:2000]}"
        )
    return out


@register(
    "source_rowgroup_stats_pruning",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(max(l_orderkey) * 0.4) AS BIGINT) AS lo,
             CAST(floor(max(l_orderkey) * 0.45) AS BIGINT) AS hi
      FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
           TRUE AS rowgroup_skip_engaged
    FROM lineitem, b
    WHERE l_orderkey >= b.lo AND l_orderkey < b.hi
    """,
)
def source_rowgroup_stats_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-GROUP MIN/MAX SKIPPING — the third pruning layer (partition
    dirs -> row-group stats -> bloom filters), and the reason SORT
    ORDER is a storage decision at 100 TB: the same lineitem bytes are
    written twice with small row groups, once sorted by l_orderkey and
    once in arrival order, and the same pushed range predicate is run
    against both. On the sorted copy parquet's per-row-group min/max
    prove most groups can't match and the reader never materializes
    them; on the unsorted copy every group's [min,max] straddles the
    range and ALL rows come off disk for Spark's post-filter to drop.
    The entry reads the two scans' actual ``numOutputRows`` SQL metrics
    (AQE scoped off for the two probe queries — metric introspection
    needs the raw FileSourceScanExec leaf) and RAISES unless the sorted
    scan materialized under half the unsorted scan's rows; the measured
    fact surfaces as the constant ``rowgroup_skip_engaged`` the oracle
    pins TRUE. The probe range is data-derived ([40%, 45%) of the max
    key — floor of one IEEE multiply, identical in both engines) so the
    entry exercises real rows at every scale factor. Data result
    recomputed from the source of truth."""

    def build_copies() -> str:
        d = _scratch(sf_dir, "rowgroup_copies")
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        (
            li.sort("l_orderkey")
            .coalesce(1)
            .write.option("parquet.block.size", 16384)
            .mode("overwrite")
            .parquet(os.path.join(d, "sorted"))
        )
        (
            li.coalesce(1)
            .write.option("parquet.block.size", 16384)
            .mode("overwrite")
            .parquet(os.path.join(d, "unsorted"))
        )
        return d

    d = session_memo(("rowgroup_copies", sf_dir), build_copies)
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        mx = (
            read_table(spark, sf_dir, "lineitem")
            .agg(F.max("l_orderkey"))
            .collect()[0][0]
        )
        lo, hi = int(mx * 0.4), int(mx * 0.45)

        def probe(sub: str):
            df = (
                spark.read.parquet(os.path.join(d, sub))
                .filter(
                    (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
                )
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum(F.col("l_quantity").cast("long"))
                    .cast("long")
                    .alias("qty_sum"),
                )
            )
            row = df.collect()[0]
            leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
            scanned = None
            for i in range(leaves.size()):
                m = leaves.apply(i).metrics()
                it = m.iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        scanned = kv._2().value()
            return row, scanned

        row_s, scan_sorted = probe("sorted")
        row_u, scan_unsorted = probe("unsorted")
    if (row_s["n"], row_s["qty_sum"]) != (row_u["n"], row_u["qty_sum"]):
        raise RuntimeError(
            f"layouts disagree on the data: {row_s} vs {row_u}"
        )
    if scan_sorted is None or scan_unsorted is None:
        raise RuntimeError("scan metrics not found on the probe plans")
    if 2 * scan_sorted >= scan_unsorted:
        raise RuntimeError(
            f"row-group skipping did not engage: sorted scan materialized "
            f"{scan_sorted} rows vs unsorted {scan_unsorted}"
        )
    return spark.createDataFrame(
        [(row_s["n"], row_s["qty_sum"], True)],
        "n long, qty_sum long, rowgroup_skip_engaged boolean",
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d')
            NOT IN ('2024-01-10', '2024-01-20')
       OR value >= 5.0
    GROUP BY day
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE — the partition-RESTATEMENT sink idiom
    (the complement of ``pipeline_backfill_incremental``'s fill-missing
    appends): a corrected recompute of SOME days must atomically replace
    exactly those day directories and leave every other partition
    untouched. Static overwrite mode would truncate the whole table
    first (the classic data-loss footgun); ``partitionOverwriteMode=
    dynamic`` — set per-write via a writer OPTION, no session conf —
    replaces only the partitions the incoming frame actually contains.

    In-entry protocol: full 30-day write partitioned by day, then a
    correction frame holding ONLY days 2024-01-10 and 2024-01-20
    (re-filtered to value >= 5, the simulated upstream fix) written with
    mode("overwrite") + dynamic. The read-back per-day rollup must show
    exactly those two days restated and all others intact — which is the
    oracle, derived straight from events. At 100 TB this is how every
    idempotent daily-correction job commits: the write is atomic per
    partition directory, retries restate the same days, and no
    read-modify-write of the other 10 000 partitions ever happens.
    Cents-scaled BIGINT value sums keep the rollup exact."""
    ev = read_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "value",
    )
    target = _scratch(sf_dir, "dynamic_overwrite") + "/daily"
    ev.drop("value").write.partitionBy("day").mode("overwrite").parquet(
        target
    )
    correction = ev.filter(
        F.col("day").isin("2024-01-10", "2024-01-20")
        & (F.col("value") >= 5.0)
    ).drop("value")
    (
        correction.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(target)
    )
    back = spark.read.parquet(target)
    return back.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


@register(
    "source_binaryfile_ingest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(sum(('0x' || substr(sha256(text), 1, 8))::BIGINT)
                AS BIGINT) AS sha_head_sum
    FROM documents WHERE doc_id % 101 = 0
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARYFILE SOURCE — the multimodal-ingest front door: opaque blobs
    on disk become (path, modificationTime, length, content) rows via
    Spark's built-in ``binaryFile`` format, the same reader a 100 TB
    image/audio corpus enters through before the mapInPandas codecs
    (llm/multimodal.py) take over. The entry materializes a 1%-sample of
    documents as raw UTF-8 ``.bin`` files — written EXECUTOR-SIDE via
    foreachPartition (idempotent by filename; no driver fan-in) — reads
    them back as binary, and proves lossless ingest with exact
    integers: byte count and the sum of 32-bit sha256 prefixes, which
    the oracle recomputes from the source table (sha256 is
    engine-identical, the md5 trick's big sibling). binaryFile carries
    no row-group pruning, so at scale the listing cost IS the scan
    planner's cost — the docstring-level contract is files >> bytes
    pathology belongs in compaction (layout_compact_small_files)."""
    path = _scratch(sf_dir, "docs_binary")
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 101 == 0)
        .select("doc_id", "text")
    )

    def _write(rows) -> None:
        import os as _os

        for r in rows:
            p = _os.path.join(path, f"doc_{r['doc_id']}.bin")
            with open(p, "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    docs.foreachPartition(_write)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("length").cast("long").alias("total_bytes"),
        F.sum(
            F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 8), 16, 10)
            .cast("long")
        )
        .cast("long")
        .alias("sha_head_sum"),
    )


@register(
    "source_glob_recursive_lookup",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY 1
    """,
)
def source_glob_recursive_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RECURSIVE LISTING + GLOB FILTER — reading a lake layout you do NOT
    control: files scattered under arbitrary nested directories
    (year=/month= here, but the point is the reader does not treat them
    as partition columns) with junk files interleaved.
    ``recursiveFileLookup`` disables partition discovery and walks
    everything; ``pathGlobFilter`` drops the non-data files at the
    LISTING step — pruning before a single byte of file content is read,
    which at 100 TB is the difference between listing cost and scan
    cost. Decoy files planted in the tree (``decoys/readme.txt`` and a
    top-level ``notes.txt`` — deliberately NOT underscore-prefixed,
    which Spark would hide before the glob ever ran) must not reach
    the row count; year comes back from the JSON payload itself (the
    directory names are invisible to a recursive reader — asserting that
    is the point). Exact-integer checksum against the source table."""
    base = _scratch(sf_dir, "orders_nested_json")
    sub = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.date_format("o_orderdate", "yyyy").cast("long").alias("yr"),
            F.date_format("o_orderdate", "MM").alias("mo"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    (
        sub.write.mode("overwrite")
        .partitionBy("yr", "mo")
        .json(base)
    )
    # The decoy directory must NOT start with '_' or '.': Spark's file
    # index hides such paths unconditionally, BEFORE pathGlobFilter is
    # consulted, and the point here is that the GLOB is what excludes
    # the junk (r10 ADVICE.md finding). One decoy in a plain nested dir,
    # one beside the data files themselves.
    decoy_dir = os.path.join(base, "decoys")
    os.makedirs(decoy_dir, exist_ok=True)
    with open(os.path.join(decoy_dir, "readme.txt"), "w") as fh:
        fh.write("not data\n")
    with open(os.path.join(base, "notes.txt"), "w") as fh:
        fh.write("also not data\n")
    back = (
        spark.read.format("json")
        .schema("o_orderkey LONG, cents LONG")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .load(base)
    )
    # recursive lookup really did drop the partition columns: the year
    # must be re-derived from a side lookup, proving directory names
    # never entered the schema.
    keys = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").cast("long").alias("yr"),
    )
    return (
        back.join(keys, "o_orderkey")
        .groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "source_xml_attributes_escaping",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(doc_id % 97) AS BIGINT) AS score_sum,
           CAST(sum(('0x' || substr(
                md5('<p a="&"> ''q'' ' || text), 1, 8))::BIGINT)
                AS BIGINT) AS md5_head_sum
    FROM documents WHERE doc_id % 13 = 0
    GROUP BY lang
    """,
)
def source_xml_attributes_escaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML SOURCE/SINK — Spark 4's built-in XML datasource (the
    spark-xml package folded into core), round-tripping document rows
    through ``rowTag`` records with BOTH node kinds: ``_score`` maps to
    an ATTRIBUTE (``attributePrefix`` contract, ``<doc score="...">``)
    and the rest to child elements. The body text is salted with raw
    markup characters (``< > & ' "``) BEFORE writing, so the checksum
    only survives if the writer entity-escapes and the reader
    un-escapes losslessly — the failure mode that silently corrupts
    third-party feed ingest. Scale note: like multiline CSV, XML
    records span lines, so files are the split unit and a 100 TB feed
    must arrive as many files; explicit schema on read (inference would
    be a second full pass). md5 prefix sums per language prove
    byte-exactness against the source table; the score attribute is
    checksummed separately to pin the attribute path."""
    path = _scratch(sf_dir, "docs_xml")
    marked = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select(
            "doc_id",
            "lang",
            F.concat(F.lit("<p a=\"&\"> 'q' "), F.col("text")).alias(
                "body"
            ),
            (F.col("doc_id") % 97).cast("long").alias("_score"),
        )
    )
    marked.write.format("xml").option("rowTag", "doc").mode(
        "overwrite"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id LONG, lang STRING, body STRING, _score LONG")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("_score").cast("long").alias("score_sum"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("body")), 1, 8), 16, 10).cast(
                "long"
            )
        )
        .cast("long")
        .alias("md5_head_sum"),
    )


@register(
    "source_csv_multiline_quoted",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
             AS md5_head_sum
    FROM documents WHERE doc_id % 11 = 0
    GROUP BY lang
    """,
)
def source_csv_multiline_quoted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTILINE QUOTED CSV — document text with EMBEDDED NEWLINES
    round-tripped through RFC-4180 CSV: quoteAll + doubled-quote
    escaping on write, ``multiLine=true`` + the same escape on read.
    multiLine is the scale-relevant switch: it disables Spark's
    line-split parallelism (a record may span lines, so files become
    the split unit) — the entry documents that trade; at 100 TB you
    keep multiline payloads in parquet/JSON and reserve this reader for
    ingest of third-party exports. Byte-exactness is proven with md5
    prefix sums per language (any quote/newline mangling moves the
    hash), counted against the source table."""
    path = _scratch(sf_dir, "docs_multiline_csv")
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id", "lang", "text")
    )
    (
        docs.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.format("csv")
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("doc_id LONG, lang STRING, text STRING")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
            .cast("long")
        )
        .cast("long")
        .alias("md5_head_sum"),
    )


@register(
    "source_fixed_width",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 17 = 0
    GROUP BY o_orderpriority
    """,
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH TEXT ingest — the mainframe/legacy-export format with
    no delimiters at all: fields live at byte OFFSETS (orderkey 12,
    priority 15, cents 14 — cents as zero-padded integer text, the
    COBOL-style money encoding that dodges float formatting entirely).
    Spark has no fixed-width reader, and the right answer is not a UDF:
    write as ONE concatenated line via rpad/lpad, read back with
    ``spark.read.text`` + ``substr``/``trim``/``cast`` projections —
    all JVM-side whole-stage-codegen expressions, and unlike multiline
    CSV/XML the format stays LINE-SPLITTABLE, so a 100 TB feed
    parallelizes at newline granularity with no record-spanning risk.
    The oracle aggregates the source table; a hash match proves both
    the padding writer and the offset parser are lossless (a one-byte
    offset error moves every checksum)."""
    path = _scratch(sf_dir, "orders_fixed_width")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 17 == 0)
        .select(
            F.concat(
                F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
                F.rpad(F.col("o_orderpriority"), 15, " "),
                F.lpad(
                    F.floor(F.col("o_totalprice") * 100 + 0.5)
                    .cast("long")
                    .cast("string"),
                    14,
                    "0",
                ),
            ).alias("value")
        )
    )
    o.write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.substring("value", 1, 12).cast("long").alias("o_orderkey"),
        F.trim(F.substring("value", 13, 15)).alias("o_orderpriority"),
        F.substring("value", 28, 14).cast("long").alias("cents"),
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "source_jsonl_gzip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY o_orderpriority
    """,
)
def source_jsonl_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-COMPRESSED JSON-LINES ingest — the wire format crawl dumps
    and API exports actually arrive in. The entry writes an orders
    subset as ``.json.gz`` shards (codec declared at write), reads it
    back through Spark's transparent-decompression text path with an
    explicit schema, and aggregates against the parquet truth. Money is
    converted to integer CENTS before serialization so the roundtrip is
    bit-exact by construction, never a float-formatting question.

    The 100 TB point is the codec's SPLITTABILITY: gzip is a stream
    cipher-style codec with no sync points, so ONE .gz file = ONE task
    regardless of size — parallelism equals shard count, and a single
    500 GB .json.gz is a single-core day. The write side therefore
    repartitions to a shard count sized to the cluster (here 4), which
    is exactly the operational fix (or: land bzip2/zstd-seekable, or
    convert to parquet at the edge). Spark's file scan handles the
    non-splittability automatically — isSplitable=false per codec —
    so correctness never depends on it; only parallelism does."""
    path = _scratch(sf_dir, "orders_jsonl_gz")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    (
        o.repartition(4)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, cents long"
    ).json(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "source_parquet_agg_pushdown",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_okey,
           CAST(max(l_orderkey) AS BIGINT) AS max_okey,
           CAST(min(l_partkey) AS BIGINT) AS min_pkey,
           CAST(max(l_partkey) AS BIGINT) AS max_pkey,
           TRUE AS agg_pushed
    FROM lineitem
    """,
)
def source_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET AGGREGATE PUSHDOWN — the METADATA-ONLY scan: a global
    COUNT/MIN/MAX needs zero data pages, because every parquet footer
    already carries per-row-group row counts and column min/max. Spark's
    DSv2 parquet reader answers such aggregates from footers alone when
    ``spark.sql.parquet.aggregatePushdown`` is on and the read goes
    through the v2 path (``useV1SourceList`` without ``parquet``) — the
    scan emits one pre-aggregated row per file split instead of the
    table. At 100 TB the difference is reading ~KBs of footers vs the
    full table for a ``SELECT count(*), max(id)`` profile query — the
    fourth scan-side pruning layer beside partition dirs
    (``source_partition_range_pruning``), row-group stats
    (``source_rowgroup_stats_pruning``) and blooms
    (``source_parquet_bloom_stats``). The entry flips the two configs
    for its probe only (restored in ``finally`` — the v1 path stays the
    session default), RAISES unless the executed plan's BatchScan
    carries ``PushedAggregation: [COUNT(*), MIN(..)..]`` (a
    deterministic planner property of the configs + query shape, not an
    environment-dependent runtime one), and surfaces the attested fact
    as the constant ``agg_pushed`` the oracle pins TRUE. The aggregate
    values themselves hash against DuckDB computing the same profile
    from the raw table — footer-derived must equal data-derived.
    Reference scan contract: DistrStorage.java:137-172 (full-file
    reads; the reference has no footer statistics at all)."""
    with scoped_conf(
        spark,
        {
            "spark.sql.sources.useV1SourceList": "",
            "spark.sql.parquet.aggregatePushdown": "true",
        },
    ):
        df = read_table(spark, sf_dir, "lineitem").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("l_orderkey").cast("long").alias("min_okey"),
            F.max("l_orderkey").cast("long").alias("max_okey"),
            F.min("l_partkey").cast("long").alias("min_pkey"),
            F.max("l_partkey").cast("long").alias("max_pkey"),
        )
        row = df.collect()[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
    if "PushedAggregation: [COUNT(*), MIN(l_orderkey)" not in plan:
        raise RuntimeError(
            "parquet aggregate pushdown did not engage — no "
            "PushedAggregation on the BatchScan:\n" + plan
        )
    if "BatchScan parquet" not in plan:
        raise RuntimeError("probe did not take the DSv2 read path:\n" + plan)
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["min_okey"],
                row["max_okey"],
                row["min_pkey"],
                row["max_pkey"],
                True,
            )
        ],
        "n_rows long, min_okey long, max_okey long, min_pkey long, "
        "max_pkey long, agg_pushed boolean",
    )


@register(
    "source_parquet_nested_pruning",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(3 * o_custkey + 1) AS BIGINT) AS item_cust_sum,
           CAST(2 * sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS item_amount_cents,
           TRUE AS nested_read_pruned,
           TRUE AS generate_read_pruned
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_parquet_nested_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NESTED SCHEMA PRUNING — column pruning INSIDE structs and
    arrays-of-structs: a query touching one leaf of a wide struct must
    read exactly that leaf's parquet column chunk, not the whole struct
    subtree (``spark.sql.optimizer.nestedSchemaPruning.enabled``, on by
    default, plus its ``serializer``/``expressions`` companions). For a
    typical event/log schema — a 100-field ``payload`` struct, an
    ``items`` array of line structs — this is the difference between
    scanning 1% and 100% of 100 TB; flat-column pruning alone does
    nothing once fields nest. The entry materializes a nested copy of
    orders (``payload: {price, priority, meta: {status, odate}}``,
    ``items: array<{cust, amount}>`` with TWO deterministic elements per
    order), runs two probes, and RAISES unless each probe's ReadSchema
    is the pruned leaf set: (A) a rollup over ``payload.meta.status``
    whose scan must carry only that leaf — ``price``, ``priority`` and
    the sibling leaf ``odate`` must all be absent; (B) an ``explode``
    over ``items`` grouped by the same leaf — pruning must hold THROUGH
    the Generate node (``GeneratePruning``), reading
    ``items.{cust,amount}`` but never ``payload.price``. Both are
    deterministic optimizer-rule properties of the query shape. Results
    join on the 3-row status domain and hash against the oracle
    recomputing the same sums from the FLAT source of truth — pruning
    must lose no values. Items are derived so the oracle is closed-form:
    element 1 = (o_custkey, price), element 2 = (2·o_custkey+1, price),
    hence cust_sum = Σ(3c+1) and cents doubled."""
    import os

    def build_nested() -> str:
        d = _scratch(sf_dir, "nested_orders")
        src = read_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey"),
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderpriority").alias("priority"),
                F.struct(
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_orderdate").alias("odate"),
                ).alias("meta"),
            ).alias("payload"),
            F.array(
                F.struct(
                    F.col("o_custkey").alias("cust"),
                    F.col("o_totalprice").alias("amount"),
                ),
                F.struct(
                    (F.col("o_custkey") * 2 + 1).alias("cust"),
                    F.col("o_totalprice").alias("amount"),
                ),
            ).alias("items"),
        )
        src.write.mode("overwrite").parquet(d)
        return d

    nested = spark.read.parquet(session_memo(("nested_orders", sf_dir), build_nested))

    def read_schema_of(df: DataFrame) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        if not lines:
            raise RuntimeError("no ReadSchema on the probe plan:\n" + plan)
        return " ".join(
            ln.split("ReadSchema:", 1)[1] for ln in lines
        )

    probe_a = nested.select(
        F.col("payload.meta.status").alias("status")
    ).groupBy("status").agg(F.count("*").cast("long").alias("n_orders"))
    rs_a = read_schema_of(probe_a)
    for leaked in ("price", "priority", "odate", "items"):
        if leaked in rs_a:
            raise RuntimeError(
                f"nested pruning leaked '{leaked}' into ReadSchema: {rs_a}"
            )
    if "status" not in rs_a:
        raise RuntimeError(f"probe A ReadSchema lost its leaf: {rs_a}")

    probe_b = (
        nested.select(
            F.col("payload.meta.status").alias("status"),
            F.explode("items").alias("it"),
        )
        .groupBy("status")
        .agg(
            F.sum("it.cust").cast("long").alias("item_cust_sum"),
            F.sum(
                F.floor(F.col("it.amount") * 100 + 0.5).cast("long")
            )
            .cast("long")
            .alias("item_amount_cents"),
        )
    )
    rs_b = read_schema_of(probe_b)
    for leaked in ("price", "priority", "odate"):
        if leaked in rs_b:
            raise RuntimeError(
                f"pruning through Generate leaked '{leaked}': {rs_b}"
            )
    for needed in ("cust", "amount", "status"):
        if needed not in rs_b:
            raise RuntimeError(f"probe B ReadSchema lost '{needed}': {rs_b}")

    return (
        probe_a.join(probe_b, "status")
        .withColumn("nested_read_pruned", F.lit(True))
        .withColumn("generate_read_pruned", F.lit(True))
        .select(
            "status",
            "n_orders",
            "item_cust_sum",
            "item_amount_cents",
            "nested_read_pruned",
            "generate_read_pruned",
        )
    )
