"""SURVEY.md §2.1 — scans, file-format sources, and sinks.

At 100 TB these are the operators where the plan matters most: a scan
that fails to prune columns or push predicates reads the whole lake.
tests/test_plans.py asserts ReadSchema/PushedFilters on the pushdown
pair below; the CSV/JSON ops stage a round-trip through the workspace so
ingest correctness is oracle-checked against the parquet truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import (
    cents,
    dsum,
    micros,
    sql_cents,
    sql_dsum,
    sql_micros,
)
from ..sources.workspace import workdir
from .registry import register


@register("scan_parquet", "SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-table parquet scan; schema comes from the footer, no inference.
    return t(spark, sf_dir, "region")


@register(
    "scan_projection_pushdown",
    "SELECT l_orderkey, l_extendedprice FROM lineitem",
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Column pruning: ReadSchema must contain exactly these two columns —
    # at 100 TB this is the difference between reading 2/16ths of the
    # table and all of it (asserted in tests/test_plans.py).
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


@register(
    "scan_filter_pushdown",
    """
    SELECT l_orderkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_quantity < 5 AND l_shipdate >= TIMESTAMP '1998-01-01'
    """,
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Predicate pushdown: both conjuncts reach the parquet reader
    # (PushedFilters), skipping row groups via min/max zone maps.
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 5)
        & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_quantity", "l_shipdate")


@register(
    "scan_csv",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bronze-layer CSV ingest (dbt seed shape): stage nation as CSV, read
    # it back with header+inference, pin dtypes explicitly (inference is
    # for discovery; silver layers declare schemas — SURVEY.md §1).
    path = workdir(sf_dir, "scan_csv")
    src = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src.write.mode("overwrite").option("header", True).csv(path)
    df = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(path)
    )
    return df.select(
        F.col("n_nationkey").cast("int"),
        F.col("n_name").cast("string"),
        F.col("n_regionkey").cast("int"),
    )


@register(
    "scan_json",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON-lines ingest: doubles survive the round-trip bit-exactly
    # (shortest-repr serialization on write, exact parse on read).
    path = workdir(sf_dir, "scan_json")
    src = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    src.write.mode("overwrite").json(path)
    df = spark.read.json(path)
    return df.select(
        F.col("s_suppkey").cast("long"),
        F.col("s_name").cast("string"),
        F.col("s_nationkey").cast("int"),
        F.col("s_acctbal").cast("double"),
    )


@register(
    "sink_parquet",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partitioned parquet sink + read-back: hive-style layout
    # (l_returnflag=A/...) is what enables partition pruning downstream.
    # The returned aggregate proves the round-trip lost nothing.
    path = workdir(sf_dir, "sink_parquet")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("l_returnflag").cast("string").alias("l_returnflag")).agg(
        F.count("*").alias("n_rows"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )


@register(
    "scan_deltalike_datasource",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM({sql_micros("o_totalprice")}) AS DOUBLE) / 1000000, 2) AS revenue
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def scan_deltalike_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned storage as a batch source: the log replay plans the
    live file set, and ``DeltaLikeTable.read`` hands it to Spark's native
    parquet scan under the log schema, with deletion vectors, column
    mapping and partition values applied — the one batch read path of
    every Delta-like table. (The Python Data Source API serves the
    per-commit log reads, ``DeltaLikeTable.changes`` and ``appends``.)

    Scale: planning is O(live add actions) metadata work, and the scan
    parallelizes per file split, with column pruning reaching the
    parquet reader.
    """
    from ..sources.deltalike import DeltaLikeTable
    from .delta_ops import _staged_table

    def build(table: DeltaLikeTable) -> None:
        table.write(
            t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            ),
            mode="overwrite",
        )

    df = _staged_table(sf_dir, "delta_pyds", build).read(spark)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(micros(F.col("o_totalprice"))).cast("double")
                / 1_000_000,
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register("scan_binaryfile")  # rows-mode: DuckDB read_blob needs a literal
# path, and the staged dir depends on sf_dir — a static oracle string
# cannot express it. tests/test_corpus_ops.py checks the byte hashes
# against DuckDB read_blob directly instead.
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingest (``binaryFile``) — the multimodal landing
    path: each file becomes one row of (path, length, opaque bytes),
    which is how image/audio corpora enter before any decode (the
    mm_* operators then run over the binary column). Column pruning
    applies to the content column like any other: a metadata-only query
    (names + sizes) never reads the payloads.
    """
    from .medallion import stage_bronze_csv

    bronze_dir = stage_bronze_csv(spark, sf_dir)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*.csv")
        .load(bronze_dir)
    )
    return (
        df.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("file_name")
    )


@register(
    "scan_xml",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    # XML ingest via Spark 4's built-in xml source (the spark-xml
    # package folded into core): stage nation as <nation> row elements,
    # read back with rowTag + explicit dtype pinning (same discipline as
    # scan_csv — inference is for discovery, silver layers declare
    # schemas). Element order inside a rowTag is not positional, so the
    # read is schema-by-name — the property the round-trip checks.
    path = workdir(sf_dir, "scan_xml")
    src = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src.write.mode("overwrite").format("xml").option(
        "rowTag", "nation"
    ).save(path)
    df = spark.read.format("xml").option("rowTag", "nation").load(path)
    return df.select(
        F.col("n_nationkey").cast("int"),
        F.col("n_name").cast("string"),
        F.col("n_regionkey").cast("int"),
    )


@register(
    "sink_partitioned_overwrite",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    WHERE year(o_orderdate) <> 1997 OR o_orderstatus = 'F'
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_partitioned_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION
    # semantics): rewrite ONLY the partitions the incoming frame
    # touches, leave every other partition's files untouched. This is
    # the idempotent daily-backfill pattern at 100 TB — re-running a
    # day's job replaces that day, never truncates the table (static
    # overwrite mode would). The writer-level option scopes the mode to
    # this write; no session conf leaks to pooled bench queries. The
    # read-back aggregate proves partition 1997 now holds only 'F'
    # orders while all other years kept every status.
    path = workdir(sf_dir, "sink_partitioned_overwrite")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    upd = o.filter(
        (F.col("o_year") == 1997) & (F.col("o_orderstatus") == "F")
    )
    upd.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("o_year")
    )


_PERMISSIVE_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_good,
       CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT)
         AS price_micros,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 50 = 0) AS n_corrupt
FROM orders
WHERE o_orderkey % 50 <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("scan_csv_permissive", _PERMISSIVE_ORACLE)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row handling on ingest (PERMISSIVE mode): real landing
    zones carry broken lines, and the bronze contract is "never lose a
    row silently" — parse what parses, route the rest to a
    ``_corrupt_record`` column for quarantine/DLQ instead of failing
    the job (FAILFAST) or dropping rows (DROPMALFORMED). The op stages
    an orders CSV with every 50th row's price corrupted to a non-number,
    reads it under a declared schema with PERMISSIVE + corrupt-record
    capture, and reports clean-row aggregates plus the quarantine count.
    The corruption is key-addressed (o_orderkey % 50), so the oracle
    reconstructs both populations exactly from the clean table. Parsing
    is map-side; the corrupt branch costs nothing when absent.
    """
    path = workdir(sf_dir, "scan_csv_permissive")
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        # deterministic text for the price column: corrupt every 50th
        F.when(F.col("o_orderkey") % 50 == 0, F.lit("not-a-number"))
        .otherwise(F.format_number(F.col("o_totalprice"), 2))
        .alias("o_totalprice_raw"),
    )
    # format_number uses grouping commas — strip via regexp to keep the
    # CSV numeric-parseable and value-exact (2-dp money round-trips)
    src = src.withColumn(
        "o_totalprice_raw",
        F.regexp_replace("o_totalprice_raw", ",", ""),
    )
    src.write.mode("overwrite").option("header", True).csv(path)
    schema = (
        "o_orderkey LONG, o_orderstatus STRING, o_totalprice_raw DOUBLE, "
        "_corrupt_record STRING"
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # one pass feeds both the clean aggregate and the count
    )
    n_corrupt = df.filter(F.col("_corrupt_record").isNotNull()).count()
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_good"),
            F.sum(
                micros(F.col("o_totalprice_raw"))
            ).alias("price_micros"),
        )
        .select(
            "o_orderstatus",
            "n_good",
            "price_micros",
            F.lit(int(n_corrupt)).cast("long").alias("n_corrupt"),
        )
        .orderBy("o_orderstatus")
    )


_ORC_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("scan_orc", _ORC_ORACLE)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar format Spark ships natively
    (vectorized reader, predicate pushdown, column pruning, same
    DataSource V2 surface as parquet; the warehouse-migration case is
    reading an existing ORC lake without a rewrite). The op writes the
    documents table as ORC and aggregates from the ORC scan; the
    oracle aggregates the same rows from parquet — equality proves
    the round-trip is lossless. DuckDB has no ORC reader, which is
    exactly why the differential goes through the shared parquet
    fixture rather than the ORC file.
    """
    path = workdir(sf_dir, "orc_roundtrip")
    t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


_MERGE_SCHEMA_ORACLE = f"""
WITH unioned AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(NULL AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       COUNT(o_totalprice) AS n_with_price,
       CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT)
         AS price_checksum_m
FROM unioned
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("scan_parquet_merge_schema", _MERGE_SCHEMA_ORACLE)
def scan_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingest: a landing directory whose older files lack a
    column the newer files carry (the universal "producer added a
    field" situation). `mergeSchema=true` makes the parquet source
    union the file footers into one superset schema and null-fill the
    missing column per file — no rewrite of old data, no failed reads.
    The op writes two generations (gen1 without o_totalprice, gen2
    with it) into one directory and reads them back merged; footer
    reconciliation is metadata-only, so at 100 TB the cost is file
    listing, not data. The oracle models the same null-filled union
    relationally.
    """
    path = workdir(sf_dir, "merge_schema_landing")
    o = t(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(path)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_totalprice").alias("n_with_price"),
            F.sum(
                micros(F.col("o_totalprice"))
            ).alias("price_checksum_m"),
        )
        .orderBy("o_orderstatus")
    )


_CSV_GZIP_ORACLE = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation ORDER BY n_nationkey
"""


@register("scan_csv_gzip", _CSV_GZIP_ORACLE)
def scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed CSV ingest — landing zones deliver .csv.gz, and the
    engine must both write and read it without a decompress step.
    Spark's text sources handle codecs transparently (the .gz suffix
    selects the codec per file); the catch this op documents is that
    GZIP IS NOT SPLITTABLE: one .gz file = one task no matter its
    size, so at 100 TB the layout answer is many medium gzip files
    (or zstd/bzip2 where splitting or better ratios are needed), not
    one giant archive — parallelism comes from file count. Round-trip
    through gzip with schema-by-position, checked lossless against
    the parquet fixture.
    """
    path = workdir(sf_dir, "csv_gz")
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").option("compression", "gzip").option(
        "header", "true"
    ).csv(path)
    return (
        spark.read.option("header", "true")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .csv(path)
        .orderBy("n_nationkey")
    )


_JSONL_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT)
         AS price_checksum_m
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("sink_json_lines", _JSONL_ORACLE)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines export/re-ingest — the interchange format every
    downstream tool reads. The checked property is round-trip
    fidelity: write orders as JSONL, read it back UNDER A DECLARED
    SCHEMA (schema-on-read; inferring would cost a second pass over
    100 TB and can widen types), and prove checksums match the
    source. Doubles survive because Spark serializes them
    shortest-round-trip (Ryu), so parse(gen(x)) == x exactly; the
    micros checksum would catch any drift. JSONL is line-splittable,
    so unlike gzip'd CSV the files parallelize within themselves.
    """
    path = workdir(sf_dir, "jsonl_sink")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
            F.sum(
                micros(F.col("o_totalprice"))
            ).alias("price_checksum_m"),
        )
        .orderBy("o_orderstatus")
    )


_RANGE_ORACLE = """
SELECT CAST(i AS BIGINT) AS i,
       CAST(i * i AS BIGINT) AS sq,
       CAST(SUM(i) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS running
FROM range(0, 1000) AS r(i)
ORDER BY i
"""


@register("scan_range_source", _RANGE_ORACLE)
def scan_range_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range generator source — `spark.range` is the built-in
    table-function every synthetic workload, spine, and backfill
    enumerator starts from (date spines join against it, load tests
    scale it to billions). It materializes nothing: rows are generated
    per-partition from (start, end, step, numPartitions) arithmetic,
    so a trillion-row range costs no I/O and splits perfectly. The op
    layers a running sum on top to prove the generated ordering
    composes with real operators — in the SCALE-SAFE two-pass form
    (win_pareto_analysis pattern), not a single-partition window: the
    block key derives from the generator's own arithmetic (id div B —
    deterministic, no spark_partition_id pinning needed), the cumsum
    runs within each block via a partitioned window, and block prefix
    offsets fold through a tiny B×B theta self-join broadcast back.
    On a trillion-row range the plan stays fully distributed; a naive
    ORDER BY window would serialize it through one task.
    """
    r = spark.range(0, 1000).select(
        F.col("id").alias("i"),
        (F.col("id") * F.col("id")).alias("sq"),
        F.expr("id div 125").alias("blk"),
    )
    wl = W.partitionBy("blk").orderBy("i")
    local = r.select(
        "i",
        "sq",
        "blk",
        F.sum("i")
        .over(wl.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("lcum"),
    )
    bstats = r.groupBy("blk").agg(F.sum("i").alias("bsum"))
    offsets = (
        bstats.alias("a")
        .join(bstats.alias("b"), F.col("b.blk") < F.col("a.blk"), "left")
        .groupBy(F.col("a.blk").alias("blk"))
        .agg(F.coalesce(F.sum("b.bsum"), F.lit(0)).cast("long").alias("off"))
    )
    return (
        local.join(F.broadcast(offsets), "blk")
        .select("i", "sq", (F.col("lcum") + F.col("off")).alias("running"))
        .orderBy("i")
    )


_SCAN_TEXT_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang ORDER BY lang
"""


@register("scan_text", _SCAN_TEXT_ORACLE)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (``spark.read.text``) — the rawest
    ingest format (logs, one-JSON-per-line before schema, WET/plain
    dumps): each line is one row of a single ``value`` column; all
    structure is imposed by the query. Round-trip demo: documents are
    staged as pipe-delimited lines, read back through the text source,
    parsed with codegen splits, and aggregated — the result must equal
    the same aggregate over the original table (oracle). At 100 TB the
    text scan is splittable (newline-delimited), so this parse pattern
    is a full-parallel map stage; the parse stays JVM-side.
    """
    d = t(spark, sf_dir, "documents")
    path = workdir(sf_dir, "scan_text")
    d.select(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            "lang",
            F.col("n_chars").cast("string"),
        ).alias("value")
    ).coalesce(1).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    parts = F.split("value", "\\|")
    return (
        lines.select(
            parts.getItem(1).alias("lang"),
            parts.getItem(2).cast("long").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


_CSV_SINK_ORACLE = f"""
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
       CAST(SUM({sql_cents("c_acctbal")}) AS BIGINT)
         AS bal_checksum_c
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("sink_csv_roundtrip", _CSV_SINK_ORACLE)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV export/re-ingest — the DataFrameWriter.csv surface (the scan_
    csv twin writes-then-reads instead of reading a staged file). The
    checked property is round-trip fidelity under a DECLARED schema:
    headers on, quoting left to Spark's writer, doubles surviving via
    shortest-round-trip rendering; the cents checksum would catch any
    parse drift. Each output part file is written and re-read in
    parallel (CSV splits by line like JSONL when uncompressed). The
    aggregate proves nothing was lost or widened.
    """
    path = workdir(sf_dir, "csv_sink")
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    c.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.option("header", "true")
        .schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").alias("key_checksum"),
            F.sum(cents(F.col("c_acctbal"))).alias("bal_checksum_c"),
        )
        .orderBy("c_mktsegment")
    )


_FILE_METADATA_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_row_index,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
FROM orders GROUP BY o_orderkey % 4
ORDER BY n_rows
"""


@register("scan_file_metadata", _FILE_METADATA_ORACLE)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark `_metadata` hidden file-source column: per input file,
    row counts and `row_index` bounds recovered purely from metadata
    columns during the scan — the provenance surface that lets a
    pipeline attribute every row to its source file (and re-derive
    stable per-file row ids) without path parsing. A 4-file parquet
    dataset is staged by construction (one writer partition per
    o_orderkey%4 slice), so per-file row counts are the closed-form
    oracle; physical file NAMES are writer-generated and
    non-reproducible, so files are reported as size-ordered count
    rows — the deterministic projection of the layout. `_metadata.row_index`
    must run 0..n-1 within each file (asserted by the min/max
    columns). Scales as the scan does; the fold is algebraic.
    """
    import os as _os

    from ..sources.workspace import workdir as _workdir

    out = _workdir(sf_dir, "scan_file_metadata")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for r in range(4):
        (
            o.filter(F.col("o_orderkey") % 4 == r)
            .repartition(1)
            .write.mode("append")
            .parquet(_os.path.join(out, "data"))
        )
    scanned = spark.read.parquet(_os.path.join(out, "data")).select(
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.row_index").alias("ridx"),
    )
    per_file = scanned.groupBy("fname").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ridx").alias("min_row_index"),
        F.max("ridx").alias("max_row_index"),
    )
    # rank-free projection: file names are writer-generated (not
    # reproducible in an oracle) and a global rank window would break
    # the zero-unpartitioned-windows pin — sorted per-file counts ARE
    # the deterministic view of the layout.
    return per_file.select(
        "n_rows", "min_row_index", "max_row_index"
    ).orderBy("n_rows")
