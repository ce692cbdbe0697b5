"""SURVEY.md §2.8 — scalar function library, one query per family.

Per-row scalar expressions are IEEE/whole-stage-codegen deterministic, so
no decimal detour is needed here — the discipline is *semantic alignment*
with DuckDB 1.0.0, probed empirically (SURVEY.md §7.4):

- DuckDB date_trunc('month'|'year') returns DATE → CAST AS TIMESTAMP.
- DuckDB floor/ceil return DOUBLE (Spark: LONG) → CAST AS BIGINT.
- DuckDB regexp_replace is first-match unless the 'g' flag is passed
  (Spark replaces all).
- DuckDB map subscript / element_at return a LIST → take [1].
- DuckDB dow/dayofweek is Sunday=0 (Spark: Sunday=1) → +1 in the oracle.
- DuckDB list_sum returns DECIMAL/HUGEINT → CAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import sql, t
from ..functions.deterministic import sql_cents
from .registry import register


@register(
    "fn_string",
    """
    SELECT p_partkey,
           lower(p_name) AS lo,
           upper(p_brand) AS up,
           trim(concat('  ', p_type, ' ')) AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           rpad(p_brand, 12, '.') AS rpadded,
           substr(p_name, 3, 8) AS sliced,
           concat_ws('|', p_brand, p_type) AS joined,
           replace(p_name, ' ', '_') AS replaced,
           length(p_name) AS name_len,
           instr(p_type, 'ECONOMY') AS econ_pos,
           starts_with(p_brand, 'Brand#1') AS is_b1,
           contains(p_type, 'PROMO') AS is_promo
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lo"),
        F.upper("p_brand").alias("up"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.rpad("p_brand", 12, ".").alias("rpadded"),
        F.substring("p_name", 3, 8).alias("sliced"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("replaced"),
        F.length("p_name").cast("long").alias("name_len"),
        F.instr("p_type", "ECONOMY").cast("long").alias("econ_pos"),
        F.startswith(F.col("p_brand"), F.lit("Brand#1")).alias("is_b1"),
        F.contains(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
    )


@register(
    "fn_regex",
    """
    SELECT p_partkey,
           regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           regexp_matches(p_type, '^(ECONOMY|PROMO)') AS starts_econ_promo
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.col("p_type").rlike("^(ECONOMY|PROMO)").alias("starts_econ_promo"),
    )


@register(
    "fn_string_sim",
    """
    WITH pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             substr(a.text, 1, 40) AS ta, substr(b.text, 1, 40) AS tb,
             list_distinct(string_split(a.text, ' ')) AS wa,
             list_distinct(string_split(b.text, ' ')) AS wb
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b,
           levenshtein(ta, tb) AS edit_dist,
           ROUND(CAST(len(list_intersect(wa, wb)) AS DOUBLE)
                 / len(list_distinct(wa || wb)), 6) AS word_jaccard
    FROM pairs
    """,
)
def fn_string_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Word-set Jaccard from array primitives (no UDF); levenshtein bounded
    # to a 40-char prefix so cost is O(1) per row at any scale.
    d = t(spark, sf_dir, "documents")
    a = d.alias("a")
    b = d.alias("b")
    wa = F.array_distinct(F.split(F.col("a.text"), " "))
    wb = F.array_distinct(F.split(F.col("b.text"), " "))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(
            F.substring(F.col("a.text"), 1, 40), F.substring(F.col("b.text"), 1, 40)
        ).cast("long").alias("edit_dist"),
        F.round(
            F.size(F.array_intersect(wa, wb)).cast("double")
            / F.size(F.array_distinct(F.concat(wa, wb))),
            6,
        ).alias("word_jaccard"),
    )


@register(
    "fn_date",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           date_part('year', o_orderdate) AS yr,
           date_part('month', o_orderdate) AS mo,
           date_part('day', o_orderdate) AS dom,
           dayofweek(o_orderdate) + 1 AS dow_spark,
           o_orderdate + INTERVAL 7 DAY AS plus_week,
           date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec,
           strptime('2024-06-01', '%Y-%m-%d') AS parsed
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).alias("month_start"),
        F.year(d).cast("long").alias("yr"),
        F.month(d).cast("long").alias("mo"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofweek(d).cast("long").alias("dow_spark"),
        (d + F.expr("INTERVAL 7 DAY")).alias("plus_week"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), d)
        .cast("long")
        .alias("days_to_y2k"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_day"),
        F.unix_timestamp(d).alias("unix_sec"),
        F.to_timestamp(F.lit("2024-06-01"), "yyyy-MM-dd").alias("parsed"),
    )


@register(
    "fn_math",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS rounded,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS floored,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS ceiled,
           ABS(l_quantity - 25.0) AS abs_dev,
           ROUND(LN(l_extendedprice), 9) AS log_price,
           ROUND(LOG10(l_extendedprice), 9) AS log10_price,
           ROUND(EXP(l_discount), 9) AS exp_disc,
           SQRT(l_quantity) AS sqrt_qty,
           ROUND(POW(l_tax + 1.0, 2), 9) AS tax_sq,
           CAST(SIGN(l_quantity - 25.0) AS DOUBLE) AS qty_sign,
           GREATEST(l_quantity, 25.0) AS hi,
           LEAST(l_quantity, 25.0) AS lo,
           l_linenumber % 3 AS line_mod
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(price, 1).alias("rounded"),
        F.floor(price).alias("floored"),
        F.ceil(price).alias("ceiled"),
        F.abs(qty - 25.0).alias("abs_dev"),
        # ln/log10/exp/pow are 1-ulp engine-dependent (JVM vs libm) —
        # round to 9 dp on both sides; sqrt is IEEE-exact and stays raw.
        F.round(F.log(price), 9).alias("log_price"),
        F.round(F.log10(price), 9).alias("log10_price"),
        F.round(F.exp("l_discount"), 9).alias("exp_disc"),
        F.sqrt(qty).alias("sqrt_qty"),
        F.round(F.pow(F.col("l_tax") + 1.0, 2), 9).alias("tax_sq"),
        F.signum(qty - 25.0).alias("qty_sign"),
        F.greatest(qty, F.lit(25.0)).alias("hi"),
        F.least(qty, F.lit(25.0)).alias("lo"),
        (F.col("l_linenumber") % 3).alias("line_mod"),
    )


@register(
    "fn_array",
    """
    SELECT n_nationkey,
           array_to_string(generate_series(1, n_nationkey % 5 + 2), ',')
             AS seq,
           CAST(len(generate_series(1, n_nationkey % 5 + 2)) AS BIGINT)
             AS seq_len,
           list_contains(generate_series(1, n_nationkey % 5 + 2), 3) AS has_3,
           array_to_string(list_transform(
               generate_series(1, n_nationkey % 5 + 2), x -> x * 10), ',')
             AS tens,
           array_to_string(list_filter(
               generate_series(1, n_nationkey % 5 + 2), x -> x % 2 = 0), ',')
             AS evens,
           CAST(list_sum(generate_series(1, n_nationkey % 5 + 2)) AS BIGINT)
             AS seq_sum,
           array_to_string(
               list_sort([n_nationkey % 3, n_nationkey % 5, 1]), ',')
             AS sorted_arr,
           array_to_string(
               list_sort(list_distinct([n_nationkey % 3, n_nationkey % 3, 7])),
               ',') AS dedup_sorted,
           array_to_string(flatten([[n_nationkey], [n_regionkey]]), ',')
             AS flat,
           array_to_string(
               list_slice(generate_series(1, n_nationkey % 5 + 2), 2, 3), ',')
             AS mid,
           array_to_string(generate_series(1, n_nationkey % 5 + 2), '-')
             AS joined
    FROM nation
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    seq = F.sequence(F.lit(1), F.col("n_nationkey") % 5 + 2)

    # Array-typed OUTPUT columns defeat tuple-hashing comparators
    # (round 1's agg_collect lesson), so every array is serialized to a
    # canonical comma-joined string at the edge; the array *functions*
    # themselves still run on true array values.
    def sj(arr):  # serialize: array<int> -> "1,2,3"
        return F.array_join(arr.cast("array<string>"), ",")

    return n.select(
        "n_nationkey",
        sj(seq).alias("seq"),
        F.size(seq).cast("long").alias("seq_len"),
        F.array_contains(seq, 3).alias("has_3"),
        sj(F.transform(seq, lambda x: x * 10)).alias("tens"),
        sj(F.filter(seq, lambda x: x % 2 == 0)).alias("evens"),
        F.aggregate(
            seq, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("seq_sum"),
        sj(
            F.array_sort(
                F.array(
                    F.col("n_nationkey") % 3, F.col("n_nationkey") % 5, F.lit(1)
                )
            )
        ).alias("sorted_arr"),
        # DuckDB list_distinct does NOT preserve element order → sort on
        # both sides to compare as a set.
        sj(
            F.array_sort(
                F.array_distinct(
                    F.array(
                        F.col("n_nationkey") % 3,
                        F.col("n_nationkey") % 3,
                        F.lit(7),
                    )
                )
            )
        ).alias("dedup_sorted"),
        sj(
            F.flatten(
                F.array(
                    F.array(F.col("n_nationkey")), F.array(F.col("n_regionkey"))
                )
            )
        ).alias("flat"),
        sj(F.slice(seq, 2, 2)).alias("mid"),
        F.array_join(seq.cast("array<string>"), "-").alias("joined"),
    )


@register(
    "fn_map_struct",
    """
    SELECT s_suppkey,
           array_to_string(
               list_sort(map_keys(MAP {'nation': CAST(s_nationkey AS VARCHAR),
                                       'name': s_name})), ',') AS mkeys,
           element_at(MAP {'bal': s_acctbal}, 'bal')[1] AS bal_from_map,
           ({'k': s_suppkey, 'nm': s_name}).nm AS struct_name,
           ({'k': s_suppkey, 'nm': s_name}).k * 2 AS struct_key_x2
    FROM supplier
    """,
)
def fn_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    m = F.create_map(
        F.lit("nation"), F.col("s_nationkey").cast("string"),
        F.lit("name"), F.col("s_name"),
    )
    st = F.struct(F.col("s_suppkey").alias("k"), F.col("s_name").alias("nm"))
    return s.select(
        "s_suppkey",
        # serialized (round 1: array outputs break tuple-hash comparators)
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("mkeys"),
        F.element_at(F.create_map(F.lit("bal"), F.col("s_acctbal")), "bal").alias(
            "bal_from_map"
        ),
        st.getField("nm").alias("struct_name"),
        (st.getField("k") * 2).alias("struct_key_x2"),
    )


@register(
    "fn_json",
    """
    SELECT event_id,
           props->>'k' AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled,
           (props->>'missing') IS NULL AS missing_is_null
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_int"),
        (k.cast("long") * 2).alias("k_doubled"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
    )


@register(
    "fn_hash",
    """
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           md5(concat(c_name, '|', c_mktsegment)) AS composite_key
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5/sha256 are bitwise-portable across engines; xxhash64/crc32 are
    # not (engine-specific seeds) → those appear only in rows-mode ops
    # (llm_dedup_minhash).
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        F.md5(F.concat_ws("|", "c_name", "c_mktsegment")).alias("composite_key"),
    )


@register(
    "fn_conditional",
    """
    SELECT e.event_id,
           CASE WHEN e.value > 50 THEN 'high' ELSE 'low' END AS band,
           ifnull(nullif(e.event_type, 'error'), 'cleaned') AS cleaned_type,
           coalesce(NULL, e.event_type, 'fallback') AS first_non_null,
           CASE WHEN isnan(e.value / CASE WHEN e.value = 0 THEN NULL ELSE 1 END)
                THEN 0.0 ELSE e.value END AS nan_guarded,
           (e.value IS NULL) AS is_null_value
    FROM events e
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    v = F.col("value")
    return e.select(
        "event_id",
        F.when(v > 50, "high").otherwise("low").alias("band"),
        F.ifnull(F.nullif(F.col("event_type"), F.lit("error")), F.lit("cleaned")).alias(
            "cleaned_type"
        ),
        F.coalesce(F.lit(None), F.col("event_type"), F.lit("fallback")).alias(
            "first_non_null"
        ),
        # nanvl substitutes only NaN, not NULL — the value==0 row yields
        # NULL (0/NULL) which the oracle's CASE sends to its ELSE branch;
        # coalesce mirrors that ELSE so both engines agree on zeros.
        F.coalesce(
            F.nanvl(v / F.when(v == 0, None).otherwise(1), F.lit(0.0)), v
        ).alias("nan_guarded"),
        v.isNull().alias("is_null_value"),
    )


@register(
    "fn_bitwise",
    """
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 21845) AS mixed,
           o_orderkey << 2 AS shifted_l,
           o_orderkey >> 3 AS shifted_r,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bitwise family — the workhorses of hash/bucket/bloom expressions
    # (every op here is codegen'd long arithmetic).
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("mixed"),
        F.shiftleft(k, 2).alias("shifted_l"),
        F.shiftright(k, 3).alias("shifted_r"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


@register(
    "fn_try_ops",
    """
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_orderkey % 3, 0) AS safe_div,
           TRY_CAST(o_orderstatus AS BIGINT) AS bad_cast,
           TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS good_cast
    FROM orders
    """,
)
def fn_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANSI-mode error guards: Spark 4 ERRORS on div-by-zero and bad
    # casts (as does DuckDB); try_* / NULLIF turn the poison rows into
    # NULLs so one malformed record can't kill a 100 TB job.
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), F.nullif(F.col("o_orderkey") % 3, F.lit(0))
        ).alias("safe_div"),
        F.try_to_number(F.col("o_orderstatus"), F.lit("999")).cast("long").alias(
            "bad_cast"
        ),
        F.col("o_orderkey").cast("string").cast("int").alias("good_cast"),
    )


@register(
    "fn_url",
    r"""
    SELECT s_suppkey,
           regexp_extract(url, '^([a-z]+):', 1) AS protocol,
           regexp_extract(url, '://([^/?#]+)', 1) AS host,
           regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query,
           regexp_extract(url, 'page=([^&#]*)', 1) AS page_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM (
      SELECT s_suppkey,
             'https://supp-' || CAST(s_suppkey AS VARCHAR)
             || '.example.com/nation/' || CAST(s_nationkey AS VARCHAR)
             || '/parts?page=' || CAST(s_suppkey % 7 AS VARCHAR)
             || '&sort=name#sec-' || CAST(s_nationkey AS VARCHAR) AS url
      FROM supplier)
    ORDER BY s_suppkey
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL component extraction — the log-sessionization workhorse. Spark
    # side uses the native parse_url (JVM java.net.URI-backed, codegen);
    # the oracle decomposes the same constructed URLs with regexes. URLs
    # are built from integer keys only: double→string formatting is the
    # one cross-engine divergence in string building, so it is kept out
    # of the inputs. At 100 TB this is a pure map-side projection.
    s = t(spark, sf_dir, "supplier")
    url = F.concat(
        F.lit("https://supp-"),
        F.col("s_suppkey").cast("string"),
        F.lit(".example.com/nation/"),
        F.col("s_nationkey").cast("string"),
        F.lit("/parts?page="),
        (F.col("s_suppkey") % 7).cast("string"),
        F.lit("&sort=name#sec-"),
        F.col("s_nationkey").cast("string"),
    )
    u = s.select("s_suppkey", url.alias("url"))
    return u.select(
        "s_suppkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias(
            "page_param"
        ),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    ).orderBy("s_suppkey")


_VARIANT_ORACLE = """
SELECT o_orderkey,
       CAST(json_extract_string(j, '$.cust.key') AS BIGINT) AS cust_key,
       json_extract_string(j, '$.cust.prio') AS prio,
       CAST(json_extract_string(j, '$.items[1]') AS BIGINT) AS item1,
       json_extract_string(j, '$.missing') AS missing,
       CAST(json_array_length(j, '$.items') AS INTEGER) AS n_items
FROM (
  SELECT o_orderkey,
         '{"cust": {"key": ' || CAST(o_custkey AS VARCHAR)
         || ', "prio": "' || o_orderpriority
         || '"}, "items": [' || CAST(o_orderkey % 5 AS VARCHAR)
         || ', ' || CAST(o_orderkey % 7 AS VARCHAR) || ']}' AS j
  FROM orders)
WHERE o_orderkey < 500
ORDER BY o_orderkey
"""


@register("fn_variant", _VARIANT_ORACLE)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT — the semi-structured column type (binary-encoded
    JSON, per-path typed extraction without a declared schema). The ingest
    pattern at scale: land raw JSON once as VARIANT, then `variant_get`
    typed paths in silver models — the parse cost is paid once at write
    and every read extracts paths from the binary encoding instead of
    re-parsing text. Here: parse_json → typed path gets (nested object,
    array index, missing key via try_variant_get → NULL). The JSON is
    built from integer/string columns only — double→string formatting is
    the one cross-engine divergence in string building (fn_url pattern).
    The oracle extracts the same paths with DuckDB's JSON functions.
    Map-side only; at 100 TB this is a pure projection over the scan.
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    j = F.concat(
        F.lit('{"cust": {"key": '),
        F.col("o_custkey").cast("string"),
        F.lit(', "prio": "'),
        F.col("o_orderpriority"),
        F.lit('"}, "items": ['),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit(", "),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("]}"),
    )
    v = o.select("o_orderkey", F.parse_json(j).alias("v"))
    return v.select(
        "o_orderkey",
        F.expr("variant_get(v, '$.cust.key', 'bigint')").alias("cust_key"),
        F.expr("variant_get(v, '$.cust.prio', 'string')").alias("prio"),
        F.expr("variant_get(v, '$.items[1]', 'bigint')").alias("item1"),
        F.expr("try_variant_get(v, '$.missing', 'string')").alias("missing"),
        F.expr("size(variant_get(v, '$.items', 'array<int>'))").alias(
            "n_items"
        ),
    ).orderBy("o_orderkey")


_COLLATION_ORACLE = """
WITH variants AS (
  SELECT p_partkey, upper(p_type) AS c FROM part WHERE p_partkey % 3 = 0
  UNION ALL
  SELECT p_partkey, lower(p_type) AS c FROM part WHERE p_partkey % 3 = 1
  UNION ALL
  SELECT p_partkey, p_type AS c FROM part WHERE p_partkey % 3 = 2
)
SELECT lower(c) AS container,
       COUNT(*) AS n,
       COUNT(DISTINCT c) AS n_raw_spellings,
       CAST(SUM(CASE WHEN lower(c) = lower('Economy') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_eq_probe
FROM variants
GROUP BY lower(c)
ORDER BY container
"""


@register("fn_collation", _COLLATION_ORACLE)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: `collate(c, 'UTF8_LCASE')` makes comparison,
    grouping, and DISTINCT case-insensitive *at the type level* — the
    engine folds case inside the hash/compare paths instead of the user
    wrapping every reference in lower(). The op mixes three spellings of
    p_type and groups under the LCASE collation; the group key is
    emitted through lower() so both engines agree on the representative
    (which raw spelling "wins" a collated group is unspecified). The
    oracle is the classic lower()-everywhere rewrite — demonstrating the
    semantics are identical. Grouping on a collated key shuffles exactly
    like any other string key at 100 TB; n_raw_spellings counts raw
    (binary-collated) spellings inside each case-insensitive group.
    """
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    variants = (
        p.filter(k % 3 == 0).select(F.upper("p_type").alias("c"))
        .unionAll(p.filter(k % 3 == 1).select(F.lower("p_type").alias("c")))
        .unionAll(p.filter(k % 3 == 2).select(F.col("p_type").alias("c")))
    )
    lc = F.expr("collate(c, 'UTF8_LCASE')")
    return (
        variants.groupBy(lc.alias("ck"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.expr("collate(c, 'UTF8_BINARY')")).alias(
                "n_raw_spellings"
            ),
            F.sum(
                F.when(
                    lc == F.expr("collate('Economy', 'UTF8_LCASE')"), 1
                ).otherwise(0)
            ).alias("n_eq_probe"),
        )
        .select(
            F.lower(F.col("ck").cast("string")).alias("container"),
            "n",
            "n_raw_spellings",
            "n_eq_probe",
        )
        .orderBy("container")
    )


_MASK_ORACLE = """
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(c_name,
         '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
         AS masked_name,
       regexp_replace(c_phone, '[0-9]', '*', 'g') AS masked_phone,
       concat(regexp_replace(substr(c_phone, 1, len(c_phone) - 4),
                             '[0-9]', '*', 'g'),
              substr(c_phone, len(c_phone) - 3, 4)) AS phone_last4
FROM (
  SELECT c_custkey, c_name,
         CAST(10000000 + c_custkey % 90000000 AS VARCHAR) AS c_phone
  FROM customer)
WHERE c_custkey < 1000
ORDER BY c_custkey
"""


@register("fn_mask", _MASK_ORACLE)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking — the governed-view workhorse (`mask()` in Spark
    3.4+): class-preserving redaction (upper→X, lower→x, digit→n) that
    keeps format/length for downstream joins and validation while
    killing the value, plus the keep-last-4 partial mask every
    PCI-style display rule wants. DuckDB has no mask(), so the oracle
    is the regexp_replace decomposition — which is also exactly what
    mask() computes. Pure map-side; composes with llm_pii_redact's
    detect step (detect → mask is the full pipeline).
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 1000)
    phone = (10000000 + F.col("c_custkey") % 90000000).cast("string")
    base = c.select("c_custkey", "c_name", phone.alias("c_phone"))
    return base.select(
        "c_custkey",
        F.mask("c_name").alias("masked_name"),
        F.mask(
            "c_phone",
            upperChar=F.lit("X"),
            lowerChar=F.lit("x"),
            digitChar=F.lit("*"),
        ).alias("masked_phone"),
        F.concat(
            F.mask(
                F.expr("substr(c_phone, 1, length(c_phone) - 4)"),
                upperChar=F.lit("X"),
                lowerChar=F.lit("x"),
                digitChar=F.lit("*"),
            ),
            F.expr("substr(c_phone, length(c_phone) - 3, 4)"),
        ).alias("phone_last4"),
    ).orderBy("c_custkey")


_TZ_ORACLE = """
WITH loc AS (
  SELECT timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)) AS ny,
         timezone('Asia/Tokyo', CAST(ts AS TIMESTAMPTZ)) AS tyo
  FROM events
)
SELECT CAST(EXTRACT(hour FROM ny) AS BIGINT) AS ny_hour,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT CAST(ny AS DATE)) AS BIGINT) AS ny_days,
       CAST(COUNT(DISTINCT CAST(tyo AS DATE)) AS BIGINT) AS tokyo_days
FROM loc
GROUP BY 1
ORDER BY ny_hour
"""


@register("fn_tz_convert", _TZ_ORACLE)
def fn_tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA time-zone conversion — UTC event instants rendered in
    America/New_York and Asia/Tokyo local time, bucketed by local
    hour. The 2024 fixture year spans both US DST transitions (Mar 10
    spring-forward, Nov 3 fall-back), so the per-hour counts are only
    engine-equal if both engines apply the SAME tzdata offset rules at
    the boundaries — a wall-clock bug (fixed-offset arithmetic, wrong
    transition instant) shifts thousands of events one bucket over
    and the hash catches it; Tokyo (no DST) is the control. All
    conversion happens expression-side (from_utc_timestamp in
    codegen): no shuffle is added over the plain aggregation, which
    is the point — tz correctness is free at any scale.
    """
    e = t(spark, sf_dir, "events")
    loc = e.select(
        F.from_utc_timestamp("ts", "America/New_York").alias("ny"),
        F.from_utc_timestamp("ts", "Asia/Tokyo").alias("tyo"),
    )
    return (
        loc.groupBy(F.hour("ny").cast("long").alias("ny_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.to_date("ny")).cast("long").alias("ny_days"),
            F.count_distinct(F.to_date("tyo")).cast("long").alias(
                "tokyo_days"
            ),
        )
        .orderBy("ny_hour")
    )


def _interleave_sql(lon: str, lat: str) -> str:
    """30-bit geohash interleave as one folded integer expression —
    identical text runs in Spark SQL and DuckDB (pure >>, &, <<, +)."""
    terms = []
    for j in range(15):
        terms.append(f"((({lon} >> {14 - j}) & 1) << {29 - 2 * j})")
        terms.append(f"((({lat} >> {14 - j}) & 1) << {28 - 2 * j})")
    return " + ".join(terms)


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

_GEOHASH_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5('gx:' || CAST(c_custkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS x,
         CAST(('0x' || substr(md5('gy:' || CAST(c_custkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS y
  FROM customer
),
q AS (
  SELECT c_custkey,
         (x * 32768) // 10000 AS lon_q,
         (y * 32768) // 10000 AS lat_q
  FROM pts
),
coded AS (
  SELECT c_custkey,
         CAST({_interleave_sql('lon_q', 'lat_q')} AS BIGINT) AS code30
  FROM q
)
SELECT c_custkey, code30,
       substr('{_GEOHASH_B32}', 1 + CAST((code30 >> 25) & 31 AS INTEGER), 1)
    || substr('{_GEOHASH_B32}', 1 + CAST((code30 >> 20) & 31 AS INTEGER), 1)
    || substr('{_GEOHASH_B32}', 1 + CAST((code30 >> 15) & 31 AS INTEGER), 1)
    || substr('{_GEOHASH_B32}', 1 + CAST((code30 >> 10) & 31 AS INTEGER), 1)
    || substr('{_GEOHASH_B32}', 1 + CAST((code30 >> 5) & 31 AS INTEGER), 1)
    || substr('{_GEOHASH_B32}', 1 + CAST(code30 & 31 AS INTEGER), 1)
      AS geohash6
FROM coded
ORDER BY c_custkey
"""


@register("fn_geohash", _GEOHASH_ORACLE)
def fn_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding — the spatial partition key every geo pipeline
    derives before bucketing/joining (join_spatial_grid's grid cells,
    as a sortable string hierarchy: a shared prefix = spatial
    proximity, so ORDER BY geohash co-locates neighbors in storage).
    Implemented as pure integer bit math: the 15-bit quantized lon/lat
    interleave into one 30-bit code via a folded 30-term expression
    (generated once, identical text in both engines — whole-stage
    codegen, no UDF), then six base32 chars are substring-indexed out.
    Map-side only; scale-free.
    """
    c = t(spark, sf_dir, "customer")

    def axis(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % 10000
        )

    q = c.select(
        "c_custkey",
        axis("gx:").alias("x"),
        axis("gy:").alias("y"),
    ).select(
        "c_custkey",
        F.expr("(x * 32768) div 10000").alias("lon_q"),
        F.expr("(y * 32768) div 10000").alias("lat_q"),
    )
    coded = q.select(
        "c_custkey",
        F.expr(_interleave_sql("lon_q", "lat_q")).cast("long").alias("code30"),
    )
    ch = [
        F.expr(
            f"substr('{_GEOHASH_B32}', "
            f"cast((code30 >> {s}) & 31 as int) + 1, 1)"
        )
        for s in (25, 20, 15, 10, 5, 0)
    ]
    return coded.select(
        "c_custkey", "code30", F.concat(*ch).alias("geohash6")
    ).orderBy("c_custkey")


_BASE64_ORACLE = """
SELECT doc_id,
       to_base64(encode(substr(text, 1, 24))) AS b64,
       decode(from_base64(to_base64(encode(substr(text, 1, 24)))))
         = substr(text, 1, 24) AS roundtrips,
       length(to_base64(encode(substr(text, 1, 24)))) AS b64_len
FROM documents
ORDER BY doc_id
"""


@register("fn_base64", _BASE64_ORACLE)
def fn_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64 encode/decode round trip — the wire format for binary
    payloads embedded in JSON/CSV interchange (and the inline
    deletion-vector encoding deltalike.py uses a85 for). RFC 4648 with
    padding is byte-identical across engines, so the encoded string,
    its round-trip equality, and its padded length all value-check.
    Pure map stage.
    """
    d = t(spark, sf_dir, "documents")
    s24 = F.substring("text", 1, 24)
    b64 = F.base64(s24.cast("binary"))
    return d.select(
        "doc_id",
        b64.alias("b64"),
        (F.unbase64(b64).cast("string") == s24).alias("roundtrips"),
        F.length(b64).cast("long").alias("b64_len"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Lateral column aliases — Spark 4 / DuckDB shared surface: a SELECT item
# may reference an alias defined earlier in the SAME select list, chained.
# The analyzer inlines the alias chain into one Project, so this costs
# nothing at any scale — it's purely resolution sugar that removes a
# nesting level per derived column.
# ---------------------------------------------------------------------------

_LATERAL_ALIAS_TEXT = f"""
SELECT o_orderkey,
       {sql_cents("o_totalprice")} AS cents,
       cents - cents % 100 AS whole_dollar_c,
       cents % 100 AS rem_c,
       whole_dollar_c + rem_c AS recombined_c
FROM orders
ORDER BY o_orderkey
"""


@register("fn_lateral_column_alias", _LATERAL_ALIAS_TEXT)
def fn_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 4 SQL surface, DuckDB-native): the
    SAME text runs on both engines — ``cents`` is referenced by two
    later select items and ``recombined_c`` chains two lateral aliases.
    Exact integer arithmetic throughout (2-dp money ×100), and
    ``recombined_c = cents`` by construction, so the output self-checks
    the alias resolution. One whole-stage-codegen Project after the
    scan; ORDER BY is presentation only."""
    return sql(spark, sf_dir, _LATERAL_ALIAS_TEXT)


@register(
    "fn_interval_arith",
    """
    SELECT o_orderkey,
           epoch_us(o_orderdate + INTERVAL 1 MONTH) AS plus_1mo_us,
           epoch_us(o_orderdate + INTERVAL 14 MONTH) AS plus_1y2mo_us,
           epoch_us(o_orderdate + INTERVAL 2 DAY + INTERVAL 3 HOUR
                    + INTERVAL 4 MINUTE + INTERVAL 5 SECOND) AS plus_dt_us,
           CAST(extract('day' FROM (TIMESTAMP '1998-12-01 00:00:00'
                                    - o_orderdate)) AS BIGINT) AS days_left,
           CAST(date_part('month', age(TIMESTAMP '1998-12-01 00:00:00',
                                       o_orderdate))
                + 12 * date_part('year', age(TIMESTAMP '1998-12-01 00:00:00',
                                             o_orderdate)) AS BIGINT)
             AS whole_months_left
    FROM orders
    WHERE date_part('day', o_orderdate) >= 28
    """,
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI interval arithmetic parity — the calendar semantics that
    differ subtly across engines and silently corrupt date math in
    ports: month addition CLAMPS to month-end (Jan 31 + 1 month =
    Feb 28/29 — the filter keeps the dom ≥ 28 rows where clamping
    actually fires), year-month literals (`INTERVAL '1-2' YEAR TO
    MONTH`) vs plain 14-month addition, day-time interval composition,
    timestamp subtraction producing a day-time interval (EXTRACT DAY),
    and COMPLETE-month distance (`timestampdiff(MONTH, ...)`, which
    matches DuckDB's age() calendar decomposition, NOT its
    boundary-crossing date_diff). Outputs are epoch-micro longs (the
    unix_micros/epoch_us twin from the stream outer-join pattern) so the
    hash never touches engine timestamp rendering. Pure per-row codegen
    projection; the dom filter pushes to the scan.
    """
    o = t(spark, sf_dir, "orders")
    # parquet TIMESTAMP can surface as NTZ in a vanilla session;
    # unix_micros requires TIMESTAMP — the cast is value-preserving
    # under the catalog's UTC session pin (CLAUDE.md r3 note).
    d = F.col("o_orderdate").cast("timestamp")
    end = "TIMESTAMP '1998-12-01 00:00:00'"
    return o.filter(F.dayofmonth(d) >= 28).select(
        "o_orderkey",
        F.unix_micros(d + F.expr("INTERVAL 1 MONTH")).alias("plus_1mo_us"),
        F.unix_micros(
            d + F.expr("INTERVAL '1-2' YEAR TO MONTH")
        ).alias("plus_1y2mo_us"),
        F.unix_micros(
            d
            + F.expr(
                "INTERVAL 2 DAY + INTERVAL 3 HOUR + INTERVAL 4 MINUTE"
                " + INTERVAL 5 SECOND"
            )
        ).alias("plus_dt_us"),
        F.expr(
            f"extract(DAY FROM ({end} - CAST(o_orderdate AS TIMESTAMP)))"
        )
        .cast("long")
        .alias("days_left"),
        F.expr(
            f"timestampdiff(MONTH, CAST(o_orderdate AS TIMESTAMP), {end})"
        )
        .cast("long")
        .alias("whole_months_left"),
    )


_AES_ORACLE = """
SELECT c_custkey, c_name,
       16 * (length(c_name) // 16 + 1) AS cipher_len_ecb,
       TRUE AS roundtrip_ok,
       TRUE AS wrong_key_yields_null,
       TRUE AS gcm_roundtrip_ok
FROM customer
ORDER BY c_custkey
"""


@register("fn_aes_roundtrip", _AES_ORACLE)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface — `aes_encrypt` / `aes_decrypt` /
    `try_aes_decrypt`, the at-rest PII protection the governance layer
    applies before landing raw tables. ECB mode is deterministic
    (asserted via exact PKCS-padded ciphertext LENGTH — a closed-form
    the oracle computes: 16·⌈(n+1)/16⌉ — plus a decrypt round trip);
    GCM mode is nondeterministic BY DESIGN (random 12-byte IV per call)
    so only its round trip is asserted, never its bytes — the reason
    sql-mode emits booleans with a TRUE oracle (the sketch-op driver
    pattern). `try_aes_decrypt` under the wrong key must never raise
    (the ANSI try_* contract, fn_try_ops family) — asserted
    padding-independently as NULL-or-not-the-plaintext, since a wrong
    ECB/PKCS key passes padding validation with prob ~1/256 per row
    and can return non-NULL garbage. All four
    checks are per-row codegen expressions over one scan: no shuffle,
    no UDF, scale-free at 100 TB.
    """
    key = F.lit("0123456789abcdef")  # 16-byte AES-128 key
    wrong = F.lit("fedcba9876543210")
    name_b = F.col("c_name").cast("binary")
    ecb = F.aes_encrypt(name_b, key, F.lit("ECB"), F.lit("PKCS"))
    gcm = F.aes_encrypt(name_b, key, F.lit("GCM"))
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            F.length(ecb).cast("long").alias("cipher_len_ecb"),
            (
                F.aes_decrypt(ecb, key, F.lit("ECB"), F.lit("PKCS")).cast(
                    "string"
                )
                == F.col("c_name")
            ).alias("roundtrip_ok"),
            # padding-independent: ECB/PKCS wrong-key decryption passes
            # padding validation ~1/256 per row, so "always NULL" is
            # probabilistic on arbitrary plaintexts — but wrong-key
            # garbage never equals the original plaintext, so
            # NULL-or-different is deterministic.
            (
                F.try_aes_decrypt(ecb, wrong, F.lit("ECB"), F.lit("PKCS"))
                .isNull()
                | (
                    F.try_aes_decrypt(
                        ecb, wrong, F.lit("ECB"), F.lit("PKCS")
                    ).cast("string")
                    != F.col("c_name")
                )
            ).alias("wrong_key_yields_null"),
            (
                F.aes_decrypt(gcm, key, F.lit("GCM")).cast("string")
                == F.col("c_name")
            ).alias("gcm_roundtrip_ok"),
        )
        .orderBy("c_custkey")
    )


_SOUNDEX_ORACLE = """
WITH tok AS (
  SELECT DISTINCT t.w
  FROM part, UNNEST(string_split(p_name, ' ')) AS t(w)
  WHERE regexp_full_match(t.w, '[a-z]+')
),
coded AS (
  SELECT w,
         substr(upper(w), 1, 1) AS head,
         translate(substr(upper(w), 1, 1)
                     || translate(substr(upper(w), 2), 'HW', ''),
                   'BFPVCGJKQSXZDTLMNRAEIOUY',
                   '111122222222334556000000') AS codes
  FROM tok
),
collapse1 AS (
  SELECT w, head,
         replace(replace(replace(replace(replace(replace(replace(codes,
           '00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),
           '66','6') AS codes
  FROM coded
),
collapse2 AS (
  SELECT w, head,
         replace(replace(replace(replace(replace(replace(replace(codes,
           '00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),
           '66','6') AS codes
  FROM collapse1
),
collapse3 AS (
  SELECT w, head,
         replace(replace(replace(replace(replace(replace(replace(codes,
           '00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),
           '66','6') AS codes
  FROM collapse2
),
collapse4 AS (
  SELECT w, head,
         replace(replace(replace(replace(replace(replace(replace(codes,
           '00','0'),'11','1'),'22','2'),'33','3'),'44','4'),'55','5'),
           '66','6') AS codes
  FROM collapse3
),
sx AS (
  SELECT w,
         head || substr(replace(substr(codes, 2), '0', '') || '000', 1, 3)
           AS soundex_code
  FROM collapse4
)
SELECT w AS token, soundex_code FROM sx ORDER BY token
"""


@register("fn_phonetic_soundex", _SOUNDEX_ORACLE)
def fn_phonetic_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic encoding (American Soundex) — the blocking key for
    name/entity matching: misspellings that SOUND alike land in one
    bucket, turning fuzzy-match from O(n²) into an equi-join on the
    code (the same blocking discipline llm_dedup_editdistance uses).
    Spark's side is the built-in codegen `F.soundex`; the oracle
    REIMPLEMENTS the full algorithm in set-based SQL — H/W removed
    from the tail (codes separated by H/W collapse), letters→digit
    classes with vowels as separators, adjacent-duplicate collapse by
    replace-to-fixpoint (4 halving passes cover runs ≤16, token max
    length here), first-letter code participates in the collapse then
    drops, zeros strip, right-pad to 4 — a true third implementation,
    verified on the classic pathologics (PFISTER→P236, ASHCRAFT→A261,
    TYMCZAK→T522, HONEYMAN→H555). Per-row expression over a distinct
    token set: no shuffle beyond the DISTINCT, scale-free.
    """
    tok = (
        t(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("token"))
        .filter(F.col("token").rlike("^[a-z]+$"))
        .distinct()
    )
    return tok.select(
        "token", F.soundex("token").alias("soundex_code")
    ).orderBy("token")


_IPCIDR_ORACLE = """
WITH ip AS (
  SELECT user_id,
         167772160 + (user_id % 4096) * 4096
           + (user_id * 2654435761) % 4096 AS ip_int
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT user_id, ip_int,
       CAST((ip_int >> 24) & 255 AS VARCHAR) || '.'
         || CAST((ip_int >> 16) & 255 AS VARCHAR) || '.'
         || CAST((ip_int >> 8) & 255 AS VARCHAR) || '.'
         || CAST(ip_int & 255 AS VARCHAR) AS ip_str,
       (ip_int >> 24) = 10 AS in_10_slash8,
       CAST((ip_int >> 24) & 255 AS VARCHAR) || '.'
         || CAST((ip_int >> 16) & 255 AS VARCHAR) || '.0.0/16'
         AS subnet16,
       (ip_int >> 12) = (167772160 >> 12) AS in_first_slash20,
       CAST((ip_int >> 12) & 15 AS BIGINT) AS slash20_index
FROM ip
ORDER BY user_id
"""


@register("fn_ipcidr", _IPCIDR_ORACLE)
def fn_ipcidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 / CIDR arithmetic — the network-governance function family
    (geo joins, allowlist screens, per-subnet rate rollups) done the
    scale-right way: an address is a 32-bit INTEGER and a /k block
    test is ONE shift-compare (`ip >> (32−k) == prefix >> (32−k)`),
    never a string prefix match — which is also what makes CIDR joins
    equi-joins on the shifted key at 100 TB. Addresses are synthesized
    deterministically inside 10.0.0.0/8 (fixtures carry no PII-like
    IPs; host bits from a Knuth multiplicative mix — pure integer
    math, since xxhash64 and DuckDB's hash() do NOT agree), then: dotted-quad rendering from octet shifts,
    membership in /8 and /20 blocks, and the /16 + /20-index rollup
    keys. Pure codegen bit math on one distinct-user scan; every
    output column exact.
    """
    ip = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.lit(167772160)
                + (F.col("user_id") % 4096) * 4096
                + (F.col("user_id") * 2654435761) % 4096
            ).alias("ip_int"),
        )
    )
    oct_ = lambda sh: F.expr(  # noqa: E731
        f"CAST((ip_int >> {sh}) & 255 AS STRING)"
    )
    return ip.select(
        "user_id",
        "ip_int",
        F.concat_ws(
            ".", oct_(24), oct_(16), oct_(8), oct_(0)
        ).alias("ip_str"),
        F.expr("(ip_int >> 24) = 10").alias("in_10_slash8"),
        F.concat(
            oct_(24), F.lit("."), oct_(16), F.lit(".0.0/16")
        ).alias("subnet16"),
        F.expr("(ip_int >> 12) = (167772160 >> 12)").alias(
            "in_first_slash20"
        ),
        F.expr("CAST((ip_int >> 12) & 15 AS BIGINT)").alias(
            "slash20_index"
        ),
    ).orderBy("user_id")


_UUID_ORACLE = """
WITH h AS (
  SELECT c_custkey, md5('urn:fixture:' || c_name) AS hx
  FROM customer WHERE c_custkey <= 1500
),
u AS (
  SELECT c_custkey,
         substring(hx, 1, 8) || '-' || substring(hx, 9, 4) || '-3'
         || substring(hx, 14, 3) || '-'
         || substring('89ab',
              ((strpos('0123456789abcdef', substring(hx, 17, 1)) - 1) % 4)
              + 1, 1)
         || substring(hx, 18, 3) || '-' || substring(hx, 21, 12) AS uuid3
  FROM h
)
SELECT c_custkey, uuid3,
       (length(uuid3) = 36 AND substring(uuid3, 15, 1) = '3'
        AND strpos('89ab', substring(uuid3, 20, 1)) > 0) AS rfc4122_ok
FROM u ORDER BY c_custkey
"""


@register("fn_uuid_deterministic", _UUID_ORACLE)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4122 name-based UUID (version 3, md5) — the deterministic
    entity-key primitive a pipeline uses instead of random uuid() when
    backfills must reproduce the same ids (the llm_split_assign
    md5-key-addressing discipline, shaped into the standard UUID wire
    format): md5(namespace || name), hyphenated 8-4-4-4-12, version
    nibble forced to '3' and the variant nibble to [89ab] by replacing
    the 13th hex digit and mapping the 17th's low two bits onto '89ab'
    — pure string/arithmetic surgery identical in both engines (no
    engine uuid() anywhere, which would be non-deterministic by
    design). A self-check boolean asserts shape, version and variant
    per row. Plan: zero-shuffle codegen map over one scan — the
    fn_hash/fn_mask family shape, scale-free.
    """
    h = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 1500)
        .select(
            "c_custkey",
            F.md5(F.concat(F.lit("urn:fixture:"), F.col("c_name"))).alias(
                "hx"
            ),
        )
    )
    uuid3 = F.concat(
        F.substring("hx", 1, 8),
        F.lit("-"),
        F.substring("hx", 9, 4),
        F.lit("-3"),
        F.substring("hx", 14, 3),
        F.lit("-"),
        F.substring(
            F.lit("89ab"),
            F.expr(
                "CAST((instr('0123456789abcdef', substring(hx, 17, 1)) - 1)"
                " % 4 AS INT) + 1"
            ),
            1,
        ),
        F.substring("hx", 18, 3),
        F.lit("-"),
        F.substring("hx", 21, 12),
    )
    u = h.select("c_custkey", uuid3.alias("uuid3"))
    return u.select(
        "c_custkey",
        "uuid3",
        (
            (F.length("uuid3") == 36)
            & (F.substring("uuid3", 15, 1) == "3")
            & (F.instr(F.lit("89ab"), F.substring("uuid3", 20, 1)) > 0)
        ).alias("rfc4122_ok"),
    ).orderBy("c_custkey")
