"""Scalar-function surface (SURVEY §2B.8): string, date/time, math, array,
map, JSON, and cast coverage.

All expressions are built-in pyspark.sql.functions — JVM-side, inside
whole-stage codegen; zero Python UDFs in this family. Oracles restate the
same computation in DuckDB's dialect (e.g. no initcap there, list_distinct
is unordered, epoch() is fractional), keeping outputs bit-identical.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables


@query(
    "scalar_string_funcs",
    family="scalars",
    oracle="""
        SELECT
          c_custkey,
          upper(c_name) AS name_upper,
          lower(c_mktsegment) AS seg_lower,
          length(c_name) AS name_len,
          substr(c_name, 1, 8) AS name_prefix,
          concat(c_name, ':', c_mktsegment) AS name_seg,
          lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
          trim(concat('  ', c_name, '  ')) AS trimmed,
          translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
          strpos(c_name, '0') AS first_zero,
          upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS seg_title
        FROM customer
        WHERE c_custkey <= 100
        ORDER BY c_custkey
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat/substr/length/upper/lower/trim/lpad/translate/instr (+ title-
    casing emulated identically on both engines, DuckDB has no initcap)."""
    c = load_tables(spark, sf_dir).customer
    return (
        c.filter(F.col("c_custkey") <= 100)
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.lower("c_mktsegment").alias("seg_lower"),
            F.length("c_name").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("name_seg"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
            F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
            F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_translated"),
            F.instr("c_name", "0").alias("first_zero"),
            F.concat(
                F.upper(F.substring("c_mktsegment", 1, 1)),
                F.lower(F.substring("c_mktsegment", 2, 2_000_000_000)),
            ).alias("seg_title"),
        )
        .orderBy("c_custkey")
    )


@query(
    "scalar_regex_like",
    family="scalars",
    oracle="""
        SELECT
          p_partkey,
          p_name,
          regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
          regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
          CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS has_red,
          CASE WHEN regexp_matches(p_type, '^PROMO') THEN 1 ELSE 0 END AS is_promo,
          split_part(p_type, ' ', 1) AS type_head
        FROM part
        WHERE p_partkey <= 80
        ORDER BY p_partkey
    """,
)
def scalar_regex_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / LIKE / RLIKE / split_part. Spark's
    regexp_replace is global by default; DuckDB needs the 'g' flag."""
    p = load_tables(spark, sf_dir).part
    return (
        p.filter(F.col("p_partkey") <= 80)
        .select(
            "p_partkey",
            "p_name",
            F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
            F.when(F.col("p_name").like("%red%"), 1).otherwise(0).alias("has_red"),
            F.when(F.col("p_type").rlike("^PROMO"), 1).otherwise(0).alias("is_promo"),
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        )
        .orderBy("p_partkey")
    )


@query(
    "scalar_datetime_funcs",
    family="scalars",
    oracle="""
        SELECT
          o_orderkey,
          CAST(year(o_orderdate) AS INT) AS yr,
          CAST(month(o_orderdate) AS INT) AS mo,
          CAST(day(o_orderdate) AS INT) AS dy,
          CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
          o_orderdate + INTERVAL 30 DAY AS due_date,
          datediff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS days_to_eoy,
          CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
          CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
          CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS epoch_sec
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey
    """,
)
def scalar_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day, date_trunc, interval add, datediff, extract,
    formatting, epoch seconds."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dy"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
            F.datediff(F.lit("1998-12-31").cast("timestamp"), F.col("o_orderdate")).alias("days_to_eoy"),
            F.quarter("o_orderdate").alias("qtr"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
            # cast NTZ→TIMESTAMP first (session tz is UTC, so identical
            # instant); unix_micros rejects TIMESTAMP_NTZ input.
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000").alias("epoch_sec"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_math_funcs",
    family="scalars",
    oracle="""
        SELECT
          l_orderkey,
          l_linenumber,
          CAST(round(l_extendedprice, 1) AS DOUBLE) AS price_r1,
          CAST(floor(l_extendedprice) AS DOUBLE) AS price_floor,
          CAST(ceil(l_extendedprice) AS DOUBLE) AS price_ceil,
          CAST(abs(l_discount - 0.05) AS DOUBLE) AS disc_dev,
          CAST(round(pow(l_quantity, 2), 2) AS DOUBLE) AS qty_sq,
          CAST(round(sqrt(l_extendedprice), 4) AS DOUBLE) AS price_sqrt,
          CAST(round(ln(l_extendedprice + 1), 4) AS DOUBLE) AS price_ln,
          CAST(round(log10(l_extendedprice + 1), 4) AS DOUBLE) AS price_log10,
          CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
          CAST(((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS key_mod7,
          CAST(greatest(l_quantity, 25.0) AS DOUBLE) AS qty_hi,
          CAST(least(l_quantity, 25.0) AS DOUBLE) AS qty_lo
        FROM lineitem
        WHERE l_orderkey <= 60
        ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/floor/ceil/abs/pow/sqrt/ln/log10/sign/pmod/greatest/least."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_orderkey") <= 60)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("price_r1"),
            F.floor("l_extendedprice").cast("double").alias("price_floor"),
            F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
            F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
            F.round(F.log10(F.col("l_extendedprice") + 1), 4).alias("price_log10"),
            F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
            F.pmod(F.col("l_orderkey"), F.lit(7)).cast("bigint").alias("key_mod7"),
            F.greatest("l_quantity", F.lit(25.0)).alias("qty_hi"),
            F.least("l_quantity", F.lit(25.0)).alias("qty_lo"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "scalar_array_funcs",
    family="scalars",
    oracle="""
        SELECT
          p_partkey,
          array_to_string(string_split(p_name, ' '), '|') AS words,
          len(string_split(p_name, ' ')) AS n_words,
          CASE WHEN list_contains(string_split(p_name, ' '), 'red') THEN 1 ELSE 0 END AS has_red,
          array_to_string(list_sort(string_split(p_name, ' ')), '|') AS words_sorted,
          array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), '|') AS words_uniq,
          string_split(p_name, ' ')[1] AS first_word,
          array_to_string(list_slice(list_sort(string_split(p_name, ' ')), 1, 2), '|') AS first_two_sorted,
          array_to_string(generate_series(1, p_size % 4 + 1), ',') AS size_seq,
          array_to_string(list_sort(string_split(p_name, ' ')), '-') AS joined
        FROM part
        WHERE p_partkey <= 60
        ORDER BY p_partkey
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array construction (split/sequence), size, contains, sort, distinct,
    element_at, slice, join — exercised over part names. Array outputs are
    string-joined so the driver canonicalizer (pandas hash) can sort them —
    raw list cells are unhashable on the comparator side."""
    p = load_tables(spark, sf_dir).part
    words = F.split(F.col("p_name"), " ")
    return (
        p.filter(F.col("p_partkey") <= 60)
        .select(
            "p_partkey",
            F.array_join(words, "|").alias("words"),
            F.size(words).alias("n_words"),
            F.when(F.array_contains(words, "red"), 1).otherwise(0).alias("has_red"),
            F.array_join(F.array_sort(words), "|").alias("words_sorted"),
            F.array_join(F.array_sort(F.array_distinct(words)), "|").alias("words_uniq"),
            F.element_at(words, 1).alias("first_word"),
            F.array_join(F.slice(F.array_sort(words), 1, 2), "|").alias("first_two_sorted"),
            F.array_join(
                F.sequence(F.lit(1), F.col("p_size") % 4 + 1).cast("array<string>"), ","
            ).alias("size_seq"),
            F.array_join(F.array_sort(words), "-").alias("joined"),
        )
        .orderBy("p_partkey")
    )


@query(
    "scalar_explode_tokens",
    family="scalars",
    oracle="""
        SELECT word, count(*) AS n
        FROM (
          SELECT unnest(string_split(p_name, ' ')) AS word FROM part
        )
        GROUP BY word
        ORDER BY n DESC, word
        LIMIT 20
    """,
)
def scalar_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (lateral unnest) + aggregate: top-20 words in part names."""
    p = load_tables(spark, sf_dir).part
    return (
        p.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@query(
    "scalar_json_funcs",
    family="scalars",
    oracle="""
        SELECT
          CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
          count(*) AS n,
          CAST(round(sum(value), 2) AS DOUBLE) AS total_value
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY k_bucket
        ORDER BY k_bucket
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props payload column."""
    e = load_tables(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.filter(k.isNotNull())
        .groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("k_bucket")
    )


@query(
    "scalar_map_funcs",
    family="scalars",
    oracle="""
        SELECT
          n_nationkey,
          'name|region' AS tag_keys,
          n_name || '|' || CAST(n_regionkey AS VARCHAR) AS tag_values,
          2 AS n_tags,
          n_name AS name_tag
        FROM nation
        ORDER BY n_nationkey
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + map_keys/map_values/element_at/size — the LogLine
    ``tag`` analytics path. Key/value arrays are string-joined so the driver
    canonicalizer (pandas hash) can sort them — raw list cells are
    unhashable on the comparator side."""
    n = load_tables(spark, sf_dir).nation
    tag = F.create_map(
        F.lit("name"), F.col("n_name"),
        F.lit("region"), F.col("n_regionkey").cast("string"),
    )
    return (
        n.select(
            "n_nationkey",
            F.array_join(F.map_keys(tag), "|").alias("tag_keys"),
            F.array_join(F.map_values(tag), "|").alias("tag_values"),
            F.size(tag).alias("n_tags"),
            F.element_at(tag, "name").alias("name_tag"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "scalar_casts_conditionals",
    family="scalars",
    oracle="""
        SELECT
          o_orderkey,
          CAST(floor(o_totalprice) AS BIGINT) AS price_long,
          CAST(CAST(floor(o_totalprice) AS INT) AS DOUBLE) AS price_int_back,
          CAST(o_orderkey AS VARCHAR) AS key_str,
          CAST(o_orderdate AS DATE) AS order_date,
          CASE
            WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low'
          END AS price_band,
          coalesce(nullif(o_orderstatus, 'O'), 'open?') AS status_or_default,
          CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS urgent
        FROM orders
        WHERE o_orderkey <= 200
        ORDER BY o_orderkey
    """,
)
def scalar_casts_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast matrix (double→bigint/int/string, ts→date) + CASE WHEN /
    coalesce / nullif / IN."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.filter(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey",
            # floor() first: Spark's double→int cast truncates while
            # DuckDB's rounds — floor makes the semantics explicit.
            F.floor("o_totalprice").cast("bigint").alias("price_long"),
            F.floor("o_totalprice").cast("int").cast("double").alias("price_int_back"),
            F.col("o_orderkey").cast("string").alias("key_str"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.when(F.col("o_totalprice") > 300000, "high")
            .when(F.col("o_totalprice") > 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open?")).alias("status_or_default"),
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("urgent"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_edit_distance",
    family="scalars",
    oracle="""
        SELECT p_partkey,
               CAST(levenshtein(p_name, p_brand) AS INT) AS name_brand_dist,
               CAST(levenshtein(lower(p_type), 'standard') AS INT) AS type_dist,
               CAST(levenshtein(p_brand, reverse(p_brand)) AS INT) AS brand_palindrome_dist
        FROM part WHERE p_partkey <= 150
        ORDER BY p_partkey
    """,
)
def scalar_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalars (fuzzy matching / record-linkage building
    block): Levenshtein between real columns, against a fixed target, and
    against a derived string — identical DP semantics in both engines."""
    p = load_tables(spark, sf_dir).part.filter(F.col("p_partkey") <= 150)
    return (
        p.select(
            "p_partkey",
            F.levenshtein("p_name", "p_brand").alias("name_brand_dist"),
            F.levenshtein(F.lower("p_type"), F.lit("standard")).alias("type_dist"),
            F.levenshtein(F.col("p_brand"), F.reverse("p_brand")).alias(
                "brand_palindrome_dist"
            ),
        )
        .orderBy("p_partkey")
    )


_URL_EXPR_SQL = (
    "'https://shop' || CAST(o_orderkey % 7 AS VARCHAR)"
    " || '.example.com:8443/o/' || CAST(o_orderkey AS VARCHAR)"
    " || '?ref=r' || CAST(o_orderkey % 5 AS VARCHAR)"
    " || '&page=' || CAST(o_orderkey % 3 AS VARCHAR) || '#top'"
)


@query(
    "scalar_url_funcs",
    family="scalars",
    oracle=f"""
        WITH u AS (
          SELECT o_orderkey, {_URL_EXPR_SQL} AS url
          FROM orders WHERE o_orderkey <= 200
        )
        SELECT o_orderkey,
               regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
               regexp_extract(url, '://([^/:?#]+)', 1) AS host,
               regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query,
               regexp_extract(url, 'ref=([^&#]*)', 1) AS ref_param
        FROM u ORDER BY o_orderkey
    """,
)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition: Spark's parse_url (Hive-compatible, JVM-side)
    against a regexp oracle over deterministically synthesized URLs —
    protocol/host/path/query plus single-parameter extraction. parse_url
    drops the port from HOST, matching the oracle's character class."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 200)
    k = F.col("o_orderkey")
    url = F.concat(
        F.lit("https://shop"), (k % 7).cast("string"),
        F.lit(".example.com:8443/o/"), k.cast("string"),
        F.lit("?ref=r"), (k % 5).cast("string"),
        F.lit("&page="), (k % 3).cast("string"), F.lit("#top"),
    )
    return (
        o.select("o_orderkey", url.alias("_url"))
        .select(
            "o_orderkey",
            F.lower(F.parse_url("_url", F.lit("PROTOCOL"))).alias("protocol"),
            F.parse_url("_url", F.lit("HOST")).alias("host"),
            F.parse_url("_url", F.lit("PATH")).alias("path"),
            F.parse_url("_url", F.lit("QUERY")).alias("query"),
            F.parse_url("_url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_bitwise_funcs",
    family="scalars",
    oracle="""
        SELECT
          o_orderkey,
          (o_orderkey & 255) AS and_mask,
          (o_orderkey | 4096) AS or_bits,
          xor(o_orderkey, 21845) AS xor_bits,
          CAST(o_orderkey << 3 AS BIGINT) AS shl3,
          CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
          CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS INT) AS popcount,
          CAST(~o_orderkey AS BIGINT) AS flipped
        FROM orders
        WHERE o_orderkey <= 100
        ORDER BY o_orderkey
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: AND/OR/XOR masks, shifts, popcount, NOT —
    identical two's-complement semantics on BIGINT in both engines."""
    o = load_tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return (
        o.filter(k <= 100)
        .select(
            "o_orderkey",
            k.bitwiseAND(F.lit(255)).alias("and_mask"),
            k.bitwiseOR(F.lit(4096)).alias("or_bits"),
            k.bitwiseXOR(F.lit(21845)).alias("xor_bits"),
            F.shiftleft(k, 3).cast("bigint").alias("shl3"),
            F.shiftright(k, 2).cast("bigint").alias("shr2"),
            F.bit_count(k).alias("popcount"),
            F.bitwise_not(k).cast("bigint").alias("flipped"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_struct_funcs",
    family="scalars",
    oracle="""
        SELECT
          o_orderkey,
          to_json(struct_pack(k := o_orderkey, st := o_orderstatus, pri := o_orderpriority))
            AS as_json,
          (struct_pack(k := o_orderkey, st := o_orderstatus)).st AS st_field,
          CAST((struct_pack(k := o_orderkey)).k * 2 AS BIGINT) AS k_doubled,
          json_extract_string(
            to_json(struct_pack(k := o_orderkey, pri := o_orderpriority)), '$.pri'
          ) AS pri_roundtrip
        FROM orders
        WHERE o_orderkey <= 100
        ORDER BY o_orderkey
    """,
)
def scalar_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction, field access, arithmetic on a field, and a
    to_json→json-path round trip. Struct columns are projected to JSON /
    scalar fields so both engines hash identically (int+string members
    only — double JSON formatting is engine-defined)."""
    o = load_tables(spark, sf_dir).orders
    s3 = F.struct(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pri"),
    )
    s2 = F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("st"))
    sp = F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("pri"))
    return (
        o.filter(F.col("o_orderkey") <= 100)
        .select(
            "o_orderkey",
            F.to_json(s3).alias("as_json"),
            s2.getField("st").alias("st_field"),
            (s2.getField("k") * 2).cast("bigint").alias("k_doubled"),
            F.get_json_object(F.to_json(sp), "$.pri").alias("pri_roundtrip"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_posexplode_tokens",
    family="scalars",
    oracle="""
        SELECT p_partkey,
               unnest(generate_series(1, len(string_split(p_name, ' ')))) AS pos,
               unnest(string_split(p_name, ' ')) AS word
        FROM part
        WHERE p_partkey <= 40
        ORDER BY p_partkey, pos
    """,
)
def scalar_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (lateral unnest WITH ORDINALITY): token position
    matters for n-gram/order-sensitive text work. Spark's posexplode is
    0-based; +1 aligns it with the 1-based oracle series."""
    p = load_tables(spark, sf_dir).part
    return (
        p.filter(F.col("p_partkey") <= 40)
        .select("p_partkey", F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"))
        .withColumn("pos", (F.col("pos") + 1).cast("bigint"))
        .orderBy("p_partkey", "pos")
    )


@query(
    "scalar_trig_funcs",
    family="scalars",
    oracle="""
        SELECT
          o_orderkey,
          CAST(round(sin(o_orderkey % 360 * pi() / 180), 4) + 0.0 AS DOUBLE) AS sin_v,
          CAST(round(cos(o_orderkey % 360 * pi() / 180), 4) + 0.0 AS DOUBLE) AS cos_v,
          CAST(round(atan2(o_orderkey % 7, o_orderkey % 5 + 1), 4) AS DOUBLE) AS atan2_v,
          CAST(round(degrees(atan(o_orderkey % 10)), 4) AS DOUBLE) AS deg_v,
          CAST(round(radians(o_orderkey % 180), 4) AS DOUBLE) AS rad_v,
          CAST(round(exp(o_orderkey % 5), 4) AS DOUBLE) AS exp_v,
          CAST(round(cbrt(o_orderkey), 4) AS DOUBLE) AS cbrt_v
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey
    """,
)
def scalar_trig_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/transcendental surface: sin/cos/atan2/atan, degree-
    radian conversion, exp, cbrt — rounded to 4 dp (libm vs JDK Math agree
    to well under a last-place unit at these magnitudes)."""
    o = load_tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    ang = k % 360 * F.lit(3.141592653589793) / 180
    return (
        o.filter(k <= 300)
        .select(
            "o_orderkey",
            # + 0.0 normalizes IEEE negative zero: Spark's BigDecimal round
            # drops the sign, DuckDB's binary round keeps it.
            (F.round(F.sin(ang), 4) + 0.0).alias("sin_v"),
            (F.round(F.cos(ang), 4) + 0.0).alias("cos_v"),
            F.round(F.atan2((k % 7).cast("double"), (k % 5 + 1).cast("double")), 4).alias("atan2_v"),
            F.round(F.degrees(F.atan(k % 10)), 4).alias("deg_v"),
            F.round(F.radians(k % 180), 4).alias("rad_v"),
            F.round(F.exp(k % 5), 4).alias("exp_v"),
            F.round(F.cbrt(k), 4).alias("cbrt_v"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_variant_extract",
    family="scalars",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
                 AS sum_k,
               count(json_extract_string(props, '$.missing')) AS n_missing
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): ``parse_json`` once into the binary
    VARIANT type, then typed ``variant_get`` path extractions — the
    schema-on-demand semi-structured path that replaces repeated string
    re-parsing of JSON columns at scale (parse once per row, not once per
    extraction). A missing path extracts NULL (counted zero on both
    engines); DuckDB has no VARIANT, so the oracle states the same
    extractions over its JSON functions."""
    e = load_tables(spark, sf_dir).events
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    )
    return (
        v.select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'int')").alias("k"),
            F.expr("variant_get(v, '$.missing', 'string')").alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count("missing").alias("n_missing"),
        )
        .orderBy("event_type")
    )


@query(
    "scalar_try_arith",
    family="scalars",
    oracle="""
        SELECT event_id,
               CAST(round(1.0 / nullif(event_id % 3, 0), 4) AS DOUBLE) AS safe_div,
               CASE WHEN event_id = 0 THEN 0
                    WHEN event_id = 1 THEN 9223372036854775807
                    ELSE NULL END AS overflow_mul,
               string_split(event_type, '_')[3] AS third_token,
               TRY_CAST(substr(event_type, 1, 2) AS INT) AS parsed_prefix
        FROM events
        WHERE event_id <= 300
        ORDER BY event_id
    """,
)
def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: try_divide (NULL on /0), try_multiply
    (NULL on BIGINT overflow — oracled via the closed form, since DuckDB
    would promote to HUGEINT instead), try_element_at (NULL past the end),
    and TRY_CAST. These are the error-tolerant kernels a 100 TB batch job
    needs so one malformed row degrades to NULL instead of failing the
    stage under ANSI mode."""
    e = load_tables(spark, sf_dir).events
    return (
        e.filter(F.col("event_id") <= 300)
        .select(
            "event_id",
            F.round(F.try_divide(F.lit(1.0), F.col("event_id") % 3), 4).alias("safe_div"),
            F.try_multiply(F.col("event_id"), F.lit(9223372036854775807)).alias("overflow_mul"),
            F.try_element_at(F.split("event_type", "_"), F.lit(3)).alias("third_token"),
            F.expr("TRY_CAST(substr(event_type, 1, 2) AS INT)").alias("parsed_prefix"),
        )
        .orderBy("event_id")
    )


@query(
    "scalar_parameterized_sql",
    family="scalars",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_totalprice > 250000.0 AND o_orderpriority = '1-URGENT'
        GROUP BY 1
        ORDER BY month
    """,
)
def scalar_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`spark.sql(query, args={...})`, Spark 3.4+):
    the binding happens in the parser as typed literals — not string
    interpolation — so Catalyst still constant-folds and pushes the
    predicates to the scan, and injection is structurally impossible.
    The oracle is the same query with the literals inlined, proving the
    bound plan is equivalent to the literal plan."""
    return spark.sql(
        """
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
        FROM {orders}
        WHERE o_totalprice > :min_price AND o_orderpriority = :prio
        GROUP BY 1
        ORDER BY month
        """,
        args={"min_price": 250000.0, "prio": "1-URGENT"},
        orders=load_tables(spark, sf_dir).orders,
    )


@query(
    "scalar_pipe_syntax",
    family="scalars",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_price
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        HAVING count(*) > 10
        ORDER BY o_orderpriority
    """,
)
def scalar_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same logical plan as
    the classic SELECT, written as a linear left-to-right pipeline —
    FROM |> WHERE |> AGGREGATE ... GROUP BY |> WHERE |> ORDER BY. The
    parser desugars pipes into the identical Catalyst tree, so filters
    still push to the scan and the aggregate still partials; the oracle
    being the classic spelling proves the two syntaxes are
    plan-equivalent, not merely similar."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, avg_price
        |> ORDER BY o_orderpriority
        """,
        orders=load_tables(spark, sf_dir).orders,
    )


@query(
    "scalar_collation_caseless",
    family="scalars",
    oracle="""
        SELECT count(DISTINCT lower(c_mktsegment)) AS n_caseless,
               count(DISTINCT c_mktsegment) AS n_exact,
               CAST(sum(CASE WHEN lower(c_mktsegment) = lower('Building') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_building
        FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                          ELSE lower(c_mktsegment) END AS c_mktsegment
              FROM customer)
    """,
)
def scalar_collation_caseless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): UTF8_LCASE comparisons evaluated
    natively by the collation-aware operators — caseless DISTINCT and
    caseless equality — over a deliberately case-mangled segment column.
    The oracle lowers explicitly, proving the collated semantics equal
    the normalize-then-compare plan. Collation beats lower() at scale
    because comparisons run on collation keys inside codegen instead of
    allocating a lowered copy of every row."""
    cust = load_tables(spark, sf_dir).customer
    mangled = cust.select(
        F.when(F.col("c_custkey") % 2 == 0, F.col("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg")
    )
    return spark.sql(
        """
        SELECT count(DISTINCT seg COLLATE UTF8_LCASE) AS n_caseless,
               count(DISTINCT seg) AS n_exact,
               CAST(sum(CASE WHEN seg COLLATE UTF8_LCASE = 'Building' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_building
        FROM {mangled}
        """,
        mangled=mangled,
    )


@query(
    "scalar_map_higher_order",
    family="scalars",
    oracle="""
        WITH base AS (
          SELECT event_id,
                 round(value, 2) AS lo,
                 round(value * 2, 2) AS hi
          FROM events WHERE event_id <= 250
        )
        SELECT event_id,
               CAST((CASE WHEN lo > 50 THEN 1 ELSE 0 END)
                  + (CASE WHEN hi > 50 THEN 1 ELSE 0 END) AS INT) AS n_big,
               concat(
                 CASE WHEN hi > 50 THEN 'HI:' || CAST(hi AS VARCHAR) ELSE '' END,
                 CASE WHEN hi > 50 AND lo > 50 THEN ',' ELSE '' END,
                 CASE WHEN lo > 50 THEN 'LO:' || CAST(lo AS VARCHAR) ELSE '' END
               ) AS big_entries,
               lo >= 0 AND hi >= 0 AS all_nonneg,
               lo > 90 OR hi > 90 AS any_huge
        FROM base
        ORDER BY event_id
    """,
)
def scalar_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order MAP functions — map_from_arrays, transform_keys
    (upper-case the keys), transform_values (round), map_filter (keep
    entries > 50), map_entries → sorted 'K:v' rendering — plus the array
    quantifiers forall/exists. All JVM-side lambda algebra inside
    codegen, no UDF. The oracle unrolls the two-entry map into explicit
    CASE arithmetic, so every lambda's effect on keys, values, and
    membership is hash-pinned. Floats render identically because both
    sides round to 2 decimals BEFORE stringification and the doubles are
    exact at that width."""
    e = load_tables(spark, sf_dir).events
    return (
        e.filter(F.col("event_id") <= 250)
        .select(
            "event_id",
            F.expr(
                """
                map_filter(
                  transform_values(
                    transform_keys(map_from_arrays(array('lo', 'hi'),
                                                   array(value, value * 2)),
                                   (k, v) -> upper(k)),
                    (k, v) -> round(v, 2)),
                  (k, v) -> v > 50)
                """
            ).alias("_m"),
            F.expr("round(value, 2)").alias("_lo"),
            F.expr("round(value * 2, 2)").alias("_hi"),
        )
        .select(
            "event_id",
            F.size("_m").cast("int").alias("n_big"),
            F.expr(
                """
                array_join(transform(array_sort(map_entries(_m)),
                                     e -> concat(e.key, ':', CAST(e.value AS STRING))),
                           ',')
                """
            ).alias("big_entries"),
            F.expr("forall(array(_lo, _hi), x -> x >= 0)").alias("all_nonneg"),
            F.expr("exists(array(_lo, _hi), x -> x > 90)").alias("any_huge"),
        )
        .orderBy("event_id")
    )


@query(
    "scalar_sql_udf",
    family="scalars",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
                 AS disc_revenue,
               CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                    AS DOUBLE) AS charged
        FROM lineitem
        WHERE l_quantity >= 30
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def scalar_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs (Spark 4): `CREATE TEMPORARY FUNCTION ... RETURNS ...
    RETURN expr` — named scalar functions declared in SQL and inlined by
    Catalyst into the calling plan (no Python boundary, full codegen), so
    a shared business expression (discounted price, total charge) is
    defined once and reused. The oracle expands the definitions manually,
    proving the UDF layer is pure sugar over the same plan. At scale this
    matters because SQL UDFs keep hot-path expressions JVM-side where a
    Python UDF would cost an Arrow hop per batch. The analyzed plan keeps
    the resolved bodies, so both functions are dropped once it is built."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charge(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)"
    )
    try:
        return spark.sql(
            """
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(round(sum(disc_price(l_extendedprice, l_discount)), 2) AS DOUBLE)
                     AS disc_revenue,
                   CAST(round(sum(charge(l_extendedprice, l_discount, l_tax)), 2) AS DOUBLE)
                     AS charged
            FROM {lineitem}
            WHERE l_quantity >= 30
            GROUP BY l_returnflag
            ORDER BY l_returnflag
            """,
            lineitem=load_tables(spark, sf_dir).lineitem,
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS charge")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS disc_price")


@query(
    "scalar_sql_scripting",
    family="scalars",
    oracle="""
        WITH RECURSIVE proj AS (
          SELECT 1 AS yr,
                 CAST((SELECT round(sum(o_totalprice), 2) FROM orders
                        WHERE o_orderstatus = 'O') AS DOUBLE) AS revenue
          UNION ALL
          SELECT yr + 1, CAST(round(revenue * 1.05, 2) AS DOUBLE)
          FROM proj WHERE yr < 5
        )
        SELECT yr, revenue FROM proj ORDER BY yr
    """,
    confs={"spark.sql.scripting.enabled": "true"},
)
def scalar_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4): a BEGIN...END block with DECLARE'd
    variables and a WHILE loop — procedural control flow executed by the
    engine, compounding open-order revenue 5% per simulated year. The
    oracle is the equivalent recursive CTE, proving the imperative loop
    and the declarative recursion compute the same table. Each loop
    iteration is one Catalyst-planned statement, so the script's data
    work (the initial aggregate) still runs distributed; only the scalar
    loop state lives on the driver."""
    # The script runs when spark.sql is called; its result is the last
    # statement's rows, already materialized as a local relation.
    return spark.sql(
        """
        BEGIN
          DECLARE base DOUBLE;
          DECLARE yr INT DEFAULT 1;
          DECLARE rows_acc ARRAY<STRUCT<yr: INT, revenue: DOUBLE>>
            DEFAULT array();
          SET base = (SELECT round(sum(o_totalprice), 2)
                        FROM {orders} WHERE o_orderstatus = 'O');
          WHILE yr <= 5 DO
            SET rows_acc = array_append(rows_acc,
                                        named_struct('yr', yr, 'revenue', base));
            SET base = round(base * 1.05, 2);
            SET yr = yr + 1;
          END WHILE;
          SELECT t.yr, t.revenue FROM (SELECT explode(rows_acc) AS t)
          ORDER BY t.yr;
        END
        """,
        orders=load_tables(spark, sf_dir).orders,
    ).orderBy("yr")


@query(
    "scalar_interval_arithmetic",
    family="scalars",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3mo,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
               CAST(round(12 * (year(TIMESTAMP '1998-12-01 00:00:00') - year(o_orderdate))
                    + (month(TIMESTAMP '1998-12-01 00:00:00') - month(o_orderdate))
                    + (day(TIMESTAMP '1998-12-01 00:00:00') - day(o_orderdate)) / 31.0, 4)
                 AS DOUBLE) AS months_to_ref,
               CAST(make_date(CAST(year(o_orderdate) AS INT), 12, 31) AS TIMESTAMP)
                 AS year_end,
               CAST(datediff('day', o_orderdate,
                             CAST(make_date(CAST(year(o_orderdate) AS INT), 12, 31)
                                  AS TIMESTAMP)) AS INT) AS days_left_in_year
        FROM orders
        WHERE o_orderkey <= 250
        ORDER BY o_orderkey
    """,
)
def scalar_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic: month addition (calendar-aware, not
    30-day), last_day month-end snapping, months_between fractional
    months (Spark's /31 day-fraction rule restated arithmetically in the
    oracle, since DuckDB's age() fractions differ), make_date
    construction, and end-of-year day counts. All pure codegen'd column
    expressions — interval math costs nothing at scale but is the #1
    cross-engine semantic divergence, which is exactly why it's pinned
    here."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 250)
    ref = F.lit("1998-12-01").cast("timestamp")
    year_end = F.make_date(F.year("o_orderdate"), F.lit(12), F.lit(31))
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus_3mo"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.round(F.months_between(ref, F.col("o_orderdate")), 4).alias("months_to_ref"),
        year_end.cast("timestamp").alias("year_end"),
        F.datediff(year_end, F.col("o_orderdate")).alias("days_left_in_year"),
    ).orderBy("o_orderkey")
