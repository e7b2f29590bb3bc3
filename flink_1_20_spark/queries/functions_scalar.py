"""Scalar function batteries (SURVEY.md §2.8 — BuiltInFunctionDefinitions).

One query per function family, each computing many expressions over real
table rows and oracle-checked against DuckDB (dialect differences are
resolved on the oracle side; line references are to Flink's
BuiltInFunctionDefinitions.java = BFD).

All expressions are built-in Catalyst functions — JVM-side, inside
whole-stage codegen; zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_20_spark.queries._util import T, V, canon_join
from flink_1_20_spark.registry import register


def _docs(spark, sf_dir, n=30):
    return T(spark, sf_dir, "documents").filter(F.col("doc_id") <= n)


@register(
    "fn_string_basic",
    oracle="""
    SELECT doc_id,
           length(text)                       AS n_len,
           upper(left(text, 20))              AS up20,
           lower(source)                      AS lo_src,
           substring(text, 5, 12)             AS sub512,
           trim('  ' || left(text, 8) || ' ') AS trimmed,
           ltrim('xx' || lang, 'x')           AS l_trim,
           rtrim(lang || 'yy', 'y')           AS r_trim,
           lpad(lang, 6, '*')                 AS padded_l,
           rpad(lang, 6, '*')                 AS padded_r,
           replace(left(text, 20), 'a', '@')  AS replaced,
           left(text, 6)                      AS l6,
           right(text, 6)                     AS r6,
           repeat(lang, 3)                    AS rep3,
           reverse(lang)                      AS rev,
           concat(lang, '/', source)          AS cat,
           concat_ws('-', lang, source, 'x')  AS catws,
           ascii(source)                      AS asc_s,
           chr(65 + (doc_id % 26)::INT)       AS chr_c,
           instr(text, 'the')                 AS pos_the,
           strpos(source, 'rc')               AS pos_rc
    FROM documents WHERE doc_id <= 30
    """,
)
def fn_string_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """charLength/upper/lower/substring/trim/pads/replace/left/right/
    repeat/reverse/concat/concatWs/ascii/chr/instr/position
    (BFD:851-1177)."""
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "char_length(text)                     AS n_len",
        "upper(left(text, 20))                 AS up20",
        "lower(source)                         AS lo_src",
        "substring(text, 5, 12)                AS sub512",
        "trim(concat('  ', left(text, 8), ' ')) AS trimmed",
        "ltrim('x', concat('xx', lang))        AS l_trim",
        "rtrim('y', concat(lang, 'yy'))        AS r_trim",
        "lpad(lang, 6, '*')                    AS padded_l",
        "rpad(lang, 6, '*')                    AS padded_r",
        "replace(left(text, 20), 'a', '@')     AS replaced",
        "left(text, 6)                         AS l6",
        "right(text, 6)                        AS r6",
        "repeat(lang, 3)                       AS rep3",
        "reverse(lang)                         AS rev",
        "concat(lang, '/', source)             AS cat",
        "concat_ws('-', lang, source, 'x')     AS catws",
        "ascii(source)                         AS asc_s",
        "char(65 + doc_id % 26)                AS chr_c",
        "instr(text, 'the')                    AS pos_the",
        "locate('rc', source)                  AS pos_rc",
    )


@register(
    "fn_string_regex",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2)      AS second_word,
           regexp_replace(left(text, 30), '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(text, 'spark|flink')               AS mentions_engine,
           split_part(text, ' ', 3)                          AS word3,
           string_split(left(text, 20), ' ')[1]              AS first_tok
    FROM documents WHERE doc_id <= 30
    """,
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexpExtract/regexpReplace/regexp/splitIndex/split
    (BFD:1073,1266,1255,1286,424). REGEXP is Spark's own function;
    SPLIT_INDEX goes through the SQL rewrite table. Note Spark
    regexp_replace is global by default — DuckDB needs the 'g' flag to
    match."""
    from flink_1_20_spark.functions.compat import call_sql

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace(F.left(F.col("text"), F.lit(30)), "[aeiou]", "_").alias("devoweled"),
        F.regexp("text", F.lit("spark|flink")).alias("mentions_engine"),
        call_sql("SPLIT_INDEX(text, ' ', 2)").alias("word3"),
        F.get(F.split(F.left(F.col("text"), F.lit(20)), " "), 0).alias("first_tok"),
    )


@register(
    "fn_string_advanced",
    oracle="""
    SELECT doc_id,
           left(text, 1) || 'XX' || substring(text, 2 + 3)           AS overlaid,
           levenshtein(lang, 'en')                                    AS lev_en,
           printf('%s wrote %d chars', source, n_chars)               AS msg,
           translate(left(text, 15), 'aeiou', 'AEIOU')                AS voweled_up,
           list_aggr(list_transform(string_split(left(text, 30), ' '),
                     w -> upper(w[1]) || w[2:]), 'string_agg', ' ')   AS title_cased,
           base64((lang || source)::BLOB)                             AS b64,
           decode(from_base64(base64((lang || source)::BLOB)))        AS roundtrip,
           regexp_extract('https://ex.com/d/' || source || '?q=' || doc_id || '&lang=' || lang,
                          '^[a-z]+://([^/?#]+)', 1)                   AS url_host,
           regexp_extract('https://ex.com/d/' || source || '?q=' || doc_id || '&lang=' || lang,
                          '^[a-z]+://[^/?#]+([^?#]*)', 1)             AS url_path,
           regexp_extract('https://ex.com/d/' || source || '?q=' || doc_id || '&lang=' || lang,
                          '[?&]lang=([^&#]*)', 1)                     AS url_lang
    FROM documents WHERE doc_id <= 30
    """,
)
def fn_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """overlay/levenshtein/format/translate/initcap/base64/parseUrl
    (BFD:1004,1023,859,1090,1098,1193)."""
    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://ex.com/d/"), F.col("source"), F.lit("?q="), F.col("doc_id"),
        F.lit("&lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.overlay("text", F.lit("XX"), F.lit(2), F.lit(3)).alias("overlaid"),
        F.levenshtein("lang", F.lit("en")).alias("lev_en"),
        F.format_string("%s wrote %d chars", "source", "n_chars").alias("msg"),
        F.translate(F.left(F.col("text"), F.lit(15)), "aeiou", "AEIOU").alias("voweled_up"),
        F.initcap(F.left(F.col("text"), F.lit(30))).alias("title_cased"),
        F.base64(F.concat("lang", "source").cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.concat("lang", "source").cast("binary")))
        .cast("string")
        .alias("roundtrip"),
        F.parse_url(url, F.lit("HOST")).alias("url_host"),
        F.parse_url(url, F.lit("PATH")).alias("url_path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("url_lang"),
    )


@register(
    "fn_math_basic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05)                    AS a,
           CAST(ceil(l_quantity / 7) AS BIGINT)      AS c,
           CAST(floor(l_quantity / 7) AS BIGINT)     AS f,
           round(l_extendedprice / 1000, 1)          AS r1,
           round(exp(l_discount), 8)                 AS ex,
           round(ln(l_extendedprice), 8)             AS lnp,
           round(log10(l_extendedprice), 8)          AS lg10,
           round(log2(l_quantity + 1), 8)            AS lg2,
           round(log(2, l_quantity + 2), 8)          AS lgb,
           round(power(l_quantity, 1.5), 6)          AS pw,
           round(sqrt(l_extendedprice), 8)           AS sq,
           round(cbrt(l_quantity), 8)                AS cb,
           mod(l_orderkey, 7)                        AS md,
           CAST(sign(l_discount - 0.05) AS DOUBLE)   AS sg
    FROM lineitem WHERE l_orderkey <= 300
    """,
)
def fn_math_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/ceil/floor/round/exp/ln/log10/log2/log(b,x)/power/sqrt/cbrt/
    mod/sign (BFD:1481-1723). Transcendentals rounded on both sides —
    libm ulp differences are real across engines."""
    return (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 300)
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "abs(l_discount - 0.05)              AS a",
            "ceil(l_quantity / 7)                AS c",
            "floor(l_quantity / 7)               AS f",
            "round(l_extendedprice / 1000, 1)    AS r1",
            "round(exp(l_discount), 8)           AS ex",
            "round(ln(l_extendedprice), 8)       AS lnp",
            "round(log10(l_extendedprice), 8)    AS lg10",
            "round(log2(l_quantity + 1), 8)      AS lg2",
            "round(log(2, l_quantity + 2), 8)    AS lgb",
            "round(power(l_quantity, 1.5), 6)    AS pw",
            "round(sqrt(l_extendedprice), 8)     AS sq",
            "round(cbrt(l_quantity), 8)          AS cb",
            "mod(l_orderkey, 7)                  AS md",
            "double(sign(l_discount - 0.05))     AS sg",
        )
    )


@register(
    "fn_math_trig",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(sin(l_discount), 10)            AS s,
           round(cos(l_discount), 10)            AS co,
           round(tan(l_discount), 10)            AS t,
           round(asin(l_discount * 5), 10)       AS asn,
           round(acos(l_discount * 5), 10)       AS acs,
           round(atan(l_quantity), 10)           AS at,
           round(atan2(l_quantity, 7), 10)       AS at2,
           round((exp(l_discount) - exp(-l_discount)) / 2, 10) AS sh,
           round((exp(l_discount) + exp(-l_discount)) / 2, 10) AS ch,
           round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 10) AS th,
           round(degrees(l_discount), 10)        AS dg,
           round(radians(l_quantity), 10)        AS rd,
           round(pi(), 10)                       AS p,
           round(exp(1), 10)                     AS eu
    FROM lineitem WHERE l_orderkey <= 300
    """,
)
def fn_math_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trig family + degrees/radians/pi/e (BFD:1616-1752)."""
    return (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 300)
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "round(sin(l_discount), 10)          AS s",
            "round(cos(l_discount), 10)          AS co",
            "round(tan(l_discount), 10)          AS t",
            "round(asin(l_discount * 5), 10)     AS asn",
            "round(acos(l_discount * 5), 10)     AS acs",
            "round(atan(l_quantity), 10)         AS at",
            "round(atan2(l_quantity, 7), 10)     AS at2",
            "round(sinh(l_discount), 10)         AS sh",
            "round(cosh(l_discount), 10)         AS ch",
            "round(tanh(l_discount), 10)         AS th",
            "round(degrees(l_discount), 10)      AS dg",
            "round(radians(l_quantity), 10)      AS rd",
            "round(pi(), 10)                     AS p",
            "round(e(), 10)                      AS eu",
        )
    )


@register(
    "fn_math_misc",
    oracle="""
    SELECT p_partkey,
           factorial((p_size % 8)::INTEGER)::BIGINT         AS fact,
           bin(p_size)                                       AS b,
           hex(p_partkey)                                    AS hx,
           CASE WHEN p_retailprice >= 0
                THEN floor(p_retailprice * 10) / 10
                ELSE ceil(p_retailprice * 10) / 10 END       AS trunc1,
           greatest(p_size, 25, (p_partkey % 40)::INT)       AS gr,
           least(p_size, 25, (p_partkey % 40)::INT)          AS ls
    FROM part WHERE p_partkey <= 300
    """,
)
def fn_math_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """factorial/bin/hex/TRUNCATE/greatest/least (BFD:1783-1802,688,698).
    TRUNCATE goes through the SQL rewrite table (Spark trunc() is
    date-only)."""
    from flink_1_20_spark.functions.compat import call_sql

    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.factorial(F.col("p_size") % 8).alias("fact"),
        F.bin("p_size").alias("b"),
        F.hex("p_partkey").alias("hx"),
        call_sql("TRUNCATE(p_retailprice, 1)").alias("trunc1"),
        F.greatest(F.col("p_size"), F.lit(25), (F.col("p_partkey") % 40).cast("int")).alias("gr"),
        F.least(F.col("p_size"), F.lit(25), (F.col("p_partkey") % 40).cast("int")).alias("ls"),
    )


@register(
    "fn_temporal_extract",
    oracle="""
    SELECT event_id,
           year(ts)                   AS y,
           quarter(ts)                AS q,
           month(ts)                  AS mo,
           day(ts)                    AS d,
           hour(ts)                   AS h,
           minute(ts)                 AS mi,
           extract(second FROM ts)    AS sec,
           dayofweek(ts) + 1          AS dow,
           dayofyear(ts)              AS doy,
           week(ts)                   AS woy,
           date_trunc('day', ts)::TIMESTAMP  AS trunc_day,
           date_trunc('hour', ts)::TIMESTAMP AS trunc_hour,
           last_day(ts::DATE)         AS eom
    FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    """,
)
def fn_temporal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract family + dateTrunc + lastDay (BFD:1831; FlinkSqlOperatorTable
    EXTRACT). DuckDB dow is 0-based Sunday; Spark dayofweek is 1-based."""
    e = T(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-03")
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("sec"),
        F.dayofweek("ts").alias("dow"),
        F.dayofyear("ts").alias("doy"),
        F.weekofyear("ts").alias("woy"),
        F.date_trunc("day", "ts").alias("trunc_day"),
        F.date_trunc("hour", "ts").alias("trunc_hour"),
        F.last_day(F.col("ts").cast("date")).alias("eom"),
    )


@register(
    "fn_temporal_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate::DATE + 30                                  AS plus30d,
           o_orderdate::DATE - 7                                   AS minus7d,
           (o_orderdate + INTERVAL 3 MONTH)::DATE                  AS plus3mo,
           date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_to_2002,
           o_orderdate + INTERVAL 36 HOUR                          AS plus36h,
           make_date(2024, (o_orderkey % 12 + 1)::INT, 15)         AS made
    FROM orders WHERE o_orderkey <= 300
    """,
)
def fn_temporal_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_add/date_sub/add_months/datediff/interval arith/make_date
    (temporal ops, BFD:1323 plus/minus on temporal types)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30d"),
        F.date_sub(F.col("o_orderdate").cast("date"), 7).alias("minus7d"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus3mo"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 36 HOURS")).alias("plus36h"),
        F.make_date(F.lit(2024), (F.col("o_orderkey") % 12 + 1).cast("int"), F.lit(15)).alias(
            "made"
        ),
    )


@register(
    "fn_temporal_format",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S')                    AS fmt_full,
           strftime(ts, '%Y/%m')                                AS fmt_ym,
           floor(epoch(ts))::BIGINT                             AS unix_sec,
           strftime(make_timestamp(floor(epoch(ts))::BIGINT * 1000000),
                    '%Y-%m-%d %H:%M:%S')                        AS from_unix,
           strptime('2024-03-15 08:30:00', '%Y-%m-%d %H:%M:%S') AS parsed,
           '2024-03-15'::DATE                                   AS to_d,
           ts::DATE                                             AS cast_d
    FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    """,
)
def fn_temporal_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dateFormat/unixTimestamp/fromUnixtime/toDate/toTimestamp
    (BFD:1916-2014)."""
    e = T(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-03")
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("fmt_full"),
        F.date_format("ts", "yyyy/MM").alias("fmt_ym"),
        F.unix_timestamp("ts").alias("unix_sec"),
        F.from_unixtime(F.unix_timestamp("ts")).alias("from_unix"),
        F.to_timestamp(F.lit("2024-03-15 08:30:00"), "yyyy-MM-dd HH:mm:ss").alias("parsed"),
        F.to_date(F.lit("2024-03-15")).alias("to_d"),
        F.col("ts").cast("date").alias("cast_d"),
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'high'
                ELSE 'top' END                              AS bal_band,
           if(c_acctbal > 5000, 'rich', 'normal')           AS iff,
           nullif(c_mktsegment, 'MACHINERY')                AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), '?') AS seg_coal,
           ifnull(nullif(c_nationkey, 0), -1)               AS nk_nvl,
           CASE WHEN nullif(c_mktsegment,'BUILDING') IS NULL THEN 'b' ELSE 'x' END AS nvl2_emul,
           try_cast(c_name AS INT)                          AS bad_cast,
           try_cast(c_custkey::VARCHAR AS INT)              AS good_cast,
           c_custkey::VARCHAR                               AS key_str,
           CAST(trunc(c_acctbal) AS INT)                    AS bal_int,
           c_acctbal BETWEEN 1000 AND 2000                  AS in_band,
           c_mktsegment IN ('BUILDING', 'AUTOMOBILE')       AS in_set,
           isnan(c_acctbal / nullif(c_acctbal, c_acctbal))  IS NULL AS div_null
    FROM customer WHERE c_custkey <= 300
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/ifThenElse/nullif/coalesce/ifnull/nvl2/cast/tryCast/between/in
    (BFD:525,135,221,2491,2501,656,2482). Spark double→int cast truncates
    while DuckDB rounds — the oracle truncs explicitly."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 9000, "high")
        .otherwise("top")
        .alias("bal_band"),
        F.when(F.col("c_acctbal") > 5000, "rich").otherwise("normal").alias("iff"),
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg_or_null"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("?")).alias(
            "seg_coal"
        ),
        F.ifnull(F.nullif(F.col("c_nationkey"), F.lit(0)), F.lit(-1)).alias("nk_nvl"),
        F.nvl2(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("x"), F.lit("b")).alias(
            "nvl2_emul"
        ),
        F.expr("try_cast(c_name AS int)").alias("bad_cast"),
        F.expr("try_cast(cast(c_custkey AS string) AS int)").alias("good_cast"),
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_acctbal").cast("int").alias("bal_int"),
        F.col("c_acctbal").between(1000, 2000).alias("in_band"),
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").alias("in_set"),
        F.try_divide(F.col("c_acctbal"), F.lit(0.0)).isNull().alias("div_null"),
    )


_ARR = "string_split(text, ' ')"


@register(
    "fn_array_basic",
    oracle=f"""
    SELECT doc_id,
           len({_ARR})                                        AS n_words,
           ({_ARR})[1]                                        AS first_w,
           ({_ARR})[3]                                        AS third_w,
           list_contains({_ARR}, 'spark')                     AS has_spark,
           coalesce(list_position({_ARR}, 'the'), 0)          AS pos_the,
           coalesce(array_to_string(list_sort(list_distinct({_ARR})), ','), '')
                                                              AS uniq_sorted,
           list_sort({_ARR}, 'DESC')[1]                       AS max_word,
           list_max({_ARR})                                   AS mx,
           list_min({_ARR})                                   AS mn,
           array_to_string(list_sort(list_distinct({_ARR})), '|') AS joined,
           coalesce(array_to_string(array_slice({_ARR}, 2, 4), ','), '')
                                                              AS middle,
           list_reverse({_ARR})[1]                            AS last_w
    FROM documents WHERE doc_id <= 20
    """,
)
def fn_array_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cardinality/element at/ARRAY_CONTAINS/POSITION/DISTINCT/SORT/MAX/
    MIN/JOIN/SLICE/REVERSE (BFD:231-2071)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 20)
    arr = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(arr).alias("n_words"),
        F.element_at(arr, 1).alias("first_w"),
        F.element_at(arr, 3).alias("third_w"),
        F.array_contains(arr, "spark").alias("has_spark"),
        F.array_position(arr, "the").alias("pos_the"),
        F.array_join(F.array_sort(F.array_distinct(arr)), ",").alias("uniq_sorted"),
        F.element_at(F.sort_array(arr, asc=False), 1).alias("max_word"),
        F.array_max(arr).alias("mx"),
        F.array_min(arr).alias("mn"),
        F.array_join(F.array_sort(F.array_distinct(arr)), "|").alias("joined"),
        F.array_join(F.slice(arr, 2, 3), ",").alias("middle"),
        F.element_at(F.reverse(arr), 1).alias("last_w"),
    )


@register(
    "fn_array_setops",
    oracle=f"""
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(
               list_concat(list_append({_ARR}, 'zzz'), ['spark', 'xx']))), ','), '')
             AS unioned,
           coalesce(array_to_string(list_sort(
               list_intersect({_ARR}, ['spark', 'table', 'query', 'nosuch'])), ','), '')
             AS intersected,
           coalesce(array_to_string(list_sort(list_distinct(list_filter({_ARR},
                     w -> NOT list_contains(['the', 'a', 'value'], w)))), ','), '')
             AS excepted,
           coalesce(array_to_string(list_sort(
               list_distinct(list_filter({_ARR}, w -> w <> 'the'))), ','), '')
             AS removed,
           coalesce(array_to_string(
               list_prepend('HEAD', array_slice({_ARR}, 1, 3)), ','), '') AS prepended,
           coalesce(array_to_string(
               list_append(array_slice({_ARR}, 1, 3), 'TAIL'), ','), '')  AS appended,
           list_has_any({_ARR}, ['spark', 'flink'])          AS overlaps,
           coalesce(array_to_string(
               flatten([array_slice({_ARR}, 1, 2), ['x', 'y']]), ','), '') AS flat
    FROM documents WHERE doc_id <= 20
    """,
)
def fn_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_UNION/INTERSECT/EXCEPT/REMOVE/PREPEND/APPEND/CONCAT/FLATTEN
    + arrays_overlap (BFD:231-476). Set results sorted on both sides —
    the engines' internal orderings differ."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 20)
    arr = F.split("text", " ")
    head3 = F.slice(arr, 1, 3)
    return d.select(
        "doc_id",
        F.array_join(
            F.array_sort(
                F.array_union(
                    F.array_append(arr, "zzz"), F.array(F.lit("spark"), F.lit("xx"))
                )
            ),
            ",",
        ).alias("unioned"),
        F.array_join(
            F.array_sort(
                F.array_intersect(
                    arr,
                    F.array(F.lit("spark"), F.lit("table"), F.lit("query"), F.lit("nosuch")),
                )
            ),
            ",",
        ).alias("intersected"),
        F.array_join(
            F.array_sort(
                F.array_except(arr, F.array(F.lit("the"), F.lit("a"), F.lit("value")))
            ),
            ",",
        ).alias("excepted"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_remove(arr, "the"))), ","
        ).alias("removed"),
        F.array_join(F.array_prepend(head3, "HEAD"), ",").alias("prepended"),
        F.array_join(F.array_append(head3, "TAIL"), ",").alias("appended"),
        F.arrays_overlap(arr, F.array(F.lit("spark"), F.lit("flink"))).alias("overlaps"),
        F.array_join(
            F.flatten(F.array(F.slice(arr, 1, 2), F.array(F.lit("x"), F.lit("y")))), ","
        ).alias("flat"),
    )


@register(
    "fn_array_higher_order",
    oracle=f"""
    SELECT doc_id,
           coalesce(array_to_string(
               list_transform(array_slice({_ARR}, 1, 4), w -> upper(w)), ','), '')
                                                                            AS upped,
           coalesce(array_to_string(
               list_filter({_ARR}, w -> length(w) > 5), ','), '')           AS longwords,
           len(list_filter({_ARR}, w -> w = 'the')) > 0                     AS any_the,
           len(list_filter({_ARR}, w -> length(w) >= 1)) = len({_ARR})      AS all_nonempty,
           list_sum(list_transform({_ARR}, w -> length(w)))::BIGINT         AS total_chars,
           coalesce(array_to_string(range(1, ((doc_id % 4) + 2)::BIGINT), ','), '')
                                                                            AS seq
    FROM documents WHERE doc_id <= 20
    """,
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform/filter/exists/forall/aggregate/sequence — Flink's array
    lambdas arrive via Calcite (FlinkSqlOperatorTable); Spark's
    higher-order functions are the 1:1 match."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 20)
    arr = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice(arr, 1, 4), lambda w: F.upper(w)), ","
        ).alias("upped"),
        F.array_join(F.filter(arr, lambda w: F.length(w) > 5), ",").alias(
            "longwords"
        ),
        F.exists(arr, lambda w: w == "the").alias("any_the"),
        F.forall(arr, lambda w: F.length(w) >= 1).alias("all_nonempty"),
        F.aggregate(arr, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)).alias(
            "total_chars"
        ),
        canon_join(
            F.sequence(F.lit(1).cast("long"), (F.col("doc_id") % 4 + 1).cast("long"))
        ).alias("seq"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                 AS k_str,
           json_extract(props, '$.k')::INT                   AS k_int,
           json_valid(props)                                 AS valid,
           CAST(json_array_length('[1,2,3,' || (event_id % 5) || ']')
                AS BIGINT)                                   AS arr_len,
           CAST(json_object('uid', user_id, 'et', event_type)
                AS VARCHAR)                                  AS obj,
           json_extract_string('{"a": {"b": "deep"}}', '$.a.b') AS nested
    FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (BFD:2324-2455 IS_JSON/JSON_VALUE/JSON_OBJECT/...).
    Spark maps via get_json_object/from_json/to_json; SQL/JSON path
    semantics normalized by extracting scalars."""
    e = T(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-02")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.expr("try_parse_json(props) IS NOT NULL").alias("valid"),
        F.json_array_length(
            F.concat(F.lit("[1,2,3,"), (F.col("event_id") % 5).cast("string"), F.lit("]"))
        )
        .cast("long")
        .alias("arr_len"),
        F.to_json(F.struct(F.col("user_id").alias("uid"), F.col("event_type").alias("et"))).alias(
            "obj"
        ),
        F.get_json_object(F.lit('{"a": {"b": "deep"}}'), "$.a.b").alias("nested"),
    )


@register(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text)                       AS h_md5,
           sha256(text)                    AS h_sha256,
           md5(lang || '|' || source)      AS h_key
    FROM documents WHERE doc_id <= 50
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5/sha2 (BFD:2151-2199). sha1/sha384/sha512 exist in Spark but
    not DuckDB — covered by known-answer tests in tests/ instead."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
        F.md5(F.concat("lang", F.lit("|"), "source")).alias("h_key"),
    )


@register(
    "fn_time_type",
    oracle="""
    SELECT event_id,
           (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000 AS tod_nanos,
           CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000
                // 3600000000000 AS INT) AS tod_hour,
           CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000
                // 60000000000 % 60 AS INT) AS tod_minute,
           CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000
                // 1000000000 % 60 AS INT) AS tod_second
    FROM events
    WHERE event_id <= 500
    """,
)
def fn_time_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME(p) emulation (SURVEY.md §1.2 — Spark lacks TimeType; Flink
    DataTypes.TIME, nano-of-day long): time-of-day as BIGINT nanos +
    HOUR/MINUTE/SECOND extraction, all JVM-side arithmetic."""
    from flink_1_20_spark.functions.compat import (
        time_hour,
        time_minute,
        time_of_day_nanos,
        time_second,
    )

    e = T(spark, sf_dir, "events").filter(F.col("event_id") <= 500)
    nanos = time_of_day_nanos("ts")
    return e.select(
        "event_id",
        nanos.alias("tod_nanos"),
        time_hour(nanos).alias("tod_hour"),
        time_minute(nanos).alias("tod_minute"),
        time_second(nanos).alias("tod_second"),
    )


@register(
    "fn_json_path",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"user":{"id":' || user_id || ',"tags":["' || event_type ||
             '","t2"]},"k":' || json_extract_string(props, '$.k') || '}' AS js
      FROM events WHERE event_id <= 300)
    SELECT event_id,
           json_extract(js, '$.k') IS NOT NULL        AS ex_k,
           json_extract(js, '$.missing') IS NOT NULL  AS ex_missing,
           CAST(json_extract_string(js, '$.k') AS INT) AS v_k,
           CASE WHEN json_type(js, '$.user') IN ('OBJECT', 'ARRAY') THEN NULL
                ELSE json_extract_string(js, '$.user') END AS v_user,
           json_extract_string(js, '$.user.tags[0]')  AS v_tag,
           CASE WHEN json_type(js, '$.user') IN ('OBJECT', 'ARRAY')
                THEN CAST(json_extract(js, '$.user') AS VARCHAR) END AS q_user,
           '[' || json_extract_string(js, '$.k') || ']' AS q_k_wrap,
           '["' || json_extract_string(js, '$.user.tags[0]') || '"]' AS q_tag_wrap,
           CASE WHEN json_type(js, '$.k') IN ('OBJECT', 'ARRAY')
                THEN CAST(json_extract(js, '$.k') AS VARCHAR) END AS q_scalar_without
    FROM j
    """,
)
def fn_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL/JSON path family (BFD:2339 JSON_EXISTS, :2361 JSON_VALUE,
    :2379 JSON_QUERY) with lax/strict path prefixes, RETURNING casts,
    scalar-vs-structured discipline, and array wrappers — the SQL
    rewrite table's forms (sql_flink._BUILTIN_REWRITES) compiled to
    get_json_object (JVM-side). The oracle recomputes each behavior with
    DuckDB's json_extract/json_type primitives."""
    from flink_1_20_spark.functions.compat import call_sql

    e = T(spark, sf_dir, "events").filter(F.col("event_id") <= 300)
    js = F.concat(
        F.lit('{"user":{"id":'),
        F.col("user_id").cast("string"),
        F.lit(',"tags":["'),
        F.col("event_type"),
        F.lit('","t2"]},"k":'),
        F.get_json_object("props", "$.k"),
        F.lit("}"),
    )
    d = e.select("event_id", js.alias("js"))
    return d.select(
        "event_id",
        call_sql("JSON_EXISTS(js, 'lax $.k')").alias("ex_k"),
        call_sql("JSON_EXISTS(js, '$.missing')").alias("ex_missing"),
        call_sql("JSON_VALUE(js, 'lax $.k' RETURNING INT)").alias("v_k"),
        call_sql("JSON_VALUE(js, 'lax $.user')").alias("v_user"),
        call_sql("JSON_VALUE(js, 'strict $.user.tags[0]')").alias("v_tag"),
        call_sql("JSON_QUERY(js, '$.user')").alias("q_user"),
        call_sql(
            "JSON_QUERY(js, '$.k' WITH UNCONDITIONAL ARRAY WRAPPER)"
        ).alias("q_k_wrap"),
        call_sql(
            "JSON_QUERY(js, '$.user.tags[0]' WITH UNCONDITIONAL ARRAY WRAPPER)"
        ).alias("q_tag_wrap"),
        call_sql("JSON_QUERY(js, '$.k')").alias("q_scalar_without"),
    )


_FLINK_NAMES_ORACLE = """
SELECT event_id,
       split_part(event_type, 'i', 1) AS before_i,
       to_base64(encode(event_type)) AS b64,
       trunc(value * 100) / 100 AS trunc2,
       (json_extract_string(props, '$.k') IS NOT NULL) AS has_k,
       CASE WHEN substring(json_extract_string(props, '$.k'), 1, 1)
                 IN ('{', '[') THEN NULL
            ELSE json_extract_string(props, '$.k') END AS k_val
FROM events WHERE event_id <= 500
"""


@register("fn_flink_names", oracle=_FLINK_NAMES_ORACLE)
def fn_flink_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Flink-named builtins Spark lacks, exercised through the SQL
    DIALECT rewrite path (sql_flink.rewrite_flink_builtins) rather than
    the library shims — SPLIT_INDEX (literal delimiter), TO_BASE64,
    TRUNCATE, JSON_EXISTS/JSON_VALUE — against DuckDB's native
    equivalents (split_part is 1-based; Flink's SPLIT_INDEX is
    0-based)."""
    from flink_1_20_spark.sql_ddl import TableEnvironment

    V(spark, sf_dir, "events")
    env = TableEnvironment(spark)
    return env.execute_sql("""
        SELECT event_id,
               SPLIT_INDEX(event_type, 'i', 0) AS before_i,
               TO_BASE64(CAST(event_type AS BINARY)) AS b64,
               TRUNCATE(`value`, 2) AS trunc2,
               JSON_EXISTS(props, 'lax $.k') AS has_k,
               JSON_VALUE(props, '$.k') AS k_val
        FROM events WHERE event_id <= 500
    """)


_BUILTIN_TAIL_ORACLE = """
SELECT event_id,
       CAST(event_id AS VARCHAR) AS stm_a,
       event_type || ',x' AS ac,
       'q,' || event_type || ',p' AS ar,
       array_to_string(
           list_slice(['a','b','c','d','e'], 1 + (event_id % 3), 4), ','
       ) AS asl,
       CAST(event_id % 5 AS BIGINT) AS mu,
       '["' || event_type || '","z"]' AS ja,
       '{"t":"' || event_type || '","n":null}' AS jo,
       CAST(event_id AS VARCHAR) AS js,
       event_type AS jq,
       (event_id % 2 = 0) AS ij,
       ((event_id % 3) <= 1) AS ov
FROM events WHERE event_id <= 500
"""


@register("fn_builtin_tail", oracle=_BUILTIN_TAIL_ORACLE)
def fn_builtin_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r7 builtin-tail batch through the SQL dialect
    (sql_flink.rewrite_flink_builtins): bracket collection literals,
    STR_TO_MAP with Flink's '=' default, ARRAY_CONCAT/REVERSE/SLICE
    (inclusive end, modulo-driven start), MAP_UNION (last map wins on
    duplicate keys), the JSON constructor family with their ON NULL
    defaults, JSON_QUOTE/UNQUOTE round-trip, the IS JSON predicate,
    and SQL-standard row-syntax OVERLAPS over the event timestamps
    (offsets 0/40/80 minutes against a 1-hour period — the 80-minute
    start clears the period, so overlap is (event_id % 3) <= 1).
    DuckDB replays each result from its algebraic ground truth
    (list_slice is 1-based inclusive, matching Flink's ARRAY_SLICE)."""
    from flink_1_20_spark.sql_ddl import TableEnvironment

    V(spark, sf_dir, "events")
    env = TableEnvironment(spark)
    return env.execute_sql("""
        SELECT event_id,
               STR_TO_MAP(
                   concat('a=', CAST(event_id AS STRING), ',b=2')
               )['a'] AS stm_a,
               concat_ws(',', ARRAY_CONCAT(ARRAY[event_type], ARRAY['x'])) AS ac,
               concat_ws(',', ARRAY_REVERSE(ARRAY['p', event_type, 'q'])) AS ar,
               concat_ws(',', ARRAY_SLICE(ARRAY['a','b','c','d','e'],
                                          1 + CAST(event_id % 3 AS INT), 4)) AS asl,
               CAST(MAP_UNION(MAP['k', CAST(1 AS BIGINT)],
                              MAP['k', event_id % 5])['k'] AS BIGINT) AS mu,
               JSON_ARRAY(event_type, CAST(NULL AS STRING), 'z') AS ja,
               JSON_OBJECT('t' VALUE event_type,
                           'n' VALUE CAST(NULL AS STRING)) AS jo,
               JSON_STRING(event_id) AS js,
               JSON_UNQUOTE(JSON_QUOTE(event_type)) AS jq,
               maybe_json IS JSON AS ij,
               (ts, ts + INTERVAL '1' HOUR) OVERLAPS
                 (timestampadd(MINUTE, 40 * CAST(event_id % 3 AS INT), ts),
                  timestampadd(MINUTE, 40 * CAST(event_id % 3 AS INT) + 60, ts)) AS ov
        FROM (
            SELECT *,
                   CASE WHEN event_id % 2 = 0 THEN props
                        ELSE 'not json' END AS maybe_json
            FROM events
        ) WHERE event_id <= 500
    """)
