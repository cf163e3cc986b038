"""Scalar function families (SURVEY §2B 'Scalar function families').

Everything here is a built-in ``pyspark.sql.functions`` expression —
JVM-side, inside whole-stage codegen, zero Python in the row path.
Dialect notes vs the DuckDB oracle are inline (dayofweek origin,
date_trunc return type, epoch fractional seconds, etc.).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import load
from tile_etl_spark.registry import query


@query(
    "q_str_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up,
           lower(p_brand) AS lo,
           substring(p_name, 1, 5) AS sub5,
           trim('  ' || p_name || ' ') AS trimmed,
           CAST(length(p_name) AS INT) AS len,
           concat(p_brand, ':', p_type) AS cat,
           replace(p_name, ' ', '_') AS repl,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           string_split(p_name, ' ')[1] AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel
    FROM part
    """,
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family. Note DuckDB regexp_replace needs the 'g' flag to
    match Spark's replace-all semantics."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias(
            "trimmed"
        ),
        F.length("p_name").cast("int").alias("len"),
        F.concat("p_brand", F.lit(":"), "p_type").alias("cat"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("repl"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", r"[aeiou]", "*").alias("devowel"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(CAST(o_orderdate AS DATE) - DATE '1997-01-01' AS INT) AS days_since,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           last_day(o_orderdate) AS month_end,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family. Dialect: Spark dayofweek is 1=Sunday, DuckDB
    0=Sunday (+1 on the oracle side); Spark date_trunc returns
    TIMESTAMP (cast to DATE); DuckDB epoch() is fractional (floor)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1997-01-01").cast("date")
        ).cast("int").alias("days_since"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
        F.last_day("o_orderdate").alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "q_str_funcs2",
    oracle="""
    SELECT p_partkey,
           reverse(p_name) AS rev,
           repeat(p_brand, 2) AS brand2,
           CAST(strpos(p_name, ' ') AS INT) AS space_at,
           translate(p_name, 'aeiou', '_____') AS masked,
           CAST(levenshtein(p_name, p_type) AS INT) AS edit_dist,
           split_part(p_name, ' ', 2) AS second_word,
           left(p_name, 4) AS first4,
           right(p_name, 4) AS last4,
           contains(p_name, 'bolt') AS has_bolt,
           starts_with(p_type, 'PROMO') AS is_promo,
           ends_with(p_name, 'nut') AS is_nut
    FROM part
    """,
)
def q_str_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family: reverse/repeat/instr/translate/
    levenshtein/split_part/left/right/contains/starts/ends — including
    edit distance, the classic fuzzy-matching kernel."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse("p_name").alias("rev"),
        F.repeat("p_brand", 2).alias("brand2"),
        F.instr("p_name", " ").cast("int").alias("space_at"),
        F.translate("p_name", "aeiou", "_____").alias("masked"),
        F.levenshtein("p_name", "p_type").cast("int").alias("edit_dist"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias(
            "second_word"
        ),
        F.expr("left(p_name, 4)").alias("first4"),
        F.expr("right(p_name, 4)").alias("last4"),
        F.contains("p_name", F.lit("bolt")).alias("has_bolt"),
        F.startswith(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
        F.endswith(F.col("p_name"), F.lit("nut")).alias("is_nut"),
    )


@query(
    "q_date_funcs2",
    oracle="""
    SELECT o_orderkey,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(weekofyear(o_orderdate) AS INT) AS woy,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
           make_date(CAST(year(o_orderdate) AS INT), 1, 1) AS year_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INT) AS days_95
    FROM orders
    """,
)
def q_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date family: quarter, ISO week, add_months (both engines
    clamp to month end), make_date, day diff from an epoch date."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.weekofyear("o_orderdate").cast("int").alias("woy"),
        F.add_months(F.col("o_orderdate").cast("date"), 2).alias("plus2m"),
        F.make_date(F.year("o_orderdate"), F.lit(1), F.lit(1)).alias(
            "year_start"
        ),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("int").alias("days_95"),
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25) AS abs_dev,
           CAST(ceil(l_discount * 100) AS BIGINT) AS ceil_disc,
           CAST(floor(l_discount * 100) AS BIGINT) AS floor_disc,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           round(ln(l_quantity + 1), 6) AS ln_qty,
           round(exp(l_discount), 6) AS exp_disc,
           pow(l_quantity, 2) AS qty_sq,
           CAST(sign(l_quantity - 25) AS INT) AS sgn,
           CAST((CAST(l_quantity AS BIGINT) % 7 + 7) % 7 AS BIGINT) AS qty_pmod7,
           CAST(CAST(l_quantity AS BIGINT) // 7 AS BIGINT) AS qty_div7
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. Transcendentals (ln/exp) round to 6 dp — JVM
    intrinsics and libm can differ in the final ulp; sqrt/pow on small
    ints are exact IEEE and compare raw via round's no-op. pmod is
    spelled ((x % n) + n) % n for DuckDB."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(qty - 25).alias("abs_dev"),
        F.ceil(F.col("l_discount") * 100).cast("bigint").alias("ceil_disc"),
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("floor_disc"),
        F.round(F.sqrt(qty), 6).alias("sqrt_qty"),
        F.round(F.log(qty + 1), 6).alias("ln_qty"),
        F.round(F.exp("l_discount"), 6).alias("exp_disc"),
        F.pow(qty, 2).alias("qty_sq"),
        # INT both sides: Spark signum is DOUBLE, DuckDB sign is TINYINT
        # — the driver's pandas canonicalizer hashes 1.0 != 1 (r2 red).
        F.signum(qty - 25).cast("int").alias("sgn"),
        F.pmod(qty.cast("bigint"), 7).cast("bigint").alias("qty_pmod7"),
        F.expr("CAST(l_quantity AS BIGINT) div 7").cast("bigint").alias(
            "qty_div7"
        ),
    )


@query(
    "q_cond_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           CAST(least(CAST(o_totalprice AS DECIMAL(18,2)), 150000.00)
                AS DOUBLE) AS capped,
           greatest(CAST(o_custkey AS BIGINT), 100) AS floored_key,
           (CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END) AS urgent
    FROM orders
    """,
)
def q_cond_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: CASE WHEN chains, coalesce/nullif,
    least/greatest (both engines skip NULLs), if-as-case."""
    o = load(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp > 200000, "big")
        .when(tp > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_or_open"),
        # Money math in DECIMAL, EMITTED as DOUBLE (SURVEY §5.3): the
        # driver's pandas path gets Decimal objects from Spark but
        # float64 from DuckDB, which hash-mismatch (r2 red).
        F.least(
            F.col("o_totalprice").cast("decimal(18,2)"),
            F.lit("150000.00").cast("decimal(18,2)"),
        )
        .cast("double")
        .alias("capped"),
        F.greatest(F.col("o_custkey").cast("bigint"), F.lit(100).cast("bigint")).alias(
            "floored_key"
        ),
        F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0).alias(
            "urgent"
        ),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT doc_id,
           array_to_string(string_split(text, ' '), ',') AS words,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           list_contains(string_split(text, ' '), 'data') AS has_data,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                           ',') AS uniq_words,
           array_to_string(string_split(text, ' ')[1:3], ',') AS first3,
           array_to_string(flatten([string_split(text, ' ')[1:2],
                                    string_split(text, ' ')[1:2]]),
                           ',') AS doubled
    FROM documents
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over tokenized text. list_distinct order is
    undefined in both engines — always sort before comparing. Every
    array-typed result is emitted as a ','-joined STRING (same
    convention as q_agg_collect): the driver harness canonicalizes
    through pandas ``sort_values``, which cannot hash list cells — the
    string form exercises the same array kernels with hashable output.
    Tokens are single words (no commas), so the join is lossless."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_join(words, ",").alias("words"),
        F.size(words).cast("int").alias("n_words"),
        F.array_contains(words, "data").alias("has_data"),
        F.array_join(F.array_sort(F.array_distinct(words)), ",").alias(
            "uniq_words"
        ),
        F.array_join(F.slice(words, 1, 3), ",").alias("first3"),
        F.array_join(
            F.flatten(F.array(F.slice(words, 1, 2), F.slice(words, 1, 2))),
            ",",
        ).alias("doubled"),
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT doc_id, 'lang,source' AS ks, lang || ',' || source AS vs,
           lang AS lang, 'lang' AS k, lang AS v
    FROM documents
    UNION ALL
    SELECT doc_id, 'lang,source', lang || ',' || source,
           lang, 'source', source
    FROM documents
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build a map from scratch, then round-trip
    keys/values/element_at/explode. All map-typed intermediates are
    emitted as scalar columns (','-joined keys/values, exploded k/v
    rows) — the driver harness canonicalizes through pandas, which
    cannot hash list/map cells. The oracle reconstructs the exploded
    ground truth with a plain UNION ALL (DuckDB's MAP dialect differs;
    the oracle's job is ground truth, not mirroring the operator).
    Upgraded R→H in round 3 now that the output is all-scalar."""
    d = load(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    df = d.select("doc_id", m.alias("meta"))
    return df.select(
        "doc_id",
        F.array_join(F.map_keys("meta"), ",").alias("ks"),
        F.array_join(F.map_values("meta"), ",").alias("vs"),
        F.element_at("meta", "lang").alias("lang"),
        F.explode("meta").alias("k", "v"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) IS NULL
                THEN NULL
                ELSE CAST(to_json(struct_pack(
                       k := CAST(json_extract_string(props, '$.k') AS INT)))
                     AS VARCHAR) END AS rejson
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: path extraction (string), typed from_json into a
    struct, and re-serialization (both engines emit compact
    {"k":<int>}). Re-serialization is guarded to NULL when k is null in
    BOTH dialects — Spark's to_json drops null struct fields ('{}')
    while DuckDB emits '{"k":null}', so the unguarded forms disagree
    exactly on absent keys."""
    e = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    k_int = parsed.getField("k")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_int.alias("k_int"),
        F.when(
            k_int.isNotNull(), F.to_json(F.struct(k_int.alias("k")))
        ).alias("rejson"),
    )


@query(
    "q_hash_funcs",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           to_base64(encode(substring(text, 1, 24))) AS b64,
           hex(doc_id) AS id_hex
    FROM documents
    """,
)
def q_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/encode family: md5 / sha2-256 (lowercase hex both sides),
    base64 of UTF-8 bytes, uppercase minimal hex of a bigint."""
    d = load(spark, sf_dir, "documents")
    as_bin = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.md5(as_bin).alias("md5_hex"),
        F.sha2(as_bin, 256).alias("sha256_hex"),
        F.base64(F.substring("text", 1, 24).cast("binary")).alias("b64"),
        F.hex("doc_id").alias("id_hex"),
    )


@query(
    "q_cast_types",
    oracle="""
    SELECT p_partkey,
           CAST(p_size AS VARCHAR) AS size_str,
           CAST(p_size AS DOUBLE) AS size_dbl,
           TRY_CAST(p_name AS INT) AS bad_int,
           TRY_CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) AS price_rt,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec_str,
           TRY_CAST('2024-06-0' || CAST((p_partkey % 9) + 1 AS VARCHAR) AS DATE) AS built_date,
           TRY_CAST(substring(p_name, 1, 3) AS DATE) AS bad_date,
           CAST(p_size >= 25 AS BOOLEAN) AS is_large,
           CAST(CAST(p_size >= 25 AS BOOLEAN) AS INT) AS is_large_int
    FROM part
    """,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast lattice incl. failure semantics: try_cast on both sides
    makes bad casts NULL regardless of the session's ANSI mode (the
    driver may hand us an ANSI-on session — never rely on session conf
    for NULL-on-bad-cast)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("string").alias("size_str"),
        F.col("p_size").cast("double").alias("size_dbl"),
        F.expr("try_cast(p_name AS INT)").alias("bad_int"),
        F.expr(
            "try_cast(CAST(p_retailprice AS STRING) AS DOUBLE)"
        ).alias("price_rt"),
        F.col("p_retailprice")
        .cast("decimal(18,2)")
        .cast("string")
        .alias("price_dec_str"),
        F.expr(
            "try_cast(concat('2024-06-0', CAST(pmod(p_partkey, 9) + 1 AS STRING)) AS DATE)"
        ).alias("built_date"),
        F.expr("try_cast(substring(p_name, 1, 3) AS DATE)").alias("bad_date"),
        (F.col("p_size") >= 25).alias("is_large"),
        (F.col("p_size") >= 25).cast("int").alias("is_large_int"),
    )


@query(
    "q_hof_funcs",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(w, x -> length(x) > 4)) AS INT)
             AS n_long,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
             AS total_len,
           list_contains(w, 'hash') AS any_hash,
           CAST(len(list_distinct(list_transform(w, x -> substring(x, 1, 1))))
             AS INT) AS n_initials,
           w[1] || '_' || w[len(w)] AS first_last
    FROM w
    """,
)
def q_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGHER-ORDER-FUNCTION family over array columns: lambda filter,
    fold (aggregate), exists, transform+distinct, and zip_with — the
    Catalyst HOF surface a user reaches for before dropping to Python
    UDFs (and ~100× cheaper than row-at-a-time Python even though HOFs
    evaluate interpreted). Each Spark HOF is paired with its DuckDB
    list_* twin; the fold and length sums are exact integers.

    (Known engine caveat, documented in the near-dup modules: Catalyst's
    projection collapse re-inlines the split() per lambda reference —
    fine for this one-pass scalar family, a measured 50× trap when 64
    aggregate expressions each reference the array; aggregation
    barriers are the fix there.)"""
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(F.filter(w, lambda x: F.length(x) > 4))
        .cast("int")
        .alias("n_long"),
        F.aggregate(
            w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        F.exists(w, lambda x: x == F.lit("hash")).alias("any_hash"),
        F.size(
            F.array_distinct(F.transform(w, lambda x: F.substring(x, 1, 1)))
        )
        .cast("int")
        .alias("n_initials"),
        F.concat_ws(
            "_",
            F.element_at(w, 1),
            F.element_at(w, F.size(w)),
        ).alias("first_last"),
    )


@query(
    "q_variant_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                * CAST(json_extract_string(props, '$.k') AS BIGINT)
                AS BIGINT) AS k_sq,
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 2 = 0
                AS INT) AS k_even
    FROM events
    """,
)
def q_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured path (Spark 4): ``parse_json`` into the
    binary VariantType once, then typed ``variant_get`` extractions —
    the columnar-shredding-ready encoding that replaces
    string-re-parsing ``get_json_object`` chains (q_json_funcs pins
    those). At 100 TB the difference is structural: VARIANT parses
    each document ONCE into a binary tree and every extraction is a
    path walk, while the string functions re-tokenize the JSON per
    expression. The DuckDB twin extracts the same typed values from
    its native JSON type.

    Outputs are plain scalars (INT/DOUBLE/BIGINT) — the variant stays
    internal, per the §5.3 driver-hashable-output rule."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    k_int = F.try_variant_get(v, "$.k", "int")
    k_big = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k_int.alias("k_int"),
        F.try_variant_get(v, "$.k", "double").alias("k_dbl"),
        (k_big * k_big).cast("bigint").alias("k_sq"),
        (k_int % 2 == 0).cast("int").alias("k_even"),
    )


@query(
    "q_regex_funcs",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           array_to_string(regexp_extract_all(p_name, '[a-z]+'), ',')
             AS all_words,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT)
             AS n_vowels,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS INT)
             AS two_words
    FROM part
    """,
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEX function family: single extract, extract-all (serialized
    to CSV per the array-output rule), match counting, global replace,
    and full-string match. Patterns stay within the character-class /
    anchor subset where Java regex (Spark) and RE2 (DuckDB) agree —
    documented portability boundary: backreferences and lookarounds
    are Java-only and deliberately out of the oracle-checked surface.
    Regex is codegen'd JVM-side in Spark — no Python in the loop."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.array_join(
            F.expr("regexp_extract_all(p_name, '([a-z]+)', 1)"), ","
        ).alias("all_words"),
        F.size(F.expr("regexp_extract_all(p_name, '([aeiou])', 1)"))
        .cast("int")
        .alias("n_vowels"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name")
        .rlike("^[a-z]+ [a-z]+$")
        .cast("int")
        .alias("two_words"),
    )


@query(
    "q_try_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice / nullif(l_quantity, 0.0) AS DOUBLE)
             AS unit_price,
           TRY_CAST(l_returnflag AS INT) AS bad_cast,
           TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_rt,
           CAST(CASE WHEN l_quantity = 0 THEN NULL
                ELSE floor(l_extendedprice / l_quantity) END AS BIGINT)
             AS unit_floor
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-SAFE (try_*) function family — the NULL-on-failure
    arithmetic a pipeline needs to survive dirty data without
    task-killing exceptions: try_divide (NULL on zero divisor),
    try_cast on an un-castable string, and a string→double round trip.
    Under ANSI mode these are the ONLY safe spellings; the engine runs
    non-ANSI for oracle parity but uses try_* so the same code is
    correct under either conf — the portability rule the session
    factory documents. DuckDB twins: TRY_CAST and nullif-guarded
    division (its division returns NULL-on-null rather than erroring)."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 100 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_extendedprice, nullif(l_quantity, 0.0d))")
        .cast("double")
        .alias("unit_price"),
        F.expr("try_cast(l_returnflag AS INT)").alias("bad_cast"),
        F.expr("try_cast(CAST(l_quantity AS STRING) AS DOUBLE)").alias(
            "qty_rt"
        ),
        F.when(
            F.col("l_quantity") == 0, F.lit(None)
        )
        .otherwise(F.floor(F.col("l_extendedprice") / F.col("l_quantity")))
        .cast("bigint")
        .alias("unit_floor"),
    )


@query(
    "q_generator_funcs",
    oracle="""
    WITH base AS (
      SELECT p_partkey,
             CASE WHEN p_size > 40 THEN []
                  ELSE string_split(p_name, ' ') END AS words
      FROM part
    )
    SELECT b.p_partkey,
           CAST(coalesce(t.pos - 1, -1) AS INT) AS pos,
           coalesce(t.word, '<none>') AS word
    FROM base b
    LEFT JOIN LATERAL (
      SELECT unnest(b.words) AS word,
             unnest(generate_series(1, len(b.words))) AS pos
    ) t ON true
    """,
)
def q_generator_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATOR family semantics: ``posexplode_outer`` — the
    null/empty-PRESERVING positional explode. The subtlety being
    pinned: a plain explode silently DROPS rows whose array is empty
    or null (here: large parts get an empty word list), which corrupts
    any downstream per-parent aggregate; the _outer variant keeps the
    parent with a null element, exactly like the oracle's LEFT JOIN
    LATERAL UNNEST WITH ORDINALITY. Positions are 0-based in Spark vs
    1-based ordinality — normalized explicitly, with empties at -1 /
    '<none>'. Generators run inside codegen; the explode is the only
    row amplifier."""
    p = load(spark, sf_dir, "part")
    words = F.when(
        F.col("p_size") > 40, F.array().cast("array<string>")
    ).otherwise(F.split("p_name", " "))
    return (
        p.select("p_partkey", words.alias("words"))
        .select(
            "p_partkey", F.posexplode_outer("words").alias("pos", "word")
        )
        .select(
            "p_partkey",
            F.coalesce(F.col("pos"), F.lit(-1)).cast("int").alias("pos"),
            F.coalesce(F.col("word"), F.lit("<none>")).alias("word"),
        )
    )


@query(
    "q_array_funcs2",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             string_split(p_name, ' ') AS a,
             string_split(p_type, ' ') AS b
    FROM part
    )
    SELECT p_partkey,
           coalesce(array_to_string(list_sort(list_distinct(a || b)), ','),
                    '') AS union_s,
           coalesce(array_to_string(list_sort(list_intersect(a, b)), ','),
                    '') AS intersect_s,
           coalesce(array_to_string(list_sort(list_filter(a,
             x -> NOT list_contains(b, x))), ','), '') AS except_s,
           CAST(len(list_distinct(a || b)) AS INT) AS n_union
    FROM t
    """,
)
def q_array_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY SET-OPERATION family: union / intersect / except between
    two token arrays, plus the union cardinality. Engines disagree on
    ELEMENT ORDER inside set results (Spark keeps first-occurrence
    order, DuckDB its own), so every array output is canonicalized
    sort-then-join before comparison — the same serialize-for-the-
    driver rule as q_array_funcs, extended with an explicit sort
    because set ops (unlike split) have no cross-engine order
    contract (dialect note: DuckDB's array_to_string of an empty set
    result yields NULL where Spark's array_join yields '' — the
    oracle coalesces). All JVM-side codegen."""
    p = load(spark, sf_dir, "part")
    a, b = F.split("p_name", " "), F.split("p_type", " ")
    return p.select(
        "p_partkey",
        F.array_join(F.sort_array(F.array_union(a, b)), ",").alias(
            "union_s"
        ),
        F.array_join(F.sort_array(F.array_intersect(a, b)), ",").alias(
            "intersect_s"
        ),
        F.array_join(F.sort_array(F.array_except(a, b)), ",").alias(
            "except_s"
        ),
        F.size(F.array_union(a, b)).cast("int").alias("n_union"),
    )


@query(
    "q_bitwise_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey & 255 AS BIGINT) AS low_byte,
           CAST(p_partkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(p_partkey, 21845) AS BIGINT) AS xored,
           CAST(p_partkey << 3 AS BIGINT) AS shl,
           CAST(p_partkey >> 2 AS BIGINT) AS shr,
           CAST(bit_count(p_partkey) AS INT) AS popcount
    FROM part
    """,
)
def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE function family — and/or/xor, shifts, popcount: the
    integer plumbing behind bitmap indexes (q_agg_bitmap_distinct),
    flag columns, Morton keys (q_tile_zorder) and hash mixing.
    Integer-exact in both engines by definition — no tolerance or
    canonicalization needed."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        k.bitwiseAND(255).cast("bigint").alias("low_byte"),
        k.bitwiseOR(4096).cast("bigint").alias("with_flag"),
        k.bitwiseXOR(21845).cast("bigint").alias("xored"),
        F.shiftleft(k, 3).cast("bigint").alias("shl"),
        F.shiftright(k, 2).cast("bigint").alias("shr"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


@query(
    "q_url_funcs",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.org/' || lang || '/doc-'
               || CAST(doc_id AS VARCHAR) || '?q=' ||
               CAST(n_chars % 100 AS VARCHAR) || '&page=' ||
               CAST(doc_id % 10 AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id,
           url,
           'https' AS proto,
           regexp_extract(url, '://([^/]+)', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]q=([^&]*)', 1) AS q_param,
           regexp_extract(url, '://(?:[^/.]+\\.)*([^/.]+\\.[^/.]+)(?:[/?]|$)', 1)
             AS reg_domain
    FROM u
    """,
)
def q_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family — ``parse_url`` PROTOCOL/HOST/PATH/QUERY
    plus keyed query-parameter extraction: the first stage of every
    web-corpus curation pipeline (domain-level quality lists, URL
    dedup keys, per-site mixture weights all start by splitting the
    URL). URLs are built deterministically from fixture columns so both
    engines parse identical strings; DuckDB has no parse_url, so the
    twin spells the same accessors as regexes — the hash match pins
    Spark's component semantics (no scheme in HOST, PATH keeps the
    leading slash, QUERY drops the '?') to the portable definition.
    ``reg_domain`` (last two labels of the host) is the practical
    dedup/grouping key CommonCrawl-style pipelines bucket by. All
    JVM-side codegen expressions — at 100 TB this runs at scan
    throughput, no Python in the row path."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        (F.col("n_chars") % 100).cast("string"),
        F.lit("&page="),
        (F.col("doc_id") % 10).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.regexp_extract(
            "url", r"://(?:[^/.]+\.)*([^/.]+\.[^/.]+)(?:[/?]|$)", 1
        ).alias("reg_domain"),
    )
