package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** Case class mirror of the events schema for the typed-Dataset
  * surface (`ds_typed`) — field names/types must match
  * [[graft.core.Tables.events]] exactly or `as[TypedEv]` fails at
  * analysis (that fail-fast IS the type-safety the API buys). */
case class TypedEv(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** SURVEY.md §2.8 — scalar function suites (string / date / math /
  * conditional / array / map / JSON / hash) + §2.11 `udf_scalar`.
  *
  * Reference evidence: cleansing & transformation (README.md:2,10),
  * integrity checks (README.md:12), SCD change detection via row hashes
  * (README.md:6).
  *
  * All of these are built-in codegen'd expressions — they run inside
  * WholeStageCodegen with zero shuffle; cost at 100 TB is the scan
  * itself. The one deliberate exception is `udf_scalar`, which shows a
  * Scala UDF side-by-side with its native-expression replacement (the
  * native form is what you ship: UDFs box values and block codegen).
  *
  * Cross-engine gotchas encoded here:
  *  - no round() at coarse scales of 2-decimal money (ties like .x5 are
  *    exactly representable and the engines round them differently);
  *    round(·,6) of irrational outputs (sqrt/ln) is safe.
  *  - Spark ceil/floor(double) → LONG; oracle casts to BIGINT.
  *  - DuckDB log() is base-10: use ln() to match Spark's log().
  */
object Scalars {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  def fnString(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_up"),
        lower(col("p_type")).as("type_lo"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("name_trim"),
        substring(col("p_name"), 1, 5).as("name_5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1)
          .cast(IntegerType).as("brand_num"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        length(col("p_name")).as("name_len")))

  private val fnStringSql =
    s"""SELECT p_partkey,
       |  upper(p_name) AS name_up,
       |  lower(p_type) AS type_lo,
       |  trim(' ' || p_name || ' ') AS name_trim,
       |  substring(p_name, 1, 5) AS name_5,
       |  concat_ws('|', p_brand, p_type) AS brand_type,
       |  CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) AS brand_num,
       |  replace(p_name, ' ', '_') AS name_snake,
       |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       |  length(p_name) AS name_len
       |FROM part
       |${O.OrderAll}"""

  def fnDate(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mon"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dateStr(date_trunc("month", col("o_orderdate"))).as("month_start"),
        datediff(lit("2000-01-01").cast("date"), col("o_orderdate"))
          .as("days_to_y2k"),
        dateStr(add_months(col("o_orderdate"), 3)).as("plus_3m"),
        dateStr(last_day(col("o_orderdate"))).as("month_end")))

  private val fnDateSql =
    s"""SELECT o_orderkey,
       |  year(o_orderdate) AS yr,
       |  quarter(o_orderdate) AS qtr,
       |  month(o_orderdate) AS mon,
       |  day(o_orderdate) AS dom,
       |  ${O.dateStr("date_trunc('month', o_orderdate)")} AS month_start,
       |  CAST(date_diff('day', o_orderdate, DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
       |  ${O.dateStr("o_orderdate + INTERVAL 3 MONTH")} AS plus_3m,
       |  ${O.dateStr("last_day(CAST(o_orderdate AS DATE))")} AS month_end
       |FROM orders
       |${O.OrderAll}"""

  def fnMath(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        ceil(col("l_quantity") / 7).as("q_ceil7"),
        floor(col("l_quantity") / 7).as("q_floor7"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        pow(col("l_quantity"), 2).as("q_sq"),
        round6(sqrt(col("l_quantity"))).as("q_sqrt"),
        round6(log(col("l_extendedprice"))).as("price_ln")))

  private val fnMathSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(ceil(l_quantity / 7) AS BIGINT) AS q_ceil7,
       |  CAST(floor(l_quantity / 7) AS BIGINT) AS q_floor7,
       |  abs(l_discount - 0.05) AS disc_dev,
       |  pow(l_quantity, 2) AS q_sq,
       |  round(sqrt(l_quantity), 6) AS q_sqrt,
       |  round(ln(l_extendedprice), 6) AS price_ln
       |FROM lineitem
       |${O.OrderAll}"""

  def fnCond(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders").select(
        col("o_orderkey"),
        when(substring(col("o_orderpriority"), 1, 1) === "1", "urgent")
          .when(substring(col("o_orderpriority"), 1, 1) === "2", "high")
          .otherwise("normal").as("priority_class"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
          .as("status_or_open"),
        when(col("o_totalprice") >= 300000, "big")
          .when(col("o_totalprice") >= 100000, "mid")
          .otherwise("small").as("size_bucket"),
        floor(col("o_totalprice")).as("price_floor")))

  private val fnCondSql =
    s"""SELECT o_orderkey,
       |  CASE substring(o_orderpriority, 1, 1)
       |    WHEN '1' THEN 'urgent' WHEN '2' THEN 'high'
       |    ELSE 'normal' END AS priority_class,
       |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       |  CASE WHEN o_totalprice >= 300000 THEN 'big'
       |       WHEN o_totalprice >= 100000 THEN 'mid'
       |       ELSE 'small' END AS size_bucket,
       |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor
       |FROM orders
       |${O.OrderAll}"""

  def fnArray(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    ordered(
      t(spark, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        array_contains(toks, "spark").as("has_spark"),
        array_join(slice(sort_array(toks), 1, 3), " ").as("first3_sorted"),
        size(array_distinct(toks)).as("n_distinct"),
        aggregate(transform(toks, x => length(x).cast(LongType)),
          lit(0L), (acc, x) => acc + x).as("char_sum")))
  }

  private val fnArraySql =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
       |  array_to_string(list_sort(string_split(text, ' '))[1:3], ' ') AS first3_sorted,
       |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
       |  CAST(list_sum(list_transform(string_split(text, ' '),
       |    x -> length(x))) AS BIGINT) AS char_sum
       |FROM documents
       |${O.OrderAll}"""

  /** UDTF-shaped: one row per token (lateral view / explode). */
  def fnExplode(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token")))

  private val fnExplodeSql =
    s"""SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |FROM documents
       |${O.OrderAll}"""

  /** Map suite: per-doc token→count map; order-independent scalars out
    * (map iteration order differs between engines, so we compare sizes
    * and aggregated values, not the map itself). */
  def fnMap(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    ordered(
      counts.groupBy(col("doc_id"))
        // sort entries BEFORE building the map: collect_list order is
        // partition-dependent, sorted entries make the map (and its
        // JSON serialization below) deterministic
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("token"), col("cnt")))))
          .as("tok_map"))
        .select(
          col("doc_id"),
          size(map_keys(col("tok_map"))).as("n_keys"),
          aggregate(map_values(col("tok_map")), lit(0L), (acc, x) => acc + x)
            .as("n_tokens"),
          // full map CONTENT oracled (closes the round-2 "map columns
          // re-sorted / partial oracle" note): compact JSON with keys
          // in sorted order; the oracle builds the identical string
          // with an ORDER BY string_agg
          to_json(col("tok_map")).as("map_json")))
  }

  private val fnMapSql =
    s"""WITH c AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, token, COUNT(*) AS cnt FROM c GROUP BY 1, 2)
       |SELECT doc_id,
       |  COUNT(*) AS n_keys,
       |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |  '{' || string_agg('"' || token || '":' || cnt, ',' ORDER BY token)
       |    || '}' AS map_json
       |FROM k GROUP BY doc_id
       |${O.OrderAll}"""

  /** JSON suite: both extraction styles must agree. */
  def fnJson(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_path"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_struct")))

  private val fnJsonSql =
    s"""SELECT event_id,
       |  CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k_path,
       |  CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k_struct
       |FROM events
       |${O.OrderAll}"""

  /** VARIANT suite (Spark 4's semi-structured type): `parse_json` →
    * binary VARIANT, typed extraction via `variant_get`, graceful
    * missing-path access via `try_variant_get`, inferred schema via
    * `schema_of_variant`, and `to_json` round-trip back to canonical
    * (minified) text. Unlike `fn_json`'s per-path string re-parsing,
    * VARIANT parses ONCE into a binary encoding that every downstream
    * extraction reads with O(field) offset lookups — at 100 TB the
    * difference between re-tokenizing a 10 KB JSON blob per accessed
    * path and a single decode at ingest. The oracle replays the typed
    * extraction relationally (the corpus' props are single-key int
    * objects, so schema inference is the constant OBJECT<k: BIGINT>
    * and minification is a string rewrite). */
  def fnVariant(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "events")
        .withColumn("v", expr("parse_json(props)"))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.k', 'int')").as("k_typed"),
          expr("try_variant_get(v, '$.missing', 'int')").as("k_missing"),
          expr("schema_of_variant(v)").as("v_schema"),
          to_json(col("v")).as("v_json")))

  private val fnVariantSql =
    s"""SELECT event_id,
       |  CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k_typed,
       |  CAST(NULL AS INTEGER) AS k_missing,
       |  'OBJECT<k: BIGINT>' AS v_schema,
       |  '{"k":' || regexp_extract(props, '"k":\\s*(\\d+)', 1) || '}' AS v_json
       |FROM events
       |${O.OrderAll}"""

  /** Hash suite: SCD2 row-hash change detector (sha256 over business
    * attributes; no doubles in the hash input — float→string formatting
    * differs across engines). */
  def fnHash(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer").select(
        col("c_custkey"),
        sha2(concat_ws("|", col("c_name"), col("c_nationkey"),
          col("c_mktsegment")), 256).as("row_hash"),
        md5(col("c_name")).as("name_md5")))

  private val fnHashSql =
    s"""SELECT c_custkey,
       |  sha256(concat_ws('|', c_name, CAST(c_nationkey AS VARCHAR),
       |    c_mktsegment)) AS row_hash,
       |  md5(c_name) AS name_md5
       |FROM customer
       |${O.OrderAll}"""

  /** Scalar UDF surface next to its native replacement: cricket
    * overs-notation from the line number. The two output columns must be
    * identical — proving the native expression can replace the UDF (and
    * should: the UDF is the only non-codegen expression in this file). */
  def udfScalar(spark: SparkSession, dir: String): DataFrame = {
    val overs = udf((ln: Int) => s"${(ln - 1) / 6}.${(ln - 1) % 6 + 1}")
    ordered(
      t(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        overs(col("l_linenumber")).as("overs_udf"),
        concat(((col("l_linenumber") - 1) / 6).cast(IntegerType).cast("string"),
          lit("."),
          (((col("l_linenumber") - 1) % 6) + 1).cast("string"))
          .as("overs_native")))
  }

  private val udfScalarSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST((l_linenumber - 1) // 6 AS VARCHAR) || '.' ||
       |    CAST((l_linenumber - 1) % 6 + 1 AS VARCHAR) AS overs_udf,
       |  CAST((l_linenumber - 1) // 6 AS VARCHAR) || '.' ||
       |    CAST((l_linenumber - 1) % 6 + 1 AS VARCHAR) AS overs_native
       |FROM lineitem
       |${O.OrderAll}"""

  /** Null-safe equality (`<=>` / IS NOT DISTINCT FROM) next to plain
    * `=`: the difference only shows on NULLs, so both operands are
    * made nullable first. */
  def fnNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val a = nullif(col("o_orderstatus"), lit("O"))
    val b = when(col("o_totalprice") > 250000, col("o_orderstatus"))
    ordered(
      t(spark, dir, "orders").select(
        col("o_orderkey"),
        a.as("a"), b.as("b"),
        (a <=> b).as("eq_null_safe"),
        (a === b).as("eq_plain")))
  }

  private val fnNullSafeSql =
    s"""SELECT o_orderkey,
       |  NULLIF(o_orderstatus, 'O') AS a,
       |  CASE WHEN o_totalprice > 250000 THEN o_orderstatus END AS b,
       |  NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM
       |    (CASE WHEN o_totalprice > 250000 THEN o_orderstatus END) AS eq_null_safe,
       |  NULLIF(o_orderstatus, 'O') =
       |    (CASE WHEN o_totalprice > 250000 THEN o_orderstatus END) AS eq_plain
       |FROM orders
       |${O.OrderAll}"""

  /** Bitwise suite — AND/OR/XOR/NOT, shifts, popcount — the primitives
    * under hash-bucketing, bitmap indexes, and the SimHash/SRP band
    * extraction in §2.11 (there inside UDFs; here as first-class
    * columnar expressions, fully codegen'd). Every output is cast to
    * BIGINT on both engines (DuckDB narrows `&` to INT32 and bit_count
    * to INT8; Spark keeps LongType). */
  def fnBitwise(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Tables.load(spark, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("l_orderkey").bitwiseOR(col("l_linenumber")).as("bor"),
        col("l_orderkey").bitwiseXOR(col("l_partkey")).as("bxor"),
        bitwise_not(col("l_orderkey")).as("bnot"),
        shiftleft(col("l_linenumber").cast("long"), 3).cast("long").as("shl"),
        shiftright(col("l_orderkey"), 2).as("shr"),
        bit_count(col("l_orderkey")).cast("long").as("popcnt")))

  private val fnBitwiseSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(l_orderkey & 255 AS BIGINT) AS band,
       |  CAST(l_orderkey | l_linenumber AS BIGINT) AS bor,
       |  CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS bxor,
       |  CAST(~l_orderkey AS BIGINT) AS bnot,
       |  CAST(l_linenumber << 3 AS BIGINT) AS shl,
       |  CAST(l_orderkey >> 2 AS BIGINT) AS shr,
       |  CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS popcnt
       |FROM lineitem
       |${O.OrderAll}"""

  /** URL suite: build a deterministic URL per document, then decompose
    * it with `parse_url` (host / path / one query parameter) — the
    * canonicalize-and-extract step every web-crawl pipeline runs before
    * URL-level dedup. The oracle re-derives the same parts with
    * regexps, which doubles as a spec of exactly what parse_url
    * returns for these shapes. Pure columnar, no shuffle. */
  def fnUrl(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
      col("doc_id"), lit("?lang="), col("lang"), lit("&v=2"))
    ordered(
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        url.as("url"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY"), lit("lang")).as("q_lang")))
  }

  private val fnUrlSql =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' || source || '.example.com/docs/' || doc_id
       |      || '?lang=' || lang || '&v=2' AS url
       |  FROM documents)
       |SELECT doc_id, url,
       |  regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
       |  regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
       |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS q_lang
       |FROM u
       |${O.OrderAll}"""

  /** STRUCT suite — the nested type §1.3's mapping promises: build a
    * struct column, access fields, serialize to JSON, and use the
    * lexicographic struct ordering (the idiom behind composite-key
    * min_by/argmin and struct-sorted arrays). Flattened scalar
    * outputs so the oracle compares primitives; DuckDB's row()/
    * struct_pack mirror the semantics exactly (verified: identical
    * compact JSON, identical lexicographic comparison). */
  def fnStruct(spark: SparkSession, dir: String): DataFrame = {
    val meta = struct(col("lang").as("lang"), col("source").as("source"),
      col("n_chars").as("n_chars"))
    ordered(
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        meta.getField("lang").as("meta_lang"),
        to_json(meta).as("meta_json"),
        (struct(col("lang"), col("n_chars")) <
          struct(lit("en"), lit(300L))).as("before_en300")))
  }

  private val fnStructSql =
    s"""SELECT doc_id,
       |  lang AS meta_lang,
       |  to_json(struct_pack(lang := lang, source := source,
       |    n_chars := n_chars)) AS meta_json,
       |  (row(lang, n_chars) < row('en', 300)) AS before_en300
       |FROM documents
       |${O.OrderAll}"""

  /** Error-safe `try_*` function family (ANSI-mode error handling,
    * §2.8): under ANSI SQL semantics a bad cast or zero divide kills
    * the JOB — at 100 TB one malformed row out of 10¹² must not.
    * `try_divide` / `try_cast` return NULL instead of raising; the
    * query surfaces per-row safe results + corpus-level failure
    * counts (the DQ signal a pipeline alerts on). Oracle mirrors with
    * TRY_CAST and an explicit zero-guard CASE (DuckDB's division has
    * no try_ spelling). Pure columnar pass, zero shuffle beyond the
    * count agg. */
  def fnTry(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    ordered(li
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("try_divide(l_extendedprice, l_quantity - 17.0)").as("unit_adj"),
        expr("try_cast(l_returnflag AS INT)").as("flag_num"),
        expr("try_cast(cast(l_linenumber AS STRING) AS INT)").as("line_rt"))
      .groupBy(col("l_linenumber"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("unit_adj").isNull, 1L).otherwise(0L)).as("n_div_fail"),
        sum(when(col("flag_num").isNull, 1L).otherwise(0L)).as("n_cast_fail"),
        sum(when(col("line_rt") === col("l_linenumber"), 1L).otherwise(0L))
          .as("n_roundtrip_ok")))
  }

  private val fnTrySql =
    s"""SELECT l_linenumber, COUNT(*) AS n,
       |  COUNT(*) FILTER (WHERE l_quantity = 17.0) AS n_div_fail,
       |  COUNT(*) FILTER (WHERE TRY_CAST(l_returnflag AS INT) IS NULL)
       |    AS n_cast_fail,
       |  COUNT(*) FILTER (
       |    WHERE TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) = l_linenumber)
       |    AS n_roundtrip_ok
       |FROM lineitem
       |GROUP BY 1
       |${O.OrderAll}"""

  /** Typed `Dataset[T]` API surface (SURVEY §1.3 API mapping): the
    * same engine through case-class Encoders — compile-time-checked
    * lambdas instead of Column expressions. Pipeline: `as[Ev]` (schema
    * validated against the case class at analysis), typed `filter`,
    * `groupByKey` + `mapGroups` computing per-user purchase stats.
    *
    * The 100 TB honesty note, in code where it belongs:
    * groupByKey+mapGroups shuffles WHOLE deserialized rows (no
    * map-side combine — the lambda is opaque to Catalyst), so for
    * aggregations expressible as Columns the untyped `groupBy().agg()`
    * (one combined row per group per mapper crosses the wire) is
    * strictly better — that tradeoff is what this key demonstrates,
    * next to `agg_udaf`'s typed-Aggregator middle road (typed AND
    * partial-aggregating). Outputs are order-independent exacts
    * (count/min/max), so the typed lambda stays deterministic. */
  def dsTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Tables.load(spark, dir, "events").as[TypedEv]
      .filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        var n = 0L
        var mx = Double.MinValue
        var mn = Double.MaxValue
        evs.foreach { e => n += 1; mx = math.max(mx, e.value); mn = math.min(mn, e.value) }
        (uid, n, mx, mn)
      }
      .toDF("user_id", "n_purchases", "max_value", "min_value")
    ordered(out)
  }

  private val dsTypedSql =
    s"""SELECT user_id, COUNT(*) AS n_purchases,
       |  max(value) AS max_value, min(value) AS min_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY 1
       |${O.OrderAll}"""

  /** Regular-expression suite over `documents.text` — the pattern
    * layer under every log/crawl parser: match-count, first-match
    * extraction, extract-all (flattened to one deterministic string),
    * global backreference rewrite, and a boolean match gate. Patterns
    * stay inside the RE2 ∩ java.util.regex common subset (character
    * classes, `\b`, bounded quantifiers — no lookaround, no backrefs
    * *inside* the pattern) so both engines compile the same automaton
    * semantics; only the replacement-string syntax differs (`$1` Spark,
    * `\1` DuckDB) and DuckDB needs the explicit `'g'` flag to match
    * Spark's replace-all default.
    *
    * 100 TB: all five are codegen'd per-row expressions inside one
    * WholeStageCodegen over the scan — zero shuffle, cost is the scan;
    * Java regex compiles once per expression instance, not per row. */
  def fnRegex(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\b[a-z]*a[a-z]*\\b")).as("n_a_words"),
        regexp_extract(col("text"), "\\b(s[a-z]{3,})\\b", 1).as("first_s_word"),
        array_join(expr("regexp_extract_all(text, '\\\\b[a-z]+e\\\\b', 0)"), ",")
          .as("e_words"),
        regexp_replace(col("text"), "\\b(key) (value)\\b", "$2 $1")
          .as("swapped"),
        col("text").rlike("join[a-z ]*merge").as("has_join_merge")))

  private val fnRegexSql =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '\\b[a-z]*a[a-z]*\\b')) AS n_a_words,
       |  regexp_extract(text, '\\b(s[a-z]{3,})\\b', 1) AS first_s_word,
       |  COALESCE(array_to_string(regexp_extract_all(text, '\\b[a-z]+e\\b'), ','),
       |    '') AS e_words,
       |  regexp_replace(text, '\\b(key) (value)\\b', '\\2 \\1', 'g') AS swapped,
       |  regexp_matches(text, 'join[a-z ]*merge') AS has_join_merge
       |FROM documents
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "fn_regex" -> Q(fnRegex _, fnRegexSql),
    "fn_struct" -> Q(fnStruct _, fnStructSql),
    "fn_url" -> Q(fnUrl _, fnUrlSql),
    "fn_bitwise" -> Q(fnBitwise _, fnBitwiseSql),
    "fn_null_safe" -> Q(fnNullSafe _, fnNullSafeSql),
    "fn_string" -> Q(fnString _, fnStringSql),
    "fn_date" -> Q(fnDate _, fnDateSql),
    "fn_math" -> Q(fnMath _, fnMathSql),
    "fn_cond" -> Q(fnCond _, fnCondSql),
    "fn_array" -> Q(fnArray _, fnArraySql),
    "fn_explode" -> Q(fnExplode _, fnExplodeSql),
    "fn_map" -> Q(fnMap _, fnMapSql),
    "fn_json" -> Q(fnJson _, fnJsonSql),
    "fn_variant" -> Q(fnVariant _, fnVariantSql),
    "fn_hash" -> Q(fnHash _, fnHashSql),
    "udf_scalar" -> Q(udfScalar _, udfScalarSql),
    "ds_typed" -> Q(dsTyped _, dsTypedSql),
    "fn_try" -> Q(fnTry _, fnTrySql)
  )
}
