package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
import graft.ops.corpus.Text
import graft.util.Tables._

/** SURVEY.md §2.8 — scalar functions: string / regexp / date / math /
  * array / map / JSON.
  *
  * All per-row scalar work: embarrassingly parallel, whole-stage
  * codegen'd, no shuffle except the final presentation sort. Oracle
  * discipline: transcendental functions (ln/pow) are rounded to 6 dp
  * on both sides (libm last-ulp differences); sqrt is IEEE
  * correctly-rounded so it's exact; type-divergent returns (ceil,
  * date_part, datediff, row counters) are cast to one type in BOTH
  * engines (SURVEY §1.5 r5).
  */
object Scalars {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "str_basics" -> ((s, dir) =>
      load(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_up"),
        lower(col("p_brand")).as("brand_lo"),
        substring(col("p_name"), 1, 10).as("name10"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        trim(concat(lit("  "), col("p_brand"), lit("  "))).as("brand_trim"))
        .orderBy("p_partkey")),

    // Tokenize -> explode -> word frequencies. The Generate (explode)
    // is per-row; the count shuffles on the word key: word-cardinality
    // scales sub-linearly with corpus size, the classic scalable shape.
    "str_split_explode" -> ((s, dir) =>
      Text.wordFreq(load(s, dir, "documents"))
        .orderBy(desc("cnt"), asc("word"))),

    // Edit-distance fuzzy matching — the scalar primitive behind
    // fuzzy dedup/record-linkage; identical DP definition in both
    // engines so it oracles exactly.
    "str_fuzzy" -> ((s, dir) =>
      load(s, dir, "part").select(
        col("p_partkey"),
        levenshtein(col("p_name"), lit("small brass bolt")).as("d_ref"),
        levenshtein(col("p_brand"), col("p_type")).as("d_cross"))
        .orderBy("p_partkey")),

    "str_regexp" -> ((s, dir) =>
      load(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_masked"),
        col("p_type").rlike("^PROMO").as("is_promo"))
        .orderBy("p_partkey")),

    "date_parts" -> ((s, dir) =>
      load(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
        date_add(col("o_orderdate"), 7).as("week_later"))
        .orderBy("o_orderkey")),

    "math_fns" -> ((s, dir) =>
      load(s, dir, "part").select(
        col("p_partkey"),
        round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
        abs(col("p_size") - lit(25)).as("size_dist"),
        ceil(col("p_retailprice")).as("price_ceil"),
        floor(col("p_retailprice")).as("price_floor"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        round(pow(col("p_size"), 1.5), 6).as("size_pow"),
        pmod(col("p_size"), lit(7)).as("size_mod"))
        .orderBy("p_partkey")),

    // Vector scalar ops on the embedding column; the L2 norm-squared
    // folds left-to-right in double on both engines, rounded 4 dp.
    "array_fns" -> ((s, dir) =>
      load(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_dim"),
        element_at(col("embedding"), 32).as("mid_dim"),
        element_at(col("embedding"), 64).as("last_dim"),
        round(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ), 4).as("norm_sq"))
        .orderBy("vec_id")),

    // Map-valued output: not oracle-checkable (DuckDB map subscripts
    // return LISTs — SURVEY §1.5 r5); scalar JSON extraction is the
    // oracle-checked twin below. Covered by ScalaTest.
    "map_fns" -> ((s, dir) => {
      val m = from_json(col("props"), MapType(StringType, IntegerType)).as("m")
      loadEvents(s, dir)
        .select(col("event_id"), m)
        .select(col("event_id"),
          array_join(map_keys(col("m")), ",").as("keys"),
          element_at(col("m"), "k").as("k_val"))
        .orderBy("event_id")
    }),

    "json_extract_scalar" -> ((s, dir) =>
      loadEvents(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy("event_id")),

    // Spark 4 VARIANT type: props parsed ONCE into a binary variant,
    // then typed paths extracted — at scale this beats re-parsing the
    // JSON string per extraction (shredded storage, lazy navigation).
    // is_variant_null distinguishes JSON null from missing path.
    "json_variant" -> ((s, dir) =>
      loadEvents(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "bigint").as("k_val"),
          variant_get(col("v"), "$.missing", "string").as("absent"),
          is_variant_null(variant_get(col("v"), "$.k", "variant"))
            .as("k_is_null"))
        .orderBy("event_id"))
  )

  val oracle: Map[String, String] = Map(
    // map-VALUED columns stay test-only (SURVEY §1.5 r5: DuckDB map
    // subscript returns LIST), but this query's outputs are scalars
    // derived from the map — json_keys/json_extract reproduce them.
    "map_fns" ->
      """SELECT event_id,
        |  array_to_string(json_keys(props), ',') AS keys,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "str_basics" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  lower(p_brand) AS brand_lo,
        |  substring(p_name, 1, 10) AS name10,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  trim('  ' || p_brand || '  ') AS brand_trim
        |FROM part ORDER BY p_partkey""".stripMargin,

    "str_split_explode" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,

    "str_fuzzy" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_name, 'small brass bolt') AS INT) AS d_ref,
        |  CAST(levenshtein(p_brand, p_type) AS INT) AS d_cross
        |FROM part ORDER BY p_partkey""".stripMargin,

    "str_regexp" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_masked,
        |  regexp_matches(p_type, '^PROMO') AS is_promo
        |FROM part ORDER BY p_partkey""".stripMargin,

    "date_parts" ->
      """SELECT o_orderkey,
        |  CAST(date_part('year', o_orderdate) AS INT) AS yr,
        |  CAST(date_part('month', o_orderdate) AS INT) AS mo,
        |  CAST(date_part('day', o_orderdate) AS INT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since,
        |  CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS week_later
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "math_fns" ->
      """SELECT p_partkey,
        |  round(sqrt(p_retailprice), 6) AS sqrt_price,
        |  abs(p_size - 25) AS size_dist,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  round(ln(p_retailprice), 6) AS ln_price,
        |  round(pow(p_size, 1.5), 6) AS size_pow,
        |  p_size % 7 AS size_mod
        |FROM part ORDER BY p_partkey""".stripMargin,

    "array_fns" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  embedding[1] AS first_dim,
        |  embedding[32] AS mid_dim,
        |  embedding[64] AS last_dim,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 4) AS norm_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "json_extract_scalar" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "json_variant" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS BIGINT) AS k_val,
        |  CAST(props->>'$.missing' AS VARCHAR) AS absent,
        |  COALESCE(json_extract(props, '$.k') = 'null', false) AS k_is_null
        |FROM events ORDER BY event_id""".stripMargin
  )
}
