package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.59 (round-24 batch 1) — schema governance:
  *
  *  - [[schemaDrift]]: per-generation OBSERVED-schema audit over the
  *    document corpus — for each column of the fixed physical
  *    inventory, the non-null presence count and the inferred
  *    storage class (int32-compatible vs int64 for integers,
  *    short vs long for strings) in each generation (even vs odd
  *    doc_ids, the dq_generation_drift split), with a verdict per
  *    column: absent / added / dropped / retyped / stable. The
  *    governance twin of `dq_generation_drift`: that row audits the
  *    VALUE distribution, this one audits the SHAPE a reader must
  *    plan for (a column whose values silently outgrow int32, or
  *    that vanishes in the new generation, breaks downstream
  *    readers before any distribution test fires).
  *
  * Scale shape: schema drift is ONE full scan collapsed to a single
  * 20-aggregate row (all map-side combining), localCheckpointed so
  * the 5 per-column branches read the one-row result instead of
  * re-scanning the corpus 5 times.
  *
  * Determinism: schema-drift counts and class thresholds are exact
  * integer comparisons — no floats anywhere in the audit.
  */
object Composite43 {

  // ---- dq_schema_drift -------------------------------------------------
  // Column descriptors: (name, integer?) over the documents physical
  // inventory. Integer columns class by int32 range; string columns
  // by a 256-char storage threshold. The classes are deliberately
  // coarse — the audit's contract is "did the class CHANGE between
  // generations", not a full type system.
  private val DriftCols: Seq[(String, Boolean)] = Seq(
    ("doc_id", true), ("lang", false), ("n_chars", true),
    ("source", false), ("text", false))

  private[graft] def schemaDriftOn(docs: DataFrame): DataFrame = {
    val ga = col("doc_id") % 2 === 0
    def side(p: String, g: Column): Seq[Column] = DriftCols.flatMap {
      case (c, isInt) =>
        val n = sum(when(g && col(c).isNotNull, 1L).otherwise(0L))
          .as(s"${p}_${c}_n")
        if (isInt)
          Seq(n, min(when(g, col(c))).as(s"${p}_${c}_min"),
            max(when(g, col(c))).as(s"${p}_${c}_max"))
        else Seq(n, max(when(g, length(col(c)))).as(s"${p}_${c}_len"))
    }
    val aggs = side("a", ga) ++ side("b", !ga)
    // One corpus scan → one 24-aggregate row; checkpointed so the 5
    // per-column union branches below read this row, not the corpus.
    val g = docs.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    def typed(p: String, c: String, isInt: Boolean): Column = {
      val n = col(s"${p}_${c}_n")
      if (isInt)
        when(n === 0, lit(null).cast("string"))
          .when(col(s"${p}_${c}_min") >= lit(-2147483648L) &&
            col(s"${p}_${c}_max") <= lit(2147483647L), lit("int32-compatible"))
          .otherwise(lit("int64"))
      else
        when(n === 0, lit(null).cast("string"))
          .when(col(s"${p}_${c}_len") <= lit(256), lit("string-short"))
          .otherwise(lit("string-long"))
    }
    DriftCols.map { case (c, isInt) =>
      g.select(lit(c).as("column_name"),
        col(s"a_${c}_n").as("n_a"), col(s"b_${c}_n").as("n_b"),
        typed("a", c, isInt).as("type_a"), typed("b", c, isInt).as("type_b"))
    }.reduce(_.unionAll(_))
      .select(col("column_name"), col("n_a"), col("n_b"),
        col("type_a"), col("type_b"),
        when(col("n_a") === 0 && col("n_b") === 0, "absent")
          .when(col("n_a") === 0, "added")
          .when(col("n_b") === 0, "dropped")
          .when(col("type_a") =!= col("type_b"), "retyped")
          .otherwise("stable").as("status"))
      .orderBy("column_name")
  }

  private def schemaDrift(s: SparkSession, dir: String): DataFrame =
    schemaDriftOn(load(s, dir, "documents"))

  private def schemaDriftOracle: String = {
    def side(p: String, cond: String): Seq[String] = DriftCols.flatMap {
      case (c, isInt) =>
        val n = s"CAST(sum(CASE WHEN $cond AND $c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${p}_${c}_n"
        if (isInt) Seq(n,
          s"min(CASE WHEN $cond THEN $c END) AS ${p}_${c}_min",
          s"max(CASE WHEN $cond THEN $c END) AS ${p}_${c}_max")
        else Seq(n,
          s"max(CASE WHEN $cond THEN length($c) END) AS ${p}_${c}_len")
    }
    def typed(p: String, c: String, isInt: Boolean): String =
      if (isInt)
        s"""CASE WHEN ${p}_${c}_n = 0 THEN NULL
           | WHEN ${p}_${c}_min >= -2147483648 AND ${p}_${c}_max <= 2147483647
           | THEN 'int32-compatible' ELSE 'int64' END""".stripMargin
      else
        s"""CASE WHEN ${p}_${c}_n = 0 THEN NULL
           | WHEN ${p}_${c}_len <= 256 THEN 'string-short'
           | ELSE 'string-long' END""".stripMargin
    val branches = DriftCols.map { case (c, isInt) =>
      s"""SELECT '$c' AS column_name, a_${c}_n AS n_a, b_${c}_n AS n_b,
         |  ${typed("a", c, isInt)} AS type_a,
         |  ${typed("b", c, isInt)} AS type_b FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT
       |    ${(side("a", "doc_id % 2 = 0") ++ side("b", "doc_id % 2 <> 0"))
            .mkString(",\n    ")}
       |  FROM documents),
       |t AS (
       |$branches)
       |SELECT column_name, n_a, n_b, type_a, type_b,
       |  CASE WHEN n_a = 0 AND n_b = 0 THEN 'absent'
       |   WHEN n_a = 0 THEN 'added'
       |   WHEN n_b = 0 THEN 'dropped'
       |   WHEN type_a <> type_b THEN 'retyped'
       |   ELSE 'stable' END AS status
       |FROM t ORDER BY column_name""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_schema_drift" -> (schemaDrift _)
  )

  val oracle: Map[String, String] = Map(
    "dq_schema_drift" -> schemaDriftOracle
  )
}
