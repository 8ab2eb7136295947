package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.ops.corpus.Text
import graft.util.Tables._

/** SURVEY.md §2.10 — UDF / UDAF / UDTF surface.
  *
  * The scalar UDF is deliberately a plain Scala closure (the §2.10 row
  * is about the UDF surface itself); its oracle is the equivalent CASE
  * WHEN. Note the scale cost being demonstrated: a Scala UDF breaks
  * whole-stage codegen, which is why everything outside this module
  * prefers built-ins or custom codegen Expressions
  * ([[graft.functions.ArrayMaxLE]], [[graft.functions.CosineSim]]).
  *
  * The typed UDAF accumulates in exact Long fixed-point (discount
  * scaled by 1e4, quantity integral) so partial-merge order cannot
  * perturb the result; the final division is one deterministic double
  * expression mirrored in the oracle.
  */
object Udx {

  /** Weighted average discount (weight = quantity) in exact Long
    * fixed-point. IN = (l_discount, l_quantity) tuple. */
  class WeightedDiscount extends Aggregator[(Double, Double), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), in: (Double, Double)): (Long, Long) = {
      val (disc, qty) = in
      (b._1 + math.round(disc * 10000) * qty.toLong, b._2 + qty.toLong)
    }
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(r: (Long, Long)): Double =
      r._1.toDouble / r._2.toDouble / 10000.0
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udf_scalar" -> ((s, dir) => {
      val priceBand = udf((p: Double) =>
        if (p > 200000) "high" else if (p > 100000) "mid" else "low")
      load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          priceBand(col("o_totalprice")).as("band"))
        .orderBy("o_orderkey")
    }),

    "udaf_typed" -> ((s, dir) => {
      implicit val inEnc: Encoder[(Double, Double)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
      val wavg = udaf(new WeightedDiscount)
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(col("l_discount"), col("l_quantity")).as("wavg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // UDTF shape: one output row per input element with its position
    // (posexplode = the built-in Generate operator, the same physical
    // shape a custom Generator expression would plan into).
    "udtf_generator" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("word"))
        .orderBy("doc_id", "pos"))
  )

  val oracle: Map[String, String] = Map(
    "udf_scalar" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_totalprice > 200000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS band
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "udaf_typed" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_discount * 10000) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 10000.0 AS wavg_disc,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "udtf_generator" ->
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) AS INT) AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |FROM documents ORDER BY doc_id, pos""".stripMargin
  )
}
