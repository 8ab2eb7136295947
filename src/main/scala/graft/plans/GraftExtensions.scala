package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayMaxLE, CosineSim, DotProduct, MinHashSig, SimHashSig, SortedJaccard}

/** SparkSessionExtensions entry point: registers graft's custom
  * Catalyst expressions as SQL functions, so any session built with
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * (or `--conf spark.sql.extensions=graft.plans.GraftExtensions` on a
  * cluster) can call them from plain SQL:
  *
  * {{{
  *   SELECT array_max_le(sorted_ts_array, o_orderdate)   -- as-of probe
  *   SELECT cosine_sim(a.embedding, b.embedding)          -- fused cosine
  * }}}
  *
  * The DataFrame API paths ([[graft.functions.ArrayMaxLE.apply]],
  * [[graft.functions.CosineSim.apply]]) plan the same expressions
  * without needing the extension, so the declared queries stay pure
  * functions of any driver-provided session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Wraps a binary-expression builder with an arity check so a SQL
    * call with the wrong argument count fails analysis with a clear
    * message instead of an IndexOutOfBoundsException from children(1).
    */
  private def binary(name: String, build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => build(a, b)
    case other =>
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> "2",
          "actualNum" -> other.size.toString,
          // the template references <docroot>, which Spark's internal
          // error builders inject; the public constructor does not
          "docroot" -> "https://spark.apache.org/docs/latest"))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("array_max_le"),
      new ExpressionInfo(classOf[ArrayMaxLE].getName, "array_max_le"),
      binary("array_max_le", ArrayMaxLE(_, _))))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      binary("cosine_sim", CosineSim(_, _))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      binary("dot_product", DotProduct(_, _))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_jaccard"),
      new ExpressionInfo(classOf[SortedJaccard].getName, "sorted_jaccard"),
      binary("sorted_jaccard", SortedJaccard(_, _))))
    // minhash_sig(arr, numHashes): second argument must be a foldable
    // positive integer — it sizes the signature, not a per-row value.
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      binary("minhash_sig", (arr, n) => {
        def nonFoldable(): Nothing =
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`minhash_sig`",
              "paramName" -> "`numHashes`",
              "paramType" -> "\"INT\""))
        if (!n.foldable) nonFoldable()
        n.eval() match {
          case i: Int => MinHashSig(arr, i)
          case l: Long => MinHashSig(arr, l.toInt)
          case _ => nonFoldable()
        }
      })))
    ext.injectFunction((
      new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      {
        case Seq(a) => SimHashSig(a)
        case other =>
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> "`simhash_sig`",
              "expectedNum" -> "1",
              "actualNum" -> other.size.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
      }: Seq[Expression] => Expression))
    // optimizer pass: fuse the HOF sum-of-squares pattern into the
    // codegen DotProduct kernel (see FuseDotProduct)
    ext.injectOptimizerRule(_ => FuseDotProduct)
  }
}
