package graft

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: print the formatted physical plan for declared queries
  * (all, or the names passed after sfDir) — the plan-audit loop the
  * scale review runs (pushdown reached the scan? broadcast pinned?
  * codegen spans wide? no stray shuffle?).
  *
  * A memo-build row of [[MemoRows]] is explained when named: it runs,
  * and the plan printed is the executed plan of the last parquet write
  * it made — its own view's build (nested views it reads are written
  * before it). A consumer row's plan shows only the memo's read-back. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // formatted (default) omits codegen ids; simple mode's *(n)
    // stars are the codegen-span audit, so make the mode pickable
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted")
    val memo = MemoRows.builds.toMap.filter { case (name, _) => only(name) }
    (SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) } ++ memo)
      .toSeq.sortBy(_._1).foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try {
          if (memo.contains(name)) print(lastWritePlan(spark, sfDir, fn, mode))
          else fn(spark, sfDir).explain(mode)
        } catch { case e: Throwable => println(s"error: ${e.getMessage}") }
      }
    spark.stop()
  }

  private val Marker = "graft_explain_marker"

  /** Runs `fn` and returns the `mode` plan of the last write command
    * it executed. Listener events arrive asynchronously but in order,
    * so a marker query run afterwards flushes every earlier write. */
  private def lastWritePlan(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame, mode: String): String = {
    val writes = ArrayBuffer.empty[QueryExecution]
    val drained = Promise[Unit]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(Marker)) drained.trySuccess(())
        else if (qe.analyzed.isInstanceOf[InsertIntoHadoopFsRelationCommand])
          writes.synchronized { writes += qe }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fn(spark, dir)
      spark.range(1).toDF(Marker).collect()
      Await.result(drained.future, 2.minutes)
      writes.synchronized(writes.lastOption)
        .map(_.explainString(ExplainMode.fromString(mode)))
        .getOrElse("no write\n")
    } finally spark.listenerManager.unregister(listener)
  }
}
