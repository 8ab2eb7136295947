package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * [[FailuresFile]], the rows that failed. */
object Verify {

  /** One `name<TAB>message` line per row whose build or write threw
    * (tabs and line breaks in the message become spaces); empty on a
    * clean run. A file, not a directory, so table listings skip it. */
  val FailuresFile = "verify_failures.txt"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (same contract as Bench) so the
    // local edit-verify loop doesn't re-dump all ~90 queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    dump(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each row's result to `outDir/<name>` as parquet and the
    * failed rows to [[FailuresFile]]; returns the failures as (name,
    * message). A failure is also reported on stderr as
    * `[verify] <name> failed: <message>`, and the dump goes on. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      rows: Map[String, (SparkSession, String) => DataFrame]): Seq[(String, String)] = {
    val failed = rows.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    val lines = failed.map { case (name, msg) =>
      s"$name\t${msg.map(c => if (c == '\t' || c == '\n' || c == '\r') ' ' else c)}\n"
    }
    Files.writeString(Paths.get(outDir, FailuresFile), lines.mkString)
    failed
  }
}
