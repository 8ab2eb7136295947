package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a DataFrame: row count, the exact sum
  * of every row's xxhash64 and the sum of its murmur3 hash over all
  * output columns. Sums commute, so neither row order nor partition
  * count can change the digest, and hashing every column keeps the
  * optimizer from pruning any of them (a bare `count()` could). */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    // Positional names: builder outputs may repeat a column name.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)) // maps are not hashable
        case _ => col(f.name)
      }
    }
    val (h64, h32) =
      if (cols.isEmpty) (lit(0L), lit(0)) else (xxhash64(cols: _*), hash(cols: _*))
    named.agg(count(lit(1)), sum(h64.cast("decimal(38,0)")), sum(h32.cast("long")))
  }

  def render(r: Row): String = {
    def v(i: Int): String = if (r.isNullAt(i)) "0" else r.get(i).toString
    s"${r.getLong(0)}:${v(1)}:${v(2)}"
  }

  def of(df: DataFrame): String = render(frame(df).collect()(0))
}

/** Rows the benchmark can run: every `SparkEntry.queries` row plus the
  * memo-build rows of `graft.Bench` that the workloads use (each resets
  * its own view first so the row measures a genuine rebuild). */
object Rows {
  type Fn = (SparkSession, String) => DataFrame
  import graft.ops._

  val memo: Map[String, Fn] = Map(
    "memo_order_psets" -> ((s, d) => {
      DiskMemo.reset("order_psets"); Composite4.sharedOrderPsets(s, d) }),
    "memo_bigramsets" -> ((s, d) => {
      DiskMemo.reset("bigramsets"); LlmOps2.sharedBigramSets(s, d) }))

  lazy val all: Map[String, Fn] = graft.SparkEntry.queries ++ memo

  /** Empty every per-JVM materialized-view registry: a pass starts
    * the way a fresh batch does. */
  def resetMemos(): Unit = { DiskMemo.reset(); GraphBfs.reset(); TriCore.resetAll() }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The benchmark's JVM side. It reads a plan (a java.util.Properties
  * file written by perfbench/run.py), runs the passes it names in this
  * one process, and writes every sample to a JSON result file; the
  * statistics are computed by run.py.
  *
  * Modes:
  *   run   timed passes over a workload (untraced, or traced with
  *         listeners and a builder / planning / execution split);
  *   dump  write each named row's output to parquet with its digest,
  *         for the DuckDB oracle confirmation;
  *   digest-check  digest each named row under several partitionings
  *         and orders (for the tests).
  */
object Harness {
  final case class Plan(p: java.util.Properties) {
    def str(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    def int(k: String): Int = str(k).toInt
    def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val plan = Plan(props)
    plan.str("mode") match {
      case "run" => new Runner(plan).run()
      case "dump" => dump(plan)
      case "digest-check" => digestCheck(plan)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Digest of each named row's output as built, in one partition, in
    * seven partitions and in a random order; plus the digest with one
    * row dropped, which must differ. */
  private def digestCheck(plan: Plan): Unit = {
    val spark = session(plan.str("cpus"))
    val dir = plan.str("corpus")
    val res = plan.list("rows").map { row =>
      val df = Rows.all(row)(spark, dir).localCheckpoint()
      val n = df.count()
      Map("row" -> row, "variants" -> Seq(
        Digest.of(df), Digest.of(df.repartition(1)), Digest.of(df.repartition(7)),
        Digest.of(df.orderBy(rand(7)))),
        "dropped_one" -> Digest.of(df.limit((n - 1).toInt)))
    }
    Files.writeString(Paths.get(plan.str("result")), Json(res))
    spark.stop()
  }

  def session(cpus: String): SparkSession = {
    val s = graft.util.Sessions.local(cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Oracle dump: each row's output as one parquet file, its digest
    * and its oracle SQL (if any). A failing row is reported, not
    * fatal, so one run lists every row that cannot be confirmed. */
  private def dump(plan: Plan): Unit = {
    val spark = session(plan.str("cpus"))
    val dir = plan.str("corpus")
    val out = plan.str("out")
    val oracle = graft.SparkEntry.oracleSql
    val res = plan.list("rows").map { row =>
      try {
        Rows.resetMemos()
        val df = Rows.all(row)(spark, dir)
        val digest = Digest.of(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$row")
        Map("row" -> row, "digest" -> digest, "oracle" -> oracle.get(row),
          "parquet_digest" -> Digest.of(spark.read.parquet(s"$out/$row")))
      } catch {
        case e: Throwable => Map("row" -> row, "error" -> String.valueOf(e.getMessage))
      }
    }
    Files.writeString(Paths.get(plan.str("result")), Json(res))
    spark.stop()
  }
}

/** Timed passes. Every sample is kept: no best-of-N, no retry. */
final class Runner(plan: Harness.Plan) {
  private val dir = plan.str("corpus")
  private val cpus = plan.str("cpus")
  private val traced = plan.int("trace") == 1
  private val write = plan.int("write") == 1
  private val outDir = plan.str("out")
  private val scratch = plan.str("scratch")
  private val orders = (0 until plan.int("passes")).map(i => plan.list(s"order.$i"))
  private val fns = Rows.all
  private val recorder = new Recorder
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val runId = plan.str("run_id")
  private var timedNs = 0L

  private def secs(ns: Long): Double = ns / 1e9
  private def now(): Long = System.nanoTime()
  private def wallMs(): Long = System.currentTimeMillis()

  private def span(name: String, parent: String, row: String, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (traced) spans += Map("name" -> name, "start_ms" -> start, "end_ms" -> end,
      "parent" -> parent, "run" -> runId, "row" -> row) ++ attrs

  /** utime + stime of this JVM, from /proc/self/stat. */
  private def cpuSecs(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0 // fields 14 and 15, in clock ticks
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Bytes of this SparkContext's materialized views: their scratch
    * directories are named graft_<applicationId>_*. */
  private def memoBytes(s: SparkSession): Long = {
    val prefix = s"graft_${s.sparkContext.applicationId}_"
    Option(new File(scratch).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix)).map(dirBytes).sum
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete()
  }

  private def drain(s: SparkSession): Window = {
    org.apache.spark.perfbench.BusShim.drain(s.sparkContext); recorder.take()
  }

  /** Untimed warm-up: one action per warm-up row. */
  private def warm(s: SparkSession): Unit = plan.list("warmup").foreach { row =>
    Rows.resetMemos()
    try Digest.of(fns(row)(s, dir))
    catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $row: ${e.getMessage}") }
  }

  def run(): Unit = {
    // Set-up: JVM start (timed from the spawn), session ready, warm-up.
    val spark = Harness.session(cpus)
    warm(spark)
    val setupS = (wallMs() - plan.str("spawn_ms").toLong) / 1e3
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val measureStart = now()
    val budgetNs = (plan.str("seconds").toDouble * 1e9).toLong
    // At least min_passes passes, so the first (coldest) pass is one
    // sample among several; traced runs add two for the traced half.
    val minPasses = plan.int("min_passes") + (if (traced) 2 else 0)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i < orders.size && (i < minPasses || now() - measureStart < budgetNs)) {
      // Traced runs alternate untraced and traced passes (U T U T U):
      // trace_overhead compares passes of one run, and the untraced
      // median is not the cold first pass.
      val tracedPass = traced && i % 2 == 1
      passes += pass(spark, i, orders(i), tracedPass)
      i += 1
    }
    val result = Map(
      "setup_s" -> setupS,
      "passes" -> passes,
      "peak_rss_mb" -> vmHwmMb(),
      "timed_s" -> secs(timedNs),
      "cores" -> cpus.toInt)
    Files.writeString(Paths.get(plan.str("result")), Json(result))
    if (traced)
      Files.writeString(Paths.get(plan.str("spans")), spans.map(Json(_)).mkString("", "\n", "\n"))
    spark.stop()
  }

  private def pass(base: SparkSession, index: Int, order: Seq[String],
      tracedPass: Boolean): Map[String, Any] = {
    Rows.resetMemos()
    deleteTree(new File(outDir))
    val s = base.newSession()
    if (tracedPass) {
      // Query listeners belong to a session, so each traced pass
      // registers its own.
      s.listenerManager.register(recorder)
      drain(s)
    }
    val passName = s"pass$index"
    val cpu0 = cpuSecs()
    val startMs = wallMs()
    val t0 = now()
    val rows = order.map(row => runRow(s, row, tracedPass, passName))
    val wallS = secs(now() - t0)
    val cpuS = cpuSecs() - cpu0
    span(passName, "run", "", startMs, wallMs())
    // Outside the pass window: written outputs are measured and
    // digested from the files, and the probe and storage figures read.
    val checked = if (!write) rows else rows.map { r =>
      if (r.contains("error")) r
      else try r + ("digest" -> Digest.of(s.read.parquet(s"$outDir/${r("row")}")))
      catch { case e: Throwable => r + ("error" -> s"read-back: ${e.getMessage}") }
    }
    val written =
      if (write) Map("output_mb" -> dirBytes(new File(outDir)) / 1048576.0) else Map.empty
    val extra = if (!tracedPass) Map.empty[String, Any] else Map(
      "tables_resolve_s" -> resolveProbe(base),
      "memo_disk_mb" -> memoBytes(s) / 1048576.0)
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Map("index" -> index, "traced" -> tracedPass, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "rows" -> checked) ++ written ++ extra
  }

  /** Table-resolution probe: load all ten tables plus the normalized
    * events view in a fresh session and force each schema. */
  private def resolveProbe(base: SparkSession): Double = {
    val s = base.newSession()
    val t0 = now()
    graft.util.Tables.names.foreach(n => graft.util.Tables.load(s, dir, n).schema)
    graft.util.Tables.loadEvents(s, dir).schema
    val d = secs(now() - t0)
    drain(s)
    d
  }

  private def runRow(s: SparkSession, row: String, tracedPass: Boolean,
      passName: String): Map[String, Any] = {
    val fn = fns(row)
    val rowStart = wallMs()
    var buildNs = 0L
    var actionNs = 0L
    var planNs = 0L
    var digest: String = null
    var error: String = null
    var phases = Map.empty[String, Long]
    var buildW: Window = null
    var actionW: Window = null
    try {
      val b0 = now()
      val df = fn(s, dir)
      buildNs = now() - b0
      if (tracedPass) buildW = drain(s)
      if (write) {
        val a0 = now()
        df.write.mode("overwrite").parquet(s"$outDir/$row")
        actionNs = now() - a0
      } else if (tracedPass) {
        // Plan explicitly, then run the action on the same
        // QueryExecution so nothing is planned twice.
        val p0 = now()
        val agg = Digest.frame(df)
        val qe = agg.queryExecution
        qe.optimizedPlan
        qe.executedPlan
        planNs = now() - p0
        phases = Seq("analysis", "optimization", "planning")
          .map(ph => ph -> Recorder.phaseMs(qe, ph)).toMap
        val a0 = now()
        digest = Digest.render(agg.collect()(0))
        actionNs = now() - a0
      } else {
        val a0 = now()
        digest = Digest.of(df)
        actionNs = now() - a0
      }
      if (tracedPass) actionW = drain(s)
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        if (tracedPass) { if (buildW == null) buildW = drain(s) else actionW = drain(s) }
    }
    timedNs += buildNs + planNs + actionNs
    System.err.println(f"[perfbench] $passName $row ${secs(buildNs + planNs + actionNs)}%.3f s" +
      Option(error).map(" " + _).getOrElse(""))
    val base = Map[String, Any]("row" -> row, "build_s" -> secs(buildNs),
      "plan_s" -> secs(planNs), "action_s" -> secs(actionNs),
      "wall_s" -> secs(buildNs + planNs + actionNs)) ++
      Option(digest).map("digest" -> _) ++ Option(error).map("error" -> _)
    if (!tracedPass) base
    else {
      val aw = Option(actionW).getOrElse(new Window)
      // Write rows plan inside the write call: take their phases from
      // the command's QueryExecution as the listener reported it.
      if (write) phases = Map(
        "analysis" -> aw.queries.map(_.analysisMs).sum,
        "optimization" -> aw.queries.map(_.optimizationMs).sum,
        "planning" -> aw.queries.map(_.planningMs).sum)
      val planMs = phases.values.sum
      val execS = if (write) math.max(0.0, secs(actionNs) - planMs / 1e3) else secs(actionNs)
      val both = Seq(buildW, aw).filter(_ != null)
      def total(f: Window => Long): Long = both.map(f).sum
      val jobs = both.flatMap(_.jobs)
      val rowName = s"$passName/$row"
      span(rowName, passName, row, rowStart, wallMs(), Map("queries" ->
        both.flatMap(_.queries).map(q => Map("func" -> q.func, "duration_s" -> q.durationNs / 1e9,
          "files" -> q.files, "bytes" -> q.bytes))))
      jobs.foreach(j => span(s"job${j.id}", rowName, row, j.start, j.end,
        Map("call_site" -> j.callSite)))
      both.flatMap(_.stages).foreach(st => span(s"stage${st.id}", rowName, row,
        st.start, st.end, Map("stage_name" -> st.name, "tasks" -> st.tasks)))
      base ++ Map(
        "plan_analysis_s" -> phases.getOrElse("analysis", 0L) / 1e3,
        "plan_optimization_s" -> phases.getOrElse("optimization", 0L) / 1e3,
        "plan_planning_s" -> phases.getOrElse("planning", 0L) / 1e3,
        "exec_s" -> execS,
        "build_jobs" -> Option(buildW).map(_.jobs.size).getOrElse(0),
        "tables_jobs" -> jobs.count(_.callSite.contains("Tables.scala")),
        "jobs" -> jobs.size,
        "stages" -> total(_.stages.size.toLong),
        "tasks" -> total(_.tasks),
        "executor_run_s" -> total(_.runMs) / 1e3,
        "executor_cpu_s" -> total(_.cpuNs) / 1e9,
        "jvm_gc_s" -> total(_.gcMs) / 1e3,
        "sched_delay_s" -> total(_.schedDelayMs) / 1e3,
        "shuffle_write_mb" -> total(_.shuffleWriteBytes) / 1048576.0,
        "shuffle_read_mb" -> total(_.shuffleReadBytes) / 1048576.0,
        "spill_mem_mb" -> total(_.spillMemBytes) / 1048576.0,
        "spill_disk_mb" -> total(_.spillDiskBytes) / 1048576.0,
        "peak_exec_mem_mb" -> both.map(_.peakExecMemBytes).maxOption.getOrElse(0L) / 1048576.0,
        "write_s" -> both.flatMap(_.queries).filter(_.files > 0).map(_.durationNs).sum / 1e9,
        "written_files" -> both.flatMap(_.queries).map(_.files).sum,
        "written_mb" -> both.flatMap(_.queries).map(_.bytes).sum / 1048576.0,
        "persisted_rdds" -> s.sparkContext.getPersistentRDDs.size,
        "storage_mem_mb" -> s.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    }
  }
}
