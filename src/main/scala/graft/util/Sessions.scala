package graft.util

import org.apache.spark.sql.SparkSession

/** Single definition of the engine's session config — Verify, Bench,
  * Explain, MakeBigSf, perfbench and the test fixture all build through
  * here so a new session-level flag (like the parquet-nanos one) can
  * never be set in one entry point and missed in another. */
object Sessions {

  /** A `local[cpus]` session with the engine's extensions and config.
    *
    * Sessions share compiled code. Spark caches each generated class in
    * `CodeGenerator.compile` under the key (thread context classloader,
    * code body). With `spark.sql.artifact.isolation.enabled` at its
    * default (true) every session gets its own artifact classloader and
    * its tasks compile under it, so a `newSession()` never hits a class
    * an earlier session compiled: every whole-stage class is
    * Janino-compiled, then JIT-compiled, once per session. Pinning it to
    * false keys every session's code on the shared loader, so a class
    * one session compiled is reused by later sessions for as long as it
    * stays in the cache (`spark.sql.codegen.cache.maxEntries`, left at
    * its default). Plans, jobs and outputs are unchanged.
    *
    * Contract this relies on: the engine adds no per-session jars, files
    * or artifacts (no `addArtifact`/`addJar`); with isolation off such
    * an addition would be visible to every session. SessionsSpec pins
    * the flag and the cross-session cache hit.
    *
    * File scans run in whole waves. Spark sizes file splits as
    * `maxSplitBytes = min(128 MB, max(openCostInBytes = 4 MB,
    * totalBytes / minPartitionNum))`, where every file counts its
    * length plus the 4 MB open cost and `minPartitionNum` defaults to
    * the core count (MB here is 2^20 bytes, as in Spark's confs). Ten
    * 10.2 MB one-row-group files (the x10 lineitem) total ≈146 MB, so
    * at `local[4]` splits are 37 MB and pack two files each: 5 scan
    * tasks on 4 cores, one of them alone in a second wave.
    * `spark.sql.files.minPartitionNum = 2 × cpus` halves the split size
    * (18 MB, one file per split: 10 tasks). At 4 cores or more the
    * 4 MB open-cost floor keeps every one-file table of up to 12 MB
    * (every sf0.1 table) splitting as before; at 8 cores the ten files
    * already scan as 10 splits. SessionsSpec pins the rule. */
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum", (2 * cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); see Tables.loadEvents
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined" on ANY global window —
    // including the engine's bounded ones (rrfFuse and the global
    // top-k rankers all run over post-limit inputs of ≤100–1000 rows,
    // audited in VERDICT r4). The warning is noise for those plans
    // and it spams the driver's truncated stdout tail, so this one
    // logger is pinned to ERROR for engine-built sessions.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
