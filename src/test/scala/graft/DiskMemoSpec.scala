package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DiskMemo

/** DiskMemo's concurrency contract: every caller of a failed build sees
  * the builder's own exception, and a reset never lets a second build
  * of a key start while the first is still writing. A memo read runs
  * no job: it reads with the schema the build wrote. */
class DiskMemoSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private class MemoBoom(msg: String) extends RuntimeException(msg)

  /** Runs `body` on a new thread; the result is the thread plus a
    * holder for whatever `body` returned or threw. */
  private def fork[A](body: => A): (Thread, () => Either[Throwable, A]) = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(() => out =
      try Right(body) catch { case e: Throwable => Left(e) })
    t.start()
    (t, () => out)
  }

  /** Waits until `t` parks (blocked on a future or latch) or ends. */
  private def awaitParked(t: Thread): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (t.getState != Thread.State.WAITING &&
        t.getState != Thread.State.TERMINATED) {
      assert(System.nanoTime() < deadline, s"${t.getName} never parked")
      Thread.sleep(10)
    }
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  test("failed build: builder and concurrent waiter both see the builder's " +
      "exception; a later call rebuilds") {
    val tag = "memo_spec_fail"
    DiskMemo.reset(tag)
    val builds = new AtomicInteger()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def failing: DataFrame = {
      builds.incrementAndGet(); started.countDown()
      release.await(30, TimeUnit.SECONDS)
      throw new MemoBoom("planted build failure")
    }
    try {
      val (first, firstOut) = fork(DiskMemo.table(spark, sf, tag)(failing))
      assert(started.await(30, TimeUnit.SECONDS))
      val (waiter, waiterOut) = fork(DiskMemo.table(spark, sf, tag)(failing))
      awaitParked(waiter)
      release.countDown()
      first.join(); waiter.join()
      assert(builds.get == 1, "the waiter must not run a build of its own")
      Seq(firstOut(), waiterOut()).foreach {
        case Left(_: MemoBoom) =>
        case other => fail(s"expected MemoBoom, got $other")
      }
      val rebuilt = DiskMemo.table(spark, sf, tag) {
        builds.incrementAndGet(); Seq((1L, 2L)).toDF("a", "b")
      }
      assert(rows(rebuilt) == Seq((1L, 2L)))
      assert(builds.get == 2)
    } finally {
      release.countDown()
      DiskMemo.reset(tag)
    }
  }

  test("reset during a slow build waits for it: no second write to the path") {
    val tag = "memo_spec_reset"
    DiskMemo.reset(tag)
    val builds = new AtomicInteger()
    val inFlight = new AtomicInteger()
    val maxInFlight = new AtomicInteger()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def slow: DataFrame = {
      builds.incrementAndGet()
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      started.countDown()
      try {
        release.await(30, TimeUnit.SECONDS)
        Seq((builds.get.toLong, 7L)).toDF("a", "b")
      } finally inFlight.decrementAndGet()
    }
    try {
      val (builder, builderOut) = fork(DiskMemo.table(spark, sf, tag)(slow))
      assert(started.await(30, TimeUnit.SECONDS))
      val (resetter, _) = fork(DiskMemo.reset(tag))
      awaitParked(resetter)
      assert(resetter.isAlive, "reset returned while the build was in flight")
      // A caller arriving while the reset waits must join the running
      // build, not start a second write to the same path.
      val (late, lateOut) = fork(DiskMemo.table(spark, sf, tag)(slow))
      awaitParked(late)
      release.countDown()
      builder.join(); resetter.join(); late.join()
      assert(maxInFlight.get == 1, "two builds of one key ran at once")
      assert(builds.get == 1)
      assert(builderOut().map(rows) == Right(Seq((1L, 7L))))
      assert(lateOut().map(rows) == Right(Seq((1L, 7L))))
      // The reset did drop the key once the build had landed.
      assert(rows(DiskMemo.table(spark, sf, tag)(slow)) == Seq((2L, 7L)))
      assert(builds.get == 2)
    } finally {
      release.countDown()
      DiskMemo.reset(tag)
    }
  }

  /** Jobs started on this thread while `body` runs, and its result. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val group = s"memo_spec_jobs_${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "DiskMemoSpec job count")
    try {
      val out = body
      TestBus.drain(sc)
      (jobs.get, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a memo read runs no job and has the schema of its files") {
    val tag = "memo_spec_schema"
    DiskMemo.reset(tag)
    try {
      val built = DiskMemo.table(spark, sf, tag) {
        Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("k", "xs")
      }
      val (jobs, memo) = jobsOf {
        DiskMemo.table(spark, sf, tag)(fail("a memoized table was rebuilt"))
      }
      assert(jobs == 0, s"a memo read ran $jobs jobs")
      val path = new org.apache.hadoop.fs.Path(memo.inputFiles.head).getParent
      assert(memo.schema == spark.read.parquet(path.toString).schema)
      assert(memo.schema == built.schema)
      assert(memo.orderBy("k").collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[String](1))) == Seq((1L, Seq("a", "b")), (2L, Seq("c"))))
    } finally DiskMemo.reset(tag)
  }
}
