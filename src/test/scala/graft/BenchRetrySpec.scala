package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's suspect-retry decision as a pure function: the back-off
  * ladder, its stop rules, and the run-wide budget that bounds it. */
class BenchRetrySpec extends AnyFunSuite {
  import Bench.{RetryBackoffBudgetMs, retryBackoff}

  /** Sleeps a row takes when every window stays suspect, replaying the
    * bench loop: 3 s doubling to a 30 s cap, budget shared by the run. */
  private def ladder(budget0: Long): (List[Long], Long) = {
    var budget = budget0
    var backoff = 3000L
    var reruns = 1 // the standard single rerun always happens
    val sleeps = List.newBuilder[Long]
    var next = retryBackoff(reruns, anyClean = false, backoff, budget)
    while (next.isDefined) {
      sleeps += next.get
      budget -= next.get
      backoff = math.min(backoff * 2, 30000L)
      reruns += 1
      next = retryBackoff(reruns, anyClean = false, backoff, budget)
    }
    (sleeps.result(), budget)
  }

  test("retryBackoff: a clean window or five reruns stop the row") {
    assert(retryBackoff(1, anyClean = true, 3000L, RetryBackoffBudgetMs).isEmpty)
    assert(retryBackoff(5, anyClean = false, 3000L, RetryBackoffBudgetMs).isEmpty)
    assert(retryBackoff(4, anyClean = false, 24000L, RetryBackoffBudgetMs)
      .contains(24000L))
  }

  test("retryBackoff: with budget left a suspect row sleeps the 3-6-12-24 s ladder") {
    val (sleeps, left) = ladder(RetryBackoffBudgetMs)
    assert(sleeps == List(3000L, 6000L, 12000L, 24000L))
    assert(left == RetryBackoffBudgetMs - 45000L)
  }

  test("retryBackoff: a spent budget leaves only the standard single rerun") {
    assert(ladder(0L)._1.isEmpty)
    assert(retryBackoff(1, anyClean = false, 3000L, 2999L).isEmpty)
    // a partly spent budget cuts the ladder where the next sleep no
    // longer fits, and never goes negative
    val (sleeps, left) = ladder(10000L)
    assert(sleeps == List(3000L, 6000L) && left == 1000L)
  }

  test("retryBackoff: all-suspect rows share one run budget") {
    var budget = RetryBackoffBudgetMs
    val perRow = (1 to 30).map { _ =>
      val (sleeps, left) = ladder(budget)
      budget = left
      sleeps.sum
    }
    assert(perRow.sum <= RetryBackoffBudgetMs)
    assert(perRow.head == 45000L && perRow.last == 0L)
  }
}
