package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row-id pin: the registered query and oracle ids equal the committed
  * lists in `graft/query_ids.txt` / `graft/oracle_ids.txt`. Moving rows
  * between modules must not add, drop or rename one; a deliberate
  * change to the surface updates the lists in the same commit. */
class RegistryPinSpec extends AnyFunSuite {

  private def pinned(resource: String): Set[String] = {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"missing test resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  private def assertSame(got: Set[String], want: Set[String]): Unit =
    assert(got == want,
      s"missing: ${(want -- got).toSeq.sorted.mkString(", ")}; " +
        s"unexpected: ${(got -- want).toSeq.sorted.mkString(", ")}")

  test("SparkEntry.queries ids equal the pinned list") {
    assertSame(SparkEntry.queries.keySet, pinned("/graft/query_ids.txt"))
  }

  test("SparkEntry.oracleSql ids equal the pinned list") {
    assertSame(SparkEntry.oracleSql.keySet, pinned("/graft/oracle_ids.txt"))
  }
}
