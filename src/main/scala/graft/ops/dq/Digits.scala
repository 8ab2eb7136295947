package graft.ops.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Digit forensics over money columns (SURVEY.md §2.18, §2.57, §2.89,
  * §2.90):
  *
  *  - `agg_benford`: first-significant-digit distribution of order
  *    totals against the Benford expectation ln(1+1/d)/ln(10) — the
  *    classic fraud / synthetic-data detector.
  *
  *  - `dq_benford_first_two`: Nigrini's first-two-digit test (the
  *    90-bin screen run between `agg_benford`'s 9 bins and
  *    `dq_benford_second_digit`'s marginal): digits 10–99, expected
  *    log10(1 + 1/d).
  *
  *  - `dq_benford_second_digit`: the second-significant-digit screen,
  *    the standard forensic follow-up (first digits survive naive
  *    fabrication; invented numbers betray themselves in the SECOND
  *    digit). Expected shares P(d) = Σ_{k=1..9} log10(1 + 1/(10k + d))
  *    are PINNED as double literals computed offline: the sum has no
  *    closed per-row form, so the whole table is pinned.
  *
  *  - `dq_last_digit_uniformity`: last-digit uniformity screen per
  *    return flag — χ² of the cents last digit against uniform.
  *    Trailing digits of honest money data should be UNIFORM, and
  *    humans fabricating numbers round them — the forensic
  *    complement of the leading-digit screens.
  *
  * The three Benford screens share one text for every decision:
  * digits are read from the DECIMAL(15,2) string form of o_totalprice
  * (both engines format it identically — never the raw double, whose
  * formatting is engine-specific) at a position and length per
  * screen; the two screens that read a second integer digit drop
  * totals < 10 (position 2 would be the decimal point; o_totalprice
  * ≥ 10 for every row of every SF, so the guard is a documented
  * no-op); ln(10) is pinned as its exact double literal (§1.5: no
  * cross-engine libm call the 6-dp rounding cannot bound).
  *
  * Scale shape: each screen is one hash aggregate over a projection;
  * the only global window is over the ≤ 90-row digit relation. The
  * last-digit screen is one map-side hash aggregate to a 30-row
  * (flag, digit) relation.
  *
  * Determinism: the χ² numerator 10·Σo² − n² stays integral
  * (≤ ~10¹³ at sf0.1), one double division floor-6-dp (§1.5).
  */
object Digits {

  private val LN10 = "2.302585092994046"

  /** Totals < 10 lack a second integer digit. */
  private val AtLeast10 = "\n  WHERE CAST(o_totalprice AS DECIMAL(15,2)) >= 10"

  /** CTEs `d` (the digits at `pos`, `len` wide, of each order total,
    * as `name`) and `c` (their counts `n`); `str` is the engine's
    * string type. */
  private def digitCounts(str: String, name: String, pos: Int, len: Int,
      guard: String = "") =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS $str), $pos, $len) AS INT) AS $name
       |  FROM orders$guard),
       |c AS (SELECT $name, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY $name)""".stripMargin

  /** Observed share of a digit row over the whole digit relation. */
  private val Share = "CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)"

  /** Benford's log10(1 + 1/d) of the digit column `d`. */
  private def benfordLog(d: String) =
    s"ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / CAST($d AS DOUBLE)) / $LN10"

  // ---- agg_benford ---------------------------------------------------
  private def benfordBody(str: String) =
    s"""${digitCounts(str, "digit", 1, 1)}
       |SELECT digit, n,
       |  round($Share, 6) AS share,
       |  round(${benfordLog("digit")}, 6) AS benford
       |FROM c
       |ORDER BY digit""".stripMargin

  /** Runs `body` over whatever `orders` relation is bound. */
  private def screenOn(body: String => String)(s: SparkSession,
      orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders")
    s.sql(body("STRING"))
  }

  private[graft] def benfordOn(s: SparkSession, orders: DataFrame): DataFrame =
    screenOn(benfordBody)(s, orders)

  // ---- dq_benford_first_two ------------------------------------------
  private def b12Body(str: String) =
    s"""${digitCounts(str, "digits", 1, 2, AtLeast10)}
       |SELECT digits, n,
       |  round($Share, 6) AS share,
       |  round(${benfordLog("digits")}, 6) AS benford12,
       |  round($Share
       |    - ${benfordLog("digits")}, 6) AS deviation
       |FROM c
       |ORDER BY digits""".stripMargin

  private[graft] def benford12On(s: SparkSession, orders: DataFrame): DataFrame =
    screenOn(b12Body)(s, orders)

  // ---- dq_benford_second_digit ---------------------------------------
  /** Σ_{k=1..9} log10(1 + 1/(10k + d)), d = 0..9, 17 significant
    * digits, E0-pinned (§1.5: bare decimals parse as DECIMAL). */
  private val Exp2 = IndexedSeq(
    "0.11967926859688073E0", "0.1138901034075564E0",
    "0.10882149900550823E0", "0.10432956023095939E0",
    "0.10030820226757937E0", "0.09667723580232243E0",
    "0.09337473578303615E0", "0.09035198926960332E0",
    "0.08757005357886138E0", "0.08499735205769224E0")

  private val expCase = Exp2.zipWithIndex
    .map { case (p, d) => s"WHEN $d THEN $p" }
    .mkString("CASE digit ", " ", " END")

  private def b2Body(str: String) =
    s"""${digitCounts(str, "digit", 2, 1, AtLeast10)}
       |SELECT digit, n,
       |  round($Share, 6) AS share,
       |  round($expCase, 6) AS benford2,
       |  round($Share
       |    - $expCase, 6) AS deviation
       |FROM c
       |ORDER BY digit""".stripMargin

  /** Planted inputs in Round57Spec exercise the totals-<10 exclusion
    * and a known distribution. */
  private[graft] def benford2On(s: SparkSession, orders: DataFrame): DataFrame =
    screenOn(b2Body)(s, orders)

  // ---- dq_last_digit_uniformity --------------------------------------
  // χ² against uniform over the 10 last digits of exact cents:
  // Σ(o − n/10)²/(n/10) = (10·Σo² − n²)/n — integral numerator.
  // Top digit tie-breaks toward the smaller digit.
  private[graft] def lastDigitUniformityOn(li: DataFrame): DataFrame = {
    val digits = li
      .select(col("l_returnflag"),
        (cents(col("l_extendedprice")) % 10).as("digit"))
      .groupBy(col("l_returnflag"), col("digit"))
      .agg(count(lit(1)).as("cnt"))
    val top = digits.withColumn("rk", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("digit"))))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("digit").as("top_digit"),
        col("cnt").as("top_digit_count"))
    digits.groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("cnt") * col("cnt")).as("q"))
      .join(top, "l_returnflag")
      .selectExpr("l_returnflag", "n_rows", "top_digit", "top_digit_count",
        """floor(((10*CAST(q AS DOUBLE) - CAST(n_rows AS DOUBLE)*n_rows)
          | / n_rows)*1e6 + 0.5)/1e6 AS chi2_uniform""".stripMargin)
      .orderBy("l_returnflag")
  }

  private val lastDigitUniformityOracle =
    """WITH digits AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2))*100 AS BIGINT) % 10
      |      AS digit,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_returnflag, digit AS top_digit, cnt AS top_digit_count
      |  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY cnt DESC, digit) AS rk FROM digits)
      |  WHERE rk = 1),
      |g AS (
      |  SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(sum(cnt*cnt) AS BIGINT) AS q
      |  FROM digits GROUP BY 1)
      |SELECT l_returnflag, n_rows, top_digit, top_digit_count,
      |  floor(((10*CAST(q AS DOUBLE) - CAST(n_rows AS DOUBLE)*n_rows)
      |   / n_rows)*1e6 + 0.5)/1e6 AS chi2_uniform
      |FROM g JOIN top USING (l_returnflag) ORDER BY l_returnflag""".stripMargin

  // ---- registration ------------------------------------------------

  private def overOrders(on: (SparkSession, DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => on(s, load(s, dir, "orders"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_benford" -> overOrders(benfordOn),
    "dq_benford_first_two" -> overOrders(benford12On),
    "dq_benford_second_digit" -> overOrders(benford2On),
    "dq_last_digit_uniformity" -> ((s: SparkSession, dir: String) =>
      lastDigitUniformityOn(load(s, dir, "lineitem")))
  )

  val oracle: Map[String, String] = Map(
    "agg_benford" -> benfordBody("VARCHAR"),
    "dq_benford_first_two" -> b12Body("VARCHAR"),
    "dq_benford_second_digit" -> b2Body("VARCHAR"),
    "dq_last_digit_uniformity" -> lastDigitUniformityOracle
  )
}
