package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.26 — round-15 analytics operators: revenue
  * concentration (Herfindahl–Hirschman), categorical entropy,
  * DAU/WAU stickiness and Mann–Kendall trend tests. (The round's
  * Theil–Sen slope of the daily order series is in
  * [[timeseries.Stationarity]].)
  *
  * Scale shapes: every operator aggregates the fact down to an
  * entity- or horizon-bounded table before any window or self-join —
  * HHI and entropy are two chained hash aggregates; DAU/WAU explodes
  * the DEDUPED (user, day) activity 7× (map-side, linear); the
  * Mann–Kendall pair join is per-user over active DAYS (horizon-
  * bounded, ≤ span² pairs per user whatever the event volume).
  *
  * Float determinism: all double arithmetic starts from exact
  * integer counts or exact decimal sums; both engines then run the
  * same IEEE expression text and surfaced statistics are 6-dp
  * rounded (absorbing hash-aggregate summation-order drift, the
  * feature-scale discipline).
  */
object Composite12 {

  // ---- agg_hhi -----------------------------------------------------
  // Herfindahl–Hirschman concentration of order revenue across
  // customers, per order priority: HHI = Σ_c share_c² computed as
  // (Σ_c rev_c²) / (Σ_c rev_c)² so every accumulation is EXACT
  // decimal — the only doubles are the two final casts and one
  // division. rev_c fits DECIMAL(18,2) (per-customer revenue within
  // one priority), its square DECIMAL(37,4), and both engines
  // propagate the sum to DECIMAL(38,4); the decimal→double casts
  // route through VARCHAR on the oracle side (§1.5 rule 7 — the
  // scaled sum-of-squares integer exceeds 2^53 immediately).
  // eff_n = 1/HHI is the "effective number of customers".
  private def hhi(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_custkey"))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("rev")).cast("decimal(38,2)").as("tot"),
        sum(col("rev") * col("rev")).cast("decimal(38,4)").as("ssq"))
      .select(col("o_orderpriority"), col("n_cust"),
        round(asD(col("ssq")) / (asD(col("tot")) * asD(col("tot"))), 6)
          .as("hhi"),
        round((asD(col("tot")) * asD(col("tot"))) / asD(col("ssq")), 6)
          .as("eff_n"))
      .orderBy("o_orderpriority")

  private val hhiOracle =
    """WITH rc AS (
      |  SELECT o_orderpriority, o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(18,2)) AS rev
      |  FROM orders GROUP BY o_orderpriority, o_custkey),
      |p AS (
      |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_cust,
      |    CAST(CAST(CAST(sum(rev) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS tot,
      |    CAST(CAST(CAST(sum(rev * rev) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS ssq
      |  FROM rc GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n_cust,
      |  round(ssq / (tot * tot), 6) AS hhi,
      |  round((tot * tot) / ssq, 6) AS eff_n
      |FROM p ORDER BY o_orderpriority""".stripMargin

  // ---- agg_entropy -------------------------------------------------
  // Shannon entropy (bits) of each event type's hour-of-day
  // distribution — the "how bursty is this signal across the clock"
  // audit. Counts are exact; H = log2(n) − (Σ_h c_h·log2(c_h))/n
  // avoids forming per-bucket probabilities (one fewer division per
  // bucket and the Σ runs over ≤24 terms — 6-dp rounding absorbs its
  // ordering drift). uniformity = H / log2(n_hours) ∈ (0, 1].
  private def entropy(s: SparkSession, dir: String): DataFrame =
    loadEvents(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).cast("bigint").as("n"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("sclc"))
      .select(col("event_type"), col("n"), col("n_hours"),
        round(log2(col("n").cast("double")) -
          col("sclc") / col("n").cast("double"), 6).as("entropy_bits"),
        round((log2(col("n").cast("double")) -
          col("sclc") / col("n").cast("double")) /
          log2(col("n_hours").cast("double")), 6).as("uniformity"))
      .orderBy("event_type")

  private val entropyOracle =
    """WITH hb AS (
      |  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS h,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY event_type, hour(CAST(ts AS TIMESTAMP))),
      |p AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |    CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS sclc
      |  FROM hb GROUP BY event_type)
      |SELECT event_type, n, n_hours,
      |  round(log2(CAST(n AS DOUBLE)) - sclc / CAST(n AS DOUBLE), 6)
      |    AS entropy_bits,
      |  round((log2(CAST(n AS DOUBLE)) - sclc / CAST(n AS DOUBLE)) /
      |    log2(CAST(n_hours AS DOUBLE)), 6) AS uniformity
      |FROM p ORDER BY event_type""".stripMargin

  // ---- evt_dau_wau -------------------------------------------------
  // Daily active users, 7-day rolling weekly active users, and the
  // DAU/WAU stickiness ratio per day. The fact dedupes to (user, day)
  // FIRST (one shuffle, the only corpus-sized exchange); each active
  // day then contributes the user to the 7 cover days [d, d+6] via a
  // map-side sequence explosion (7×, linear — no rolling
  // count-distinct window, which Spark cannot compute incrementally
  // anyway). A second distinct collapses multi-day contributions to
  // the same cover day. Cover days outside the observed span (the
  // trailing d+1..d+6 spill) are dropped by joining back to the DAU
  // day list, which also keeps the stickiness denominator honest.
  private def dauWau(s: SparkSession, dir: String): DataFrame = {
    val activity = loadEvents(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dau = activity.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = activity
      .select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("cd"))
      .distinct()
      .groupBy(col("cd")).agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("d") === wau("cd"))
      .select(col("d"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("d")
  }

  private val dauWauOracle =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY d),
      |wau AS (
      |  SELECT dd.d, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
      |  FROM (SELECT DISTINCT d FROM a) dd
      |  JOIN a ON a.d BETWEEN dd.d - 6 AND dd.d
      |  GROUP BY dd.d)
      |SELECT dau.d, dau.dau, wau.wau,
      |  round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
      |    AS stickiness
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY dau.d""".stripMargin

  // ---- win_mann_kendall --------------------------------------------
  // Mann–Kendall monotonic-trend test per user over the daily event
  // COUNT series (counts, not double sums — sign() on exact integers
  // can never flip on accumulation drift). S = Σ_{i<j} sign(c_j−c_i)
  // via the per-user pair self-join (days are horizon-bounded, so
  // pairs/user ≤ span² regardless of event volume); the tie-corrected
  // variance subtracts Σ_t t(t−1)(2t+5) over tie groups of the count
  // value; Z applies the ±1 continuity correction. Users with <10
  // active days are excluded (the test is meaningless below that).
  private def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = loadEvents(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val sStat = daily.as("a")
      .join(daily.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") < col("b.d"))
      .groupBy(col("a.user_id").as("user_id"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("bigint")).as("s"))
    val ties = daily.groupBy(col("user_id"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_corr"))
    val varF =
      """(CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
        |  - CAST(tie_corr AS DOUBLE)) / 18.0""".stripMargin
    sStat.join(ties, "user_id")
      .filter(col("n_days") >= 10)
      .select(col("user_id"), col("n_days"), col("s"),
        round(expr(varF), 6).as("var_s"),
        round(expr(
          s"""CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt($varF)
             |     WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt($varF)
             |     ELSE CAST(0 AS DOUBLE) END""".stripMargin), 6).as("z"))
      .orderBy("user_id")
  }

  private val mannKendallOracle =
    """WITH daily AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)),
      |s AS (
      |  SELECT a.user_id, CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s
      |  FROM daily a JOIN daily b
      |    ON a.user_id = b.user_id AND a.d < b.d
      |  GROUP BY a.user_id),
      |ties AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(sum(t) AS BIGINT) AS n_days,
      |    CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie_corr
      |  FROM (SELECT user_id, c, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY user_id, c)
      |  GROUP BY user_id)
      |SELECT s.user_id, n_days, s,
      |  round((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
      |    - CAST(tie_corr AS DOUBLE)) / 18.0, 6) AS var_s,
      |  round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) /
      |      sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
      |        - CAST(tie_corr AS DOUBLE)) / 18.0)
      |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) /
      |      sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
      |        - CAST(tie_corr AS DOUBLE)) / 18.0)
      |    ELSE CAST(0 AS DOUBLE) END, 6) AS z
      |FROM s JOIN ties ON s.user_id = ties.user_id
      |WHERE n_days >= 10
      |ORDER BY s.user_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hhi" -> (hhi _),
    "agg_entropy" -> (entropy _),
    "evt_dau_wau" -> (dauWau _),
    "win_mann_kendall" -> (mannKendall _)
  )

  val oracle: Map[String, String] = Map(
    "agg_hhi" -> hhiOracle,
    "agg_entropy" -> entropyOracle,
    "evt_dau_wau" -> dauWauOracle,
    "win_mann_kendall" -> mannKendallOracle
  )
}
