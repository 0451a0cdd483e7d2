package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.BqFunctions._

/** SURVEY §2.8/§2.9 scalar-function rows + the composite cascades, over
  * the TPC-H-ish testdata. Inputs the reference reads from user columns
  * (birthday strings, race/gender tags, coordinates) are synthesized
  * deterministically from integer keys INSIDE the query so the DuckDB
  * oracle can derive byte-identical inputs.
  */
object ScalarQueries {

  /** F1-F9: lower/trim/concat/substr/regexp_replace/rlike/nullif/
    * coalesce/length. All codegen'd built-ins — no UDFs. */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer.select(
      col("c_custkey"),
      lower(col("c_name")).as("name_lower"),
      concat(lower(trim(col("c_name"))), lit("-"), col("c_mktsegment")).as("tagged"),
      substring(col("c_name"), 1, 9).as("name_prefix"),
      regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
      when(col("c_name").rlike("[13579]$"), "odd").otherwise("even").as("key_parity"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg_coal"),
      length(col("c_name")).as("name_len"))

  /** F8 + the reference's bucketing cascades (user_base.sql:18-43):
    * race/gender tag strings synthesized from c_custkey, then the exact
    * multi-branch CASE cascades incl. multiracial counting. */
  def qCaseBuckets(spark: SparkSession, dir: String): DataFrame = {
    val m11 = col("c_custkey") % 11
    val raceTag =
      when(m11 === 0, lit(null).cast(StringType))
        .when(m11 === 1, "Prefer not to say")
        .when(m11 === 2, "White")
        .when(m11 === 3, "White, Black or African American")
        .when(m11 === 4, "Hispanic or Latinx")
        .when(m11 === 5, "South Asian")
        .when(m11 === 6, "Native Hawaiian or other Pacific Islander")
        .when(m11 === 7, "Other")
        .when(m11 === 8, "White, Hispanic or Latinx, Other")
        .when(m11 === 9, "Black or African American")
        .otherwise("East Asian")
    val m7 = col("c_custkey") % 7
    val genderTag =
      when(m7 === 0, lit(null).cast(StringType))
        .when(m7 === 1, "Man")
        .when(m7 === 2, "Woman")
        .when(m7 === 3, "Man, Woman")
        .when(m7 === 4, "Prefer not to say")
        .when(m7 === 5, "Prefer to self-describe")
        .otherwise("Genderfluid")
    Tables(spark, dir).customer
      .select(col("c_custkey"), raceTag.as("race_ethnicity"), genderTag.as("gender"))
      .withColumn("race", raceBucket(col("race_ethnicity")))
      .withColumn("gender_sum", genderBucket(col("gender")))
  }

  /** D1-D4: year/month extraction, MMdd formatting, BigQuery
    * year-boundary DATE_DIFF, month truncation, day diff. Fixed asOf
    * date (not current_date) for oracle determinism. */
  def qDateFuncs(spark: SparkSession, dir: String): DataFrame = {
    val asOf = to_date(lit("2026-08-12"))
    Tables(spark, dir).orders.select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"),
      month(col("o_orderdate")).as("o_month"),
      date_format(col("o_orderdate"), "MMdd").as("mmdd"),
      (year(asOf) - year(col("o_orderdate"))).as("bq_year_diff"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      datediff(asOf, col("o_orderdate").cast(DateType)).as("days_to_asof"))
  }

  /** D5: the full age computation (user_base.sql:48-54) on birthday
    * strings ('MM-YYYY', some null, some garbage) synthesized from
    * c_custkey; SAFE-parse ⇒ null age on garbage. */
  def qAgeComposite(spark: SparkSession, dir: String): DataFrame = {
    val birthday =
      when(col("c_custkey") % 17 === 0, lit(null).cast(StringType))
        .when(col("c_custkey") % 23 === 0, "garbage")
        .otherwise(concat(
          lpad((col("c_custkey") % 12 + 1).cast(StringType), 2, "0"),
          lit("-"),
          (col("c_custkey") % 60 + 1950).cast(StringType)))
    Tables(spark, dir).customer
      .select(col("c_custkey"), birthday.as("birthday"))
      .withColumn("age", ageAsOf(col("birthday"), to_date(lit("2026-08-12"))))
  }

  /** D6-D8: haversine miles (the reference's ST_DISTANCE/1609.34 with
    * the >10-mile branch, locations_clean.sql:48,63) on coordinates
    * synthesized from keys; rounded to 4dp on both sides. */
  def qHaversine(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lat1 = (col("c_custkey") % 120) - 60 + 0.25
    val lon1 = (col("c_custkey") % 300) - 150 + 0.5
    val lat2 = (col("n_nationkey") % 100) - 50 + 0.75
    val lon2 = (col("n_nationkey") * 13 % 330) - 165 + 0.25
    t.customer.join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        round(haversineMiles(lat1, lon1, lat2, lon2), 4).as("dist_mi"))
      .withColumn("proximity", when(col("dist_mi") > 10, "far").otherwise("near"))
  }

  /** Spheroid-exact variant of [[qHaversine]]: same synthesized
    * coordinate pairs and the same >10-mile branch, but the distance
    * is the WGS84 Vincenty geodesic
    * ([[graft.expressions.VincentyDistance]]) instead of the sphere
    * haversine — what live BigQuery's ST_DISTANCE computes, so the
    * reference's 10-mile threshold (locations_clean.sql:63) classifies
    * identically to production near the boundary. Oracle: the SAME
    * fixed-iteration formula unrolled in DuckDB, generated from the
    * shared constants (OperatorOracles.vincentyMilesSql). */
  def qHaversineSpheroid(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lat1 = (col("c_custkey") % 120) - 60 + 0.25
    val lon1 = (col("c_custkey") % 300) - 150 + 0.5
    val lat2 = (col("n_nationkey") % 100) - 50 + 0.75
    val lon2 = (col("n_nationkey") * 13 % 330) - 165 + 0.25
    t.customer.join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        round(graft.expressions.VincentyDistance.stDistanceSpheroid(
          lat1, lon1, lat2, lon2) / 1609.34, 4).as("dist_mi"))
      .withColumn("proximity", when(col("dist_mi") > 10, "far").otherwise("near"))
  }

  /** Geo radius search through the [[graft.expressions.StDWithin]]
    * marker predicate + [[graft.plans.RewriteStDWithin]] optimizer
    * rule: the rule expands the predicate into a literal bounding
    * box — pushdown-able comparisons on the point columns — AND the
    * exact codegen'd haversine residual, so only box rows pay the
    * transcendentals. The rule is registered at session BUILD
    * (GraftExtensions via GraftSession.local), never here: a query function
    * mutating the shared session's extraOptimizations would leak the
    * rule into unrelated queries and tests. On a session without the
    * rule this is still exactly correct — just unindexed (the
    * marker's own eval). The oracle filters on the plain haversine
    * compare: the rewrite must not change a single row. */
  def qGeoRadius(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lat = (col("c_custkey") % 120) - 60 + 0.25
    val lon = (col("c_custkey") % 300) - 150 + 0.5
    t.customer.select(col("c_custkey"), lat.as("lat"), lon.as("lon"))
      .filter(graft.expressions.StDWithin.stDWithin(
        // 3500 mi: the sf0.001 lon grid is all-negative (custkey ≤ 150
        // → lon ≤ 0.5) and its nearest point is 3157 mi out — a 3000
        // radius matches nothing at smoke SF
        col("lat"), col("lon"), lit(10.25), lit(20.5), lit(3500.0)))
      .select(col("c_custkey"),
        round(haversineMiles(col("lat"), col("lon"), lit(10.25), lit(20.5)), 4)
          .as("dist_mi"))
  }

  /** §2.4-adjacent stats pack: min/max/count/count-distinct + exact avg
    * via integer cents. */
  def qAggStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (sum(round(col("o_totalprice") * 100, 0).cast(LongType)) / 100.0 / count(lit(1)))
          .as("avg_price"))

  /** Batch gap-sessionization (30-min inactivity) via lag + running
    * sum of session-start markers — the SQL-expressible twin of
    * StreamingOps.sessionize. One shuffle on user_id; both windows and
    * the final group reuse that clustering. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val marked = e
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100, 0).cast(LongType)) / 100.0).as("sum_value"))
  }

  /** Rolling-frame breadth: a 7-row moving average (ROWS BETWEEN) and
    * a trailing 1-hour sum (RANGE BETWEEN over epoch-µs) per user —
    * the two window-frame families analytics rely on. Integer-cents
    * arithmetic inside the frames keeps double summation order out of
    * the result (oracle-parity discipline). One shuffle on user_id
    * shared by both frames. */
  def qRolling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100, 0).cast(LongType).as("cents"))
    val rows7 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
    val hourUs = 3600L * 1000000
    val range1h = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts"))).rangeBetween(-hourUs, 0)
    e.select(col("event_id"), col("user_id"),
      round(avg(col("cents")).over(rows7) / 100.0, 6).as("ma7"),
      (sum(col("cents")).over(range1h) / 100.0).as("sum1h"))
  }

  /** Streaming-shaped batch: tumbling 1-hour windowed counts/sums over
    * the events table (the batch twin of the structured-streaming path
    * in graft.streaming). */
  def qEventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0).cast(LongType)) / 100.0).as("sum_value"))
}
