package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.HoistedLiteral

/** The plan rules GraftExtensions ships for interactive queries:
  * single-partition shuffle elision and filter-literal hoisting. */
class InteractivePlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  /** A session on the same context without GraftExtensions: the rules off. */
  private lazy val plain: SparkSession = {
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-interactive").toString

  /** orders in one file (one partition), in two files, and customers in
    * four files; each registered in both sessions. */
  private lazy val tables: Unit = {
    val orders = spark.range(1, 20001).select(
      col("id").as("o_orderkey"),
      (col("id") * 7919 % 2000 + 1).as("o_custkey"),
      (col("id") % 997 * 13.5).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), (col("id") % 2400).cast("int"))
        .as("o_orderdate"),
      concat(lit("P"), (col("id") % 5).cast("string")).as("o_orderpriority"))
    orders.coalesce(1).write.parquet(s"$dir/orders1")
    orders.repartition(2).write.parquet(s"$dir/orders2")
    spark.range(1, 2001).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id").cast("string")).as("c_name"))
      .repartition(4).write.parquet(s"$dir/customer4")
    for (s <- Seq(spark, plain); t <- Seq("orders1", "orders2", "customer4"))
      s.read.parquet(s"$dir/$t").createOrReplaceTempView(t)
  }

  private def point(k: Long, t: String = "orders1") =
    s"SELECT o_orderkey, o_totalprice FROM $t WHERE o_custkey = $k"
  private def history(k: Long, t: String = "orders1") =
    s"SELECT o_orderkey, o_orderdate, o_totalprice FROM $t WHERE o_custkey = $k " +
      "ORDER BY o_orderdate DESC, o_orderkey"
  private def top1(k: Long, t: String = "orders1") =
    "SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
      s"FROM $t WHERE o_custkey BETWEEN $k AND ${k + 9}) WHERE rn = 1"
  private val countDistinct =
    "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n, sum(o_totalprice) AS s " +
      "FROM orders1 GROUP BY o_orderpriority"
  private val join =
    "SELECT c_name, count(*) AS n FROM orders1 JOIN customer4 ON o_custkey = c_custkey " +
      "WHERE o_totalprice > 100 GROUP BY c_name"

  /** Every node of the plan as AQE first planned it. */
  private def initialNodes(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan.collect { case p => p }
      case p => p.collect { case n => n }
    }

  /** The plan the query ran (call after an action). */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  private def exchanges(df: DataFrame): Int =
    initialNodes(df).count(_.isInstanceOf[ShuffleExchangeExec])

  private def jobsOf(body: => Any): Int =
    org.apache.spark.TestListenerBus.jobsOf(spark.sparkContext)(body)

  private def withoutBroadcast[T](s: SparkSession)(body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    keys.foreach(s.conf.set(_, "-1"))
    try body finally keys.foreach(s.conf.unset)
  }

  private def rows(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().map(_.toString).toSeq

  test("lookup shapes over a one-file table plan no exchange and run one job") {
    tables
    for (sql <- Seq(point(17), history(17), top1(17))) {
      val df = spark.sql(sql)
      assert(exchanges(df) === 0, s"$sql\n${df.queryExecution.executedPlan}")
      assert(jobsOf(df.collect()) === 1, sql)
    }
    // the same shapes without the rules shuffle (history, top1) and
    // take a job per stage
    assert(exchanges(plain.sql(history(17))) === 1)
    assert(exchanges(plain.sql(top1(17))) === 1)
  }

  test("a two-partition input keeps its exchange") {
    tables
    val df = spark.sql(history(17, "orders2"))
    assert(exchanges(df) === 1, df.queryExecution.executedPlan.toString)
    assert(rows(spark, history(17, "orders2")) === rows(spark, history(17)))
  }

  test("a row-multiplying Generate or Expand keeps the plan's exchanges") {
    tables
    val exploded = "SELECT d, count(*) AS n FROM (SELECT explode(sequence(0, o_orderkey % 7)) " +
      "AS d FROM orders1) GROUP BY d"
    val expanded = "SELECT o_orderpriority, count(DISTINCT o_custkey) AS c, " +
      "count(DISTINCT o_orderdate) AS d FROM orders1 GROUP BY o_orderpriority"
    for (sql <- Seq(exploded, expanded)) {
      val df = spark.sql(sql)
      assert(exchanges(df) >= 1 && exchanges(df) === exchanges(plain.sql(sql)),
        df.queryExecution.executedPlan.toString)
      assert(rows(spark, sql).sorted === rows(plain, sql).sorted)
    }
  }

  test("a join of a one-partition side with a many-partition side keeps both exchanges") {
    tables
    withoutBroadcast(spark) {
      val df = spark.sql(join)
      assert(exchanges(df) >= 2, df.queryExecution.executedPlan.toString)
      assert(!initialNodes(df).exists(_.isInstanceOf[CoalesceExec]))
      withoutBroadcast(plain) {
        assert(rows(spark, join).sorted === rows(plain, join).sorted)
      }
    }
    assert(rows(spark, join).size === 2000)
  }

  test("count(DISTINCT) stacked exchanges elide together") {
    tables
    val plainPlan = plain.sql(countDistinct)
    assert(exchanges(plainPlan) === 2, plainPlan.queryExecution.executedPlan.toString)
    val df = spark.sql(countDistinct)
    assert(exchanges(df) === 0, df.queryExecution.executedPlan.toString)
    assert(initialNodes(df).count(_.isInstanceOf[CoalesceExec]) === 2)
    assert(jobsOf(df.collect()) === 1)
  }

  test("a write and a guarded CDC fold over one-file inputs run one job each") {
    tables
    assert(jobsOf(spark.sql(countDistinct).write.parquet(s"$dir/written")) === 1)
    assert(spark.read.parquet(s"$dir/written").collect().toSet ===
      plain.sql(countDistinct).collect().toSet)
    import graft.model.Incremental
    val path = s"$dir/cdc"
    def batch(name: String, keys: Range, seq: Long) = {
      spark.range(keys.start, keys.end).select(col("id").as("k"),
          concat(lit("v"), col("id").cast("string")).as("v"), lit("I").as("op"),
          lit(seq).as("seq"))
        .coalesce(1).write.parquet(s"$dir/$name")
      graft.sources.IO.readParquet(spark, s"$dir/$name")
    }
    Incremental.applyChangesGuarded(spark, batch("b1", 0 until 5000, 1L), path, Seq("k"))
    val b2 = batch("b2", 4000 until 6000, 2L)
    assert(jobsOf(Incremental.applyChangesGuarded(spark, b2, path, Seq("k"))) === 1)
    assert(Incremental.readCdcTable(spark, path).count() === 6000)
  }

  test("results are equal with the rules on and off") {
    tables
    val queries = Seq(point(17), history(17), top1(17), history(1999, "orders2"),
      top1(500, "orders2"), countDistinct, join,
      "SELECT count(*) FROM orders1 WHERE o_orderkey < 0",
      "SELECT o_orderpriority, max(o_orderdate) FROM orders1 " +
        "WHERE o_orderdate >= DATE '1995-03-01' AND o_totalprice < 500.5 GROUP BY 1")
    for (sql <- queries) {
      val on = rows(spark, sql)
      assert(on.nonEmpty, sql)
      assert(on.sorted === rows(plain, sql).sorted, sql)
    }
    // ordered results keep their order
    assert(rows(spark, history(17)) === rows(plain, history(17)))
  }

  test("a second run of a template with a new key compiles no class") {
    tables
    def compiles(sql: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sql(sql).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    for (t <- Seq(point _, history _, top1 _)) {
      compiles(t(101, "orders1"))
      assert(compiles(t(102, "orders1")) === 0, t(102, "orders1"))
    }
    // without hoisting, a new key compiles again
    def plainCompiles(sql: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      plain.sql(sql).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    plainCompiles(point(201))
    assert(plainCompiles(point(202)) > 0)
  }

  test("hoisting leaves the scan's pushed filters and the printed literal as they were") {
    tables
    // a DataFrame, not SQL text: a repeated statement is served from its
    // parse tree as a leaf, with no FilterExec of its own to inspect
    def query(s: SparkSession): DataFrame = s.table("orders1").where(
        col("o_custkey") === 17 && col("o_orderdate") > lit(java.sql.Date.valueOf("1994-01-01")) &&
          col("o_totalprice") >= 12.5)
      .select("o_orderkey")
    def scanFilters(s: SparkSession): Seq[String] = {
      val df = query(s)
      df.collect()
      finalPlan(df).collect { case f: FileSourceScanExec =>
        (f.metadata("PushedFilters") + " " + f.metadata("DataFilters"))
          .replaceAll("#\\d+", "") }
    }
    val pushed = scanFilters(spark)
    assert(pushed.nonEmpty && pushed.head.contains("EqualTo(o_custkey,17)"), pushed)
    assert(pushed === scanFilters(plain))
    val df = query(spark)
    df.collect()
    val filters = finalPlan(df).collect { case f: FilterExec => f }
    assert(filters.size === 1)
    assert(filters.head.condition.collect { case h: HoistedLiteral => h }.size === 3)
    // EXPLAIN prints the filter exactly as without the rule
    def conditions(s: SparkSession): Seq[String] = query(s).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.filter(_.startsWith("Condition")).map(_.replaceAll("#\\d+", "")).toSeq
    assert(conditions(spark).nonEmpty && conditions(spark) === conditions(plain))
    val cond = filters.head.condition.toString.replaceAll("#\\d+L?", "")
    assert(cond.contains("o_custkey = 17") && cond.contains("o_totalprice >= 12.5"), cond)
  }

  test("with AQE off, equal exchanges above a hoisted filter are still reused") {
    tables
    val side = "SELECT o_custkey, count(*) AS n FROM orders2 WHERE o_totalprice > 100 " +
      "GROUP BY o_custkey"
    val sql = s"SELECT a.o_custkey, a.n, b.n AS m FROM ($side) a JOIN ($side) b " +
      "ON a.o_custkey = b.o_custkey"
    def run(s: SparkSession): (Seq[String], Int) = withoutBroadcast(s) {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = s.sql(sql)
        val got = df.collect().map(_.toString).toSeq.sorted
        val plan = df.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[FilterExec]), plan)
        (got, plan.collect { case r: ReusedExchangeExec => r }.size)
      } finally s.conf.unset("spark.sql.adaptive.enabled")
    }
    val (got, reused) = run(spark)
    val (want, plainReused) = run(plain)
    assert(plainReused === 1)
    assert(reused === plainReused)
    assert(got.nonEmpty && got === want)
  }
}
