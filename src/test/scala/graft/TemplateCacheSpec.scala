package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{TemplateCache, TemplateHitExec}
import graft.sql.BigQueryDialect

/** The session's template cache: a repeated lookup template runs its
  * retained RDD with the new key bound, one job, the same rows. */
class TemplateCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  private lazy val cache = TemplateCache.of(spark).get

  /** A session on the same context without GraftExtensions: no cache. */
  private lazy val plain: SparkSession = {
    cache
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-template").toString

  private def orders(from: Long, to: Long): DataFrame = spark.range(from, to).select(
    col("id").as("o_orderkey"),
    (col("id") * 7919 % 2000 + 1).as("o_custkey"),
    (col("id") % 997 * 13.5).as("o_totalprice"),
    date_add(lit("1992-01-01").cast("date"), (col("id") % 2400).cast("int"))
      .as("o_orderdate"),
    (col("id") % 4).cast("int").as("o_bucket"))

  /** Registers `df` as view `name` in both sessions. */
  private def view(name: String, path: String): Unit =
    for (s <- Seq(spark, plain)) s.read.parquet(path).createOrReplaceTempView(name)

  /** `tc_orders` in one file; `tc_parts` partitioned by `o_bucket`;
    * `tc_orders4` in four files. */
  private lazy val tables: Unit = {
    orders(1, 20001).coalesce(1).write.parquet(s"$dir/orders")
    orders(1, 20001).write.partitionBy("o_bucket").parquet(s"$dir/parts")
    orders(1, 20001).repartition(4).write.parquet(s"$dir/orders4")
    view("tc_orders", s"$dir/orders")
    view("tc_parts", s"$dir/parts")
    view("tc_orders4", s"$dir/orders4")
  }

  private def point(k: Long, t: String = "tc_orders") =
    s"SELECT o_orderkey, o_totalprice, o_orderdate FROM $t WHERE o_custkey = $k"
  private def history(k: Long, t: String = "tc_orders") =
    s"SELECT o_orderkey, o_orderdate, o_totalprice FROM $t WHERE o_custkey = $k " +
      "ORDER BY o_orderdate DESC, o_orderkey"
  private def top1(k: Long, t: String = "tc_orders") = BigQueryDialect.translate(
    s"SELECT o_custkey, o_orderkey, o_totalprice FROM $t WHERE o_custkey BETWEEN $k " +
      s"AND $k + 9 QUALIFY row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey) = 1")

  private def served(df: DataFrame): Boolean = {
    def root(p: SparkPlan) = p.isInstanceOf[TemplateHitExec]
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => root(a.inputPlan)
      case p => root(p)
    }
  }

  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  private def rows(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().map(_.toString).toSeq

  /** Rows of `sql` on the cached session, and how many template runs
    * served them. */
  private def run(sql: String): (Seq[String], Long) = {
    val before = cache.hits.get
    val r = rows(spark, sql)
    (r, cache.hits.get - before)
  }

  test("for 20 keys of each lookup shape a hit returns the plain session's rows in one job") {
    tables
    for (shape <- Seq(point _, history _, top1 _)) {
      val warm = shape(3L, "tc_orders")
      rows(spark, warm); rows(spark, warm)
      for (k <- 1L to 1981L by 104L) {
        val sql = shape(k, "tc_orders")
        val df = spark.sql(sql)
        val before = cache.hits.get
        var got: Seq[String] = Nil
        assert(jobsOf { got = df.collect().map(_.toString).toSeq } === 1, sql)
        assert(served(df), sql)
        assert(cache.hits.get - before === 1, sql)
        assert(got.nonEmpty, sql)
        // same rows in the same order as the plain session
        assert(got === rows(plain, sql), sql)
      }
    }
  }

  test("each session has a cache of its own, and a session without GraftExtensions none") {
    tables
    val other = spark.newSession()
    assert(TemplateCache.of(other).exists(_ ne cache))
    assert(TemplateCache.of(plain).isEmpty)
    SparkSession.setActiveSession(spark)
  }

  test("two threads running one template with different keys each get their own rows") {
    tables
    rows(spark, history(5)); rows(spark, history(6))
    val keys = Seq((1L to 60L).toVector, (1000L to 1059L).toVector)
    val expected = keys.map(_.map(k => rows(plain, history(k))))
    val before = cache.hits.get
    val results = keys.map { ks =>
      val out = new Array[Seq[String]](ks.size)
      val t = new Thread(() => ks.indices.foreach(i => out(i) = rows(spark, history(ks(i)))))
      t.start()
      (t, out)
    }
    results.foreach(_._1.join())
    assert(results.map(_._2.toSeq) === expected)
    assert(cache.hits.get - before > 0)
  }

  test("a replaced temp view, a refreshed listing and a changed SQL conf miss or rebuild") {
    tables
    orders(1, 5001).coalesce(1).write.parquet(s"$dir/a")
    orders(5001, 10001).coalesce(1).write.parquet(s"$dir/b")
    orders(1, 5001).coalesce(1).write.parquet(s"$dir/grow")
    def check(sql: String): Long = {
      val (got, served) = run(sql)
      assert(got === rows(plain, sql), sql)
      served
    }
    // a replaced view reads the new files
    view("tc_swap", s"$dir/a")
    check(point(11, "tc_swap")); check(point(12, "tc_swap"))
    assert(check(point(13, "tc_swap")) === 1)
    view("tc_swap", s"$dir/b")
    assert(check(point(13, "tc_swap")) === 0)
    assert(rows(spark, point(13, "tc_swap")).nonEmpty)
    // a listing refreshed with a new file holding a new matching row
    view("tc_grow", s"$dir/grow")
    check(point(21, "tc_grow")); check(point(22, "tc_grow"))
    assert(check(point(21, "tc_grow")) === 1)
    val before = rows(spark, point(21, "tc_grow")).size
    spark.range(1).select(lit(900001L).as("o_orderkey"), lit(21L).as("o_custkey"),
        lit(1.5).as("o_totalprice"), lit("1999-01-01").cast("date").as("o_orderdate"),
        lit(1).as("o_bucket"))
      .write.mode("append").parquet(s"$dir/grow")
    for (s <- Seq(spark, plain)) s.catalog.refreshTable("tc_grow")
    assert(check(point(21, "tc_grow")) === 0)
    assert(rows(spark, point(21, "tc_grow")).size === before + 1)
    // the next run with the same listing builds again and serves
    assert(check(point(21, "tc_grow")) === 1)
    // a changed SQL conf
    check(point(31)); check(point(32))
    assert(check(point(33)) === 1)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try assert(check(point(33)) === 0)
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    check(point(34))
    assert(check(point(35)) === 1)
  }

  test("a dynamic-pruning build side planned as a template keeps the query and its pruning") {
    tables
    spark.range(0, 4).select(col("id").cast("int").as("b"), (col("id") * 10).as("x"))
      .coalesce(1).write.parquet(s"$dir/dim")
    view("tc_dim", s"$dir/dim")
    val sql = "SELECT count(*) AS n, sum(o_orderkey) AS s FROM tc_parts JOIN tc_dim " +
      "ON o_bucket = b WHERE x = 20"
    for (_ <- 1 to 3) {
      val df = spark.sql(sql)
      assert(df.collect().map(_.toString).toSeq === rows(plain, sql))
      assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        df.queryExecution.executedPlan.toString)
    }
  }

  test("a rand() plan, a partition filter, a multi-stage report and a write plan as today") {
    tables
    val builds = cache.builds.get
    val hits = cache.hits.get
    val queries = Seq(
      "SELECT o_orderkey, rand(7) AS r FROM tc_orders WHERE o_custkey = 7",
      "SELECT o_orderkey, o_custkey FROM tc_parts WHERE o_bucket = 2 AND o_custkey = 7",
      "SELECT o_custkey, count(*) AS n FROM tc_orders4 WHERE o_totalprice > 100 " +
        "GROUP BY o_custkey")
    for (sql <- queries; _ <- 1 to 3) {
      val df = spark.sql(sql)
      val got = df.collect().map(_.toString).toSeq
      assert(!served(df), sql)
      assert(got.sorted === rows(plain, sql).sorted, sql)
    }
    for (i <- 1 to 3) {
      spark.sql(point(40)).write.parquet(s"$dir/written$i")
      assert(spark.read.parquet(s"$dir/written$i").count() === rows(plain, point(40)).size)
    }
    assert(cache.builds.get === builds)
    assert(cache.hits.get === hits)
  }
}
