package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Incremental
import graft.plans.{ServedStatement, ServedStatementExec, TemplateCache}
import graft.sql.BigQueryDialect

/** The session's template cache: a repeated SQL lookup template runs
  * its retained RDD with the new key bound, one job, the same rows. A
  * statement reaches it through its parse tree; a DataFrame query never
  * does. */
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

  /** The same lookups as DataFrames, which the cache never serves. */
  private def pointDf(k: Long) = spark.table("tc_orders").where(col("o_custkey") === k)
    .select("o_orderkey", "o_totalprice", "o_orderdate")
  private def historyDf(k: Long) = spark.table("tc_orders").where(col("o_custkey") === k)
    .select("o_orderkey", "o_orderdate", "o_totalprice")
    .orderBy(col("o_orderdate").desc, col("o_orderkey"))
  private def top1Df(k: Long) = spark.table("tc_orders")
    .where(col("o_custkey").between(k, k + 9))
    .withColumn("__rn", row_number().over(Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
    .where(col("__rn") === 1).select("o_custkey", "o_orderkey", "o_totalprice")

  private def statementServed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[ServedStatement]

  /** Seeded Zipf(1.1) draws over the 2,000 customer keys. */
  private def zipfKeys(n: Int, seed: Long): Seq[Long] = {
    val w = (1 to 2000).map(i => 1.0 / math.pow(i, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val u = rnd.nextDouble()
      (cdf.indexWhere(_ >= u) max 0) + 1L
    }
  }

  private def jobsOf(body: => Any): Int =
    org.apache.spark.TestListenerBus.jobsOf(spark.sparkContext)(body)

  private def rows(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().map(_.toString).toSeq

  /** Rows of `sql` on the cached session, and how many template runs
    * served them. */
  private def run(sql: String): (Seq[String], Long) = {
    val before = cache.hits.get
    val r = rows(spark, sql)
    (r, cache.hits.get - before)
  }

  test("each DataFrame lookup shape, collected 3 times, builds nothing and returns the plain session's rows") {
    tables
    val shapes = Seq[(Long => DataFrame, Long => String)](
      (pointDf, point(_)), (historyDf, history(_)), (top1Df, top1(_)))
    val (builds, hits, fingerprints) = (cache.builds.get, cache.hits.get, cache.fingerprints.get)
    for ((shape, sqlOf) <- shapes; k <- Seq(3L, 3L, 104L))
      assert(shape(k).collect().map(_.toString).toSeq === rows(plain, sqlOf(k)), sqlOf(k))
    assert(cache.builds.get === builds)
    assert(cache.hits.get === hits)
    assert(cache.fingerprints.get === fingerprints)
  }

  test("for 20 Zipf keys of each lookup shape a served statement returns the plain session's rows in one job") {
    tables
    for (shape <- Seq(point(_: Long, "tc_orders"), history(_: Long, "tc_orders"),
        top1(_: Long, "tc_orders"))) {
      rows(spark, shape(3L)); rows(spark, shape(3L))
      for (k <- zipfKeys(20, seed = 7)) {
        val sql = shape(k)
        val df = spark.sql(sql)
        assert(statementServed(df), sql)
        val before = cache.hits.get
        var got: Seq[String] = Nil
        assert(jobsOf { got = df.collect().map(_.toString).toSeq } === 1, sql)
        assert(cache.hits.get - before === 1, sql)
        assert(got.nonEmpty, sql)
        assert(got === rows(plain, sql), sql)
      }
    }
  }

  test("a served statement skips analysis, optimization and physical planning") {
    tables
    val sql = (k: Long) => history(k, "tc_orders")
    rows(spark, sql(3L)); rows(spark, sql(4L))
    /** `sql(k)` planned in `s`: the rule invocations of its analysis and
      * optimization that changed the plan, its physical plan, and
      * whether the cache served it. */
    def planned(s: SparkSession, k: Long) = {
      val df = s.sql(sql(k))
      val qe = df.queryExecution
      val physical = qe.executedPlan
      (qe.tracker.rules.values.map(_.numEffectiveInvocations).sum, physical, statementServed(df))
    }
    for (k <- Seq(5L, 104L, 1999L)) {
      val (effective, physical, served) = planned(spark, k)
      assert(effective === 0, sql(k))
      assert(physical.isInstanceOf[ServedStatementExec], s"${sql(k)}\n$physical")
      val (plainEffective, _, plainServed) = planned(plain, k)
      assert(plainEffective > 0, sql(k))
      assert(served && !plainServed, sql(k))
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
      assert(!statementServed(df), sql)
      assert(got.sorted === rows(plain, sql).sorted, sql)
    }
    assert(cache.builds.get === builds)
    // a statement's second parse builds its template before the action
    // is known, so the repeated write statement (a shape no other test
    // issues) builds one template; a write never runs a template
    val write = "SELECT o_orderdate, o_orderkey FROM tc_orders WHERE o_custkey = 40"
    for (i <- 1 to 3) {
      spark.sql(write).write.parquet(s"$dir/written$i")
      assert(spark.read.parquet(s"$dir/written$i").collect().map(_.toString).toSeq.sorted ===
        rows(plain, write).sorted)
    }
    assert(cache.builds.get - builds === 1)
    assert(cache.hits.get === hits)
  }

  test("USE of another database and a UDF registered under a called name miss or rebuild a served statement") {
    tables
    val s = spark.newSession()
    val own = TemplateCache.of(s).get
    s.read.parquet(s"$dir/orders").createOrReplaceTempView("tc_orders")
    SparkSession.setActiveSession(spark)
    def sql(k: Long) =
      s"SELECT o_orderkey, abs(o_totalprice - 100) AS p FROM tc_orders WHERE o_custkey = $k"
    /** Rows of `sql(k)` in `s`, checked against the plain session, and
      * whether the cache served them. */
    def check(k: Long): Boolean = {
      val before = own.hits.get
      val got = s.sql(sql(k)).collect().map(_.toString).toSeq
      assert(got === rows(plain, sql(k)), sql(k))
      own.hits.get - before == 1
    }
    try {
      check(1); check(2)
      assert(check(3))
      s.sql("CREATE DATABASE IF NOT EXISTS tc_other")
      s.catalog.setCurrentDatabase("tc_other")
      assert(!check(4))
      assert(check(5))
      s.catalog.setCurrentDatabase("default")
      assert(check(6))
      // a function of the same name replaces the one the template calls
      s.udf.register("abs", (d: Double) => d + 1000.0)
      for (k <- 7L to 9L) {
        val df = s.sql(sql(k))
        assert(!statementServed(df), sql(k))
        val expected = s.table("tc_orders").where(col("o_custkey") === k)
          .select(col("o_orderkey"), (col("o_totalprice") - 100 + 1000.0).as("p"))
        assert(df.collect().toSeq === expected.collect().toSeq, sql(k))
      }
    } finally {
      s.catalog.setCurrentDatabase("default")
      s.sql("DROP DATABASE IF EXISTS tc_other")
      SparkSession.setActiveSession(spark)
    }
  }

  test("current_date(), rand() and catalog-table statements are never served") {
    tables
    spark.read.parquet(s"$dir/orders").write.mode("overwrite").saveAsTable("tc_catalog_orders")
    try {
      val builds = cache.builds.get
      val hits = cache.hits.get
      val queries = Seq(
        "SELECT o_orderkey FROM tc_orders WHERE o_custkey = 5 AND o_orderdate < current_date()",
        "SELECT o_orderkey FROM tc_orders WHERE o_custkey = 5 AND rand(3) < 2.0",
        "SELECT o_orderkey FROM tc_catalog_orders WHERE o_custkey = 5")
      for (sql <- queries; _ <- 1 to 3) {
        val df = spark.sql(sql)
        assert(!statementServed(df), sql)
        // the plain session has a catalog of its own: it reads the view
        val same = sql.replace("tc_catalog_orders", "tc_orders")
        assert(df.collect().map(_.toString).toSeq.sorted === rows(plain, same).sorted, sql)
      }
      assert(cache.builds.get === builds)
      assert(cache.hits.get === hits)
    } finally spark.sql("DROP TABLE IF EXISTS tc_catalog_orders")
  }

  test("int, bigint and decimal(3,1) literals key different statement templates") {
    tables
    val sqls = Seq[String => String](
      v => s"SELECT o_orderkey, o_custkey FROM tc_orders WHERE o_custkey = $v",
      v => s"SELECT o_orderkey, o_custkey FROM tc_orders WHERE o_custkey = ${v}L",
      v => s"SELECT o_orderkey, o_custkey FROM tc_orders WHERE o_custkey = $v.0")
    val builds = cache.builds.get
    def servedRows(sql: String): Boolean = {
      val df = spark.sql(sql)
      assert(df.collect().map(_.toString).toSeq === rows(plain, sql), sql)
      statementServed(df)
    }
    // each type's first sighting misses, its second builds and serves
    for (sql <- sqls) {
      assert(!servedRows(sql("15")), sql("15"))
      assert(servedRows(sql("16")), sql("16"))
    }
    assert(cache.builds.get - builds === 3)
    for (sql <- sqls) assert(servedRows(sql("17")), sql("17"))
  }

  test("a filter, a join, a count or a write on a served statement returns the plain session's rows") {
    tables
    val sql = (k: Long) =>
      s"SELECT o_orderkey, o_totalprice, o_orderdate FROM tc_orders WHERE o_custkey BETWEEN $k AND ${k + 4}"
    rows(spark, sql(1)); rows(spark, sql(2))
    def both(k: Long) = {
      val df = spark.sql(sql(k))
      assert(statementServed(df), sql(k))
      (df, plain.sql(sql(k)))
    }
    def same(a: DataFrame, b: DataFrame) =
      assert(a.collect().map(_.toString).sorted.toSeq === b.collect().map(_.toString).sorted.toSeq)
    val (a, pa) = both(40)
    same(a.filter(col("o_totalprice") > 100), pa.filter(col("o_totalprice") > 100))
    val other = (s: SparkSession) => s.table("tc_orders4").select("o_orderkey", "o_bucket")
    same(a.join(other(spark), "o_orderkey"), pa.join(other(plain), "o_orderkey"))
    assert(a.count() === pa.count())
    assert(a.toLocalIterator().asScala.map(_.toString).toSeq.sorted ===
      pa.collect().map(_.toString).toSeq.sorted)
    val (b, _) = both(40)
    assert(a.join(b, "o_orderkey").count() === pa.count())
    a.write.parquet(s"$dir/served_written")
    same(spark.read.parquet(s"$dir/served_written"), pa)
    // and the served statement itself still collects from its template
    val (c, pc) = both(41)
    val before = cache.hits.get
    same(c, pc)
    assert(cache.hits.get - before === 1)
  }

  test("a served statement reads the views of its parse, as an analyzed statement does") {
    tables
    orders(1, 5001).coalesce(1).write.parquet(s"$dir/late_a")
    orders(5001, 10001).coalesce(1).write.parquet(s"$dir/late_b")
    def sorted(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    // a view replaced between spark.sql and the action
    val actions = Seq[DataFrame => Any](_.count(), sorted(_),
      df => sorted(df.filter(col("o_totalprice") > 100)),
      df => sorted(df.orderBy("o_orderkey").limit(3)))
    for ((action, i) <- actions.zipWithIndex) {
      val sql = (k: Long) => "SELECT o_custkey, o_orderkey, o_totalprice " +
        s"FROM tc_late$i WHERE o_custkey BETWEEN $k AND ${k + 4}"
      view(s"tc_late$i", s"$dir/late_a")
      rows(spark, sql(1)); rows(spark, sql(2))
      val df = spark.sql(sql(40))
      val pdf = plain.sql(sql(40))
      assert(statementServed(df), sql(40))
      view(s"tc_late$i", s"$dir/late_b")
      assert(action(df) === action(pdf), sql(40))
      assert(sorted(spark.sql(sql(40))) === sorted(plain.sql(sql(40))), sql(40))
    }
    // a view redefined in terms of itself
    view("tc_self", s"$dir/late_a")
    val self = (k: Long) =>
      s"SELECT o_custkey, o_orderkey, o_totalprice FROM tc_self WHERE o_custkey < $k"
    rows(spark, self(900)); rows(spark, self(901))
    val redefined = spark.sql(self(500))
    assert(statementServed(redefined))
    redefined.createOrReplaceTempView("tc_self")
    plain.sql(self(500)).createOrReplaceTempView("tc_self")
    for (q <- Seq("SELECT count(*) AS n, sum(o_orderkey) AS s FROM tc_self", self(300), self(301),
        self(302)))
      assert(rows(spark, q).sorted === rows(plain, q).sorted, q)
  }

  test("a WITH clause is never served: a view replaced inside a CTE body is read anew") {
    tables
    orders(1, 5001).coalesce(1).write.parquet(s"$dir/cte_a")
    orders(5001, 10001).coalesce(1).write.parquet(s"$dir/cte_b")
    val sql = (k: Long) =>
      s"WITH c AS (SELECT * FROM tc_cte) SELECT o_orderkey, o_totalprice FROM c WHERE o_custkey = $k"
    val hits = cache.hits.get
    val builds = cache.builds.get
    for (path <- Seq("cte_a", "cte_b"); k <- 11L to 13L) {
      view("tc_cte", s"$dir/$path")
      val df = spark.sql(sql(k))
      assert(!statementServed(df), sql(k))
      assert(df.collect().map(_.toString).toSeq.sorted === rows(plain, sql(k)).sorted, sql(k))
    }
    assert(cache.hits.get === hits)
    assert(cache.builds.get === builds)
  }

  test("cache() of a served statement serves the same statement issued again") {
    tables
    val sql = (k: Long) => s"SELECT o_orderkey, o_custkey, o_totalprice FROM tc_orders4 WHERE o_custkey = $k"
    rows(spark, sql(1)); rows(spark, sql(2))
    val served = spark.sql(sql(3))
    assert(statementServed(served))
    served.cache()
    try {
      val again = spark.sql(sql(3))
      assert(!statementServed(again))
      assert(again.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]),
        again.queryExecution.withCachedData)
      assert(again.collect().map(_.toString).toSeq.sorted === rows(plain, sql(3)).sorted)
      assert(served.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
      assert(served.count() === rows(plain, sql(3)).size)
      // another key is not the cached data
      assert(!spark.sql(sql(4)).queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
    } finally served.unpersist(blocking = true)
  }

  test("EXPLAIN of a served statement shows its own operators and values") {
    tables
    val sql = (k: Long) =>
      s"SELECT o_orderkey, o_totalprice FROM tc_orders WHERE o_custkey = $k AND o_totalprice > 50"
    rows(spark, sql(1)); rows(spark, sql(2))
    val a = spark.sql(sql(1234))
    val b = spark.sql(sql(1987))
    assert(statementServed(a) && statementServed(b))
    b.collect()
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("ServedStatement") && plan.contains("Filter") &&
      plan.contains("FileScan"), plan)
    assert("[^#\\d]1234\\b".r.findFirstIn(plan).nonEmpty, plan)
    assert("[^#\\d]1987\\b".r.findFirstIn(plan).isEmpty, plan)
    assert(a.queryExecution.toString.contains("ServedStatement"))
  }

  test("a table rewritten between reads marks its keys volatile; a stable lookup still builds and serves") {
    tables
    import spark.implicits._
    val path = s"$dir/cdc"
    Incremental.applyChangesGuarded(spark,
      (1L to 50L).map(k => (k, k * 10, "I", 1L)).toDF("k", "v", "op", "seq"), path, Seq("k"))
    val builds = cache.builds.get
    val volatiles = cache.volatiles.get
    var lastReads = 0L
    for (b <- 1 to 5) {
      val changes = (1 to 5).map(i => (((b * 7 + i) % 60 + 1).toLong, (b * 100 + i).toLong,
        if (i == 5) "D" else "U", b + 1L)).toDF("k", "v", "op", "seq")
      Incremental.applyChangesGuarded(spark, changes, path, Seq("k"))
      for (s <- Seq(spark, plain)) Incremental.readCdcTable(s, path).createOrReplaceTempView("tc_cdc")
      val key = ((b * 7 + 1) % 60 + 1).toLong
      val reads = Seq(s"SELECT k, v FROM tc_cdc WHERE k = $key",
        "SELECT count(1) AS n, coalesce(sum(v), 0) AS s FROM tc_cdc")
      val f0 = cache.fingerprints.get
      val got = reads.map(rows(spark, _))
      lastReads = cache.fingerprints.get - f0
      assert(got === reads.map(rows(plain, _)))
    }
    assert(cache.builds.get === builds)
    assert(cache.volatiles.get - volatiles === 2)
    assert(lastReads === 0)
    val stable = (k: Long) =>
      s"SELECT o_orderkey, o_totalprice * 3 AS p3 FROM tc_orders WHERE o_custkey = $k"
    val hits = cache.hits.get
    for (k <- 1L to 3L) assert(rows(spark, stable(k)) === rows(plain, stable(k)))
    assert(cache.builds.get - builds === 1)
    assert(cache.hits.get - hits === 2)
  }
}
