package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** t1 smoke (SURVEY §5): every SparkEntry query runs end-to-end on
  * sf0.001 and yields a sane row count. Oracle hash-parity is checked
  * by Verify + tools/compare.py (and the driver) — not here.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  // q_join_anti can be legitimately empty at tiny SF; all others must
  // produce rows.
  val mayBeEmpty = Set("q_join_anti")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val n = fn(spark, dir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("Verify.dump writes the selected results and an oracle_sql.json that round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    Verify.dump(spark, dir, out, Some(Set("q1_agg")))
    assert(spark.read.parquet(s"$out/q1_agg").count() > 0)
    assert(!new java.io.File(s"$out/q_tpch_q3").exists())
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      new java.io.File(s"$out/oracle_sql.json"),
      classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap === SparkEntry.oracleSql)
  }
}

object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      // the functions and plan rules GraftSession.local ships
      .withExtensions(new graft.sql.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // the file system GraftSession.local ships
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
