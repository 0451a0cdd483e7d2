package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet source catalog over a testdata scale-factor directory.
  *
  * Spark-native analog of the reference's dbt source declarations
  * (`/root/reference/models/sources.yml:3-20`): a name -> DataFrame
  * resolver with schema-on-read (parquet footers carry the schema).
  *
  * At cluster scale the same API fronts a real catalog (Hive/Unity/Glue);
  * here it is a directory of parquet files. Reads are lazy — Catalyst
  * prunes columns and pushes filters into the scan, so `table(...)` is
  * free until an action runs: it submits no job, the schema coming
  * from one footer read on the driver ([[IO.readParquet]]).
  */
final class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = IO.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.ts layout has varied across testdata generations:
    * TIMESTAMP(NANOS) (which Spark 4 refuses by default — read nanos
    * as long and truncate to µs) or TIMESTAMP(MICROS) (arrives as NTZ
    * — cast to the session-UTC instant type). Dispatch on the footer
    * schema so both layouts surface the identical µs TimestampType
    * column downstream queries were verified against. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view so spark.sql(...) works too.
    * `events` registers through the converting accessor so SQL sees the
    * same µs-timestamp schema as the DataFrame path. */
  def registerAll(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => table(n).createOrReplaceTempView(n))
    events.createOrReplaceTempView("events")
  }
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
