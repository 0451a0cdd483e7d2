package graft.sources

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Source/sink breadth (SURVEY §2.1 S4/S5): the reference's only I/O
  * is the BigQuery adapter; the Spark-native engine fronts parquet
  * (primary), orc, csv and json, plus the write shapes that matter at
  * 100 TB — partitioned layout for pruning and bucketed tables for
  * shuffle-free joins.
  */
object IO {

  /** Parquet read whose schema is resolved on the driver, not by a job.
    *
    * A schema-less `spark.read.parquet(path)` submits a one-task
    * schema-inference job (list, then read one footer on an executor)
    * before the DataFrame even exists — a fixed ~100 ms per read that
    * dominates small reads such as the re-reads of a CDC fold. Here the
    * driver reads that same footer itself and hands the schema to
    * `spark.read.schema(s).parquet(path)`, which plans with no job.
    *
    * The schema is the one Spark's inference would pick: with no
    * summary files and no merge, Spark takes the first data file in path
    * order and returns its `org.apache.spark.sql.parquet.row.metadata`
    * schema when Spark wrote the file, else the Parquet schema converted
    * under the session's conf (binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong, ...); this does the same.
    *
    * Falls back to plain `spark.read.parquet(path)` — and so to Spark's
    * own resolution and errors — for `mergeSchema`, glob patterns,
    * missing or empty paths, directories with sub-directories
    * (partitioned layouts) or `_metadata`/`_common_metadata` summaries,
    * an unparseable Spark schema string, or any failure reading the
    * footer. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The one way graft replaces a table: write `df` completely at
    * `<path>__staging`, then swap it in through [[swapInto]], so the
    * live table is deleted only after the new one is fully written; a
    * write that fails leaves the previous table untouched. `partitionCols`
    * keeps a Hive layout. Returns the committed table, read with the
    * schema just written rather than a footer read back. */
  private[graft] def commit(spark: SparkSession, df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val staged = path + "__staging"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(staged)
    swapInto(spark, staged, path)
    spark.read.schema(df.schema).parquet(path)
  }

  /** Whether a table is at `path` on its own file system. A missing
    * `path` beside a complete staged copy (`<path>__staging`, or the
    * `<path>__tmp` of earlier releases, holding `_SUCCESS`) is a swap
    * that stopped between its delete and its rename: taken for a first
    * run, a fold would bootstrap a new table from its batch alone and
    * lose every earlier row, so this fails naming both paths. */
  private[graft] def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) || {
      Seq("__staging", "__tmp").map(s => new Path(path + s))
        .find(s => fs.exists(new Path(s, "_SUCCESS")))
        .foreach { s => throw new java.io.IOException(s"table $p is missing but a " +
          s"complete staged copy is at $s: an earlier swap stopped between its delete " +
          s"and its rename; move $s to $p to keep that copy, or delete it to start over") }
      false
    }
  }

  /** Replace the directory at `path` with the fully written one at
    * `staged`, on `path`'s own file system: exactly one recursive delete
    * of the live copy, then one rename. Neither step is atomic with the
    * other, so callers write `staged` completely first; a refused rename
    * throws an IOException naming both paths and leaves the new copy at
    * `staged` rather than silently losing it. */
  def swapInto(spark: SparkSession, staged: String, path: String): Unit = {
    val src = new Path(staged)
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(dst, true)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"swap could not rename $src to $dst; the new copy is at $src")
  }

  /** The schema [[readParquet]] hands to the reader, or None where it
    * defers to Spark's inference. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("*?[{\\".contains(_)))
      return None
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(hconf)
      val st = fs.getFileStatus(p)
      val first =
        if (st.isFile) Some(st).filterNot(f => hiddenName(f.getPath.getName))
        else {
          val children = fs.listStatus(p)
            .filterNot(c => hiddenName(c.getPath.getName))
          if (children.exists(c => c.isDirectory || summaryName(c.getPath.getName))) None
          else children.sortBy(_.getPath.toString).headOption
        }
      first.flatMap { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hconf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
        Option(meta.getKeyValueMetaData.get(SparkSchemaKey)) match {
          case Some(json) =>
            Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }
          case None =>
            // the converter Spark's schema inference builds
            // (ParquetFileFormat.mergeSchemasInParallel)
            Some(new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                conf.parquetReaderRespectUnknownTypeAnnotation)
              .convert(meta.getSchema))
        }
      }
    } catch { case NonFatal(_) => None }
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def summaryName(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  /** Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName):
    * `_`/`.`-prefixed names and in-flight `._COPYING_` copies are not
    * data, except the summary files. */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")

  def readCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC — the other columnar format Spark supports natively; same
    * pushdown/pruning behavior as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned layout: scans filtered on `cols` prune
    * whole directories (partition pruning — the 100 TB table layout). */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Range-partitioned, sorted-within-partition layout: maximizes
    * parquet zone-map (row-group min/max) effectiveness, so point and
    * range filters on `cols` skip whole row groups — the right layout
    * for append-mostly 100 TB fact tables queried by time/key range. */
  def writeSortedBy(df: DataFrame, path: String, cols: Seq[String],
      partitions: Int = 0): Unit = {
    val keyCols = cols.map(col)
    val ranged = if (partitions > 0)
      df.repartitionByRange(partitions, keyCols: _*)
    else df.repartitionByRange(keyCols: _*)
    ranged.sortWithinPartitions(keyCols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed + sorted managed table: joins/aggregations on the bucket
    * key skip the shuffle entirely (requires saveAsTable — bucket
    * metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Small-file compaction — the maintenance pass every long-lived
    * table needs: streaming sinks and per-batch appends leave
    * thousands of KB-scale files, and scan/planning cost grows with
    * FILE COUNT (task scheduling, footer reads, listing pressure),
    * not bytes. Rewrites `path` to ≈ ceil(totalBytes/targetBytes)
    * files (parquet re-encodes, so output sizes track input bytes
    * approximately); with `partitionCols` the Hive layout is
    * preserved and rows re-cluster one-file-per-partition-value
    * (right for the many-small-partitions case; a jumbo partition
    * stays one file — split those by bucketing instead).
    *
    * The rewrite is committed through [[commit]]: it lands at
    * `<path>__staging` and replaces the original only after success —
    * a rename, atomic on HDFS/local, NOT on object stores (there, compact
    * into a table format's transaction log instead; this operator is the
    * raw-parquet fallback).
    *
    * @return (filesBefore, filesAfter) data-file counts. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      partitionCols: Seq[String] = Nil): (Int, Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(d: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(d, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) buf += f
      }
      buf.toSeq
    }
    val before = dataFiles(p)
    val n = math.max(1,
      math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    val src = readParquet(spark, path)
    commit(spark,
      if (partitionCols.nonEmpty) src.repartition(partitionCols.map(col): _*)
      else src.repartition(n), path, partitionCols)
    (before.size, dataFiles(p).size)
  }
}

/** Skew mitigation for hot keys (SURVEY §7.2 step 8: "salting for
  * skewed keys like the invite-code fan-outs"). AQE's skew-join
  * handles sort-merge skew automatically; salting is the explicit
  * fallback when a single key dominates a shuffle hash join or
  * aggregation.
  */
object Skew {

  /** Salted inner equi-join: left's hot keys spread over `salts`
    * partitions; right replicated `salts` ways. Correct for any key
    * distribution; use when one key holds >~1/partitions of the rows. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int = 8): DataFrame = {
    val saltedL = left.withColumn("__salt",
      (rand(seed = 42) * salts).cast("int"))
    val saltedR = right.crossJoin(
      right.sparkSession.range(salts).select(col("id").cast("int").as("__salt")))
    saltedL.join(saltedR,
        saltedL(key) === saltedR(key) && saltedL("__salt") === saltedR("__salt"))
      .drop(saltedR(key)).drop("__salt")
  }

  /** Two-phase aggregation for skewed group keys: partial agg on
    * (key, salt), then final agg on key. `aggs` maps column -> "sum" |
    * "count" (the decomposable aggregates). */
  def saltedCountSum(df: DataFrame, key: String, sumCol: String,
      salts: Int = 8): DataFrame = {
    val salted = df.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
    salted.groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(sumCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum"))
  }
}
