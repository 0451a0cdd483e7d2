package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [onlyQuery1,onlyQuery2,...]")
      sys.exit(2)
    }
    // optional 3rd arg (builder-local only; the driver passes 2):
    // comma-separated query names to dump, for fast single-query checks
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    dump(spark, args(0), args(1), only)
    spark.stop()
  }

  /** Write each selected SparkEntry query's result on `sfDir` to
    * `<outDir>/<name>` (one parquet file) and every oracle to
    * `<outDir>/oracle_sql.json`. A failing query is reported on stderr
    * and skipped, so one bad query never hides the rest. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // result is on disk — reclaim this query's pinned checkpoint
      // blocks so a 160-query dump doesn't accumulate them
      graft.ext.Checkpoints.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
