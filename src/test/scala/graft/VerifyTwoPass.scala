package graft

import java.nio.file.{Files, Paths}
import graft.plans.TemplateCache

/** Runs the Verify corpus twice in one session and writes each pass's
  * rows to `<outDir>/pass1.txt` and `<outDir>/pass2.txt`, one
  * `name<TAB>row` line per row, rows sorted as `tools/compare.py` sorts
  * them (several queries order ties arbitrarily). The second pass meets
  * every query a second time, so each one the template cache admits is
  * served by its retained RDD: the two files must be identical. Prints
  * the cache's builds and hits per pass, plan-level and statement-level
  * apart, and the queries whose rows differ; exits 1 if any do.
  *
  * {{{ sbt "Test/runMain graft.VerifyTwoPass <sfDir> <outDir> [onlyQuery1,...]" }}} */
object VerifyTwoPass {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local(appName = "graft-verify-two-pass")
    val cache = TemplateCache.of(spark).get
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def pass(n: Int): Map[String, Seq[String]] = {
      def counts = Seq(cache.builds.get - cache.statementBuilds.get,
        cache.hits.get - cache.statementHits.get, cache.statementBuilds.get,
        cache.statementHits.get)
      val before = counts
      val rows = queries.map { case (name, fn) =>
        val r = try fn(spark, sfDir).collect().map(_.toString).toSeq.sorted
          catch { case e: Throwable => Seq(s"failed: ${e.getMessage}") }
        graft.ext.Checkpoints.releaseAll(spark)
        name -> r
      }
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(s"$outDir/pass$n.txt"), rows.flatMap { case (name, r) =>
        r.map(row => s"$name\t$row\n") }.mkString)
      val Seq(planBuilds, planHits, statementBuilds, statementHits) =
        counts.zip(before).map { case (a, b) => a - b }
      println(s"[two-pass] pass $n: ${queries.size} queries, plan key: $planBuilds " +
        s"templates built, $planHits hits; statement key: $statementBuilds built, " +
        s"$statementHits hits")
      rows.toMap
    }
    val (first, second) = (pass(1), pass(2))
    val differ = queries.map(_._1).filter(n => first(n) != second(n))
    differ.foreach(n => println(s"[two-pass] $n: rows differ between passes"))
    println(s"[two-pass] ${queries.size - differ.size} of ${queries.size} identical")
    spark.stop()
    if (differ.nonEmpty) sys.exit(1)
  }
}
