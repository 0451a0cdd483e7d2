package graft

import org.apache.spark.sql.SparkSession
import graft.sql.GraftExtensions

/** Opinionated session factory: the configuration this engine is
  * designed against, in one place.
  *
  *  - AQE on (runtime join-strategy + skew-join + partition coalesce)
  *  - shuffle partitions sized to cores for local mode (not the 200
  *    default — SURVEY §4); on a real cluster, set to 2–3× total cores
  *  - UTC + ANSI-off for BigQuery SAFE-parse parity (BASELINE.md)
  *  - GraftExtensions injected so st_distance/regexp_contains/
  *    dot_product etc. work in SQL from the first query, with its plan
  *    rules ([[graft.plans]]):
  *     - single-partition shuffle elision: an adaptive plan whose inputs
  *       are all one partition (file scans of ~4 MB or less) runs in one
  *       job, each `ENSURE_REQUIREMENTS` exchange replaced by
  *       `Coalesce 1`; all or nothing per plan, never for user
  *       repartitions, `REBALANCE`, bucketed scans or scans with
  *       dynamic-pruning filters, and counted from the file listing,
  *       not the scan's RDD
  *     - filter-literal hoisting: numeric/date/timestamp literals
  *       compared in a `Filter` are read from the generated class's
  *       references, so a template's new key reuses its compiled
  *       code; scans and their pushed filters keep the literal
  *     - the template cache ([[graft.plans.TemplateCache]]), held by an
  *       injected parser, one cache per session: a `spark.sql`
  *       statement without parameters is keyed by its parse tree with
  *       the numeric/date/timestamp operands of comparisons, `IN`,
  *       `BETWEEN` and arithmetic in `WHERE`/`HAVING` masked, plus the
  *       current catalog and database; from the second sighting the
  *       masked tree is analyzed, optimized and executed to an RDD once
  *       with typed slots, and each hit returns an already-analyzed leaf
  *       whose `collect()` binds its values and runs the retained RDD as
  *       one job (no analysis, optimization, planning or codegen).
  *       Validated per sighting: SQL conf, the named temporary views
  *       (identity, file listing) and called functions (identity); only
  *       file-source temporary views, built-in or temporary functions,
  *       no `WITH` clause, no cached data, and a deterministic one-stage
  *       plan with no subquery, command or user code and no partition
  *       filter on a slot. A template serves one query at a time; slots
  *       are not pushed into Parquet, so a hit reads every row group of
  *       its (one-partition) inputs. A key whose fingerprint changed at
  *       3 sightings in a row without a build is volatile: planned
  *       without the cache, unfingerprinted. A refused or failed build
  *       plans the statement as before, and DataFrame queries never
  *       meet the cache. A DataFrame built on a served statement, or
  *       any action but `collect()`, plans the template's analyzed plan
  *       with the statement's values (the views validated at parse
  *       time) under an opaque leaf, so its filters are not pushed into
  *       the scans; data cached from the leaf serves the statement
  *       analyzed in full, as the leaf compares as that plan
  *  - `file:` served by [[graft.sources.NioLocalFileSystem]]: Hadoop's
  *    local file system with permissions set through java.nio instead
  *    of a forked `chmod` per directory, part file and `.crc` (no
  *    libhadoop in a Spark distribution)
  */
object GraftSession {

  /** NOTE: call before any other SparkSession exists in the JVM —
    * getOrCreate returns a pre-existing session unchanged, and
    * extensions/static confs cannot be applied retroactively (use
    * GraftFunctions.register(spark) on a live session instead). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
