package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine
import graft.ext.{Checkpoints, Curation, Dedup, TextAnalysis}
import graft.model.{DataChecks, Incremental, Materialization, Model, Runner}
import graft.models.{LocationsClean, RefFixtures, StackedUsersPartners, UserBase}
import graft.queries.{ReferenceModelOracles, ReferenceModelQueries}
import graft.sql.BigQueryDialect

/** One `dbt build` of the three reference models through the Runner,
  * with the mart's two marts_schema checks. `user_base` is a Table, the
  * two intermediates are Views. Each op writes to its own warehouse
  * directory so every op's output can be checked afterwards. */
final class Warehouse(data: String, work: String, cores: Int) extends Workload {
  private var spark: SparkSession = _
  private var sources: Map[String, DataFrame] = Map.empty
  private val tables = RefFixtures.duckCtes.keys.toSeq.sorted

  def register(s: SparkSession): Unit = {
    spark = s
    sources = tables.map(t => t -> spark.read.parquet(s"$data/$t.parquet")).toMap
  }

  def warmup(): Unit = build(-1, s"$work/wh/warm", traced = false)

  private val uniqueCheck = "unique_user_partner_site"

  /** The models, with transform and check closures that open the
    * model's span when traced: jobs the Runner then submits from the
    * same thread are attributed to that span. */
  private def models(op: Int, traced: Boolean): Seq[Model] = {
    val t = tracer
    def transform(name: String)(f: Map[String, DataFrame] => DataFrame) =
      (env: Map[String, DataFrame]) =>
        if (!traced) f(env)
        else t.openUntilLastJob(s"model.$name", op + 1) {
          t.span("models.construct", op + 1)(f(env))
        }
    def check(name: String)(f: DataFrame => DataFrame) = name -> ((df: DataFrame) => {
      if (traced) t.enterShared("model.checks", op + 1)
      f(df)
    })
    val locDeps = Seq("location_location", "location_location_address_components",
      "location_location_types")
    val supDeps = Seq("educator_classroomlearnermembership", "educator_classroom_educators",
      "educator_classroominvitation", "educator_classroominvitecode",
      "educator_classroom", "user_site", "user_partner", "user_partnerinvitecode",
      "user_user", "action_userjoinsaction")
    Seq(
      Model("locations_clean", locDeps)(transform("locations_clean")(LocationsClean(_))),
      Model("stacked_users_partners", supDeps)(
        transform("stacked_users_partners")(StackedUsersPartners(_))),
      Model("user_base", Seq("user_user", "widget_widgetuserapikey",
          "stacked_users_partners", "locations_clean"),
        Materialization.Table,
        checks = Seq(
          check("not_null_user_id")(DataChecks.notNull(_, "user_id")),
          check(uniqueCheck)(DataChecks.uniqueCombination(_,
            Seq("user_id", "partner_id", "site_id")))))(
        transform("user_base")(UserBase(_,
          asOf = to_date(lit(ReferenceModelQueries.asOfDate))))))
  }

  private val failRe = """failed check '([^']+)': (\d+) violating rows""".r.unanchored

  private def build(op: Int, dir: String, traced: Boolean): Map[String, Any] = {
    val (_, status) = new Runner(spark, sources, dir, threads = 4)
      .buildGated(models(op, traced))
    val violations = status.values.collect {
      case failRe(check, n) => check -> n.toLong
    }.toMap
    val (bytes, files) = Main.dirStats(s"$dir/user_base")
    Map("dir" -> s"$dir/user_base", "status" -> status,
      "violations" -> violations, "output_bytes" -> bytes, "output_files" -> files)
  }

  def op(i: Int, traced: Boolean): (String, Map[String, Any]) =
    ("build", build(i, s"$work/wh/op-$i", traced))

  /** The reference-model oracle SQL with its fixture CTEs pointed at
    * the generated Parquet, for the DuckDB replay. */
  override def runInfo: Map[String, Any] = {
    def replay(sql: String) = RefFixtures.duckCtes.foldLeft(sql) { case (s, (t, cte)) =>
      s.replace(cte, s"$t AS (SELECT * FROM read_parquet('$data/$t.parquet'))")
    }
    Map("oracle_user_base" -> replay(ReferenceModelOracles.qUserBase),
      "oracle_checks" -> replay(ReferenceModelOracles.qUserBaseChecks))
  }
}

/** BigQuery-dialect SQL through `Engine.sql` from two closed-loop
  * clients sharing one session: client 0 runs the stream's lookups in
  * order, client 1 its reports, so every lookup meets the same
  * contention from a running report. Traced ops call the engine's two
  * steps (translate, then spark.sql) separately and force each planning
  * phase, so every layer's time is its own. */
final class BiQueries(data: String, work: String) extends Workload {
  override def clients: Int = 2
  private var engine: Engine = _
  private def load(f: String) = Files.readAllLines(Paths.get(f)).asScala.toVector
    .map(_.split("\t", 3)).map(a => (a(0), a(1), a(2)))
  private lazy val stream = load(s"$data/stream.tsv")
  private lazy val warm = load(s"$data/warm.tsv")

  def register(s: SparkSession): Unit = {
    engine = Engine(s, s"$work/bi-wh", data)
    engine.tables.get.registerAll()
  }

  def warmup(): Unit = warm.foreach { case (_, _, sql) => engine.sql(sql).collect() }

  private lazy val byClient = Seq("lookup", "report").map(kind =>
    stream.indices.filter(stream(_)._1 == kind))

  override def opIndex(c: Int, k: Int): Int =
    if (k < byClient(c).size) byClient(c)(k) else stream.size

  override def hasOp(i: Int): Boolean = i < stream.size

  private def rowJson(r: Row): Seq[Any] = r.toSeq

  def op(i: Int, traced: Boolean): (String, Map[String, Any]) = {
    val (kind, template, sql) = stream(i)
    val rows =
      if (!traced) engine.sql(sql).collect()
      else {
        val t = tracer; val op = i + 1
        val spark = engine.spark
        val text = t.span("sql.translate", op)(BigQueryDialect.translate(sql))
        val df = t.span("sql.parse_analyze", op)(spark.sql(text))
        t.span("plans.optimize", op)(df.queryExecution.optimizedPlan)
        t.span("plans.physical", op)(df.queryExecution.executedPlan)
        t.span("exec.collect", op)(df.collect())
      }
    (kind, Map("template" -> template, "rows" -> rows.map(rowJson).toSeq))
  }
}

/** Change batches folded with `Incremental.applyChangesGuarded`, each
  * followed by a read-after-write (a point read of a key the batch
  * wrote and an aggregate) through `readCdcTable`; `compactGuarded`
  * every `compactEvery` batches. */
final class CdcUpsert(data: String, work: String) extends Workload {
  private var spark: SparkSession = _
  private val path = s"$work/cdc/table"
  private val reads = Files.readAllLines(Paths.get(s"$data/reads.tsv")).asScala.toVector
    .map(_.split("\t").map(_.toLong))
  private val compactEvery =
    new String(Files.readAllBytes(Paths.get(s"$data/compact_every.txt"))).trim.toInt

  def register(s: SparkSession): Unit = {
    spark = s
    Incremental.applyChangesGuarded(spark, spark.read.parquet(s"$data/initial.parquet"),
      path, Seq("k"))
  }

  /** The first batches warm up; op i applies batch i + warm. */
  private val warm = 6

  def warmup(): Unit = for (b <- 0 until warm) batch(b, 0, traced = false)

  override def hasOp(i: Int): Boolean = i + warm < reads.size

  private def batch(b: Int, op: Int, traced: Boolean): Map[String, Any] = {
    val t = tr(traced)
    val Array(_, key, horizon) = reads(b)
    val file = f"$data/batch_$b%04d.parquet"
    val changes = spark.read.parquet(file)
    val a0 = System.nanoTime()
    t.span("incr.apply", op) {
      Incremental.applyChangesGuarded(spark, changes, path, Seq("k"))
    }
    val applyMs = (System.nanoTime() - a0) / 1e6
    var written = Main.dirStats(path)._1
    val compact = b > 0 && b % compactEvery == 0
    val c0 = System.nanoTime()
    if (compact) {
      t.span("incr.compact", op)(Incremental.compactGuarded(spark, path, horizon))
      written += Main.dirStats(path)._1
    }
    val compactMs = (System.nanoTime() - c0) / 1e6
    val r0 = System.nanoTime()
    val live = Incremental.readCdcTable(spark, path)
    val point = t.span("incr.read_point", op)(live.filter(col("k") === key).collect())
    val agg = t.span("incr.read_agg", op)(
      live.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect())
    val readMs = (System.nanoTime() - r0) / 1e6
    val (tableBytes, files) = Main.dirStats(path)
    Map("batch" -> b, "apply_ms" -> applyMs, "compact_ms" -> compactMs,
      "compacted" -> compact, "read_ms" -> readMs,
      "point" -> point.map(_.toSeq).toSeq, "count" -> agg(0).getLong(0),
      "sum_v" -> agg(0).getLong(1), "bytes_written" -> written,
      "batch_bytes" -> Files.size(Paths.get(file)),
      "table_bytes" -> tableBytes, "table_files" -> files)
  }

  def op(i: Int, traced: Boolean): (String, Map[String, Any]) =
    ("upsert", batch(i + warm, i + 1, traced))
}

/** One full pass of the training-data curation pipeline: quality stats
  * and language id, the Gopher gate, exact dedup, then
  * `Dedup.lshVerifiedPairs` (trigram shingles, MinHash, LSH banding,
  * Jaccard verification of the candidates), connected components,
  * keepers. Untraced ops compose the library calls as they are; traced
  * ops materialize every stage inside its span, and also run the
  * shingle, MinHash and LSH calls on their own, so each has a span and
  * the candidate count is known. */
final class CurationDedup(data: String, work: String) extends Workload {
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private val numHashes = 8
  private val rowsPerBand = 2
  private val threshold = 0.5

  def register(s: SparkSession): Unit = {
    spark = s
    docs = spark.read.parquet(s"$data/docs.parquet")
  }

  def warmup(): Unit = pass(-1, traced = false)

  private def pass(i: Int, traced: Boolean): Map[String, Any] = {
    val t = tr(traced); val op = i + 1
    // a stage boundary: traced ops materialize the stage in its span
    def stage(name: String)(f: => DataFrame): DataFrame =
      if (traced) t.span(name, op)(f.localCheckpoint()) else f
    val gated = stage("ext.stats_gate") {
      Curation.gopherRules(TextAnalysis.withLangId(TextAnalysis.withStats(docs)))
        .select("doc_id", "text", "keep", "lang_pred")
    }
    val kept = gated.filter(col("keep"))
    val exact = stage("ext.exact_dedup")(Dedup.exactGroups(kept))
    val deduped = kept.join(exact.select(col("keeper_id").as("doc_id")), Seq("doc_id"),
      "left_semi")
    val candidates = if (!traced) -1L else {
      val sh = stage("ext.shingle")(Dedup.wordTrigrams(deduped))
      val sigs = stage("ext.minhash")(Dedup.minhashFromShingles(sh, numHashes, "doc_id"))
      stage("ext.lsh")(Dedup.lshCandidates(sigs, numHashes, rowsPerBand)).count()
    }
    val verified = stage("ext.verify") {
      Dedup.lshVerifiedPairs(deduped, numHashes, rowsPerBand)
        .filter(col("jaccard") >= threshold).select("a_id", "b_id")
    }
    val cc = stage("ext.cc")(Dedup.connectedComponents(verified))
    val out = t.span("ext.collect", op) {
      val rejected = gated.filter(!col("keep")).select("doc_id").collect().map(_.getLong(0))
      val groups = exact.filter(col("n_docs") > 1).select("keeper_id", "n_docs").collect()
        .map(r => Seq(r.getLong(0), r.getLong(1)))
      val comps = cc.select("node", "component").collect()
        .map(r => Seq(r.getLong(0), r.getLong(1)))
      val keepers = deduped.select("doc_id")
        .join(cc.select(col("node").as("doc_id"), col("component")), Seq("doc_id"), "left")
        .filter(col("component").isNull || col("component") === col("doc_id")).count()
      Map("rejected" -> rejected.toSeq.sorted, "exact_groups" -> groups.toSeq,
        "components" -> comps.toSeq, "keepers" -> keepers,
        "candidate_pairs" -> candidates,
        "verified_pairs" -> (if (traced) verified.count() else -1L))
    }
    Checkpoints.releaseAll(spark)
    out
  }

  def op(i: Int, traced: Boolean): (String, Map[String, Any]) = ("pass", pass(i, traced))
}
