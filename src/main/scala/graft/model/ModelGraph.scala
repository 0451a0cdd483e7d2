package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.IO
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** dbt-orchestration parity (SURVEY §2.11): models form a DAG via
  * declared deps (the reference's ref()/source() calls — e.g.
  * user_base.sql:81-82), are topologically executed with bounded
  * parallelism (profiles.example.yml:9 `threads: 4`), and materialize
  * as views (lazy temp view) or tables (physical parquet) per
  * dbt_project.yml:11-17.
  */
sealed trait Materialization
object Materialization {
  /** Lazy: downstream models recompute through the plan (dbt view). */
  case object View extends Materialization
  /** Physical: written to parquet and re-read, cutting lineage (dbt table). */
  case object Table extends Materialization
  /** dbt ephemeral: NEVER materialized — the model's rendered SELECT
    * is inlined as a CTE (dbt names it `__dbt__cte__<name>`) into
    * every dependent's SQL at compile time ([[graft.sql.DbtSqlEngine]]
    * does the inlining); the model is excluded from run/build reports
    * and from the Runner's DAG. A plan-level zero-cost node: the
    * dependent's optimizer sees the full expression tree, so filters
    * and pruning push THROUGH the ephemeral boundary — exactly why
    * dbt projects use it for staging models. */
  case object Ephemeral extends Materialization
  /** dbt incremental: first run builds the full table; later runs
    * fold ONLY the model's (typically is_incremental()-filtered)
    * output into it — merge on `uniqueKey` when given (batch wins,
    * [[graft.model.Incremental.merge]]), plain append otherwise
    * (dbt's default insert strategy). `onSchemaChange` is dbt's
    * `on_schema_change` config (ignore | fail | append_new_columns |
    * sync_all_columns — see [[Incremental.merge]] for the exact
    * column-resolution contract of each). */
  final case class Incremental(uniqueKey: Seq[String] = Seq.empty,
      onSchemaChange: String = "ignore")
    extends Materialization
}

/** One named transformation. `transform` sees every source table and
  * every upstream model output by name — the engine's ref()/source().
  * `checks` are dbt-style data tests: each maps the model's output to
  * its violating rows; the model passes iff all are empty
  * (marts_schema.yml:6-15). `preHooks`/`postHooks` are dbt's
  * pre-hook/post-hook: side-effecting statements the Runner executes
  * immediately before the model's transform and immediately after it
  * materializes (the model's own relation is queryable by name in a
  * post-hook), in declaration order.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization = Materialization.View,
    tags: Set[String] = Set.empty,
    checks: Seq[(String, DataFrame => DataFrame)] = Seq.empty,
    preHooks: Seq[() => Unit] = Seq.empty,
    postHooks: Seq[() => Unit] = Seq.empty)(
    val transform: Map[String, DataFrame] => DataFrame)

final class DataCheckException(msg: String, val model: String = "")
  extends RuntimeException(msg)

final class CycleException(msg: String) extends RuntimeException(msg)

object ModelGraph {
  /** Kahn topological sort restricted to model-to-model edges (deps
    * naming source tables are satisfied from the input map). Throws
    * CycleException on cycles, IllegalArgumentException on duplicate
    * names.
    */
  def topoSort(models: Seq[Model]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    require(byName.size == models.size, s"duplicate model names in ${models.map(_.name)}")
    val indeg = mutable.Map(models.map(m =>
      m.name -> m.deps.count(byName.contains)): _*)
    val out = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    for (m <- models; d <- m.deps if byName.contains(d))
      out(d) = m.name :: out(d)
    // deterministic order: ready queue kept sorted
    val ready = mutable.SortedSet(models.collect {
      case m if indeg(m.name) == 0 => m.name }: _*)
    val order = mutable.ArrayBuffer.empty[Model]
    while (ready.nonEmpty) {
      val n = ready.head; ready -= n
      order += byName(n)
      for (succ <- out(n)) {
        indeg(succ) -= 1
        if (indeg(succ) == 0) ready += succ
      }
    }
    if (order.size != models.size) {
      val stuck = models.map(_.name).filterNot(order.map(_.name).toSet)
      throw new CycleException(s"cycle among models: $stuck")
    }
    order.toSeq
  }

  /** dbt node selection (`--select` / `--exclude`): space/comma-
    * separated tokens, each `name`, `name+` (plus descendants),
    * `+name` (plus ancestors), `+name+`, `@name` (the model, its
    * descendants, AND the ancestors of all of those — dbt's at-
    * operator, the "everything needed to build this subtree" set), or
    * `tag:t` (with the same wrappers); result = union over tokens.
    * `exclude` evaluates the same grammar and is subtracted LAST, so
    * exclude always overrides select (dbt's precedence rule). The
    * `state:modified` token selects from `modified` — the caller's
    * changed-since-last-manifest set ([[graft.sql.DbtSqlEngine]]
    * computes it from the warehouse manifest; raw model text is what
    * is hashed) — and composes with the same wrappers
    * (`state:modified+` = changed models and everything downstream,
    * the classic CI build). An unknown model name fails loudly (dbt
    * warns-and-skips; silently running nothing is worse). Graph
    * closure is transitive over model-to-model edges. */
  def select(models: Seq[Model], expr: String,
      exclude: String = "",
      modified: Set[String] = Set.empty): Seq[Model] = {
    val ev = tokenEvaluator(models, modified)
    val selected = ev(expr) --
      (if (exclude.trim.nonEmpty) ev(exclude) else Set.empty)
    models.filter(m => selected.contains(m.name))
  }

  /** A named selector definition from `selectors.yml` — the same
    * token grammar as [[select]] at the leaves (`Cli`), composed by
    * set algebra: `Compose(union = true)` unions its includes,
    * `union = false` intersects them, and `exclude` members subtract
    * LAST (dbt's precedence rule, same as `--exclude`). */
  sealed trait SelectorDef
  object SelectorDef {
    final case class Cli(expr: String) extends SelectorDef
    final case class Compose(union: Boolean, include: Seq[SelectorDef],
        exclude: Seq[SelectorDef] = Seq.empty) extends SelectorDef
  }

  /** Evaluate a [[SelectorDef]] to the selected model-name set. */
  def evalSelector(models: Seq[Model], sd: SelectorDef,
      modified: Set[String] = Set.empty): Set[String] = {
    val ev = tokenEvaluator(models, modified)
    def go(s: SelectorDef): Set[String] = s match {
      case SelectorDef.Cli(e) => ev(e)
      case SelectorDef.Compose(union, inc, exc) =>
        val incSets = inc.map(go)
        val base =
          if (incSets.isEmpty) Set.empty[String]
          else if (union) incSets.reduce(_ union _)
          else incSets.reduce(_ intersect _)
        base -- exc.map(go).foldLeft(Set.empty[String])(_ union _)
    }
    go(sd)
  }

  /** Does any leaf expression reference `state:modified`? (Callers
    * only pay the manifest read when one does.) */
  def selectorNeedsState(sd: SelectorDef): Boolean = sd match {
    case SelectorDef.Cli(e) => e.contains("state:modified")
    case SelectorDef.Compose(_, inc, exc) =>
      (inc ++ exc).exists(selectorNeedsState)
  }

  /** The token-expression evaluator [[select]] and [[evalSelector]]
    * share: one call evaluates one space/comma-separated union of
    * selector tokens against the model graph. */
  private def tokenEvaluator(models: Seq[Model],
      modified: Set[String]): String => Set[String] = {
    val byName = models.map(m => m.name -> m).toMap
    val children = models.flatMap(m =>
      m.deps.filter(byName.contains).map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def closure(seed: Set[String], next: String => Set[String]): Set[String] = {
      var seen = seed; var frontier = seed
      while (frontier.nonEmpty) {
        val nxt = frontier.flatMap(next) -- seen
        seen ++= nxt; frontier = nxt
      }
      seen
    }
    def ancestors(seed: Set[String]) = closure(seed,
      n => byName(n).deps.filter(byName.contains).toSet)
    def descendants(seed: Set[String]) = closure(seed,
      n => children.getOrElse(n, Set.empty))
    def evalTokens(e: String): Set[String] =
      e.trim.split("[ ,]+").filter(_.nonEmpty).flatMap { tok =>
        val atOp = tok.startsWith("@")
        val plusBefore = !atOp && tok.startsWith("+")
        val plusAfter = !atOp && tok.endsWith("+")
        val core = tok.stripPrefix("@").stripPrefix("+").stripSuffix("+")
        val base: Set[String] =
          if (core == "state:modified") {
            modified.intersect(byName.keySet)
          } else if (core.startsWith("tag:")) {
            val t = core.drop(4)
            models.filter(_.tags.contains(t)).map(_.name).toSet
          } else {
            require(byName.contains(core),
              s"selector '$tok' names no model (have: ${byName.keys.toSeq.sorted})")
            Set(core)
          }
        if (atOp) ancestors(descendants(base))
        else base ++
          (if (plusBefore) ancestors(base) else Set.empty) ++
          (if (plusAfter) descendants(base) else Set.empty)
      }.toSet
    evalTokens
  }
}

/** Executes a model DAG. Models whose deps are all satisfied run
  * concurrently (bounded by `threads`) as separate Spark jobs — the
  * Spark scheduler interleaves their stages, which is exactly how
  * dbt's thread pool maps onto a shared cluster.
  *
  * @param warehouseDir where Table-materialized outputs land
  */
final class Runner(
    spark: SparkSession,
    sources: Map[String, DataFrame],
    warehouseDir: String,
    threads: Int = 4) {

  /** dbt `build` semantics: run each model, then run its data checks
    * before any dependent starts (SURVEY §3.3); a failing check aborts
    * the DAG with DataCheckException. For dbt's real skip-don't-abort
    * behavior, use [[buildGated]]. */
  def build(models: Seq[Model]): Map[String, DataFrame] =
    run(models, runChecks = true)

  /** Materialize one model given its resolved upstream frames.
    * Pre-hooks run first; post-hooks run after the result is
    * materialized AND registered (so a post-hook can query the model
    * by name — audit inserts, grants-analogs). */
  private def materialize(m: Model,
      env: Map[String, DataFrame]): (String, DataFrame) = {
    m.preHooks.foreach(_())
    val out = materializeInner(m, env)
    m.postHooks.foreach(_())
    out
  }

  private def materializeInner(m: Model,
      env: Map[String, DataFrame]): (String, DataFrame) = {
    val df = m.transform(env)
    m.materialization match {
      case Materialization.Ephemeral =>
        // ephemeral models never reach the Runner — DbtSqlEngine
        // inlines them as CTEs and drops them from the model list;
        // reaching here means a caller wired one in by hand
        throw new IllegalStateException(
          s"ephemeral model ${m.name} must be inlined into its " +
            "dependents, not executed as a DAG node")
      case Materialization.View =>
        df.createOrReplaceTempView(m.name)
        m.name -> df
      case mat =>
        val path = s"$warehouseDir/${m.name}"
        val reread = mat match {
          case Materialization.Incremental(Seq(), onSchemaChange) =>
            Incremental.append(spark, df, path, onSchemaChange)
          case Materialization.Incremental(uniqueKey, onSchemaChange) =>
            Incremental.merge(spark, df, path, uniqueKey, onSchemaChange)
          case _ => IO.commit(spark, df, path)
        }
        reread.createOrReplaceTempView(m.name)
        m.name -> reread
    }
  }

  private def runChecksOf(m: Model, result: DataFrame): Unit =
    for ((checkName, check) <- m.checks) {
      // one evaluation: the count both gates and goes into the message
      val n = check(result).count()
      if (n > 0)
        throw new DataCheckException(
          s"model ${m.name} failed check '$checkName': $n violating rows", m.name)
    }

  /** The DAG loop of [[run]] and [[buildGated]]: each model starts once
    * its deps have succeeded (a failed dep fails it with the same
    * exception), on at most `threads` threads; with `runChecks` its data
    * checks run before any dependent starts. Returns once every model
    * has finished, each model's outcome in topological order, and the
    * frame of every model that materialized. */
  private def schedule(models: Seq[Model], runChecks: Boolean)
      : (Seq[(Model, scala.util.Try[(String, DataFrame)])], Map[String, DataFrame]) = {
    val order = ModelGraph.topoSort(models)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = mutable.Map.empty[String, Future[(String, DataFrame)]]
    val frames = new scala.collection.concurrent.TrieMap[String, DataFrame]
    try {
      for (m <- order) {
        val depFutures = m.deps.flatMap(done.get)
        done(m.name) = Future.sequence(depFutures).map { resolved =>
          val out = materialize(m, sources ++ resolved.toMap)
          frames(m.name) = out._2
          if (runChecks) runChecksOf(m, out._2)
          out
        }
      }
      (order.map(m => m -> Await.ready(done(m.name), Duration.Inf).value.get),
        frames.toMap)
    } finally pool.shutdown()
  }

  /** Run all models in dependency order; returns name -> result
    * DataFrame (for Table materializations, the re-read parquet). A
    * failure aborts its dependents; once every independent branch has
    * finished, the first failure in topological order is thrown. */
  def run(models: Seq[Model], runChecks: Boolean = false): Map[String, DataFrame] =
    schedule(models, runChecks)._1.map(_._2.get).toMap

  /** REAL `dbt build` semantics: each model's data checks run
    * immediately after it materializes and BEFORE any dependent
    * starts; a failing check marks the model `fail` and SKIPS its
    * transitive dependents — independent branches keep running (dbt
    * skips downstream of a failure, it does not abort the invocation).
    * The failing model's table IS materialized (dbt builds, then
    * tests); only the gate to dependents closes. Non-check errors
    * (bad SQL, missing relation) still abort loudly, as in [[run]].
    *
    * @return (frames for every model that materialized — including
    *         ones whose checks then failed — and a status per model:
    *         `success`, `fail: <detail>`, or `skipped: ...`) */
  def buildGated(models: Seq[Model])
      : (Map[String, DataFrame], Map[String, String]) = {
    val (outcomes, frames) = schedule(models, runChecks = true)
    val status = outcomes.map { case (m, outcome) =>
      m.name -> (outcome match {
        case scala.util.Success(_) => "success"
        case scala.util.Failure(d: DataCheckException) =>
          if (d.model == m.name) s"fail: ${d.getMessage}"
          else s"skipped: upstream ${d.model} failed a data test"
        case scala.util.Failure(other) => throw other
      })
    }.toMap
    (frames, status)
  }
}

/** dbt data-test primitives (marts_schema.yml:6-15): a test is a query
  * returning violating rows; pass ⇔ zero violations. */
object DataChecks {
  import org.apache.spark.sql.functions._

  /** `not_null` (marts_schema.yml:6-7). */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNull).select(column)

  /** `dbt_utils.unique_combination_of_columns` (marts_schema.yml:13-15). */
  def uniqueCombination(df: DataFrame, columns: Seq[String]): DataFrame =
    df.groupBy(columns.map(col): _*)
      .count()
      .filter(col("count") > 1)

  /** dbt's `relationships` test, generalized to an audit: child keys
    * with no matching parent (orphans — referential-integrity
    * violations). The violating-rows contract holds (pass ⇔ empty);
    * each violating key carries its row count so the audit doubles as
    * the orphan census a 100 TB backfill triages by volume. NULL
    * child keys are not violations (dbt semantics — `not_null` is a
    * separate test).
    *
    * Scale shape: child pre-aggregates to distinct keys+counts
    * map-side, then ONE left-anti join against the parent's distinct
    * keys — never a row-level child×parent join. */
  def relationships(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val ck = child.filter(col(childKey).isNotNull)
      .groupBy(col(childKey).as("orphan_key"))
      .agg(count(lit(1)).as("n_rows"))
    ck.join(parent.select(col(parentKey).as("orphan_key")).distinct(),
      Seq("orphan_key"), "left_anti")
  }

  /** dbt's source-freshness check: per source partition, the lag of
    * the newest row behind `asOf`, classified against the
    * warn/error thresholds (`loaded_at_field` + `freshness:` block
    * semantics). Lags are exact-second longs from timestamp
    * arithmetic; a source with NO rows is an `error` with null
    * max_loaded_at (a silent dead feed is the worst staleness).
    *
    * Scale shape: one (source) max aggregation, map-side combined —
    * the thresholds apply to a sources-sized table. */
  def sourceFreshness(rows: DataFrame, sources: DataFrame,
      asOf: java.sql.Timestamp, warnAfterS: Long, errorAfterS: Long,
      srcCol: String = "source", tsCol: String = "ts"): DataFrame =
    sourceFreshnessFinish(sourceFreshnessState(rows, srcCol, tsCol),
      sources, asOf, warnAfterS, errorAfterS, srcCol)

  /** The ALGEBRAIC per-source accumulator max(ts) — one commutative
    * max per source, so micro-batches fold freely and the state is
    * sources-sized forever (the streaming-twin state table,
    * [[graft.streaming.StreamingOps.freshnessStateStream]] — live
    * feed-freshness monitoring is the natural streaming deployment of
    * this audit). */
  private[graft] def sourceFreshnessState(rows: DataFrame,
      srcCol: String = "source", tsCol: String = "ts"): DataFrame =
    rows.groupBy(col(srcCol).as("src"))
      .agg(max(col(tsCol)).as("max_loaded_at"))

  /** Finish a state snapshot into the classified freshness table —
    * sources-sized input, identical whether the maxes came from one
    * batch pass or merged micro-batches. */
  /** [[sourceFreshnessFinish]] with PER-SOURCE thresholds — the shape
    * `dbt source freshness` needs, where each table's yml declares its
    * own `warn_after`/`error_after` ([[graft.sql.DbtProject.sourceFreshness]]
    * wires it from a checkout). `thresholds` has (src, warn_s, err_s)
    * with nullable thresholds: a null threshold never fires (dbt
    * allows warn-only or error-only blocks); a source with no rows is
    * an `error` regardless (a silent dead feed is the worst
    * staleness). Same sources-sized join shape as the global finish. */
  def sourceFreshnessFinishPer(state: DataFrame, thresholds: DataFrame,
      asOf: java.sql.Timestamp): DataFrame =
    thresholds.select(col("src"), col("warn_s"), col("err_s"))
      .join(state, Seq("src"), "left")
      .select(col("src"), col("max_loaded_at"), col("warn_s"), col("err_s"),
        (lit(asOf).cast("long") - col("max_loaded_at").cast("long"))
          .as("lag_s"))
      .select(col("src"), col("max_loaded_at"), col("lag_s"),
        when(col("lag_s").isNull, "error")
          .when(col("err_s").isNotNull && col("lag_s") > col("err_s"), "error")
          .when(col("warn_s").isNotNull && col("lag_s") > col("warn_s"), "warn")
          .otherwise("pass").as("status"))

  def sourceFreshnessFinish(state: DataFrame, sources: DataFrame,
      asOf: java.sql.Timestamp, warnAfterS: Long, errorAfterS: Long,
      srcCol: String = "source"): DataFrame =
    sources.select(col(srcCol).as("src")).distinct()
      .join(state, Seq("src"), "left")
      .select(col("src"), col("max_loaded_at"),
        (lit(asOf).cast("long") - col("max_loaded_at").cast("long"))
          .as("lag_s"))
      .select(col("src"), col("max_loaded_at"), col("lag_s"),
        when(col("lag_s").isNull || col("lag_s") > errorAfterS, "error")
          .when(col("lag_s") > warnAfterS, "warn")
          .otherwise("pass").as("status"))

  def passes(violations: DataFrame): Boolean = violations.isEmpty
}
