package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import graft.model.{Materialization, Model, ModelGraph, Runner}
import graft.sources.IO

/** Runs a dbt-style project of BigQuery-dialect SQL models on Spark:
  * Jinja source()/ref() calls define the DAG (SURVEY §2.11/§3), each
  * model's SQL is translated by [[BigQueryDialect]] and executed via
  * spark.sql in topological order with the same Runner/materialization
  * machinery as the DataFrame models. This is the "switch without
  * rewriting your queries" path for a user of the reference.
  */
final class DbtSqlEngine(spark: SparkSession, warehouseDir: String,
    currentDateOverride: Option[String] = None, threads: Int = 4,
    vars: Map[String, String] = Map.empty,
    envVars: Map[String, String] = sys.env,
    macros: Map[String, Jinja.MacroDef] = Map.empty,
    targetProps: Map[String, String] = Map.empty,
    contracts: Map[String, DbtContracts.ModelContract] = Map.empty) {

  /** @param modelSql   model name -> raw (Jinja + BigQuery) SQL
    * @param sources    source table name -> DataFrame
    * @param materializations model name -> materialization (default
    *        View); an in-model `{{ config(materialized=...) }}` beats
    *        this, exactly dbt's precedence (model config >
    *        dbt_project.yml)
    *
    * Incremental models get dbt's two-phase semantics: a first render
    * with `is_incremental()` = false decides the materialization (and
    * the full-build SQL); when the target table already exists on
    * disk, the model re-renders with `is_incremental()` = true and
    * `{{ this }}` bound to a temp view over the CURRENT target, so
    * `where ts > (select max(ts) from {{ this }})` reads the resident
    * table — then the Runner folds the filtered output in (merge on
    * `unique_key`, else append).
    */
  def run(modelSql: Map[String, String], sources: Map[String, DataFrame],
      materializations: Map[String, Materialization] = Map.empty,
      tags: Map[String, Set[String]] = Map.empty,
      select: Option[String] = None,
      fullRefresh: Boolean = false,
      exclude: Option[String] = None,
      hooks: Map[String, (Seq[String], Seq[String])] = Map.empty,
      selectorDef: Option[ModelGraph.SelectorDef] = None,
      deferDir: Option[String] = None)
      : Map[String, DataFrame] = {
    val prep = prepare(modelSql, sources, materializations, tags,
      select, fullRefresh, exclude, hooks, selectorDef, deferDir)
    val out = new Runner(spark, sources, warehouseDir, threads)
      .run(prep.chosen)
    // only the models actually built this run advance in the manifest:
    // a select/exclude-restricted run must NOT record excluded models'
    // new hashes as current, or a later --select state:modified would
    // silently treat them as unmodified and never rebuild them
    writeManifest(prep.effectiveSql, prep.chosen.map(_.name).toSet)
    out
  }

  /** `dbt build`: like [[run]], but each model's declared data tests
    * execute immediately after it materializes and gate its
    * dependents — a test whose [[DbtTests.statusOf]] resolves to
    * `fail` SKIPS everything downstream while independent branches
    * keep running (dbt's skip semantics, not an abort); a `warn`
    * outcome is REPORTED but does not gate (dbt's severity contract).
    * Tests whose model is not in `modelSql` (seeds, sources) are
    * ignored here — the caller runs those against its own frames.
    * @return (frames for every model that materialized, status per
    *         model: success | fail: … | skipped: …, one row per
    *         EXECUTED test: (model, test label, violations, status ∈
    *         pass|warn|fail) — tests of skipped models don't run and
    *         are absent) */
  def build(modelSql: Map[String, String], sources: Map[String, DataFrame],
      materializations: Map[String, Materialization] = Map.empty,
      tags: Map[String, Set[String]] = Map.empty,
      select: Option[String] = None,
      fullRefresh: Boolean = false,
      tests: Seq[DbtTests.DataTest] = Seq.empty,
      exclude: Option[String] = None,
      hooks: Map[String, (Seq[String], Seq[String])] = Map.empty,
      selectorDef: Option[ModelGraph.SelectorDef] = None,
      deferDir: Option[String] = None,
      preFailed: Map[String, String] = Map.empty)
      : (Map[String, DataFrame], Map[String, String],
         Seq[(String, String, Long, String)]) = {
    val prep = prepare(modelSql, sources, materializations, tags,
      select, fullRefresh, exclude, hooks, selectorDef, deferDir)
    // dbt >= 1.8 build ordering: a model whose UNIT tests failed is
    // never materialized — its transform throws the same gate
    // exception the data-test machinery uses, so buildGated marks it
    // fail and skips its dependents while independent branches run
    val gated = prep.chosen.map { m =>
      preFailed.get(m.name) match {
        case Some(reason) => m.copy()(_ =>
          throw new graft.model.DataCheckException(
            s"model ${m.name} failed unit test: $reason", m.name))
        case None => m
      }
    }
    // dbt compiles tests on ephemeral models against the inlined CTE;
    // this engine does not — fail loudly instead of silently skipping
    val ephTested = tests.filter(t => prep.ephemerals.contains(t.model))
    require(ephTested.isEmpty,
      "data tests on ephemeral models are not supported (they never " +
        s"materialize): ${ephTested.map(t => s"${t.model}.${t.kind}").distinct}")
    val byModel = tests.groupBy(_.model)
    // every executed test logs here (checks run concurrently under the
    // Runner's thread pool); (model, label) keys the report rows
    val testLog = new scala.collection.concurrent.TrieMap[
      (String, String), (Long, String)]
    val withChecks = gated.map { m =>
      val checks = byModel.getOrElse(m.name, Seq.empty).map { t =>
        val label = t.column.map(c => s"${t.kind}($c)").getOrElse(t.kind)
        label -> ((df: org.apache.spark.sql.DataFrame) => {
          val vr = DbtTests.violatingRows(t, df, spark)
          // dbt `store_failures`: persist the test's result rows (the
          // audit-schema analog); the count then reads the written
          // table so the violating-rows plan runs once
          val n =
            if (t.config.get("store_failures").exists(_.trim.toBoolean)) {
              val path = s"$warehouseDir/dbt_test__audit/" +
                DbtTests.auditName(m.name, label)
              IO.commit(spark, vr, path).count()
            } else vr.count()
          val st = DbtTests.statusOf(n, t.config)
          testLog((m.name, label)) = (n, st)
          if (st == "fail")
            // same exception (and message shape) the Runner's own
            // gate raises — buildGated's skip semantics apply
            throw new graft.model.DataCheckException(
              s"model ${m.name} failed check '$label': " +
                s"$n violating rows", m.name)
          // pass/warn: nothing to gate on
          df.limit(0)
        })
      }
      m.copy(checks = checks)(m.transform)
    }
    val (frames, status) = new Runner(spark, sources, warehouseDir, threads)
      .buildGated(withChecks)
    // only SUCCESSFUL models advance: a model that failed its gated
    // tests (or was skipped) keeps its old manifest hash, so the next
    // state:modified run still sees it as modified and rebuilds it
    writeManifest(prep.effectiveSql, status.collect {
      case (n, st) if st == "success" => n }.toSet)
    val testRows = testLog.toSeq.sortBy(_._1).map {
      case ((model, label), (n, st)) => (model, label, n, st) }
    (frames, status, testRows)
  }

  /** dbt `state:modified` support: the warehouse carries a manifest
    * of raw-model-text hashes from the LAST run; the selector
    * resolves against the diff. Raw text (pre-Jinja) is what hashes —
    * a var-only change that alters rendering is NOT detected, which
    * matches hashing-the-source semantics and is documented here
    * deliberately (dbt's own state:modified has the same
    * file-content basis). No manifest on disk ⇒ every model counts
    * modified (first CI run builds the world). */
  private def manifestPath =
    new org.apache.hadoop.fs.Path(s"$warehouseDir/manifest.json")

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private[graft] def readManifest(): Map[String, String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) return Map.empty
    val in = fs.open(manifestPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    """"([\w.]+)"\s*:\s*"([0-9a-f]+)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Merge the hashes of the models ACTUALLY (and successfully) built
    * this run into the previous manifest — never record a hash for a
    * model that was excluded from the run or failed its gated tests
    * (its old hash stays, so state:modified keeps selecting it). */
  private def writeManifest(modelSql: Map[String, String],
      built: Set[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val merged = readManifest() ++ modelSql.collect {
      case (n, s) if built(n) => n -> sha(s) }
    val json = merged.toSeq.sortBy(_._1)
      .map { case (n, h) => s""""$n": "$h"""" }
      .mkString("{", ", ", "}")
    val out = fs.create(manifestPath, true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
  }

  private[graft] def modifiedSince(modelSql: Map[String, String])
      : Set[String] = {
    val prev = readManifest()
    modelSql.collect {
      case (n, s) if !prev.get(n).contains(sha(s)) => n
    }.toSet
  }

  import DbtSqlEngine.Prepared

  /** Render, translate, and wire the model DAG; inline ephemeral
    * models as `__dbt__cte__<name>` CTEs; resolve --select and
    * warehouse-resident upstreams. Shared by [[run]] and [[build]]. */
  private def prepare(modelSql: Map[String, String],
      sources: Map[String, DataFrame],
      materializations: Map[String, Materialization],
      tags: Map[String, Set[String]],
      select: Option[String],
      fullRefresh: Boolean,
      exclude: Option[String] = None,
      hooks: Map[String, (Seq[String], Seq[String])] = Map.empty,
      selectorDef: Option[ModelGraph.SelectorDef] = None,
      deferDir: Option[String] = None)
      : Prepared = {
    sources.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // ---- pass 1: render Jinja (a ref() inside a false {% if %}
    // branch must not become a DAG edge) and decide materializations —
    // the ephemeral set must be known before ANY model translates,
    // because dependents splice ephemeral texts into their own SQL
    final case class Rendered(name: String, raw: String,
        first: Jinja.Result, mat: Materialization,
        render: Boolean => Jinja.Result)
    val pass1 = modelSql.map { case (name, sql) =>
      def renderWith(inc: Boolean): Jinja.Result = Jinja.render(sql, vars,
        envVars, macros,
        bindings = Map(
          "this" -> Jinja.JRaw(s"${name}__this"),
          // {{ target.name }} / .schema / .dataset / .database — the
          // env-switching object real projects branch on; name
          // defaults to dbt's own default target name
          "target" -> Jinja.JMap(
            Map("name" -> Jinja.JStr(targetProps.getOrElse("name", "dev"))) ++
            targetProps.view.mapValues(Jinja.JStr(_)).toMap)),
        builtins = Map(
          "is_incremental" -> ((_: Seq[Jinja.JV]) => Jinja.JBool(inc))
        ) ++ DbtSqlEngine.dbtUtilsBuiltins)
      val first = renderWith(false)
      val uniqueKey = first.config.get("unique_key").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      // dbt's on_schema_change config (default ignore); validated in
      // Incremental.merge so a typo fails the first fold, not silently
      val onSchemaChange =
        first.config.getOrElse("on_schema_change", "ignore")
      val mat = first.config.get("materialized") match {
        case Some("table") => Materialization.Table
        case Some("view") => Materialization.View
        case Some("ephemeral") => Materialization.Ephemeral
        case Some("incremental") =>
          Materialization.Incremental(uniqueKey, onSchemaChange)
        case Some(other) => throw new IllegalArgumentException(
          s"model $name: unsupported config(materialized='$other')")
        case None => materializations.getOrElse(name, Materialization.View) match {
          // a policy-level incremental still honors the model's own
          // config(unique_key=...)
          case Materialization.Incremental(_, _) =>
            Materialization.Incremental(uniqueKey, onSchemaChange)
          case other => other
        }
      }
      Rendered(name, sql, first, mat, renderWith)
    }.toSeq
    val ephNames = pass1.collect {
      case r if r.mat == Materialization.Ephemeral => r.name }.toSet
    // an ephemeral model never executes, so its hooks would silently
    // never fire — reject loudly (dbt disallows this too)
    for (r <- pass1 if ephNames.contains(r.name);
         k <- Seq("pre_hook", "post_hook") if r.first.config.contains(k))
      throw new IllegalArgumentException(
        s"ephemeral model ${r.name} cannot declare $k (it never executes)")
    // an enforced contract on a model that never materializes can
    // never be checked against a real relation — dbt rejects it too
    for (n <- ephNames if contracts.get(n).exists(_.enforced))
      throw new IllegalArgumentException(s"model $n: contracts cannot " +
        "be enforced on ephemeral models (they never materialize)")
    val firstText = pass1.map(r => r.name -> r.first.text).toMap
    // rewrite `{{ ref('eph') }}` placeholders to the dbt CTE name;
    // refs to real models pass through untouched
    def renameEphRefs(text: String): String =
      DbtSqlEngine.refPlaceholderRe.replaceAllIn(text, m =>
        scala.util.matching.Regex.quoteReplacement(
          if (ephNames.contains(m.group(1))) s"__dbt__cte__${m.group(1)}"
          else m.matched))
    // dependencies-first closure of the ephemeral models a text
    // inlines (ephemerals may ref ephemerals); cycles fail loudly
    def ephClosure(seed: Seq[String]): Seq[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      val visiting = mutable.Set.empty[String]
      def visit(n: String): Unit = if (!seen.contains(n)) {
        require(visiting.add(n), s"cycle among ephemeral models at '$n'")
        BigQueryDialect.refs(firstText(n)).distinct
          .filter(ephNames.contains).foreach(visit)
        visiting -= n
        seen += n
      }
      seed.foreach(visit)
      seen.toSeq
    }
    val real = pass1.filter(_.mat != Materialization.Ephemeral)
    // effective raw text = own text + every inlined ephemeral's text:
    // what state:modified hashes, so an ephemeral edit marks every
    // dependent modified even though the dependent's own file is
    // untouched (the ephemeral itself is never a manifest entry)
    val effectiveSql = real.map { r =>
      val cls = ephClosure(BigQueryDialect.refs(r.first.text).distinct
        .filter(ephNames.contains))
      r.name -> (r.raw + cls.map(e =>
        s"\n-- __dbt__cte__$e\n${modelSql(e)}").mkString)
    }.toMap
    val models = real.map { r =>
      val name = r.name
      val first = r.first
      val mat = r.mat
      val targetPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
      // dbt --full-refresh: drop and rebuild incremental targets; the
      // model's own config(full_refresh=...) overrides the flag in
      // BOTH directions (false protects a huge table from an
      // accidental rebuild; true always rebuilds), dbt's precedence
      val modelFullRefresh =
        first.config.get("full_refresh").map(_.toLowerCase) match {
          case Some("true") => true
          case Some("false") => false
          case _ => fullRefresh
        }
      if (modelFullRefresh && mat.isInstanceOf[Materialization.Incremental])
        fs.delete(targetPath, true)
      val incrementalRun = mat.isInstanceOf[Materialization.Incremental] &&
        IO.tableExists(spark, targetPath.toString)
      val rr = if (incrementalRun) r.render(true) else first
      // splice the needed ephemeral bodies (dependencies first) as
      // __dbt__cte__ CTEs, then translate the COMBINED text — the
      // dialect shim (QUALIFY desugar included) sees one statement,
      // and Catalyst sees one expression tree to optimize through
      val needed = ephClosure(BigQueryDialect.refs(rr.text).distinct
        .filter(ephNames.contains))
      val combined =
        if (needed.isEmpty) rr.text
        else DbtSqlEngine.inlineCtes(renameEphRefs(rr.text),
          needed.map(e => e -> renameEphRefs(firstText(e))))
      val translated = BigQueryDialect.translate(combined, currentDateOverride)
      val modelTags = tags.getOrElse(name, Set.empty) ++
        first.config.get("tags").toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)
      // dbt pre-hook/post-hook: policy-level (dbt_project.yml) hooks
      // first, then the model's own config(pre_hook=..., post_hook=...)
      // — each a statement run via spark.sql after dialect translation.
      // configList carries list-valued hooks verbatim (hook SQL may
      // contain commas); a scalar hook reads from the flat config.
      def hookSqls(key: String): Seq[String] =
        first.configList.getOrElse(key, first.config.get(key).toSeq)
      val (policyPre, policyPost) =
        hooks.getOrElse(name, (Seq.empty[String], Seq.empty[String]))
      def hookFn(h: String): () => Unit = () => {
        spark.sql(BigQueryDialect.translate(h, currentDateOverride))
          .collect(); ()
      }
      val preHooks = (policyPre ++ hookSqls("pre_hook")).map(hookFn)
      val postHooks = (policyPost ++ hookSqls("post_hook")).map(hookFn)
      // deps come from the COMBINED text: refs through an ephemeral
      // land on the ephemeral's own upstreams, so the DAG edge (and
      // selector closure) survives the inlining
      val model = Model(name, BigQueryDialect.refs(combined).distinct, mat,
          tags = modelTags, preHooks = preHooks, postHooks = postHooks)({ _ =>
        // {{ this }} resolves to the resident target as of THIS run
        if (incrementalRun)
          IO.readParquet(spark, targetPath.toString)
            .createOrReplaceTempView(s"${name}__this")
        val df = spark.sql(translated)
        // contract gate BEFORE the Runner writes anything — dbt's
        // ordering (contract check at DDL time, ahead of the insert)
        contracts.get(name).map(DbtContracts.enforce(name, mat, df, _))
          .getOrElse(df)
      })
      (model, translated)
    }
    val compiled = models.map { case (m, sql) => m.name -> sql }.toMap
    val modelSeq = models.map(_._1)
    ModelGraph.topoSort(modelSeq) // fail fast on cycles before any work
    val chosen = selectorDef match {
      // a named selectors.yml selector: evaluated by the shared
      // token grammar, composed by its own union/intersection/
      // exclude algebra (callers enforce it never combines with
      // --select/--exclude, dbt's CLI rule)
      case Some(sd) =>
        val names = ModelGraph.evalSelector(modelSeq, sd,
          if (ModelGraph.selectorNeedsState(sd)) modifiedSince(effectiveSql)
          else Set.empty)
        modelSeq.filter(m => names.contains(m.name))
      case None => (select, exclude) match {
        case (None, None) => modelSeq
        case (sel, ex) =>
          // compute the changed-set lazily: only a state:modified token
          // pays the manifest read
          val needState = (sel.toSeq ++ ex.toSeq)
            .exists(_.contains("state:modified"))
          ModelGraph.select(modelSeq,
            sel.getOrElse(modelSeq.map(_.name).mkString(" ")),
            ex.getOrElse(""),
            if (needState) modifiedSince(effectiveSql) else Set.empty)
      }
    }
    // dbt --select semantics: unselected upstreams are read from the
    // warehouse (they persist there from earlier runs). In this
    // engine only Table/Incremental materializations persist; a
    // selected model depending on an unselected VIEW that was never
    // materialized fails loudly with the fix spelled out.
    if (chosen.size != modelSeq.size) {
      val chosenNames = chosen.map(_.name).toSet
      val allNames = modelSeq.map(_.name).toSet
      chosen.flatMap(_.deps).distinct
        .filter(d => allNames.contains(d) && !chosenNames.contains(d))
        .foreach { d =>
          val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$d")
          // dbt --defer: an upstream ABSENT from the current (dev)
          // warehouse resolves from the deferred (production) state
          // instead; a locally materialized table always wins, so a
          // dev rebuild of one upstream composes with deferred reads
          // of the rest (dbt's own precedence without favor-state)
          val src = if (fs.exists(p)) Some(p)
            else deferDir.map(dd => new org.apache.hadoop.fs.Path(s"$dd/$d"))
              .filter(fs.exists)
          require(src.isDefined,
            s"selected models depend on '$d', which is not selected and " +
            "has no materialized table in the warehouse" +
            deferDir.map(dd => s" (nor in the --defer state at $dd)")
              .getOrElse("") +
            s" — widen the selector (e.g. '+<name>'), run '$d' first, " +
            "or pass defer = <production warehouse>")
          IO.readParquet(spark, src.get.toString).createOrReplaceTempView(d)
        }
    }
    Prepared(chosen, effectiveSql, ephNames, compiled)
  }

  /** `dbt compile`: the exact translated SQL [[run]] would execute
    * per REAL model — Jinja rendered (incremental models render with
    * `is_incremental()` = true when their target is resident, just
    * like a run), ephemerals inlined as `__dbt__cte__` CTEs, dialect
    * shim applied. NOTHING executes: no Runner, no hooks, no manifest
    * write (a compile must never advance `state:modified`).
    * @return model name → compiled Spark SQL text */
  def compile(modelSql: Map[String, String],
      sources: Map[String, DataFrame],
      materializations: Map[String, Materialization] = Map.empty,
      tags: Map[String, Set[String]] = Map.empty,
      select: Option[String] = None,
      exclude: Option[String] = None,
      selectorDef: Option[ModelGraph.SelectorDef] = None,
      deferDir: Option[String] = None): Map[String, String] = {
    val prep = prepare(modelSql, sources, materializations, tags,
      select, fullRefresh = false, exclude, Map.empty, selectorDef, deferDir)
    val keep = prep.chosen.map(_.name).toSet
    prep.compiled.filter { case (n, _) => keep.contains(n) }
  }
}

object DbtSqlEngine {
  /** What `prepare` hands back to run/build: the selected Models
    * (ephemeral models already inlined and EXCLUDED), the effective
    * raw text per real model for manifest hashing (own text + the
    * texts of every inlined ephemeral, so an ephemeral edit re-hashes
    * its dependents and `state:modified` selects them), and the
    * ephemeral names (so build() can loud-reject tests on them). */
  private[sql] final case class Prepared(chosen: Seq[Model],
      effectiveSql: Map[String, String], ephemerals: Set[String],
      compiled: Map[String, String])

  /** A `{{ ref('name') }}` placeholder as the Jinja layer leaves it
    * (the dialect shim resolves these to bare relation names; the
    * ephemeral inliner resolves them to CTE names FIRST). */
  private[graft] val refPlaceholderRe =
    """\{\{\s*ref\(\s*'(\w+)'\s*\)\s*\}\}""".r

  /** Splice ephemeral model bodies into `text` as dbt-named CTEs
    * (`__dbt__cte__<name>`), dependencies first. If the text already
    * opens with a WITH clause (leading whitespace / line comments /
    * block comments skipped), the CTEs merge INTO it — two WITH
    * keywords would not parse; otherwise a new WITH wraps the text.
    * Runs BEFORE dialect translation, so the combined statement goes
    * through the shim (QUALIFY desugar included) exactly once. */
  private[graft] def inlineCtes(text: String,
      ctes: Seq[(String, String)]): String = {
    if (ctes.isEmpty) return text
    val cteTxt = ctes.map { case (n, body) =>
      s"__dbt__cte__$n as (\n$body\n)" }.mkString(",\n")
    val withRe = """(?is)^(?:\s|--[^\n]*\n?|/\*.*?\*/)*(with)\b""".r
    withRe.findFirstMatchIn(text) match {
      case Some(m) =>
        val end = m.end(1)
        text.substring(0, end) + "\n" + cteTxt + ",\n" + text.substring(end)
      case None => s"with\n$cteTxt\n$text"
    }
  }

  /** The dbt_utils macros real projects lean on hardest, as Jinja
    * builtins expanding to the cross-database SQL dbt_utils itself
    * generates (same null sentinel, same '-' separator — a surrogate
    * key computed here matches one computed by dbt+dbt_utils on the
    * same rows). */
  private[sql] val dbtUtilsBuiltins: Map[String, Seq[Jinja.JV] => Jinja.JV] = Map(
    "dbt_utils.generate_surrogate_key" -> { args =>
      val fields = args.headOption match {
        case Some(Jinja.JList(xs)) => xs.map {
          case Jinja.JStr(s) => s
          case other => throw new IllegalArgumentException(
            s"generate_surrogate_key: expected column-name strings, got $other")
        }
        case Some(Jinja.JStr(s)) => Seq(s)
        case _ => throw new IllegalArgumentException(
          "generate_surrogate_key takes a list of column names")
      }
      Jinja.JRaw("md5(" + fields.map(f =>
        s"coalesce(cast($f as string), '_dbt_utils_surrogate_key_null_')")
        .mkString(" || '-' || ") + ")")
    },
    "dbt_utils.safe_cast" -> { args =>
      args match {
        case Seq(Jinja.JStr(expr), Jinja.JStr(tpe)) =>
          Jinja.JRaw(s"try_cast($expr as $tpe)")
        case _ => throw new IllegalArgumentException(
          "safe_cast(field, type) takes two strings")
      }
    })
}
