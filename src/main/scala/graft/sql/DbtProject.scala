package graft.sql

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Materialization
import graft.sources.IO

/** Load a dbt project DIRECTORY and run it — the literal switch story
  * for a user of the reference: point the engine at the checkout and
  * every model materializes on Spark, no per-model wiring. Discovery
  * mirrors dbt's:
  *
  *  - every `*.sql` under the `model-paths` directories declared in
  *    `dbt_project.yml` (default `models/`) is a model named by its
  *    file stem; its DAG edges come from its own `ref()` calls (after
  *    Jinja rendering — a ref in a dead `{% if %}` branch is not an
  *    edge);
  *  - every `*.sql` under `macro-paths` (default `macros/`)
  *    contributes `{% macro %}` definitions callable from any model
  *    (ref `macros/utils.sql:1-3`); `threads` comes from a
  *    checkout-local profiles file when present
  *    (ref `profiles.example.yml:9`);
  *  - `sources.yml` declares the raw tables the caller must supply
  *    (name → DataFrame) — [[load]] surfaces the declared names so a
  *    missing source fails loudly before any SQL runs;
  *  - `dbt_project.yml`'s `models:` block sets the materialization
  *    policy — a project-level `+materialized:` default with per-
  *    subdirectory overrides (the reference: view default,
  *    `marts: +materialized: table` — dbt_project.yml:11-17) — and
  *    per-directory `+tags:`, which accumulate down the tree and
  *    drive `tag:` selectors;
  *  - schema ymls' `tests:` declarations load as runnable data tests
  *    ([[DbtTests]]; [[runAndTest]] = `dbt run` + `dbt test`);
  *  - every `*.csv` under `seed-paths` (default `seeds/`) is a dbt
  *    SEED: header-named, type-inferred, `ref()`-able from any model
  *    and testable like any resource (duplicate resource names fail
  *    loudly, as in dbt);
  *  - `{% snapshot %}` blocks under `snapshot-paths` (default
  *    `snapshots/`) run via [[snapshot]] as SCD2 tables
  *    ([[graft.model.Incremental.snapshot]] — check strategy); once
  *    materialized they resolve through `ref()` like any model;
  *  - a checkout-local profiles yml supplies `threads` and the
  *    `{{ target }}` object.
  *
  * The YAML surface parsed is the indentation-structured subset these
  * two files actually use (scalar keys, one list form) — deliberately
  * NOT a YAML library: anchors/flow styles/multi-docs are out of
  * scope and fail loudly as unrecognized lines where they would
  * matter. Execution delegates to [[DbtSqlEngine]] (dialect shim,
  * Jinja vars, topo-ordered threaded Runner).
  */
object DbtProject {

  /** A discovered project: model name → raw (Jinja+BigQuery) SQL, the
    * declared source table names, the resolved per-model
    * materializations, the project's macro definitions, and the
    * `threads` setting found in a checkout-local profiles file (None
    * if absent — dbt's own default is 4). */
  final case class Loaded(
      modelSql: Map[String, String],
      sourceTables: Seq[String],
      materializations: Map[String, Materialization],
      macros: Map[String, Jinja.MacroDef] = Map.empty,
      profileThreads: Option[Int] = None,
      tests: Seq[DbtTests.DataTest] = Seq.empty,
      tags: Map[String, Set[String]] = Map.empty,
      targetProps: Map[String, String] = Map.empty,
      seeds: Map[String, String] = Map.empty,
      snapshots: Map[String, String] = Map.empty,
      freshness: Map[String, FreshnessConfig] = Map.empty,
      singularTests: Map[String, String] = Map.empty,
      hooks: Map[String, (Seq[String], Seq[String])] = Map.empty,
      runHooks: (Seq[String], Seq[String]) = (Seq.empty, Seq.empty),
      exposures: Seq[Exposure] = Seq.empty,
      docsBlocks: Map[String, String] = Map.empty,
      descriptions: Map[String, ResourceDocs] = Map.empty,
      selectors: Map[String, graft.model.ModelGraph.SelectorDef] = Map.empty,
      defaultSelector: Option[String] = None,
      contracts: Map[String, DbtContracts.ModelContract] = Map.empty,
      unitTests: Seq[UnitTestDef] = Seq.empty,
      groups: Map[String, String] = Map.empty,
      modelGov: Map[String, ModelGov] = Map.empty,
      analyses: Map[String, String] = Map.empty)

  /** dbt ≥ 1.6 model governance: the model's `group:` membership and
    * `access:` level (public | protected | private; dbt's default is
    * protected). `private` restricts ref() to same-group models —
    * enforced at load over the static DAG, dbt's own parse-time
    * behavior. `protected` restricts to the same package; a single-
    * package checkout makes that vacuously true here. */
  final case class ModelGov(group: Option[String], access: String)

  /** One `unit_tests:` entry (dbt ≥ 1.8): render `model` against the
    * inline `given` fixture rows and diff the result against
    * `expect` rows. `given` keys are resolved relation names
    * (ref('x') → x, source('s','t') → t); each row is column →
    * scalar (None = NULL). */
  final case class UnitTestDef(name: String, model: String,
      given: Seq[(String, Seq[Map[String, Option[String]]])],
      expect: Seq[Map[String, Option[String]]],
      description: Option[String] = None)

  /** One resource's documentation from schema ymls: the resource-
    * level `description:` plus per-column descriptions, with any
    * `{{ doc('name') }}` references already resolved against the
    * project's `{% docs %}` blocks (unknown names fail loudly at
    * load — a dangling doc ref is a docs bug worth catching before
    * `docs generate`). */
  final case class ResourceDocs(description: Option[String],
      columns: Map[String, String])

  /** A declared `exposures:` entry — the downstream consumer
    * (dashboard, notebook, ML job) a dbt project documents so
    * lineage reaches PAST the warehouse. `dependsOn` holds resolved
    * relation names (`ref('m')` → m, `source('s','t')` → t — this
    * engine keys sources by table name, as `source()` itself does). */
  final case class Exposure(name: String, exposureType: String,
      maturity: Option[String], owner: Option[String],
      dependsOn: Seq[String])

  /** A declared table's resolved `dbt source freshness` config:
    * which column carries the load timestamp and the staleness
    * thresholds in seconds (either may be absent — dbt allows
    * warn-only / error-only blocks). Table-level declarations
    * override source-level ones wholesale (dbt's merge rule). */
  final case class FreshnessConfig(loadedAtField: String,
      warnAfterS: Option[Long] = None, errorAfterS: Option[Long] = None)

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** A `key: [a, b]` flow-style or block-style string list from a
    * yml document; None when the key is absent. dbt_project.yml uses
    * the flow style for model-paths/macro-paths (ref
    * dbt_project.yml:6-8). */
  private[graft] def parseStringList(yml: String, key: String): Option[Seq[String]] = {
    val flowRe = (s"""(?m)^$key:\\s*\\[([^\\]]*)\\]\\s*$$""").r
    val blockHeadRe = (s"""(?m)^$key:\\s*$$""").r
    flowRe.findFirstMatchIn(yml) match {
      case Some(m) =>
        Some(m.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"")
          .stripSuffix("\"").stripPrefix("'").stripSuffix("'"))
          .filter(_.nonEmpty))
      case None => blockHeadRe.findFirstMatchIn(yml).map { m =>
        val itemRe = """^(\s+)-\s*"?([^"\s]+)"?\s*$""".r
        yml.substring(m.end).linesIterator
          .takeWhile(l => l.trim.isEmpty || l.startsWith(" ") || l.startsWith("\t"))
          .collect { case itemRe(_, v) => v }.toSeq
      }
    }
  }

  /** The first `threads:` scalar in a profiles yml (the active
    * target's connection setting — ref profiles.example.yml:9). */
  private[graft] def parseThreads(yml: String): Option[Int] =
    """(?m)^\s*threads:\s*(\d+)\s*$""".r.findFirstMatchIn(yml)
      .map(_.group(1).toInt)

  /** The `{{ target }}` properties a profiles yml carries: the active
    * target name (`target:` — ref profiles.example.yml:2) plus the
    * first `dataset:`/`schema:`/`database:`/`project:` scalars (dbt's
    * BigQuery adapter exposes `dataset` AS `schema`, so both keys
    * bind — ref profiles.example.yml:7-8). */
  private[graft] def parseTargetProps(yml: String): Map[String, String] = {
    def first(key: String): Option[String] =
      (s"""(?m)^\\s*$key:\\s*"?([\\w-]+)"?\\s*$$""").r
        .findFirstMatchIn(yml).map(_.group(1))
    val schema = first("dataset").orElse(first("schema"))
    (first("target").map("name" -> _) ++
      schema.map("schema" -> _) ++ schema.map("dataset" -> _) ++
      first("project").orElse(first("database")).map("database" -> _))
      .toMap
  }

  /** dbt renders profiles.yml through Jinja before YAML-parsing it —
    * the one call that matters there is `env_var()` (credentials and
    * env switching). Expand `{{ env_var('NAME'[, 'default']) }}`
    * occurrences; an undefined variable with no default fails loudly
    * (dbt's own behavior — a silently-empty credential is worse). */
  private[graft] def expandEnvVars(yml: String,
      env: String => Option[String] = sys.env.get): String =
    ("""\{\{\s*env_var\(\s*['"]([^'"]+)['"]""" +
      """\s*(?:,\s*['"]([^'"]*)['"]\s*)?\)\s*\}\}""").r
      .replaceAllIn(yml, m => {
        val name = m.group(1)
        val v = env(name).orElse(Option(m.group(2))).getOrElse(
          throw new IllegalArgumentException(
            s"profiles env_var('$name') is undefined and has no default"))
        scala.util.matching.Regex.quoteReplacement(v)
      })

  /** Parse a profiles yml with dbt's REAL two-level structure
    * (`target:` names the active entry under `outputs:` — ref
    * profiles.example.yml:2-11): returns the active output's scalar
    * keys (threads, type, project, dataset, …) plus `name` → the
    * target name. An unknown `target:` fails loudly with the declared
    * outputs listed. Falls back to a flat first-scalar scan (the
    * pre-round-14 behavior) when the yml has no `outputs:` block, so
    * minimal hand-rolled profiles keep working. */
  private[graft] def parseProfile(yml: String): Map[String, String] = {
    val scalarRe = """^(\s*)([\w-]+):\s*"?([^"#]*?)"?\s*$""".r
    val outputsRe = """^(\s*)outputs:\s*$""".r
    val lines = yml.linesIterator.toSeq
    val targetName = """(?m)^\s*target:\s*"?([\w-]+)"?\s*$""".r
      .findFirstMatchIn(yml).map(_.group(1))
    val oIdx = lines.indexWhere(l => outputsRe.findFirstMatchIn(l).isDefined)
    if (oIdx < 0)
      return (targetName.map("name" -> _) ++ parseTargetProps(yml) ++
        parseThreads(yml).map(t => "threads" -> t.toString)).toMap
    val oInd = lines(oIdx).takeWhile(_ == ' ').length
    // children of outputs: keys at the pinned first-child indent;
    // each names one output whose scalars sit at deeper indent
    var childInd = -1 // pinned indent of output headers under outputs:
    val outs = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, String]]
    var cur: Option[String] = None
    var curKeys = Map.empty[String, String]
    var ended = false
    def flush(): Unit = { cur.foreach(n => outs(n) = curKeys); curKeys = Map.empty }
    for (line <- lines.drop(oIdx + 1)
         if !ended && line.trim.nonEmpty && !line.trim.startsWith("#")) {
      val ind = line.takeWhile(_ == ' ').length
      if (ind <= oInd) { flush(); cur = None; ended = true }
      else line match {
        case scalarRe(sp, k, v) =>
          if (childInd == -1) childInd = sp.length
          if (sp.length == childInd && v.isEmpty) { // output header
            flush(); cur = Some(k)
          } else if (sp.length > childInd && cur.isDefined && v.nonEmpty)
            curKeys += (k -> v)
          // deeper nested blocks inside an output (keyfile dicts …)
          // and stray empty keys are ignored
        case _ => ()
      }
    }
    flush()
    val active = targetName.orElse(outs.keys.headOption).getOrElse(
      throw new IllegalArgumentException("profiles yml has outputs but no target"))
    val block = outs.getOrElse(active, throw new IllegalArgumentException(
      s"profiles target '$active' is not among outputs ${outs.keys.toSeq}"))
    block + ("name" -> active)
  }

  /** `loaded_at_field` + `freshness:` blocks from a sources yml →
    * per-TABLE resolved [[FreshnessConfig]] (dbt's `dbt source
    * freshness` inputs). Source-level declarations are defaults for
    * every table; a table-level `loaded_at_field` overrides the
    * field, a table-level `freshness:` block overrides the thresholds
    * wholesale. Tables resolving to no `loaded_at_field` or to no
    * thresholds are skipped (dbt checks only configured tables).
    * Threshold forms handled: flow `warn_after: {count: 12, period:
    * hour}` and the two-line block form; periods minute|hour|day. */
  private[graft] def parseFreshness(yml: String): Map[String, FreshnessConfig] = {
    val itemRe = """^(\s*)-\s*name:\s*"?([\w.]+)"?\s*$""".r
    val keyRe = """^(\s*)([\w-]+):\s*(.*?)\s*$""".r
    val flowRe = """\{\s*count:\s*(\d+)\s*,\s*period:\s*"?(\w+)"?\s*\}""".r
    def periodS(p: String): Long = p match {
      case "minute" => 60L
      case "hour" => 3600L
      case "day" => 86400L
      case other => throw new IllegalArgumentException(
        s"freshness period '$other' is not minute|hour|day")
    }
    final case class Fresh(var loaded: Option[String] = None,
        var warn: Option[Long] = None, var err: Option[Long] = None,
        var hasBlock: Boolean = false, var optOut: Boolean = false)
    var srcItemInd = -1
    var tblItemInd = -1
    var inTables = false
    val src = Fresh(); var tbl = Fresh()
    var curTable: Option[String] = None
    var pendingThr: Option[String] = None // warn_after/error_after block form
    var pendingTblScope = false           // scope captured at the header line
    var pendingCount: Option[Long] = None
    var pendingPeriod: Option[String] = None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, FreshnessConfig]
    def inTable(ind: Int): Boolean =
      inTables && tblItemInd >= 0 && ind > tblItemInd
    def scope(ind: Int): Fresh = if (inTable(ind)) tbl else src
    def closeThr(): Unit = {
      for (k <- pendingThr; c <- pendingCount; p <- pendingPeriod) {
        val s = c * periodS(p)
        val f = if (pendingTblScope) tbl else src
        if (k == "warn_after") f.warn = Some(s) else f.err = Some(s)
      }
      pendingThr = None; pendingCount = None; pendingPeriod = None
    }
    def flushTable(): Unit = {
      closeThr()
      for (t <- curTable if !tbl.optOut && !src.optOut) {
        val loaded = tbl.loaded.orElse(src.loaded)
        val (w, e) = if (tbl.hasBlock) (tbl.warn, tbl.err) else (src.warn, src.err)
        for (f <- loaded if w.isDefined || e.isDefined)
          out(t) = FreshnessConfig(f, w, e)
      }
      curTable = None; tbl = Fresh()
    }
    def flushSource(): Unit = {
      flushTable()
      src.loaded = None; src.warn = None; src.err = None
      src.hasBlock = false; src.optOut = false
      inTables = false; tblItemInd = -1
    }
    for (line <- yml.linesIterator if line.trim.nonEmpty
         && !line.trim.startsWith("#")) {
      line match {
        case itemRe(sp, name) =>
          val ind = sp.length
          if (srcItemInd == -1 && !inTables) { srcItemInd = ind; flushSource() }
          else if (ind == srcItemInd) flushSource()
          else if (inTables && (tblItemInd == -1 || ind == tblItemInd)) {
            tblItemInd = ind; flushTable(); curTable = Some(name)
          } // deeper - name: items are columns; ignore
        case keyRe(sp, k, v) =>
          val ind = sp.length
          k match {
            case "tables" if v.isEmpty => closeThr(); inTables = true; tblItemInd = -1
            case "loaded_at_field" => closeThr(); scope(ind).loaded =
              Some(v.stripPrefix("\"").stripSuffix("\""))
            case "freshness" if v.isEmpty => closeThr(); scope(ind).hasBlock = true
            case "freshness" if v == "null" => // dbt's per-table opt-out
              closeThr(); scope(ind).optOut = true
            case "warn_after" | "error_after" =>
              closeThr()
              scope(ind).hasBlock = true
              flowRe.findFirstMatchIn(v) match {
                case Some(m) =>
                  val s = m.group(1).toLong * periodS(m.group(2))
                  if (k == "warn_after") scope(ind).warn = Some(s)
                  else scope(ind).err = Some(s)
                case None =>
                  pendingThr = Some(k); pendingTblScope = inTable(ind)
              }
            case "count" if pendingThr.isDefined => pendingCount = Some(v.toLong)
            case "period" if pendingThr.isDefined =>
              pendingPeriod = Some(v); closeThr()
            case _ => ()
          }
        case _ => ()
      }
    }
    flushSource()
    out.toMap
  }

  /** Declared source table names: every `- name: t` list item DIRECTLY
    * under a `tables:` key in any `*.yml`/`*.yaml` beneath the model
    * paths. "Directly" is enforced by pinning the list-item indent to
    * that of the FIRST `- name:` seen after `tables:` — the standard
    * dbt pattern nests `columns:` blocks (each with their own
    * `- name:` items at deeper indent) under a table entry, and an
    * indent-greater-than-tables rule alone would report every column
    * as a declared source table. */
  private[graft] def parseSourceTables(yml: String): Seq[String] = {
    val lines = yml.linesIterator.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var tablesIndent = -1
    var itemIndent = -1 // indent of the table-entry list items, pinned
    val tablesRe = """^(\s*)tables:\s*$""".r
    val itemRe = """^(\s*)-\s*name:\s*"?([\w.]+)"?\s*$""".r
    lines.foreach {
      case tablesRe(ind) => tablesIndent = ind.length; itemIndent = -1
      // >= not >: YAML also permits list items at the SAME indent as
      // their parent key; the pin disambiguates either way
      case itemRe(ind, name) if tablesIndent >= 0 && ind.length >= tablesIndent &&
          (itemIndent < 0 || ind.length == itemIndent) =>
        if (itemIndent < 0) itemIndent = ind.length
        out += name
      case l if tablesIndent >= 0 &&
          l.trim.nonEmpty && !l.trim.startsWith("-") &&
          l.takeWhile(_ == ' ').length <= tablesIndent =>
        tablesIndent = -1; itemIndent = -1 // dedent closes the tables block
      case _ => ()
    }
    out.toSeq
  }

  /** `selectors.yml` named selectors: each entry's `definition` is
    * either a CLI-style scalar (the [[graft.model.ModelGraph.select]]
    * token grammar) or a structured composition —
    * `union:`/`intersection:` lists whose items are scalars,
    * `method:`/`value:` leaves (methods fqn/tag/state, with the
    * `children`/`parents`/`childrens_parents` graph flags), nested
    * compositions, or an `exclude:` list subtracted last. Unknown
    * methods/keys fail loudly. Returns (name → definition, the
    * `default: true` selector if one is declared — dbt applies it
    * when a run names no other selection). */
  private[graft] def parseSelectors(yml: String)
      : (Map[String, graft.model.ModelGraph.SelectorDef], Option[String]) = {
    import MiniYaml._
    import graft.model.ModelGraph.SelectorDef
    def leafToken(m: YMap): String = {
      def flag(k: String) = m.get(k) match {
        case Some(YScalar(s)) => s.trim.equalsIgnoreCase("true")
        case _ => false
      }
      val method = m.get("method") match {
        case Some(YScalar(s)) => s.trim
        case _ => throw new IllegalArgumentException(
          s"selector leaf without a method: $m")
      }
      val value = m.get("value") match {
        case Some(YScalar(s)) => s.trim
        case _ => throw new IllegalArgumentException(
          s"selector leaf without a value: $m")
      }
      val core = method match {
        // fqn paths address by trailing name segment in this engine
        case "fqn" => value.split("\\.").last
        case "tag" => s"tag:$value"
        case "state" => s"state:$value"
        case other => throw new IllegalArgumentException(
          s"unsupported selector method '$other' (supported: fqn, tag, state)")
      }
      if (flag("childrens_parents")) s"@$core"
      else (if (flag("parents")) "+" else "") + core +
        (if (flag("children")) "+" else "")
    }
    def parseDef(n: Node): SelectorDef = n match {
      case YScalar(s) => SelectorDef.Cli(s)
      case m: YMap if m.get("method").isDefined => SelectorDef.Cli(leafToken(m))
      case m: YMap =>
        val (union, itemsNode) =
          (m.get("union"), m.get("intersection")) match {
            case (Some(u), None) => (true, u)
            case (None, Some(i)) => (false, i)
            case _ => throw new IllegalArgumentException(
              s"selector composition needs exactly one of union:/intersection:: $m")
          }
        val items = itemsNode match {
          case YList(is) => is
          case other => throw new IllegalArgumentException(
            s"union:/intersection: must hold a list, got $other")
        }
        val (excludes, includes) = items.partition {
          case im: YMap => im.get("exclude").isDefined &&
            im.entries.size == 1
          case _ => false
        }
        val excludeDefs = excludes.flatMap {
          case im: YMap => im.get("exclude") match {
            case Some(YList(es)) => es.map(parseDef)
            case Some(other) => Seq(parseDef(other))
            case None => Seq.empty
          }
          case _ => Seq.empty
        }
        SelectorDef.Compose(union, includes.map(parseDef), excludeDefs)
      case other => throw new IllegalArgumentException(
        s"unsupported selector definition node: $other")
    }
    MiniYaml.parse(yml) match {
      case m: YMap => m.get("selectors") match {
        case Some(YList(items)) =>
          val parsed = items.map {
            case im: YMap =>
              val name = im.get("name") match {
                case Some(YScalar(s)) => s.trim
                case _ => throw new IllegalArgumentException(
                  "selectors.yml entry without a name")
              }
              val isDefault = im.get("default") match {
                case Some(YScalar(s)) => s.trim.equalsIgnoreCase("true")
                case _ => false
              }
              val defn = im.get("definition").getOrElse(
                throw new IllegalArgumentException(
                  s"selector '$name' declares no definition"))
              (name, isDefault, parseDef(defn))
            case other => throw new IllegalArgumentException(
              s"unsupported selectors.yml entry: $other")
          }
          val dup = parsed.groupBy(_._1)
            .collect { case (n, vs) if vs.size > 1 => n }
          require(dup.isEmpty,
            s"duplicate selector name(s): ${dup.toSeq.sorted.mkString(", ")}")
          val defaults = parsed.filter(_._2).map(_._1)
          require(defaults.size <= 1,
            s"multiple default selectors: ${defaults.mkString(", ")}")
          (parsed.map(p => p._1 -> p._3).toMap, defaults.headOption)
        case _ => (Map.empty, None)
      }
      case _ => (Map.empty, None)
    }
  }

  /** `{% docs name %} … {% enddocs %}` blocks from a markdown file
    * (dbt scans .md files under the model/docs paths). Whitespace-
    * control variants (`{%-`/`-%}`) accepted; body trimmed. A name
    * declared twice in one file fails loudly (dbt rejects duplicate
    * doc blocks). */
  private[graft] def parseDocsBlocks(md: String): Map[String, String] = {
    val blockRe = ("""(?s)\{%-?\s*docs\s+([\w.]+)\s*-?%\}(.*?)""" +
      """\{%-?\s*enddocs\s*-?%\}""").r
    val found = blockRe.findAllMatchIn(md)
      .map(m => m.group(1) -> m.group(2).trim).toSeq
    val dup = found.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate {% docs %} block name(s): ${dup.toSeq.sorted.mkString(", ")}")
    found.toMap
  }

  /** Replace every `{{ doc('name') }}` reference in a description
    * with its `{% docs %}` block body; an unknown name fails loudly
    * (dbt's own `docs generate` behavior — a silently-empty
    * description hides the bug). */
  private[graft] def resolveDocRefs(text: String,
      docs: Map[String, String]): String = {
    val refRe = """\{\{\s*doc\(\s*['"]([\w.]+)['"]\s*\)\s*\}\}""".r
    refRe.replaceAllIn(text, m => {
      val name = m.group(1)
      val body = docs.getOrElse(name, throw new IllegalArgumentException(
        s"doc('$name') references no {% docs %} block (project declares: " +
          s"${docs.keys.toSeq.sorted.mkString(", ")})"))
      scala.util.matching.Regex.quoteReplacement(body)
    })
  }

  /** `versions:` declarations (dbt ≥ 1.5 model versions) from one
    * schema yml: model name → (latest_version, version →
    * defined_in). `latest_version` defaults to the highest declared
    * v; a latest_version pointing at an undeclared version is loud.
    * Only integer versions are supported (dbt allows dotted strings;
    * none of the naming below would be stable for them). */
  private[graft] def parseVersions(yml: String)
      : Map[String, (Int, Map[Int, Option[String]])] = {
    import MiniYaml._
    MiniYaml.parse(yml) match {
      case m: YMap => m.get("models") match {
        case Some(YList(models)) => models.flatMap {
          case mm: YMap =>
            val name = mm.get("name") match {
              case Some(YScalar(s)) => s
              case _ => throw new IllegalArgumentException(
                "model entry without a name")
            }
            mm.get("versions") match {
              case Some(YList(vs)) =>
                val vers = vs.map {
                  case vm: YMap =>
                    val v = vm.get("v") match {
                      case Some(YScalar(s)) => s.trim.toInt
                      case _ => throw new IllegalArgumentException(
                        s"model $name: versions entry without v:")
                    }
                    v -> vm.get("defined_in").collect {
                      case YScalar(s) => s }
                  case other => throw new IllegalArgumentException(
                    s"model $name: unsupported versions entry: $other")
                }
                val dup = vers.groupBy(_._1)
                  .collect { case (v, xs) if xs.size > 1 => v }
                require(dup.isEmpty,
                  s"model $name declares duplicate version(s): " +
                    dup.toSeq.sorted.mkString(", "))
                val latest = mm.get("latest_version") match {
                  case Some(YScalar(s)) => s.trim.toInt
                  case _ => vers.map(_._1).max
                }
                require(vers.exists(_._1 == latest),
                  s"model $name: latest_version $latest is not a " +
                    s"declared version (${vers.map(_._1).sorted
                      .mkString(", ")})")
                Some(name -> (latest, vers.toMap))
              case _ => None
            }
          case _ => None
        }.toMap
        case _ => Map.empty
      }
      case _ => Map.empty
    }
  }

  /** Top-level `groups:` declarations from one schema yml →
    * group name → owner display text. dbt requires an owner with at
    * least one property — loud here, at load time. */
  private[graft] def parseGroups(yml: String): Map[String, String] = {
    import MiniYaml._
    def scalar(n: Option[Node]): Option[String] = n match {
      case Some(YScalar(s)) if s.trim.nonEmpty => Some(s.trim)
      case _ => None
    }
    MiniYaml.parse(yml) match {
      case m: YMap => m.get("groups") match {
        case Some(YList(gs)) => gs.flatMap {
          case gm: YMap =>
            val name = scalar(gm.get("name")).getOrElse(
              throw new IllegalArgumentException(
                "group entry without a name"))
            val owner = gm.get("owner") match {
              case Some(om: YMap) =>
                val texts = om.entries.flatMap { case (k, v) =>
                  scalar(Some(v)).map(t => s"$k: $t") }
                require(texts.nonEmpty, s"group $name: owner needs at " +
                  "least one property (dbt requires name or email)")
                texts.mkString(", ")
              case _ => throw new IllegalArgumentException(
                s"group $name: dbt requires an owner block")
            }
            Some(name -> owner)
          case _ => None
        }.toMap
        case _ => Map.empty
      }
      case _ => Map.empty
    }
  }

  /** Per-model `group:` / `access:` from one schema yml's `models:`
    * list (model level or under `config:` — dbt accepts both).
    * Access values are validated here; membership/visibility checks
    * happen at load where the whole project is in hand. */
  private[graft] def parseModelGov(yml: String): Map[String, ModelGov] = {
    import MiniYaml._
    def scalar(n: Option[Node]): Option[String] = n match {
      case Some(YScalar(s)) if s.trim.nonEmpty => Some(s.trim)
      case _ => None
    }
    MiniYaml.parse(yml) match {
      case m: YMap => m.get("models") match {
        case Some(YList(models)) => models.flatMap {
          case mm: YMap =>
            val name = scalar(mm.get("name")).getOrElse(
              throw new IllegalArgumentException(
                "model entry without a name"))
            val cfg = mm.get("config").collect { case c: YMap => c }
            val group = scalar(mm.get("group"))
              .orElse(cfg.flatMap(c => scalar(c.get("group"))))
            val access = scalar(mm.get("access"))
              .orElse(cfg.flatMap(c => scalar(c.get("access"))))
            access.foreach(a => require(
              Set("public", "protected", "private").contains(a),
              s"model $name: access '$a' is not public | protected | " +
                "private"))
            if (group.isEmpty && access.isEmpty) None
            else Some(name -> ModelGov(group,
              access.getOrElse("protected")))
          case _ => None
        }.toMap
        case _ => Map.empty
      }
      case _ => Map.empty
    }
  }

  /** `unit_tests:` entries (dbt ≥ 1.8) from one yml. Unknown keys in
    * a unit test (overrides, versions, …) and non-dict fixture
    * formats fail loudly — a silently skipped unit test is worse
    * than a missing one (the DbtTests discipline). */
  private[graft] def parseUnitTests(yml: String): Seq[UnitTestDef] = {
    import MiniYaml._
    def scalar(n: Node, what: String): String = n match {
      case YScalar(s) => s
      case other => throw new IllegalArgumentException(
        s"$what: expected a scalar, got $other")
    }
    val refRe = """ref\(\s*'(\w+)'\s*\)""".r
    val srcRe = """source\(\s*'[^']*'\s*,\s*'(\w+)'\s*\)""".r
    def relationOf(expr0: String, what: String): String = expr0.trim match {
      case refRe(n) => n
      case srcRe(n) => n
      case bare if bare.matches("\\w+") => bare
      case other => throw new IllegalArgumentException(
        s"$what: unsupported input expression '$other' " +
          "(ref('m') | source('s','t') | bare name)")
    }
    def rowsOf(n: YMap, what: String): Seq[Map[String, Option[String]]] = {
      n.entries.foreach { case (k, _) =>
        require(Set("rows", "format", "input").contains(k),
          s"$what: unsupported key '$k' (rows, format)") }
      n.get("format").foreach(f => require(
        scalar(f, s"$what.format") == "dict",
        s"$what: only format: dict is supported (csv/sql fixtures are not)"))
      n.get("rows") match {
        case Some(YList(rs)) => rs.map {
          case rm: YMap => rm.entries.map { case (k, v) =>
            k -> (v match {
              case YNull => None
              case YScalar(s) if s.equalsIgnoreCase("null") || s == "~" => None
              case YScalar(s) => Some(s)
              case other => throw new IllegalArgumentException(
                s"$what: unsupported cell value for '$k': $other")
            })
          }.toMap
          case other => throw new IllegalArgumentException(
            s"$what: each row must be a mapping, got $other")
        }
        // an absent/empty rows list is a legal fixture: the relation
        // exists and is EMPTY
        case None | Some(YNull) => Seq.empty
        case Some(other) => throw new IllegalArgumentException(
          s"$what: unsupported rows form: $other")
      }
    }
    MiniYaml.parse(yml) match {
      case m: YMap => m.get("unit_tests") match {
        case Some(YList(tests)) => tests.map {
          case tm: YMap =>
            val name = scalar(tm.get("name").getOrElse(
              throw new IllegalArgumentException(
                "unit test entry without a name")), "unit_tests.name")
            tm.entries.foreach { case (k, _) =>
              require(Set("name", "model", "given", "expect",
                "description").contains(k),
                s"unit test $name: unsupported key '$k' " +
                  "(name, model, given, expect, description)") }
            val model = scalar(tm.get("model").getOrElse(
              throw new IllegalArgumentException(
                s"unit test $name declares no model")), s"$name.model")
            val given = tm.get("given") match {
              case Some(YList(gs)) => gs.map {
                case gm: YMap =>
                  val in = relationOf(scalar(gm.get("input").getOrElse(
                    throw new IllegalArgumentException(
                      s"unit test $name: given entry without input")),
                    s"$name.given.input"), s"$name.given.input")
                  in -> rowsOf(gm, s"$name.given($in)")
                case other => throw new IllegalArgumentException(
                  s"unit test $name: unsupported given entry: $other")
              }
              case None | Some(YNull) => Seq.empty
              case Some(other) => throw new IllegalArgumentException(
                s"unit test $name: unsupported given form: $other")
            }
            val expect = tm.get("expect") match {
              case Some(em: YMap) => rowsOf(em, s"$name.expect")
              case _ => throw new IllegalArgumentException(
                s"unit test $name declares no expect: rows")
            }
            UnitTestDef(name, model, given, expect,
              tm.get("description").collect { case YScalar(s) => s })
          case other => throw new IllegalArgumentException(
            s"unsupported unit_tests entry: $other")
        }
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }
  }

  /** `description:` strings from one schema yml's `models:`/`seeds:`/
    * `snapshots:` lists — resource-level plus per-column, raw (doc()
    * refs resolved later against the whole project's docs blocks).
    * Resources without any description are omitted. */
  private[graft] def parseDescriptions(yml: String): Map[String, ResourceDocs] = {
    import MiniYaml._
    def scalar(n: Option[Node]): Option[String] = n match {
      case Some(YScalar(s)) if s.trim.nonEmpty => Some(s.trim)
      case _ => None
    }
    MiniYaml.parse(yml) match {
      case m: YMap =>
        Seq("models", "seeds", "snapshots").flatMap { section =>
          m.get(section) match {
            case Some(YList(items)) => items.flatMap {
              case im: YMap =>
                val name = scalar(im.get("name")).getOrElse(
                  throw new IllegalArgumentException(
                    s"$section entry without a name"))
                val desc = scalar(im.get("description"))
                val cols = im.get("columns") match {
                  case Some(YList(cs)) => cs.flatMap {
                    case cm: YMap =>
                      for {
                        cn <- scalar(cm.get("name"))
                        cd <- scalar(cm.get("description"))
                      } yield cn -> cd
                    case _ => None
                  }.toMap
                  case _ => Map.empty[String, String]
                }
                if (desc.isEmpty && cols.isEmpty) None
                else Some(name -> ResourceDocs(desc, cols))
              case _ => None
            }
            case _ => Seq.empty
          }
        }.toMap
      case _ => Map.empty
    }
  }

  /** `exposures:` entries from a schema yml — name, type (dbt's
    * closed vocabulary, loud-rejected otherwise), optional maturity
    * and owner (owner.name under the owner: block, or owner.email if
    * that's all the project declares), and depends_on refs resolved
    * to relation names. Line-based like [[parseSourceTables]]. */
  private[graft] def parseExposures(yml: String): Seq[Exposure] = {
    val allowed = Set("dashboard", "notebook", "analysis", "ml",
      "application")
    val lines = yml.linesIterator.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[Exposure]
    var expIndent = -1
    var inOwner = false
    var cur: Option[(String, Option[String], Option[String],
      Option[String], Seq[String])] = None
    def flush(): Unit = cur.foreach { case (n, t, m, o, d) =>
      val ty = t.getOrElse(throw new IllegalArgumentException(
        s"exposure '$n' declares no type"))
      require(allowed.contains(ty),
        s"exposure '$n': unsupported type '$ty' (dbt allows: " +
          s"${allowed.toSeq.sorted.mkString(", ")})")
      out += Exposure(n, ty, m, o, d)
    }
    val expRe = """^(\s*)exposures:\s*$""".r
    val itemRe = """^\s*-\s*name:\s*"?([\w.]+)"?\s*$""".r
    val typeRe = """^\s*type:\s*"?(\w+)"?\s*$""".r
    val matRe = """^\s*maturity:\s*"?(\w+)"?\s*$""".r
    val ownerRe = """^(\s*)owner:\s*$""".r
    val oNameRe = """^\s*name:\s*"?(.+?)"?\s*$""".r
    val oMailRe = """^\s*email:\s*"?(\S+?)"?\s*$""".r
    val refRe = """^\s*-\s*ref\('([\w.]+)'\)\s*$""".r
    val srcRe = """^\s*-\s*source\('([\w.]+)'\s*,\s*'([\w.]+)'\)\s*$""".r
    var ownerIndent = -1
    lines.foreach {
      case expRe(ind) => expIndent = ind.length
      case l if expIndent >= 0 =>
        // the owner: block ends as soon as a non-empty line dedents
        // back to (or above) the owner: key's own indent — without
        // this, a later `name:`/`email:` anywhere in the same entry
        // (e.g. inside a meta: sub-block) silently overwrites the
        // parsed owner
        if (inOwner && l.trim.nonEmpty &&
            l.takeWhile(c => c == ' ' || c == '\t').length <= ownerIndent)
          inOwner = false
        l match {
        case itemRe(name) =>
          flush(); inOwner = false
          cur = Some((name, None, None, None, Seq.empty))
        case typeRe(t) if cur.isDefined && !inOwner =>
          cur = cur.map(c => (c._1, Some(t), c._3, c._4, c._5))
        case matRe(m) if cur.isDefined =>
          cur = cur.map(c => (c._1, c._2, Some(m), c._4, c._5))
        case ownerRe(ind) if cur.isDefined =>
          inOwner = true; ownerIndent = ind.length
        case oNameRe(n) if cur.isDefined && inOwner =>
          cur = cur.map(c => (c._1, c._2, c._3, Some(n), c._5))
        case oMailRe(e) if cur.isDefined && inOwner &&
            cur.exists(_._4.isEmpty) =>
          cur = cur.map(c => (c._1, c._2, c._3, Some(e), c._5))
        case refRe(r) if cur.isDefined =>
          cur = cur.map(c => (c._1, c._2, c._3, c._4, c._5 :+ r))
        case srcRe(_, t) if cur.isDefined =>
          cur = cur.map(c => (c._1, c._2, c._3, c._4, c._5 :+ t))
        case other if other.trim.nonEmpty && !other.trim.startsWith("-") &&
            !other.startsWith(" ") =>
          flush(); cur = None; expIndent = -1; inOwner = false
        case _ => ()
      }
      case _ => ()
    }
    flush()
    out.toSeq
  }

  /** Materialization policy from dbt_project.yml's `models:` block:
    * directory path (Nil = project default) → view|table. */
  private[graft] def parseMaterializations(yml: String): Map[Seq[String], Materialization] = {
    val lines = yml.linesIterator.toSeq
    val out = scala.collection.mutable.Map.empty[Seq[String], Materialization]
    var inModels = false
    var stack = List.empty[(Int, String)] // (indent, key) path inside models:
    val keyRe = """^(\s*)([\w-]+):\s*$""".r
    val matRe = """^(\s*)\+materialized:\s*"?(\w+)"?\s*$""".r
    lines.foreach {
      case keyRe(ind, "models") if ind.isEmpty => inModels = true; stack = Nil
      case l if inModels =>
        l match {
          case matRe(_, m) =>
            val mat = m match {
              case "table" => Materialization.Table
              case "view" => Materialization.View
              case "ephemeral" => Materialization.Ephemeral
              // unique_key can only come from in-model config();
              // a policy-level incremental without one appends
              case "incremental" => Materialization.Incremental(Seq.empty)
              case other => throw new IllegalArgumentException(
                s"unsupported materialization '$other'")
            }
            // stack head is the project name level; drop it from the path
            out(stack.reverse.map(_._2).drop(1)) = mat
          case keyRe(ind, k) =>
            if (ind.isEmpty) inModels = false // next top-level block
            else {
              stack = stack.dropWhile(_._1 >= ind.length)
              stack = (ind.length, k) :: stack
            }
          case _ => () // comments, tags, blanks
        }
      case _ => ()
    }
    out.toMap
  }

  /** Per-directory `+tags:` from dbt_project.yml's `models:` block —
    * unlike materializations, tags ACCUMULATE down the directory tree
    * (dbt's semantics), so a model's tags are the union over all its
    * path prefixes. */
  private[graft] def parseTags(yml: String): Map[Seq[String], Set[String]] = {
    val lines = yml.linesIterator.toSeq
    val out = scala.collection.mutable.Map.empty[Seq[String], Set[String]]
    var inModels = false
    var stack = List.empty[(Int, String)]
    val keyRe = """^(\s*)([\w-]+):\s*$""".r
    val tagRe = """^(\s*)\+tags:\s*\[([^\]]*)\]\s*$""".r
    lines.foreach {
      case keyRe(ind, "models") if ind.isEmpty => inModels = true; stack = Nil
      case l if inModels =>
        l match {
          case tagRe(_, items) =>
            val tags = items.split(",").toSet[String]
              .map(_.trim.stripPrefix("\"").stripSuffix("\"")
                .stripPrefix("'").stripSuffix("'")).filter(_.nonEmpty)
            val path = stack.reverse.map(_._2).drop(1)
            out(path) = out.getOrElse(path, Set.empty) ++ tags
          case keyRe(ind, k) =>
            if (ind.isEmpty) inModels = false
            else {
              stack = stack.dropWhile(_._1 >= ind.length)
              stack = (ind.length, k) :: stack
            }
          case _ => ()
        }
      case _ => ()
    }
    out.toMap
  }

  /** Per-directory `+pre-hook:`/`+post-hook:` from dbt_project.yml's
    * `models:` block — like tags, hooks ACCUMULATE down the directory
    * tree (dbt runs project-level hooks plus model-level ones).
    * Scalar (quoted or bare) values only: a flow LIST of hooks cannot
    * be split safely here (hook SQL contains commas) and fails loudly
    * — declare multiple hooks via in-model `config(post_hook=[...])`,
    * where the list survives intact. */
  private[graft] def parseHooks(yml: String)
      : Map[Seq[String], (Seq[String], Seq[String])] = {
    val lines = yml.linesIterator.toSeq
    val out = scala.collection.mutable.Map
      .empty[Seq[String], (Seq[String], Seq[String])]
    var inModels = false
    var stack = List.empty[(Int, String)]
    val keyRe = """^(\s*)([\w-]+):\s*$""".r
    val hookRe = """^(\s*)\+(pre-hook|post-hook):\s*(.+?)\s*$""".r
    lines.foreach {
      case keyRe(ind, "models") if ind.isEmpty => inModels = true; stack = Nil
      case l if inModels =>
        l match {
          case hookRe(_, which, raw) =>
            require(!raw.startsWith("["),
              s"+$which: list form is not supported in dbt_project.yml " +
                "(hook SQL contains commas) — use in-model " +
                "config(pre_hook=[...]/post_hook=[...]) for multiple hooks")
            val sql = raw.stripPrefix("\"").stripSuffix("\"")
              .stripPrefix("'").stripSuffix("'")
            val path = stack.reverse.map(_._2).drop(1)
            val (pre, post) = out.getOrElse(path, (Seq.empty, Seq.empty))
            out(path) =
              if (which == "pre-hook") (pre :+ sql, post)
              else (pre, post :+ sql)
          case keyRe(ind, k) =>
            if (ind.isEmpty) inModels = false
            else {
              stack = stack.dropWhile(_._1 >= ind.length)
              stack = (ind.length, k) :: stack
            }
          case _ => ()
        }
      case _ => ()
    }
    out.toMap
  }

  /** Discover the project at `projectDir`: models from every
    * directory in `model-paths` (default `["models"]`), macros from
    * every directory in `macro-paths` (default `["macros"]`), and
    * `threads` from a checkout-local `profiles.yml` (falling back to
    * `profiles.example.yml`, the template dbt checkouts ship). */
  def load(projectDir: String): Loaded = {
    val root = Paths.get(projectDir)
    val projYml = root.resolve("dbt_project.yml")
    require(Files.exists(projYml), s"$projectDir has no dbt_project.yml")
    val projText = read(projYml)
    val policy = parseMaterializations(projText)
    val modelDirs = parseStringList(projText, "model-paths")
      .getOrElse(Seq("models")).map(root.resolve)
    require(modelDirs.exists(Files.isDirectory(_)),
      s"$projectDir has none of the model-paths directories: " +
        modelDirs.mkString(", "))
    val byDir = modelDirs.filter(Files.isDirectory(_)).map { d =>
      d -> Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p)).toSeq
    }
    val files = byDir.flatMap(_._2)
    val modelSqlRaw = files.filter(_.toString.endsWith(".sql")).map { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      name -> read(p)
    }.toMap
    // dbt model versions: each version's FILE (defined_in, default
    // <model>_v<N>) registers under the canonical relation name
    // <model>_v<N>, and every ref resolves TEXTUALLY before Jinja —
    // ref('m', v=N) -> ref('m_vN'), unversioned ref('m') ->
    // ref('m_v<latest>'). Resolving on raw text keeps the Jinja
    // engine and dialect shim version-free, and means a
    // latest_version bump re-hashes every dependent, so
    // state:modified selects them (dbt's own behavior).
    val versionDecls = {
      val decls = files
        .filter(p => p.toString.endsWith(".yml") ||
          p.toString.endsWith(".yaml"))
        .flatMap(p => parseVersions(read(p)).toSeq)
      val dup = decls.groupBy(_._1)
        .collect { case (n, vs) if vs.size > 1 => n }
      require(dup.isEmpty, "model(s) versioned in more than one " +
        s"schema yml: ${dup.toSeq.sorted.mkString(", ")}")
      decls.toMap
    }
    val versionRenames: Map[String, String] =
      versionDecls.toSeq.flatMap { case (m, (_, vers)) =>
        vers.toSeq.map { case (n, definedIn) =>
          val file = definedIn.getOrElse(s"${m}_v$n")
          require(modelSqlRaw.contains(file),
            s"model $m version $n: no model file '$file.sql'")
          file -> s"${m}_v$n"
        }
      }.toMap
    val renamed = modelSqlRaw.map { case (k, v) =>
      versionRenames.getOrElse(k, k) -> v }
    require(renamed.size == modelSqlRaw.size,
      "model version canonical names collide with existing models: " +
        versionRenames.values.filter(modelSqlRaw.contains)
          .toSeq.sorted.mkString(", "))
    val versionedRefRe =
      """\{\{\s*ref\(\s*'(\w+)'\s*,\s*(?:v|version)\s*=\s*(\d+)\s*\)\s*\}\}""".r
    def resolveVersionRefs(text: String): String = {
      val t1 = versionedRefRe.replaceAllIn(text, mm => {
        val (m, n) = (mm.group(1), mm.group(2).toInt)
        val (_, vers) = versionDecls.getOrElse(m,
          throw new IllegalArgumentException(
            s"ref('$m', v=$n): model '$m' declares no versions"))
        require(vers.contains(n), s"ref('$m', v=$n): declared " +
          s"versions are ${vers.keys.toSeq.sorted.mkString(", ")}")
        scala.util.matching.Regex.quoteReplacement(s"{{ ref('${m}_v$n') }}")
      })
      DbtSqlEngine.refPlaceholderRe.replaceAllIn(t1, mm =>
        scala.util.matching.Regex.quoteReplacement(
          versionDecls.get(mm.group(1)) match {
            case Some((latest, _)) => s"{{ ref('${mm.group(1)}_v$latest') }}"
            case None => mm.matched
          }))
    }
    val modelSql = renamed.view.mapValues(resolveVersionRefs).toMap
    val sources = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => parseSourceTables(read(p)))
    val tagPolicy = parseTags(projText)
    val mats = byDir.flatMap { case (dir, fs) =>
      fs.filter(_.toString.endsWith(".sql")).map { p =>
        val name = p.getFileName.toString.stripSuffix(".sql")
        val relDirs = dir.relativize(p.getParent).toString
          .split("[/\\\\]").toSeq.filter(_.nonEmpty)
        // most specific directory override wins; fall back to project
        // default; dbt's own default is view
        val mat = relDirs.inits.collectFirst {
          case prefix if policy.contains(prefix) => policy(prefix)
        }.getOrElse(Materialization.View)
        name -> mat
      }
    }.toMap.map { case (k, v) => versionRenames.getOrElse(k, k) -> v }
    val modelTags = byDir.flatMap { case (dir, fs) =>
      fs.filter(_.toString.endsWith(".sql")).map { p =>
        val name = p.getFileName.toString.stripSuffix(".sql")
        val relDirs = dir.relativize(p.getParent).toString
          .split("[/\\\\]").toSeq.filter(_.nonEmpty)
        // tags accumulate over every prefix (dbt semantics)
        name -> relDirs.inits.toSeq
          .flatMap(prefix => tagPolicy.getOrElse(prefix, Set.empty)).toSet
      }
    }.toMap.map { case (k, v) => versionRenames.getOrElse(k, k) -> v }
    // dbt on-run-start/on-run-end: project-level lifecycle hooks
    // (audit setup, grants) — scalar or block-list SQL, executed via
    // spark.sql around the whole run/build (dbt's semantics). Flow
    // lists stay a loud reject: hook SQL contains commas, so a
    // bracket split cannot be safe.
    val runHooks = (parseRunHooks(projText, "on-run-start"),
      parseRunHooks(projText, "on-run-end"))
    // +pre-hook/+post-hook accumulate down the tree, outermost first
    // (project-policy hooks run before the model's own config hooks)
    val hookPolicy = parseHooks(projText)
    val modelHooks = byDir.flatMap { case (dir, fs) =>
      fs.filter(_.toString.endsWith(".sql")).map { p =>
        val name = p.getFileName.toString.stripSuffix(".sql")
        val relDirs = dir.relativize(p.getParent).toString
          .split("[/\\\\]").toSeq.filter(_.nonEmpty)
        val prefixes = relDirs.inits.toSeq.reverse // outermost first
        name -> prefixes.foldLeft((Seq.empty[String], Seq.empty[String])) {
          case ((pre, post), prefix) =>
            val (p2, q2) = hookPolicy.getOrElse(prefix, (Seq.empty, Seq.empty))
            (pre ++ p2, post ++ q2)
        }
      }
    }.toMap.filter { case (_, (pre, post)) => pre.nonEmpty || post.nonEmpty }
      .map { case (k, v) => versionRenames.getOrElse(k, k) -> v }
    val macros = parseStringList(projText, "macro-paths")
      .getOrElse(Seq("macros")).map(root.resolve)
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".sql")))
      .flatMap(p => Jinja.parseMacros(read(p)))
      .toMap
    // profiles: Jinja env_var() expansion first (dbt renders profiles
    // through Jinja), then target:/outputs: selection — the active
    // output supplies threads and the {{ target }} scalars
    val profile = Seq("profiles.yml", "profiles.example.yml")
      .map(root.resolve).find(Files.exists(_)).map(p => expandEnvVars(read(p)))
    val profProps = profile.map(parseProfile).getOrElse(Map.empty)
    val threads = profProps.get("threads").map(_.toInt)
    val tests = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => DbtTests.parse(read(p)))
    // dbt seeds: every *.csv under seed-paths (default seeds/) is a
    // ref()-able relation named by its file stem
    val seeds = parseStringList(projText, "seed-paths")
      .getOrElse(Seq("seeds")).map(root.resolve)
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".csv")))
      .map(p => p.getFileName.toString.stripSuffix(".csv") -> p.toString)
      .toMap
    // dbt snapshots: {% snapshot name %} blocks under snapshot-paths
    val snapshots = parseStringList(projText, "snapshot-paths")
      .getOrElse(Seq("snapshots")).map(root.resolve)
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".sql")))
      .flatMap(p => parseSnapshotBlocks(read(p)))
      .toMap.view.mapValues(resolveVersionRefs).toMap
    // dbt singular tests: every *.sql under test-paths (default
    // tests/) is a test named by its file stem — Jinja-rendered (ref/
    // source resolve), run as a violating-rows query by runAndTest and
    // build; severity comes from an in-file {{ config(...) }}
    val singularTests = parseStringList(projText, "test-paths")
      .getOrElse(Seq("tests")).map(root.resolve)
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".sql")))
      .map(p => p.getFileName.toString.stripSuffix(".sql") ->
        resolveVersionRefs(read(p)))
      .toMap
    val names = Seq("model" -> modelSql.keySet, "seed" -> seeds.keySet,
      "snapshot" -> snapshots.keySet,
      "singular test" -> singularTests.keySet)
    for (Seq((ka, a), (kb, b)) <- names.combinations(2)) {
      val clash = a.intersect(b)
      require(clash.isEmpty, s"$ka and $kb share a name " +
        s"(dbt rejects duplicate resources): $clash")
    }
    // {{ target }} props from the active output: dbt's BigQuery
    // adapter exposes `dataset` AS `schema` (and project AS database),
    // so both names bind
    val tSchema = profProps.get("dataset").orElse(profProps.get("schema"))
    val tDb = profProps.get("project").orElse(profProps.get("database"))
    val targetProps = profProps ++
      tSchema.map("schema" -> _) ++ tSchema.map("dataset" -> _) ++
      tDb.map("database" -> _)
    val freshness = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => parseFreshness(read(p))).toMap
    val exposures = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => parseExposures(read(p)))
    // {% docs %} blocks from every .md under model-paths (+ declared
    // docs-paths); descriptions from every schema yml, doc() refs
    // resolved HERE so a dangling reference fails at load, not at
    // docs generate
    val docsSeq = (modelDirs ++ parseStringList(projText, "docs-paths")
        .getOrElse(Seq.empty).map(root.resolve))
      .filter(Files.isDirectory(_)).distinct
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".md")))
      .flatMap(p => parseDocsBlocks(read(p)).toSeq)
    val docsDup = docsSeq.groupBy(_._1)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(docsDup.isEmpty, "duplicate {% docs %} block name(s) across " +
      s"files: ${docsDup.toSeq.sorted.mkString(", ")}")
    val docsBlocks = docsSeq.toMap
    val descriptions = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => parseDescriptions(read(p)))
      .toMap.map { case (name, rd) => name -> ResourceDocs(
        rd.description.map(resolveDocRefs(_, docsBlocks)),
        rd.columns.map { case (c, d) => c -> resolveDocRefs(d, docsBlocks) })
      }
    // selectors.yml sits next to dbt_project.yml (dbt's location)
    val (selectors, defaultSel) = {
      val sy = root.resolve("selectors.yml")
      if (Files.exists(sy)) parseSelectors(read(sy))
      else (Map.empty[String, graft.model.ModelGraph.SelectorDef],
        Option.empty[String])
    }
    // model contracts from every schema yml; one model contracted in
    // two files is a project bug worth naming
    val contractSeq = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => DbtContracts.parse(read(p)).toSeq)
    val contractDup = contractSeq.groupBy(_._1)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(contractDup.isEmpty, "model(s) contracted in more than one " +
      s"schema yml: ${contractDup.toSeq.sorted.mkString(", ")}")
    // a contract declared on a VERSIONED model binds every version
    // (dbt's rule: versioned models require a contract and all
    // versions share it unless a version overrides — overrides are
    // not supported here)
    val contracts = contractSeq.toMap.flatMap { case (n, c) =>
      versionDecls.get(n) match {
        case Some((_, vers)) => vers.keys.map(v => s"${n}_v$v" -> c)
        case None => Seq(n -> c)
      }
    }
    contracts.collect { case (n, c) if c.enforced => n }
      .foreach(n => require(modelSql.contains(n),
        s"enforced contract declared for unknown model '$n' (dbt " +
          "contracts apply to models)"))
    // dbt >= 1.8 unit_tests: parsed from every yml; unknown target
    // models and duplicate names are project bugs, loud at load
    val unitTests = files
      .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
      .flatMap(p => parseUnitTests(read(p)))
    val utDup = unitTests.groupBy(_.name)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(utDup.isEmpty,
      s"duplicate unit test name(s): ${utDup.toSeq.sorted.mkString(", ")}")
    unitTests.foreach(ut => require(modelSql.contains(ut.model),
      s"unit test ${ut.name} targets unknown model '${ut.model}'"))
    // dbt ≥ 1.6 groups + access: declared in schema ymls, validated
    // and ENFORCED here — parse time, dbt's own behavior. A private
    // model is ref()-able only from models in its own group; the
    // error names the group so the fix is obvious.
    val ymlFiles = files.filter(p =>
      p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
    val groupSeq = ymlFiles.flatMap(p => parseGroups(read(p)).toSeq)
    val groupDup = groupSeq.groupBy(_._1)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(groupDup.isEmpty, "group(s) declared more than once: " +
      s"${groupDup.toSeq.sorted.mkString(", ")}")
    val groups = groupSeq.toMap
    val govSeq = ymlFiles.flatMap(p => parseModelGov(read(p)).toSeq)
    val govDup = govSeq.groupBy(_._1)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(govDup.isEmpty, "model(s) with group/access in more than " +
      s"one schema yml: ${govDup.toSeq.sorted.mkString(", ")}")
    // a declaration on a versioned model's base name binds every
    // version (same rule as contracts)
    val modelGov = govSeq.toMap.flatMap { case (n, g) =>
      versionDecls.get(n) match {
        case Some((_, vers)) => vers.keys.map(v => s"${n}_v$v" -> g)
        case None => Seq(n -> g)
      }
    }
    modelGov.foreach { case (n, g) =>
      require(modelSql.contains(n),
        s"group/access declared for unknown model '$n'")
      g.group.foreach(gr => require(groups.contains(gr),
        s"model $n: group '$gr' is not declared in any groups: block"))
      if (g.access == "private") require(g.group.nonEmpty,
        s"model $n: access private requires a group (dbt's rule — " +
          "visibility is scoped to the group)")
    }
    for {
      (m, sql) <- modelSql ++ snapshots
      r <- BigQueryDialect.refs(sql).distinct
      g <- modelGov.get(r) if g.access == "private"
    } require(modelGov.get(m).flatMap(_.group) == g.group,
      s"model '$m' cannot ref private model '$r': '$r' belongs to " +
        s"group '${g.group.get}' and '$m' " +
        modelGov.get(m).flatMap(_.group).map(x => s"belongs to group '$x'")
          .getOrElse("has no group"))
    // `analysis-paths` (default analyses/): SQL that COMPILES with
    // the full Jinja + ref()/source() surface but never runs, never
    // materializes, and is not ref-able. Version refs resolve the
    // same way model text does; unknown refs and undeclared sources
    // are loud here — a broken analysis is a project bug even though
    // it never executes (dbt errors at parse too).
    val analysisDirs = parseStringList(projText, "analysis-paths")
      .getOrElse(Seq("analyses")).map(root.resolve)
    val analyses = analysisDirs.filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.toString.endsWith(".sql")).toSeq)
      .map { p =>
        val n = p.getFileName.toString.stripSuffix(".sql")
        n -> resolveVersionRefs(read(p))
      }.toMap
    analyses.keys.filter(modelSql.contains).toSeq.sorted match {
      case Nil => ()
      case clash => throw new IllegalArgumentException(
        s"analysis name(s) collide with models: ${clash.mkString(", ")}")
    }
    val knownRels = modelSql.keySet ++ seeds.keySet ++ snapshots.keySet
    for ((n, sql) <- analyses) {
      BigQueryDialect.refs(sql).filterNot(knownRels)
        .toSeq.sorted match {
        case Nil => ()
        case bad => throw new IllegalArgumentException(
          s"analysis $n refs unknown relation(s): ${bad.mkString(", ")}")
      }
      BigQueryDialect.sources(sql).filterNot(sources.toSet)
        .toSeq.sorted match {
        case Nil => ()
        case bad => throw new IllegalArgumentException(
          s"analysis $n names undeclared source table(s): " +
            bad.mkString(", "))
      }
    }
    Loaded(modelSql, sources.distinct, mats, macros, threads, tests,
      modelTags, targetProps, seeds, snapshots, freshness, singularTests,
      modelHooks, runHooks, exposures, docsBlocks, descriptions,
      selectors, defaultSel, contracts, unitTests, groups, modelGov,
      analyses)
  }

  /** `on-run-start:`/`on-run-end:` hook SQL from dbt_project.yml —
    * one scalar statement or a block list of them (each item the full
    * quoted/bare statement; blanks skipped). A flow list (`[...]`)
    * fails loudly: hook SQL contains commas, so splitting on them
    * would corrupt the statements. */
  private[graft] def parseRunHooks(yml: String, key: String): Seq[String] = {
    def unquote(s: String): String = {
      val t = s.trim
      if ((t.startsWith("\"") && t.endsWith("\"") && t.length >= 2) ||
          (t.startsWith("'") && t.endsWith("'") && t.length >= 2))
        t.substring(1, t.length - 1)
      else t
    }
    // [ \t]* not \s*: \s crosses newlines and would swallow a block
    // list's first `- "..."` item into a bogus scalar match
    val scalarRe = (s"""(?m)^$key:[ \\t]*(\\S.*?)[ \\t]*$$""").r
    val blockRe = (s"""(?m)^$key:[ \\t]*$$""").r
    scalarRe.findFirstMatchIn(yml) match {
      case Some(m) =>
        require(!m.group(1).startsWith("["),
          s"$key: flow-style hook lists are not supported (hook SQL " +
            "contains commas) — use a block list (one `- \"...\"` per hook)")
        Seq(unquote(m.group(1)))
      case None => blockRe.findFirstMatchIn(yml).map { m =>
        val itemRe = """^\s+-\s*(.+?)\s*$""".r
        yml.substring(m.end).linesIterator
          .takeWhile(l => l.trim.isEmpty || l.startsWith(" ") ||
            l.startsWith("\t"))
          .collect { case itemRe(v) => unquote(v) }.toSeq
      }.getOrElse(Seq.empty)
    }
  }

  /** Render one singular test's Jinja (ref()/source() placeholders
    * survive for the dialect shim; `{{ config(severity=...) }}` is
    * captured for [[DbtTests.statusOf]]). */
  /** `dbt ls` — one row per discovered project resource with its
    * kind, materialization POLICY (dbt_project.yml; an in-model
    * `config(materialized=...)` override resolves at render time and
    * is not visible to this static listing), and accumulated tags,
    * in (kind, name) order. The inventory a user reads before a
    * selective run; selector-scoped execution itself lives on
    * [[run]]/[[build]]'s `select`/`exclude` parameters. */
  /** Resolve a --select/--exclude/--selector (or default-selector)
    * combination over the STATIC raw-text ref() DAG — models, seeds,
    * and snapshots all participate, exactly the [[list]] resolution
    * level. None = no selection of any kind (everything is in scope).
    * `state:modified` needs a warehouse manifest this static path
    * does not have: `lenientState = false` (ls) rejects it loudly;
    * `lenientState = true` (build's unit-test scoping) returns None —
    * the conservative "no scoping" answer, never a wrong subset. */
  private def staticSelection(p: Loaded, select: Option[String],
      exclude: Option[String], selector: Option[String],
      lenientState: Boolean): Option[Set[String]] =
    if (select.isEmpty && exclude.isEmpty && selector.isEmpty &&
        p.defaultSelector.isEmpty) None
    else {
      // seeds have no upstream text; snapshot blocks carry raw
      // {{ ref() }} edges exactly like model files
      val allNames = p.modelSql.keySet ++ p.seeds.keySet ++
        p.snapshots.keySet
      val static = (p.modelSql ++ p.snapshots).map { case (n, sql) =>
        graft.model.Model(n,
          DbtSqlEngine.refPlaceholderRe.findAllMatchIn(sql)
            .map(_.group(1)).filter(allNames.contains).toSeq.distinct,
          tags = p.tags.getOrElse(n, Set.empty))(
          _ => throw new IllegalStateException(
            "static selection model never runs"))
      }.toSeq ++ p.seeds.keys.map(n =>
        graft.model.Model(n, Seq.empty,
          tags = p.tags.getOrElse(n, Set.empty))(
          _ => throw new IllegalStateException(
            "static selection model never runs")))
      val sd = resolveSelector(p, selector, select, exclude)
      sd match {
        case Some(d) =>
          if (graft.model.ModelGraph.selectorNeedsState(d)) {
            require(lenientState,
              "ls: state:modified needs a warehouse manifest — use " +
                "run/build for state-based selection")
            None
          } else Some(graft.model.ModelGraph.evalSelector(static, d))
        case None =>
          if ((select.toSeq ++ exclude.toSeq)
              .exists(_.contains("state:modified"))) {
            require(lenientState,
              "ls: state:modified needs a warehouse manifest — use " +
                "run/build for state-based selection")
            None
          } else Some(graft.model.ModelGraph.select(static,
            select.getOrElse(static.map(_.name).mkString(" ")),
            exclude.getOrElse("")).map(_.name).toSet)
      }
    }

  def list(spark: SparkSession, projectDir: String,
      select: Option[String] = None,
      exclude: Option[String] = None,
      selector: Option[String] = None): DataFrame = {
    val p = load(projectDir)
    import spark.implicits._
    // dbt ls selection: the full selector grammar over the STATIC
    // raw-text ref() DAG (the [[clone]] resolution level) — model,
    // seed, AND snapshot rows all filter through it (they are legal
    // fqn targets in dbt, and seeds/snapshots participate in ref()
    // edges, so `my_seed+` selects its downstream models here just
    // as dbt does). Tests/sources/exposures still list only on an
    // unselected ls — dbt additionally routes those through the
    // selector via attachment/`source:` methods this static listing
    // does not model (documented deviation).
    // state:modified needs a warehouse manifest ls does not have —
    // loud, not silently-empty.
    // the default selector applies to ls too (dbt: defaults bind
    // every node-selecting command) — resolveSelector below handles
    // that case, so "no selection of any kind" here must also mean
    // "and no default selector declared"
    val nodeFilter: Option[Set[String]] =
      staticSelection(p, select, exclude, selector, lenientState = false)
    def selected(n: String): Boolean = nodeFilter.forall(_.contains(n))
    // the contract flag rides the listing (dbt ls --output json
    // carries config.contract.enforced) — a user auditing which marts
    // are schema-pinned reads it here
    def contractFlag(n: String): String =
      if (p.contracts.get(n).exists(_.enforced)) "enforced" else ""
    // group membership + access level ride the listing too (dbt ls
    // --output json carries them) — the audit surface for which marts
    // are private and who owns the group
    def groupOf(n: String): String =
      p.modelGov.get(n).flatMap(_.group).getOrElse("")
    def accessOf(n: String): String =
      p.modelGov.get(n).map(_.access).getOrElse("")
    val rows: Seq[(String, String, String, String, String, String, String)] =
      p.modelSql.keys.filter(selected).map(n => (n, "model",
        p.materializations.get(n).map {
          case Materialization.View => "view"
          case Materialization.Table => "table"
          case Materialization.Ephemeral => "ephemeral"
          case _: Materialization.Incremental => "incremental"
        }.getOrElse("view"),
        p.tags.getOrElse(n, Set.empty).toSeq.sorted.mkString(","),
        contractFlag(n), groupOf(n), accessOf(n))).toSeq ++
      p.seeds.keys.filter(selected)
        .map(n => (n, "seed", "seed", "", "", "", "")).toSeq ++
      p.snapshots.keys.filter(selected)
        .map(n => (n, "snapshot", "snapshot", "", "", "", "")).toSeq ++
      (if (nodeFilter.isDefined) Seq.empty else
        p.singularTests.keys.map(n =>
          (n, "test", "singular", "", "", "", "")).toSeq ++
        p.sourceTables.map(n => (n, "source", "source", "", "", "", "")) ++
        p.exposures.map(e =>
          (e.name, "exposure", e.exposureType, "", "", "", "")) ++
        p.analyses.keys.map(n =>
          (n, "analysis", "analysis", "", "", "", "")).toSeq)
    rows.sortBy(r => (r._2, r._1))
      .toDF("resource", "kind", "materialization", "tags", "contract",
        "group", "access")
  }

  /** `dbt test` over the project's `unit_tests:` (dbt ≥ 1.8): each
    * entry renders its target model against the inline `given`
    * fixture rows — every ref()/source() the model (plus its inlined
    * ephemeral closure) reads STATICALLY must have a fixture, and a
    * fixture for a relation the model never reads is loud too (a
    * typo'd input would otherwise silently test nothing) — and diffs
    * the result against `expect` as a multiset over the expect rows'
    * columns (dbt's dict-format semantics: you compare the columns
    * you name; row order never matters).
    *
    * Renders with `is_incremental()` = false (dbt's unit-test
    * default) and NEVER touches the warehouse: fixtures are session
    * temp views torn down afterwards, and no manifest advances.
    *
    * Scale shape: fixtures are literal rows (KBs); the only Spark
    * work is one local plan per test.
    *
    * @return one row per unit test: (unit_test, model, status ∈
    *         pass|fail|error, detail), in name order */
  def unitTest(spark: SparkSession, projectDir: String,
      currentDateOverride: Option[String] = None,
      vars: Map[String, String] = Map.empty,
      select: Option[String] = None): DataFrame = {
    import spark.implicits._
    unitTestRows(spark, load(projectDir), currentDateOverride, vars,
      select).toDF("unit_test", "model", "status", "detail")
  }

  /** The unit-test evaluation behind [[unitTest]] and [[build]]'s
    * pre-materialization gate. */
  private def unitTestRows(spark: SparkSession, p: Loaded,
      currentDateOverride: Option[String],
      vars: Map[String, String],
      select: Option[String],
      onlyModels: Option[Set[String]] = None)
      : Seq[(String, String, String, String)] = {
    // a throwaway warehouse: nothing materializes, but prepare()
    // probes it to decide is_incremental (absent target => false,
    // dbt's unit-test rendering). Deleted before returning — one
    // leaked temp dir per invocation otherwise.
    val scratchPath = Files.createTempDirectory("graft-unittest")
    val scratch = scratchPath.toString
    try {
    val engine = new DbtSqlEngine(spark, scratch, currentDateOverride,
      1, vars, macros = p.macros, targetProps = p.targetProps)
    // static ephemeral detection (policy + in-model config text):
    // ephemerals inline into the model under test, so fixtures target
    // the ephemeral's OWN upstreams — the same resolution run uses
    val ephRe = """materialized\s*=\s*['"]ephemeral['"]""".r
    val ephemerals = p.modelSql.keySet.filter { n =>
      p.materializations.get(n).contains(Materialization.Ephemeral) ||
        ephRe.findFirstIn(p.modelSql(n)).isDefined
    }
    val chosen = (select match {
      case Some(s) => p.unitTests.filter(ut =>
        ut.name == s || ut.model == s)
      case None => p.unitTests
    }).filter(ut => onlyModels.forall(_.contains(ut.model)))
    val rows = chosen.sortBy(_.name).map { ut =>
      val outcome = try {
        // the model + the ephemeral closure it actually inlines,
        // compiled WITHOUT dep resolution (no other real models in
        // the subset => prepare never demands warehouse-resident
        // upstreams); an UNREACHABLE ephemeral must not drag its own
        // inputs into the fixture requirement
        val closure = {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          def visit(n: String): Unit =
            if (ephemerals.contains(n) && p.modelSql.contains(n) &&
                seen.add(n))
              BigQueryDialect.refs(p.modelSql(n)).foreach(visit)
          BigQueryDialect.refs(p.modelSql(ut.model)).foreach(visit)
          seen.toSet
        }
        val subset = p.modelSql.filter { case (n, _) =>
          n == ut.model || closure.contains(n) }
        val compiled = engine.compile(subset, Map.empty,
          p.materializations, p.tags, select = Some(ut.model))(ut.model)
        // static read set: refs+sources of the model and of EVERY
        // ephemeral (transitively inlined texts are subset members)
        val rels = subset.keys.flatMap(n =>
            BigQueryDialect.refs(p.modelSql(n)) ++
              BigQueryDialect.sources(p.modelSql(n)))
          .toSeq.distinct.filterNot(subset.keySet)
        val givenMap = ut.given.toMap
        val missing = rels.filterNot(givenMap.contains)
        require(missing.isEmpty, s"unit test ${ut.name}: no fixture " +
          s"for input(s): ${missing.sorted.mkString(", ")}")
        val stray = givenMap.keys.filterNot(rels.contains)
        require(stray.isEmpty, s"unit test ${ut.name}: fixture(s) for " +
          s"relation(s) the model never reads: " +
          stray.toSeq.sorted.mkString(", "))
        // Fixture views bind on bare relation names. A PRE-EXISTING
        // session temp view with the same name (e.g. a source table
        // the caller registered) must survive the test: snapshot its
        // plan first and re-register it afterwards — the old
        // create-then-drop clobbered it and then removed it entirely.
        val priors: Map[String, DataFrame] = rels.flatMap { r =>
          if (spark.catalog.tableExists(r) &&
              spark.catalog.getTable(r).isTemporary)
            Some(r -> spark.table(r))
          else None
        }.toMap
        rels.foreach { r =>
          fixtureFrame(spark, givenMap(r), s"${ut.name}.given($r)")
            .createOrReplaceTempView(r)
        }
        try {
          val actual = spark.sql(compiled)
          val expCols = ut.expect.flatMap(_.keys).distinct
          val absent = expCols.filterNot(actual.columns.contains)
          require(absent.isEmpty, s"unit test ${ut.name}: expect " +
            s"names column(s) the model does not return: " +
            s"${absent.mkString(", ")} (model returns: " +
            s"${actual.columns.mkString(", ")})")
          val got = (if (expCols.isEmpty) actual
            else actual.select(expCols.map(org.apache.spark.sql
              .functions.col): _*)).collect()
            .map(r => expCols.indices.map(i => canonCell(r.get(i))).toVector)
            .toVector
          // expect-side canonicalization follows the ACTUAL column
          // type: numeric columns compare numerically (200 == 200.0),
          // but a string column compares verbatim — numeric-folding
          // '007' to '7' would make string ids unmatchable
          val strCols: Set[String] = actual.schema.fields.collect {
            case f if f.dataType ==
              org.apache.spark.sql.types.StringType => f.name
          }.toSet
          val want = ut.expect.map(row => expCols.map(c =>
            row.get(c).flatten match {
              case None => "␀"
              case Some(s) => if (strCols(c)) s else canonScalar(s)
            }).toVector).toVector
          val diffA = multisetMinus(got, want)
          val diffE = multisetMinus(want, got)
          if (diffA.isEmpty && diffE.isEmpty) ("pass", "")
          else ("fail",
            s"columns [${expCols.mkString(", ")}]; " +
            (if (diffE.nonEmpty) s"expected but absent: " +
              s"${diffE.take(5).map(_.mkString("(", ",", ")")).mkString(" ")}; "
             else "") +
            (if (diffA.nonEmpty) s"returned but unexpected: " +
              s"${diffA.take(5).map(_.mkString("(", ",", ")")).mkString(" ")}"
             else ""))
        } finally rels.foreach { r =>
          spark.catalog.dropTempView(r)
          priors.get(r).foreach(_.createOrReplaceTempView(r))
        }
      } catch {
        case e: Exception =>
          ("error", s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(300))
      }
      (ut.name, ut.model, outcome._1, outcome._2)
    }
    rows
    } finally deleteRecursively(scratchPath)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    }
  }

  /** Multiset difference a − b (each b occurrence cancels one a). */
  private def multisetMinus(a: Vector[Vector[String]],
      b: Vector[Vector[String]]): Vector[Vector[String]] = {
    val counts = scala.collection.mutable.Map.empty[Vector[String], Int]
    b.foreach(r => counts(r) = counts.getOrElse(r, 0) + 1)
    a.filter { r =>
      val c = counts.getOrElse(r, 0)
      if (c > 0) { counts(r) = c - 1; false } else true
    }
  }

  /** Canonical comparison text for one actual cell: numbers via
    * BigDecimal (trailing zeros stripped, so 200, 200L and 200.0 all
    * read "200"), NULL as a sentinel, everything else toString
    * (dates/timestamps print ISO). */
  private def canonCell(v: Any): String = v match {
    case null => "␀"
    case d: java.lang.Double => canonNum(BigDecimal(d))
    case f: java.lang.Float => canonNum(BigDecimal(f.toDouble))
    case b: java.math.BigDecimal => canonNum(BigDecimal(b))
    case n: java.lang.Long => canonNum(BigDecimal(n))
    case n: java.lang.Integer => canonNum(BigDecimal(n.toLong))
    case n: java.lang.Short => canonNum(BigDecimal(n.toLong))
    case n: java.lang.Byte => canonNum(BigDecimal(n.toLong))
    case other => other.toString
  }

  private def canonScalar(s: String): String =
    try canonNum(BigDecimal(s.trim)) catch {
      case _: NumberFormatException => s }

  private def canonNum(b: BigDecimal): String =
    b.underlying.stripTrailingZeros.toPlainString

  /** Literal fixture rows → DataFrame. Column types are inferred
    * from the cells (boolean, long, double, ISO date, else string);
    * a column that is null in every row types as string. Rows may
    * declare different key subsets; absent keys are NULL (dbt's
    * dict-format rule). */
  private def fixtureFrame(spark: SparkSession,
      rows: Seq[Map[String, Option[String]]], what: String): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = rows.flatMap(_.keys).distinct
    val dateRe = """^\d{4}-\d{2}-\d{2}$""".r
    // a leading-zero "number" ('01', '007') is a STRING id in every
    // real schema — inferring long would strip the zeros and make
    // joins against string-typed expressions silently empty, failing
    // (or passing) unit tests for type reasons invisible to the user
    val leadingZeroRe = """^-?0\d+$""".r
    def typeOf(vs: Seq[String]): DataType =
      if (vs.isEmpty) StringType
      else if (vs.forall(v => v.equalsIgnoreCase("true") ||
        v.equalsIgnoreCase("false"))) BooleanType
      else if (vs.exists(v => leadingZeroRe.findFirstIn(v.trim).isDefined))
        StringType
      else if (vs.forall(v => scala.util.Try(v.trim.toLong).isSuccess))
        LongType
      else if (vs.forall(v => scala.util.Try(v.trim.toDouble).isSuccess))
        DoubleType
      else if (vs.forall(v => dateRe.findFirstIn(v.trim).isDefined))
        DateType
      else StringType
    val types = cols.map(c =>
      c -> typeOf(rows.flatMap(_.get(c).flatten.map(_.toString))))
    val schema = StructType(types.map { case (c, t) =>
      StructField(c, t, nullable = true) })
    val data = rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(types.map { case (c, t) =>
        r.get(c).flatten match {
          case None => null
          case Some(s) => t match {
            case BooleanType => java.lang.Boolean.valueOf(s.trim)
            case LongType => java.lang.Long.valueOf(s.trim)
            case DoubleType => java.lang.Double.valueOf(s.trim)
            case DateType => java.sql.Date.valueOf(s.trim)
            case _ => s
          }
        }
      })
    }
    spark.createDataFrame(data.asJava, schema)
  }

  /** `dbt compile`: render + dialect-translate every selected model
    * EXACTLY as [[run]] would execute it (incremental models render
    * `is_incremental()` = true when their target is resident,
    * ephemerals inline as `__dbt__cte__` CTEs) and write each text
    * under `<warehouseDir>/target/compiled/<name>.sql` — the target/
    * artifact dir rides the warehouse because the checkout itself may
    * be read-only. NOTHING executes and the state:modified manifest
    * does not advance.
    *
    * @return one row per compiled model: (resource, path, sql), in
    *         name order */
  def compile(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      currentDateOverride: Option[String] = None,
      vars: Map[String, String] = Map.empty,
      select: Option[String] = None,
      exclude: Option[String] = None,
      selector: Option[String] = None,
      defer: Option[String] = None): DataFrame = {
    val (p, engine, allFrames) = prepare(spark, projectDir, sources,
      warehouseDir, currentDateOverride, 0, vars)
    val compiled = engine.compile(p.modelSql, allFrames,
      p.materializations, p.tags, select, exclude,
      resolveSelector(p, selector, select, exclude), defer)
    // analyses compile through the SAME engine pass (ephemeral
    // inlining, QUALIFY desugar, dialect translation all apply) by
    // riding as extra nodes beside the full model set; they are
    // compile-only, so they join only the unselected (compile-
    // everything) invocation — dbt's selection treats analyses as
    // their own selectable nodes, which this static surface does not
    // model (documented deviation).
    val analysisCompiled: Seq[(String, String, String)] =
      if (p.analyses.isEmpty ||
          select.nonEmpty || exclude.nonEmpty || selector.nonEmpty) Seq.empty
      else {
        val all = engine.compile(p.modelSql ++ p.analyses, allFrames,
          p.materializations, p.tags, None, None, None, defer)
        p.analyses.keys.toSeq.sorted.map(n =>
          (n, s"$warehouseDir/target/compiled/analysis/$n.sql", all(n)))
      }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    def write(path: String, sql: String): String = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val out = fs.create(hp, true)
      try out.write(sql.getBytes("UTF-8")) finally out.close()
      hp.toString
    }
    (compiled.toSeq.sortBy(_._1).map { case (name, sql) =>
      (name, write(s"$warehouseDir/target/compiled/$name.sql", sql), sql)
    } ++ analysisCompiled.map { case (name, path, sql) =>
      (name, write(path, sql), sql)
    }).toDF("resource", "path", "sql")
  }

  /** `dbt show --select <model>`: compile ONE model exactly as run
    * would (ephemerals inline, dialect translates, upstreams resolve
    * against the warehouse/sources) and execute it for a `limit`-row
    * preview — nothing materializes and no manifest advances. */
  def show(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      model: String, limit: Int = 5,
      currentDateOverride: Option[String] = None,
      vars: Map[String, String] = Map.empty): DataFrame = {
    require(limit > 0, s"show: limit must be positive, got $limit")
    val (p, engine, allFrames) = prepare(spark, projectDir, sources,
      warehouseDir, currentDateOverride, 0, vars)
    require(p.modelSql.contains(model),
      s"show: unknown model '$model' (models: " +
        s"${p.modelSql.keys.toSeq.sorted.mkString(", ")})")
    val compiled = engine.compile(p.modelSql, allFrames,
      p.materializations, p.tags, select = Some(model))(model)
    spark.sql(compiled).limit(limit)
  }

  /** `dbt show --inline "select …"`: compile one inline query with
    * the full Jinja + ref()/source() surface against the project (the
    * model set resolves refs; ephemerals inline; the dialect shim
    * translates) and execute it against the warehouse, returning the
    * first `limit` rows — dbt's preview surface (its default limit is
    * 5). Nothing materializes and no manifest advances. */
  def showInline(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      inline: String, limit: Int = 5,
      currentDateOverride: Option[String] = None,
      vars: Map[String, String] = Map.empty): DataFrame = {
    require(limit > 0, s"show --inline: limit must be positive, got $limit")
    val (p, engine, allFrames) = prepare(spark, projectDir, sources,
      warehouseDir, currentDateOverride, 0, vars)
    val name = "__dbt_show_inline__"
    require(!p.modelSql.contains(name), s"model named $name shadows " +
      "the inline-show slot")
    val compiled = engine.compile(p.modelSql + (name -> inline),
      allFrames, p.materializations, p.tags, select = Some(name))(name)
    spark.sql(compiled).limit(limit)
  }

  /** `dbt docs generate` (the catalog slice): one row per COLUMN of
    * every relation the warehouse actually holds for this project's
    * models, seeds, and snapshots — (resource, kind, column, dtype,
    * ordinal, n_rows, description, resource_description). The two
    * description columns carry the schema-yml text (doc() refs
    * already resolved at load), empty when undocumented — dbt's
    * catalog.json merges the live warehouse schema with the manifest
    * descriptions the same way. Views never persist in this engine,
    * so (like dbt's own catalog.json, which reads the live
    * warehouse) they appear only after a run materialized a table
    * for them. The loop is project-sized (schema reads + one count
    * per relation), never data-proportional beyond the counts. */
  def catalog(spark: SparkSession, projectDir: String,
      warehouseDir: String): DataFrame = {
    val p = load(projectDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val resources: Seq[(String, String)] =
      p.modelSql.keys.map(_ -> "model").toSeq ++
      p.seeds.keys.map(_ -> "seed").toSeq ++
      p.snapshots.keys.map(_ -> "snapshot").toSeq
    resources.sortBy(_._1).flatMap { case (name, kind) =>
      val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
      if (!fs.exists(path)) Seq.empty
      else {
        val df = IO.readParquet(spark, path.toString)
        val n = df.count()
        val rd = p.descriptions.get(name)
        val resourceDesc = rd.flatMap(_.description).getOrElse("")
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          (name, kind, f.name, f.dataType.simpleString, i, n,
            rd.flatMap(_.columns.get(f.name)).getOrElse(""),
            resourceDesc)
        }.toSeq
      }
    }.toDF("resource", "kind", "column", "dtype", "ordinal", "n_rows",
      "description", "resource_description")
  }

  /** `dbt ls --resource-type exposure` / the docs lineage tail: one
    * row per declared exposure with its resolved upstream relations.
    * Unknown upstreams (a ref to a model/seed/snapshot/source the
    * project does not declare) fail loudly — an exposure pointing at
    * nothing is a docs bug worth catching at load time. */
  def exposures(spark: SparkSession, projectDir: String): DataFrame = {
    val p = load(projectDir)
    val known = p.modelSql.keySet ++ p.seeds.keySet ++
      p.snapshots.keySet ++ p.sourceTables.toSet
    for (e <- p.exposures; d <- e.dependsOn)
      require(known.contains(d),
        s"exposure '${e.name}' depends on undeclared relation '$d'")
    import spark.implicits._
    p.exposures.map(e => (e.name, e.exposureType,
        e.maturity.getOrElse(""), e.owner.getOrElse(""),
        e.dependsOn.mkString(",")))
      .sortBy(_._1)
      .toDF("exposure", "type", "maturity", "owner", "depends_on")
  }

  /** `dbt clone`: copy the selected resources' MATERIALIZED tables
    * from a source (production) warehouse into this one — the
    * other half of the state workflow beside `--defer` (defer READS
    * prod in place; clone takes a physical copy so the dev schema
    * is self-contained). With no `select`, every model, seed, and
    * snapshot clones; with one, the full
    * [[graft.model.ModelGraph.select]] grammar applies over the
    * STATIC model DAG (raw-text `ref()` edges + accumulated tags —
    * the `dbt ls` resolution level; `state:modified` has no meaning
    * here, the state IS the source). Nothing renders and no manifest
    * advances. Relations the source warehouse does not hold report
    * `missing in state` instead of failing the whole clone — the
    * returned report is the loudness (dbt clones what the state
    * has; views never persist in either engine).
    *
    * @return one row per targeted relation: (resource, status ∈
    *         cloned | missing in state), name order */
  def clone(spark: SparkSession, projectDir: String,
      fromWarehouse: String, toWarehouse: String,
      select: Option[String] = None,
      exclude: Option[String] = None): DataFrame = {
    val p = load(projectDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val names: Seq[String] = select match {
      case None =>
        require(exclude.isEmpty || exclude.exists(_.trim.isEmpty),
          "clone: exclude without select is not supported — pass both")
        (p.modelSql.keys ++ p.seeds.keys ++ p.snapshots.keys).toSeq
      case Some(sel) =>
        // static DAG: {{ ref('x') }} edges from the RAW model text
        // (pre-Jinja — the dbt ls resolution level)
        val static = p.modelSql.map { case (n, sql) =>
          graft.model.Model(n,
            DbtSqlEngine.refPlaceholderRe.findAllMatchIn(sql)
              .map(_.group(1)).filter(p.modelSql.contains).toSeq.distinct,
            tags = p.tags.getOrElse(n, Set.empty))(
            _ => throw new IllegalStateException(
              "static selection model never runs"))
        }.toSeq
        graft.model.ModelGraph.select(static, sel,
          exclude.getOrElse("")).map(_.name)
    }
    names.sorted.map { n =>
      val src = new org.apache.hadoop.fs.Path(s"$fromWarehouse/$n")
      if (!fs.exists(src)) (n, "missing in state")
      else {
        IO.readParquet(spark, src.toString).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$toWarehouse/$n")
        (n, "cloned")
      }
    }.toDF("resource", "status")
  }

  /** `dbt run-operation <macro>`: render one project macro with the
    * given kwargs (string values; quotes rejected — they would need
    * SQL escaping this shim does not attempt) and execute the
    * resulting statement via spark.sql. The maintenance-task entry
    * point (grants, manual audit inserts, cleanup DDL) a dbt user
    * drives from the CLI.
    *
    * @return the executed statement's result frame */
  def runOperation(spark: SparkSession, projectDir: String,
      macroName: String, args: Map[String, String] = Map.empty,
      vars: Map[String, String] = Map.empty,
      currentDateOverride: Option[String] = None): DataFrame = {
    val p = load(projectDir)
    require(p.macros.contains(macroName),
      s"run-operation: unknown macro '$macroName' (project declares: " +
        s"${p.macros.keys.toSeq.sorted.mkString(", ")})")
    args.values.foreach(v => require(!v.contains("'") && !v.contains("\""),
      s"run-operation: quote characters in arg values are not supported"))
    val call = s"{{ $macroName(" +
      args.toSeq.sortBy(_._1).map { case (k, v) => s"$k='$v'" }
        .mkString(", ") + ") }}"
    val r = renderSingular(p, call, vars)
    spark.sql(BigQueryDialect.translate(r.text, currentDateOverride))
  }

  private def renderSingular(p: Loaded, tpl: String,
      vars: Map[String, String]): Jinja.Result =
    Jinja.render(tpl, vars, macros = p.macros,
      bindings = Map("target" -> Jinja.JMap(
        Map("name" -> Jinja.JStr(p.targetProps.getOrElse("name", "dev"))) ++
          p.targetProps.view.mapValues(Jinja.JStr(_)).toMap)),
      builtins = DbtSqlEngine.dbtUtilsBuiltins)

  /** `{% snapshot name %} … {% endsnapshot %}` blocks from a
    * snapshot-paths file: name → the inner template (config() call
    * plus the select). Parsed BEFORE Jinja rendering — the snapshot
    * tag frames a resource, it is not control flow. */
  private[graft] def parseSnapshotBlocks(src: String): Map[String, String] = {
    val re = ("""(?s)\{%-?\s*snapshot\s+(\w+)\s*-?%\}(.*?)""" +
      """\{%-?\s*endsnapshot\s*-?%\}""").r
    re.findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** `dbt seed`: each seed CSV as a DataFrame — header row for names,
    * schema inference for types (dbt's own agate-based inference;
    * `+column_types` overrides are out of scope and the inferred
    * schema is what the spec pins). Seeds resolve through `ref()`
    * like any model, but are leaves: data, not SQL. */
  private def seedFrames(spark: SparkSession,
      p: Loaded): Map[String, DataFrame] =
    p.seeds.map { case (name, path) =>
      name -> spark.read.option("header", "true")
        .option("inferSchema", "true").csv(path)
    }

  /** Load and RUN: all declared sources must be supplied. Returns
    * model name → materialized DataFrame.
    * @param threads Runner parallelism; 0 (the default) resolves from
    *        the checkout's profiles file, falling back to dbt's own
    *        default of 4. */
  /** @param select dbt `--select` expression (see
    *        [[graft.model.ModelGraph.select]]): `name`, `name+`,
    *        `+name`, `tag:t`, unions by space/comma. Unselected
    *        upstreams resolve from their materialized warehouse
    *        tables; a never-materialized view dependency fails
    *        loudly.
    * @param defer dbt `--defer`: a PRODUCTION warehouse dir that
    *        unselected upstreams ABSENT from this run's warehouse
    *        resolve from (the slim-CI workflow:
    *        `--select state:modified+ --defer` builds only what
    *        changed, reading the rest from prod). A locally
    *        materialized table always wins over the deferred one. */
  def run(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      currentDateOverride: Option[String] = None, threads: Int = 0,
      vars: Map[String, String] = Map.empty,
      select: Option[String] = None,
      fullRefresh: Boolean = false,
      exclude: Option[String] = None,
      selector: Option[String] = None,
      defer: Option[String] = None): Map[String, DataFrame] = {
    val (p, engine, allFrames) = prepare(spark, projectDir, sources,
      warehouseDir, currentDateOverride, threads, vars)
    val sd = resolveSelector(p, selector, select, exclude)
    runLevelHooks(spark, p.runHooks._1, currentDateOverride)
    val out = engine.run(p.modelSql, allFrames, p.materializations, p.tags,
      select, fullRefresh, exclude, p.hooks, sd, defer)
    runLevelHooks(spark, p.runHooks._2, currentDateOverride)
    out
  }

  /** `--selector name` resolution against selectors.yml: mutually
    * exclusive with `--select`/`--exclude` (dbt's CLI rule), unknown
    * names loud. With NO selection of any kind, the `default: true`
    * selector applies when one is declared (dbt's default-selector
    * contract). */
  private def resolveSelector(p: Loaded, selector: Option[String],
      select: Option[String], exclude: Option[String])
      : Option[graft.model.ModelGraph.SelectorDef] = selector match {
    case Some(name) =>
      require(select.isEmpty && exclude.isEmpty,
        "--selector cannot combine with --select/--exclude (dbt CLI rule)")
      Some(p.selectors.getOrElse(name, throw new IllegalArgumentException(
        s"unknown selector '$name' (selectors.yml declares: " +
          s"${p.selectors.keys.toSeq.sorted.mkString(", ")})")))
    case None if select.isEmpty && exclude.isEmpty =>
      p.defaultSelector.map(p.selectors)
    case None => None
  }

  /** Execute on-run-start/on-run-end hook SQL (dialect-translated,
    * like model hooks) in declaration order. */
  private def runLevelHooks(spark: SparkSession, hooks: Seq[String],
      currentDateOverride: Option[String]): Unit =
    hooks.foreach { h =>
      spark.sql(BigQueryDialect.translate(h, currentDateOverride))
        .collect(); ()
    }

  /** Shared run/build wiring: load the project, check sources, build
    * the engine, and assemble the full relation map (caller sources +
    * seeds + already-materialized snapshots). */
  private def prepare(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      currentDateOverride: Option[String], threads: Int,
      vars: Map[String, String])
      : (Loaded, DbtSqlEngine, Map[String, DataFrame]) = {
    val p = load(projectDir)
    val missing = p.sourceTables.filterNot(sources.contains)
    require(missing.isEmpty,
      s"project declares sources with no supplied DataFrame: $missing")
    val t = if (threads > 0) threads else p.profileThreads.getOrElse(4)
    // snapshots materialized by an earlier `snapshot` call resolve
    // through ref() from their warehouse tables (dbt's own contract:
    // `dbt snapshot` runs before the models that read it)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val snapFrames = p.snapshots.keySet.toSeq.flatMap { n =>
      val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$n")
      if (fs.exists(path)) Some(n -> IO.readParquet(spark, path.toString))
      else None
    }.toMap
    // seeds ride alongside the caller's sources: the engine registers
    // both as resolvable relations before any model SQL runs
    val engine = new DbtSqlEngine(spark, warehouseDir, currentDateOverride,
      t, vars, macros = p.macros, targetProps = p.targetProps,
      contracts = p.contracts)
    (p, engine, sources ++ seedFrames(spark, p) ++ snapFrames)
  }

  /** `dbt build`: run + test in DAG order with dbt's REAL gating —
    * each model's declared schema-yml tests execute immediately after
    * it materializes and before any dependent starts; a failing test
    * marks the model `fail` and SKIPS its transitive dependents while
    * independent branches keep running (SURVEY §3.3 — [[runAndTest]]
    * is the weaker run-all-then-test-all shape). Tests declared on
    * seeds or sources run FIRST (they are inputs) and are reported,
    * but do not gate models — dbt gates on resource edges, and a
    * seed/source test failure shows in the report for triage.
    *
    * @return (frames for every model that materialized, report with
    *   one row per resource/test: (resource, kind, status, detail) —
    *   kind ∈ model|test, status ∈ success|fail|skipped|pass) */
  def build(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      currentDateOverride: Option[String] = None, threads: Int = 0,
      vars: Map[String, String] = Map.empty,
      select: Option[String] = None,
      fullRefresh: Boolean = false,
      exclude: Option[String] = None,
      selector: Option[String] = None,
      defer: Option[String] = None)
      : (Map[String, DataFrame], DataFrame) = {
    val (p, engine, allFrames) = prepare(spark, projectDir, sources,
      warehouseDir, currentDateOverride, threads, vars)
    runLevelHooks(spark, p.runHooks._1, currentDateOverride)
    val (modelTests, inputTests) =
      p.tests.partition(t => p.modelSql.contains(t.model))
    // seed/source tests run up front against the input frames
    val inputRows = inputTests.map { t =>
      val n = DbtTests.violations(t, allFrames)
      val label = t.column.map(c => s"${t.kind}($c)").getOrElse(t.kind)
      (s"${t.model}.$label", "test",
        DbtTests.statusOf(n, t.config), s"$n violating rows")
    }
    // dbt >= 1.8: unit tests run FIRST (they need no warehouse), and
    // a model with a failing/erroring unit test never materializes —
    // engine.build gates it and skips its dependents. Scoped to the
    // build's own selection (dbt attaches unit tests to their model):
    // a broken unit test on an UNSELECTED model must not add
    // fail/error rows or compile work to a narrowed build. State
    // selectors resolve leniently to "no scoping" — conservative,
    // never a wrong subset.
    val unitScope = staticSelection(p, select, exclude, selector,
      lenientState = true)
    val unitRows = unitTestRows(spark, p, currentDateOverride, vars,
      select = None, onlyModels = unitScope)
    val unitFailed: Map[String, String] = unitRows
      .filter(r => r._3 == "fail" || r._3 == "error")
      .groupBy(_._2).map { case (model, rs) =>
        model -> rs.map(r => s"${r._1} (${r._3})").mkString(", ") }
    val (frames, status, testRows) = engine.build(p.modelSql, allFrames,
      p.materializations, p.tags, select, fullRefresh, modelTests, exclude,
      p.hooks, resolveSelector(p, selector, select, exclude), defer,
      preFailed = unitFailed)
    val modelRows = status.toSeq.sortBy(_._1).map { case (name, st) =>
      val (s, detail) = st.indexOf(':') match {
        case -1 => (st, "")
        case i => (st.take(i), st.drop(i + 2))
      }
      (name, "model", s, detail)
    }
    // every gated schema test that EXECUTED reports its own row —
    // warn outcomes are visible here even though they don't gate
    val gatedRows = testRows.map { case (model, label, n, st) =>
      (s"$model.$label", "test", st, s"$n violating rows")
    }
    // singular tests (tests/*.sql) run LAST: they read materialized
    // models, so one with a non-built upstream is reported skipped
    // (dbt's own ordering — test nodes depend on their refs)
    val singularRows = p.singularTests.toSeq.sortBy(_._1).map {
      case (name, tpl) =>
        val r = renderSingular(p, tpl, vars)
        BigQueryDialect.refs(r.text)
          .find(d => status.get(d).exists(_ != "success")) match {
          case Some(d) =>
            (name, "test", "skipped", s"upstream $d did not build")
          case None =>
            val vr = spark.sql(BigQueryDialect.translate(r.text,
              currentDateOverride))
            // dbt `store_failures` on a singular test: persist the
            // test query's rows under the audit dir, count from disk
            val n = if (r.config.get("store_failures")
                .exists(_.trim.toBoolean)) {
              val path = s"$warehouseDir/dbt_test__audit/" +
                DbtTests.auditName(name, "singular")
              IO.commit(spark, vr, path).count()
            } else vr.count()
            (name, "test", DbtTests.statusOf(n, r.config),
              s"$n violating rows")
        }
    }
    runLevelHooks(spark, p.runHooks._2, currentDateOverride)
    import spark.implicits._
    val unitReportRows = unitRows.map { case (name, model, st, detail) =>
      (s"$model.$name", "unit_test", st, detail)
    }
    (frames,
      (modelRows ++ gatedRows ++ inputRows ++ singularRows ++ unitReportRows)
      .toDF("resource", "kind", "status", "detail"))
  }

  /** `dbt source freshness` from the checkout's own yml: every
    * declared table with a resolved `loaded_at_field` + `freshness:`
    * block ([[parseFreshness]] — table-level overrides source-level)
    * is classified against ITS OWN warn/error thresholds, reusing the
    * freshness operator's semantics
    * ([[graft.model.DataChecks.sourceFreshnessFinishPer]]): lag =
    * `asOf - max(loaded_at)` in exact seconds; a configured table
    * with no supplied frame or no rows reports `error` (a silent dead
    * feed is the worst staleness); a null threshold never fires.
    *
    * Scale shape: ONE union of (table, ts) projections → one map-side
    * combined max aggregation; the thresholds join is sources-sized.
    * @return (src, max_loaded_at, lag_s, status) — one row per
    *         freshness-configured table. */
  def sourceFreshness(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame],
      asOf: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = load(projectDir)
    require(p.freshness.nonEmpty,
      s"$projectDir declares no freshness: blocks in its sources yml")
    val cfg = p.freshness.toSeq.sortBy(_._1)
    val withFrames = cfg.collect { case (t, fc) if sources.contains(t) =>
      sources(t).select(lit(t).as("src"),
        col(fc.loadedAtField).cast("timestamp").as("ts"))
    }
    val state =
      if (withFrames.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, java.sql.Timestamp)].toDF("src", "max_loaded_at")
      } else
        graft.model.DataChecks.sourceFreshnessState(
          withFrames.reduce(_ unionAll _), "src", "ts")
    import spark.implicits._
    val thresholds = cfg.map { case (t, fc) =>
      (t, fc.warnAfterS, fc.errorAfterS)
    }.toDF("src", "warn_s", "err_s")
    graft.model.DataChecks.sourceFreshnessFinishPer(state, thresholds, asOf)
  }

  /** `dbt snapshot`: render and run every `{% snapshot %}` block,
    * folding each result into its SCD2 table at
    * `<warehouseDir>/<name>` via [[graft.model.Incremental.snapshot]]
    * (valid_from/valid_to/is_current maintained across calls).
    * Supported config: `unique_key` (required) plus either
    * `strategy='check'` with `check_cols` = 'all' (the default) or a
    * column-name subset (change detection hashes only those columns)
    * or `strategy='timestamp'` with `updated_at`
    * ([[graft.model.Incremental.snapshotTimestamp]] — the source
    * clock decides). `invalidate_hard_deletes` controls whether a
    * vanished key closes its current row: default true for check
    * (this engine's value-diff behavior), false for timestamp (dbt's
    * own default). Anything else fails loudly rather than silently
    * snapshotting with different semantics.
    *
    * @param asOf the snapshot validity timestamp (dbt uses the run's
    *   start time; explicit here so reruns are deterministic)
    * @return snapshot name → its full SCD2 table */
  def snapshot(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      asOf: java.sql.Timestamp,
      vars: Map[String, String] = Map.empty): Map[String, DataFrame] = {
    val p = load(projectDir)
    sources.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    seedFrames(spark, p).foreach { case (n, df) =>
      df.createOrReplaceTempView(n) }
    p.snapshots.map { case (name, tpl) =>
      val r = Jinja.render(tpl, vars, macros = p.macros,
        bindings = Map("target" -> Jinja.JMap(
          Map("name" -> Jinja.JStr(p.targetProps.getOrElse("name", "dev"))) ++
            p.targetProps.view.mapValues(Jinja.JStr(_)).toMap)),
        builtins = DbtSqlEngine.dbtUtilsBuiltins)
      val strategy = r.config.getOrElse("strategy", "check")
      val uk = r.config.get("unique_key").toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
      require(uk.nonEmpty, s"snapshot $name: unique_key is required")
      val cur = spark.sql(BigQueryDialect.translate(r.text, None))
      // dbt's invalidate_hard_deletes config; absent uses each
      // strategy's engine default (check closes vanished keys — this
      // engine's documented value-diff behavior; timestamp keeps them
      // open, dbt's own default)
      val ihd = r.config.get("invalidate_hard_deletes")
        .map(_.trim.toLowerCase).map {
          case "true" => true
          case "false" => false
          case other => throw new IllegalArgumentException(
            s"snapshot $name: invalidate_hard_deletes must be " +
              s"true|false, got '$other'")
        }
      val table = strategy match {
        case "check" =>
          // check_cols: 'all' (default) or a column-name list (the
          // Jinja config capture folds lists to comma-joined strings)
          val checkCols = r.config.getOrElse("check_cols", "all") match {
            case "all" => Seq.empty[String]
            case cols => cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          }
          graft.model.Incremental.snapshot(spark, cur,
            s"$warehouseDir/$name", uk, asOf, checkCols,
            invalidateHardDeletes = ihd.getOrElse(true))
        case "timestamp" =>
          val ua = r.config.getOrElse("updated_at", "")
          require(ua.nonEmpty,
            s"snapshot $name: strategy='timestamp' requires updated_at")
          graft.model.Incremental.snapshotTimestamp(spark, cur,
            s"$warehouseDir/$name", uk, ua, asOf,
            invalidateHardDeletes = ihd.getOrElse(false))
        case other => throw new IllegalArgumentException(
          s"snapshot $name: unsupported strategy '$other' — " +
            "'check' and 'timestamp' are implemented")
      }
      name -> table
    }
  }

  /** `dbt run` + `dbt test` in one call: materialize every model,
    * then run every schema-yml data test against the materialized
    * frames (sources are in scope too, for `relationships` targets).
    * @return (model frames, test report — [[DbtTests.run]] shape) */
  def runAndTest(spark: SparkSession, projectDir: String,
      sources: Map[String, DataFrame], warehouseDir: String,
      currentDateOverride: Option[String] = None, threads: Int = 0,
      vars: Map[String, String] = Map.empty)
      : (Map[String, DataFrame], DataFrame) = {
    val results = run(spark, projectDir, sources, warehouseDir,
      currentDateOverride, threads, vars)
    val p = load(projectDir)
    // seeds are testable resources too (dbt runs schema tests on them)
    val report = DbtTests.run(spark,
      sources ++ seedFrames(spark, p) ++ results, p.tests)
    // singular tests (tests/*.sql): every materialized model is a
    // temp view by now, so the rendered SQL executes directly
    import spark.implicits._
    val singular = p.singularTests.toSeq.sortBy(_._1).map {
      case (name, tpl) =>
        val r = renderSingular(p, tpl, vars)
        val n = spark.sql(BigQueryDialect.translate(r.text,
          currentDateOverride)).count()
        (name, null: String, "singular", n, DbtTests.statusOf(n, r.config))
    }.toDF("model", "column", "test", "n_violations", "status")
    (results, report.unionByName(singular))
  }
}
