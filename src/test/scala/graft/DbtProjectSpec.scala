package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Materialization
import graft.models._
import graft.sql.DbtProject

/** The full switch story, end to end: [[DbtProject.load]] pointed at
  * the REFERENCE CHECKOUT ITSELF (never vendored — read from
  * /root/reference at test time) must discover its models, sources,
  * and materialization policy exactly, and [[DbtProject.run]] must
  * produce tables row-identical to the hand-written DataFrame models.
  * A second, hermetic mini-project exercises the loader mechanics the
  * reference doesn't (nested dirs, project-default fallback, missing
  * sources, Jinja vars).
  */
class DbtProjectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  val refDir = "/root/reference"
  val asOfDate = "2026-08-12"
  lazy val available: Boolean = Files.exists(Paths.get(refDir))

  test("load discovers the reference's models, sources, and materialization policy") {
    assume(available, s"$refDir not present")
    val p = DbtProject.load(refDir)
    assert(p.modelSql.keySet ==
      Set("locations_clean", "stacked_users_partners", "user_base"))
    assert(p.sourceTables.size == 14 &&
      p.sourceTables.contains("user_user") &&
      p.sourceTables.contains("location_location_address_components"),
      s"sources: ${p.sourceTables}")
    assert(p.materializations("locations_clean") == Materialization.View)
    assert(p.materializations("stacked_users_partners") == Materialization.View)
    assert(p.materializations("user_base") == Materialization.Table,
      "marts override (+materialized: table) must win over the view default")
  }

  test("run on the reference checkout == hand-written DataFrame models") {
    assume(available, s"$refDir not present")
    val wh = Files.createTempDirectory("graft-proj-wh").toString
    val out = DbtProject.run(spark, refDir, RefFixtures.sources(spark), wh,
      currentDateOverride = Some(asOfDate))
    val env = RefFixtures.sources(spark)
    val lc = LocationsClean(env)
    val sup = StackedUsersPartners(env)
    val ub = UserBase(env ++ Map("locations_clean" -> lc,
      "stacked_users_partners" -> sup), asOf = to_date(lit(asOfDate)))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "␀" else v.toString).mkString("|"))
        .toSeq.sorted
    }
    for ((name, expect) <- Seq("locations_clean" -> lc,
        "stacked_users_partners" -> sup, "user_base" -> ub))
      assert(rowsOf(out(name)) == rowsOf(expect), s"model $name diverges")
    // the mart really materialized as a TABLE in the warehouse dir
    assert(Files.list(Paths.get(wh)).iterator().asScala.exists(
      _.getFileName.toString.contains("user_base")),
      "user_base must be a physical table in the warehouse")
  }

  test("loader mechanics: missing sources fail loudly; vars flow; defaults apply") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-miniproj")
    Files.createDirectories(dir.resolve("models/deep/nested"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "mini"
        |models:
        |  mini:
        |    +materialized: view
        |    deep:
        |      +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: src_t
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select id, v from {{ source('raw', 'src_t') }} where id <= {{ var('lim', '10') }}"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/deep/nested/top.sql"),
      "select * from {{ ref('base') }} qualify row_number() over (order by id desc) = 1"
        .getBytes("UTF-8"))
    val p = DbtProject.load(dir.toString)
    assert(p.sourceTables == Seq("src_t"))
    assert(p.materializations("base") == Materialization.View)
    assert(p.materializations("top") == Materialization.Table,
      "nested dir inherits the deepest matching override")
    val wh = Files.createTempDirectory("graft-mini-wh").toString
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      DbtProject.run(spark, dir.toString, Map.empty, wh)
    }
    assert(e.getMessage.contains("src_t"), s"got: ${e.getMessage}")
    val out = DbtProject.run(spark, dir.toString, Map("src_t" -> src), wh,
      vars = Map("lim" -> "2"))
    assert(out("base").count() == 2)
    assert(out("top").select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("parser edges: unknown materialization fails loudly; schema yml never contaminates sources") {
    intercept[IllegalArgumentException] {
      DbtProject.parseMaterializations(
        """models:
          |  p:
          |    +materialized: incremental_exotic
          |""".stripMargin)
    }
    // a marts_schema.yml-style tests file has `- name:` entries but no
    // `tables:` parent — none of them may surface as source tables
    assert(DbtProject.parseSourceTables(
      """version: 2
        |models:
        |  - name: user_base
        |    columns:
        |      - name: user_id
        |""".stripMargin).isEmpty)
    // and dedent closes a tables block before a sibling list
    assert(DbtProject.parseSourceTables(
      """sources:
        |  - name: raw
        |    tables:
        |      - name: t1
        |      - name: t2
        |exposures:
        |  - name: not_a_table
        |""".stripMargin) == Seq("t1", "t2"))
    // the standard dbt pattern: columns: blocks nested under a table
    // entry carry their own `- name:` items at deeper indent — they
    // are column names, not declared source tables (item indent is
    // pinned to the first entry directly under tables:)
    assert(DbtProject.parseSourceTables(
      """sources:
        |  - name: raw
        |    tables:
        |      - name: users
        |        columns:
        |          - name: user_id
        |          - name: email
        |      - name: partners
        |""".stripMargin) == Seq("users", "partners"))
    // YAML also permits list items at the SAME indent as the parent key
    assert(DbtProject.parseSourceTables(
      """sources:
        |- name: raw
        |  tables:
        |  - name: a
        |  - name: b
        |""".stripMargin) == Seq("a", "b"))
  }

  test("model-paths/macro-paths/profiles honored; config(materialized) beats project policy; macros + loops run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fullproj")
    Files.createDirectories(dir.resolve("transforms"))
    Files.createDirectories(dir.resolve("helpers"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "full"
        |model-paths: ["transforms"]
        |macro-paths: ["helpers"]
        |models:
        |  full:
        |    +materialized: view
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("profiles.yml"),
      """full_profile:
        |  target: dev
        |  outputs:
        |    dev:
        |      type: bigquery
        |      threads: 2
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("helpers/util.sql"),
      "{% macro clean(c) %}trim(lower({{ c }})){% endmacro %}"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("transforms/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: src_t
        |        columns:
        |          - name: id
        |          - name: v
        |""".stripMargin.getBytes("UTF-8"))
    // macro call + {% set %} + {% for %} generating the select list
    Files.write(dir.resolve("transforms/base.sql"),
      """{% set cols = ['v'] %}
        |select id{% for c in cols %}, {{ clean(c) }} as {{ c }}_clean{% endfor %}
        |from {{ source('raw', 'src_t') }}
        |""".stripMargin.getBytes("UTF-8"))
    // in-model config(materialized='table') must beat the view policy
    Files.write(dir.resolve("transforms/mart.sql"),
      """{{ config(materialized='table') }}
        |select * from {{ ref('base') }} where id <= {{ var('lim', '10') }}
        |""".stripMargin.getBytes("UTF-8"))
    val p = DbtProject.load(dir.toString)
    assert(p.modelSql.keySet == Set("base", "mart"))
    assert(p.sourceTables == Seq("src_t"),
      "columns under the table entry must not read as source tables")
    assert(p.macros.contains("clean"))
    assert(p.profileThreads.contains(2))
    assert(DbtProject.parseStringList(
      "model-paths: [\"a\", 'b', c]\n", "model-paths")
      .contains(Seq("a", "b", "c")))
    assert(DbtProject.parseStringList(
      "macro-paths:\n  - m1\n  - \"m2\"\nother: x\n", "macro-paths")
      .contains(Seq("m1", "m2")))
    val wh = Files.createTempDirectory("graft-fullproj-wh").toString
    val src = Seq((1L, " A "), (2L, " B "), (3L, " C ")).toDF("id", "v")
    val out = DbtProject.run(spark, dir.toString, Map("src_t" -> src), wh)
    assert(out("base").columns.toSeq == Seq("id", "v_clean"))
    assert(out("base").select("v_clean").as[String].collect().toSet
      == Set("a", "b", "c"))
    assert(out("mart").count() == 3)
    // mart physically materialized (config override made it a table)
    assert(Files.list(Paths.get(wh)).iterator().asScala.exists(
      _.getFileName.toString.contains("mart")),
      "config(materialized='table') must beat the project-level view policy")
  }

  test("dbt seeds: CSVs under seed-paths load, type-infer, and resolve through ref()") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-seedproj")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("seeds"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"seedy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("seeds/country_codes.csv"),
      "code,mult\nUS,2\nDE,3\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: src_t
        |""".stripMargin.getBytes("UTF-8"))
    // a seed is ref()-able like any model, but is a DAG leaf of data
    Files.write(dir.resolve("models/enriched.sql"),
      """select s.id, s.code, s.id * c.mult as scaled
        |from {{ source('raw', 'src_t') }} s
        |join {{ ref('country_codes') }} c on s.code = c.code
        |""".stripMargin.getBytes("UTF-8"))
    val p = DbtProject.load(dir.toString)
    assert(p.seeds.keySet == Set("country_codes"))
    val wh = Files.createTempDirectory("graft-seed-wh").toString
    val src = Seq((1L, "US"), (2L, "DE"), (3L, "FR")).toDF("id", "code")
    val out = DbtProject.run(spark, dir.toString, Map("src_t" -> src), wh)
    // schema inference typed `mult` numerically — the arithmetic join
    // would fail on strings
    assert(out("enriched").select("id", "code", "scaled")
      .as[(Long, String, Long)].collect().toSet
      == Set((1L, "US", 2L), (2L, "DE", 6L)))
    // duplicate resource names fail loudly, as in dbt
    Files.write(dir.resolve("seeds/enriched.csv"),
      "a\n1\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DbtProject.load(dir.toString))
    assert(e.getMessage.contains("enriched"))
  }

  test("dbt snapshots: {% snapshot %} blocks fold SCD2 across runs and resolve through ref()") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snapproj")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("snapshots"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"snappy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: customers
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("snapshots/customers_snapshot.sql"),
      """{% snapshot customers_snapshot %}
        |{{ config(unique_key='id', strategy='check', check_cols='all') }}
        |select id, city from {{ source('raw', 'customers') }}
        |{% endsnapshot %}
        |""".stripMargin.getBytes("UTF-8"))
    // a model reads the CURRENT rows off the snapshot through ref()
    Files.write(dir.resolve("models/current_customers.sql"),
      """select id, city from {{ ref('customers_snapshot') }}
        |where is_current
        |""".stripMargin.getBytes("UTF-8"))
    val p = DbtProject.load(dir.toString)
    assert(p.snapshots.keySet == Set("customers_snapshot"))
    val wh = Files.createTempDirectory("graft-snap-wh").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val day1 = Seq((1L, "NY"), (2L, "LA")).toDF("id", "city")
    val day2 = Seq((1L, "SF"), (3L, "CHI")).toDF("id", "city")
    DbtProject.snapshot(spark, dir.toString, Map("customers" -> day1),
      wh, ts("2024-01-01"))
    val snap2 = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> day2), wh, ts("2024-02-01"))("customers_snapshot")
    // SCD2: id 1 closed at NY + reopened at SF; id 2 closed
    // (vanished); id 3 opened
    val hist = snap2.select("id", "city", "is_current")
      .as[(Long, String, Boolean)].collect().toSet
    assert(hist == Set((1L, "NY", false), (1L, "SF", true),
      (2L, "LA", false), (3L, "CHI", true)), s"$hist")
    // dbt snapshot-then-run: the model reads the materialized table
    val out = DbtProject.run(spark, dir.toString,
      Map("customers" -> day2), wh)
    assert(out("current_customers").select("id", "city")
      .as[(Long, String)].collect().toSet == Set((1L, "SF"), (3L, "CHI")))
    // timestamp strategy: the source clock decides, vanished keys
    // stay OPEN (dbt's default hard-delete behavior)
    Files.createDirectories(dir.resolve("snapshots2"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"snappy\"\nsnapshot-paths: [\"snapshots2\"]\n"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("snapshots2/ts_snap.sql"),
      """{% snapshot ts_snap %}
        |{{ config(unique_key='id', strategy='timestamp', updated_at='u') }}
        |select id, city, u from {{ source('raw', 'customers') }}
        |{% endsnapshot %}
        |""".stripMargin.getBytes("UTF-8"))
    val wh2 = Files.createTempDirectory("graft-snap-wh2").toString
    def dts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val t1 = Seq((1L, "NY", dts("2024-01-01")), (2L, "LA", dts("2024-01-01")))
      .toDF("id", "city", "u")
    // id 1 touched with a NEWER clock; id 2 re-sent UNchanged clock
    // (must pass through); id 3 new; nothing vanishes-closes
    val t2 = Seq((1L, "SF", dts("2024-01-15")), (2L, "LA", dts("2024-01-01")),
      (3L, "CHI", dts("2024-01-20"))).toDF("id", "city", "u")
    DbtProject.snapshot(spark, dir.toString, Map("customers" -> t1),
      wh2, ts("2024-01-01"))
    val snapTs = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> t2), wh2, ts("2024-02-01"))("ts_snap")
    val histTs = snapTs.select("id", "city", "is_current")
      .as[(Long, String, Boolean)].collect().toSet
    assert(histTs == Set((1L, "NY", false), (1L, "SF", true),
      (2L, "LA", true), (3L, "CHI", true)), s"$histTs")
    // dbt timestamp-strategy interval parity: validity carries the
    // SOURCE clock — the closed NY row spans its own u (2024-01-01)
    // to the replacing row's u (2024-01-15), never the run time
    val iv = snapTs.filter(col("id") === 1)
      .select("city", "valid_from", "valid_to")
      .as[(String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(iv("NY") == ((dts("2024-01-01"), Some(dts("2024-01-15")))), s"$iv")
    assert(iv("SF") == ((dts("2024-01-15"), None)), s"$iv")
    // a third run where id 2 VANISHES: it stays open (dbt default)
    val t3 = Seq((1L, "SF", dts("2024-01-15"))).toDF("id", "city", "u")
    val snapTs3 = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> t3), wh2, ts("2024-03-01"))("ts_snap")
    assert(snapTs3.filter(col("id") === 2 && col("is_current")).count() == 1,
      "vanished keys stay open under the timestamp strategy")
    // unsupported strategies still fail loudly
    Files.write(dir.resolve("snapshots2/bad.sql"),
      """{% snapshot bad_snap %}
        |{{ config(unique_key='id', strategy='custom') }}
        |select 1 as id
        |{% endsnapshot %}
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DbtProject.snapshot(
      spark, dir.toString, Map("customers" -> t3), wh2, ts("2024-04-01")))
    assert(e.getMessage.contains("custom"))
  }

  test("test generics breadth: expression_is_true, where config, accepted_values quote (round 15)") {
    import spark.implicits._
    import graft.sql.DbtTests
    val df = Seq((1L, 10L, 2L, "us"), (2L, 5L, 9L, "eu"),
      (3L, -1L, 0L, "apac")).toDF("id", "gross", "net", "region")
    val frames = Map("m" -> df)
    // expression_is_true: net <= gross violated by id=2 (9 > 5) and
    // id=3 (0 > -1)
    val t1 = DbtTests.parse(
      """version: 2
        |models:
        |  - name: m
        |    tests:
        |      - dbt_utils.expression_is_true:
        |          expression: "net <= gross"
        |""".stripMargin)
    assert(t1.size == 1)
    assert(DbtTests.violations(t1.head, frames) == 2L)
    // where config narrows the tested rows: only region='us' checked
    val t2 = DbtTests.parse(
      """version: 2
        |models:
        |  - name: m
        |    tests:
        |      - dbt_utils.expression_is_true:
        |          expression: "gross >= 0"
        |          config:
        |            where: "region = 'us'"
        |""".stripMargin)
    assert(DbtTests.violations(t2.head, frames) == 0L)
    // same test unfiltered sees the apac violation
    val t2b = t2.head.copy(config = Map.empty)
    assert(DbtTests.violations(t2b, frames) == 1L)
    // accepted_values with quote: false parses and checks by value
    val t3 = DbtTests.parse(
      """version: 2
        |models:
        |  - name: m
        |    columns:
        |      - name: id
        |        tests:
        |          - accepted_values:
        |              values: [1, 2, 3]
        |              quote: false
        |""".stripMargin)
    assert(DbtTests.violations(t3.head, frames) == 0L)
    // relationships honors where (orphans outside the filter pass)
    val parent = Seq(1L, 2L).toDF("pid")
    val t4 = DbtTests.parse(
      """version: 2
        |models:
        |  - name: m
        |    columns:
        |      - name: id
        |        tests:
        |          - relationships:
        |              to: parent
        |              field: pid
        |              where: "region != 'apac'"
        |""".stripMargin)
    assert(DbtTests.violations(t4.head, frames + ("parent" -> parent)) == 0L)
    assert(DbtTests.violations(t4.head.copy(config = Map.empty),
      frames + ("parent" -> parent)) == 1L)
    // unknown config key fails loudly
    val e = intercept[IllegalArgumentException](DbtTests.parse(
      """version: 2
        |models:
        |  - name: m
        |    tests:
        |      - dbt_utils.expression_is_true:
        |          expression: "1 = 1"
        |          config:
        |            retries: 3
        |""".stripMargin))
    assert(e.getMessage.contains("retries"))
  }

  test("hooks: config pre_hook/post_hook + project-yml hooks execute around materialization (round 15)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_hook_audit")
    spark.sql("CREATE TABLE graft_hook_audit (model STRING, phase STRING) USING parquet")
    try {
      val dir = Files.createTempDirectory("graft-hookproj")
      Files.createDirectories(dir.resolve("models/marts"))
      Files.write(dir.resolve("dbt_project.yml"),
        """name: "hooky"
          |models:
          |  hooky:
          |    marts:
          |      +pre-hook: "insert into graft_hook_audit values ('policy', 'pre')"
          |""".stripMargin.getBytes("UTF-8"))
      Files.write(dir.resolve("models/sources.yml"),
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: people
          |""".stripMargin.getBytes("UTF-8"))
      // list-valued post_hook: TWO hooks, SQL containing commas —
      // must not be comma-split; a post-hook can read the model by
      // name (it is registered by the time post-hooks fire)
      Files.write(dir.resolve("models/marts/adults.sql"),
        ("{{ config(post_hook=[" +
          "\"insert into graft_hook_audit values ('adults', 'post1')\", " +
          "\"insert into graft_hook_audit select name, 'post2' from adults\"" +
          "]) }}\n" +
          "select name, age from {{ source('raw', 'people') }} where age >= 18\n")
          .getBytes("UTF-8"))
      val people = Seq(("ann", 34L), ("bob", 11L)).toDF("name", "age")
      val out = DbtProject.run(spark, dir.toString,
        Map("people" -> people),
        Files.createTempDirectory("graft-hook-wh").toString)
      assert(out("adults").count() == 1L)
      val audit = spark.table("graft_hook_audit")
        .as[(String, String)].collect().toSet
      assert(audit == Set(("policy", "pre"), ("adults", "post1"),
        ("ann", "post2")), s"$audit")
      // on-run-start (scalar) + on-run-end (block list) execute once
      // around the whole run, in declaration order (round 15)
      Files.write(dir.resolve("models/marts/adults.sql"),
        "select name, age from {{ source('raw', 'people') }} where age >= 18\n"
          .getBytes("UTF-8"))
      Files.write(dir.resolve("dbt_project.yml"),
        ("""name: "hooky"
          |on-run-start: "insert into graft_hook_audit values ('run', 'start')"
          |on-run-end:
          |  - "insert into graft_hook_audit values ('run', 'end1')"
          |  - "insert into graft_hook_audit select name, 'end2' from adults"
          |models:
          |  hooky:
          |    marts:
          |      +pre-hook: "insert into graft_hook_audit values ('policy', 'pre')"
          |""").stripMargin.getBytes("UTF-8"))
      spark.sql("TRUNCATE TABLE graft_hook_audit")
      DbtProject.run(spark, dir.toString, Map("people" -> people),
        Files.createTempDirectory("graft-hook-wh1b").toString)
      val audit2 = spark.table("graft_hook_audit")
        .as[(String, String)].collect().toSet
      assert(audit2 == Set(("run", "start"), ("policy", "pre"),
        ("run", "end1"), ("ann", "end2")), s"$audit2")
      // a flow-style on-run-* list still fails loudly (hook SQL
      // contains commas; a bracket split cannot be safe)
      Files.write(dir.resolve("dbt_project.yml"),
        "name: \"hooky\"\non-run-start: [\"a\", \"b\"]\n".getBytes("UTF-8"))
      val e1 = intercept[IllegalArgumentException](DbtProject.load(dir.toString))
      assert(e1.getMessage.contains("flow-style"))
      // list-form +post-hook in dbt_project.yml fails loudly
      Files.write(dir.resolve("dbt_project.yml"),
        ("name: \"hooky\"\nmodels:\n  hooky:\n" +
          "    +post-hook: [\"a\", \"b\"]\n").getBytes("UTF-8"))
      val e2 = intercept[IllegalArgumentException](DbtProject.load(dir.toString))
      assert(e2.getMessage.contains("list form"))
      // hooks on an ephemeral model fail loudly (they would never run)
      Files.write(dir.resolve("dbt_project.yml"),
        "name: \"hooky\"\n".getBytes("UTF-8"))
      Files.write(dir.resolve("models/marts/adults.sql"),
        ("{{ config(materialized='ephemeral', " +
          "post_hook='insert into graft_hook_audit values (1, 2)') }}\n" +
          "select name from {{ source('raw', 'people') }}\n")
          .getBytes("UTF-8"))
      Files.write(dir.resolve("models/marts/uses_adults.sql"),
        "select * from {{ ref('adults') }}\n".getBytes("UTF-8"))
      val e3 = intercept[IllegalArgumentException](DbtProject.run(
        spark, dir.toString, Map("people" -> people),
        Files.createTempDirectory("graft-hook-wh2").toString))
      assert(e3.getMessage.contains("ephemeral"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_hook_audit")
  }

  test("singular tests + severity config: tests/*.sql run as tests; warn does not gate (round 15)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-singproj")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("tests"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"singy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: txns
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/clean_txns.sql"),
      """select id, amount from {{ source('raw', 'txns') }}
        |where amount is not null
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/txn_total.sql"),
      """select sum(amount) as total from {{ ref('clean_txns') }}
        |""".stripMargin.getBytes("UTF-8"))
    // a FAILING singular test (negative amounts exist) and a PASSING
    // one; the failing one carries severity config via {{ config }}
    Files.write(dir.resolve("tests/assert_no_negative_amounts.sql"),
      """{{ config(severity='warn', store_failures=true) }}
        |select id from {{ ref('clean_txns') }} where amount < 0
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("tests/assert_some_rows.sql"),
      """select 1 as one from {{ ref('clean_txns') }} having count(*) = 0
        |""".stripMargin.getBytes("UTF-8"))
    // schema test with warn severity on the model: fails but must NOT
    // gate txn_total; a second with error_if threshold passes at n<=2
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: clean_txns
        |    columns:
        |      - name: id
        |        tests:
        |          - unique:
        |              severity: warn
        |              store_failures: true
        |          - not_null:
        |              config:
        |                error_if: ">2"
        |                warn_if: ">0"
        |""".stripMargin.getBytes("UTF-8"))
    val txns = Seq((1L, 10L), (1L, 10L), (2L, -5L), (3L, 7L))
      .toDF("id", "amount")
    val wh = Files.createTempDirectory("graft-sing-wh").toString
    val p = DbtProject.load(dir.toString)
    assert(p.singularTests.keySet ==
      Set("assert_no_negative_amounts", "assert_some_rows"))
    val (frames, report) = DbtProject.build(spark, dir.toString,
      Map("txns" -> txns), wh)
    val rows = report.select("resource", "kind", "status")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // duplicate id=1 → unique fails, but severity warn does NOT skip
    // the dependent; not_null has 0 violations → pass under thresholds
    assert(rows("clean_txns") == (("model", "success")), s"$rows")
    assert(rows("txn_total") == (("model", "success")), s"$rows")
    assert(rows("clean_txns.unique(id)") == (("test", "warn")), s"$rows")
    assert(rows("clean_txns.not_null(id)") == (("test", "pass")), s"$rows")
    // singular tests: the negative-amount test violates (1 row) but is
    // warn-severity; the row-count test passes
    assert(rows("assert_no_negative_amounts") == (("test", "warn")), s"$rows")
    assert(rows("assert_some_rows") == (("test", "pass")), s"$rows")
    assert(frames.keySet == Set("clean_txns", "txn_total"))
    // store_failures (round 15): violating rows persisted under the
    // warehouse audit dir — the schema test's (id, count) row and the
    // singular test's violating id
    val audit1 = spark.read
      .parquet(s"$wh/dbt_test__audit/clean_txns__unique_id_")
      .as[(Long, Long)].collect().toSeq
    assert(audit1 == Seq((1L, 2L)), s"$audit1")
    val audit2 = spark.read
      .parquet(s"$wh/dbt_test__audit/assert_no_negative_amounts__singular")
      .as[Long].collect().toSeq
    assert(audit2 == Seq(2L), s"$audit2")
    // runAndTest surfaces singular tests in the dbt-test report shape
    val (_, testReport) = DbtProject.runAndTest(spark, dir.toString,
      Map("txns" -> txns), wh)
    val sing = testReport.filter(col("test") === "singular")
      .select("model", "n_violations", "status")
      .as[(String, Long, String)].collect().toSet
    assert(sing == Set(("assert_no_negative_amounts", 1L, "warn"),
      ("assert_some_rows", 0L, "pass")), s"$sing")
    // error-severity singular test GATES the report status to fail
    Files.write(dir.resolve("tests/assert_no_negative_amounts.sql"),
      """select id from {{ ref('clean_txns') }} where amount < 0
        |""".stripMargin.getBytes("UTF-8"))
    val (_, report2) = DbtProject.build(spark, dir.toString,
      Map("txns" -> txns), wh)
    val st2 = report2.filter(col("resource") === "assert_no_negative_amounts")
      .select("status").as[String].collect().toSeq
    assert(st2 == Seq("fail"), s"$st2")
    // a singular test whose upstream model failed its ERROR-severity
    // gate reports skipped
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: clean_txns
        |    columns:
        |      - name: id
        |        tests:
        |          - unique
        |""".stripMargin.getBytes("UTF-8"))
    val (_, report3) = DbtProject.build(spark, dir.toString,
      Map("txns" -> txns), wh)
    val r3 = report3.select("resource", "status")
      .as[(String, String)].collect().toMap
    assert(r3("clean_txns") == "fail", s"$r3")
    assert(r3("txn_total") == "skipped", s"$r3")
    assert(r3("assert_no_negative_amounts") == "skipped", s"$r3")
    // malformed severity fails loudly
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: clean_txns
        |    columns:
        |      - name: id
        |        tests:
        |          - unique:
        |              severity: whisper
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[Exception](DbtProject.build(spark, dir.toString,
      Map("txns" -> txns), Files.createTempDirectory("graft-sing-wh2").toString))
    assert(e.getMessage != null && e.getMessage.contains("severity"))
  }

  test("ephemeral materialization: models inline as __dbt__cte__ CTEs, never materialize (round 15)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ephproj")
    Files.createDirectories(dir.resolve("models/staging"))
    Files.createDirectories(dir.resolve("models/marts"))
    // staging is ephemeral BY POLICY (dbt_project.yml), marts are
    // tables — the classic dbt layout
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "ephy"
        |models:
        |  ephy:
        |    staging:
        |      +materialized: ephemeral
        |    marts:
        |      +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: payments
        |""".stripMargin.getBytes("UTF-8"))
    // eph -> eph chain: stg_payments (from source) <- stg_completed
    // (refs stg_payments, and has its own WITH to prove CTE merging)
    Files.write(dir.resolve("models/staging/stg_payments.sql"),
      """select id, amount, status from {{ source('raw', 'payments') }}
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/staging/stg_completed.sql"),
      """with ok as (
        |  select id, amount from {{ ref('stg_payments') }}
        |  where status = 'done'
        |)
        |select id, amount from ok
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/marts/pay_summary.sql"),
      """select count(*) as n, sum(amount) as total
        |from {{ ref('stg_completed') }}
        |""".stripMargin.getBytes("UTF-8"))
    val payments = Seq((1L, 10L, "done"), (2L, 20L, "done"),
      (3L, 99L, "void")).toDF("id", "amount", "status")
    val wh = Files.createTempDirectory("graft-eph-wh")
    val out = DbtProject.run(spark, dir.toString,
      Map("payments" -> payments), wh.toString)
    // ephemeral models do not appear in the result map; the mart sees
    // through both CTE layers
    assert(out.keySet == Set("pay_summary"), s"${out.keySet}")
    assert(out("pay_summary").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 30L)))
    // NOTHING was written to the warehouse for the ephemeral models
    val whFiles = java.nio.file.Files.list(wh).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!whFiles.exists(_.contains("stg_")), s"$whFiles")
    // row-identical to the same project with view staging models
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "ephy"
        |models:
        |  ephy:
        |    staging:
        |      +materialized: view
        |    marts:
        |      +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    val outView = DbtProject.run(spark, dir.toString,
      Map("payments" -> payments),
      Files.createTempDirectory("graft-eph-whv").toString)
    assert(outView("pay_summary").as[(Long, Long)].collect().toSeq ==
      out("pay_summary").as[(Long, Long)].collect().toSeq)
    // back to ephemeral: config(materialized='ephemeral') in-model
    // beats policy, and `dbt build` reports only real models
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"ephy\"\nmodels:\n  ephy:\n    marts:\n      +materialized: table\n"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/staging/stg_payments.sql"),
      ("{{ config(materialized='ephemeral') }}\n" +
        "select id, amount, status from {{ source('raw', 'payments') }}\n")
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/staging/stg_completed.sql"),
      ("{{ config(materialized='ephemeral') }}\n" +
        "with ok as (\n  select id, amount from {{ ref('stg_payments') }}\n" +
        "  where status = 'done'\n)\nselect id, amount from ok\n")
        .getBytes("UTF-8"))
    val wh2 = Files.createTempDirectory("graft-eph-wh2").toString
    val (frames, report) = DbtProject.build(spark, dir.toString,
      Map("payments" -> payments), wh2)
    assert(frames.keySet == Set("pay_summary"))
    val reported = report.select("resource").as[String].collect().toSet
    assert(!reported.exists(_.startsWith("stg_")), s"$reported")
    // state:modified THROUGH the ephemeral: editing an ephemeral marks
    // its dependent modified (the dependent's own file is untouched)
    val before = DbtProject.run(spark, dir.toString,
      Map("payments" -> payments), wh2,
      select = Some("state:modified"))
    assert(before.isEmpty, s"nothing modified after a full run: $before")
    Files.write(dir.resolve("models/staging/stg_completed.sql"),
      ("{{ config(materialized='ephemeral') }}\n" +
        "select id, amount from {{ ref('stg_payments') }} " +
        "where status = 'done' and amount > 15\n").getBytes("UTF-8"))
    val after = DbtProject.run(spark, dir.toString,
      Map("payments" -> payments), wh2,
      select = Some("state:modified"))
    assert(after.keySet == Set("pay_summary"), s"${after.keySet}")
    assert(after("pay_summary").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 20L)))
    // tests declared on an ephemeral model fail loudly in build
    Files.write(dir.resolve("models/staging/schema.yml"),
      """version: 2
        |models:
        |  - name: stg_completed
        |    columns:
        |      - name: id
        |        tests:
        |          - not_null
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DbtProject.build(
      spark, dir.toString, Map("payments" -> payments),
      Files.createTempDirectory("graft-eph-wh3").toString))
    assert(e.getMessage.contains("ephemeral"))
  }

  test("snapshot config breadth: check_cols subsets and invalidate_hard_deletes (round 15)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snapcfg")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("snapshots"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"snapcfg\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: customers
        |""".stripMargin.getBytes("UTF-8"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // check_cols subset: only `city` is change-tracked; a move in
    // `visits` alone must NOT version the row
    Files.write(dir.resolve("snapshots/cust_snap.sql"),
      """{% snapshot cust_snap %}
        |{{ config(unique_key='id', strategy='check', check_cols=['city']) }}
        |select id, city, visits from {{ source('raw', 'customers') }}
        |{% endsnapshot %}
        |""".stripMargin.getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-snapcfg-wh").toString
    val d1 = Seq((1L, "NY", 10L), (2L, "LA", 20L)).toDF("id", "city", "visits")
    // id 1: visits moved, city unchanged -> passes through (no new
    // version); id 2: city moved -> versions
    val d2 = Seq((1L, "NY", 99L), (2L, "SF", 20L)).toDF("id", "city", "visits")
    DbtProject.snapshot(spark, dir.toString, Map("customers" -> d1),
      wh, ts("2024-01-01"))
    val snap = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> d2), wh, ts("2024-02-01"))("cust_snap")
    val hist = snap.select("id", "city", "visits", "is_current")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(hist == Set((1L, "NY", 10L, true), (2L, "LA", 20L, false),
      (2L, "SF", 20L, true)), s"$hist")
    // check strategy with invalidate_hard_deletes=false: the vanished
    // key stays open (dbt's own default behavior, opt-in here)
    Files.write(dir.resolve("snapshots/cust_snap.sql"),
      ("{% snapshot cust_snap %}\n" +
        "{{ config(unique_key='id', strategy='check', " +
        "invalidate_hard_deletes=false) }}\n" +
        "select id, city from {{ source('raw', 'customers') }}\n" +
        "{% endsnapshot %}\n").getBytes("UTF-8"))
    val whK = Files.createTempDirectory("graft-snapcfg-whk").toString
    DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> Seq((1L, "NY"), (2L, "LA")).toDF("id", "city")),
      whK, ts("2024-01-01"))
    val snapK = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> Seq((1L, "NY")).toDF("id", "city")),
      whK, ts("2024-02-01"))("cust_snap")
    assert(snapK.filter(col("id") === 2 && col("is_current")).count() == 1,
      "invalidate_hard_deletes=false keeps the vanished key open")
    // timestamp strategy with invalidate_hard_deletes=true: the
    // vanished key closes at the RUN clock (a delete has no source
    // clock)
    Files.write(dir.resolve("snapshots/cust_snap.sql"),
      ("{% snapshot cust_snap %}\n" +
        "{{ config(unique_key='id', strategy='timestamp', " +
        "updated_at='u', invalidate_hard_deletes=true) }}\n" +
        "select id, city, u from {{ source('raw', 'customers') }}\n" +
        "{% endsnapshot %}\n").getBytes("UTF-8"))
    val whT = Files.createTempDirectory("graft-snapcfg-wht").toString
    val t1 = Seq((1L, "NY", ts("2024-01-01")), (2L, "LA", ts("2024-01-01")))
      .toDF("id", "city", "u")
    val t2 = Seq((1L, "NY", ts("2024-01-01"))).toDF("id", "city", "u")
    DbtProject.snapshot(spark, dir.toString, Map("customers" -> t1),
      whT, ts("2024-01-05"))
    val snapT = DbtProject.snapshot(spark, dir.toString,
      Map("customers" -> t2), whT, ts("2024-02-01"))("cust_snap")
    val closed = snapT.filter(col("id") === 2)
      .select("is_current", "valid_to")
      .as[(Boolean, Option[java.sql.Timestamp])].collect().toSeq
    assert(closed == Seq((false, Some(ts("2024-02-01")))), s"$closed")
    assert(snapT.filter(col("id") === 1 && col("is_current")).count() == 1)
    // malformed invalidate_hard_deletes fails loudly
    Files.write(dir.resolve("snapshots/cust_snap.sql"),
      ("{% snapshot cust_snap %}\n" +
        "{{ config(unique_key='id', strategy='check', " +
        "invalidate_hard_deletes='maybe') }}\n" +
        "select id, city from {{ source('raw', 'customers') }}\n" +
        "{% endsnapshot %}\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DbtProject.snapshot(
      spark, dir.toString,
      Map("customers" -> Seq((1L, "NY")).toDF("id", "city")),
      whT, ts("2024-03-01")))
    assert(e.getMessage.contains("invalidate_hard_deletes"))
    // check_cols naming a column missing from the select fails loudly
    Files.write(dir.resolve("snapshots/cust_snap.sql"),
      ("{% snapshot cust_snap %}\n" +
        "{{ config(unique_key='id', strategy='check', check_cols=['nope']) }}\n" +
        "select id, city from {{ source('raw', 'customers') }}\n" +
        "{% endsnapshot %}\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](DbtProject.snapshot(
      spark, dir.toString,
      Map("customers" -> Seq((1L, "NY")).toDF("id", "city")),
      Files.createTempDirectory("graft-snapcfg-whx").toString, ts("2024-03-01")))
    assert(e2.getMessage.contains("check_cols"))
  }

  test("schema-yml data tests: reference checkout declares them; run reports pass; violations fail") {
    import spark.implicits._
    import graft.sql.DbtTests
    assume(available, s"$refDir not present")
    // the reference's own marts_schema.yml parses into exactly its
    // two declared tests
    val refTests = DbtProject.load(refDir).tests
    assert(refTests.toSet == Set(
      DbtTests.DataTest("user_base", Some("user_id"), "not_null", Map.empty),
      DbtTests.DataTest("user_base", None,
        "dbt_utils.unique_combination_of_columns",
        Map("combination_of_columns" ->
          Seq("user_id", "partner_id", "site_id")))), s"$refTests")
    // dbt run + dbt test on the checkout: not_null passes; the
    // uniqueness test correctly FAILS — the fixture mart has exactly
    // 3 duplicated (user_id, partner_id, site_id) combos, the same
    // number the driver-oracled q_user_base_checks reports
    val wh = Files.createTempDirectory("graft-dbttest-wh").toString
    val (_, report) = DbtProject.runAndTest(spark, refDir,
      RefFixtures.sources(spark), wh,
      currentDateOverride = Some("2026-08-12"))
    val rows = report.select("model", "test", "n_violations", "status")
      .as[(String, String, Long, String)].collect().toSet
    assert(rows == Set(
      ("user_base", "not_null", 0L, "pass"),
      ("user_base", "dbt_utils.unique_combination_of_columns", 3L, "fail")),
      s"$rows")
    // synthetic violations: every supported generic fires correctly
    val dirty = Seq(
      (Some(1L), "a", "x"), (Some(1L), "b", "zz"), (None, "b", "x"))
      .toDF("id", "cat", "fk")
    val parent = Seq("x", "y").toDF("pk")
    val tests = DbtTests.parse(
      """version: 2
        |models:
        |  - name: dirty
        |    columns:
        |      - name: id
        |        tests: [not_null, unique]
        |      - name: cat
        |        tests:
        |          - accepted_values:
        |              values: ['a', 'b']
        |      - name: fk
        |        tests:
        |          - relationships:
        |              to: ref('parent')
        |              field: pk
        |    tests:
        |      - dbt_utils.unique_combination_of_columns:
        |          combination_of_columns: [id, cat]
        |""".stripMargin)
    assert(tests.size == 5)
    val frames = Map("dirty" -> dirty, "parent" -> parent)
    val got = DbtTests.run(spark, frames, tests)
      .select("test", "column", "n_violations")
      .as[(String, Option[String], Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("not_null", Some("id"))) == 1L)       // the None id
    assert(got(("unique", Some("id"))) == 1L)         // value 1 duplicated
    assert(got(("accepted_values", Some("cat"))) == 0L) // a, b both accepted
    assert(got(("relationships", Some("fk"))) == 1L)  // 'zz' has no parent
    assert(got(("dbt_utils.unique_combination_of_columns", None)) == 0L)
    // NULLs pass accepted_values and relationships (dbt semantics)
    val nullRows = Seq((Option.empty[String], Option.empty[String]))
      .toDF("cat", "fk")
    assert(DbtTests.violations(DbtTests.DataTest("m", Some("cat"),
      "accepted_values", Map("values" -> Seq("a"))),
      Map("m" -> nullRows)) == 0L)
    // unsupported test kinds fail loudly at parse time
    intercept[IllegalArgumentException](DbtTests.parse(
      """models:
        |  - name: m
        |    columns:
        |      - name: c
        |        tests: [custom_exotic_test]
        |""".stripMargin))
  }

  test("incremental materialization: is_incremental()/{{ this }} gate the second run; unique_key merges") {
    import spark.implicits._
    import graft.sql.DbtSqlEngine
    val wh = Files.createTempDirectory("graft-incr-wh").toString
    val sql = Map("inc_model" ->
      """{{ config(materialized='incremental', unique_key='id') }}
        |select id, v from {{ source('raw', 'src_inc') }}
        |{% if is_incremental() %}
        |where id > (select max(id) from {{ this }}) or id = 1
        |{% endif %}
        |""".stripMargin)
    def runWith(rows: Seq[(Long, String)]): Map[String, org.apache.spark.sql.DataFrame] =
      new DbtSqlEngine(spark, wh).run(sql,
        Map("src_inc" -> rows.toDF("id", "v")))
    // run 1: target absent → is_incremental() false → FULL build
    val r1 = runWith(Seq((1L, "a"), (2L, "b")))
    assert(r1("inc_model").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    // run 2: target resident → is_incremental() true; the model reads
    // max(id) FROM {{ this }} (=2), so only id>2 plus the refreshed
    // id=1 flow through; merge on unique_key updates 1, appends 3,
    // and leaves the untouched id=2 in place
    val r2 = runWith(Seq((1L, "a2"), (2L, "IGNORED"), (3L, "c")))
    assert(r2("inc_model").as[(Long, String)].collect().toSet
      == Set((1L, "a2"), (2L, "b"), (3L, "c")))
    // run 3: nothing new → unchanged
    val r3 = runWith(Seq((1L, "a2"), (2L, "IGNORED")))
    assert(r3("inc_model").as[(Long, String)].collect().toSet
      == Set((1L, "a2"), (2L, "b"), (3L, "c")))
    // append flavor (no unique_key): rows accumulate across runs
    val wh2 = Files.createTempDirectory("graft-incr-wh2").toString
    val sqlApp = Map("app_model" ->
      ("{{ config(materialized='incremental') }}" +
       "select id, v from {{ source('raw', 'src_app') }}"))
    def runApp(rows: Seq[(Long, String)]) =
      new DbtSqlEngine(spark, wh2).run(sqlApp,
        Map("src_app" -> rows.toDF("id", "v")))
    runApp(Seq((1L, "x")))
    val a2 = runApp(Seq((2L, "y")))
    assert(a2("app_model").count() == 2)
  }

  test("dbt build: a failing test on an intermediate SKIPS its dependents; independent branches run; reference checkout builds green") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-build-proj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"gated\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: src_g
        |""".stripMargin.getBytes("UTF-8"))
    // base has a NULL v → its not_null test fails → mart (downstream)
    // must be SKIPPED; indep (no edge to base) must still build
    Files.write(dir.resolve("models/base.sql"),
      "select id, v from {{ source('raw', 'src_g') }}".getBytes("UTF-8"))
    Files.write(dir.resolve("models/mart.sql"),
      "select id from {{ ref('base') }} where v is not null"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/indep.sql"),
      "select id from {{ source('raw', 'src_g') }}".getBytes("UTF-8"))
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: base
        |    columns:
        |      - name: v
        |        tests:
        |          - not_null
        |  - name: indep
        |    columns:
        |      - name: id
        |        tests:
        |          - not_null
        |""".stripMargin.getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-build-wh").toString
    val src = Seq((1L, Some("a")), (2L, None)).toDF("id", "v")
    val (frames, report) = DbtProject.build(spark, dir.toString,
      Map("src_g" -> src), wh)
    val st = report.filter(col("kind") === "model")
      .select("resource", "status").as[(String, String)].collect().toMap
    assert(st("base") == "fail", s"$st")
    assert(st("mart") == "skipped", s"$st")
    assert(st("indep") == "success", s"$st")
    // the failing model still MATERIALIZED (dbt builds, then tests —
    // only the gate to dependents closes); the skipped one did not run
    assert(frames.contains("base") && frames.contains("indep"))
    assert(!frames.contains("mart"))
    val detail = report.filter(col("resource") === "base")
      .select("detail").as[String].head()
    assert(detail.contains("not_null(v)"), detail)
    // the reference checkout builds with its OWN declared tests: the
    // two intermediates succeed; user_base materializes and then its
    // uniqueness test reports the fixture's known 3 duplicated
    // (user_id, partner_id, site_id) combos (same count the
    // run-then-test suite and q_user_base_checks pin) — and since
    // user_base has no dependents, nothing is skipped
    assume(available, s"$refDir not present")
    val wh2 = Files.createTempDirectory("graft-build-wh2").toString
    val (refFrames, refReport) = DbtProject.build(spark, refDir,
      RefFixtures.sources(spark), wh2, currentDateOverride = Some(asOfDate))
    val refSt = refReport.filter(col("kind") === "model")
      .select("resource", "status", "detail")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(refSt("locations_clean")._1 == "success", s"$refSt")
    assert(refSt("stacked_users_partners")._1 == "success", s"$refSt")
    assert(refSt("user_base")._1 == "fail" &&
      refSt("user_base")._2.contains("3 violating rows"), s"$refSt")
    assert(!refSt.valuesIterator.exists(_._1 == "skipped"), s"$refSt")
    val expect = DbtProject.run(spark, refDir, RefFixtures.sources(spark),
      Files.createTempDirectory("graft-build-wh3").toString,
      currentDateOverride = Some(asOfDate))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "␀" else v.toString).mkString("|"))
        .toSeq.sorted
    }
    assert(rowsOf(refFrames("user_base")) == rowsOf(expect("user_base")))
  }

  test("incremental lifecycle: --full-refresh rebuilds; on_schema_change policies per dbt docs") {
    import spark.implicits._
    import graft.sql.DbtSqlEngine
    def proj(cfg: String) = Map("m" ->
      (s"{{ config(materialized='incremental', unique_key='id'$cfg) }} " +
        "select * from {{ source('raw', 's') }}"))
    def run(wh: String, cfg: String, df: org.apache.spark.sql.DataFrame,
        fullRefresh: Boolean = false) =
      new DbtSqlEngine(spark, wh).run(proj(cfg), Map("s" -> df),
        fullRefresh = fullRefresh)("m")
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b2 = Seq((2L, "b2", 20L), (3L, "c", 30L)).toDF("id", "v", "w")
    // default (ignore): the TARGET schema wins — w is dropped, the
    // merge lands with the original columns
    val whI = Files.createTempDirectory("osc-ignore").toString
    run(whI, "", b1)
    val r2 = run(whI, "", b2)
    assert(r2.columns.toSeq == Seq("id", "v"))
    assert(r2.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // fail: the schema change aborts loudly, naming the column
    val whF = Files.createTempDirectory("osc-fail").toString
    run(whF, ", on_schema_change='fail'", b1)
    val e = intercept[IllegalStateException](
      run(whF, ", on_schema_change='fail'", b2))
    assert(e.getMessage.contains("w"), e.getMessage)
    // append_new_columns: w is ADDED; pre-existing rows read NULL
    val whA = Files.createTempDirectory("osc-append").toString
    run(whA, ", on_schema_change='append_new_columns'", b1)
    val rA = run(whA, ", on_schema_change='append_new_columns'", b2)
    assert(rA.columns.toSet == Set("id", "v", "w"))
    assert(rA.select("id", "v", "w").as[(Long, String, Option[Long])]
      .collect().toSet ==
      Set((1L, "a", None), (2L, "b2", Some(20L)), (3L, "c", Some(30L))))
    // sync_all_columns: adds w AND drops a departed column
    val whS = Files.createTempDirectory("osc-sync").toString
    run(whS, ", on_schema_change='sync_all_columns'",
      Seq((1L, "a", true)).toDF("id", "v", "old"))
    val rS = run(whS, ", on_schema_change='sync_all_columns'", b2)
    assert(rS.columns.toSet == Set("id", "v", "w"), rS.columns.mkString(","))
    // --full-refresh: the incremental target rebuilds from scratch —
    // history (id=1) is GONE, only the current batch remains
    val whR = Files.createTempDirectory("osc-refresh").toString
    run(whR, "", b1)
    val rR = run(whR, "", Seq((9L, "z")).toDF("id", "v"),
      fullRefresh = true)
    assert(rR.as[(Long, String)].collect().toSet == Set((9L, "z")))
    // config(full_refresh=false) PROTECTS the table from the flag
    val whP = Files.createTempDirectory("osc-protect").toString
    run(whP, ", full_refresh=false", b1)
    val rP = run(whP, ", full_refresh=false",
      Seq((9L, "z")).toDF("id", "v"), fullRefresh = true)
    assert(rP.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (9L, "z")))
  }

  test("dbt_utils builtins: generate_surrogate_key and safe_cast expand to dbt_utils' own SQL") {
    import spark.implicits._
    import graft.sql.DbtSqlEngine
    val wh = Files.createTempDirectory("graft-dbtutils-wh").toString
    val sql = Map("sk_model" ->
      ("select id, {{ dbt_utils.generate_surrogate_key(['id', 'v']) }} as sk, " +
       "{{ dbt_utils.safe_cast('v', 'int') }} as vi " +
       "from {{ source('raw', 'src_sk') }}"))
    val src = Seq((1L, Some("7")), (2L, None)).toDF("id", "v")
    val out = new DbtSqlEngine(spark, wh).run(sql, Map("src_sk" -> src))
    val rows = out("sk_model").select("id", "sk", "vi")
      .as[(Long, String, Option[Int])].collect().map(r => r._1 -> r).toMap
    // same sentinel + separator as dbt_utils → same md5
    def sk(id: String, v: String) = org.apache.commons.codec.digest.DigestUtils
      .md5Hex(id + "-" + v)
    assert(rows(1L)._2 == sk("1", "7") && rows(1L)._3.contains(7))
    assert(rows(2L)._2 == sk("2", "_dbt_utils_surrogate_key_null_")
      && rows(2L)._3.isEmpty)
  }

  test("dbt --select: tag and graph selectors; warehouse-resolved upstreams; loud view-dep failure") {
    import spark.implicits._
    import graft.model.{Model, ModelGraph, Materialization}
    // unit: selector grammar over a toy DAG a -> b -> c, tag on b
    def m(name: String, deps: Seq[String], tags: Set[String] = Set.empty) =
      Model(name, deps, Materialization.View, tags)(_ => spark.range(1).toDF())
    val dag = Seq(m("a", Nil), m("b", Seq("a"), Set("x")), m("c", Seq("b")))
    def names(expr: String) = ModelGraph.select(dag, expr).map(_.name).toSet
    assert(names("b") == Set("b"))
    assert(names("+b") == Set("a", "b"))
    assert(names("b+") == Set("b", "c"))
    assert(names("+b+") == Set("a", "b", "c"))
    assert(names("tag:x+") == Set("b", "c"))
    assert(names("a, c") == Set("a", "c"))
    intercept[IllegalArgumentException](names("nope"))
    // @-operator: model + descendants + ancestors of those. On a
    // diamond-with-side-input (a -> b -> d, s -> d), @b must pull in
    // s (d's other parent) even though s is no ancestor of b.
    val dag2 = Seq(m("a", Nil), m("b", Seq("a")), m("s", Nil),
      m("d", Seq("b", "s")))
    def names2(expr: String, ex: String = "") =
      ModelGraph.select(dag2, expr, ex).map(_.name).toSet
    assert(names2("@b") == Set("a", "b", "s", "d"))
    assert(names2("b+") == Set("b", "d")) // contrast: no s, no a
    // --exclude subtracts last (overrides select), same grammar
    assert(names2("@b", "d") == Set("a", "b", "s"))
    assert(names2("+d", "+b") == Set("s", "d"))
    assert(names2("a b s d", "b+") == Set("a", "s"))
    assume(available, s"$refDir not present")
    // reference checkout: tag selectors come from dbt_project.yml +tags
    val p = DbtProject.load(refDir)
    assert(p.tags("locations_clean") == Set("intermediate"), s"${p.tags}")
    assert(p.tags("user_base") == Set("marts"))
    val wh = Files.createTempDirectory("graft-sel-wh").toString
    val interm = DbtProject.run(spark, refDir, RefFixtures.sources(spark), wh,
      currentDateOverride = Some("2026-08-12"),
      select = Some("tag:intermediate"))
    assert(interm.keySet == Set("locations_clean", "stacked_users_partners"))
    val all = DbtProject.run(spark, refDir, RefFixtures.sources(spark), wh,
      currentDateOverride = Some("2026-08-12"), select = Some("+user_base"))
    assert(all.keySet ==
      Set("locations_clean", "stacked_users_partners", "user_base"))
    // --exclude end-to-end: everything needed for the mart, minus the
    // mart itself; and exclude-with-no-select = run all but the token
    val sansMart = DbtProject.run(spark, refDir, RefFixtures.sources(spark),
      wh, currentDateOverride = Some("2026-08-12"),
      select = Some("+user_base"), exclude = Some("user_base"))
    assert(sansMart.keySet == Set("locations_clean", "stacked_users_partners"))
    val exOnly = DbtProject.run(spark, refDir, RefFixtures.sources(spark),
      wh, currentDateOverride = Some("2026-08-12"),
      exclude = Some("user_base"))
    assert(exOnly.keySet == Set("locations_clean", "stacked_users_partners"))
    // selecting the mart alone: its view deps were never materialized
    val wh2 = Files.createTempDirectory("graft-sel-wh2").toString
    val e = intercept[IllegalArgumentException] {
      DbtProject.run(spark, refDir, RefFixtures.sources(spark), wh2,
        currentDateOverride = Some("2026-08-12"), select = Some("user_base"))
    }
    assert(e.getMessage.contains("locations_clean") ||
      e.getMessage.contains("stacked_users_partners"), e.getMessage)
    // a TABLE upstream resolves from the warehouse on a later
    // selected-only run (dbt's relation-already-exists semantics)
    val dir = Files.createTempDirectory("graft-sel-proj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"sel\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "{{ config(materialized='table') }} select id from {{ source('raw', 'src_s') }}"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/mart.sql"),
      "select id * 2 as id2 from {{ ref('base') }}".getBytes("UTF-8"))
    val wh3 = Files.createTempDirectory("graft-sel-wh3").toString
    val src = Seq(1L, 2L).toDF("id")
    DbtProject.run(spark, dir.toString, Map("src_s" -> src), wh3,
      select = Some("base"))
    val only = DbtProject.run(spark, dir.toString, Map("src_s" -> src), wh3,
      select = Some("mart"))
    assert(only.keySet == Set("mart"))
    assert(only("mart").as[Long].collect().toSet == Set(2L, 4L))
  }

  test("{{ target }} binds from the checkout's profiles yml") {
    import spark.implicits._
    import graft.sql.{DbtProject => DP}
    assume(available, s"$refDir not present")
    // the reference's profiles.example.yml: target dev, dataset
    // analytics_dev, project oroboro-dw
    val props = DP.load(refDir).targetProps
    assert(props("name") == "dev" && props("schema") == "analytics_dev" &&
      props("database") == "oroboro-dw", s"$props")
    val wh = Files.createTempDirectory("graft-tgt-wh").toString
    val dir = Files.createTempDirectory("graft-tgt-proj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"tgt\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("profiles.yml"),
      """tgt_profile:
        |  target: prod
        |  outputs:
        |    prod:
        |      schema: gold
        |      threads: 2
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/env_model.sql"),
      ("select '{{ target.name }}' as env, '{{ target.schema }}' as sch, " +
       "{% if target.name == 'prod' %}1{% else %}0{% endif %} as is_prod "
       + "from {{ source('raw', 'src_t2') }}").getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """sources:
        |  - name: raw
        |    tables:
        |      - name: src_t2
        |""".stripMargin.getBytes("UTF-8"))
    val out = DP.run(spark, dir.toString, Map("src_t2" -> Seq(1L).toDF("id")), wh)
    assert(out("env_model").as[(String, String, Int)].head()
      == (("prod", "gold", 1)))
  }

  test("--select state:modified: manifest-diff selection rebuilds only changed models") {
    import spark.implicits._
    import graft.sql.{DbtProject => DP}
    val dir = Files.createTempDirectory("graft-state-proj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"state\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      ("{{ config(materialized='table') }} " +
       "select id from {{ source('raw', 'src_sm') }}").getBytes("UTF-8"))
    Files.write(dir.resolve("models/mart.sql"),
      ("{{ config(materialized='table') }} " +
       "select id * 2 as v from {{ ref('base') }}").getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-state-wh").toString
    val src = Map("src_sm" -> Seq(1L, 2L).toDF("id"))
    // no manifest yet: everything counts modified
    val first = DP.run(spark, dir.toString, src, wh,
      select = Some("state:modified"))
    assert(first.keySet == Set("base", "mart"))
    // manifest now current: nothing is modified -> empty run
    val none = DP.run(spark, dir.toString, src, wh,
      select = Some("state:modified"))
    assert(none.isEmpty)
    // touch ONLY the mart: state:modified picks it alone; its table
    // upstream resolves from the warehouse
    Files.write(dir.resolve("models/mart.sql"),
      ("{{ config(materialized='table') }} " +
       "select id * 3 as v from {{ ref('base') }}").getBytes("UTF-8"))
    val onlyMart = DP.run(spark, dir.toString, src, wh,
      select = Some("state:modified"))
    assert(onlyMart.keySet == Set("mart"))
    assert(onlyMart("mart").as[Long].collect().sorted.toSeq == Seq(3L, 6L))
    // touch the BASE: state:modified+ pulls the downstream mart too
    Files.write(dir.resolve("models/base.sql"),
      ("{{ config(materialized='table') }} " +
       "select id + 10 as id from {{ source('raw', 'src_sm') }}")
        .getBytes("UTF-8"))
    val cascade = DP.run(spark, dir.toString, src, wh,
      select = Some("state:modified+"))
    assert(cascade.keySet == Set("base", "mart"))
    assert(cascade("mart").as[Long].collect().sorted.toSeq == Seq(33L, 36L))
  }

  test("profiles target selection + env_var; dbt source freshness from the checkout yml") {
    import spark.implicits._
    import graft.sql.{DbtProject => DP}
    // --- unit: env_var expansion ---
    val env = Map("GRAFT_SCHEMA" -> "from_env")
    assert(DP.expandEnvVars(
      "x: {{ env_var('GRAFT_SCHEMA') }}\ny: {{ env_var('NOPE', 'dflt') }}",
      env.get) == "x: from_env\ny: dflt")
    intercept[IllegalArgumentException](
      DP.expandEnvVars("x: {{ env_var('NOPE') }}", env.get))
    // --- unit: two-level outputs, active target NOT first, per-output
    // threads; the inactive output's values must not leak ---
    val prof =
      """my_profile:
        |  target: ci
        |  outputs:
        |    dev:
        |      type: bigquery
        |      dataset: analytics_dev
        |      threads: 4
        |    ci:
        |      type: bigquery
        |      dataset: analytics_ci
        |      project: proj-ci
        |      threads: 9
        |""".stripMargin
    val p1 = DP.parseProfile(prof)
    assert(p1("name") == "ci" && p1("dataset") == "analytics_ci" &&
      p1("threads") == "9" && p1("project") == "proj-ci", s"$p1")
    // unknown target fails loudly, outputs listed
    val bad = intercept[IllegalArgumentException](
      DP.parseProfile(prof.replace("target: ci", "target: prod")))
    assert(bad.getMessage.contains("prod") && bad.getMessage.contains("dev"))
    // no-outputs fallback (minimal hand-rolled profile) keeps working
    val p2 = DP.parseProfile("t:\n  schema: s1\n  threads: 3\n")
    assert(p2("schema") == "s1" && p2("threads") == "3")
    // --- end-to-end: checkout with env_var in profiles + freshness ---
    val dir = Files.createTempDirectory("graft-fresh-proj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"fresh\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("profiles.yml"),
      """fresh_profile:
        |  target: {{ env_var('GRAFT_TGT', 'stage') }}
        |  outputs:
        |    dev:
        |      dataset: analytics_dev
        |      threads: 4
        |    stage:
        |      dataset: {{ env_var('GRAFT_DS', 'analytics_stage') }}
        |      threads: 2
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    loaded_at_field: etl_ts
        |    freshness:
        |      warn_after: {count: 1, period: hour}
        |      error_after: {count: 1, period: day}
        |    tables:
        |      - name: feed_a
        |      - name: feed_b
        |        loaded_at_field: seen_at
        |        freshness:
        |          warn_after:
        |            count: 30
        |            period: minute
        |      - name: feed_nofresh
        |        freshness: null
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/m.sql"),
      "select 1 as one".getBytes("UTF-8"))
    val loaded = DP.load(dir.toString)
    assert(loaded.targetProps("name") == "stage" &&
      loaded.targetProps("schema") == "analytics_stage" &&
      loaded.profileThreads.contains(2), s"${loaded.targetProps}")
    // freshness config resolved: feed_a inherits source-level; feed_b
    // overrides field AND thresholds wholesale (no inherited error);
    // feed_nofresh opts out (dbt's `freshness: null`)
    assert(loaded.freshness("feed_a") ==
      DP.FreshnessConfig("etl_ts", Some(3600L), Some(86400L)))
    assert(loaded.freshness("feed_b") ==
      DP.FreshnessConfig("seen_at", Some(1800L), None))
    assert(!loaded.freshness.contains("feed_nofresh"))
    // the report: asOf fixed; feed_a 2h stale -> warn, feed_b fresh ->
    // pass, and a configured table with NO supplied frame -> error
    val asOf = java.sql.Timestamp.valueOf("2026-08-15 12:00:00")
    def tsDf(c: String, ts: String*) =
      ts.map(java.sql.Timestamp.valueOf).toDF(c)
    val rep = DP.sourceFreshness(spark, dir.toString,
      Map("feed_a" -> tsDf("etl_ts", "2026-08-15 10:00:00",
        "2026-08-15 09:00:00"),
        "feed_b" -> tsDf("seen_at", "2026-08-15 11:50:00")), asOf)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(2)).map(_.toString.toLong), r.getString(3))).toMap
    assert(rep("feed_a") == ((Some(7200L), "warn")), s"$rep")
    assert(rep("feed_b") == ((Some(600L), "pass")), s"$rep")
    assert(rep.size == 2)
    val rep2 = DP.sourceFreshness(spark, dir.toString,
      Map("feed_a" -> tsDf("etl_ts", "2026-08-15 11:59:00")), asOf)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(rep2 == Map("feed_a" -> "pass", "feed_b" -> "error"), s"$rep2")
  }

  test("dbt ls: one row per resource with kind/materialization/tags (round 15)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lsproj")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("tests"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "lsy"
        |models:
        |  lsy:
        |    +materialized: table
        |    +tags: ["nightly"]
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: txns
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/clean.sql"),
      "select * from {{ source('raw', 'txns') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("tests/assert_ok.sql"),
      "select 1 as one from {{ ref('clean') }} having count(*) < 0\n"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/exposures.yml"),
      """version: 2
        |exposures:
        |  - name: weekly_kpis
        |    type: dashboard
        |    maturity: high
        |    owner:
        |      name: Data Team
        |      email: data@example.com
        |    depends_on:
        |      - ref('clean')
        |      - source('raw', 'txns')
        |  - name: churn_model
        |    type: ml
        |    owner:
        |      email: ml@example.com
        |    depends_on:
        |      - ref('clean')
        |""".stripMargin.getBytes("UTF-8"))
    val rows = DbtProject.list(spark, dir.toString)
      .as[(String, String, String, String, String, String, String)]
      .collect().toSeq
    assert(rows == Seq(
      ("churn_model", "exposure", "ml", "", "", "", ""),
      ("weekly_kpis", "exposure", "dashboard", "", "", "", ""),
      ("clean", "model", "table", "nightly", "", "", ""),
      ("txns", "source", "source", "", "", "", ""),
      ("assert_ok", "test", "singular", "", "", "", "")), s"$rows")
    // the exposures surface: resolved upstreams, owner from the
    // owner block (name preferred, email fallback)
    val ex = DbtProject.exposures(spark, dir.toString)
      .as[(String, String, String, String, String)].collect().toSeq
    assert(ex == Seq(
      ("churn_model", "ml", "", "ml@example.com", "clean"),
      ("weekly_kpis", "dashboard", "high", "Data Team", "clean,txns")),
      s"$ex")
    // a name:/email: in a LATER sub-block (meta:) of the same entry
    // must not overwrite the parsed owner — the owner: block ends at
    // the first dedent back to its own indent
    val metaParsed = DbtProject.parseExposures(
      """exposures:
        |  - name: with_meta
        |    type: dashboard
        |    owner:
        |      name: Real Owner
        |    meta:
        |      name: bogus-dashboard-id
        |      email: noreply@example.com
        |""".stripMargin)
    assert(metaParsed.map(e => (e.name, e.owner)) ==
      Seq(("with_meta", Some("Real Owner"))), s"$metaParsed")
    // an exposure on an undeclared relation fails loudly
    Files.write(dir.resolve("models/exposures.yml"),
      """exposures:
        |  - name: broken
        |    type: dashboard
        |    depends_on:
        |      - ref('ghost')
        |""".stripMargin.getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException] {
      DbtProject.exposures(spark, dir.toString) }
    assert(err.getMessage.contains("ghost"))
    // an unsupported exposure type is rejected at parse time
    Files.write(dir.resolve("models/exposures.yml"),
      """exposures:
        |  - name: odd
        |    type: spreadsheet
        |""".stripMargin.getBytes("UTF-8"))
    val err2 = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(err2.getMessage.contains("spreadsheet"))
  }

  test("dbt compile: rendered SQL lands under target/, executes verbatim, no manifest advance (round 15)") {
    assume(available, s"$refDir not present")
    val wh = Files.createTempDirectory("graft-compile-wh").toString
    val env = RefFixtures.sources(spark)
    val rows = DbtProject.compile(spark, refDir, env, wh,
        currentDateOverride = Some(asOfDate))
      .collect().map(r => r.getAs[String]("resource") -> r).toMap
    assert(rows.keySet ==
      Set("locations_clean", "stacked_users_partners", "user_base"))
    // every artifact file exists and holds the returned text, fully
    // rendered (no Jinja survives) and dialect-translated
    for ((name, r) <- rows) {
      val path = Paths.get(
        r.getAs[String]("path").stripPrefix("file:"))
      val onDisk = new String(Files.readAllBytes(path), "UTF-8")
      assert(onDisk == r.getAs[String]("sql"), s"$name artifact diverges")
      assert(!onDisk.contains("{{") && !onDisk.contains("{%"),
        s"$name compiled text still contains Jinja")
    }
    // the compiled text IS what a run executes: the view model's SQL
    // runs as-is (compile registered the source temp views) and is
    // row-identical to the hand-written DataFrame model
    val lc = spark.sql(rows("locations_clean").getAs[String]("sql"))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "␀" else v.toString)
          .mkString("|")).toSeq.sorted
    }
    assert(rowsOf(lc) == rowsOf(LocationsClean(env)))
    // compile must never advance state:modified
    assert(!Files.exists(Paths.get(wh, "manifest.json")),
      "compile wrote a manifest — a later state:modified run would skip")
    // selector scoping compiles only the selection
    val one = DbtProject.compile(spark, refDir, env, wh,
      currentDateOverride = Some(asOfDate),
      select = Some("locations_clean"))
    assert(one.collect().map(_.getString(0)).toSeq == Seq("locations_clean"))
  }

  test("dbt docs catalog: columns/dtypes/row counts of what the warehouse holds (round 15)") {
    assume(available, s"$refDir not present")
    val wh = Files.createTempDirectory("graft-catalog-wh").toString
    // before any run the warehouse is empty -> empty catalog
    assert(DbtProject.catalog(spark, refDir, wh).count() == 0)
    val out = DbtProject.run(spark, refDir, RefFixtures.sources(spark), wh,
      currentDateOverride = Some(asOfDate))
    val cat = DbtProject.catalog(spark, refDir, wh).collect()
    // only the table-materialized mart persists; views never do
    assert(cat.map(_.getAs[String]("resource")).toSet == Set("user_base"))
    val ub = out("user_base")
    val byCol = cat.map(r => r.getAs[String]("column") -> r).toMap
    assert(byCol.keySet == ub.schema.fieldNames.toSet)
    for (f <- ub.schema.fields) {
      val r = byCol(f.name)
      assert(r.getAs[String]("dtype") == f.dataType.simpleString)
      assert(r.getAs[Long]("n_rows") == ub.count())
      assert(r.getAs[String]("kind") == "model")
    }
    // ordinals preserve the materialized column order
    assert(cat.sortBy(_.getAs[Int]("ordinal")).map(_.getAs[String]("column"))
      .toSeq == spark.read.parquet(s"$wh/user_base").columns.toSeq)
  }

  test("docs blocks + descriptions: doc() resolves into the catalog; dangling/duplicate loud (round 16)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-docsproj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "docsy"
        |models:
        |  docsy:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/accounts.sql"),
      "select 1 as id, 'acme' as org\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/overview.md"),
      """{% docs accounts_overview %}
        |One row per **billing account**.
        |{% enddocs %}
        |
        |{%- docs org_col -%}The owning organization slug.{%- enddocs -%}
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: accounts
        |    description: "{{ doc('accounts_overview') }}"
        |    columns:
        |      - name: id
        |        description: "surrogate key"
        |      - name: org
        |        description: "{{ doc('org_col') }}"
        |""".stripMargin.getBytes("UTF-8"))
    // load resolves doc() refs eagerly
    val loaded = DbtProject.load(dir.toString)
    assert(loaded.docsBlocks.keySet == Set("accounts_overview", "org_col"))
    assert(loaded.descriptions("accounts").description ==
      Some("One row per **billing account**."))
    assert(loaded.descriptions("accounts").columns("org") ==
      "The owning organization slug.")
    // the catalog carries both description columns
    val wh = Files.createTempDirectory("graft-docsproj-wh").toString
    DbtProject.run(spark, dir.toString, Map.empty, wh)
    val cat = DbtProject.catalog(spark, dir.toString, wh).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[String]("description"),
          r.getAs[String]("resource_description"))).toMap
    assert(cat == Map(
      "id" -> ("surrogate key", "One row per **billing account**."),
      "org" -> ("The owning organization slug.",
        "One row per **billing account**.")), s"$cat")
    // a dangling doc() reference fails at load, naming the ref
    Files.write(dir.resolve("models/schema.yml"),
      """models:
        |  - name: accounts
        |    description: "{{ doc('ghost_block') }}"
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DbtProject.load(dir.toString))
    assert(e.getMessage.contains("ghost_block"), e.getMessage)
    // duplicate docs names across files fail at load
    Files.write(dir.resolve("models/schema.yml"),
      "models: []\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/extra.md"),
      "{% docs org_col %}dup{% enddocs %}\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](DbtProject.load(dir.toString))
    assert(e2.getMessage.contains("org_col"), e2.getMessage)
  }

  test("selectors.yml: named selectors compose union/intersection/exclude over the graph (round 16)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-selproj")
    Files.createDirectories(dir.resolve("models/core"))
    Files.createDirectories(dir.resolve("models/extra"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "selly"
        |models:
        |  selly:
        |    +materialized: table
        |    core:
        |      +tags: ["nightly"]
        |""".stripMargin.getBytes("UTF-8"))
    // DAG: base -> mid -> leaf (core, tagged nightly); loose (extra)
    Files.write(dir.resolve("models/core/base.sql"),
      "select 1 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/core/mid.sql"),
      "select id from {{ ref('base') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/core/leaf.sql"),
      "select id from {{ ref('mid') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/extra/loose.sql"),
      "select 9 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("selectors.yml"),
      """selectors:
        |  - name: nightly_no_leaf
        |    definition:
        |      union:
        |        - method: tag
        |          value: nightly
        |        - exclude:
        |            - leaf
        |  - name: mid_and_up
        |    definition:
        |      intersection:
        |        - method: fqn
        |          value: mid
        |          parents: true
        |        - method: tag
        |          value: nightly
        |  - name: cli_style
        |    definition: "base+"
        |  - name: just_loose
        |    default: true
        |    definition: loose
        |""".stripMargin.getBytes("UTF-8"))
    def ranSet(selector: Option[String] = None,
        select: Option[String] = None): Set[String] = {
      val wh = Files.createTempDirectory("graft-selproj-wh").toString
      DbtProject.run(spark, dir.toString, Map.empty, wh,
        selector = selector, select = select).keySet
    }
    // union minus exclude
    assert(ranSet(selector = Some("nightly_no_leaf")) == Set("base", "mid"))
    // intersection of an ancestors-closure with a tag set
    assert(ranSet(selector = Some("mid_and_up")) == Set("base", "mid"))
    // a CLI-style scalar definition uses the select grammar verbatim
    assert(ranSet(selector = Some("cli_style")) ==
      Set("base", "mid", "leaf"))
    // no selection of any kind -> the default selector applies
    assert(ranSet() == Set("loose"))
    // ... but an explicit --select overrides the default
    assert(ranSet(select = Some("base")) == Set("base"))
    // --selector + --select is the dbt CLI error
    val e = intercept[IllegalArgumentException](
      ranSet(selector = Some("cli_style"), select = Some("base")))
    assert(e.getMessage.contains("--selector"), e.getMessage)
    // unknown selector name is loud and lists what exists
    val e2 = intercept[IllegalArgumentException](
      ranSet(selector = Some("nope")))
    assert(e2.getMessage.contains("nope") &&
      e2.getMessage.contains("cli_style"), e2.getMessage)
    // parser rejects an unknown method
    val e3 = intercept[IllegalArgumentException](DbtProject.parseSelectors(
      """selectors:
        |  - name: bad
        |    definition:
        |      union:
        |        - method: package
        |          value: x
        |""".stripMargin))
    assert(e3.getMessage.contains("package"), e3.getMessage)
  }

  test("--defer: unselected upstreams read from the production state; local wins (round 16)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-deferproj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "defy"
        |models:
        |  defy:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select 1 as id, 10 as v\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/leaf.sql"),
      "select id, v * 2 as v2 from {{ ref('base') }}\n".getBytes("UTF-8"))
    // production run materializes everything
    val prodWh = Files.createTempDirectory("graft-defer-prod").toString
    DbtProject.run(spark, dir.toString, Map.empty, prodWh)
    // dev: select only leaf in a FRESH warehouse — without defer the
    // missing upstream is loud and names the fix
    val devWh = Files.createTempDirectory("graft-defer-dev").toString
    val e = intercept[IllegalArgumentException](DbtProject.run(
      spark, dir.toString, Map.empty, devWh, select = Some("leaf")))
    assert(e.getMessage.contains("base") &&
      e.getMessage.contains("defer"), e.getMessage)
    // with defer, leaf builds against prod's base
    val out = DbtProject.run(spark, dir.toString, Map.empty, devWh,
      select = Some("leaf"), defer = Some(prodWh))
    assert(out.keySet == Set("leaf"))
    assert(out("leaf").as[(Int, Int)].collect().toSeq == Seq((1, 20)))
    // a LOCALLY materialized upstream beats the deferred one: change
    // base, run it into dev, then the deferred leaf run reads local
    Files.write(dir.resolve("models/base.sql"),
      "select 1 as id, 100 as v\n".getBytes("UTF-8"))
    DbtProject.run(spark, dir.toString, Map.empty, devWh,
      select = Some("base"))
    val out2 = DbtProject.run(spark, dir.toString, Map.empty, devWh,
      select = Some("leaf"), defer = Some(prodWh))
    assert(out2("leaf").as[(Int, Int)].collect().toSeq == Seq((1, 200)),
      "local materialization must win over the deferred state")
    // compile honors defer too: a select-scoped compile against a
    // fresh warehouse renders leaf with its upstream resolved from
    // the deferred state instead of failing
    val freshWh = Files.createTempDirectory("graft-defer-c").toString
    val comp = DbtProject.compile(spark, dir.toString, Map.empty, freshWh,
      select = Some("leaf"), defer = Some(prodWh))
      .select("resource").as[String].collect().toSeq
    assert(comp == Seq("leaf"), s"$comp")
  }

  test("dbt ls --select/--selector: model rows filter on the static DAG (round 16)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lssel")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"lsel\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select 1 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/leaf.sql"),
      "select id from {{ ref('base') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/loose.sql"),
      "select 2 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("selectors.yml"),
      """selectors:
        |  - name: core
        |    definition: "base+"
        |""".stripMargin.getBytes("UTF-8"))
    def names(sel: Option[String] = None, named: Option[String] = None) =
      DbtProject.list(spark, dir.toString, select = sel, selector = named)
        .select("resource").as[String].collect().toSet
    assert(names(sel = Some("base+")) == Set("base", "leaf"))
    assert(names(named = Some("core")) == Set("base", "leaf"))
    assert(names() == Set("base", "leaf", "loose"))
    // state:modified has no manifest in ls — loud
    val e = intercept[IllegalArgumentException](
      names(sel = Some("state:modified")))
    assert(e.getMessage.contains("state:modified"), e.getMessage)
    // a default selector binds ls too (dbt: defaults apply to every
    // node-selecting command); an explicit --select overrides it
    Files.write(dir.resolve("selectors.yml"),
      """selectors:
        |  - name: core
        |    default: true
        |    definition: "base+"
        |""".stripMargin.getBytes("UTF-8"))
    assert(names() == Set("base", "leaf"))
    assert(names(sel = Some("loose")) == Set("loose"))
  }

  test("dbt model contracts: enforced schema + constraints gate materialization (round 17)") {
    import spark.implicits._
    def proj(modelSql: String, schemaYml: String): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft-contract")
      Files.createDirectories(dir.resolve("models"))
      Files.write(dir.resolve("dbt_project.yml"),
        """name: "conty"
          |models:
          |  conty:
          |    +materialized: table
          |""".stripMargin.getBytes("UTF-8"))
      Files.write(dir.resolve("models/mart.sql"),
        modelSql.getBytes("UTF-8"))
      Files.write(dir.resolve("models/schema.yml"),
        schemaYml.getBytes("UTF-8"))
      dir
    }
    val contracted =
      """version: 2
        |models:
        |  - name: mart
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |        data_type: int64
        |        constraints:
        |          - type: not_null
        |      - name: label
        |        data_type: string
        |""".stripMargin
    // satisfied: exact columns, exact types, no nulls
    val okDir = proj(
      "select cast(1 as int64) as id, 'a' as label\n", contracted)
    val wh1 = Files.createTempDirectory("graft-contract-wh").toString
    val out = DbtProject.run(spark, okDir.toString, Map.empty, wh1)
    assert(out("mart").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // the ls contract flag
    val flag = DbtProject.list(spark, okDir.toString)
      .filter(col("resource") === "mart")
      .select("contract").as[String].head()
    assert(flag == "enforced")
    // violated type: loud, naming the column and both types
    val badType = proj(
      "select cast(1 as float64) as id, 'a' as label\n", contracted)
    val e1 = intercept[IllegalArgumentException] {
      DbtProject.run(spark, badType.toString, Map.empty,
        Files.createTempDirectory("graft-cwh").toString) }
    assert(e1.getMessage.contains("'id'") &&
      e1.getMessage.contains("DOUBLE") &&
      e1.getMessage.contains("int64"), e1.getMessage)
    // missing + extra columns both named
    val badCols = proj(
      "select cast(1 as int64) as id, 2 as stray\n", contracted)
    val e2 = intercept[IllegalArgumentException] {
      DbtProject.run(spark, badCols.toString, Map.empty,
        Files.createTempDirectory("graft-cwh2").toString) }
    assert(e2.getMessage.contains("label") &&
      e2.getMessage.contains("stray"), e2.getMessage)
    // not_null constraint: violated data refuses to materialize
    val badNull = proj(
      "select cast(null as int64) as id, 'a' as label\n", contracted)
    val e3 = intercept[IllegalArgumentException] {
      DbtProject.run(spark, badNull.toString, Map.empty,
        Files.createTempDirectory("graft-cwh3").toString) }
    assert(e3.getMessage.contains("not_null(id)"), e3.getMessage)
    // nothing was written for the violating model
    // enforced contract demands a data_type on every column — load-time
    val untyped = proj("select 1 as id\n",
      """version: 2
        |models:
        |  - name: mart
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |""".stripMargin)
    val e4 = intercept[IllegalArgumentException] {
      DbtProject.load(untyped.toString) }
    assert(e4.getMessage.contains("data_type"), e4.getMessage)
    // check constraint: SQL semantics (NULL passes, FALSE violates)
    val checked = proj(
      "select cast(5 as int64) as id, cast(null as string) as label\n",
      """version: 2
        |models:
        |  - name: mart
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |        data_type: int64
        |        constraints:
        |          - type: check
        |            expression: "id > 0"
        |      - name: label
        |        data_type: string
        |        constraints:
        |          - type: check
        |            expression: "length(label) > 0"
        |""".stripMargin)
    val wh5 = Files.createTempDirectory("graft-cwh5").toString
    // id > 0 holds; length(null) > 0 is UNKNOWN -> passes
    DbtProject.run(spark, checked.toString, Map.empty, wh5)
    val badCheck = proj(
      "select cast(-5 as int64) as id, 'a' as label\n",
      """version: 2
        |models:
        |  - name: mart
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |        data_type: int64
        |        constraints:
        |          - type: check
        |            expression: "id > 0"
        |      - name: label
        |        data_type: string
        |""".stripMargin)
    val e5 = intercept[IllegalArgumentException] {
      DbtProject.run(spark, badCheck.toString, Map.empty,
        Files.createTempDirectory("graft-cwh6").toString) }
    assert(e5.getMessage.contains("check(id: id > 0)"), e5.getMessage)
    // an UNenforced contract with declared types is inert metadata
    val lax = proj("select cast(1 as float64) as id, 'a' as label\n",
      """version: 2
        |models:
        |  - name: mart
        |    columns:
        |      - name: id
        |        data_type: int64
        |""".stripMargin)
    DbtProject.run(spark, lax.toString, Map.empty,
      Files.createTempDirectory("graft-cwh7").toString)
  }

  test("dbt model contracts on VIEWS: schema enforced, constraints loud-rejected (round 18)") {
    // dbt's warehouse reality: contract DDL (schema) applies to view
    // materializations, but not_null/check constraints need a real
    // relation to verify against — BigQuery/dbt do not support
    // enforced constraints on views. This engine takes the LOUD
    // position (reject at run) rather than silently skipping, so a
    // user who believes a view's rows are constraint-checked learns
    // otherwise immediately. This spec pins that deviation.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-viewcontract")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"vcy\"\n".getBytes("UTF-8"))
    def schema(constraints: String): Unit =
      Files.write(dir.resolve("models/schema.yml"),
        s"""version: 2
           |models:
           |  - name: v
           |    config:
           |      contract:
           |        enforced: true
           |    columns:
           |      - name: id
           |        data_type: int64
           |$constraints""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/v.sql"),
      "select cast(1 as int64) as id\n".getBytes("UTF-8"))
    // schema-only contract on a view: enforced, run succeeds…
    schema("")
    val wh = Files.createTempDirectory("graft-viewcontract-wh").toString
    val out = DbtProject.run(spark, dir.toString, Map.empty, wh)
    assert(out("v").as[Long].collect().toSeq == Seq(1L))
    // …and a schema VIOLATION on the view still gates (plan-only check)
    Files.write(dir.resolve("models/v.sql"),
      "select cast(1 as float64) as id\n".getBytes("UTF-8"))
    val e0 = intercept[IllegalArgumentException] {
      DbtProject.run(spark, dir.toString, Map.empty,
        Files.createTempDirectory("graft-vcwh2").toString) }
    assert(e0.getMessage.contains("contract"), e0.getMessage)
    // constraints on a view: rejected loudly, naming the rule
    Files.write(dir.resolve("models/v.sql"),
      "select cast(1 as int64) as id\n".getBytes("UTF-8"))
    schema("        constraints:\n          - not_null\n")
    val e = intercept[IllegalArgumentException] {
      DbtProject.run(spark, dir.toString, Map.empty,
        Files.createTempDirectory("graft-vcwh3").toString) }
    assert(e.getMessage.contains("view"), e.getMessage)
  }

  test("dbt model contracts: constraint check and the written rows are ONE execution (round 18)") {
    // the rows the constraint aggregate saw must be the rows the
    // Runner writes — for a non-deterministic model a re-execution
    // could pass the check yet materialize violating rows. enforce()
    // pins the frame once; an accumulator counts row evaluations.
    import graft.sql.DbtContracts
    import graft.model.Materialization
    val evals = spark.sparkContext.longAccumulator("contract-evals")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 1)
        .map { i => evals.add(1L); org.apache.spark.sql.Row(i) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val contract = DbtContracts.ModelContract(enforced = true,
      columns = Seq(DbtContracts.ColumnContract("id", "int64",
        Seq(DbtContracts.Constraint("not_null", None)))))
    val out = DbtContracts.enforce("m", Materialization.Table, src, contract)
    val afterCheck = evals.value
    assert(afterCheck == 3L,
      s"constraint pass should evaluate each row exactly once, saw $afterCheck")
    // consuming the returned frame re-reads the pinned checkpoint,
    // not the source — zero further evaluations
    assert(out.count() == 3L)
    assert(evals.value == afterCheck,
      s"write-side consumption re-executed the model: ${evals.value}")
    graft.ext.Checkpoints.release(out)
  }

  test("dbt unit tests: given/expect fixtures render one model; pass, fail, and error surfaces (round 17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-unit")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"uty\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: txns
        |""".stripMargin.getBytes("UTF-8"))
    // an ephemeral upstream: the unit test mocks the EPHEMERAL's
    // inputs (it inlines, exactly as run would)
    Files.write(dir.resolve("models/eph_clean.sql"),
      ("{{ config(materialized='ephemeral') }}\n" +
        "select id, upper(name) as name from {{ ref('base') }}\n")
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/mart.sql"),
      ("select e.id, e.name, t.amount * 2 as amount2\n" +
        "from {{ ref('eph_clean') }} e\n" +
        "join {{ source('raw', 'txns') }} t on t.id = e.id\n")
        .getBytes("UTF-8"))
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_mart_doubles
        |    model: mart
        |    given:
        |      - input: ref('base')
        |        rows:
        |          - {id: 1, name: ann}
        |          - {id: 2, name: bo}
        |      - input: source('raw', 'txns')
        |        rows:
        |          - {id: 1, amount: 100}
        |    expect:
        |      rows:
        |        - {id: 1, name: ANN, amount2: 200}
        |  - name: ut_mart_wrong
        |    model: mart
        |    given:
        |      - input: ref('base')
        |        rows:
        |          - {id: 1, name: ann}
        |      - input: source('raw', 'txns')
        |        rows:
        |          - {id: 1, amount: 100}
        |    expect:
        |      rows:
        |        - {id: 1, name: ann, amount2: 999}
        |""".stripMargin.getBytes("UTF-8"))
    val rep = DbtProject.unitTest(spark, dir.toString)
      .as[(String, String, String, String)].collect().toSeq
    assert(rep.map(r => (r._1, r._3)) ==
      Seq(("ut_mart_doubles", "pass"), ("ut_mart_wrong", "fail")), s"$rep")
    val failDetail = rep.find(_._1 == "ut_mart_wrong").get._4
    assert(failDetail.contains("999") && failDetail.contains("200"),
      failDetail)
    // a missing fixture is an error row naming the input
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_missing
        |    model: mart
        |    given:
        |      - input: ref('base')
        |        rows:
        |          - {id: 1, name: x}
        |    expect:
        |      rows:
        |        - {id: 1}
        |""".stripMargin.getBytes("UTF-8"))
    val rep2 = DbtProject.unitTest(spark, dir.toString)
      .as[(String, String, String, String)].collect().toSeq
    assert(rep2.head._3 == "error" && rep2.head._4.contains("txns"),
      s"$rep2")
    // unknown keys are loud at load; so is an unknown target model
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_bad
        |    model: mart
        |    overrides:
        |      macros: {}
        |    expect:
        |      rows: []
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e.getMessage.contains("overrides"), e.getMessage)
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_ghost
        |    model: ghost
        |    expect:
        |      rows: []
        |""".stripMargin.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e2.getMessage.contains("ghost"), e2.getMessage)
  }

  test("dbt model versions: ref('m') follows latest_version, ref('m', v=N) pins (round 17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-versions")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "very"
        |models:
        |  very:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/fct_v1.sql"),
      "select 1 as id, 10 as v\n".getBytes("UTF-8"))
    // v2 lives in a custom file; the relation is still fct_v2
    Files.write(dir.resolve("models/fct_next.sql"),
      "select 1 as id, 20 as v\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/latest_user.sql"),
      "select v from {{ ref('fct') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/pinned_user.sql"),
      "select v from {{ ref('fct', v=1) }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: fct
        |    latest_version: 2
        |    versions:
        |      - v: 1
        |      - v: 2
        |        defined_in: fct_next
        |""".stripMargin.getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-versions-wh").toString
    val out = DbtProject.run(spark, dir.toString, Map.empty, wh)
    assert(out.keySet ==
      Set("fct_v1", "fct_v2", "latest_user", "pinned_user"), out.keySet)
    assert(out("latest_user").as[Int].collect().toSeq == Seq(20))
    assert(out("pinned_user").as[Int].collect().toSeq == Seq(10))
    // flipping latest re-points the unversioned ref (and re-hashes
    // the dependent, so state:modified would rebuild it)
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: fct
        |    latest_version: 1
        |    versions:
        |      - v: 1
        |      - v: 2
        |        defined_in: fct_next
        |""".stripMargin.getBytes("UTF-8"))
    val out2 = DbtProject.run(spark, dir.toString, Map.empty, wh)
    assert(out2("latest_user").as[Int].collect().toSeq == Seq(10))
    // a pin to an undeclared version is loud
    Files.write(dir.resolve("models/pinned_user.sql"),
      "select v from {{ ref('fct', v=9) }}\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e.getMessage.contains("v=9"), e.getMessage)
    // a versioned ref to an unversioned model is loud
    Files.write(dir.resolve("models/pinned_user.sql"),
      "select v from {{ ref('latest_user', v=1) }}\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e2.getMessage.contains("declares no versions"), e2.getMessage)
  }

  test("dbt build: a failing unit test gates its model BEFORE materialization (round 17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-unitgate")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "ugy"
        |models:
        |  ugy:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/doubler.sql"),
      "select 1 as id, 2 + 2 as v\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/leaf.sql"),
      "select v from {{ ref('doubler') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/solo.sql"),
      "select 9 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_wrong_math
        |    model: doubler
        |    expect:
        |      rows:
        |        - {id: 1, v: 5}
        |""".stripMargin.getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-unitgate-wh").toString
    val (frames, report) = DbtProject.build(spark, dir.toString,
      Map.empty, wh)
    val rows = report.as[(String, String, String, String)].collect()
      .map(r => (r._1, r._3)).toMap
    // the unit test failed; its model never built; the dependent
    // skipped; the independent branch ran
    assert(rows("doubler.ut_wrong_math") == "fail", s"$rows")
    assert(rows("doubler") == "fail" &&
      rows("leaf") == "skipped" && rows("solo") == "success", s"$rows")
    assert(!frames.contains("doubler") &&
      !new java.io.File(s"$wh/doubler").exists(),
      "a unit-test-failed model must not materialize")
    // fix the expectation: everything builds and the unit row passes
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_right_math
        |    model: doubler
        |    expect:
        |      rows:
        |        - {id: 1, v: 4}
        |""".stripMargin.getBytes("UTF-8"))
    val (frames2, report2) = DbtProject.build(spark, dir.toString,
      Map.empty, wh)
    val rows2 = report2.as[(String, String, String, String)].collect()
      .map(r => (r._1, r._3)).toMap
    assert(rows2("doubler.ut_right_math") == "pass" &&
      rows2("doubler") == "success" && rows2("leaf") == "success",
      s"$rows2")
    assert(frames2("leaf").as[Int].collect().toSeq == Seq(4))
  }

  test("dbt build: unit tests scope to the build's selection (round 18)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-unitscope")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "usy"
        |models:
        |  usy:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/alpha.sql"),
      "select 1 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/beta.sql"),
      "select 2 as id\n".getBytes("UTF-8"))
    // beta carries a BROKEN unit test; a build narrowed to alpha
    // must neither run it nor report it (dbt scopes unit tests to
    // the selection)
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_beta_broken
        |    model: beta
        |    expect:
        |      rows:
        |        - {id: 999}
        |""".stripMargin.getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-unitscope-wh").toString
    val (_, narrow) = DbtProject.build(spark, dir.toString, Map.empty,
      wh, select = Some("alpha"))
    val narrowRows = narrow.as[(String, String, String, String)]
      .collect().map(r => (r._1, r._3)).toMap
    assert(narrowRows.get("alpha").contains("success") &&
      !narrowRows.contains("beta.ut_beta_broken"), s"$narrowRows")
    // the unscoped build still runs (and fails) it
    val (_, full) = DbtProject.build(spark, dir.toString, Map.empty,
      Files.createTempDirectory("graft-unitscope-wh2").toString)
    val fullRows = full.as[(String, String, String, String)]
      .collect().map(r => (r._1, r._3)).toMap
    assert(fullRows.get("beta.ut_beta_broken").contains("fail") &&
      fullRows.get("beta").contains("fail"), s"$fullRows")
  }

  test("dbt unit tests: fixture views restore clobbered session temp views; leading-zero ids stay strings (round 18)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-unitview")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"uvy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: accounts
        |""".stripMargin.getBytes("UTF-8"))
    // the model compares the id against a STRING literal with a
    // leading zero: long-typed fixture inference would strip it and
    // silently return an empty frame
    Files.write(dir.resolve("models/keyed.sql"),
      ("select id from {{ source('raw', 'accounts') }} " +
        "where id = '007'\n").getBytes("UTF-8"))
    Files.write(dir.resolve("models/unit.yml"),
      """unit_tests:
        |  - name: ut_leading_zero
        |    model: keyed
        |    given:
        |      - input: accounts
        |        rows:
        |          - {id: "007"}
        |          - {id: "042"}
        |    expect:
        |      rows:
        |        - {id: "007"}
        |""".stripMargin.getBytes("UTF-8"))
    // a PRE-EXISTING session temp view colliding with the fixture
    // relation name must survive the unit-test run intact
    Seq(("prior", 1)).toDF("tag", "n").createOrReplaceTempView("accounts")
    val report = DbtProject.unitTest(spark, dir.toString)
      .as[(String, String, String, String)].collect()
    assert(report.length == 1 && report.head._3 == "pass",
      report.mkString("; "))
    assert(spark.table("accounts").columns.toSeq == Seq("tag", "n"),
      "fixture run clobbered the caller's temp view")
    spark.catalog.dropTempView("accounts")
  }

  test("dbt groups + access: cross-group private ref rejected at load; same-group resolves; ls carries both (round 18)") {
    import spark.implicits._
    def proj(martGroup: String): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft-groups")
      Files.createDirectories(dir.resolve("models"))
      Files.write(dir.resolve("dbt_project.yml"),
        "name: \"ggy\"\n".getBytes("UTF-8"))
      Files.write(dir.resolve("models/fin_core.sql"),
        "select 10 as amount\n".getBytes("UTF-8"))
      Files.write(dir.resolve("models/mart.sql"),
        "select amount from {{ ref('fin_core') }}\n".getBytes("UTF-8"))
      Files.write(dir.resolve("models/schema.yml"),
        s"""version: 2
           |groups:
           |  - name: finance
           |    owner:
           |      name: Fin Team
           |  - name: growth
           |    owner:
           |      email: growth@example.com
           |models:
           |  - name: fin_core
           |    group: finance
           |    access: private
           |  - name: mart
           |    group: $martGroup
           |""".stripMargin.getBytes("UTF-8"))
      dir
    }
    // cross-group ref of a private model: loud at LOAD, naming the group
    val e = intercept[IllegalArgumentException] {
      DbtProject.load(proj("growth").toString) }
    assert(e.getMessage.contains("private") &&
      e.getMessage.contains("finance") &&
      e.getMessage.contains("growth"), e.getMessage)
    // same group: resolves and runs
    val ok = proj("finance")
    val out = DbtProject.run(spark, ok.toString, Map.empty,
      Files.createTempDirectory("graft-groups-wh").toString)
    assert(out("mart").as[Int].collect().toSeq == Seq(10))
    // ls carries group + access
    val lsRows = DbtProject.list(spark, ok.toString)
      .select("resource", "group", "access")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(lsRows("fin_core") == (("finance", "private")), s"$lsRows")
    assert(lsRows("mart") == (("finance", "protected")), s"$lsRows")
    // a private model with no group is a config bug, loud at load
    val ng = proj("finance")
    Files.write(ng.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: fin_core
        |    access: private
        |""".stripMargin.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      DbtProject.load(ng.toString) }
    assert(e2.getMessage.contains("requires a group"), e2.getMessage)
    // an undeclared group is loud too
    val ug = proj("finance")
    Files.write(ug.resolve("models/schema.yml"),
      """version: 2
        |models:
        |  - name: fin_core
        |    group: ghosts
        |""".stripMargin.getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      DbtProject.load(ug.toString) }
    assert(e3.getMessage.contains("ghosts"), e3.getMessage)
  }

  test("dbt groups + access bind every version of a versioned model (round 18)") {
    val dir = Files.createTempDirectory("graft-groupver")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"gvy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/core_v1.sql"),
      "select 1 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/core_v2.sql"),
      "select 2 as id\n".getBytes("UTF-8"))
    // outsider refs the OLD version explicitly — access on the base
    // name must still protect it
    Files.write(dir.resolve("models/outsider.sql"),
      "select id from {{ ref('core', v=1) }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |groups:
        |  - name: core_team
        |    owner:
        |      name: Core
        |models:
        |  - name: core
        |    group: core_team
        |    access: private
        |    latest_version: 2
        |    versions:
        |      - v: 1
        |      - v: 2
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e.getMessage.contains("core_v1") &&
      e.getMessage.contains("core_team"), e.getMessage)
    // same-group outsider resolves
    Files.write(dir.resolve("models/schema.yml"),
      """version: 2
        |groups:
        |  - name: core_team
        |    owner:
        |      name: Core
        |models:
        |  - name: core
        |    group: core_team
        |    access: private
        |    latest_version: 2
        |    versions:
        |      - v: 1
        |      - v: 2
        |  - name: outsider
        |    group: core_team
        |""".stripMargin.getBytes("UTF-8"))
    val p = DbtProject.load(dir.toString)
    assert(p.modelGov("core_v1").access == "private" &&
      p.modelGov("core_v2").access == "private")
  }

  test("dbt analyses + show --inline: compile-only SQL renders verbatim-executable; undeclared sources are loud (round 18)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-analysis")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("analyses"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "any"
        |models:
        |  any:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select 1 as id, 10 as v union all select 2, 20\n".getBytes("UTF-8"))
    // the analysis uses ref() + QUALIFY — the full shim applies, and
    // the compiled text must execute verbatim on Spark
    Files.write(dir.resolve("analyses/top_v.sql"),
      ("select id, v from {{ ref('base') }} " +
        "qualify row_number() over (order by v desc) = 1\n")
        .getBytes("UTF-8"))
    val wh = Files.createTempDirectory("graft-analysis-wh").toString
    DbtProject.run(spark, dir.toString, Map.empty, wh)
    val compiled = DbtProject.compile(spark, dir.toString, Map.empty, wh)
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(compiled.contains("top_v"), compiled.keys.toSeq.sorted.toString)
    val (path, sql) = compiled("top_v")
    assert(path.contains("compiled/analysis/top_v.sql"))
    assert(new java.io.File(new java.net.URI(path).getPath).exists ||
      new java.io.File(path.stripPrefix("file:")).exists, path)
    // verbatim-executable against the materialized warehouse
    assert(spark.sql(sql).as[(Int, Int)].collect().toSeq == Seq((2, 20)))
    // analyses never materialize and are not ref-able targets
    assert(!new java.io.File(s"$wh/top_v").exists,
      "an analysis must never materialize")
    // ls lists it as its own kind
    val lsKinds = DbtProject.list(spark, dir.toString)
      .select("resource", "kind").as[(String, String)].collect().toMap
    assert(lsKinds.get("top_v").contains("analysis"), s"$lsKinds")
    // an analysis naming an undeclared source is loud at load
    Files.write(dir.resolve("analyses/bad_src.sql"),
      "select * from {{ source('raw', 'ghost_tbl') }}\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DbtProject.load(dir.toString) }
    assert(e.getMessage.contains("ghost_tbl"), e.getMessage)
    Files.delete(dir.resolve("analyses/bad_src.sql"))
    // dbt show --inline: previews against the warehouse, limit applies
    val shown = DbtProject.showInline(spark, dir.toString, Map.empty, wh,
      "select id, v * 2 as v2 from {{ ref('base') }} order by id",
      limit = 1)
    assert(shown.as[(Int, Int)].collect().toSeq == Seq((1, 20)))
    // dbt show --select: previews one model's compiled result
    val shownModel = DbtProject.show(spark, dir.toString, Map.empty, wh,
      "base", limit = 10)
    assert(shownModel.as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 20)))
    val eGhost = intercept[IllegalArgumentException] {
      DbtProject.show(spark, dir.toString, Map.empty, wh, "ghost") }
    assert(eGhost.getMessage.contains("ghost"), eGhost.getMessage)
  }

  test("dbt ls: seeds and snapshots ride the static selection (round 17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lsseed")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("seeds"))
    Files.createDirectories(dir.resolve("snapshots"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"lsx\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("seeds/country_codes.csv"),
      "id,code\n1,US\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select 1 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/leaf.sql"),
      "select id from {{ ref('country_codes') }}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("snapshots/snap_base.sql"),
      """{% snapshot snap_base %}
        |{{ config(unique_key='id', strategy='check', check_cols='all') }}
        |select * from {{ ref('base') }}
        |{% endsnapshot %}
        |""".stripMargin.getBytes("UTF-8"))
    def names(sel: String) =
      DbtProject.list(spark, dir.toString, select = Some(sel))
        .select("resource").as[String].collect().toSet
    // seeds are legal fqn targets and participate in ref() edges:
    // downstream closure from a seed reaches its consuming model
    assert(names("country_codes+") == Set("country_codes", "leaf"))
    // snapshots hang off the graph through their own ref() edges
    assert(names("base+") == Set("base", "snap_base"))
    assert(names("snap_base") == Set("snap_base"))
    // an unselected ls still lists every resource kind
    val all = DbtProject.list(spark, dir.toString)
      .select("resource", "kind").as[(String, String)].collect().toSet
    assert(all == Set(("base", "model"), ("leaf", "model"),
      ("country_codes", "seed"), ("snap_base", "snapshot")), s"$all")
  }

  test("dbt clone: selected state tables copy in; missing relations reported (round 16)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cloneproj")
    Files.createDirectories(dir.resolve("models"))
    Files.write(dir.resolve("dbt_project.yml"),
      """name: "clony"
        |models:
        |  clony:
        |    +materialized: table
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(dir.resolve("models/base.sql"),
      "select 7 as id\n".getBytes("UTF-8"))
    Files.write(dir.resolve("models/leaf.sql"),
      "select id from {{ ref('base') }}\n".getBytes("UTF-8"))
    val prodWh = Files.createTempDirectory("graft-clone-prod").toString
    DbtProject.run(spark, dir.toString, Map.empty, prodWh)
    // clone base+ (the static graph closure) into a fresh dev wh
    val devWh = Files.createTempDirectory("graft-clone-dev").toString
    val rep = DbtProject.clone(spark, dir.toString, prodWh, devWh,
      select = Some("base+")).as[(String, String)].collect().toSeq
    assert(rep == Seq(("base", "cloned"), ("leaf", "cloned")), s"$rep")
    assert(spark.read.parquet(s"$devWh/base").as[Int].collect()
      .toSeq == Seq(7))
    // the cloned state serves a deferred dev run directly
    val out = DbtProject.run(spark, dir.toString, Map.empty,
      Files.createTempDirectory("graft-clone-dev2").toString,
      select = Some("leaf"), defer = Some(devWh))
    assert(out("leaf").as[Int].collect().toSeq == Seq(7))
    // a relation the state never materialized reports, not crashes
    Files.write(dir.resolve("models/ghost.sql"),
      "select 1 as x\n".getBytes("UTF-8"))
    val rep2 = DbtProject.clone(spark, dir.toString, prodWh, devWh)
      .as[(String, String)].collect().toMap
    assert(rep2("ghost") == "missing in state" &&
      rep2("base") == "cloned", s"$rep2")
  }

  test("run-operation: a project macro renders and executes; unknown macro loud (round 15)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-opproj")
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("macros"))
    Files.write(dir.resolve("dbt_project.yml"),
      "name: \"oppy\"\n".getBytes("UTF-8"))
    Files.write(dir.resolve("macros/ops.sql"),
      """{% macro row_probe(tbl, min_rows) %}
        |select '{{ tbl }}' as tbl, count(*) >= {{ min_rows }} as ok
        |from {{ tbl }}
        |{% endmacro %}
        |""".stripMargin.getBytes("UTF-8"))
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("op_probe_src")
    val out = DbtProject.runOperation(spark, dir.toString, "row_probe",
      Map("tbl" -> "op_probe_src", "min_rows" -> "2"))
      .as[(String, Boolean)].collect().toSeq
    assert(out == Seq(("op_probe_src", true)))
    val e = intercept[IllegalArgumentException](DbtProject.runOperation(
      spark, dir.toString, "nope"))
    assert(e.getMessage.contains("unknown macro"))
    val e2 = intercept[IllegalArgumentException](DbtProject.runOperation(
      spark, dir.toString, "row_probe", Map("tbl" -> "x'y")))
    assert(e2.getMessage.contains("quote"))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }
}
