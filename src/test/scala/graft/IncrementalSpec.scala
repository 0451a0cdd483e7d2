package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Incremental

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
  def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString + "/t"

  test("incremental merge: upsert by key across three batches") {
    val path = tmp("graft-incr")
    val b1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n")
    val b2 = Seq((2L, "b2", 21), (3L, "c", 30)).toDF("id", "v", "n")
    val b3 = Seq((1L, "a3", 12)).toDF("id", "v", "n")
    Incremental.merge(spark, b1, path, Seq("id"))
    Incremental.merge(spark, b2, path, Seq("id"))
    val r = Incremental.merge(spark, b3, path, Seq("id"))
      .orderBy("id").as[(Long, String, Int)].collect().toSeq
    assert(r === Seq((1L, "a3", 12), (2L, "b2", 21), (3L, "c", 30)))
  }

  test("snapshot SCD2: change tracking with valid_from/valid_to") {
    val path = tmp("graft-snap")
    val day1 = Seq((1L, "alice", "NY"), (2L, "bob", "LA")).toDF("id", "name", "city")
    val day2 = Seq((1L, "alice", "SF"), (2L, "bob", "LA"), (3L, "cara", "CHI"))
      .toDF("id", "name", "city")
    Incremental.snapshot(spark, day1, path, Seq("id"), ts("2026-01-01"))
    val snap = Incremental.snapshot(spark, day2, path, Seq("id"), ts("2026-01-02"))

    // id=1 moved: closed NY version + open SF version
    val v1 = snap.filter($"id" === 1).orderBy("valid_from").collect()
    assert(v1.length === 2)
    assert(v1(0).getAs[String]("city") === "NY" &&
      !v1(0).getAs[Boolean]("is_current") &&
      v1(0).getAs[java.sql.Timestamp]("valid_to") === ts("2026-01-02"))
    assert(v1(1).getAs[String]("city") === "SF" &&
      v1(1).getAs[Boolean]("is_current") &&
      v1(1).isNullAt(v1(1).fieldIndex("valid_to")))
    // id=2 unchanged: single open version from day 1
    val v2 = snap.filter($"id" === 2).collect()
    assert(v2.length === 1 && v2.head.getAs[Boolean]("is_current") &&
      v2.head.getAs[java.sql.Timestamp]("valid_from") === ts("2026-01-01"))
    // id=3 new: one open version from day 2
    val v3 = snap.filter($"id" === 3).collect()
    assert(v3.length === 1 && v3.head.getAs[Boolean]("is_current"))
    // invariant: exactly one current row per present key
    assert(snap.filter($"is_current").groupBy("id").count()
      .filter($"count" > 1).isEmpty)
  }

  test("snapshot SCD2: deleted keys get closed") {
    val path = tmp("graft-snap-del")
    val day1 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val day2 = Seq((1L, "x")).toDF("id", "v") // key 2 disappears
    Incremental.snapshot(spark, day1, path, Seq("id"), ts("2026-02-01"))
    val snap = Incremental.snapshot(spark, day2, path, Seq("id"), ts("2026-02-02"))
    val v2 = snap.filter($"id" === 2).collect()
    assert(v2.length === 1 && !v2.head.getAs[Boolean]("is_current") &&
      v2.head.getAs[java.sql.Timestamp]("valid_to") === ts("2026-02-02"))
  }

  test("insertOverwrite: batch partitions replaced wholesale, others untouched") {
    val path = tmp("graft-iow")
    val b1 = Seq((1L, "m1", 10), (2L, "m1", 20), (3L, "m2", 30), (4L, "m3", 40))
      .toDF("id", "pt", "n")
    Incremental.insertOverwrite(spark, b1, path, "pt")
    // re-run m1 THINNER (one row) and m2 changed; m3 untouched
    val b2 = Seq((9L, "m1", 99), (3L, "m2", 31)).toDF("id", "pt", "n")
    val r = Incremental.insertOverwrite(spark, b2, path, "pt")
      .select("id", "pt", "n").as[(Long, String, Int)].collect().toSet
    assert(r === Set((9L, "m1", 99), (3L, "m2", 31), (4L, "m3", 40)),
      s"got $r")
  }

  test("changeFeed: minimal I/U/D between versions; applying it replays old -> new") {
    val oldV = Seq((1L, "a", 10), (2L, "b", 20), (3L, null: String, 30))
      .toDF("id", "v", "n")
    val newV = Seq((1L, "a", 10), (2L, "b2", 20), (4L, "d", 40))
      .toDF("id", "v", "n")
    val feed = Incremental.changeFeed(oldV, newV, Seq("id"))
      .as[(String, Long, String, Int)].collect().toSet
    assert(feed === Set(("U", 2L, "b2", 20), ("D", 3L, null, 30),
      ("I", 4L, "d", 40)), s"got $feed")
    // identical versions -> empty feed (null-safe hash: null == null)
    assert(Incremental.changeFeed(oldV, oldV, Seq("id")).isEmpty)
    // round trip: applyChanges(feed) onto old == new
    val path = tmp("graft-feed")
    Incremental.merge(spark, oldV, path, Seq("id"))
    val replayed = Incremental.applyChanges(spark,
      Incremental.changeFeed(oldV, newV, Seq("id")).withColumn("seq", lit(1)),
      path, Seq("id"))
      .as[(Long, String, Int)].collect().toSet
    assert(replayed === newV.as[(Long, String, Int)].collect().toSet)
  }

  test("scd2AsOf: mid-history timestamp returns the round-1 table") {
    val path = tmp("graft-asof")
    val day1 = Seq((1L, "alice", "NY"), (2L, "bob", "LA")).toDF("id", "name", "city")
    val day2 = Seq((1L, "alice", "SF"), (3L, "cara", "CHI")).toDF("id", "name", "city")
    Incremental.snapshot(spark, day1, path, Seq("id"), ts("2024-01-01"))
    val snap = Incremental.snapshot(spark, day2, path, Seq("id"), ts("2024-02-01"))
    val asOfMid = Incremental.scd2AsOf(snap, ts("2024-01-15"))
      .as[(Long, String, String)].collect().toSet
    assert(asOfMid === Set((1L, "alice", "NY"), (2L, "bob", "LA")))
    val asOfEnd = Incremental.scd2AsOf(snap, ts("2024-02-01"))
      .as[(Long, String, String)].collect().toSet
    assert(asOfEnd === Set((1L, "alice", "SF"), (3L, "cara", "CHI")))
  }

  test("applyChanges: I/U/D fold with in-batch ordering and delete-then-reinsert") {
    val path = tmp("graft-cdc")
    // batch 1: inserts (one key arrives twice out of order — seq wins)
    val b1 = Seq(
      (1L, "a1", "I", 10L), (2L, "b1", "I", 11L),
      (2L, "b2", "U", 13L), (3L, "c1", "I", 12L))
      .toDF("id", "v", "op", "seq")
    val r1 = Incremental.applyChanges(spark, b1, path, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(r1 == Map(1L -> "a1", 2L -> "b2", 3L -> "c1"), s"got $r1")
    // batch 2: delete 1, update 3; delete beats a stale earlier update
    val b2 = Seq(
      (1L, "a2", "U", 20L), (1L, null.asInstanceOf[String], "D", 21L),
      (3L, "c2", "U", 22L))
      .toDF("id", "v", "op", "seq")
    val r2 = Incremental.applyChanges(spark, b2, path, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(r2 == Map(2L -> "b2", 3L -> "c2"), s"got $r2")
    // batch 3: re-insert a previously deleted key
    val b3 = Seq((1L, "a3", "I", 30L)).toDF("id", "v", "op", "seq")
    val r3 = Incremental.applyChanges(spark, b3, path, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(r3 == Map(1L -> "a3", 2L -> "b2", 3L -> "c2"), s"got $r3")
  }

  test("compactGuarded: drops only past-horizon tombstones, keeps the seq guard") {
    val path = tmp("graft-cdc-compact")
    // fold 1: three keys live; fold 2: delete 1 at seq 4, delete 2 at
    // seq 9, update 3 to v3b at seq 6
    Incremental.applyChangesGuarded(spark,
      Seq((1L, "v1", "I", 1L), (2L, "v2", "I", 1L), (3L, "v3", "I", 1L))
        .toDF("id", "v", "op", "seq"), path, Seq("id"))
    Incremental.applyChangesGuarded(spark,
      Seq((1L, "v1", "D", 4L), (2L, "v2", "D", 9L), (3L, "v3b", "U", 6L))
        .toDF("id", "v", "op", "seq"), path, Seq("id"))
    val live0 = Incremental.readCdcTable(spark, path)
      .select("id", "v").as[(Long, String)].collect().toSet
    val compacted = Incremental.compactGuarded(spark, path, horizonSeq = 5L)
    // live view is untouched by compaction
    assert(Incremental.readCdcTable(spark, path)
      .select("id", "v").as[(Long, String)].collect().toSet === live0)
    // key 1's tombstone (seq 4 ≤ 5) is gone; key 2's (seq 9 > 5) kept;
    // key 3 keeps its forward-only __seq
    val raw = compacted.select(col("id"), col("__seq").cast("long"),
      col("__deleted")).as[(Long, Long, Boolean)].collect().toSet
    assert(raw === Set((2L, 9L, true), (3L, 6L, false)), s"$raw")
    // the retained tombstone still blocks an in-horizon replay…
    Incremental.applyChangesGuarded(spark,
      Seq((2L, "back", "I", 7L)).toDF("id", "v", "op", "seq"), path, Seq("id"))
    assert(!Incremental.readCdcTable(spark, path)
      .select("id").as[Long].collect().contains(2L))
    // …and the live row's persisted seq still rejects a stale replay
    Incremental.applyChangesGuarded(spark,
      Seq((3L, "stale", "U", 2L)).toDF("id", "v", "op", "seq"), path, Seq("id"))
    assert(Incremental.readCdcTable(spark, path).filter(col("id") === 3)
      .select("v").as[String].collect().toSeq === Seq("v3b"))
  }

  test("aggRefresh: batch folds ≡ one-shot recompute, in any batch order") {
    val rows = (1L to 300L).map(i =>
      (i, s"k${i % 3}", (i % 17).toDouble + 0.25, i % 40)) // dup users per key
    val full = rows.toDF("event_id", "key", "value", "uid")
    def run(path: String, splits: Seq[Seq[Long]]): Seq[(String, Long, Long, Long, Long, Long)] = {
      splits.foldLeft(null: org.apache.spark.sql.DataFrame) { (_, ids) =>
        Incremental.aggRefresh(spark, full.filter(col("event_id").isin(ids: _*)),
          path, "key", round(col("value") * 100, 0), col("uid"))
      }.orderBy("key")
        .select("key", "cnt", "sum_micro", "min_micro", "max_micro", "hll_est")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    }
    val ids = (1L to 300L)
    val foldedPath = tmp("graft-aggref-b")
    val oneShot = run(tmp("graft-aggref-a"), Seq(ids))
    val threeAsc = run(foldedPath,
      Seq(ids.filter(_ % 3 == 0), ids.filter(_ % 3 == 1), ids.filter(_ % 3 == 2)))
    val threeDesc = run(tmp("graft-aggref-c"),
      Seq(ids.filter(_ % 3 == 2), ids.filter(_ % 3 == 1), ids.filter(_ % 3 == 0)))
    assert(oneShot == threeAsc, s"fold ≠ recompute:\n$oneShot\n$threeAsc")
    assert(oneShot == threeDesc, "fold must be batch-order-independent")
    // scalar state is exact
    val k0 = oneShot.find(_._1 == "k0").get
    val expect = rows.filter(_._2 == "k0")
    assert(k0._2 == expect.size)
    assert(k0._3 == expect.map(r => math.round(r._3 * 100)).sum)
    // on-disk state stays bounded: ≤ keys×m register rows, |keys| scalar rows
    assert(spark.read.parquet(foldedPath + "/scalars").count() == 3)
    assert(spark.read.parquet(foldedPath + "/regs").count() <= 3 * 256)
  }

  /** (all jobs, jobs outside any SQL execution) submitted by `body`.
    * Schema inference runs while a DataFrame is being built, outside an
    * execution; the stages of an action or a write run inside one. */
  private def jobsOf(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val all = new java.util.concurrent.atomic.AtomicInteger
    val bare = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (js.properties == null ||
            js.properties.getProperty("spark.sql.execution.id") == null)
          bare.incrementAndGet()
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    (all.get, bare.get)
  }

  test("guarded CDC fold: readCdcTable submits no job; applyChangesGuarded one fewer than with an inferred base schema") {
    val b1 = (1L to 20L).map(k => (k, s"v$k", "I", 1L)).toDF("k", "v", "op", "seq")
    val b2 = Seq((3L, "u", "U", 2L), (4L, null, "D", 2L), (30L, "n", "I", 2L))
      .toDF("k", "v", "op", "seq")
    val fast = tmp("graft-cdc-jobs-a")
    val legacy = tmp("graft-cdc-jobs-b")
    for (p <- Seq(fast, legacy)) Incremental.applyChangesGuarded(spark, b1, p, Seq("k"))
    // mergeSchema makes IO.readParquet defer to Spark's inference: the
    // fold's reads then cost what plain spark.read.parquet costs
    def inferred[T](body: => T): T = {
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try body finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
    assert(jobsOf(Incremental.readCdcTable(spark, fast)) === (0, 0))
    assert(inferred(jobsOf(Incremental.readCdcTable(spark, legacy))) === (1, 1))
    val (applyJobs, applyBare) =
      jobsOf(Incremental.applyChangesGuarded(spark, b2, fast, Seq("k")))
    val (legacyJobs, legacyBare) =
      inferred(jobsOf(Incremental.applyChangesGuarded(spark, b2, legacy, Seq("k"))))
    assert(applyBare === 0, "every job must belong to the fold's write")
    // the swap-write's re-read takes the schema it wrote in both modes,
    // so only the base read infers
    assert(legacyBare === 1 && applyJobs === legacyJobs - 1,
      s"fold: $applyJobs jobs against $legacyJobs with an inferred base schema")
    def live(p: String) = Incremental.readCdcTable(spark, p).orderBy("k").collect().toSeq
    assert(live(fast) === live(legacy))
    assert(live(fast).map(_.getLong(0)) === (1L to 20L).filterNot(_ == 4L) :+ 30L)
  }

  /** Runs `body` with every `file:` path resolved, uncached, to the
    * file system that refuses to rename a staged copy. */
  private def refusingRenames[T](body: => T): T = {
    val confs = Seq("fs.file.impl" -> classOf[RenameRefusingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("swap-write: a refused rename fails loudly, naming both paths; the new table survives staged") {
    val path = tmp("graft-swap-refused")
    Incremental.applyChangesGuarded(spark,
      Seq((1L, "a", "I", 1L)).toDF("k", "v", "op", "seq"), path, Seq("k"))
    val e = intercept[java.io.IOException](refusingRenames(Incremental.applyChangesGuarded(
      spark, Seq((2L, "b", "I", 2L)).toDF("k", "v", "op", "seq"), path, Seq("k"))))
    assert(e.getMessage.contains(s"${path}__staging") && e.getMessage.contains(s"to $path"),
      e.getMessage)
    assert(spark.read.parquet(path + "__staging").select("k").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L))
  }

  test("swap recovery: a missing table beside a complete staged copy fails loudly, losing nothing") {
    val path = tmp("graft-swap-recovery")
    def batch(k: Long, seq: Long) = Seq((k, s"v$k", "I", seq)).toDF("k", "v", "op", "seq")
    Incremental.applyChangesGuarded(spark, batch(1L, 1L), path, Seq("k"))
    Incremental.applyChangesGuarded(spark, batch(2L, 2L), path, Seq("k"))
    // a swap that stopped after its delete: the live table is gone and
    // the complete new one is at __staging
    intercept[java.io.IOException](refusingRenames(
      Incremental.applyChangesGuarded(spark, batch(3L, 3L), path, Seq("k"))))
    assert(!new java.io.File(path).exists())
    def staged(s: String) = spark.read.parquet(path + s).select("k").as[Long].collect().sorted.toSeq
    // the next fold used to bootstrap a new table from its batch alone
    val e = intercept[java.io.IOException](
      Incremental.applyChangesGuarded(spark, batch(4L, 4L), path, Seq("k")))
    assert(e.getMessage.contains(s"table $path is missing") &&
      e.getMessage.contains(s"${path}__staging"), e.getMessage)
    assert(!new java.io.File(path).exists())
    assert(staged("__staging") === Seq(1L, 2L, 3L))
    // an earlier release's __tmp copy is guarded the same way, in every fold
    assert(new java.io.File(path + "__staging").renameTo(new java.io.File(path + "__tmp")))
    val e2 = intercept[java.io.IOException](Incremental.applyChanges(spark,
      batch(4L, 4L), path, Seq("k")))
    assert(e2.getMessage.contains(s"${path}__tmp"), e2.getMessage)
    intercept[java.io.IOException](Incremental.merge(spark,
      Seq((4L, "v4")).toDF("k", "v"), path, Seq("k")))
    assert(staged("__tmp") === Seq(1L, 2L, 3L))
    // an incomplete staged copy (no _SUCCESS) is no table: a first run
    assert(new java.io.File(path + "__tmp/_SUCCESS").delete())
    Incremental.applyChangesGuarded(spark, batch(5L, 5L), path, Seq("k"))
    assert(Incremental.readCdcTable(spark, path).select("k").as[Long].collect().toSeq ===
      Seq(5L))
  }

  test("append-strategy model: a run after a swap stopped between delete and rename fails loudly, the staged copy intact") {
    import graft.model.{Materialization, Model, Runner}
    val wh = java.nio.file.Files.createTempDirectory("graft-append-recovery").toString
    val path = s"$wh/events"
    def model(batch: org.apache.spark.sql.DataFrame) =
      Model("events", Seq(), Materialization.Incremental())(_ => batch)
    def run(batch: org.apache.spark.sql.DataFrame) =
      new Runner(spark, Map.empty, wh).run(Seq(model(batch)))("events")
    run(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    run(Seq((3L, "c")).toDF("k", "v"))
    // a drifted batch folds through a swap; this one stops after its delete
    intercept[java.io.IOException](refusingRenames(run(Seq((4L, "d", 1)).toDF("k", "v", "w"))))
    assert(!new java.io.File(path).exists())
    def staged = spark.read.parquet(path + "__staging").select("k").as[Long].collect().sorted.toSeq
    assert(staged === Seq(1L, 2L, 3L, 4L))
    // the next run used to bootstrap a new table from its batch alone
    val e = intercept[java.io.IOException](run(Seq((5L, "e")).toDF("k", "v")))
    assert(e.getMessage.contains(s"table $path is missing") &&
      e.getMessage.contains(s"${path}__staging"), e.getMessage)
    assert(!new java.io.File(path).exists())
    assert(staged === Seq(1L, 2L, 3L, 4L))
  }

  test("table model: a rebuild whose transform fails at run time leaves the previous table readable") {
    import graft.model.{Materialization, Model, Runner}
    val wh = java.nio.file.Files.createTempDirectory("graft-table-rebuild").toString
    // a range, not a local relation the optimizer would evaluate itself
    val src = Map("t" -> spark.range(1, 3).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")))
    def build(transform: Map[String, org.apache.spark.sql.DataFrame] =>
        org.apache.spark.sql.DataFrame) =
      new Runner(spark, src, wh).run(Seq(Model("mart", Seq("t"), Materialization.Table)(transform)))
    build(env => env("t"))
    def table = spark.read.parquet(s"$wh/mart").as[(Long, String)].collect().sorted.toSeq
    assert(table === Seq((1L, "v1"), (2L, "v2")))
    val e = intercept[Exception](build(env => env("t").select(col("k"),
      when(col("k") > 1, raise_error(lit("bad row"))).otherwise(col("v")).as("v"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("bad row")), e)
    assert(table === Seq((1L, "v1"), (2L, "v2")))
  }

  test("guarded CDC fold: schema drift either way fails loudly and leaves the table as it was") {
    val path = tmp("graft-cdc-drift")
    Incremental.applyChangesGuarded(spark,
      Seq((1L, "a", 10, "I", 1L)).toDF("k", "v", "w", "op", "seq"), path, Seq("k"))
    def live = Incremental.readCdcTable(spark, path).collect().toSeq
    val before = live
    // the batch lacks a base column: it would be dropped on the swap
    val lacks = intercept[IllegalStateException](Incremental.applyChangesGuarded(spark,
      Seq((2L, "b", "I", 2L)).toDF("k", "v", "op", "seq"), path, Seq("k")))
    assert(lacks.getMessage.contains("drops [w]"), lacks.getMessage)
    // the batch brings a column the base lacks
    val adds = intercept[IllegalStateException](Incremental.applyChangesGuarded(spark,
      Seq((2L, "b", 20, 2.5, "I", 2L)).toDF("k", "v", "w", "x", "op", "seq"), path, Seq("k")))
    assert(adds.getMessage.contains("adds [x]"), adds.getMessage)
    assert(live === before)
    assert(!new java.io.File(path + "__staging").exists())
    // the same columns in another order still fold
    Incremental.applyChangesGuarded(spark,
      Seq((2L, 2L, "I", 20, "b")).toDF("seq", "k", "op", "w", "v"), path, Seq("k"))
    assert(Incremental.readCdcTable(spark, path).select("k", "v", "w")
      .as[(Long, String, Int)].collect().sorted.toSeq === Seq((1L, "a", 10), (2L, "b", 20)))
  }

  test("NioLocalFileSystem sets the modes Hadoop's LocalFileSystem sets; the sticky bit falls back") {
    import java.nio.file.{Files, Paths}
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import graft.sources.NioLocalFileSystem
    // the session runs the file system GraftSession.local ships
    assert(new Path(tmp("graft-fs-session"))
      .getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    def mode(p: String): Int =
      Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
    def modesUnder(impl: Class[_ <: FileSystem], umask: String): Seq[Int] = {
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.set("fs.file.impl", impl.getName)
      conf.set("fs.permissions.umask-mode", umask)
      val fs = FileSystem.newInstance(new java.net.URI("file:///"), conf)
      try {
        assert(fs.getClass === impl)
        val root = tmp("graft-fs-modes")
        assert(fs.mkdirs(new Path(s"$root/a/b/c")))
        val out = fs.create(new Path(s"$root/a/b/c/part-0"))
        out.write(42); out.close()
        fs.mkdirs(new Path(s"$root/x"), new FsPermission("750"))
        fs.setPermission(new Path(s"$root/a/b/c/part-0"), new FsPermission("604"))
        fs.setPermission(new Path(s"$root/x"), new FsPermission("1777"))
        intercept[java.io.IOException](
          fs.setPermission(new Path(s"$root/missing"), new FsPermission("644")))
        Seq("a", "a/b", "a/b/c", "a/b/c/part-0", "a/b/c/.part-0.crc", "x")
          .map(r => mode(s"$root/$r"))
      } finally fs.close()
    }
    for (umask <- Seq("022", "077", "002")) {
      val hadoop = modesUnder(classOf[LocalFileSystem], umask)
      assert(modesUnder(classOf[NioLocalFileSystem], umask) === hadoop, s"umask $umask")
      assert(hadoop.last === 0x3ff, "sticky bit must survive")
    }
  }

  test("a swap-write fold returns the schema its table's footer holds") {
    def footer(p: String) = graft.sources.IO.readParquet(spark, p).schema
    val cdc = tmp("graft-swap-schema-cdc")
    for (b <- Seq(Seq((1L, "a", "I", 1L), (2L, "b", "I", 1L)),
        Seq((1L, "a2", "U", 2L), (2L, null, "D", 2L), (3L, "c", "I", 2L)))) {
      val folded = Incremental.applyChangesGuarded(spark, b.toDF("k", "v", "op", "seq"),
        cdc, Seq("k"))
      assert(folded.schema === footer(cdc))
    }
    val compacted = Incremental.compactGuarded(spark, cdc, horizonSeq = 5L)
    assert(compacted.schema === footer(cdc))
    assert(compacted.count() === 2)
    for (policy <- Seq("ignore", "fail", "append_new_columns", "sync_all_columns")) {
      val path = tmp(s"graft-swap-schema-$policy")
      val first = Incremental.merge(spark, Seq((1L, "a", 10)).toDF("id", "v", "n"), path,
        Seq("id"), policy)
      assert(first.schema === footer(path), policy)
      val batch =
        if (policy == "fail") Seq((2L, "b", 20)).toDF("id", "v", "n")
        else Seq((2L, "b", 2.5)).toDF("id", "v", "x")
      val next = Incremental.merge(spark, batch, path, Seq("id"), policy)
      assert(next.schema === footer(path), policy)
      assert(next.count() === 2, policy)
    }
  }

}

/** Refuses (returns false for) renames of a staged copy: a table
  * commit's or a hash-index compaction's `__staging` directory. */
class RenameRefusingFileSystem extends graft.sources.NioLocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith("__staging") && super.rename(src, dst)
}
