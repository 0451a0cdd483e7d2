package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{IO, Skew, Tables}

class IOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("csv and json round-trip preserves data") {
    val src = Tables(spark, "/root/testdata/sf0.001").nation
    val c = tmp("graft-csv"); val j = tmp("graft-json")
    IO.writeCsv(src, c); IO.writeJson(src, j)
    val viaCsv = IO.readCsv(spark, c).select("n_nationkey", "n_name", "n_regionkey")
    val viaJson = IO.readJson(spark, j).select("n_nationkey", "n_name", "n_regionkey")
    assert(viaCsv.count() === 25 && viaJson.count() === 25)
    assert(viaCsv.except(src).isEmpty && src.except(viaCsv).isEmpty)
    assert(viaJson.except(src).isEmpty && src.except(viaJson).isEmpty)
  }

  test("orc round-trip preserves data and pushes filters") {
    val src = Tables(spark, "/root/testdata/sf0.001").nation
    val o = tmp("graft-orc")
    IO.writeOrc(src, o)
    val via = IO.readOrc(spark, o)
    assert(via.count() === 25)
    assert(via.except(src).isEmpty && src.except(via).isEmpty)
    val plan = via.filter(col("n_regionkey") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("n_regionkey"),
      s"no pushed filter in ORC scan:\n$plan")
  }

  test("partitioned write enables partition pruning") {
    val src = Tables(spark, "/root/testdata/sf0.001").orders
    val p = tmp("graft-part")
    IO.writePartitioned(src, p, Seq("o_orderstatus"))
    val pruned = spark.read.parquet(p).filter(col("o_orderstatus") === "F")
    // pruning is visible in the plan: only the F partition is listed
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() === src.filter($"o_orderstatus" === "F").count())
    assert(new java.io.File(p).listFiles().exists(_.getName == "o_orderstatus=F"))
  }

  test("bucketed table join avoids shuffle") {
    val src = Tables(spark, "/root/testdata/sf0.001")
    IO.writeBucketed(src.orders, "orders_b", "o_orderkey", 4)
    IO.writeBucketed(
      src.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
      "o_orderkey", 4)
    val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() === 6000)
  }

  test("bucketed fingerprint index makes the nightly dedup probe shuffle-free on the index side") {
    // the production incremental-dedup shape: the historical index is
    // PERSISTED bucketed by fingerprint (bucket count defaults to the
    // session's shuffle width — the equality the planner needs to
    // read the index's layout as-is and shuffle ONLY the batch side;
    // a mismatch makes it give up and shuffle both)
    val hist = Seq((1L, "historical content alpha"),
      (2L, "historical content beta"), (3L, "historical content gamma"))
      .toDF("doc_id", "text")
    graft.operators.FingerprintIndex.writeIndex(hist, "fp_index_b",
      tmp("graft-fpidx") + "/idx")
    val batch = Seq((100L, "historical content alpha"),
      (101L, "fresh new content")).toDF("doc_id", "text")
    // at corpus scale the index CANNOT broadcast — model that by
    // disabling auto-broadcast for this plan (restored in finally) so
    // the planner must rely on the bucketed layout
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.FingerprintIndex.probe(spark, "fp_index_b", batch)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan must use its bucketed layout (no index-side shuffle):\n$plan")
      val st = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(st == Map(100L -> "dup_history", 101L -> "kept"), s"$st")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed dHash index: shuffle-free probe; history beats batch; kept appends back") {
    import graft.operators.DHashIndex
    // hashes chosen by bit pattern: 10L and 11L differ in 1 bit;
    // 0x70... and 0x0F0F... are far from everything else
    val hist = Seq((1L, 10L), (2L, 0x7000000000000000L)).toDF("media_id", "dhash")
    DHashIndex.writeIndex(hist, "dhash_idx_b", tmp("graft-dhidx") + "/idx")
    // batch: 100 and 101 both sit at d=1 from history id 1 (and d=0
    // from each other — history must WIN for 101); 102 matches nothing
    val batch = Seq((100L, 11L), (101L, 11L), (102L, 0x0F0F0F0F0F0F0F0FL))
      .toDF("media_id", "dhash")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = DHashIndex.probe(spark, "dhash_idx_b", batch)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan must use its bucketed layout:\n$plan")
      val st = out.collect()
        .map(r => r.getLong(0) -> (r.getString(2), Option(r.get(3)))).toMap
      assert(st(100L) == ("dup_history", Some(1L)), s"$st")
      assert(st(101L) == ("dup_history", Some(1L)), s"$st") // d=1 hist beats d=0 batch
      assert(st(102L) == ("kept", None), s"$st")
      // fold kept back: next wave sees 102's hash as history
      DHashIndex.appendKept(spark, "dhash_idx_b", out)
      val wave2 = Seq((200L, 0x0F0F0F0F0F0F0F0EL)).toDF("media_id", "dhash")
      val st2 = DHashIndex.probe(spark, "dhash_idx_b", wave2).collect()
        .map(r => r.getLong(0) -> (r.getString(2), Option(r.get(3)))).toMap
      assert(st2(200L) == ("dup_history", Some(102L)), s"$st2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed minhash band index: shuffle-free near-dup probe; history beats batch; kept appends back") {
    import graft.operators.MinHashBandIndex
    val textA = "the quick brown fox jumps over the lazy dog while the cat watches from the windowsill every single morning"
    val textB = "spark catalyst optimizer rules rewrite logical plans into efficient physical execution strategies at warehouse scale"
    val textC = "parquet column pruning and predicate pushdown keep large scans cheap on wide analytical tables every day"
    MinHashBandIndex.writeIndex(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
      "mh_idx_b", tmp("graft-mhidx") + "/idx")
    // 100 and 101 both duplicate history doc 1 (and each other —
    // history must WIN for 101); 102 matches nothing
    val batch = Seq((100L, textA), (101L, textA), (102L, textC))
      .toDF("doc_id", "text")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = MinHashBandIndex.probe(spark, "mh_idx_b", batch)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan must use its bucketed layout:\n$plan")
      val st = out.collect()
        .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(st(100L) == ("dup_history", Some(1L)), s"$st")
      assert(st(101L) == ("dup_history", Some(1L)), s"$st")
      assert(st(102L) == ("kept", None), s"$st")
      // fold kept back: next wave sees 102's text as history
      MinHashBandIndex.appendKept(spark, "mh_idx_b",
        Seq((102L, textC)).toDF("doc_id", "text"))
      val wave2 = Seq((200L, textC)).toDF("doc_id", "text")
      val st2 = MinHashBandIndex.probe(spark, "mh_idx_b", wave2).collect()
        .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(st2(200L) == ("dup_history", Some(102L)), s"$st2")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS mh_idx_b")
    }
  }

  test("hash index compact: collapses append debt to one file per bucket; probe rows and plan unchanged") {
    import graft.operators.FingerprintIndex
    val dir = tmp("graft-fpcomp")
    val hist = Seq((1L, "aa bb cc"), (2L, "dd ee ff")).toDF("doc_id", "text")
    FingerprintIndex.writeIndex(hist, "fp_comp_b", dir + "/idx")
    // two nightly appends: each adds a file per touched bucket
    def wave(id: Long, txt: String) = {
      val out = FingerprintIndex.probe(spark, "fp_comp_b",
        Seq((id, txt)).toDF("doc_id", "text"))
      FingerprintIndex.appendKept(spark, "fp_comp_b", out)
    }
    wave(100L, "gg hh ii"); wave(200L, "jj kk ll")
    def dataFiles = new java.io.File(dir + "/idx").listFiles()
      .count(f => f.getName.startsWith("part-"))
    val before = dataFiles
    assert(before >= 3, s"appends should have grown the file count: $before")
    val rowsBefore = spark.table("fp_comp_b").collect().toSet
    FingerprintIndex.compact(spark, "fp_comp_b", dir + "/idx")
    val buckets = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("fp_comp_b"))
      .bucketSpec.get.numBuckets
    assert(dataFiles <= buckets, s"compact left ${dataFiles} files for $buckets buckets")
    assert(spark.table("fp_comp_b").collect().toSet == rowsBefore)
    // the shuffle-free probe shape survives the rewrite
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = FingerprintIndex.probe(spark, "fp_comp_b",
        Seq((300L, "gg hh ii")).toDF("doc_id", "text"))
      assert(probe.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"), "compacted index lost its bucketed layout")
      val st = probe.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(st == Map(300L -> "dup_history"), s"$st")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS fp_comp_b")
    }
  }

  test("hash index compact: a refused swap rename fails loudly and keeps the staging copy") {
    import graft.operators.FingerprintIndex
    val path = tmp("graft-fpswap") + "/idx"
    FingerprintIndex.writeIndex(Seq((1L, "aa bb cc"), (2L, "dd ee ff"))
      .toDF("doc_id", "text"), "fp_swap_b", path)
    val rows = spark.table("fp_swap_b").collect().toSet
    // resolved per path under the session's conf, uncached, so the
    // refusing file system serves exactly this compaction
    val confs = Seq("fs.file.impl" -> classOf[RenameRefusingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val e = try intercept[java.io.IOException](
          FingerprintIndex.compact(spark, "fp_swap_b", path))
        finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      assert(e.getMessage.contains(s"${path}__staging") &&
        e.getMessage.contains(s"to $path"), e.getMessage)
      assert(spark.read.parquet(path + "__staging").collect().toSet === rows)
    } finally {
      spark.sql("DROP TABLE IF EXISTS fp_swap_b")
      spark.sql("DROP TABLE IF EXISTS fp_swap_b__staging")
    }
  }

  test("shingle index noveltyProbe: df cap cannot distort novelty (hot companion restores exactness)") {
    import graft.operators.ShingleIndex
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // duplicates make every gram df=2
      (3L, "one two three four five"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-novidx")
    // maxDf = 1: docs 1/2's grams are ALL capped out of the postings —
    // without the hot companion they would read as unseen
    ShingleIndex.writeIndex(hist, "nov_idx_b", dir + "/idx", maxDf = 1L)
    try {
      val batch = Seq(
        (100L, "alpha beta gamma delta epsilon"),  // fully seen (all hot)
        (101L, "one two three nine ten"),          // 1 of 3 grams seen (indexed)
        (102L, "totally fresh words appearing nowhere"))
        .toDF("doc_id", "text")
      val probe = ShingleIndex.noveltyProbe(spark, "nov_idx_b", batch)
      // the postings membership leg must read the index's bucketed
      // layout (no index-side exchange), like every other probe here
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = try {
        val (lzy, sn) = ShingleIndex.noveltyProbeLazy(spark, "nov_idx_b",
          batch, "doc_id", "text")
        val s = lzy.queryExecution.executedPlan.toString
        graft.ext.Checkpoints.release(sn); s
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      assert(plan.contains("SelectedBucketsCount"),
        s"noveltyProbe lost the bucketed index scan:\n$plan")
      val out = probe
        .select("doc_id", "n_grams", "n_unseen", "novelty")
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(out(100L)._3 == 0L && out(100L)._4 == 0.0,
        s"capped grams must still count as seen: ${out(100L)}")
      assert(out(101L)._2 == 3L && out(101L)._3 == 2L,
        s"partially seen: ${out(101L)}")
      assert(out(102L)._4 == 1.0, s"fresh doc: ${out(102L)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS nov_idx_b")
      spark.sql("DROP TABLE IF EXISTS nov_idx_b_hot")
    }
  }

  test("compact collapses small files without changing data; partitioned layout survives") {
    val src = Tables(spark, "/root/testdata/sf0.001").orders
    // flat case: 16 shards -> 1 file at a generous target
    val flat = tmp("graft-compact") + "/t"
    src.repartition(16).write.parquet(flat)
    val (fb, fa) = IO.compact(spark, flat, targetBytes = 1L << 30)
    assert(fb == 16 && fa == 1, s"($fb, $fa)")
    val after = spark.read.parquet(flat)
    assert(after.count() === src.count())
    assert(after.except(src).isEmpty && src.except(after).isEmpty)
    // partitioned case: shards per partition collapse to one file per
    // partition value, and pruning still works on the compacted layout
    val part = tmp("graft-compact") + "/p"
    src.repartition(8).write.partitionBy("o_orderstatus").parquet(part)
    val (pb, pa) = IO.compact(spark, part,
      partitionCols = Seq("o_orderstatus"))
    val nParts = src.select("o_orderstatus").distinct().count().toInt
    assert(pa == nParts && pb > pa, s"($pb, $pa) vs $nParts partitions")
    assert(new java.io.File(part).listFiles()
      .exists(_.getName.startsWith("o_orderstatus=")))
    assert(spark.read.parquet(part).count() === src.count())
  }

  test("compact: a refused swap rename fails loudly, naming both paths; the rewrite survives staged") {
    val src = spark.range(25).select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    val path = tmp("graft-compact-refused") + "/t"
    src.repartition(4).write.parquet(path)
    // resolved per path under the session's conf, uncached, so the
    // refusing file system serves exactly this compaction
    val confs = Seq("fs.file.impl" -> classOf[RenameRefusingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val e = try intercept[java.io.IOException](IO.compact(spark, path))
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    assert(e.getMessage.contains(s"${path}__staging") &&
      e.getMessage.contains(s"to $path"), e.getMessage)
    val staged = spark.read.parquet(path + "__staging")
    assert(staged.count() === 25 && staged.except(src).isEmpty && src.except(staged).isEmpty)
  }

  test("fingerprint index append-only cycle: probe, fold kept back, next wave sees them as history") {
    import graft.operators.FingerprintIndex
    val hist = Seq((1L, "wave zero alpha"), (2L, "wave zero beta"))
      .toDF("doc_id", "text")
    FingerprintIndex.writeIndex(hist, "fp_app_b", tmp("graft-fpapp") + "/idx")
    val wave1 = Seq((10L, "wave one gamma"), (11L, "wave zero alpha"))
      .toDF("doc_id", "text")
    val p1 = FingerprintIndex.probe(spark, "fp_app_b", wave1)
    assert(p1.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(10L -> "kept", 11L -> "dup_history"))
    FingerprintIndex.appendKept(spark, "fp_app_b", p1)
    // wave 2 re-sends wave 1's kept doc: now dup_history, keeper = 10
    val wave2 = Seq((20L, "wave one gamma"), (21L, "totally new delta"))
      .toDF("doc_id", "text")
    val p2 = FingerprintIndex.probe(spark, "fp_app_b", wave2)
    val st = p2.collect().map(r =>
      r.getLong(0) -> (r.getString(2), Option(r.get(3)))).toMap
    assert(st == Map(20L -> ("dup_history", Some(10L)),
      21L -> ("kept", None)), s"$st")
    // the appended table still probes off its bucketed layout
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = FingerprintIndex.probe(spark, "fp_app_b", wave2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("boilerplate index probe cleans identically to the in-memory census") {
    import graft.operators.BoilerplateIndex
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"),
        concat_ws("\n", lit("shared banner line"),
          col("text"), lit("footer boilerplate here")).as("text"))
    BoilerplateIndex.writeIndex(docs, "bp_index_b",
      tmp("graft-bpidx") + "/idx", minDocs = 3)
    val viaIndex = BoilerplateIndex.probe(spark, "bp_index_b", docs)
    val inMemory = graft.ext.Dedup.lineDedup(docs, minDocs = 3)
    assert(viaIndex.exceptAll(inMemory).isEmpty &&
      inMemory.exceptAll(viaIndex).isEmpty,
      "persisted census must clean identically to lineDedup")
    // every doc lost exactly the two planted universal lines
    assert(viaIndex.filter(col("n_removed") < 2).count() === 0)
  }

  test("memorization index append keeps gram hashes distinct (scores stay exact)") {
    import graft.operators.MemorizationIndex
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val ref0 = docs.filter(col("doc_id") % 10 === 0)
    val delta = docs.filter(col("doc_id") % 5 === 0) // superset: overlaps ref0
    MemorizationIndex.writeIndex(ref0, "mem_app_b", tmp("graft-memapp") + "/idx")
    MemorizationIndex.append(spark, "mem_app_b", delta)
    // anti-join append: the grown index equals the one-shot build over
    // the union (no duplicate h rows to fan out the probe join)
    val grown = spark.table("mem_app_b")
    assert(grown.count() === grown.distinct().count())
    val probe = docs.filter(col("doc_id") < 100)
    val viaAppend = MemorizationIndex.probe(spark, "mem_app_b", probe)
    val oneShot = graft.ext.Curation.memorizationScore(probe, delta)
    assert(viaAppend.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(viaAppend).isEmpty,
      "appended index must score identically to a one-shot build")
  }

  test("bucketed memorization gram index: shuffle-free probe, identical to the in-memory score") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val ref = docs.filter(col("doc_id") % 5 === 0)
    graft.operators.MemorizationIndex.writeIndex(ref, "mem_index_b",
      tmp("graft-memidx") + "/idx")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.MemorizationIndex.probe(spark, "mem_index_b", docs)
      val plan = out.queryExecution.executedPlan.toString
      // the index side must come straight off its bucketed layout…
      assert(plan.contains("SelectedBucketsCount"),
        s"gram-index scan must use its bucketed layout:\n$plan")
      // …and the on-disk layout changes I/O, never answers
      val mem = graft.ext.Curation.memorizationScore(docs, ref)
      assert(out.exceptAll(mem).isEmpty && mem.exceptAll(out).isEmpty,
        "indexed probe must equal the in-memory memorizationScore")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("on-disk IVF index: probes are partition-pruned and lose no answers") {
    import graft.operators.IvfIndex
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val p = tmp("graft-ivf") + "/idx"
    IvfIndex.writeIndex(emb, p, nClusters = 8)
    val queries = emb.filter(col("vec_id") < 3)
    val out = IvfIndex.probeTopK(spark, p, queries, k = 5, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the scan must prune DIRECTORIES, not filter rows post-read: the
    // cluster IN (...) literal shows up as a PartitionFilter and the
    // data filters stay empty of it
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"probe must prune on the cluster partition column:\n$plan")
    // pruning changes I/O, never answers: identical to the same
    // (query, cluster) scoring over the UNPRUNED corpus
    val cents = spark.read.parquet(p + ".centroids")
    val full = spark.read.parquet(p)
    val q = queries.select(col("vec_id").as("query_id"),
      transform(col("embedding"), x => x.cast("double")).as("qv"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("csim").desc, col("cluster"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("csim", graft.ext.Similarity.cosine(col("qv"), col("centroid")))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= 2)
      .select(col("query_id"), col("qv"), col("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("nn_id"))
    val want = full
      .select(col("cluster"), col("vec_id").as("nn_id"),
        transform(col("embedding"), x => x.cast("double")).as("dv"))
      .join(probes, Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        round(graft.ext.Similarity.cosine(col("qv"), col("dv")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("query_id", "nn_id", "cos_sim", "rn")
    assert(out.collect().toSet == want.collect().toSet,
      "pruned probe must equal unpruned scoring of the same probes")
    assert(out.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("IVF drift report: drifted appends flag re-clustering, untouched clusters don't") {
    import graft.operators.IvfIndex
    import spark.implicits._
    val p = tmp("graft-ivf-drift") + "/idx"
    // two orthogonal planted clusters: ids 0/2/3 on e1, ids 1/4/5 on
    // e2 (seeds are the first k by id, so id0→cluster0=e1, id1→
    // cluster1=e2 and Lloyd leaves the centroids exactly there)
    val build = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    IvfIndex.writeIndex(build, p, nClusters = 2, iters = 2)
    // fresh index: both clusters sit exactly on their centroid
    val before = IvfIndex.driftReport(spark, p, thresholdMicro = 960000L)
      .select("cluster", "cos_micro", "recluster")
      .as[(Int, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(before == Map(0 -> ((1000000L, false)), 1 -> ((1000000L, false))),
      s"$before")
    // nightly appends drift cluster 0: (0.8, 0.6) routes to e1 (dot
    // 0.8 > 0.6) but pulls the member mean off the frozen centroid
    val batch = (100L to 109L).map(i => (i, Seq(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    IvfIndex.appendVectors(spark, batch, p)
    val after = IvfIndex.driftReport(spark, p, thresholdMicro = 960000L)
      .select("cluster", "n_vecs", "recluster")
      .as[(Int, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // mean of 3×(1,0) + 10×(0.8,0.6): cos vs e1 ≈ 0.88 → flagged;
    // cluster 1 untouched → still exact
    assert(after(0) == ((13L, true)), s"$after")
    assert(after(1) == ((3L, false)), s"$after")
  }

  test("sorted-by-range write produces skippable row groups") {
    val src = Tables(spark, "/root/testdata/sf0.01").orders
    val p = tmp("graft-sorted")
    IO.writeSortedBy(src, p, Seq("o_orderdate"), partitions = 8)
    val back = spark.read.parquet(p)
    assert(back.count() === src.count())
    // with range partitioning + in-partition sort, each file's
    // min/max span is narrow: a tight date filter touches few files
    val filtered = back.filter(col("o_orderdate") === to_timestamp(lit("1996-06-01 00:00:00")))
    assert(filtered.count() === src.filter(
      col("o_orderdate") === to_timestamp(lit("1996-06-01 00:00:00"))).count())
  }

  test("salted join equals plain join; salted agg equals plain agg") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val li = t.lineitem.select($"l_orderkey".as("k"), $"l_quantity")
    val o = t.orders.select($"o_orderkey".as("k"), $"o_orderpriority")
    val plain = li.join(o, "k").count()
    val salted = Skew.saltedJoin(li, o, "k").count()
    assert(salted === plain)
    val plainAgg = li.groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum"))
      .select(sum($"n"), count(lit(1))).as[(Long, Long)].first()
    val saltedAgg = Skew.saltedCountSum(li, "k", "l_quantity")
      .select(sum($"n"), count(lit(1))).as[(Long, Long)].first()
    assert(saltedAgg === plainAgg)
  }

  test("bucketed shingle index: shuffle-free containment probe; kept appends back") {
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    graft.operators.ShingleIndex.writeIndex(hist, "sh_idx_b",
      tmp("graft-shidx") + "/idx")
    // batch: a 6-token prefix of doc 1 (contained) + unrelated text
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "completely unrelated fresh words here today"))
      .toDF("doc_id", "text")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (lzy, sn) = graft.operators.ShingleIndex.probeLazy(
        spark, "sh_idx_b", batch, 0.9, "doc_id", "text")
      val plan = lzy.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan must use its bucketed layout:\n$plan")
      val got = lzy.as[(Long, Long, Long, Long, Double)].collect()
      graft.ext.Checkpoints.release(sn)
      assert(got.toSeq == Seq((100L, 1L, 4L, 4L, 1.0)),
        s"prefix containment via the index: ${got.toSeq}")
      // fold the unrelated doc in; re-probing a slice of IT now hits
      graft.operators.ShingleIndex.appendKept(spark, "sh_idx_b",
        batch.filter($"doc_id" === 101L))
      val again = graft.operators.ShingleIndex.probe(spark, "sh_idx_b",
        Seq((200L, "completely unrelated fresh words here"))
          .toDF("doc_id", "text"), 0.9)
        .as[(Long, Long, Long, Long, Double)].collect()
      // 5-token probe → 3 shingles, all inside the appended doc
      assert(again.toSeq == Seq((200L, 101L, 3L, 3L, 1.0)),
        s"appended doc must be probable history: ${again.toSeq}")
      graft.ext.Checkpoints.releaseAll(spark)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("turnText composes with the on-disk shingle index: sequence-level containment probe (round 16)") {
    // conversation history indexed at TURN level: the turn-hash text
    // feeds ShingleIndex verbatim, so a new conversation whose turn
    // SEQUENCE is contained in a historical one hits via the same
    // bucketed shuffle-free probe — and a bag-identical but
    // reordered conversation does NOT
    def turnify(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Dedup.turnText(df, turnTokens = 2)
    val hist = Seq(
      (1L, "h1 h2 u1 u2 h3 h4 u3 u4 h5 h6 u5 u6")) // 6 turns
      .toDF("doc_id", "text")
    graft.operators.ShingleIndex.writeIndex(turnify(hist), "conv_idx_b",
      tmp("graft-convidx") + "/idx")
    val batch = Seq(
      (100L, "h1 h2 u1 u2 h3 h4 u3 u4 h5 h6"), // first 5 turns of 1
      (101L, "h5 h6 u5 u6 h3 h4 u3 u4 h1 h2")) // same turns, reordered
      .toDF("doc_id", "text")
    val got = graft.operators.ShingleIndex.probe(spark, "conv_idx_b",
        turnify(batch), 0.9)
      .as[(Long, Long, Long, Long, Double)].collect()
    // 5 turns -> 3 turn-trigrams, all inside history doc 1; the
    // reordered conversation shares NO ordered 3-turn run
    assert(got.toSeq == Seq((100L, 1L, 3L, 3L, 1.0)),
      s"sequence containment via the index: ${got.toSeq}")
    graft.ext.Checkpoints.releaseAll(spark)
  }

  test("shingle index appendKept excludes hot grams; novelty never double-counts or goes negative") {
    import graft.operators.ShingleIndex
    // "alpha beta gamma" appears in both history docs → df=2 > maxDf=1
    // → capped to the _hot companion, not the postings
    val hist = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "one two three four"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-hotapp")
    ShingleIndex.writeIndex(hist, "hot_idx_b", dir + "/idx", maxDf = 1L)
    try {
      // nightly fold of a batch CONTAINING the hot gram: pre-fix this
      // re-inserted it into the postings, so later probes matched it
      // on BOTH membership legs and novelty went negative
      ShingleIndex.appendKept(spark, "hot_idx_b",
        Seq((100L, "alpha beta gamma nine ten")).toDF("doc_id", "text"))
      val contaminated = spark.table("hot_idx_b")
        .join(spark.table("hot_idx_b_hot"), "h").count()
      assert(contaminated == 0L,
        "appendKept must not re-insert capped-hot grams into the postings")
      val probe = ShingleIndex.noveltyProbe(spark, "hot_idx_b",
        Seq((200L, "alpha beta gamma")).toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double)].collect()
      // 1 gram, hot-seen exactly once: novelty 0, never negative
      assert(probe.toSeq == Seq((200L, 1L, 0L, 0.0)), s"${probe.toSeq}")
      // defense in depth: even a postings table contaminated by a
      // pre-fix append cannot double-count — the probe routes hot
      // grams out of the postings leg before the union
      import org.apache.spark.sql.SaveMode
      spark.table("hot_idx_b_hot")
        .withColumn("hist_id", lit(999L)).select("h", "hist_id")
        .write.mode(SaveMode.Append)
        .bucketBy(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("hot_idx_b"))
          .bucketSpec.get.numBuckets, "h").sortBy("h")
        .format("parquet").saveAsTable("hot_idx_b")
      val probe2 = ShingleIndex.noveltyProbe(spark, "hot_idx_b",
        Seq((201L, "alpha beta gamma")).toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double)].collect()
      assert(probe2.toSeq == Seq((201L, 1L, 0L, 0.0)),
        s"contaminated postings must not double-count: ${probe2.toSeq}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS hot_idx_b")
      spark.sql("DROP TABLE IF EXISTS hot_idx_b_hot")
    }
  }

  // IO.readParquet resolves the schema from a footer on the driver; it
  // must be exactly the schema Spark's inference job would return

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `IO.readParquet(path).schema == spark.read.parquet(path).schema`,
    * with the footer path taken (`resolved`) or the fallback. */
  private def assertSchemaParity(path: String, resolved: Boolean = true): Unit = {
    assert(IO.footerSchema(spark, path).isDefined === resolved,
      s"$path: footer schema resolved must be $resolved")
    assert(IO.readParquet(spark, path).schema === spark.read.parquet(path).schema, path)
  }

  test("readParquet: footer schema equals Spark's inferred one for decimal, NTZ, struct, array and map columns") {
    val d = tmp("graft-footer") + "/t"
    spark.range(0, 40, 1, 3).selectExpr("id",
        "cast(id * 1.25 as decimal(12, 3)) as dec",
        "cast(id as decimal(38, 10)) as wide_dec",
        "timestamp_ntz'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) as ntz",
        "timestamp_seconds(id) as ts",
        "date_add(date'2026-01-01', cast(id as int)) as day",
        "named_struct('a', id, 'b', cast(id as string), 'c', named_struct('d', id * 2.0)) as st",
        "array(id, id + 1) as arr",
        "array(named_struct('x', cast(id as decimal(9, 2)))) as arr_st",
        "map(cast(id as string), id) as m",
        "map(id, array(cast(id as string))) as m_arr",
        "cast(cast(id as string) as binary) as bin",
        "cast(null as string) as nothing")
      .write.parquet(d)
    for (on <- Seq("true", "false")) withConf(nanosAsLong -> on) {
      assertSchemaParity(d)
      assert(IO.readParquet(spark, d).orderBy("id").collect().toSeq ===
        spark.read.parquet(d).orderBy("id").collect().toSeq)
    }
  }

  test("readParquet: footer schema equals Spark's inferred one on every testdata table, nanosAsLong on and off") {
    // the smoke scale factor: the directory the entry query scans
    val dir = new java.io.File(new java.net.URI(
      SparkEntry.entry(spark).inputFiles.head)).getParent
    val files = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 10)
    for (on <- Seq("true", "false"); f <- files)
      withConf(nanosAsLong -> on)(assertSchemaParity(s"$dir/$f"))
  }

  test("readParquet: non-Spark footer (NANOS, NTZ, raw binary) follows the session conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message fixture {
        |  required int64 id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 local_ts (TIMESTAMP(MICROS,false));
        |  optional binary s (STRING);
        |  optional binary raw;
        |}""".stripMargin)
    val f = tmp("graft-nanos") + "/fixture.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f))
      .withConf(spark.sessionState.newHadoopConf()).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    for (i <- 0 until 5)
      w.write(g.newGroup().append("id", i.toLong).append("ts", i * 1000000007L)
        .append("local_ts", i * 1000000L).append("s", s"v$i")
        .append("raw", Binary.fromString(s"r$i")))
    w.close()
    withConf(nanosAsLong -> "true") {
      assertSchemaParity(f)
      assert(IO.readParquet(spark, f).schema("ts").dataType ===
        org.apache.spark.sql.types.LongType)
      for ((k, v) <- Seq("spark.sql.parquet.binaryAsString" -> "true",
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
        withConf(k -> v)(assertSchemaParity(f))
    }
    // without nanosAsLong Spark refuses TIMESTAMP(NANOS): readParquet
    // must raise Spark's own error, not one of its own
    withConf(nanosAsLong -> "false") {
      assert(IO.footerSchema(spark, f).isEmpty)
      val theirs = intercept[Exception](spark.read.parquet(f))
      val ours = intercept[Exception](IO.readParquet(spark, f))
      assert(ours.getClass === theirs.getClass && ours.getMessage === theirs.getMessage)
    }
  }

  test("readParquet falls back to Spark's inference: mergeSchema, summaries, partitions, empty and missing paths") {
    val m = tmp("graft-merge") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(m)
    Seq((2L, 3.0)).toDF("id", "w").write.mode("append").parquet(m)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSchemaParity(m, resolved = false)
      assert(IO.readParquet(spark, m).columns.toSet === Set("id", "v", "w"))
    }
    // a `_metadata` summary decides Spark's pick, so defer to Spark
    val s = tmp("graft-summary") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s)
    val part = new java.io.File(s).listFiles().find(_.getName.startsWith("part-")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s, "_metadata"))
    assertSchemaParity(s, resolved = false)
    // a partitioned insertOverwrite directory
    val p = tmp("graft-iow") + "/t"
    graft.model.Incremental.insertOverwrite(spark,
      Seq((1L, "2026-01-01"), (2L, "2026-01-02")).toDF("id", "day"), p, "day")
    assertSchemaParity(p, resolved = false)
    // empty and missing paths raise Spark's own error
    val empty = tmp("graft-empty")
    for (path <- Seq(empty, empty + "/missing")) {
      assert(IO.footerSchema(spark, path).isEmpty)
      val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(path))
      val ours = intercept[org.apache.spark.sql.AnalysisException](IO.readParquet(spark, path))
      assert(ours.getCondition === theirs.getCondition && ours.getMessage === theirs.getMessage)
    }
  }
}
