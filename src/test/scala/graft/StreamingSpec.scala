package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.queries.ScalarQueries

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  test("streaming hourly counts == batch hourly counts") {
    val stream = StreamingOps.hourlyCounts(StreamingOps.readEventsStream(spark, dir))
    val q = stream.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .select("hour", "event_type", "n", "sum_value").collect().toSet
      val batch = ScalarQueries.qEventsHourly(spark, dir)
        .select(col("hour"), col("event_type"), col("n"), col("sum_value"))
        .collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("text curation operators run unchanged on a stream (map-side = stream-safe)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // stats + quality gate + split: all per-row transforms, so the
    // same Columns compose on a stream with no extra operators
    val curated = graft.ext.Curation.hashSplit(
      graft.ext.TextAnalysis.withStats(docs).filter(col("n_tokens") >= 3))
      .select("doc_id", "n_tokens", "quality_score", "split")
    val q = curated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curated_out").start()
    try {
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "ab"), (3L, "one two three four five six"))
      q.processAllAvailable()
      val out = spark.table("curated_out")
      assert(out.count() == 2) // doc 2 gated out (<3 tokens)
      val batch = graft.ext.Curation.hashSplit(
        graft.ext.TextAnalysis.withStats(
          Seq((1L, "the quick brown fox jumps over the lazy dog"),
            (3L, "one two three four five six")).toDF("doc_id", "text")))
        .select("doc_id", "n_tokens", "quality_score", "split")
      assert(out.collect().toSet == batch.collect().toSet)
    } finally q.stop()
  }

  test("streaming c4 clean ≡ batch twin (stateless per-row line rules)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "a good long sentence here.\nno punct line\nshort.\n" +
        "lorem ipsum dolor sit amet.\nvar x = { a: 1 }.\n" +
        "another quality sentence survives!\nand a third one does too?"),
      (2L, "only one good sentence here.\nsecond good sentence right here."),
      (3L, "nothing survives this one"))
    val q = StreamingOps.c4CleanStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("c4_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val batch = graft.ext.Curation.c4Clean(rows.toDF("doc_id", "text"))
      assert(spark.table("c4_out").collect().toSet == batch.collect().toSet,
        "streamed c4 clean must be row-identical to the batch operator")
    } finally q.stop()
  }

  test("streaming loop gate ≡ batch twin (stateless turn-repetition filter)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "plan step act step check done plan step"), // varied turns
      (2L, "do it do it do it do it do it do it"),     // agent loop
      (3L, "alpha beta alpha beta gamma delta"))
    val q = StreamingOps.loopGateStream(
        mem.toDF().toDF("doc_id", "text"), turnTokens = 2,
        maxRun = 2, maxRepeatFrac = 0.5)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("loop_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val batch = graft.ext.Dedup.turnRepetition(
          rows.toDF("doc_id", "text"), turnTokens = 2)
        .filter($"max_run" <= 2 && $"repeat_frac" <= 0.5)
      val got = spark.table("loop_out").collect().toSet
      assert(got == batch.collect().toSet,
        "streamed loop gate must be row-identical to the batch filter")
      // the wall-to-wall loop is gated out; varied docs survive
      assert(got.map(_.getLong(0)) == Set(1L, 3L), s"$got")
    } finally q.stop()
  }

  test("streaming curation gate ≡ batch twin; per-source governance agg runs Complete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "web"),
      (2L, "ab", "web"),
      (3L, "one two three four five six", "books"),
      (4L, "the quick brown fox jumps over the lazy dog", "web"))
    val q1 = StreamingOps.curationGateStream(docs, minTokens = 3, minQuality = 0.0)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_out").start()
    val q2 = StreamingOps.sourceQualityStream(docs)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("gov_out").start()
    try {
      mem.addData(rows: _*)
      q1.processAllAvailable()
      q2.processAllAvailable()
      // gate: identical rows to the batch expressions on the same docs
      val batchGate = graft.ext.TextAnalysis.withStats(rows.toDF("doc_id", "text", "source"))
        .filter(col("n_tokens").between(3, 95) && col("quality_score") >= 0.0)
        .select("doc_id", "n_tokens", "quality_score", "fingerprint")
      assert(spark.table("gate_out").collect().toSet == batchGate.collect().toSet)
      // governance: running counts per source; docs 1 and 4 share a
      // fingerprint (HLL is exact at this cardinality)
      assert(spark.table("gov_out").count() == 2)
      val web = spark.table("gov_out").filter(col("source") === "web")
        .select("n_docs", "approx_distinct").as[(Long, Long)].head()
      assert(web._1 == 3 && web._2 == 2, s"web governance row: $web")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming conversation gate ≡ batch structure filter (round 17)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val rows = Seq(
      (1L, "user: hi there\nassistant: hello!"),          // clean
      (2L, "user: one\nuser: two\nassistant: ok."),        // violation
      (3L, "user: ask?\nassistant:\nuser: still here."),   // empty turn
      (4L, "plain text, no markers at all"))               // zero turns
    val q = StreamingOps.conversationGateStream(docs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("conv_gate_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("conv_gate_out").collect().toSet
      val batch = StreamingOps.conversationGateStream(
        rows.toDF("doc_id", "text")).collect().toSet
      assert(got == batch,
        "streamed conversation gate must be row-identical to batch")
      assert(got.map(_.getLong(0)) == Set(1L), s"$got")
    } finally q.stop()
  }

  test("streaming structured-output gate ≡ batch lint filter (round 18)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val rows = Seq(
      // clean: one valid json block
      (1L, "user: go\nassistant: sure\n```json\n{\"a\": 1}\n```"),
      // broken json block
      (2L, "assistant: out\n```json\n{nope\n```"),
      // unclosed fence (truncated generation)
      (3L, "assistant: cut\n```json\n{\"p\":"),
      // invalid inline json
      (4L, "assistant: data\n{broken}"),
      // no structure at all — kept (nothing invalid)
      (5L, "user: hi\nassistant: plain reply."))
    val q = StreamingOps.structuredOutputGateStream(docs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sol_gate_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sol_gate_out").collect().toSet
      val batch = StreamingOps.structuredOutputGateStream(
        rows.toDF("doc_id", "text")).collect().toSet
      assert(got == batch,
        "streamed structured-output gate must be row-identical to batch")
      assert(got.map(_.getLong(0)) == Set(1L, 5L), s"$got")
    } finally q.stop()
  }

  test("streaming token-budget state: snapshot finishes into the batch allocation (round 17)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val rows1 = Seq(
      (1L, "one two three four five six seven eight", "web"),
      (2L, "alpha beta gamma", "web"),
      (3L, "a b c d e f g h i j k l m n o p q r s t", "books"))
    val rows2 = Seq(
      (4L, "just a few tokens", "books"),
      (5L, "x y z", "code"))
    val q = StreamingOps.tokenBudgetStateStream(docs)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tbudget_state").start()
    try {
      mem.addData(rows1: _*)
      q.processAllAvailable()
      mem.addData(rows2: _*)
      q.processAllAvailable()
      val snap = spark.table("tbudget_state")
      // state is sources-bounded: 3 rows after 5 docs
      assert(snap.count() == 3)
      // a tight budget forces a genuine waterfill (small sources
      // saturate); snapshot-finish must equal the batch allocator
      // cell-for-cell
      val fromStream = graft.ext.Curation
        .tokenBudgetFinish(snap, budgetTokens = 30, alpha = 0.5)
        .collect().toSet
      val batch = graft.ext.Curation.tokenBudgetAllocate(
        (rows1 ++ rows2).toDF("doc_id", "text", "source"),
        budgetTokens = 30, alpha = 0.5).collect().toSet
      assert(fromStream == batch,
        s"snapshot-finish != batch allocate:\n$fromStream\n$batch")
      assert(batch.nonEmpty && batch.exists(_.getAs[Boolean]("saturated")),
        "fixture must exercise the saturation branch")
    } finally q.stop()
  }

  test("streaming blocklist gate ≡ batch screen across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val terms = Seq("bad phrase", "spam", "rase")
    val rows1 = Seq((1L, "a clean document"), (2L, "contains a BAD phrase here"))
    val rows2 = Seq((3L, "spam and more spam"), (4L, "erase this")) // "rase" inside both
    val q = StreamingOps.blocklistGateStream(docs, terms)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("blocklist_out").start()
    try {
      mem.addData(rows1: _*)
      q.processAllAvailable()
      mem.addData(rows2: _*)
      q.processAllAvailable()
      val batch = graft.ext.TextAnalysis.blocklistScreen(
        (rows1 ++ rows2).toDF("doc_id", "text"), terms)
      assert(spark.table("blocklist_out").collect().toSet ==
        batch.collect().toSet,
        "streamed blocklist gate must be row-identical to the batch screen")
      // and the gate actually fires: 1 clean, 3 blocked
      assert(spark.table("blocklist_out").filter(col("keep")).count() == 1)
    } finally q.stop()
  }

  test("streaming novelty monitor: batch N+1 is measured against batch N's folded content") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.ShingleIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-novstream").toString
    ShingleIndex.writeIndex(
      Seq((1L, "seed corpus text about spark execution plans")).toDF("doc_id", "text"),
      "nov_ingest_idx", dir + "/idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.noveltyIngestSink(
      mem.toDF().toDF("doc_id", "text"),
      "nov_ingest_idx", dir + "/out", "nov_ingest_q")
    try {
      val fresh = "completely novel sentence that the corpus has never seen"
      mem.addData((10L, fresh))
      q.processAllAvailable()
      // batch 2 replays batch 1's content — must now read as fully seen
      mem.addData((20L, fresh))
      q.processAllAvailable()
      val out = spark.read.parquet(dir + "/out")
        .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
      assert(out(10L) == 1.0, s"first sight must be fully novel: $out")
      assert(out(20L) == 0.0, s"replay must be fully seen after the fold: $out")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS nov_ingest_idx") }
  }

  test("streaming tokenizer fertility ≡ batch snapshot across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val b1 = Seq((1L, "en", "hello world, this is plain text"),
      (2L, "es", "hola mundo de los datos"))
    val b2 = Seq((3L, "en", "second english document with more words"),
      (4L, "es", "otra frase"))
    val q = StreamingOps.fertilityStream(
        mem.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("fert_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val batch = graft.ext.Curation.tokenFertility(
        (b1 ++ b2).toDF("doc_id", "lang", "text"))
      assert(spark.table("fert_out").collect().toSet == batch.collect().toSet,
        "streamed fertility snapshot must equal the batch table")
    } finally q.stop()
  }

  test("streaming calibration state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val b1 = Seq((800000L, 1L), (800000L, 1L), (800000L, 0L), (200000L, 0L))
    val b2 = Seq((200000L, 1L), (200000L, 0L), (950000L, 1L), (50000L, 0L))
    val q = StreamingOps.calibrationStateStream(
        mem.toDF().toDF("p_micro", "y"), bins = 10)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cal_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamedState = spark.table("cal_out")
      val all = (b1 ++ b2).toDF("p_micro", "y")
      val batch = graft.ext.Evaluation.calibration(all, bins = 10)
      val finished = graft.ext.Evaluation.calibrationFinish(streamedState)
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed state must equal the one-shot batch table")
      // the Hosmer–Lemeshow finish rides the SAME streamed state
      // (round 15) — one accumulator, a fourth metric
      assert(graft.ext.Evaluation.hosmerLemeshowFinish(streamedState)
        .collect().toSet ==
        graft.ext.Evaluation.hosmerLemeshow(all, bins = 10)
          .collect().toSet,
        "streamed HL finish must equal the one-shot batch test")
    } finally q.stop()
  }

  test("streaming AUC state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("g", 90L, 1L), ("g", 50L, 1L), ("g", 50L, 0L))
    val b2 = Seq(("g", 10L, 0L), ("h", 70L, 1L), ("h", 20L, 0L))
    val q = StreamingOps.aucStateStream(
        mem.toDF().toDF("group", "score_micro", "y"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("auc_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.aucRocFinish(spark.table("auc_out"))
      val batch = graft.ext.Evaluation.aucRoc(
        (b1 ++ b2).toDF("group", "score_micro", "y"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed AUC state must equal the one-shot batch table")
    } finally q.stop()
  }

  test("streaming Welch and Kruskal–Wallis states ≡ batch (round 15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("g", 0L, 1L), ("g", 0L, 2L), ("g", 1L, 4L))
    val b2 = Seq(("g", 0L, 3L), ("g", 1L, 5L), ("g", 1L, 7L))
    val q = StreamingOps.welchStateStream(
        mem.toDF().toDF("group", "arm", "y"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("welch_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.welchFinish(
        spark.table("welch_out"))
      val batch = graft.ext.Evaluation.welchTTest(
        (b1 ++ b2).toDF("group", "arm", "y"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed Welch state must equal the one-shot batch test")
      // the always-valid mSPRT finishes the SAME state snapshot
      val avFinished = graft.ext.Evaluation.msprtFinish(
        spark.table("welch_out"), tau = 2.0)
      val avBatch = graft.ext.Evaluation.msprt(
        (b1 ++ b2).toDF("group", "arm", "y"), tau = 2.0)
      assert(avFinished.collect().toSet == avBatch.collect().toSet,
        "finished streamed mSPRT must equal the one-shot batch report")
    } finally q.stop()
    val mem2 = MemoryStream[(String, String, Long)]
    val k1 = Seq(("g", "a", 1L), ("g", "a", 2L), ("g", "b", 3L))
    val k2 = Seq(("g", "b", 4L), ("g", "c", 5L), ("g", "c", 6L))
    val q2 = StreamingOps.kruskalStateStream(
        mem2.toDF().toDF("group", "arm", "v"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("kw_out").start()
    try {
      mem2.addData(k1: _*)
      q2.processAllAvailable()
      mem2.addData(k2: _*)
      q2.processAllAvailable()
      val finished = graft.ext.Evaluation.kwFinish(spark.table("kw_out"))
      val batch = graft.ext.Evaluation.kruskalWallis(
        (k1 ++ k2).toDF("group", "arm", "v"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed KW state must equal the one-shot batch test")
    } finally q2.stop()
    // Bartlett rides the SAME (grp, arm) sufficient-sums shape as
    // Welch, just k-armed — twin for free off its own state stream
    val mem3 = MemoryStream[(String, String, Long)]
    val v1 = Seq(("g", "a", 1L), ("g", "a", 3L), ("g", "b", 5L))
    val v2 = Seq(("g", "b", 7L), ("g", "c", 2L), ("g", "c", 8L))
    val q3 = StreamingOps.bartlettStateStream(
        mem3.toDF().toDF("group", "arm", "v"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("bart_out").start()
    try {
      mem3.addData(v1: _*)
      q3.processAllAvailable()
      mem3.addData(v2: _*)
      q3.processAllAvailable()
      val finished = graft.ext.Evaluation.bartlettFinish(
        spark.table("bart_out"))
      val batch = graft.ext.Evaluation.bartlett(
        (v1 ++ v2).toDF("group", "arm", "v"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed Bartlett state must equal the one-shot batch test")
    } finally q3.stop()
  }

  test("round-16 finishes ride existing state streams: JT, Cliff's delta, Hosmer–Lemeshow ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // Jonckheere–Terpstra off the SAME kruskal state stream (numeric
    // arms carry the dose order)
    val mem = MemoryStream[(String, Long, Long)]
    val j1 = Seq(("g", 1L, 1L), ("g", 1L, 2L), ("g", 2L, 3L))
    val j2 = Seq(("g", 2L, 4L), ("g", 3L, 5L), ("g", 3L, 7L))
    val q = StreamingOps.kruskalStateStream(
        mem.toDF().toDF("group", "arm", "v"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("jt_out").start()
    try {
      mem.addData(j1: _*)
      q.processAllAvailable()
      mem.addData(j2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.jtFinish(spark.table("jt_out"))
      val batch = graft.ext.Evaluation.jonckheereTerpstra(
        (j1 ++ j2).toDF("group", "arm", "v"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed JT trend must equal the one-shot batch test")
    } finally q.stop()
    // Cliff's delta off the SAME Mann–Whitney state stream
    val mem2 = MemoryStream[(String, Long, Long)]
    val c1 = Seq(("g", 0L, 10L), ("g", 0L, 20L), ("g", 1L, 20L))
    val c2 = Seq(("g", 1L, 30L), ("h", 0L, 5L), ("h", 1L, 9L))
    val q2 = StreamingOps.mannWhitneyStateStream(
        mem2.toDF().toDF("group", "arm", "v_micro"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cd_out").start()
    try {
      mem2.addData(c1: _*)
      q2.processAllAvailable()
      mem2.addData(c2: _*)
      q2.processAllAvailable()
      val finished = graft.ext.Evaluation.cliffsDeltaFinish(
        spark.table("cd_out"))
      val batch = graft.ext.Evaluation.cliffsDelta(
        (c1 ++ c2).toDF("group", "arm", "v_micro"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed Cliff's delta must equal the one-shot batch")
    } finally q2.stop()
    // Hosmer–Lemeshow off the SAME calibration state stream
    val mem3 = MemoryStream[(Long, Long)]
    val h1 = Seq((150000L, 0L), (250000L, 1L), (650000L, 1L))
    val h2 = Seq((750000L, 1L), (850000L, 0L), (950000L, 1L))
    val q3 = StreamingOps.calibrationStateStream(
        mem3.toDF().toDF("p_micro", "y"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hl_out").start()
    try {
      mem3.addData(h1: _*)
      q3.processAllAvailable()
      mem3.addData(h2: _*)
      q3.processAllAvailable()
      val finished = graft.ext.Evaluation.hosmerLemeshowFinish(
        spark.table("hl_out"))
      val batch = graft.ext.Evaluation.hosmerLemeshow(
        (h1 ++ h2).toDF("p_micro", "y"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed Hosmer–Lemeshow must equal the one-shot batch")
    } finally q3.stop()
  }

  test("streaming Mann–Whitney state ≡ batch; one AUC stream finishes into ROC and PR") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("g", 0L, 10L), ("g", 0L, 20L), ("g", 1L, 20L))
    val b2 = Seq(("g", 1L, 30L), ("h", 0L, 5L), ("h", 1L, 9L))
    val q = StreamingOps.mannWhitneyStateStream(
        mem.toDF().toDF("group", "arm", "v_micro"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("mw_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.mannWhitneyFinish(
        spark.table("mw_out"))
      val batch = graft.ext.Evaluation.mannWhitney(
        (b1 ++ b2).toDF("group", "arm", "v_micro"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed MW state must equal the one-shot batch test")
      // Cliff's delta rides the SAME streamed rank state (round 15)
      assert(graft.ext.Evaluation.cliffsDeltaFinish(spark.table("mw_out"))
        .collect().toSet ==
        graft.ext.Evaluation.cliffsDelta(
          (b1 ++ b2).toDF("group", "arm", "v_micro")).collect().toSet,
        "streamed Cliff's delta finish must equal the one-shot batch")
    } finally q.stop()
    // the PR finish rides the SAME auc accumulator: one streamed
    // state, two metrics
    val mem2 = MemoryStream[(String, Long, Long)]
    val p1 = Seq(("g", 90L, 1L), ("g", 50L, 0L))
    val p2 = Seq(("g", 70L, 1L), ("g", 10L, 0L))
    val q2 = StreamingOps.aucStateStream(
        mem2.toDF().toDF("group", "score_micro", "y"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("pr_out").start()
    try {
      mem2.addData(p1: _*)
      q2.processAllAvailable()
      mem2.addData(p2: _*)
      q2.processAllAvailable()
      val snap = spark.table("pr_out")
      val all = (p1 ++ p2).toDF("group", "score_micro", "y")
      assert(graft.ext.Evaluation.prAucFinish(snap).collect().toSet ==
        graft.ext.Evaluation.prAuc(all).collect().toSet)
      assert(graft.ext.Evaluation.aucRocFinish(snap).collect().toSet ==
        graft.ext.Evaluation.aucRoc(all).collect().toSet)
    } finally q2.stop()
  }

  test("streaming Jensen–Shannon state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val b1 = Seq(("g", 0L, "x"), ("g", 0L, "y"), ("g", 1L, "x"))
    val b2 = Seq(("g", 1L, "z"), ("h", 0L, "a"), ("h", 1L, "a"))
    val q = StreamingOps.jsStateStream(
        mem.toDF().toDF("group", "side", "tok"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("js_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.jsFinish(spark.table("js_out"))
      val batch = graft.ext.Evaluation.jsDivergence(
        (b1 ++ b2).toDF("group", "side", "tok"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed JS state must equal the one-shot batch statistic")
    } finally q.stop()
  }

  test("streaming KS state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("g", 1L, 0L), ("g", 2L, 0L), ("g", 2L, 1L))
    val b2 = Seq(("g", 9L, 1L), ("h", 5L, 0L))
    val q = StreamingOps.ksStateStream(
        mem.toDF().toDF("grp", "v", "side"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ks_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.ksFinish(spark.table("ks_out"))
      val all = (b1 ++ b2).toDF("grp", "v", "side")
      val batch = graft.ext.Evaluation.ksTest(
        all.filter(col("side") === 0L).select(col("grp").as("group"), col("v")),
        all.filter(col("side") === 1L).select(col("grp").as("group"), col("v")))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed KS state must equal the one-shot batch test")
      // the W1 finish rides the SAME state snapshot — twin for free
      val w1Finished = graft.ext.Evaluation.w1Finish(spark.table("ks_out"))
      val w1Batch = graft.ext.Evaluation.wasserstein1(
        all.filter(col("side") === 0L).select(col("grp").as("group"), col("v")),
        all.filter(col("side") === 1L).select(col("grp").as("group"), col("v")))
      assert(w1Finished.collect().toSet == w1Batch.collect().toSet,
        "finished streamed W1 must equal the one-shot batch distance")
    } finally q.stop()
  }

  test("streaming PSI state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("g", 150000L, 0L), ("g", 850000L, 0L), ("g", 150000L, 1L))
    val b2 = Seq(("g", 950000L, 1L), ("h", 450000L, 0L), ("h", 450000L, 1L))
    val q = StreamingOps.psiStateStream(
        mem.toDF().toDF("grp", "p", "side"), bins = 10)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("psi_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.psiFinish(
        spark.table("psi_out"), bins = 10)
      val all = (b1 ++ b2).toDF("grp", "p", "side")
      val batch = graft.ext.Evaluation.psi(
        all.filter(col("side") === 0L)
          .select(col("grp").as("group"), col("p").as("p_micro")),
        all.filter(col("side") === 1L)
          .select(col("grp").as("group"), col("p").as("p_micro")),
        bins = 10)
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed PSI state must equal the one-shot batch table")
    } finally q.stop()
  }

  test("streaming chi-square state ≡ batch; finished snapshot identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val b1 = Seq(("g", "a", "x"), ("g", "a", "x"), ("g", "b", "y"))
    val b2 = Seq(("g", "a", "y"), ("g", "b", "x"), ("h", "a", "x"))
    val q = StreamingOps.chiSquareStateStream(
        mem.toDF().toDF("group", "label_a", "label_b"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("chi_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val finished = graft.ext.Evaluation.chiSquareFinish(
        spark.table("chi_out"))
      val batch = graft.ext.Evaluation.chiSquare(
        (b1 ++ b2).toDF("group", "label_a", "label_b"))
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed chi-square state must equal the batch table")
    } finally q.stop()
  }

  test("streaming freshness state ≡ batch; dead feed errors on finish") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val b1 = Seq(("a", ts("2024-01-05 00:00:00")), ("b", ts("2024-01-01 00:00:00")))
    val b2 = Seq(("a", ts("2024-01-10 00:00:00"))) // a advances, b stalls
    val q = StreamingOps.freshnessStateStream(
        mem.toDF().toDF("source", "ts"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("fresh_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val sources = Seq("a", "b", "dead").toDF("source")
      val finished = graft.model.DataChecks.sourceFreshnessFinish(
        spark.table("fresh_out"), sources, ts("2024-01-11 00:00:00"),
        warnAfterS = 86400L * 2, errorAfterS = 86400L * 7)
      val batch = graft.model.DataChecks.sourceFreshness(
        (b1 ++ b2).toDF("source", "ts"), sources,
        ts("2024-01-11 00:00:00"),
        warnAfterS = 86400L * 2, errorAfterS = 86400L * 7)
      assert(finished.collect().toSet == batch.collect().toSet,
        "finished streamed freshness must equal the batch audit")
      val st = finished.select("src", "status")
        .as[(String, String)].collect().toMap
      assert(st == Map("a" -> "pass", "b" -> "error", "dead" -> "error"),
        s"stalled and silent feeds must both error: $st")
    } finally q.stop()
  }

  test("streaming MG frequent items ≡ batch exact counts at ample capacity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val b1 = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "x"))
    val b2 = Seq(("g1", "a"), ("g1", "c"), ("g2", "x"), ("g2", "y"))
    val q = StreamingOps.freqItemsStream(
        mem.toDF().toDF("k", "item"), "k", "item", capacity = 64, emitK = 8)
      .select(col("k"), explode(col("top")).as("e"))
      .select(col("k"), col("e.item"), col("e.cnt"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("mg_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("mg_out").as[(String, String, Long)].collect().toSet
      assert(got == Set(("g1", "a", 3L), ("g1", "b", 1L), ("g1", "c", 1L),
        ("g2", "x", 2L), ("g2", "y", 1L)),
        s"streamed MG snapshot must be the exact counts: $got")
    } finally q.stop()
  }

  test("streaming count-min sketch state is cell-identical to the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val b1 = Seq((1L, "alpha beta alpha beta gamma"),
      (2L, "delta epsilon delta"))
    val b2 = Seq((3L, "alpha beta zeta eta theta"),
      (4L, "gamma delta gamma"))
    val q = StreamingOps.cmsSketchStream(
        mem.toDF().toDF("doc_id", "text"), depth = 4, width = 32)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cms_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*) // counters must ACCUMULATE across batches
      q.processAllAvailable()
      val streamed = spark.table("cms_out").collect().toSet
      val bg = (b1 ++ b2).toDF("doc_id", "text")
        .select(graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(graft.ext.TextAnalysis
          .adjacentPairsExpr("toks", "w1", "w2"))).as("b"))
        .select(concat(col("b.w1"), lit(" "), col("b.w2")).as("key"))
      val batch = graft.ext.Sketches.cmsBuild(bg, depth = 4, width = 32)
      assert(streamed == batch.collect().toSet,
        s"stream state != batch sketch: $streamed")
      assert(streamed.size <= 4 * 32, "state exceeds the counter array")
    } finally q.stop()
  }

  test("streaming quantile-sketch sample accumulates to the batch sample") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val b1 = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.5))
    val b2 = (201L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.5))
    val q = StreamingOps.quantileSampleStream(
        mem.toDF().toDF("key", "grp", "v"), "key", shift = 2)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qs_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("qs_out").collect().toSet
      val all = (b1 ++ b2).toDF("key", "grp", "v")
      val batchSample = all.filter(
        graft.ext.Sketches.quantileSampleFilter(col("key"), 2))
      assert(streamed == batchSample.collect().toSet,
        "stream sample != batch sample")
      // ~1/4 rate: the sample is a real subset, not a pass-through
      assert(streamed.size > 0 && streamed.size < 400 / 2,
        s"implausible sample size ${streamed.size}")
      // a state snapshot finishes to the batch estimates
      val fromSnapshot = graft.ext.Sketches.quantileSketch(
        all, "grp", "key", "v", shift = 2)
        .select("grp", "n_sampled", "p50_est", "p90_est")
        .collect().toSet
      val est = spark.table("qs_out").groupBy(col("grp"))
        .agg(count(lit(1)).as("n_sampled"),
          round(percentile(col("v"), lit(0.5)), 4).as("p50_est"),
          round(percentile(col("v"), lit(0.9)), 4).as("p90_est"))
        .collect().toSet
      assert(est == fromSnapshot, "snapshot finish != batch estimates")
    } finally q.stop()
  }

  test("streaming HLL registers accumulate to the batch register table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val b1 = (1 to 30).map(i => ("g", s"k$i"))
    val b2 = (20 to 60).map(i => ("g", s"k$i")) // overlaps b1: idempotent
    val q = StreamingOps.hllRegistersStream(
        mem.toDF().toDF("grp", "key"), "grp", m = 64)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hll_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_out").collect().toSet
      val all = (b1 ++ b2).toDF("grp", "key")
      val batch = graft.ext.Sketches.hllRegisters(all, "grp", m = 64)
      assert(streamed == batch.collect().toSet, "state != batch registers")
      assert(streamed.size <= 64, "state exceeds the register array")
      // a state snapshot finishes to the batch estimate
      val est = graft.ext.Sketches
        .hllEstimate(spark.table("hll_out"), "grp", m = 64)
      val bEst = graft.ext.Sketches.hllDistinctBy(all, "grp", m = 64)
      assert(est.collect().toSet == bEst.collect().toSet)
    } finally q.stop()
  }

  test("streaming KMV sketch accumulates to the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val b1 = (1 to 40).map(i => ("g", s"k$i"))
    val b2 = (25 to 80).map(i => ("g", s"k$i")) // overlaps b1: idempotent
    val q = StreamingOps.kmvSketchStream(
        mem.toDF().toDF("grp", "key"), "grp", k = 16)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("kmv_out").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("kmv_out")
        .select("grp", "hs").as[(String, Seq[Long])].collect().toSet
      val all = (b1 ++ b2).toDF("grp", "key")
      val batch = graft.ext.Sketches.kmvSketchBy(all, "grp", "key", k = 16)
        .select("grp", "hs").as[(String, Seq[Long])].collect().toSet
      assert(streamed == batch, "stream state != batch sketch")
      assert(streamed.head._2.size <= 16, "state exceeds k")
    } finally q.stop()
  }

  test("streaming LR serving ≡ batch lrMargins with trained weights") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // train offline on a separable corpus, serve the stream online
    val train = (0 until 20).map { i =>
      val y = i % 2
      (i.toLong,
        if (y == 1) s"doc $i has good stuff inside"
        else s"doc $i has bad stuff inside", y.toLong)
    }.toDF("doc_id", "text", "y")
    val (w, _) = graft.ext.Curation.trainQualityLr(train, "y", iters = 6)
    val arriving = Seq((100L, "fresh doc with good stuff inside"),
      (101L, "fresh doc with bad stuff inside"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    val q = StreamingOps.lrScoreStream(
        mem.toDF().toDF("doc_id", "text"), w) { batch =>
      got ++= batch.as[(Long, Long, Boolean)].collect()
    }
    try {
      mem.addData(arriving.head); q.processAllAvailable()
      mem.addData(arriving(1)); q.processAllAvailable()
      val want = graft.ext.Curation.lrMargins(
          arriving.toDF("doc_id", "text"), w)
        .as[(Long, Long, Boolean)].collect()
      assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq,
        "streamed margins must equal the batch twin")
      // the served decisions reflect the learned signal
      val byId = got.map(r => r._1 -> r._3).toMap
      assert(byId(100L) && !byId(101L), s"$byId")
    } finally { q.stop(); graft.ext.Checkpoints.releaseAll(spark) }
  }

  test("streaming A/B z-test snapshot equals the batch readout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = Seq(("m", 0L, 1L), ("m", 0L, 0L), ("m", 1L, 1L))
    val b2 = Seq(("m", 1L, 0L), ("m", 0L, 1L), ("m", 1L, 1L), ("n", 0L, 0L), ("n", 1L, 1L))
    val q = StreamingOps.abTestStream(mem.toDF().toDF("grp", "arm", "conv"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ab_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("ab_out").collect().toSet
      val batch = graft.ext.Evaluation.abTest(
        (b1 ++ b2).toDF("grp", "arm", "conv"), "grp", "arm", "conv")
        .collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("streaming McNemar snapshot equals the batch readout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Boolean, Boolean, Boolean)]
    val b1 = Seq(("m", true, true, false), ("m", true, false, true))
    val b2 = Seq(("m", true, true, true), ("m", false, true, true),
      ("n", true, true, false))
    val q = StreamingOps.mcnemarStream(
        mem.toDF().toDF("group", "y", "pred_a", "pred_b"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("mcn_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("mcn_out").collect().toSet
      val batch = graft.ext.Evaluation.mcnemar(
        (b1 ++ b2).toDF("group", "y", "pred_a", "pred_b")).collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("streaming conformal state snapshot finishes to the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Long)]
    val b1 = (1 to 5).map(i => ("g", "cal", i * 100L))
    val b2 = (6 to 9).map(i => ("g", "cal", i * 100L)) ++
      Seq(("g", "test", 150L), ("g", "test", 850L), ("g", "test", 950L))
    val q = StreamingOps.conformalStateStream(
        mem.toDF().toDF("group", "split", "s_micro"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("conf_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = graft.ext.Evaluation.conformalFinish(
        spark.table("conf_out")).collect().toSet
      val batch = graft.ext.Evaluation.conformalThreshold(
        (b1 ++ b2).toDF("group", "split", "s_micro")).collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      graft.ext.Checkpoints.releaseAll(spark)
    } finally q.stop()
  }

  test("streaming fairness state snapshot finishes to the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Boolean, Boolean)]
    val b1 = Seq(("a", true, true), ("a", true, false), ("b", true, false))
    val b2 = Seq(("a", false, true), ("a", false, false), ("b", false, false))
    val q = StreamingOps.fairnessStateStream(
        mem.toDF().toDF("group", "y", "pred"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("fair_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = graft.ext.Evaluation.fairnessFinish(
        spark.table("fair_out")).collect().toSet
      val batch = graft.ext.Evaluation.fairnessReport(
        (b1 ++ b2).toDF("group", "y", "pred")).collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      graft.ext.Checkpoints.releaseAll(spark)
    } finally q.stop()
  }

  test("streaming text ingest: minhash-band probe classifies, kept folds back as history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.MinHashBandIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-txtstream").toString
    val textA = "the quick brown fox jumps over the lazy dog while the cat watches from the windowsill every morning"
    val textB = "spark catalyst optimizer rules rewrite logical plans into efficient physical execution strategies at scale"
    val textC = "parquet column pruning and predicate pushdown keep large scans cheap on wide analytical tables today"
    MinHashBandIndex.writeIndex(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
      "txt_ingest_idx", dir + "/idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.textIngestSink(
      mem.toDF().toDF("doc_id", "text"),
      "txt_ingest_idx", dir + "/out", "txt_ingest_q")
    try {
      // batch 1: 10 duplicates history doc 1; 11 is new (kept);
      // 12 duplicates 11 within the batch (dup_batch, smaller id wins)
      mem.addData((10L, textA), (11L, textC), (12L, textC))
      q.processAllAvailable()
      // batch 2: 20 duplicates 11 — which must now be HISTORY
      // (appendKept folded batch 1's kept docs in)
      mem.addData((20L, textC))
      q.processAllAvailable()
      val out = spark.read.parquet(dir + "/out")
        .select("doc_id", "status", "dup_of")
        .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(out(10L) == ("dup_history", Some(1L)), s"$out")
      assert(out(11L) == ("kept", None), s"$out")
      assert(out(12L) == ("dup_batch", Some(11L)), s"$out")
      assert(out(20L) == ("dup_history", Some(11L)), s"$out")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS txt_ingest_idx") }
  }

  test("ingest sinks are first-writer-wins: a batch with a committed output marker is skipped on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.MinHashBandIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-fww").toString
    val textA = "the quick brown fox jumps over the lazy dog while the cat watches from the windowsill every morning"
    MinHashBandIndex.writeIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), "fww_idx", dir + "/idx")
    try {
      val idxRowsBefore = spark.table("fww_idx").count()
      // simulate the at-least-once replay: batch 0's output directory
      // already carries its committed marker (and the original rows)
      val sentinel = Seq((77L, "sentinel", Option.empty[Long], Option.empty[Int]))
        .toDF("doc_id", "status", "dup_of", "n_matches")
      sentinel.coalesce(1).write.parquet(dir + "/out/batch_id=0")
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.textIngestSink(
        mem.toDF().toDF("doc_id", "text"), "fww_idx", dir + "/out", "fww_q")
      try {
        // the redelivered batch: a NEW doc that would normally be kept
        // (output row) and appended (index growth) — both must be
        // no-ops because batch 0 already committed
        mem.addData((500L,
          "completely new words that never appeared in the resident corpus at all right here"))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.read.parquet(dir + "/out")
        .select("doc_id", "status").as[(Long, String)].collect().toSet
      assert(out == Set((77L, "sentinel")),
        s"replayed batch must not rewrite committed output: $out")
      assert(spark.table("fww_idx").count() == idxRowsBefore,
        "replayed batch must not re-append the index")
    } finally spark.sql("DROP TABLE IF EXISTS fww_idx")
  }

  test("streaming image ingest: probe classifies, kept folds back as history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Multimodal
    import graft.operators.DHashIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-imgstream").toString
    // history: family 1's variant 0 (id 3)
    DHashIndex.writeIndex(
      Multimodal.imageDHashes(Multimodal.patternImages(spark,
        Seq(3L).toDF("doc_id"))),
      "img_ingest_idx", dir + "/idx")
    val mem = MemoryStream[Long]
    val q = StreamingOps.imageIngestSink(
      Multimodal.patternImages(spark, mem.toDF().toDF("doc_id")),
      "img_ingest_idx", dir + "/out", "img_ingest_q")
    try {
      // batch 1: id 4 (family 1 -> dup_history of 3), id 9 (family 3 -> kept)
      mem.addData(4L, 9L)
      q.processAllAvailable()
      // batch 2: id 10 (family 3 variant 1) must now hit 9 AS HISTORY
      mem.addData(10L)
      q.processAllAvailable()
      val out = spark.read.parquet(dir + "/out")
        .select("media_id", "status", "dup_of")
        .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(out(4L) == ("dup_history", Some(3L)), s"$out")
      assert(out(9L) == ("kept", None), s"$out")
      assert(out(10L) == ("dup_history", Some(9L)), s"$out")
    } finally q.stop()
  }

  test("streaming dedup drops repeated ids across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Event]
    val deduped = StreamingOps.dedupStream(mem.toDF(), Seq("event_id"))
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    def ev(id: Long, t: String) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), 1, "click", 1.0)
    try {
      mem.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"),
        ev(1, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      mem.addData(ev(2, "2024-01-01 10:03:00"), ev(3, "2024-01-01 10:04:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming dedup: out-of-order duplicate within watermark dropped; expired state re-admits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Event]
    val deduped = StreamingOps.dedupStream(mem.toDF(), Seq("event_id"))
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_late_out").start()
    def ev(id: Long, t: String) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), 1, "click", 1.0)
    try {
      mem.addData(ev(1, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      // out-of-order duplicate: EARLIER event time, later batch, still
      // inside the 2h watermark window — must be dropped
      mem.addData(ev(1, "2024-01-01 10:00:00"))
      q.processAllAvailable()
      assert(spark.table("dedup_late_out").count() == 1,
        "within-watermark out-of-order duplicate must be dropped")
      // advance the watermark far past id 1's state (2h delay →
      // watermark moves to ~16:00), expiring it...
      mem.addData(ev(2, "2024-01-01 18:00:00"))
      q.processAllAvailable()
      // ...so a reappearance of id 1 is RE-ADMITTED: within-watermark
      // dedup guarantees exactly that window, no more — the bounded-
      // state contract that keeps the operator viable on an infinite
      // stream (an unbounded-history guarantee would need O(corpus)
      // state; that shape is dedupAgainstIndexStream's job)
      mem.addData(ev(1, "2024-01-01 18:30:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup_late_out").select("event_id")
        .as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 1L, 2L),
        s"expired id must re-admit (bounded state), got $ids")
    } finally q.stop()
  }

  test("streaming CDC sink: out-of-order seq within a batch resolves by seq; delete wins ties") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val path = java.nio.file.Files.createTempDirectory("graft-cdc-late").toString + "/t"
    val q = StreamingOps.cdcSink(
      mem.toDF().toDF("id", "v", "op", "seq"), path, Seq("id"), "cdc_late_q")
    try {
      // one micro-batch, arrival order scrambled vs seq: the higher
      // seq must win per key regardless of arrival position, and a
      // winning D must delete even with earlier-seq upserts present
      mem.addData(
        (1L, "stale", "U", 30L), (1L, "fresh", "U", 35L),
        (2L, "kept", "I", 40L),
        (3L, "resurrect", "U", 50L), (3L, "x", "D", 55L))
      q.processAllAvailable()
      val out = spark.read.parquet(path).select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "fresh", 2L -> "kept"), s"got $out")
      // cross-batch: a later batch folds on top of the table — the
      // documented contract (cdcSink scaladoc: cross-batch ordering is
      // the FEED's responsibility, the standard CDC-consumer shape).
      // This pins that a later batch's row replaces the key even when
      // its seq is lower, so a feed that cannot guarantee cross-batch
      // order knows to widen its batches or use upstream sequencing.
      mem.addData((1L, "late_replay", "U", 20L))
      q.processAllAvailable()
      val out2 = spark.read.parquet(path).select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(out2(1L) == "late_replay",
        s"cross-batch fold is last-batch-wins by contract, got $out2")
    } finally q.stop()
  }

  test("guarded streaming CDC sink: cross-batch stale replay rejected, deletes stay deleted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val path = java.nio.file.Files.createTempDirectory("graft-cdc-g").toString + "/t"
    val q = StreamingOps.cdcSinkGuarded(
      mem.toDF().toDF("id", "v", "op", "seq"), path, Seq("id"), "cdc_g_q")
    try {
      mem.addData((1L, "v3", "U", 30L), (2L, "b", "I", 10L), (3L, "c", "I", 11L))
      q.processAllAvailable()
      // later micro-batch replays a STALE lower-seq update for key 1
      // and deletes key 3
      mem.addData((1L, "stale_replay", "U", 20L), (3L, "x", "D", 40L))
      q.processAllAvailable()
      // an even later batch replays a pre-delete update for key 3 —
      // the tombstone's seq 40 must hold it out (no resurrection)
      mem.addData((3L, "resurrect", "U", 35L))
      q.processAllAvailable()
      val out = graft.model.Incremental.readCdcTable(spark, path)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "v3", 2L -> "b"),
        s"guard must reject stale replay and keep the delete: $out")
      // and a genuinely NEWER change still applies
      mem.addData((1L, "v5", "U", 50L))
      q.processAllAvailable()
      val out2 = graft.model.Incremental.readCdcTable(spark, path)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(out2(1L) == "v5", s"newer seq must still apply: $out2")
    } finally q.stop()
  }

  test("guarded streaming CDC sink: a drifted micro-batch fails the query loudly; the table stays") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx = spark.sqlContext
    /** The failure chain's messages when `feed` sends `stream` a batch
      * for a table built from `base`. */
    def drifted(base: org.apache.spark.sql.DataFrame, stream: org.apache.spark.sql.DataFrame,
        feed: () => Unit, name: String): String = {
      val path = java.nio.file.Files.createTempDirectory("graft-cdc-drift").toString + "/t"
      graft.model.Incremental.applyChangesGuarded(spark, base, path, Seq("id"))
      val before = graft.model.Incremental.readCdcTable(spark, path).collect().toSet
      val q = StreamingOps.cdcSinkGuarded(stream, path, Seq("id"), name)
      val e = try intercept[StreamingQueryException] {
        feed(); q.processAllAvailable()
      } finally q.stop()
      assert(graft.model.Incremental.readCdcTable(spark, path).collect().toSet === before)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    // the stream lacks a base column
    val narrow = MemoryStream[(Long, String, String, Long)]
    val lacks = drifted(Seq((1L, "a", 10, "I", 1L)).toDF("id", "v", "w", "op", "seq"),
      narrow.toDF().toDF("id", "v", "op", "seq"),
      () => narrow.addData((2L, "b", "I", 2L)), "cdc_drift_lacks")
    assert(lacks.contains("drops [w]"), lacks)
    // the stream brings a column the base lacks
    val wide = MemoryStream[(Long, String, Int, String, Long)]
    val adds = drifted(Seq((1L, "a", "I", 1L)).toDF("id", "v", "op", "seq"),
      wide.toDF().toDF("id", "v", "w", "op", "seq"),
      () => wide.addData((2L, "b", 20, "I", 2L)), "cdc_drift_adds")
    assert(adds.contains("adds [w]"), adds)
  }

  test("Runner.build runs dbt-style checks in DAG order and aborts on failure") {
    import graft.model._
    val wh = java.nio.file.Files.createTempDirectory("graft-build").toString
    val src = Map("t" -> Seq((1L, "a"), (2L, "b"), (2L, "c")).toDF("id", "v"))
    val ok = Model("ok", Seq(),
      checks = Seq("not_null_id" -> (df => DataChecks.notNull(df, "id"))))(
      env => env("t"))
    assert(new Runner(spark, src, wh).build(Seq(ok))("ok").count() == 3)
    val bad = Model("bad", Seq(),
      checks = Seq("unique_id" -> (df => DataChecks.uniqueCombination(df, Seq("id")))))(
      env => env("t"))
    val downstream = Model("child", Seq("bad"))(env => env("bad"))
    val e = intercept[Exception] {
      new Runner(spark, src, wh).build(Seq(bad, downstream))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[DataCheckException]))
  }

  test("a failing check submits the jobs of one evaluation of its query") {
    import graft.model._
    import org.apache.spark.TestListenerBus
    val wh = java.nio.file.Files.createTempDirectory("graft-check-jobs").toString
    val t = spark.range(0, 40).select((col("id") % 30).as("id"))
    val unique = (df: org.apache.spark.sql.DataFrame) =>
      DataChecks.uniqueCombination(df, Seq("id"))
    val bad = Model("bad_jobs", Seq(), checks = Seq("unique_id" -> unique))(env => env("t"))
    val sc = spark.sparkContext
    val one = TestListenerBus.jobsOf(sc)(assert(unique(t).count() == 10))
    var message = ""
    // a View model runs no job of its own: every job is the check's
    val jobs = TestListenerBus.jobsOf(sc) {
      val e = intercept[Exception](new Runner(spark, Map("t" -> t), wh).build(Seq(bad)))
      def causes(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: causes(x.getCause)
      message = causes(e).collectFirst { case d: DataCheckException => d.getMessage }.get
    }
    assert(message == "model bad_jobs failed check 'unique_id': 10 violating rows")
    assert(one > 0 && jobs == one, s"$jobs jobs, one evaluation runs $one")
  }

  test("watermark drops late data in append-mode windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Event]
    def ev(id: Long, t: String) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), 1, "click", 1.0)
    val agg = mem.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_out").start()
    try {
      mem.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // advance watermark far past the first window, closing it
      mem.addData(ev(3, "2024-01-01 11:00:00"))
      q.processAllAvailable()
      // this event is now behind the watermark — must be dropped
      mem.addData(ev(4, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      mem.addData(ev(5, "2024-01-01 12:00:00")) // closes the 11:00 window
      q.processAllAvailable()
      val out = spark.table("late_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
      assert(out("2024-01-01 10:00:00.0") == 2L,
        s"late event must not be counted: $out")
    } finally q.stop()
  }

  test("streaming upsert sink keeps latest row per key across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Event]
    val path = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/t"
    def ev(id: Long, t: String, v: Double) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), 1, "click", v)
    val q = StreamingOps.upsertSink(mem.toDF(), path, Seq("event_id"), "upsert_q")
    try {
      mem.addData(ev(1, "2024-01-01 10:00:00", 1.0), ev(2, "2024-01-01 10:01:00", 2.0))
      q.processAllAvailable()
      mem.addData(ev(2, "2024-01-01 10:02:00", 22.0), ev(3, "2024-01-01 10:03:00", 3.0))
      q.processAllAvailable()
      val out = spark.read.parquet(path).select("event_id", "value")
        .as[(Long, Double)].collect().toMap
      assert(out == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0))
    } finally q.stop()
  }

  test("streaming CDC sink folds inserts, updates, and deletes across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val path = java.nio.file.Files.createTempDirectory("graft-cdc-s").toString + "/t"
    val q = StreamingOps.cdcSink(
      mem.toDF().toDF("id", "v", "op", "seq"), path, Seq("id"), "cdc_q")
    try {
      mem.addData((1L, "a1", "I", 10L), (2L, "b1", "I", 11L))
      q.processAllAvailable()
      mem.addData((1L, "zz", "D", 20L), (2L, "b2", "U", 21L),
        (3L, "c1", "I", 22L))
      q.processAllAvailable()
      val out = spark.read.parquet(path).select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(out == Map(2L -> "b2", 3L -> "c1"), s"got $out")
    } finally q.stop()
  }

  test("stream-stream interval join matches within window only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[StreamingOps.Event]
    val buys  = MemoryStream[StreamingOps.Event]
    def ev(id: Long, t: String, u: Long) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), u, "x", 1.0)
    val joined = StreamingOps.streamStreamJoin(
      views.toDF(), buys.toDF(), "user_id", windowSeconds = 600)
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out").start()
    try {
      views.addData(ev(1, "2024-01-01 10:00:00", 7), ev(2, "2024-01-01 12:00:00", 7))
      buys.addData(
        ev(100, "2024-01-01 10:05:00", 7),  // within 10min of view 1
        ev(101, "2024-01-01 11:00:00", 7),  // matches nothing (>10min)
        ev(102, "2024-01-01 12:01:00", 8))  // other user
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 100L)))
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch to the dim") {
    val stream = StreamingOps.readEventsStream(spark, dir)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val q = StreamingOps.enrich(stream, dim, "user_id", "uid")
      .select("event_id", "user_id", "tier")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val out = spark.table("enrich_out")
      assert(out.count() == 1000)  // sf0.001 events, no fan-out
      assert(out.filter($"user_id" === 1 && $"tier" =!= "gold").count() == 0)
      assert(out.filter($"user_id" > 2 && $"tier".isNotNull).count() == 0)
    } finally q.stop()
  }

  test("unbounded sessionizer emits on event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.Event]
    def ev(id: Long, t: String, u: Long, v: Double) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), u, "click", v)
    val sessions = StreamingOps.sessionizeStream(mem.toDS(), gapMinutes = 30)
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_out").start()
    try {
      mem.addData(ev(1, "2024-01-01 10:00:00", 1, 1.0),
        ev(2, "2024-01-01 10:10:00", 1, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // session still open
      // watermark jumps past 10:10 + 30min -> user 1's session times out
      mem.addData(ev(3, "2024-01-01 12:00:00", 2, 5.0))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-01-01 12:05:00", 2, 1.0)) // trigger timeout batch
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select("user_id", "n_events", "total_value").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(out.contains((1L, 2, 3.0)), s"expected closed session, got ${out.toSeq}")
      assert(!out.exists(_._1 == 2L), "user 2's session must still be open")
    } finally q.stop()
  }

  test("streaming incremental dedup ≡ batch kept set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val hist = Seq((1L, "historical content alpha"),
      (2L, "historical content beta")).toDF("doc_id", "text")
    val index = graft.ext.Dedup.exactGroups(hist)
      .select(col("fingerprint"), col("keeper_id"))
    val batchRows = Seq((100L, "historical content alpha"), // recrawl
      (101L, "fresh new content"),
      (102L, "fresh new content"),                          // in-stream dup
      (103L, "another fresh document"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstIndexStream(
        mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("incdedup_out").start()
    try {
      mem.addData(batchRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(batchRows.drop(2): _*) // dup arrives a batch later
      q.processAllAvailable()
      val streamed = spark.table("incdedup_out")
        .select("fingerprint").as[String].collect().toSet
      val batchKept = graft.ext.Dedup.dedupAgainstIndex(
          batchRows.toDF("doc_id", "text"), index)
        .filter(col("status") === "kept")
        .select("fingerprint").as[String].collect().toSet
      assert(streamed == batchKept, s"stream $streamed vs batch $batchKept")
      assert(streamed.size == 2) // 101/102 collapse, recrawl dropped
    } finally q.stop()
  }

  test("streaming MaxSim serving ≡ batch maxSimServe per arriving query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    val queryRows = corpus.filter(col("vec_id") < 3)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
    val q = StreamingOps.maxsimServeStream(
        mem.toDF().toDF("vec_id", "embedding"), corpus, k = 4) { batch =>
      got ++= batch.as[(Long, Long, Double, Int)].collect()
    }
    try {
      mem.addData(queryRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(queryRows.drop(2): _*)
      q.processAllAvailable()
      val want = graft.ext.Similarity.maxSimServe(
          queryRows.toDF("vec_id", "embedding"), corpus, k = 4)
        .as[(Long, Long, Double, Int)].collect()
      assert(got.sortBy(r => (r._1, r._4)).toSeq ==
        want.sortBy(r => (r._1, r._4)).toSeq,
        "streamed late-interaction top-k must equal the batch twin")
    } finally q.stop()
  }

  test("streaming ANN serving ≡ batch serveTopK per arriving query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    val queryRows = corpus.filter(col("vec_id") < 3)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
    val q = StreamingOps.annServeStream(
        mem.toDF().toDF("vec_id", "embedding"), corpus, k = 5) { batch =>
      got ++= batch.as[(Long, Long, Double, Int)].collect()
    }
    try {
      mem.addData(queryRows.take(1): _*)
      q.processAllAvailable()
      mem.addData(queryRows.drop(1): _*) // two more queries a batch later
      q.processAllAvailable()
      val want = graft.ext.Similarity.serveTopK(
          queryRows.toDF("vec_id", "embedding"), corpus, k = 5)
        .as[(Long, Long, Double, Int)].collect()
      assert(got.sortBy(r => (r._1, r._4)).toSeq ==
        want.sortBy(r => (r._1, r._4)).toSeq,
        "streamed top-k must equal the batch twin")
      assert(got.map(_._1).distinct.size == 3)
    } finally q.stop()
  }

  test("gap sessionization on hand-built events") {
    def ev(id: Long, t: String, u: Long, v: Double) =
      StreamingOps.Event(id, java.sql.Timestamp.valueOf(t), u, "click", v)
    val events = Seq(
      ev(1, "2024-01-01 10:00:00", 1, 1.0),
      ev(2, "2024-01-01 10:10:00", 1, 2.0),  // same session (gap 10m)
      ev(3, "2024-01-01 11:30:00", 1, 3.0),  // new session (gap 80m > 30m)
      ev(4, "2024-01-01 09:00:00", 2, 5.0)   // other user
    ).toDS()
    val sessions = StreamingOps.sessionize(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length == 3)
    val s1 = sessions(0)
    assert(s1.user_id == 1 && s1.n_events == 2 && s1.total_value == 3.0)
    assert(s1.session_end.toString.startsWith("2024-01-01 10:10"))
    assert(sessions(1).n_events == 1 && sessions(1).total_value == 3.0)
    assert(sessions(2).user_id == 2 && sessions(2).n_events == 1)
  }

  test("online fuzzy-contamination gate == batch crossNearDups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (900L, "the quick brown fox jumps over the lazy dog by the river"),
      (901L, "completely unrelated benchmark prompt about something else entirely")
    ).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "independent training document with its own fresh wording here"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = graft.streaming.StreamingOps.contaminationGateStream(
        mem.toDF().toDF("doc_id", "text"), bench) { b =>
      got ++= b.select("a_id", "b_id").as[(Long, Long)].collect()
    }
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val want = graft.ext.Dedup.crossNearDups(
          docs.toDF("doc_id", "text"), bench)
        .select("a_id", "b_id").as[(Long, Long)].collect()
      assert(got.sorted.toSeq == want.sorted.toSeq,
        s"streamed gate must equal the batch twin: $got vs ${want.toSeq}")
      assert(got.contains((1L, 900L)), s"benchmark copy must be flagged: $got")
      assert(!got.exists(_._1 == 2L), s"clean doc must pass: $got")
    } finally q.stop()
  }

  test("online DSIR scoring == batch scorer; model covers unseen tokens") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val raw = (1L to 30L).map(i => (i, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text")
    val target = (101L to 110L).map(i => (i, "alpha alpha beta"))
      .toDF("doc_id", "text")
    val model = graft.ext.Curation.dsirModel(raw, target).localCheckpoint()
    // the factored scorer agrees with dsirSample's internal llr on
    // the training corpus itself (model half ≡ sampler half)
    val viaSample = graft.ext.Curation.dsirSample(raw, target, k = 30)
      .select("doc_id", "llr_micro").as[(Long, Long)].collect().toMap
    val viaScore = graft.ext.Curation.dsirScore(raw, model)
      .select("doc_id", "llr_micro").as[(Long, Long)].collect().toMap
    assert(viaSample == viaScore, "dsirScore must reproduce dsirSample's llr")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val docs = Seq((51L, "alpha beta gamma"),
      (52L, "zzz yyy unseen tokens"), (53L, "alpha w3"))
    val q = graft.streaming.StreamingOps.dsirScoreStream(
        mem.toDF().toDF("doc_id", "text"), model) { b =>
      got ++= b.as[(Long, Long, Long)].collect()
    }
    try {
      mem.addData(docs.take(1): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(1): _*)
      q.processAllAvailable()
      val want = graft.ext.Curation.dsirScore(
          docs.toDF("doc_id", "text"), model)
        .as[(Long, Long, Long)].collect()
      assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq,
        "streamed scores must equal the batch twin")
      // doc 52 is all tokens the raw corpus never saw: the dense
      // model still weighs all 4 of them
      assert(got.find(_._1 == 52L).exists(_._2 == 4L),
        s"unseen-token doc must score all its tokens: $got")
    } finally q.stop()
  }
}
