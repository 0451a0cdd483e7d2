package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (the reference has no streaming —
  * SURVEY §2.10 — so this is part of the 100 TB-pipeline extension
  * set): file-source stream over the events table, watermarked
  * windowed aggregation, and gap-based sessionization with
  * flatMapGroupsWithState.
  *
  * Scale: windowed agg state is bounded by the watermark; session
  * state is per-user and dropped on timeout — both are the standard
  * shapes that survive unbounded input.
  */
object StreamingOps {

  /** Stream schema for events.parquet with `ts` declared as `tsType`
    * — file-source streams need the schema up front, and the testdata
    * ts layout has varied across generations (TIMESTAMP(NANOS) read
    * as long vs TIMESTAMP(MICROS) read as NTZ). */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Footer peek via a batch read (cheap — metadata only) decides the
    // declared ts type, matching graft.sources.Tables#events dispatch.
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // File-source streams take a directory; pathGlobFilter restricts
    // the listing to the events table.
    val raw = spark.readStream.schema(eventsSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour windowed counts/sums with a 2-hour watermark —
    * the streaming twin of ScalarQueries.qEventsHourly. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0).cast(LongType)) / 100.0).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: first occurrence of each id wins; state
    * for ids older than the watermark is dropped — the unbounded-input
    * form of Dedup.exactGroups (state stays O(ids-per-watermark-window),
    * which is what makes it viable on an infinite stream). */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkCol: String = "ts", delay: String = "2 hours"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-stream interval join: match each right-stream event to
    * left-stream events of the same key within [0, windowSeconds]
    * before it. Watermarks on both sides bound the join state — the
    * only shape that survives two unbounded inputs. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      windowSeconds: Int, delay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", delay)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", delay)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    l.join(r,
      col("l_key") === col("r_key") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** Production unbounded-stream sessionizer: state carries the open
    * session per user; the event-time timeout (watermark past
    * session_end + gap) closes and emits it. Unlike [[sessionize]]
    * (bounded replay), this never waits for "all" of a user's events —
    * the only correct shape on an infinite stream. */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (evs.isEmpty) {
            // timeout fired: watermark passed session_end + gap — emit & clear
            val out = state.getOption.map(s => Session(userId,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end),
              s.n, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionState]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += s
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.map(s => Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total)).iterator
          }
      }
  }

  /** Streaming upsert sink: every micro-batch merges into a keyed
    * parquet target via Incremental.merge (foreachBatch — the standard
    * way to drive a batch writer from a stream). The target always
    * holds the latest row per key. */
  def upsertSink(stream: DataFrame, path: String, uniqueKey: Seq[String],
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    foldEachBatch(stream, queryName)(
      graft.model.Incremental.merge(_, _, path, uniqueKey))

  /** The foreachBatch body of the table sinks: every non-empty
    * micro-batch goes through `fold` (the batch's session, the batch). */
  private def foldEachBatch(stream: DataFrame, queryName: String)(
      fold: (SparkSession, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.queryName(queryName)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) fold(batch.sparkSession, batch.toDF()): Unit
      }
      .start()

  /** Streaming CDC sink: each micro-batch of I/U/D change rows folds
    * into the keyed table via the batch
    * [[graft.model.Incremental.applyChanges]] — per-key latest-by-seq
    * winner within the batch, winning 'D' deletes. No stream-side
    * state at all: the table on disk IS the state, which is the
    * standard CDC-sink shape (state survives restarts for free, and
    * batch + streaming feeds can share one table). Cross-batch
    * ordering is the feed's contract, as with any CDC consumer. */
  def cdcSink(changes: DataFrame, path: String, uniqueKey: Seq[String],
      queryName: String, opCol: String = "op", seqCol: String = "seq")
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEachBatch(changes, queryName)(
      graft.model.Incremental.applyChanges(_, _, path, uniqueKey, opCol, seqCol))

  /** Cross-batch-safe streaming CDC sink: folds through
    * [[graft.model.Incremental.applyChangesGuarded]], so out-of-order
    * arrival ACROSS micro-batches (at-least-once re-delivery, lagging
    * topic partitions) cannot regress a key or resurrect a delete —
    * the boundary [[cdcSink]]'s scaladoc leaves to the feed. Costs the
    * persisted `__seq`/`__deleted` bookkeeping columns; read the live
    * view via [[graft.model.Incremental.readCdcTable]]. */
  def cdcSinkGuarded(changes: DataFrame, path: String, uniqueKey: Seq[String],
      queryName: String, opCol: String = "op", seqCol: String = "seq")
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEachBatch(changes, queryName)(
      graft.model.Incremental.applyChangesGuarded(_, _, path, uniqueKey, opCol, seqCol))

  /** Streaming curation gate: the batch TextAnalysis stats/quality
    * expressions applied unchanged to a document STREAM — entirely
    * stateless (pure column expressions, no watermark, no state
    * store), so it scales as a narrow map over an unbounded corpus
    * feed. StreamingSpec asserts the streamed output is row-identical
    * to the batch gate on the same documents (streaming ≡ batch
    * twin). */
  def curationGateStream(docs: DataFrame, minTokens: Int = 15,
      maxTokens: Int = 95, minQuality: Double = 0.4): DataFrame =
    graft.ext.TextAnalysis.withStats(docs)
      .filter(col("n_tokens").between(minTokens, maxTokens) &&
        col("quality_score") >= minQuality)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("fingerprint"))

  /** Streaming loop-gate over conversation-shaped ingest
    * ([[graft.ext.Dedup.turnRepetition]]): drop documents whose own
    * turns degenerate (an agent transcript stuck repeating one turn,
    * a generation loop) BEFORE they reach the corpus — the
    * within-document companion to the cross-document ingest dedup
    * sinks. The detector is one per-row aggregate() fold over the
    * turn array, so the streaming form is stateless — no watermark,
    * no state store — and gates at scan speed (StreamingSpec:
    * streamed ≡ batch twin).
    * @return kept docs' (doc_id, n_turns, n_distinct_turns, max_run,
    *         repeat_frac) */
  def loopGateStream(docs: DataFrame, turnTokens: Int = 8,
      maxRun: Int = 3, maxRepeatFrac: Double = 0.5): DataFrame =
    graft.ext.Dedup.turnRepetition(docs, turnTokens)
      .filter(col("max_run") <= maxRun &&
        col("repeat_frac") <= maxRepeatFrac)

  /** Streaming structure-gate over role-marked transcript ingest
    * ([[graft.ext.Dedup.conversationStructure]]): drop conversations
    * whose SHAPE is broken — same-role back-to-back turns, empty
    * turns, optionally a truncated last turn — before they reach the
    * corpus; the role-aware sibling of [[loopGateStream]]'s content
    * gate. The lint is one per-row fold, so the streaming form is
    * stateless (no watermark, no state store) and gates at scan
    * speed (StreamingSpec: streamed ≡ batch twin).
    * @return kept docs' full structure row (doc_id, n_turns, …) */
  def conversationGateStream(docs: DataFrame,
      maxAlternationViolations: Int = 0, maxEmptyTurns: Int = 0,
      dropTruncatedLast: Boolean = false): DataFrame =
    graft.ext.Dedup.conversationStructure(docs)
      .filter(col("n_turns") > 0 &&
        col("alternation_violations") <= maxAlternationViolations &&
        col("n_empty_turns") <= maxEmptyTurns &&
        (if (dropTruncatedLast) !col("truncated_last") else lit(true)))

  /** Streaming OUTPUT-gate over agent-transcript ingest
    * ([[graft.ext.Dedup.structuredOutputLint]]): drop transcripts
    * whose assistant turns emitted broken structure — an unclosed
    * code fence (truncated generation), unparseable ```json blocks,
    * invalid inline JSON — before they reach the corpus; completes
    * the ingest-gate trio beside [[loopGateStream]] (content) and
    * [[conversationGateStream]] (shape). The lint is one per-row
    * fold, so the streaming form is stateless (no watermark, no
    * state store) and gates at scan speed (StreamingSpec: streamed ≡
    * batch twin).
    * @return kept docs' full lint row (doc_id, n_fences, …) */
  def structuredOutputGateStream(docs: DataFrame,
      maxJsonInvalid: Int = 0, maxInlineJsonInvalid: Int = 0,
      dropUnclosedFence: Boolean = true): DataFrame =
    graft.ext.Dedup.structuredOutputLint(docs)
      .filter(col("n_json_invalid") <= maxJsonInvalid &&
        col("n_inline_json_invalid") <= maxInlineJsonInvalid &&
        (if (dropUnclosedFence) !col("unclosed_fence") else lit(true)))

  /** Streaming twin of the per-source token-budget allocator
    * ([[graft.ext.Curation.tokenBudgetAllocate]]): the allocator's
    * whole state is its sufficient-statistics table — per-source
    * (n_docs, ts) running sums, ONE grouped aggregation bounded by
    * #sources forever — so the streaming form is that aggregation
    * run in Complete mode, and a snapshot finishes into the full
    * exact waterfill with
    * [[graft.ext.Curation.tokenBudgetFinish]]. snapshot ≡ batch is
    * structural: the batch allocator IS finish ∘ state over the same
    * rows (StreamingSpec proves it end-to-end). This is the "retune
    * the mixture as the crawl grows" loop: the budget/α decision
    * replays against a live table instead of a corpus rescan.
    * @return (source, n_docs, ts) running state */
  def tokenBudgetStateStream(docs: DataFrame, byCol: String = "source",
      textCol: String = "text"): DataFrame =
    graft.ext.Curation.tokenBudgetState(docs, byCol, textCol)

  /** Streaming twin of [[graft.ext.TextAnalysis.blocklistScreen]]:
    * the Aho–Corasick gate is a pure per-row expression (the automaton
    * rides inside [[graft.expressions.MultiMatch]]), so the streaming
    * form is stateless — no watermark, no state store — and screens an
    * unbounded ingest feed at scan speed. StreamingSpec asserts the
    * streamed output is row-identical to the batch screen. */
  def blocklistGateStream(docs: DataFrame, terms: Seq[String]): DataFrame =
    graft.ext.TextAnalysis.blocklistScreen(docs, terms)

  /** Streaming twin of [[graft.ext.Curation.c4Clean]]: because the
    * line rules are document-LOCAL, the streaming form needs no
    * explode/regroup at all — the per-line predicate runs inside a
    * `filter` higher-order function over the split array, one row in,
    * one row out, stateless (no watermark, no state store; the
    * lambda only references its own element, so no projection-
    * collapse re-evaluation). Batch callers preferring the
    * explode shape keep the original; StreamingSpec asserts the two
    * are row-identical on the same documents. */
  def c4CleanStream(docs: DataFrame, minWords: Int = 3,
      minKeptLines: Int = 3): DataFrame = {
    def keepLine(l: Column): Column =
      trim(l).rlike("[.!?][\"']?$") &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !lower(l).contains("lorem ipsum") && !l.contains("{")
    docs
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("kept", filter(col("lines"), keepLine _))
      .select(col("doc_id"),
        array_join(col("kept"), "\n").as("text"),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        (size(col("kept")) >= minKeptLines).as("keep_doc"))
  }

  /** Streaming twin of the count-min sketch build
    * ([[graft.ext.Sketches.cmsBuild]]): the sketch IS a streaming
    * aggregation whose state is the counter array itself — ≤
    * depth·width rows FOREVER, regardless of stream length, which is
    * the sketch's whole reason to exist online (exact per-key counts
    * would grow state with the key space). One structural difference
    * from the batch build, forced by the single-aggregation streaming
    * rule: occurrences address counters directly (no (key, cnt)
    * pre-collapse — that would be a second agg), so each micro-batch
    * shuffles occurrence×depth rows with map-side partial combine.
    * Addressing is the shared [[graft.ext.Sketches.addressed]], so
    * the final stream state is CELL-IDENTICAL to the batch sketch of
    * the same documents (StreamingSpec). Run with Update/Complete
    * output; works unchanged on a bounded batch frame. */
  def cmsSketchStream(docs: DataFrame, depth: Int = 4, width: Int = 256,
      textCol: String = "text"): DataFrame =
    docs
      .select(graft.ext.TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(graft.ext.TextAnalysis
        .adjacentPairsExpr("toks", "w1", "w2"))).as("b"))
      .select(concat(col("b.w1"), lit(" "), col("b.w2")).as("key"))
      .select(graft.ext.Sketches.addressed(col("key"), depth, width).as("sb"))
      .groupBy(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Streaming twin of the Misra–Gries frequent-items aggregate
    * ([[graft.expressions.FreqItemsAgg]]): per-key top items over an
    * unbounded stream with state bounded by capacity entries per key
    * — the TypedImperativeAggregate is mergeable (PODS-2012 merge),
    * so Spark folds each micro-batch's partial summaries into the
    * state-store summary exactly like a shuffle merge. At ample
    * capacity the snapshot equals the batch exact counts
    * (StreamingSpec proves it); under eviction it keeps the
    * ε = 1/(capacity+1) guarantee per key. Run Complete/Update. */
  def freqItemsStream(df: DataFrame, keyCol: String, itemCol: String,
      capacity: Int = 1024, emitK: Int = 10): DataFrame =
    df.groupBy(col(keyCol))
      .agg(graft.expressions.FreqItemsAgg
        .freqItems(col(itemCol), capacity, emitK).as("top"))

  /** Streaming twin of the HyperLogLog register build
    * ([[graft.ext.Sketches.hllRegisters]]): per-group distinct
    * tracking whose state is the register table itself — ≤ groups×m
    * rows FOREVER (exact streaming COUNT DISTINCT state grows with
    * the key space; the governance aggregate's approx_count_distinct
    * hides its sketch inside one number, while this exposes the
    * mergeable registers). max is the streaming-safe fold, so the
    * state snapshot is cell-identical to the batch register table of
    * the same rows; finish a snapshot with
    * [[graft.ext.Sketches.hllEstimate]]. Run Update/Complete. */
  def hllRegistersStream(df: DataFrame, groupCol: String,
      keyCol: String = "key", m: Int = 256): DataFrame =
    graft.ext.Sketches.hllRegisters(df, groupCol, keyCol, m)

  /** Streaming twin of the quantile-sketch STATE
    * ([[graft.ext.Sketches.quantileSketch]]): the hash-threshold
    * sample predicate is STATELESS (membership depends only on the
    * key hash), so the sketch state accumulates as an append-only
    * sampled stream — stream/2^shift rows, with zero Spark state
    * store usage — and the union across micro-batches is
    * row-identical to the batch sample of the same rows
    * (StreamingSpec). Finish a state snapshot into quantiles with the
    * batch estimate step; runs unchanged on bounded frames. */
  def quantileSampleStream(df: DataFrame, keyCol: String,
      shift: Int = 3): DataFrame =
    df.filter(graft.ext.Sketches.quantileSampleFilter(col(keyCol), shift))

  /** Streaming twin of the calibration STATE
    * ([[graft.ext.Evaluation.calibration]]'s per-bin accumulators):
    * an online classifier gating live ingest needs its reliability
    * monitored continuously, and the per-bin (n, Σp, positives,
    * Σ brier-terms) state is four commutative long sums — micro-
    * batches fold in exactly, state is ≤ bins rows FOREVER. The
    * binning projection is stateless, so this is a plain streaming
    * groupBy-agg. Run COMPLETE mode (or an Update sink that UPSERTS
    * on `bin` — an append-style sink would hold one row per bin per
    * trigger, and [[graft.ext.Evaluation.calibrationFinish]] assumes
    * exactly one row per bin); a Complete snapshot finished with
    * calibrationFinish is cell-identical to the batch state of the
    * same rows (StreamingSpec twin proof). The same snapshot also
    * finishes into the Hosmer–Lemeshow χ² via
    * [[graft.ext.Evaluation.hosmerLemeshowFinish]] — calibration
    * magnitude (ECE) and significance (HL) off one accumulator. */
  def calibrationStateStream(preds: DataFrame, bins: Int = 10): DataFrame =
    graft.ext.Evaluation.calibrationState(preds, bins)

  /** Streaming twin of the exact rank-sum ROC-AUC
    * ([[graft.ext.Evaluation.aucRoc]]): the (grp, score) pos/neg cell
    * table is two commutative long sums, so micro-batches fold into a
    * Complete-mode state bounded by group × score cardinality
    * (≤ 1e6+1 rows per group for micro scores) — never stream length.
    * Finish a snapshot with [[graft.ext.Evaluation.aucRocFinish]];
    * the result is row-identical to the one-shot batch AUC of the
    * same rows (StreamingSpec twin proof). */
  def aucStateStream(preds: DataFrame, groupCol: String = "group",
      scoreCol: String = "score_micro", yCol: String = "y"): DataFrame =
    graft.ext.Evaluation.aucRocState(preds, groupCol, scoreCol, yCol)

  /** Streaming twin of the Mann–Whitney rank test
    * ([[graft.ext.Evaluation.mannWhitney]]) — live nonparametric A/B
    * monitoring of a continuous metric: the (grp, value) cell table
    * folds two long sums per distinct value, state bounded by
    * group × value cardinality (≤ 1e6+1 per group for micro
    * metrics), never stream length. Finish a Complete snapshot with
    * [[graft.ext.Evaluation.mannWhitneyFinish]] — row-identical to
    * the batch test of the same rows (StreamingSpec twin proof) —
    * or into Cliff's delta effect size via
    * [[graft.ext.Evaluation.cliffsDeltaFinish]]: significance and
    * magnitude off one accumulator. */
  def mannWhitneyStateStream(df: DataFrame, groupCol: String = "group",
      armCol: String = "arm", vCol: String = "v_micro"): DataFrame =
    graft.ext.Evaluation.mannWhitneyState(df, groupCol, armCol, vCol)

  /** Streaming twin of the Jensen–Shannon corpus-drift statistic
    * ([[graft.ext.Evaluation.jsDivergence]]) — live distribution
    * drift between a baseline side and the production stream: the
    * (grp, token) cell table folds two long counts per vocab cell —
    * vocab-bounded state. Finish a Complete snapshot with
    * [[graft.ext.Evaluation.jsFinish]] — row-identical to the batch
    * statistic of the same rows (StreamingSpec twin proof). Note the
    * ROC/PR pair needs no new stream: [[aucStateStream]]'s one
    * accumulator finishes into EITHER
    * [[graft.ext.Evaluation.aucRocFinish]] or
    * [[graft.ext.Evaluation.prAucFinish]]. */
  def jsStateStream(df: DataFrame, groupCol: String = "group",
      sideCol: String = "side", tokCol: String = "tok"): DataFrame =
    graft.ext.Evaluation.jsState(df, groupCol, sideCol, tokCol)

  /** Streaming twin of Welch's unequal-variance t-test
    * ([[graft.ext.Evaluation.welchTTest]]) — the live mean-difference
    * monitor over an experiment's metric stream: per (grp, arm) the
    * state is three commutative long sums (n, Σy, Σy²) — GROUPS×2
    * rows forever. Finish a Complete snapshot with
    * [[graft.ext.Evaluation.welchFinish]] — row-identical to the
    * batch test of the same rows (StreamingSpec twin proof). */
  def welchStateStream(df: DataFrame, groupCol: String = "group",
      armCol: String = "arm", yCol: String = "y"): DataFrame =
    graft.ext.Evaluation.welchState(df, groupCol, armCol, yCol)

  /** Streaming twin of Bartlett's variance-equality test
    * ([[graft.ext.Evaluation.bartlett]]) — [[welchStateStream]]'s
    * k-arm sibling: three commutative long sums (n, Σy, Σy²) per
    * (grp, arm) cell, groups×arms state forever. Finish a Complete
    * snapshot with [[graft.ext.Evaluation.bartlettFinish]] —
    * row-identical to the batch test (StreamingSpec twin proof). */
  def bartlettStateStream(df: DataFrame, groupCol: String = "group",
      armCol: String = "arm", vCol: String = "v"): DataFrame =
    graft.ext.Evaluation.bartlettState(df, groupCol, armCol, vCol)

  /** Streaming twin of the Kruskal–Wallis k-sample rank test
    * ([[graft.ext.Evaluation.kruskalWallis]]) — [[mannWhitneyStateStream]]'s
    * k-arm sibling: one long count per (grp, arm, value) cell,
    * state bounded by arm × value cardinality. Finish a Complete
    * snapshot with [[graft.ext.Evaluation.kwFinish]] — row-identical
    * to the batch test of the same rows (StreamingSpec twin proof).
    * The SAME snapshot also finishes into the Jonckheere–Terpstra
    * ordered-trend z via [[graft.ext.Evaluation.jtFinish]] (numeric
    * arms carry the order) — two tests, one accumulator. */
  def kruskalStateStream(df: DataFrame, groupCol: String = "group",
      armCol: String = "arm", vCol: String = "v"): DataFrame =
    graft.ext.Evaluation.kwState(df, groupCol, armCol, vCol)

  /** Streaming twin of the two-sample Kolmogorov–Smirnov drift test
    * ([[graft.ext.Evaluation.ksTest]]) over side-tagged rows (side
    * 0 = baseline sample, 1 = live sample — e.g. a reference scoring
    * run unioned with the production stream): the (grp, value) cell
    * table folds two long sums per cell, state bounded by group ×
    * value cardinality. Finish a Complete snapshot with
    * [[graft.ext.Evaluation.ksFinish]] — row-identical to the batch
    * test of the same rows (StreamingSpec twin proof). */
  def ksStateStream(tagged: DataFrame, groupCol: String = "grp",
      valueCol: String = "v", sideCol: String = "side"): DataFrame =
    graft.ext.Evaluation.ksState(tagged, groupCol, valueCol, sideCol)

  /** Streaming twin of the Population Stability Index
    * ([[graft.ext.Evaluation.psi]]) over side-tagged score rows
    * (side 0 = baseline, 1 = live): the (grp, bin) cell table folds
    * two long sums per cell — group × bins-bounded state. Finish a
    * Complete snapshot with [[graft.ext.Evaluation.psiFinish]] —
    * row-identical to the batch PSI of the same rows (StreamingSpec
    * twin proof). */
  def psiStateStream(tagged: DataFrame, bins: Int = 10,
      groupCol: String = "grp", pCol: String = "p",
      sideCol: String = "side"): DataFrame =
    graft.ext.Evaluation.psiState(tagged, bins, groupCol, pCol, sideCol)

  /** Streaming twin of the χ² independence audit
    * ([[graft.ext.Evaluation.chiSquare]]): the (grp, la, lb)
    * contingency cell table folds one long count per cell —
    * vocabulary²-bounded state. Finish a Complete snapshot with
    * [[graft.ext.Evaluation.chiSquareFinish]] — row-identical to the
    * batch test of the same rows (StreamingSpec twin proof). */
  def chiSquareStateStream(labels: DataFrame, groupCol: String = "group",
      aCol: String = "label_a", bCol: String = "label_b"): DataFrame =
    graft.ext.Evaluation.chiSquareState(labels, groupCol, aCol, bCol)

  /** Streaming twin of the dbt source-freshness audit
    * ([[graft.model.DataChecks.sourceFreshness]]): max(ts) per source
    * is one commutative aggregate — sources-sized Complete-mode
    * state. Finish a snapshot against the expected-source list with
    * [[graft.model.DataChecks.sourceFreshnessFinish]] — row-identical
    * to the batch audit of the same rows (StreamingSpec twin proof).
    * THIS is the production face of the audit: a feed that stops
    * arriving surfaces as `error` on the next finish, without any
    * batch re-scan of history. */
  def freshnessStateStream(rows: DataFrame, srcCol: String = "source",
      tsCol: String = "ts"): DataFrame =
    graft.model.DataChecks.sourceFreshnessState(rows, srcCol, tsCol)

  /** Streaming twin of the KMV bottom-k distinct sketch
    * ([[graft.ext.Sketches.kmvSketchBy]]): insertion into the bounded
    * TreeSet is idempotent (a duplicate hash is a no-op), so the SAME
    * TypedImperativeAggregate is its own streaming state fold — state
    * is ≤ groups×k longs forever, and a Complete-mode snapshot is
    * value-identical to the batch sketch of the same rows
    * (StreamingSpec). Finish a snapshot into overlap estimates with
    * [[graft.ext.Sketches.kmvOverlap]]. */
  def kmvSketchStream(df: DataFrame, groupCol: String,
      keyCol: String = "key", k: Int = 256): DataFrame =
    graft.ext.Sketches.kmvSketchBy(df, groupCol, keyCol, k)

  /** First-writer-wins gate for the at-least-once ingest sinks: a
    * batch whose per-batch output directory already carries the
    * committed `_SUCCESS` marker has fully run (output written; only
    * the trailing index append could have been lost), so a replay
    * skips it — the original output stands and the index is never
    * double-appended. */
  private def batchDone(spark: org.apache.spark.sql.SparkSession,
      outPath: String, batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      s"$outPath/batch_id=$batchId/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Streaming image-ingest dedup sink (the [[cdcSink]] discipline):
    * each micro-batch of images is d-hashed (the batch decode path,
    * stateless) and run through the EXACT on-disk
    * [[graft.operators.DHashIndex]] probe — kept|dup_batch|
    * dup_history per image, history read shuffle-free from its
    * bucketed layout — then kept images fold back via appendKept, so
    * the next micro-batch sees them as history. Zero Spark state
    * store usage: all dedup state IS the on-disk index, which is how
    * a 100 TB nightly ingest wants it (restarts resume from disk,
    * and batch/stream share one index).
    *
    * Replay safety (foreachBatch is at-least-once): FIRST-WRITER-WINS
    * per batch — a replayed batch whose output directory already
    * carries a _SUCCESS marker is skipped entirely ([[batchDone]]), so
    * the original probe output is never rewritten and the index is
    * never double-appended. A re-probe after appendKept folded the
    * batch in could NOT reproduce the original statuses (the probe's
    * self-match exclusion handles a doc matching itself, but a
    * dup_batch row re-reads as dup_history once its batch-mate keeper
    * is resident), which is exactly why the gate is on the output
    * marker, not on probe semantics. Residual window: a crash AFTER
    * the output commit but BEFORE appendKept skips that append on
    * replay — the index misses one batch's entries (bounded: slightly
    * fewer dup detections) until the periodic rebuild/compact window
    * re-derives them; it never corrupts output or index. */
  def imageIngestSink(media: org.apache.spark.sql.Dataset[graft.ext.Multimodal.MediaRow],
      indexTable: String, outPath: String, queryName: String,
      maxHamming: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream.queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.ext.Multimodal.MediaRow], batchId: Long) =>
        if (!batch.isEmpty && !batchDone(batch.sparkSession, outPath, batchId)) {
          val spark = batch.sparkSession
          val probed = graft.operators.DHashIndex.probe(spark, indexTable,
            graft.ext.Multimodal.imageDHashes(batch), maxHamming)
            .localCheckpoint() // probe once; both writes read the result
          try {
            probed.write.mode("overwrite")
              .parquet(s"$outPath/batch_id=$batchId")
            graft.operators.DHashIndex.appendKept(spark, indexTable, probed)
          } finally graft.ext.Checkpoints.release(probed)
        }
      }
      .start()

  /** Streaming text near-dup ingest sink — the document twin of
    * [[imageIngestSink]], completing the realtime face of the
    * nightly-ingest dedup family: each micro-batch is minhashed
    * (stateless map) and screened through the on-disk
    * [[graft.operators.MinHashBandIndex]] probe (kept | dup_batch |
    * dup_history by signature agreement, history read shuffle-free
    * from its bucketed layout), then kept docs fold back via
    * appendKept so the next micro-batch sees them as history. Zero
    * Spark state store usage — dedup state IS the index, restarts
    * resume from disk, batch and stream share one table. Same replay
    * discipline as imageIngestSink: first-writer-wins on the
    * per-batch output marker, so a replay neither rewrites output nor
    * double-appends the index. */
  def textIngestSink(docs: DataFrame, indexTable: String, outPath: String,
      queryName: String, minMatches: Int = 3,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty && !batchDone(batch.sparkSession, outPath, batchId)) {
          val spark = batch.sparkSession
          val probed = graft.operators.MinHashBandIndex.probe(spark,
            indexTable, batch.toDF(), minMatches = minMatches,
            idCol = idCol, textCol = textCol)
            .localCheckpoint() // probe once; both writes read the result
          try {
            probed.write.mode("overwrite")
              .parquet(s"$outPath/batch_id=$batchId")
            graft.operators.MinHashBandIndex.appendKept(spark, indexTable,
              batch.toDF().join(probed.filter(col("status") === "kept")
                .select(col(idCol)), Seq(idCol), "left_semi"),
              idCol = idCol, textCol = textCol)
          } finally graft.ext.Checkpoints.release(probed)
        }
      }
      .start()

  /** Streaming novelty monitor — the live face of
    * [[graft.operators.ShingleIndex.noveltyProbe]]: each micro-batch
    * reports its per-doc unseen-trigram fraction against the resident
    * corpus, then folds its own postings in (appendKept), so the NEXT
    * batch's novelty is measured against everything before it. A feed
    * replaying stale content trends to 0; a topic shift spikes. Zero
    * Spark state store usage — corpus memory IS the on-disk index
    * (the [[imageIngestSink]]/[[textIngestSink]] discipline:
    * first-writer-wins on the per-batch output marker — essential
    * here, since a replayed probe AFTER its own postings were appended
    * would read all-zero novelty, and a replayed append would
    * double-post every gram; appends re-cap at the periodic
    * compact/rebuild). */
  def noveltyIngestSink(docs: DataFrame, indexTable: String, outPath: String,
      queryName: String, idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty && !batchDone(batch.sparkSession, outPath, batchId)) {
          val spark = batch.sparkSession
          val probed = graft.operators.ShingleIndex.noveltyProbe(spark,
            indexTable, batch.toDF(), idCol, textCol)
          try {
            probed.write.mode("overwrite")
              .parquet(s"$outPath/batch_id=$batchId")
            graft.operators.ShingleIndex.appendKept(spark, indexTable,
              batch.toDF(), idCol, textCol)
          } finally graft.ext.Checkpoints.release(probed)
        }
      }
      .start()

  /** Streaming tokenizer-fertility monitor: the batch
    * [[graft.ext.Curation.tokenFertility]] aggregation applied to a
    * document stream (Complete mode) — state is one exact-long sum
    * pair per group (language cardinality, never stream length), and a
    * finished snapshot is value-identical to the batch call on the
    * same rows. The live face of the context-budget metric: a feed
    * whose fertility drifts (encoding change, language mix shift)
    * surfaces before it skews packing or mixture weights. */
  /** Streaming quality-gate serving: each arriving micro-batch is
    * scored with a TRAINED static weight table
    * ([[graft.ext.Curation.trainQualityLr]] output) by exactly the
    * batch scorer ([[graft.ext.Curation.lrMargins]]) inside
    * foreachBatch — the [[maxsimServeStream]] discipline: per-batch
    * state only, margins value-identical to the batch call on the
    * same rows (StreamingSpec twin proof). The train-offline /
    * serve-online shape of every production quality gate. */
  def lrScoreStream(docs: DataFrame, weights: DataFrame,
      dims: Int = 1 << 16)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Curation.lrMargins(batch.toDF(), weights, dims))
      }
      .start()

  /** Streaming A/B experiment readout: the two-proportion pooled
    * z-test ([[graft.ext.Evaluation.abTest]]) applied to a live event
    * stream (Complete mode) — state is four exact long counters per
    * group (groups-bounded, never stream length), and a snapshot is
    * value-identical to the batch call on the same rows (StreamingSpec
    * twin proof). The production shape: an experiment dashboard reads
    * the current z without ever re-scanning the event log. */
  def abTestStream(events: DataFrame, groupCol: String = "grp",
      armCol: String = "arm", convCol: String = "conv"): DataFrame =
    graft.ext.Evaluation.abTest(events, groupCol, armCol, convCol)

  def fertilityStream(docs: DataFrame, byCol: String = "lang",
      textCol: String = "text"): DataFrame =
    graft.ext.Curation.tokenFertility(docs, byCol, textCol)

  /** Live paired-model comparison (Complete mode): McNemar's cells
    * fold as five exact long counters per group — a champion/
    * challenger dashboard reads the current χ² without re-scanning
    * the eval log. Snapshot ≡ the batch call (StreamingSpec twin). */
  def mcnemarStream(preds: DataFrame, groupCol: String = "group",
      yCol: String = "y", aCol: String = "pred_a",
      bCol: String = "pred_b"): DataFrame =
    graft.ext.Evaluation.mcnemar(preds, groupCol, yCol, aCol, bCol)

  /** Live conformal-coverage monitor state (Complete mode): counts
    * per (group, split, micro-value) — value-domain bounded, never
    * stream length; finish a snapshot with
    * `Evaluation.conformalFinish` (the order statistic needs the
    * whole value table, the aucState discipline). The production
    * shape: a gate dashboard watches whether live coverage still
    * honors the calibrated guarantee. */
  def conformalStateStream(scores: DataFrame, groupCol: String = "group",
      splitCol: String = "split", sCol: String = "s_micro"): DataFrame =
    graft.ext.Evaluation.conformalState(scores, groupCol, splitCol, sCol)

  /** Live fairness monitor state (Complete mode): the five algebraic
    * per-group counters of [[graft.ext.Evaluation.fairnessReport]];
    * finish a snapshot with `Evaluation.fairnessFinish` (the overall
    * row needs the full group table, so the gap arithmetic is a
    * groups-sized batch finish, the aucState/ksState discipline). */
  def fairnessStateStream(preds: DataFrame, groupCol: String = "group",
      yCol: String = "y", predCol: String = "pred"): DataFrame =
    graft.ext.Evaluation.fairnessState(preds, groupCol, yCol, predCol)

  /** Streaming per-source governance: running doc counts, integer-micro
    * mean quality, and approximate distinct fingerprints (HLL — exact
    * count-distinct is unsupported on streams, and the sketch is the
    * right tool at 100 TB anyway). State is bounded by source
    * cardinality, not stream length. */
  def sourceQualityStream(docs: DataFrame): DataFrame =
    graft.ext.TextAnalysis.withStats(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(round(col("quality_score") * 1e6, 0).cast(LongType)) / 1e6 /
          count(lit(1))).as("mean_quality"),
        approx_count_distinct(col("fingerprint")).as("approx_distinct"))

  /** Streaming incremental dedup: drop every incoming doc whose
    * fingerprint is already in the static historical index
    * (stream-static LEFT ANTI join — re-planned per micro-batch, no
    * stream-side state), then drop within-stream repeats via
    * dropDuplicates on the fingerprint (state = one fingerprint per
    * distinct doc; a production pipeline bounds it with
    * withWatermark + dropDuplicatesWithinWatermark). The batch twin is
    * [[graft.ext.Dedup.dedupAgainstIndex]]; StreamingSpec asserts the
    * streamed survivors equal the batch `kept` set BY FINGERPRINT —
    * that is the guarantee. WHICH doc id survives a within-batch tie
    * is arrival-order-dependent (dropDuplicates keeps the first row
    * seen), unlike the batch twin's deterministic min-id keeper; the
    * cross-batch rule is first-arrival-wins either way. */
  def dedupAgainstIndexStream(docs: DataFrame, index: DataFrame): DataFrame =
    docs.withColumn("fingerprint",
        graft.ext.TextAnalysis.fingerprint(col("text")))
      .join(index.select("fingerprint"), Seq("fingerprint"), "left_anti")
      .dropDuplicates("fingerprint")

  /** Stream-static enrichment join: each micro-batch joins against the
    * (broadcastable) static dimension — no stream-side state at all,
    * the canonical fact-stream × dim shape. */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")

  /** Online ANN serving: every micro-batch of query vectors gets its
    * exact top-k against the static corpus via
    * [[graft.ext.Similarity.serveTopK]] inside foreachBatch (window
    * functions aren't allowed on an unbounded stream, but a micro-batch
    * is a bounded DataFrame — the standard serve composition). The
    * arriving batch is the broadcast side; the corpus scan is
    * stateless per batch, so an IVF/PQ-indexed corpus slots in
    * unchanged. `sink` receives each batch's results. */
  def annServeStream(queries: DataFrame, corpus: DataFrame, k: Int = 10)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Similarity.serveTopK(batch.toDF(), corpus, k))
      }
      .start()

  /** Late-interaction (MaxSim) serving over arriving query batches —
    * the reranking layer of [[annServeStream]], same foreachBatch
    * shape with the fused [[graft.expressions.MaxSimScore]] scoring
    * ([[graft.ext.Similarity.maxSimServe]]); stream ≡ batch twin in
    * StreamingSpec. In production the corpus side is the pooled-ANN
    * shortlist, not the raw table. */
  def maxsimServeStream(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      nTokens: Int = 8, tokenDim: Int = 8)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Similarity.maxSimServe(batch.toDF(), corpus, k,
            nTokens, tokenDim))
      }
      .start()

  /** Online fuzzy-contamination gate: every arriving micro-batch is
    * LSH-joined against the STATIC benchmark corpus with exactly the
    * batch operator ([[graft.ext.Dedup.crossNearDups]]) inside
    * foreachBatch — near-duplicate benchmark copies are flagged at
    * ingest, before they ever reach the training corpus. The
    * benchmark side is small and static; per-batch state is bounded
    * by the micro-batch, nothing accumulates stream-side. */
  def contaminationGateStream(docs: DataFrame, bench: DataFrame,
      numHashes: Int = 8, rowsPerBand: Int = 2)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Dedup.crossNearDups(batch.toDF(), bench,
            numHashes, rowsPerBand))
      }
      .start()

  /** Online DSIR scoring: every arriving micro-batch of documents is
    * scored against the STATIC pretrained bucket-LLR model
    * ([[graft.ext.Curation.dsirModel]]) with exactly the batch scorer
    * ([[graft.ext.Curation.dsirScore]]) inside foreachBatch — the
    * per-doc aggregation needs a bounded frame, and a micro-batch is
    * one. The model is a broadcast ≤ buckets-row table; no
    * stream-side state at all, so the ingest-time data-selection
    * gate scales with batch size, not stream length. */
  def dsirScoreStream(docs: DataFrame, model: DataFrame,
      buckets: Int = 8192)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Curation.dsirScore(batch.toDF(), model, buckets))
      }
      .start()

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)
  case class SessionState(start: Long, end: Long, n: Int, total: Double)

  /** Gap-based sessionization: a session closes after `gapMinutes` of
    * user inactivity (event-time via state timeout). Works identically
    * on a bounded batch replay and an unbounded stream. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[List[SessionState]]) =>
          // Bounded-replay variant: events for the group arrive together;
          // sort by time and emit all closed sessions. (A production
          // unbounded stream would use EventTimeTimeout and emit on
          // timeout; the state/session logic is identical.)
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionState]
          var cur: Option[SessionState] = state.getOption.flatMap(_.headOption)
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.end <= gapMs =>
                cur = Some(s.copy(end = t, n = s.n + 1, total = s.total + e.value))
              case Some(s) =>
                sessions += s
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(sessions += _)
          state.update(Nil)
          sessions.map(s => Session(userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.end), s.n, s.total)).iterator
      }
  }
}
