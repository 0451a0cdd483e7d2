package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, TextAnalysis}

/** Shared write path for the on-disk hash indexes below: an EXTERNAL
  * bucketed+sorted parquet table (bucket metadata in the catalog,
  * files at `path`), bucket count defaulting to the session's shuffle
  * width. That equality is what makes the nightly probe shuffle-free
  * on the index side: the planner reads the index's bucketed layout
  * as-is and exchanges ONLY the (small) batch side to match — a
  * bucket/width mismatch makes it give up and shuffle both
  * (plan-asserted in IOSpec; same discipline as
  * [[graft.sources.IO.writeBucketed]]).
  *
  * The reference's incremental models re-scan history every run
  * (`/root/reference/models/marts/user_base.sql` joins full upstream
  * tables); at 100 TB the reference set must instead be built once
  * and probed — the same build-once/probe-many layout [[IvfIndex]]
  * gives the ANN family.
  */
private[operators] object HashIndexWriter {
  def write(idx: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): Unit = {
    val spark = idx.sparkSession
    val b = if (numBuckets > 0) numBuckets
      else spark.sessionState.conf.numShufflePartitions
    spark.sql(s"DROP TABLE IF EXISTS $table")
    idx.write.mode(SaveMode.Overwrite)
      .bucketBy(b, bucketCol).sortBy(bucketCol)
      .option("path", path).format("parquet").saveAsTable(table)
  }

  /** Compact a written index in place: every [[append]] adds one file
    * per bucket, so a nightly append cadence grows per-bucket file
    * counts linearly until scan-open overhead dominates the probe —
    * THE maintenance debt of the build-once/probe-many layout. Rewrite
    * the table through a STAGING table with the SAME bucket spec (read
    * back from the catalog, never the session width), then swap
    * delete+rename — the [[graft.sources.IO.commit]] discipline: the
    * original files stay on disk (and readable through the catalog
    * entry) until the full compacted copy is durably
    * written, so a mid-rewrite executor loss or write failure leaves
    * the index intact. Result: one file per bucket again, identical
    * rows, identical shuffle-free probe plan. Run on the same cadence
    * that re-caps df bounds.
    *
    * The final swap (drop catalog entry, delete dir, rename staging
    * dir, re-register) is not atomic — parquet directory tables have
    * no atomic catalog rename — so callers run compact in the
    * maintenance window that already serializes appends; a failure
    * INSIDE the swap leaves the complete staging copy on disk for
    * manual rename, never zero copies, and a refused rename throws
    * ([[graft.sources.IO.swapInto]]) instead of re-registering the
    * table over an empty location. */
  def compact(spark: SparkSession, table: String, path: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(sys.error(
      s"$table is not bucketed — not a hash index"))
    val bucketCol = spec.bucketColumnNames.head
    val staging = table + "__staging"
    val stagingPath = path + "__staging"
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    val stagingDir = new org.apache.hadoop.fs.Path(stagingPath)
    stagingDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(stagingDir, true)
    // one shuffle to the bucket width → exactly one file per bucket,
    // streamed straight from the ORIGINAL files (still live) into the
    // staging location — no in-memory-only copy ever holds the data
    spark.table(table)
      .repartition(spec.numBuckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(spec.numBuckets, bucketCol).sortBy(bucketCol)
      .option("path", stagingPath).format("parquet").saveAsTable(staging)
    // staging copy is complete and durable — now swap. DROP on these
    // EXTERNAL tables removes only catalog entries, never files.
    val schemaDdl = spark.table(staging).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    graft.sources.IO.swapInto(spark, stagingPath, path)
    spark.sql(
      s"CREATE TABLE $table ($schemaDdl) USING parquet " +
      s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
      s"INTO ${spec.numBuckets} BUCKETS LOCATION '$path'")
  }

  /** Append rows to a written index preserving its bucketed layout:
    * the writer's bucket spec is read back from the catalog (NOT
    * re-derived from the session — the session's shuffle width may
    * have changed since the index was built, and a mismatched append
    * would silently break the shuffle-free probe for every future
    * reader). Each append adds one file per bucket; periodic
    * [[graft.sources.IO.compact]]-style rewrites bound file counts. */
  def append(spark: SparkSession, table: String, rows: DataFrame,
      bucketCol: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val b = meta.bucketSpec.map(_.numBuckets).getOrElse(sys.error(
      s"$table is not bucketed — not a hash index"))
    rows.write.mode(SaveMode.Append)
      .bucketBy(b, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
  }
}

/** On-disk exact-dedup fingerprint index: (fingerprint, keeper_id) of
  * a historical corpus, bucketed by fingerprint. [[writeIndex]] once
  * over history; [[probe]] each new batch with
  * [[graft.ext.Dedup.dedupAgainstIndex]] — the index side co-locates
  * from its bucketed layout, so only the batch moves. Append newly
  * kept docs' fingerprints periodically (a bucketed INSERT preserves
  * the layout) rather than rebuilding.
  */
object FingerprintIndex {

  /** In-place bucket-preserving rewrite bounding per-bucket file
    * counts after an append cadence — [[HashIndexWriter.compact]]. */
  def compact(spark: SparkSession, table: String, path: String): Unit =
    HashIndexWriter.compact(spark, table, path)


  /** Build + persist the fingerprint→keeper map of `corpus` (keeper =
    * min id per normalized-text fingerprint). */
  def writeIndex(corpus: DataFrame, table: String, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      numBuckets: Int = 0): Unit = {
    val idx = corpus.select(col(idCol),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint").agg(min(col(idCol)).as("keeper_id"))
    HashIndexWriter.write(idx, table, path, "fingerprint", numBuckets)
  }

  /** Screen `newDocs` against a written index: (id, fingerprint,
    * status ∈ kept|dup_batch|dup_history, dup_of). */
  def probe(spark: SparkSession, table: String, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Dedup.dedupAgainstIndex(newDocs, spark.table(table), idCol, textCol)

  /** Fold a probe's accepted docs back into the index — the
    * append-only update that keeps the nightly cycle
    * probe → ingest kept → append O(batch) forever, never an
    * O(corpus) rebuild. `probeResult` is a [[probe]] output; its
    * `kept` rows are one-per-fingerprint by construction (kept means
    * "batch keeper and not in history"), so appending them preserves
    * the index's fingerprint uniqueness. */
  def appendKept(spark: SparkSession, table: String,
      probeResult: DataFrame, idCol: String = "doc_id"): Unit =
    HashIndexWriter.append(spark, table,
      probeResult.filter(col("status") === "kept")
        .select(col("fingerprint"), col(idCol).as("keeper_id")),
      "fingerprint")
}

/** On-disk boilerplate-line census: the line fingerprints that
  * [[graft.ext.Dedup.lineDedup]] would strike, persisted as a
  * bucketed external table. [[writeIndex]] runs the count-distinct
  * census over a historical corpus once; [[probe]] cleans any new
  * batch against it without re-counting history — the nightly-ingest
  * shape of the CCNet/RefinedWeb cleaning pass. The census is a
  * thresholded count (not append-mergeable row-by-row), so growing
  * the reference corpus means re-running [[writeIndex]] on its
  * cadence rather than appending.
  */
object BoilerplateIndex {

  /** Census + persist: line fingerprints appearing in at least
    * `minDocs` distinct docs of `corpus`, rows (f, n_docs). */
  def writeIndex(corpus: DataFrame, table: String, path: String,
      minDocs: Long = 3, idCol: String = "doc_id",
      textCol: String = "text", numBuckets: Int = 0): Unit = {
    val census = corpus.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col(idCol), md5(trim(col("line"))).as("f"))
      .groupBy("f").agg(count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    HashIndexWriter.write(census, table, path, "f", numBuckets)
  }

  /** Clean `docs` against a written census — identical answers to
    * [[graft.ext.Dedup.lineDedup]] when the census came from the
    * same corpus/threshold (IOSpec asserts). The census table is
    * small; Spark's size-based broadcast threshold picks the probe
    * side on its own, so no forced hint is needed. */
  def probe(spark: SparkSession, table: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ext.Dedup.lineDedupAgainst(docs,
      spark.table(table).select("f"), forceBroadcast = false,
      idCol, textCol)
}

/** On-disk memorization/contamination gram index: the distinct salted
  * n-gram 60-bit hash set of a reference corpus
  * ([[graft.ext.Curation.memorizationRefSet]]), bucketed by hash.
  * [[writeIndex]] once over the training set; [[probe]] audits any
  * batch of candidate documents for verbatim overlap without
  * re-granulating the (much larger) reference.
  */
object MemorizationIndex {

  /** Build + persist the distinct gram-hash set of `reference`. `n`
    * is baked into the files; probes must use the same value. */
  def writeIndex(reference: DataFrame, table: String, path: String,
      n: Int = 8, textCol: String = "text", numBuckets: Int = 0): Unit =
    HashIndexWriter.write(Curation.memorizationRefSet(reference, n, textCol),
      table, path, "h", numBuckets)

  /** Score `docs` against a written index: (doc_id, n_grams, n_hit,
    * mem_score) — identical to
    * [[graft.ext.Curation.memorizationScore]] over the same reference
    * (IOSpec asserts both identity and the shuffle-free index scan). */
  def probe(spark: SparkSession, table: String, docs: DataFrame,
      n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Curation.memorizationScoreAgainst(docs, spark.table(table), n,
      idCol, textCol)

  /** Grow the reference with newly ingested documents: only gram
    * hashes NOT already indexed are appended (left-anti against the
    * bucketed table — shuffle-free on the index side, same plan shape
    * as the probe), preserving the h-uniqueness [[probe]] depends on
    * (a duplicate h would fan out the probe join and inflate both
    * n_grams and n_hit). `n`/`textCol` must match the build. */
  def append(spark: SparkSession, table: String, newReference: DataFrame,
      n: Int = 8, textCol: String = "text"): Unit =
    HashIndexWriter.append(spark, table,
      Curation.memorizationRefSet(newReference, n, textCol)
        .join(spark.table(table), Seq("h"), "left_anti"),
      "h")
}

/** On-disk perceptual-hash (dHash) band index — the image twin of
  * [[FingerprintIndex]]: each historical image contributes four rows
  * keyed by `band_key = blk·2¹⁶ + v` (band index and 16-bit band
  * value folded into ONE column — a single-key equi-join is what
  * lets the planner reuse the bucketed layout; a two-key join
  * refuses it), bucketed by that key, so a nightly batch probe
  * co-locates the index side from disk and only the batch moves.
  * Candidates are then exactly verified by popcount — banding keeps
  * history×batch from ever being all-pairs.
  */
object DHashIndex {

  /** In-place bucket-preserving rewrite bounding per-bucket file
    * counts after an append cadence — [[HashIndexWriter.compact]]. */
  def compact(spark: SparkSession, table: String, path: String): Unit =
    HashIndexWriter.compact(spark, table, path)


  private def bandKeyed(hashes: DataFrame): DataFrame =
    Dedup.bandRows(hashes, "media_id", "dhash")
      .select(col("media_id"), col("dhash"),
        (col("blk") * 65536L + col("v")).as("band_key"))

  /** Persist the band rows of a historical corpus' d-hashes
    * ((media_id, dhash) — [[graft.ext.Multimodal.imageDHashes]]
    * output). */
  def writeIndex(hashes: DataFrame, table: String, path: String,
      numBuckets: Int = 0): Unit =
    HashIndexWriter.write(bandKeyed(hashes), table, path, "band_key",
      numBuckets)

  /** Screen a new image batch against the index AND itself:
    * status ∈ kept | dup_batch | dup_history (history beats batch,
    * the [[FingerprintIndex]] convention); dup_of = the best match by
    * (hamming, id) — deterministic. dup_batch uses the pairwise
    * smaller-id rule (transitive clustering is
    * [[graft.ext.Dedup.connectedComponents]]' job).
    * @return (media_id, dhash, status, dup_of, hamming). */
  def probe(spark: SparkSession, table: String, newHashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    // the hash frame feeds five plan subtrees (band join, pair join ×3,
    // final assembly); checkpoint it once or an expensive upstream —
    // the documented imageDHashes input DECODES the batch — re-runs
    // per subtree. Batch-sized pin; callers reclaim via releaseAll.
    val nh = newHashes.select("media_id", "dhash").localCheckpoint()
    val batchBands = bandKeyed(nh)
    val hist = spark.table(table)
    val histBest = batchBands
      .join(hist.select(col("band_key"),
          col("media_id").as("hist_id"), col("dhash").as("hh")),
        Seq("band_key"))
      // self-exclusion: ids can't legitimately recur, but an
      // at-least-once replay AFTER appendKept folded this batch in
      // must reproduce the original statuses, not self-matches
      .filter(col("hist_id") =!= col("media_id"))
      .select(col("media_id"), col("dhash"), col("hist_id"), col("hh"))
      .distinct()
      .withColumn("d", Dedup.hamming(col("dhash"), col("hh")).cast("int"))
      .filter(col("d") <= maxHamming)
      .groupBy("media_id")
      .agg(min(struct(col("d"), col("hist_id"))).as("m"))
      .select(col("media_id"), col("m.hist_id").as("hist_of"),
        col("m.d").as("hist_d"))
    val batchBest = Dedup
      .bandedHammingPairs(nh, "media_id", "dhash", maxHamming)
      .groupBy(col("b_id").as("media_id"))
      .agg(min(struct(col("hamming"), col("a_id"))).as("m"))
      .select(col("media_id"), col("m.a_id").as("batch_of"),
        col("m.hamming").as("batch_d"))
    nh
      .join(histBest, Seq("media_id"), "left")
      .join(batchBest, Seq("media_id"), "left")
      .select(col("media_id"), col("dhash"),
        when(col("hist_of").isNotNull, lit("dup_history"))
          .when(col("batch_of").isNotNull, lit("dup_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("hist_of").isNotNull, col("hist_of"))
          .otherwise(col("batch_of")).as("dup_of"),
        when(col("hist_of").isNotNull, col("hist_d"))
          .otherwise(col("batch_d")).as("hamming"))
  }

  /** Fold a probe's kept images back into the index — the O(batch)
    * nightly append ([[FingerprintIndex.appendKept]] discipline). */
  def appendKept(spark: SparkSession, table: String,
      probeResult: DataFrame): Unit =
    HashIndexWriter.append(spark, table,
      bandKeyed(probeResult.filter(col("status") === "kept")
        .select("media_id", "dhash")),
      "band_key")
}

/** On-disk containment shingle index: history's (shingle-hash →
  * doc_id) postings persisted as a bucketed external table, so each
  * nightly batch answers "is this new doc ≥ t contained in ANY
  * historical doc?" ([[graft.ext.Dedup.containmentJoin]]'s question)
  * by probing — the corpus-sized posting side never re-shuffles
  * (the [[FingerprintIndex]] discipline).
  *
  * Frequency cap: shingles present in more than `maxDf` history docs
  * are NOT indexed — a boilerplate shingle shared by 10⁸ docs would
  * fan every probe out corpus-wide while carrying no containment
  * signal (that mass belongs to [[BoilerplateIndex]]). Probed
  * containment is therefore a LOWER bound that coincides with the
  * exact statistic whenever no matching shingle is capped (true for
  * genuine partial copies, whose shared shingles are the rare ones);
  * the oracle replays the same cap. Append new kept docs' postings
  * with [[appendKept]] — O(batch), bucket-preserving.
  */
object ShingleIndex {

  /** In-place bucket-preserving rewrite bounding per-bucket file
    * counts after an append cadence — [[HashIndexWriter.compact]]. */
  def compact(spark: SparkSession, table: String, path: String): Unit =
    HashIndexWriter.compact(spark, table, path)


  /** Distinct word-trigram shingle postings, the
    * [[graft.ext.Dedup.containmentJoin]] shingle formula verbatim
    * (md5-60 over "w1 w2 w3"). */
  private def postings(df: DataFrame, idCol: String,
      textCol: String): DataFrame = df
    .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
    .filter(size(col("toks")) >= 3)
    .select(col(idCol), explode(array_distinct(transform(
      sequence(lit(1), size(col("toks")) - 2),
      i => graft.expressions.Md5Hash60.hash60(concat(
        element_at(col("toks"), i), lit(" "),
        element_at(col("toks"), i + 1), lit(" "),
        element_at(col("toks"), i + 2)))))).as("h"))

  /** Build + persist history's df-capped postings, bucketed by
    * shingle hash. */
  def writeIndex(corpus: DataFrame, table: String, path: String,
      maxDf: Long = 1000L, idCol: String = "doc_id",
      textCol: String = "text", numBuckets: Int = 0): Unit = {
    val p = postings(corpus, idCol, textCol).localCheckpoint()
    val dfreq = p.groupBy("h").agg(count(lit(1)).as("df")).localCheckpoint()
    val rare = dfreq.filter(col("df") <= maxDf).select("h")
    HashIndexWriter.write(
      p.join(rare, "h").select(col("h"), col(idCol).as("hist_id")),
      table, path, "h", numBuckets)
    // companion table of the CAPPED (hot) gram hashes — hot-gram-count
    // sized, tiny by construction. [[probe]] never needs it (a capped
    // shingle carries no containment signal), but [[noveltyProbe]]
    // does: a hot gram is the OPPOSITE of novel, and without this
    // record its absence from the postings would read as unseen.
    spark(corpus).sql(s"DROP TABLE IF EXISTS ${table}_hot")
    dfreq.filter(col("df") > maxDf).select("h")
      .write.mode(SaveMode.Overwrite).option("path", path + "_hot")
      .format("parquet").saveAsTable(s"${table}_hot")
    graft.ext.Checkpoints.release(p, dfreq)
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Per-doc novelty of a new batch AGAINST HISTORY — the on-disk twin
    * of [[graft.ext.Curation.noveltyScore]]'s corpus-internal df==1
    * fraction, and the production nightly question ("how much of this
    * batch is content the corpus has not seen"): fraction of each new
    * doc's distinct trigrams present in NO history document. Seen =
    * indexed postings ∪ the capped-hot companion (together exactly
    * history's distinct gram set, so the df cap never distorts the
    * answer). O(batch): only the batch's grams shuffle; the index side
    * reads from its bucketed layout, the hot table is tiny.
    * @return (doc_id, n_grams, n_unseen, novelty) */
  def noveltyProbe(spark: SparkSession, table: String, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (lazyOut, sn) = noveltyProbeLazy(spark, table, newDocs, idCol, textCol)
    val out = lazyOut.localCheckpoint() // docs-sized; release postings
    graft.ext.Checkpoints.release(sn)
    out
  }

  /** The lazy novelty plan + pinned batch postings (IOSpec asserts
    * the bucketed index-side scan on THIS plan; [[noveltyProbe]]
    * materializes and releases — the [[probeLazy]] discipline). */
  private[graft] def noveltyProbeLazy(spark: SparkSession, table: String,
      newDocs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val sn = postings(newDocs, idCol, textCol).localCheckpoint()
    val sz = sn.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    // two separate membership legs — a union of the two sources would
    // force both through one shuffle; split, the postings semi-join
    // reads the index's bucketed layout and the hot leg broadcasts.
    // Disjointness is enforced HERE, not assumed: hot grams are routed
    // out of the batch side (broadcast anti-join, hot table is tiny)
    // before the postings leg, so even a postings table that came to
    // contain a hot gram (e.g. via a pre-fix appendKept, which now
    // also filters — see [[appendKept]]) can never count a gram twice
    // and push novelty negative
    val hot = broadcast(spark.table(s"${table}_hot").select(col("h")))
    val inIdx = sn.join(hot, Seq("h"), "left_anti")
      .join(spark.table(table).select(col("h")), Seq("h"), "left_semi")
    val inHot = sn.join(hot, Seq("h"), "left_semi")
    val matched = inIdx.unionByName(inHot)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    val out = sz.join(matched, Seq(idCol), "left")
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .select(col(idCol), col("n_grams"),
        (col("n_grams") - col("n_seen")).as("n_unseen"),
        round((col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams"), 6).as("novelty"))
    (out, sn)
  }

  /** Probe a new batch: directed containment of each new doc in each
    * matched history doc, over the indexed (uncapped) shingles.
    * @return (src_id, dst_id, inter, sz, containment) for pairs with
    *         containment ≥ threshold */
  def probe(spark: SparkSession, table: String, newDocs: DataFrame,
      threshold: Double = 0.9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (lazyOut, sn) = probeLazy(spark, table, newDocs, threshold,
      idCol, textCol)
    val out = lazyOut.localCheckpoint() // pairs-sized; release postings
    graft.ext.Checkpoints.release(sn)
    out
  }

  /** The lazy probe plan + the pinned batch-posting table (IOSpec
    * asserts the bucketed index-side scan on THIS plan; [[probe]]
    * materializes and releases). */
  private[graft] def probeLazy(spark: SparkSession, table: String,
      newDocs: DataFrame, threshold: Double, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val sn = postings(newDocs, idCol, textCol)
      .localCheckpoint() // read twice: size + match legs
    val sz = sn.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val matches = sn.join(spark.table(table), "h")
      .groupBy(col(idCol), col("hist_id")).agg(count(lit(1)).as("inter"))
    val out = matches.join(sz, Seq(idCol))
      .withColumn("containment", round(
        col("inter").cast("double") / col("sz").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col(idCol).as("src_id"), col("hist_id").as("dst_id"),
        col("inter"), col("sz"), col("containment"))
    (out, sn)
  }

  /** Fold new kept docs' postings into the index — O(batch),
    * bucket-preserving. Grams already recorded as capped-hot are
    * EXCLUDED (broadcast anti-join against the tiny `_hot` companion):
    * writeIndex deliberately routes df>maxDf grams out of the
    * postings, and appending one back would (a) fan every future
    * containment probe across its df-wide posting list and (b) break
    * the postings/_hot disjointness [[noveltyProbe]]'s seen-union
    * relies on. Batch-local df the index hasn't seen yet cannot be
    * capped here (a batch can't see corpus-wide df); periodic rebuilds
    * re-cap. */
  def appendKept(spark: SparkSession, table: String, keptDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    HashIndexWriter.append(spark, table,
      postings(keptDocs, idCol, textCol)
        .join(broadcast(spark.table(s"${table}_hot").select(col("h"))),
          Seq("h"), "left_anti")
        .select(col("h"), col(idCol).as("hist_id")),
      "h")
}

/** On-disk MinHash-LSH band index — the TEXT near-duplicate analog of
  * [[DHashIndex]], closing the nightly-ingest family's last gap: the
  * exact-fingerprint ([[FingerprintIndex]]) and containment
  * ([[ShingleIndex]]) probes miss lightly-edited near-dups, and the
  * batch LSH path ([[graft.ext.Dedup.lshVerifiedPairs]]) re-shuffles
  * the whole corpus every run. Here history's banded minhash rows
  * ((band|k0|k1) composite key + the full signature) persist as a
  * bucketed external table: each nightly batch computes its own
  * signatures (O(batch)), band-joins against the co-located index
  * side, and scores candidates by SIGNATURE AGREEMENT — the standard
  * minhash Jaccard estimate matches/numHashes — so no history text or
  * shingles are ever stored or re-read.
  *
  * Hot-bucket guard at BUILD time: each band bucket keeps only its
  * `bucketCap` lowest ids ([[graft.ext.Dedup.lshCandidates]]'s
  * KMV-bottom-k discipline), so a 10⁷-doc template family in history
  * cannot fan a probe out quadratically. [[appendKept]] preserves the
  * bucketed layout but cannot see resident bucket membership — caps
  * re-tighten at the periodic rebuild, the same compaction window
  * that bounds per-bucket file counts.
  *
  * Banding completeness: a candidate surfaces iff some band's
  * `rowsPerBand` hashes all agree, so every reported match has
  * n_matches ≥ rowsPerBand; `minMatches` then thresholds the
  * estimated similarity (minMatches/numHashes ≈ the Jaccard floor).
  */
object MinHashBandIndex {

  /** In-place bucket-preserving rewrite bounding per-bucket file
    * counts after an append cadence — [[HashIndexWriter.compact]]. */
  def compact(spark: SparkSession, table: String, path: String): Unit =
    HashIndexWriter.compact(spark, table, path)


  private def bandRows(sigs: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    val structs = (0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r =>
        col(s"m${b * rowsPerBand + r}").as(s"k$r"))
      struct(lit(b).as("band") +: ks: _*)
    }
    val sigCols = (0 until numHashes).map(i => col(s"m$i"))
    sigs.select((col(idCol) +: sigCols :+
        explode(array(structs: _*)).as("bk")): _*)
      .withColumn("band_key", concat_ws("|",
        col("bk.band") +: (0 until rowsPerBand).map(i => col(s"bk.k$i")): _*))
      .drop("bk")
  }

  /** Build + persist history's capped band rows, bucketed by the
    * composite band key. */
  def writeIndex(corpus: DataFrame, table: String, path: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, bucketCap: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text",
      numBuckets: Int = 0): Unit = {
    val sigs = Dedup.minhashSignatures(corpus, numHashes, idCol, textCol)
    val rows = bandRows(sigs, idCol, numHashes, rowsPerBand)
    val keep = rows.groupBy("band_key")
      .agg(graft.expressions.KmvSketchAgg.kmv(col(idCol), bucketCap).as("ids"))
      .select(col("band_key"), explode(col("ids")).as(idCol))
    HashIndexWriter.write(rows.join(keep, Seq("band_key", idCol), "left_semi"),
      table, path, "band_key", numBuckets)
  }

  /** Screen a new batch against the index AND itself: status ∈
    * kept | dup_batch | dup_history (history beats batch, the
    * [[FingerprintIndex]] convention); dup_of = the best match by
    * (n_matches desc, lowest id) — deterministic. n_matches = agreeing
    * minhash positions of the winning match (null for kept).
    * @return (doc_id, status, dup_of, n_matches). */
  def probe(spark: SparkSession, table: String, newDocs: DataFrame,
      numHashes: Int = 8, rowsPerBand: Int = 2, minMatches: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // signatures feed three plan subtrees (history band join, batch
    // self-banding, final assembly) — checkpoint once, callers reclaim
    val sigs = Dedup.minhashSignatures(newDocs, numHashes, idCol, textCol)
      .localCheckpoint()
    val batchBands = bandRows(sigs, idCol, numHashes, rowsPerBand)
    val hist = spark.table(table)
    def matches(l: Int => Column, r: Int => Column): Column =
      (0 until numHashes).map(i =>
        when(l(i) === r(i), 1).otherwise(0)).reduce(_ + _)
    val histBest = batchBands.select(col(idCol), col("band_key"))
      .join(hist.select(col("band_key") +: col(idCol).as("hist_id") +:
          (0 until numHashes).map(i => col(s"m$i").as(s"h$i")): _*),
        Seq("band_key"))
      // at-least-once replay AFTER appendKept folded this batch in
      // must reproduce the original statuses, not self-matches
      .filter(col("hist_id") =!= col(idCol))
      .select((col(idCol) +: col("hist_id") +:
        (0 until numHashes).map(i => col(s"h$i"))): _*)
      .distinct()
      .join(sigs, Seq(idCol))
      .withColumn("cnt", matches(i => col(s"m$i"), i => col(s"h$i")))
      .filter(col("cnt") >= minMatches)
      .groupBy(col(idCol))
      .agg(min(struct((lit(numHashes) - col("cnt")).as("neg"),
        col("hist_id"))).as("m"))
      .select(col(idCol), col("m.hist_id").as("hist_of"),
        (lit(numHashes) - col("m.neg")).as("hist_cnt"))
    val batchPairs = Dedup.lshCandidates(sigs, numHashes, rowsPerBand, idCol)
      .select(col("a_id"), col("b_id"))
      .join(sigs.select(col(idCol).as("a_id") +:
        (0 until numHashes).map(i => col(s"m$i").as(s"a$i")): _*), Seq("a_id"))
      .join(sigs.select(col(idCol).as("b_id") +:
        (0 until numHashes).map(i => col(s"m$i").as(s"b$i")): _*), Seq("b_id"))
      .withColumn("cnt", matches(i => col(s"a$i"), i => col(s"b$i")))
      .filter(col("cnt") >= minMatches)
    val batchBest = batchPairs
      .groupBy(col("b_id").as(idCol))
      .agg(min(struct((lit(numHashes) - col("cnt")).as("neg"),
        col("a_id"))).as("m"))
      .select(col(idCol), col("m.a_id").as("batch_of"),
        (lit(numHashes) - col("m.neg")).as("batch_cnt"))
    sigs.select(col(idCol))
      .join(histBest, Seq(idCol), "left")
      .join(batchBest, Seq(idCol), "left")
      .select(col(idCol),
        when(col("hist_of").isNotNull, lit("dup_history"))
          .when(col("batch_of").isNotNull, lit("dup_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("hist_of").isNotNull, col("hist_of"))
          .otherwise(col("batch_of")).as("dup_of"),
        when(col("hist_of").isNotNull, col("hist_cnt"))
          .otherwise(col("batch_cnt")).cast("int").as("n_matches"))
  }

  /** Fold a probe's kept docs back into the index — the O(batch)
    * nightly append ([[FingerprintIndex.appendKept]] discipline).
    * Recomputes signatures from the kept docs' text. */
  def appendKept(spark: SparkSession, table: String, keptDocs: DataFrame,
      numHashes: Int = 8, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    HashIndexWriter.append(spark, table,
      bandRows(Dedup.minhashSignatures(keptDocs, numHashes, idCol, textCol),
        idCol, numHashes, rowsPerBand),
      "band_key")
}
