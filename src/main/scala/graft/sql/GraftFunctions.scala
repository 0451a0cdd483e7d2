package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** BigQuery-surface functions registered as real SQL functions —
  * Catalyst expression compositions (tier (b) of the extension
  * preference order: no custom Expression class is needed because
  * every semantic decomposes into codegen'd built-ins; SURVEY §4).
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for a session built with them
  *    ([[graft.GraftSession.local]] injects them)
  *  - [[GraftFunctions.register]] for a live session (temp functions)
  *
  * After registration, `spark.sql` accepts e.g.
  * `st_distance(st_geogpoint(lon1, lat1), st_geogpoint(lon2, lat2))`
  * (meters, haversine) and `regexp_contains(s, pattern)` directly —
  * no textual rewrite required.
  *
  * The LLM-pipeline family (whole-table operators) is additionally
  * exposed as TABLE functions — `gopher_rules('tbl')`,
  * `hash_split('tbl', 80, 10)`, `dedup_candidates('tbl')` — so a
  * SQL-text user reaches the same implementations the Scala API
  * runs (the TVF splices the operator's logical plan into the
  * query; see `tableFns`).
  */
object GraftFunctions {

  private def lit(d: Double): Expression = Literal(d)
  private def field(e: Expression, name: String): Expression =
    UnresolvedExtractValue(e, Literal(name))

  /** st_geogpoint(lon, lat) -> struct<lon,lat> (SURVEY D6: no native
    * geo type; a typed coordinate pair carries the semantics). */
  def stGeogpoint(args: Seq[Expression]): Expression =
    CreateNamedStruct(Seq(Literal("lon"), args(0), Literal("lat"), args(1)))

  /** st_distance(p1, p2) in meters — haversine, sphere R=6371008.8 m
    * (locations_clean.sql:48; spheroid divergence ≤0.5%, SURVEY §7.3). */
  def stDistance(args: Seq[Expression]): Expression = {
    val (lat1, lon1) = (field(args(0), "lat"), field(args(0), "lon"))
    val (lat2, lon2) = (field(args(1), "lat"), field(args(1), "lon"))
    def rad(e: Expression) = ToRadians(e)
    val dLat = Divide(rad(Subtract(lat2, lat1)), lit(2.0))
    val dLon = Divide(rad(Subtract(lon2, lon1)), lit(2.0))
    val a = Add(
      Pow(Sin(dLat), lit(2.0)),
      Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))), Pow(Sin(dLon), lit(2.0))))
    Multiply(Multiply(lit(6371008.8), lit(2.0)), Asin(Sqrt(a)))
  }

  /** st_distance_spheroid(p1, p2) in meters — WGS84 Vincenty geodesic
    * ([[graft.expressions.VincentyDistance]]), what live BigQuery's
    * ST_DISTANCE computes; use when the ≤0.5% sphere divergence
    * matters (e.g. the 10-mile threshold, locations_clean.sql:63). */
  def stDistanceSpheroid(args: Seq[Expression]): Expression =
    graft.expressions.VincentyDistance(
      field(args(0), "lat"), field(args(0), "lon"),
      field(args(1), "lat"), field(args(1), "lon"))

  /** regexp_contains(s, pattern) -> s RLIKE pattern. */
  def regexpContains(args: Seq[Expression]): Expression = RLike(args(0), args(1))

  /** date_diff_years(a, b) — BigQuery DATE_DIFF(a, b, YEAR) boundary
    * crossings (user_base.sql:50-54). */
  def dateDiffYears(args: Seq[Expression]): Expression =
    Subtract(Year(args(0)), Year(args(1)))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_geogpoint" -> stGeogpoint _,
    "st_distance" -> stDistance _,
    "st_distance_spheroid" -> stDistanceSpheroid _,
    "regexp_contains" -> regexpContains _,
    "date_diff_years" -> dateDiffYears _,
    // native codegen'd ANN hot-loop (graft.expressions.DotProduct)
    "dot_product" -> ((args: Seq[Expression]) =>
      graft.expressions.DotProduct(args(0), args(1))),
    // native Unicode NFC normalization (pre-dedup cleaning pass)
    "nfc_normalize" -> ((args: Seq[Expression]) =>
      graft.expressions.NfcNormalize(args(0))),
    // native Jaro-Winkler name comparator (record-linkage hot loop)
    "jaro_winkler" -> ((args: Seq[Expression]) =>
      graft.expressions.JaroWinkler(args(0), args(1))),
    // geo radius predicate; RewriteStDWithin expands it to a pushed
    // bounding box + exact residual (graft.plans.GeoRules)
    "st_dwithin" -> ((args: Seq[Expression]) =>
      graft.expressions.StDWithin(args(0), args(1), args(2), args(3), args(4))),
    // native Aho–Corasick multi-pattern search: the blocklist gate as
    // SQL — multi_match(text, 'p1', 'p2', ...) → array of matched
    // patterns (pattern-list order); patterns must be literals (they
    // compile into the automaton)
    "multi_match" -> ((args: Seq[Expression]) =>
      graft.expressions.MultiMatch(args.head,
        args.tail.map(e => strArg(e, "multi_match pattern")))))

  // ---- table-valued surface for the LLM-pipeline operators ----
  // The ext family (dedup / curation) is whole-table → whole-table,
  // so its SQL entry point is a TVF, not a scalar:
  //   SELECT doc_id FROM gopher_rules('documents') WHERE keep
  //   SELECT * FROM hash_split('documents', 80, 10)
  //   SELECT * FROM dedup_candidates('documents')
  // The builder resolves the quoted table name against the ACTIVE
  // session (temp views and catalog tables both work) and splices the
  // operator's own logical plan in — SQL and Scala callers share one
  // implementation, so they cannot drift.

  private def strArg(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a string literal")
    String.valueOf(e.eval())
  }
  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be an integer literal")
    e.eval().asInstanceOf[Number].intValue
  }
  private def dblArg(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a numeric literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue
      case other => sys.error(s"$what must be numeric, got $other")
    }
  }
  private def tableOf(name: String) = SparkSession.active.table(name)

  /** gopher_rules(tbl[, minTokens]) — [[graft.ext.Curation.gopherRules]]. */
  def gopherRulesTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "gopher_rules(table)"))
    val out =
      if (args.length > 1)
        graft.ext.Curation.gopherRules(df,
          minTokens = intArg(args(1), "gopher_rules(minTokens)"))
      else graft.ext.Curation.gopherRules(df)
    out.queryExecution.logical
  }

  /** quantile_sketch(tbl, groupCol, keyCol, valCol[, shift]) —
    * [[graft.ext.Sketches.quantileSketch]]. */
  def quantileSketchTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 4,
      "quantile_sketch(table, groupCol, keyCol, valCol[, shift])")
    val df = tableOf(strArg(args.head, "quantile_sketch(table)"))
    graft.ext.Sketches.quantileSketch(df,
      groupCol = strArg(args(1), "quantile_sketch(groupCol)"),
      keyCol = strArg(args(2), "quantile_sketch(keyCol)"),
      valCol = strArg(args(3), "quantile_sketch(valCol)"),
      shift = if (args.length > 4) intArg(args(4), "quantile_sketch(shift)")
              else 3)
      .queryExecution.logical
  }

  /** hash_split(tbl[, trainPct, valPct]) — [[graft.ext.Curation.hashSplit]]. */
  def hashSplitTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "hash_split(table)"))
    val (tr, va) =
      if (args.length > 2) (intArg(args(1), "hash_split(trainPct)"),
        intArg(args(2), "hash_split(valPct)"))
      else (80, 10)
    graft.ext.Curation.hashSplit(df, trainPct = tr, valPct = va)
      .queryExecution.logical
  }

  /** dedup_candidates(tbl[, numHashes, rowsPerBand]) — MinHash+LSH
    * candidate pairs ([[graft.ext.Dedup.minhashSignatures]] →
    * [[graft.ext.Dedup.lshCandidates]]). */
  def dedupCandidatesTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "dedup_candidates(table)"))
    val nh =
      if (args.length > 1) intArg(args(1), "dedup_candidates(numHashes)")
      else 8
    val rpb =
      if (args.length > 2) intArg(args(2), "dedup_candidates(rowsPerBand)")
      else 2
    graft.ext.Dedup.lshCandidates(
      graft.ext.Dedup.minhashSignatures(df, numHashes = nh),
      numHashes = nh, rowsPerBand = rpb).queryExecution.logical
  }

  /** text_stats(tbl) — [[graft.ext.TextAnalysis.withStats]]. */
  def textStatsTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.withStats(
      tableOf(strArg(args.head, "text_stats(table)"))).queryExecution.logical

  /** dsir_score(docsTbl, modelTbl[, buckets]) —
    * [[graft.ext.Curation.dsirScore]] against a model trained with
    * [[graft.ext.Curation.dsirModel]] (stored as a table/view). */
  def dsirScoreTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head, "dsir_score(docsTable)"))
    val model = tableOf(strArg(args(1), "dsir_score(modelTable)"))
    val buckets =
      if (args.length > 2) intArg(args(2), "dsir_score(buckets)") else 8192
    graft.ext.Curation.dsirScore(docs, model, buckets).queryExecution.logical
  }

  /** memorization_score(docsTbl, refTbl[, n]) —
    * [[graft.ext.Curation.memorizationScore]]. */
  def memorizationTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head, "memorization_score(docsTable)"))
    val ref = tableOf(strArg(args(1), "memorization_score(refTable)"))
    val n = if (args.length > 2) intArg(args(2), "memorization_score(n)") else 8
    graft.ext.Curation.memorizationScore(docs, ref, n).queryExecution.logical
  }

  /** simhash_near_dups(tbl[, maxHamming]) —
    * [[graft.ext.Dedup.simhashNearDups]]. */
  def simhashNearDupsTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "simhash_near_dups(table)"))
    val mh =
      if (args.length > 1) intArg(args(1), "simhash_near_dups(maxHamming)")
      else 3
    graft.ext.Dedup.simhashNearDups(df, maxHamming = mh)
      .queryExecution.logical
  }

  /** cross_near_dups(trainTbl, benchTbl[, numHashes, rowsPerBand]) —
    * [[graft.ext.Dedup.crossNearDups]]. */
  def crossNearDupsTvf(args: Seq[Expression]): LogicalPlan = {
    val l = tableOf(strArg(args.head, "cross_near_dups(trainTable)"))
    val r = tableOf(strArg(args(1), "cross_near_dups(benchTable)"))
    val nh =
      if (args.length > 2) intArg(args(2), "cross_near_dups(numHashes)")
      else 8
    val rpb =
      if (args.length > 3) intArg(args(3), "cross_near_dups(rowsPerBand)")
      else 2
    graft.ext.Dedup.crossNearDups(l, r, numHashes = nh, rowsPerBand = rpb)
      .queryExecution.logical
  }

  /** prefix_jaccard(tbl[, threshold]) —
    * [[graft.ext.Dedup.prefixJaccardJoin]]. */
  def prefixJaccardTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "prefix_jaccard(table)"))
    val thr =
      if (args.length > 1) dblArg(args(1), "prefix_jaccard(threshold)")
      else 0.5
    graft.ext.Dedup.prefixJaccardJoin(df, threshold = thr)
      .queryExecution.logical
  }

  /** rrf_fuse('tblA', 'tblB', ...[, rrfK, topK]) — every leading
    * string literal names a ranked-list table carrying
    * (item_id, rank); trailing integer literals override the fusion
    * constant and cutoff ([[graft.ext.TextAnalysis.rrfFuse]]). */
  def rrfFuseTvf(args: Seq[Expression]): LogicalPlan = {
    val (tblArgs, numArgs) =
      args.span(_.dataType == org.apache.spark.sql.types.StringType)
    require(tblArgs.nonEmpty, "rrf_fuse needs at least one ranking table")
    val tables = tblArgs.map(a => tableOf(strArg(a, "rrf_fuse(table)")))
    val rrfK =
      if (numArgs.nonEmpty) intArg(numArgs(0), "rrf_fuse(rrfK)") else 60
    val topK =
      if (numArgs.length > 1) intArg(numArgs(1), "rrf_fuse(topK)") else 10
    graft.ext.TextAnalysis.rrfFuse(tables, rrfK = rrfK, topK = topK)
      .queryExecution.logical
  }

  /** ppl_buckets(tbl[, nBuckets]) — exact per-source perplexity
    * terciles ([[graft.ext.Curation.perplexityBuckets]]); the
    * zero-sort twin is reachable as ppl_buckets_approx. */
  def pplBucketsTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "ppl_buckets(table)"))
    val nb =
      if (args.length > 1) intArg(args(1), "ppl_buckets(nBuckets)") else 3
    graft.ext.Curation.perplexityBuckets(df, nBuckets = nb)
      .queryExecution.logical
  }

  /** ppl_buckets_approx(tbl[, nBuckets]) — histogram-CDF cutoffs,
    * zero-sort assignment
    * ([[graft.ext.Curation.perplexityBucketsApprox]]). */
  def pplBucketsApproxTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "ppl_buckets_approx(table)"))
    val nb =
      if (args.length > 1) intArg(args(1), "ppl_buckets_approx(nBuckets)")
      else 3
    graft.ext.Curation.perplexityBucketsApprox(df, nBuckets = nb)
      .queryExecution.logical
  }

  /** fp_index_probe(indexTbl, batchTbl) — screen a batch against a
    * written [[graft.operators.FingerprintIndex]] (the index table
    * must exist; build it with `FingerprintIndex.writeIndex`). */
  def fpIndexProbeTvf(args: Seq[Expression]): LogicalPlan = {
    val idx = strArg(args.head, "fp_index_probe(indexTable)")
    val batch = tableOf(strArg(args(1), "fp_index_probe(batchTable)"))
    graft.operators.FingerprintIndex.probe(SparkSession.active, idx, batch)
      .queryExecution.logical
  }

  /** mh_index_probe(indexTbl, batchTbl) — near-dup screen a batch
    * against a written [[graft.operators.MinHashBandIndex]] (build it
    * with `MinHashBandIndex.writeIndex`; statuses kept | dup_batch |
    * dup_history by signature agreement). */
  def mhIndexProbeTvf(args: Seq[Expression]): LogicalPlan = {
    val idx = strArg(args.head, "mh_index_probe(indexTable)")
    val batch = tableOf(strArg(args(1), "mh_index_probe(batchTable)"))
    graft.operators.MinHashBandIndex.probe(SparkSession.active, idx, batch)
      .queryExecution.logical
  }

  /** bp_index_probe(indexTbl, docsTbl) — clean docs against a written
    * [[graft.operators.BoilerplateIndex]] line census. */
  def bpIndexProbeTvf(args: Seq[Expression]): LogicalPlan = {
    val idx = strArg(args.head, "bp_index_probe(indexTable)")
    val docs = tableOf(strArg(args(1), "bp_index_probe(docsTable)"))
    graft.operators.BoilerplateIndex.probe(SparkSession.active, idx, docs)
      .queryExecution.logical
  }

  /** mem_index_probe(indexTbl, docsTbl[, n]) — score docs against a
    * written [[graft.operators.MemorizationIndex]]; `n` must match
    * the build (default 8). */
  def memIndexProbeTvf(args: Seq[Expression]): LogicalPlan = {
    val idx = strArg(args.head, "mem_index_probe(indexTable)")
    val docs = tableOf(strArg(args(1), "mem_index_probe(docsTable)"))
    val n = if (args.length > 2) intArg(args(2), "mem_index_probe(n)") else 8
    graft.operators.MemorizationIndex.probe(SparkSession.active, idx, docs, n)
      .queryExecution.logical
  }

  /** line_dedup(tbl[, minDocs]) — cross-document boilerplate-line
    * removal ([[graft.ext.Dedup.lineDedup]]). */
  def lineDedupTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "line_dedup(table)"))
    val md = if (args.length > 1) intArg(args(1), "line_dedup(minDocs)") else 3
    graft.ext.Dedup.lineDedup(df, minDocs = md).queryExecution.logical
  }

  /** c4_clean(tbl[, minWords, minKeptLines]) — C4 line-quality
    * cleaning ([[graft.ext.Curation.c4Clean]]). */
  def c4CleanTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "c4_clean(table)"))
    val mw = if (args.length > 1) intArg(args(1), "c4_clean(minWords)") else 3
    val ml = if (args.length > 2) intArg(args(2), "c4_clean(minKeptLines)") else 3
    graft.ext.Curation.c4Clean(df, minWords = mw, minKeptLines = ml)
      .queryExecution.logical
  }

  /** quality_classify(docsTbl, weightsTbl[, dims, thresholdMicro]) —
    * hashed-bigram linear-model scoring
    * ([[graft.ext.Curation.qualityClassify]]); weightsTbl carries
    * (bucket, w_micro). */
  def qualityClassifyTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head, "quality_classify(docsTable)"))
    val w = tableOf(strArg(args(1), "quality_classify(weightsTable)"))
    val dims =
      if (args.length > 2) intArg(args(2), "quality_classify(dims)")
      else 1 << 16
    val thr =
      if (args.length > 3) intArg(args(3), "quality_classify(thresholdMicro)")
      else 0
    graft.ext.Curation.qualityClassify(docs, w, dims, thr.toLong)
      .queryExecution.logical
  }

  // ---- graph family: edge tables (src, dst) → whole-table results ----

  /** page_rank(edgesTbl[, iters, damping]) —
    * [[graft.operators.Graph.pageRank]] (damping in percent). */
  def pageRankTvf(args: Seq[Expression]): LogicalPlan = {
    val edges = tableOf(strArg(args.head, "page_rank(edgesTable)"))
    val it = if (args.length > 1) intArg(args(1), "page_rank(iters)") else 3
    val d = if (args.length > 2) intArg(args(2), "page_rank(damping)") else 85
    graft.operators.Graph.pageRank(edges, iters = it, damping = d)
      .queryExecution.logical
  }

  /** label_prop(edgesTbl[, iters]) —
    * [[graft.operators.Graph.labelPropagation]]. */
  def labelPropTvf(args: Seq[Expression]): LogicalPlan = {
    val edges = tableOf(strArg(args.head, "label_prop(edgesTable)"))
    val it = if (args.length > 1) intArg(args(1), "label_prop(iters)") else 3
    graft.operators.Graph.labelPropagation(edges, iters = it)
      .queryExecution.logical
  }

  /** triangle_count(edgesTbl) —
    * [[graft.operators.Graph.triangleCount]]. */
  def triangleCountTvf(args: Seq[Expression]): LogicalPlan =
    graft.operators.Graph.triangleCount(
      tableOf(strArg(args.head, "triangle_count(edgesTable)")))
      .queryExecution.logical

  /** k_core(edgesTbl[, k]) — synchronous-peel k-core over an
    * undirected (src, dst) edge table
    * ([[graft.operators.Graph.kCore]]). */
  def kCoreTvf(args: Seq[Expression]): LogicalPlan = {
    val e = tableOf(strArg(args.head, "k_core(edgesTable)"))
    val k = if (args.length > 1) intArg(args(1), "k_core(k)") else 2
    graft.operators.Graph.kCore(e, k).queryExecution.logical
  }

  /** ancestors(edgesTbl[, maxDepth]) — WITH RECURSIVE hierarchy
    * flatten over (child, parent) edges
    * ([[graft.operators.Graph.ancestors]]). */
  def ancestorsTvf(args: Seq[Expression]): LogicalPlan = {
    val e = tableOf(strArg(args.head, "ancestors(edgesTable)"))
    val d = if (args.length > 1) intArg(args(1), "ancestors(maxDepth)") else 12
    graft.operators.Graph.ancestors(e, d).queryExecution.logical
  }

  /** change_feed(oldTbl, newTbl, keyCol...) — minimal I/U/D diff
    * between two keyed table versions
    * ([[graft.model.Incremental.changeFeed]]). */
  def changeFeedTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3, "change_feed(oldTable, newTable, keyCol...)")
    val oldV = tableOf(strArg(args.head, "change_feed(oldTable)"))
    val newV = tableOf(strArg(args(1), "change_feed(newTable)"))
    val keys = args.drop(2).map(strArg(_, "change_feed(keyCol)"))
    graft.model.Incremental.changeFeed(oldV, newV, keys).queryExecution.logical
  }

  /** connected_components(pairsTbl) — union-find over an (a_id, b_id)
    * pair table ([[graft.ext.Dedup.connectedComponents]]); the SQL
    * path to cluster any candidate-pair TVF's output. */
  def connectedComponentsTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Dedup.connectedComponents(
      tableOf(strArg(args.head, "connected_components(pairsTable)")))
      .queryExecution.logical

  // ---- ANN / retrieval family ----

  /** ann_topk(queriesTbl, corpusTbl[, k]) — brute-force cosine top-k
    * of each query vector over the corpus
    * ([[graft.ext.Similarity.serveTopK]]; both tables carry
    * (vec_id, embedding)). */
  def annTopkTvf(args: Seq[Expression]): LogicalPlan = {
    val q = tableOf(strArg(args.head, "ann_topk(queriesTable)"))
    val c = tableOf(strArg(args(1), "ann_topk(corpusTable)"))
    val k = if (args.length > 2) intArg(args(2), "ann_topk(k)") else 10
    graft.ext.Similarity.serveTopK(q, c, k).queryExecution.logical
  }

  /** bm25_topk(tbl, 'term term ...'[, k]) — whitespace-separated
    * query terms ([[graft.ext.TextAnalysis.bm25TopK]]). */
  def bm25TopkTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "bm25_topk(table)"))
    val terms = strArg(args(1), "bm25_topk(terms)")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val k = if (args.length > 2) intArg(args(2), "bm25_topk(k)") else 20
    graft.ext.TextAnalysis.bm25TopK(df, terms, k).queryExecution.logical
  }

  /** entity_resolution(tbl[, maxEdit, maxBlock]) — record linkage
    * over (record_id, name) rows
    * ([[graft.ext.EntityResolution.resolve]]). */
  def entityResolutionTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "entity_resolution(table)"))
    val me =
      if (args.length > 1) intArg(args(1), "entity_resolution(maxEdit)")
      else 1
    val mb =
      if (args.length > 2) intArg(args(2), "entity_resolution(maxBlock)")
      else 64
    graft.ext.EntityResolution.resolve(df, maxEdit = me, maxBlock = mb)
      .queryExecution.logical
  }

  /** entity_resolution_jw(tbl[, minJwMicro, maxBlock]) — the
    * Jaro–Winkler-residual form
    * ([[graft.ext.EntityResolution.resolveJw]]); the threshold is
    * passed in MICRO units (900000 = 0.9) so the SQL surface stays
    * integer-exact. */
  def entityResolutionJwTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "entity_resolution_jw(table)"))
    val thr =
      if (args.length > 1) intArg(args(1), "entity_resolution_jw(minJwMicro)")
      else 900000
    val mb =
      if (args.length > 2) intArg(args(2), "entity_resolution_jw(maxBlock)")
      else 64
    graft.ext.EntityResolution.resolveJw(df, minJw = thr / 1e6, maxBlock = mb)
      .queryExecution.logical
  }

  /** entity_resolution_sn(tbl[, window, maxEdit]) — sorted-
    * neighborhood candidate generation
    * ([[graft.ext.EntityResolution.resolveSortedNeighborhood]]). */
  def entityResolutionSnTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "entity_resolution_sn(table)"))
    val w =
      if (args.length > 1) intArg(args(1), "entity_resolution_sn(window)")
      else 8
    val me =
      if (args.length > 2) intArg(args(2), "entity_resolution_sn(maxEdit)")
      else 1
    graft.ext.EntityResolution.resolveSortedNeighborhood(df,
      window = w, maxEdit = me).queryExecution.logical
  }

  /** cms_heavy_hitters(tbl[, k, depth, width]) — count-min estimated
    * heavy-hitter bigrams ([[graft.ext.Sketches.cmsHeavyHitters]]). */
  def cmsHeavyHittersTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "cms_heavy_hitters(table)"))
    val k =
      if (args.length > 1) intArg(args(1), "cms_heavy_hitters(k)") else 50
    val d =
      if (args.length > 2) intArg(args(2), "cms_heavy_hitters(depth)") else 4
    val w =
      if (args.length > 3) intArg(args(3), "cms_heavy_hitters(width)")
      else 256
    graft.ext.Sketches.cmsHeavyHitters(df, k = k, depth = d, width = w)
      .queryExecution.logical
  }

  /** kn_bigram(tbl[, topK]) — interpolated Kneser–Ney bigram table
    * ([[graft.ext.Curation.knBigramTable]]). */
  def knBigramTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "kn_bigram(table)"))
    val k = if (args.length > 1) intArg(args(1), "kn_bigram(topK)") else 100
    graft.ext.Curation.knBigramTable(df, topK = k).queryExecution.logical
  }

  /** hll_distinct_by(tbl, 'groupCol'[, 'keyCol', m]) — per-group
    * HyperLogLog distinct estimate
    * ([[graft.ext.Sketches.hllDistinctBy]]). */
  def hllDistinctByTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "hll_distinct_by(table)"))
    val grp = strArg(args(1), "hll_distinct_by(groupCol)")
    val key =
      if (args.length > 2) strArg(args(2), "hll_distinct_by(keyCol)")
      else "key"
    val m = if (args.length > 3) intArg(args(3), "hll_distinct_by(m)") else 256
    graft.ext.Sketches.hllDistinctBy(df, grp, key, m).queryExecution.logical
  }

  /** mmr_select(candsTbl, simsTbl[, k]) — MMR diversified selection
    * over (query_id, cid, rel_micro) candidates and (query_id, a, b,
    * sim_micro) pair similarities ([[graft.ext.Similarity.mmrSelect]]). */
  /** conversation_near_dups(docsTbl[, threshold, turnTokens]) —
    * sequence-level near-dup pairs over ordered turn-hash trigrams
    * ([[graft.ext.Dedup.conversationNearDups]]). */
  def conversationNearDupsTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head,
      "conversation_near_dups(docsTable)"))
    val th = if (args.length > 1)
      dblArg(args(1), "conversation_near_dups(threshold)") else 0.1
    val tt = if (args.length > 2)
      intArg(args(2), "conversation_near_dups(turnTokens)") else 8
    graft.ext.Dedup.conversationNearDups(docs, th, tt)
      .queryExecution.logical
  }

  /** token_budget(docsTbl, budget[, alpha]) — per-source token-budget
    * waterfill allocation ([[graft.ext.Curation.tokenBudgetAllocate]]). */
  def tokenBudgetTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "token_budget(docsTable, budget[, alpha])")
    val docs = tableOf(strArg(args.head, "token_budget(docsTable)"))
    val b = intArg(args(1), "token_budget(budget)").toLong
    val a = if (args.length > 2) dblArg(args(2), "token_budget(alpha)")
      else 0.5
    graft.ext.Curation.tokenBudgetAllocate(docs, b, a)
      .queryExecution.logical
  }

  /** turn_repetition(docsTbl[, turnTokens]) — within-conversation
    * identical-turn runs and repeat fraction
    * ([[graft.ext.Dedup.turnRepetition]]). */
  def turnRepetitionTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head, "turn_repetition(docsTable)"))
    val tt = if (args.length > 1)
      intArg(args(1), "turn_repetition(turnTokens)") else 8
    graft.ext.Dedup.turnRepetition(docs, tt).queryExecution.logical
  }

  /** conversation_structure(docsTbl) — role-aware transcript lints:
    * alternation violations, empty turns, truncated last turn
    * ([[graft.ext.Dedup.conversationStructure]]). */
  def conversationStructureTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head,
      "conversation_structure(docsTable)"))
    graft.ext.Dedup.conversationStructure(docs).queryExecution.logical
  }

  /** structured_output_lint(docsTbl) — assistant-turn code-fence and
    * JSON emission lints: unclosed fences, unparseable ```json
    * blocks, inline JSON validity
    * ([[graft.ext.Dedup.structuredOutputLint]]). */
  def structuredOutputLintTvf(args: Seq[Expression]): LogicalPlan = {
    val docs = tableOf(strArg(args.head,
      "structured_output_lint(docsTable)"))
    graft.ext.Dedup.structuredOutputLint(docs).queryExecution.logical
  }

  /** token_budget_sample(docsTbl, budget[, alpha]) — deterministic
    * per-source sample at the waterfill allocation rates
    * ([[graft.ext.Curation.tokenBudgetSample]]). */
  def tokenBudgetSampleTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2,
      "token_budget_sample(docsTable, budget[, alpha])")
    val docs = tableOf(strArg(args.head, "token_budget_sample(docsTable)"))
    val b = intArg(args(1), "token_budget_sample(budget)").toLong
    val a = if (args.length > 2)
      dblArg(args(2), "token_budget_sample(alpha)") else 0.5
    graft.ext.Curation.tokenBudgetSample(docs, b, a)
      .queryExecution.logical
  }

  def mmrSelectTvf(args: Seq[Expression]): LogicalPlan = {
    val cands = tableOf(strArg(args.head, "mmr_select(candsTable)"))
    val sims = tableOf(strArg(args(1), "mmr_select(simsTable)"))
    val k = if (args.length > 2) intArg(args(2), "mmr_select(k)") else 5
    graft.ext.Similarity.mmrSelect(cands, sims, k).queryExecution.logical
  }

  /** kmv_overlap(tbl, groupCol, keyCol[, k]) — per-group KMV sketches
    * composed into pairwise union/intersection distinct estimates
    * ([[graft.ext.Sketches.kmvSketchBy]] + [[graft.ext.Sketches.kmvOverlap]]). */
  def kmvOverlapTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3, "kmv_overlap(table, groupCol, keyCol[, k])")
    val df = tableOf(strArg(args.head, "kmv_overlap(table)"))
    val grp = strArg(args(1), "kmv_overlap(groupCol)")
    val k = if (args.length > 3) intArg(args(3), "kmv_overlap(k)") else 256
    graft.ext.Sketches.kmvOverlap(
      graft.ext.Sketches.kmvSketchBy(df, grp,
        strArg(args(2), "kmv_overlap(keyCol)"), k), grp, k)
      .queryExecution.logical
  }

  /** bradley_terry(tbl[, iters]) — per-item strength from (winner,
    * loser) comparison rows ([[graft.ext.Preferences.bradleyTerry]]). */
  def bradleyTerryTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "bradley_terry(table)"))
    val it = if (args.length > 1) intArg(args(1), "bradley_terry(iters)") else 3
    graft.ext.Preferences.bradleyTerry(df, iters = it).queryExecution.logical
  }

  /** rouge_n(candTbl, refTbl[, n]) — clipped n-gram overlap P/R/F1
    * over (pair_id, text) tables ([[graft.ext.TextAnalysis.rougeN]]). */
  def rougeNTvf(args: Seq[Expression]): LogicalPlan = {
    val cand = tableOf(strArg(args.head, "rouge_n(candTable)"))
    val ref = tableOf(strArg(args(1), "rouge_n(refTable)"))
    val n = if (args.length > 2) intArg(args(2), "rouge_n(n)") else 2
    graft.ext.TextAnalysis.rougeN(cand, ref, n).queryExecution.logical
  }

  /** corpus_drift(tbl[, buckets]) — per-source KL/JS divergence vs
    * the corpus mixture ([[graft.ext.Curation.corpusDrift]]). */
  def corpusDriftTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "corpus_drift(table)"))
    val b = if (args.length > 1) intArg(args(1), "corpus_drift(buckets)") else 256
    graft.ext.Curation.corpusDrift(df, buckets = b).queryExecution.logical
  }

  /** maxsim_topk(tbl[, k, numQueries]) — ColBERT late-interaction
    * retrieval over (vec_id, embedding)
    * ([[graft.ext.Similarity.maxSimTopK]]). */
  def maxsimTopkTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "maxsim_topk(table)"))
    val k = if (args.length > 1) intArg(args(1), "maxsim_topk(k)") else 10
    val nq = if (args.length > 2) intArg(args(2), "maxsim_topk(numQueries)") else 5
    // the token grid is callable-visible (not welded to the 64-dim
    // testdata): vectors shorter than nTokens·tokenDim score NULL by
    // the MaxSimScore contract rather than reading past the array
    val nt = if (args.length > 3) intArg(args(3), "maxsim_topk(nTokens)") else 8
    val td = if (args.length > 4) intArg(args(4), "maxsim_topk(tokenDim)") else 8
    graft.ext.Similarity.maxSimTopK(df, k = k, numQueries = nq,
      nTokens = nt, tokenDim = td).queryExecution.logical
  }

  /** vocab_richness(tbl) — Chao1 + Good–Turing coverage per source
    * ([[graft.ext.TextAnalysis.vocabRichness]]). */
  def vocabRichnessTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.vocabRichness(
      tableOf(strArg(args.head, "vocab_richness(table)")))
      .queryExecution.logical

  /** cohen_kappa(tbl) — chance-corrected agreement per group over
    * (group, label_a, label_b) rows
    * ([[graft.ext.Evaluation.cohenKappa]]). */
  def cohenKappaTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.cohenKappa(
      tableOf(strArg(args.head, "cohen_kappa(table)")))
      .queryExecution.logical

  /** calibration(tbl[, bins]) — reliability table + ECE/MCE/Brier
    * over (p_micro, y) rows ([[graft.ext.Evaluation.calibration]]). */
  def calibrationTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "calibration(table)"))
    val b = if (args.length > 1) intArg(args(1), "calibration(bins)") else 10
    graft.ext.Evaluation.calibration(df, bins = b).queryExecution.logical
  }

  /** auc_roc(tbl) — exact rank-sum ROC-AUC per group over
    * (group, score_micro, y) rows ([[graft.ext.Evaluation.aucRoc]]). */
  def aucRocTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.aucRoc(
      tableOf(strArg(args.head, "auc_roc(table)")))
      .queryExecution.logical

  /** lr_train(tbl[, iters]) — train the hashed-bigram logistic
    * quality gate over (doc_id, text, y) rows; returns the sparse
    * (bucket, w_micro) weight table
    * ([[graft.ext.Curation.trainQualityLr]]). */
  def lrTrainTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "lr_train(table)"))
    val w =
      if (args.length > 1)
        graft.ext.Curation.trainQualityLr(df, "y",
          iters = intArg(args(1), "lr_train(iters)"))._1
      else graft.ext.Curation.trainQualityLr(df, "y")._1
    w.queryExecution.logical
  }

  /** lr_margins(docsTbl, weightsTbl) — score (doc_id, text) rows with
    * a trained weight table ([[graft.ext.Curation.lrMargins]]). */
  def lrMarginsTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "lr_margins(docsTable, weightsTable)")
    graft.ext.Curation.lrMargins(
      tableOf(strArg(args.head, "lr_margins(docsTable)")),
      tableOf(strArg(args(1), "lr_margins(weightsTable)")))
      .queryExecution.logical
  }

  /** readability(tbl) — Flesch–Kincaid counts + grades over
    * (doc_id, text) rows ([[graft.ext.TextAnalysis.readability]]). */
  def readabilityTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.readability(
      tableOf(strArg(args.head, "readability(table)")))
      .queryExecution.logical

  /** readability_ext(tbl) — Gunning fog / SMOG / Coleman–Liau over
    * (doc_id, text) rows
    * ([[graft.ext.TextAnalysis.readabilityExtended]]). */
  def readabilityExtTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.readabilityExtended(
      tableOf(strArg(args.head, "readability_ext(table)")))
      .queryExecution.logical

  /** mix_diversity(tbl[, byCol]) — entropy/effective-N/HHI/Gini of
    * the group mixture ([[graft.ext.Curation.mixDiversity]]). */
  def mixDiversityTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "mix_diversity(table)"))
    val out =
      if (args.length > 1)
        graft.ext.Curation.mixDiversity(df,
          strArg(args(1), "mix_diversity(byCol)"))
      else graft.ext.Curation.mixDiversity(df)
    out.queryExecution.logical
  }

  /** rake_keywords(tbl[, topPerDoc]) — RAKE keyphrases over
    * (doc_id, text) rows ([[graft.ext.TextAnalysis.rakeKeyphrases]]). */
  def rakeKeywordsTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "rake_keywords(table)"))
    val out =
      if (args.length > 1) graft.ext.TextAnalysis.rakeKeyphrases(df,
        topPerDoc = intArg(args(1), "rake_keywords(topPerDoc)"))
      else graft.ext.TextAnalysis.rakeKeyphrases(df)
    out.queryExecution.logical
  }

  /** rank_corr(tbl[, maxPerGroup]) — Spearman ρ + capped Kendall τ-b
    * per group over (grp, id, x, y) rows
    * ([[graft.ext.Evaluation.rankCorrelation]]). */
  def rankCorrTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "rank_corr(table)"))
    val out =
      if (args.length > 1) graft.ext.Evaluation.rankCorrelation(df,
        "grp", "id", "x", "y",
        maxPerGroup = intArg(args(1), "rank_corr(maxPerGroup)"))
      else graft.ext.Evaluation.rankCorrelation(df, "grp", "id", "x", "y")
    out.queryExecution.logical
  }

  /** ab_test(tbl) — two-proportion pooled z per group over
    * (grp, arm, conv) rows ([[graft.ext.Evaluation.abTest]]). */
  def abTestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.abTest(
      tableOf(strArg(args.head, "ab_test(table)")), "grp", "arm", "conv")
      .queryExecution.logical

  /** classification_report(tbl) — per-class P/R/F1 over
    * (label, pred_label, n) confusion counts
    * ([[graft.ext.Evaluation.classificationReport]]). */
  def classificationReportTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.classificationReport(
      tableOf(strArg(args.head, "classification_report(table)")))
      .queryExecution.logical

  /** mcnemar(tbl) — paired-classifier discordance + continuity-
    * corrected χ² per group over (group, y, pred_a, pred_b) rows
    * ([[graft.ext.Evaluation.mcnemar]]). */
  def mcnemarTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.mcnemar(
      tableOf(strArg(args.head, "mcnemar(table)")))
      .queryExecution.logical

  /** fairness_report(tbl) — per-group selection/TPR/FPR and
    * parity/odds gaps over (group, y, pred) rows
    * ([[graft.ext.Evaluation.fairnessReport]]). */
  def fairnessReportTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.fairnessReport(
      tableOf(strArg(args.head, "fairness_report(table)")))
      .queryExecution.logical

  /** did(tbl) — difference-in-differences over
    * (group, arm, period, y_micro) rows
    * ([[graft.ext.Evaluation.didEstimate]]). */
  def didTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.didEstimate(
      tableOf(strArg(args.head, "did(table)")))
      .queryExecution.logical

  /** cuped(tbl) — covariate-adjusted arm means over
    * (group, arm, y_micro, x_micro) rows
    * ([[graft.ext.Evaluation.cupedAdjust]]). */
  def cupedTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.cupedAdjust(
      tableOf(strArg(args.head, "cuped(table)")))
      .queryExecution.logical

  /** mann_whitney(tbl) — rank-sum two-sample test over
    * (group, arm, v_micro) rows
    * ([[graft.ext.Evaluation.mannWhitney]]). */
  def mannWhitneyTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.mannWhitney(
      tableOf(strArg(args.head, "mann_whitney(table)")))
      .queryExecution.logical

  /** fdr_bh(tbl[, qMicro]) — Benjamini–Hochberg step-up adjustment
    * over (group, test, p_micro) rows
    * ([[graft.ext.Evaluation.bhAdjust]]). */
  def fdrBhTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "fdr_bh(table)"))
    val q = if (args.length > 1)
      intArg(args(1), "fdr_bh(qMicro)") / 1e6 else 0.05
    graft.ext.Evaluation.bhAdjust(df, q).queryExecution.logical
  }

  /** mantel_haenszel(tbl) — stratified common OR + CMH χ² over
    * (group, stratum, arm, y) rows
    * ([[graft.ext.Evaluation.mantelHaenszel]]). */
  def mantelHaenszelTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.mantelHaenszel(
      tableOf(strArg(args.head, "mantel_haenszel(table)")))
      .queryExecution.logical

  /** js_divergence(tbl) — Jensen–Shannon divergence over
    * (group, side, tok) rows
    * ([[graft.ext.Evaluation.jsDivergence]]). */
  def jsDivergenceTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.jsDivergence(
      tableOf(strArg(args.head, "js_divergence(table)")))
      .queryExecution.logical

  /** kaplan_meier(tbl) — product-limit survival curve over
    * (group, t, event) subject rows
    * ([[graft.ext.Evaluation.kaplanMeier]]). */
  def kaplanMeierTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.kaplanMeier(
      tableOf(strArg(args.head, "kaplan_meier(table)")))
      .queryExecution.logical

  /** nelson_aalen(tbl) — cumulative-hazard curve over
    * (group, t, event) subject rows
    * ([[graft.ext.Evaluation.nelsonAalen]]). */
  def nelsonAalenTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.nelsonAalen(
      tableOf(strArg(args.head, "nelson_aalen(table)")))
      .queryExecution.logical

  /** welch_ttest(tbl) — unequal-variance two-sample t over
    * (group, arm, y) long-metric rows
    * ([[graft.ext.Evaluation.welchTTest]]). */
  def welchTtestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.welchTTest(
      tableOf(strArg(args.head, "welch_ttest(table)")))
      .queryExecution.logical

  /** kruskal_wallis(tbl) — k-sample rank test over
    * (group, arm, v) long-metric rows
    * ([[graft.ext.Evaluation.kruskalWallis]]). */
  def kruskalWallisTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.kruskalWallis(
      tableOf(strArg(args.head, "kruskal_wallis(table)")))
      .queryExecution.logical

  /** brown_forsythe(tbl) — median-centered variance-equality test
    * over (group, arm, v) long-metric rows
    * ([[graft.ext.Evaluation.brownForsythe]]). */
  def brownForsytheTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.brownForsythe(
      tableOf(strArg(args.head, "brown_forsythe(table)")))
      .queryExecution.logical

  /** jonckheere(tbl) — ordered-alternative trend test over
    * (group, arm, v) rows with arm as the numeric order
    * ([[graft.ext.Evaluation.jonckheereTerpstra]]). */
  def jonckheereTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.jonckheereTerpstra(
      tableOf(strArg(args.head, "jonckheere(table)")))
      .queryExecution.logical

  /** split_half(tbl) — Spearman–Brown split-half reliability over
    * (group, subject, item, score) rows
    * ([[graft.ext.Evaluation.splitHalf]]). */
  def splitHalfTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.splitHalf(
      tableOf(strArg(args.head, "split_half(table)")))
      .queryExecution.logical

  /** silhouette(tbl) — simplified per-label silhouette over
    * (vec_id, embedding, label) rows
    * ([[graft.ext.Similarity.silhouetteByLabel]]). */
  def silhouetteTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Similarity.silhouetteByLabel(
      tableOf(strArg(args.head, "silhouette(table)")))
      .queryExecution.logical

  /** msprt(tbl[, tau]) — always-valid mixture-SPRT A/B inference
    * over (group, arm, y) rows ([[graft.ext.Evaluation.msprt]]). */
  def msprtTvf(args: Seq[Expression]): LogicalPlan = {
    val tau = if (args.length > 1) dblArg(args(1), "msprt(tau)") else 100.0
    graft.ext.Evaluation.msprt(
      tableOf(strArg(args.head, "msprt(table)")), tau = tau)
      .queryExecution.logical
  }

  /** bartlett(tbl) — parametric variance-equality χ² over
    * (group, arm, v) long-metric rows
    * ([[graft.ext.Evaluation.bartlett]]). */
  def bartlettTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.bartlett(
      tableOf(strArg(args.head, "bartlett(table)")))
      .queryExecution.logical

  /** kendall_w(tbl) — rank concordance over
    * (group, rater, item, score) rows
    * ([[graft.ext.Evaluation.kendallW]]). */
  def kendallWTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.kendallW(
      tableOf(strArg(args.head, "kendall_w(table)")))
      .queryExecution.logical

  /** page_trend(tbl) — Page's ordered L trend over
    * (group, rater, item, score) rows, items ordered by name
    * ([[graft.ext.Evaluation.pageTrend]]). */
  def pageTrendTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.pageTrend(
      tableOf(strArg(args.head, "page_trend(table)")))
      .queryExecution.logical

  /** friedman_test(tbl) — Friedman's χ² over
    * (group, rater, item, score) rows
    * ([[graft.ext.Evaluation.friedmanTest]]). */
  def friedmanTestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.friedmanTest(
      tableOf(strArg(args.head, "friedman_test(table)")))
      .queryExecution.logical

  /** cronbach_alpha(tbl) — k-item internal consistency over
    * (group, subject, item, score) rows
    * ([[graft.ext.Evaluation.cronbachAlpha]]). */
  def cronbachAlphaTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.cronbachAlpha(
      tableOf(strArg(args.head, "cronbach_alpha(table)")))
      .queryExecution.logical

  /** changepoint(tbl) — SSE-optimal single split per series over an
    * event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.changePoint]]). */
  def changepointTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.changePoint(
      tableOf(strArg(args.head, "changepoint(table)")))
      .queryExecution.logical

  /** local_clustering(tbl) — per-node clustering coefficient over
    * (src, dst) edge rows
    * ([[graft.operators.Graph.localClustering]]). */
  def localClusteringTvf(args: Seq[Expression]): LogicalPlan =
    graft.operators.Graph.localClustering(
      tableOf(strArg(args.head, "local_clustering(table)")))
      .queryExecution.logical

  /** rich_club(tbl) — rich-club coefficient ladder over (src, dst)
    * edge rows ([[graft.operators.Graph.richClub]]). */
  def richClubTvf(args: Seq[Expression]): LogicalPlan =
    graft.operators.Graph.richClub(
      tableOf(strArg(args.head, "rich_club(table)")))
      .queryExecution.logical

  /** k_truss(tbl[, k]) — triangle-cohesion edge core over (src, dst)
    * edge rows ([[graft.operators.Graph.kTruss]]). */
  def kTrussTvf(args: Seq[Expression]): LogicalPlan = {
    val k = if (args.length > 1) intArg(args(1), "k_truss(k)") else 4
    graft.operators.Graph.kTruss(
      tableOf(strArg(args.head, "k_truss(table)")), k = k)
      .queryExecution.logical
  }

  /** boxplot(tbl) — exact five-number summary + Tukey fences over
    * (group, v) rows ([[graft.ext.Profiler.boxplotStats]]). */
  def boxplotTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Profiler.boxplotStats(
      tableOf(strArg(args.head, "boxplot(table)")))
      .queryExecution.logical

  /** gini_value(tbl) — within-group value inequality over
    * (group, v) rows ([[graft.ext.Curation.giniValue]]). */
  def giniValueTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Curation.giniValue(
      tableOf(strArg(args.head, "gini_value(table)")))
      .queryExecution.logical

  /** lift_gain(tbl[, buckets]) — cumulative gain/lift deciles over
    * (group, score_micro, y) rows ([[graft.ext.Evaluation.liftGain]]). */
  def liftGainTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "lift_gain(table)"))
    val b = if (args.length > 1) intArg(args(1), "lift_gain(buckets)") else 10
    graft.ext.Evaluation.liftGain(df, buckets = b).queryExecution.logical
  }

  /** column_mi(tbl) — pairwise mutual information between ALL of the
    * table's columns ([[graft.ext.Curation.columnMi]]). */
  def columnMiTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "column_mi(table)"))
    graft.ext.Curation.columnMi(df, df.columns.toSeq)
      .queryExecution.logical
  }

  /** durbin_watson(tbl) — lag-1 residual autocorrelation per series
    * over an event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.durbinWatson]]). */
  def durbinWatsonTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.durbinWatson(
      tableOf(strArg(args.head, "durbin_watson(table)")))
      .queryExecution.logical

  /** ljung_box(tbl[, maxLag]) — joint white-noise Q over an event
    * stream's daily series ([[graft.ext.Timeseries.ljungBox]]). */
  def ljungBoxTvf(args: Seq[Expression]): LogicalPlan = {
    val m = if (args.length > 1) intArg(args(1), "ljung_box(maxLag)") else 7
    graft.ext.Timeseries.ljungBox(
      tableOf(strArg(args.head, "ljung_box(table)")), maxLag = m)
      .queryExecution.logical
  }

  /** dispersion_test(tbl) — Poisson VMR / Fisher dispersion per
    * series over (event_type, ts) rows
    * ([[graft.ext.Timeseries.dispersionTest]]). */
  def dispersionTestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.dispersionTest(
      tableOf(strArg(args.head, "dispersion_test(table)")))
      .queryExecution.logical

  /** hurst_rs(tbl) — rescaled-range Hurst exponent over an event
    * stream's daily series ([[graft.ext.Timeseries.hurstRS]]). */
  def hurstRsTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.hurstRS(
      tableOf(strArg(args.head, "hurst_rs(table)")))
      .queryExecution.logical

  /** partial_corr(tbl) — first-order partial correlation over
    * (group, x, y, z) long rows
    * ([[graft.ext.Evaluation.partialCorr]]). */
  def partialCorrTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.partialCorr(
      tableOf(strArg(args.head, "partial_corr(table)")))
      .queryExecution.logical

  /** yules_k(tbl) — Yule's characteristic K per source over
    * (source, text) rows ([[graft.ext.TextAnalysis.yulesK]]). */
  def yulesKTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.yulesK(
      tableOf(strArg(args.head, "yules_k(table)")))
      .queryExecution.logical

  /** cliffs_delta(tbl) — ordinal effect size over
    * (group, arm, v_micro) rows
    * ([[graft.ext.Evaluation.cliffsDelta]]). */
  def cliffsDeltaTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.cliffsDelta(
      tableOf(strArg(args.head, "cliffs_delta(table)")))
      .queryExecution.logical

  /** hosmer_lemeshow(tbl[, bins]) — calibration goodness-of-fit over
    * (p_micro, y) rows ([[graft.ext.Evaluation.hosmerLemeshow]]). */
  def hosmerLemeshowTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "hosmer_lemeshow(table)"))
    val b = if (args.length > 1)
      intArg(args(1), "hosmer_lemeshow(bins)") else 10
    graft.ext.Evaluation.hosmerLemeshow(df, b).queryExecution.logical
  }

  /** icc(tbl) — ICC(2,1) absolute-agreement reliability over
    * (group, subject, rater, score) rows
    * ([[graft.ext.Evaluation.icc21]]). */
  def iccTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.icc21(
      tableOf(strArg(args.head, "icc(table)")))
      .queryExecution.logical

  /** runs_test(tbl) — Wald–Wolfowitz sign-runs randomness test per
    * series over an event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.runsTest]]). */
  def runsTestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.runsTest(
      tableOf(strArg(args.head, "runs_test(table)")))
      .queryExecution.logical

  /** strat_ate(tbl) — post-stratified average treatment effect over
    * (group, stratum, arm, y) rows
    * ([[graft.ext.Evaluation.postStratifiedAte]]). */
  def stratAteTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.postStratifiedAte(
      tableOf(strArg(args.head, "strat_ate(table)")))
      .queryExecution.logical

  /** quantile_normalize(tbl) — pooled-quantile score mapping over
    * (group, source, v) rows
    * ([[graft.ext.Curation.quantileNormalize]]). */
  def quantileNormalizeTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Curation.quantileNormalize(
      tableOf(strArg(args.head, "quantile_normalize(table)")))
      .queryExecution.logical

  /** dp_dispersion(tbl[, k]) — Gries' DP of the top-k terms across
    * sources over (source, text) rows
    * ([[graft.ext.TextAnalysis.dpDispersion]]). */
  def dpDispersionTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "dp_dispersion(table)"))
    val k = if (args.length > 1) intArg(args(1), "dp_dispersion(k)") else 20
    graft.ext.TextAnalysis.dpDispersion(df, topK = k)
      .queryExecution.logical
  }

  /** mann_kendall(tbl) — monotone-trend test per series over an
    * event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.mannKendall]]). */
  def mannKendallTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.mannKendall(
      tableOf(strArg(args.head, "mann_kendall(table)")))
      .queryExecution.logical

  /** cochran_q(tbl) — k-rater marginal-homogeneity test over
    * (group, item, rater, y) rows
    * ([[graft.ext.Evaluation.cochranQ]]). */
  def cochranQTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.cochranQ(
      tableOf(strArg(args.head, "cochran_q(table)")))
      .queryExecution.logical

  /** pr_auc(tbl) — precision–recall AUC over
    * (group, score_micro, y) rows ([[graft.ext.Evaluation.prAuc]]). */
  def prAucTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.prAuc(
      tableOf(strArg(args.head, "pr_auc(table)")))
      .queryExecution.logical

  /** logrank(tbl) — two-arm survival-curve test over
    * (group, arm, t, event) subject rows
    * ([[graft.ext.Evaluation.logRank]]). */
  def logRankTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.logRank(
      tableOf(strArg(args.head, "logrank(table)")))
      .queryExecution.logical

  /** effect_size(tbl) — Cohen's d / Hedges' g over
    * (group, arm, y) caller-scaled long metrics
    * ([[graft.ext.Evaluation.effectSize]]). */
  def effectSizeTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.effectSize(
      tableOf(strArg(args.head, "effect_size(table)")))
      .queryExecution.logical

  /** page_hinkley(tbl) — upward-shift evidence per series over an
    * event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.pageHinkley]]). */
  def pageHinkleyTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.pageHinkley(
      tableOf(strArg(args.head, "page_hinkley(table)")))
      .queryExecution.logical

  /** gwet_ac1(tbl) — paradox-resistant chance-corrected agreement
    * over (group, label_a, label_b) rows
    * ([[graft.ext.Evaluation.gwetAC1]]). */
  def gwetAc1Tvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.gwetAC1(
      tableOf(strArg(args.head, "gwet_ac1(table)")))
      .queryExecution.logical

  /** rbo(tblA, tblB[, k]) — truncated rank-biased overlap between
    * two (group, item, score_micro) rankings
    * ([[graft.ext.Evaluation.rboOverlap]]). */
  def rboTvf(args: Seq[Expression]): LogicalPlan = {
    val a = tableOf(strArg(args.head, "rbo(tableA)"))
    val b = tableOf(strArg(args(1), "rbo(tableB)"))
    val k = if (args.length > 2) intArg(args(2), "rbo(k)") else 20
    graft.ext.Evaluation.rboOverlap(a, b, k).queryExecution.logical
  }

  /** robust_location(tbl[, trimMicro]) — trimmed + winsorized mean
    * over (group, v) rows ([[graft.ext.Evaluation.robustLocation]]). */
  def robustLocationTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "robust_location(table)"))
    val t = if (args.length > 1)
      intArg(args(1), "robust_location(trimMicro)").toLong else 50000L
    graft.ext.Evaluation.robustLocation(df, trimMicro = t)
      .queryExecution.logical
  }

  /** assortativity(tbl) — Newman's degree assortativity over a
    * symmetrized (src, dst) edge table
    * ([[graft.operators.Graph.assortativity]]). */
  def assortativityTvf(args: Seq[Expression]): LogicalPlan =
    graft.operators.Graph.assortativity(
      tableOf(strArg(args.head, "assortativity(table)")))
      .queryExecution.logical

  /** hill_tail(tbl[, k]) — Hill tail-index over (group, v) rows
    * ([[graft.ext.Evaluation.hillTail]]). */
  def hillTailTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "hill_tail(table)"))
    val k = if (args.length > 1) intArg(args(1), "hill_tail(k)") else 100
    graft.ext.Evaluation.hillTail(df, k).queryExecution.logical
  }

  /** seasonal_strength(tbl) — weekly-cycle R² per series over an
    * event stream's (event_type, ts) rows
    * ([[graft.ext.Timeseries.seasonalStrength]]). */
  def seasonalStrengthTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.seasonalStrength(
      tableOf(strArg(args.head, "seasonal_strength(table)")))
      .queryExecution.logical

  /** brier_decomposition(tbl[, bins]) — Murphy REL/RES/UNC over
    * (p_micro, y) rows ([[graft.ext.Evaluation.brierDecomposition]]). */
  def brierDecompositionTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "brier_decomposition(table)"))
    val b = if (args.length > 1)
      intArg(args(1), "brier_decomposition(bins)") else 10
    graft.ext.Evaluation.brierDecomposition(df, b).queryExecution.logical
  }

  /** delong_test(tbl) — paired-AUC comparison over
    * (group, y, score_a_micro, score_b_micro) rows
    * ([[graft.ext.Evaluation.delongTest]]). */
  def delongTestTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.delongTest(
      tableOf(strArg(args.head, "delong_test(table)")))
      .queryExecution.logical

  /** distinct_ngrams(tbl) — corpus distinct-1/2/3 diversity per
    * `source` over (source, text) rows
    * ([[graft.ext.Curation.distinctNgrams]]). */
  def distinctNgramsTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Curation.distinctNgrams(
      tableOf(strArg(args.head, "distinct_ngrams(table)")))
      .queryExecution.logical

  /** confident_joint(tbl) — confident-learning label-error census
    * over (doc_id, noisy, cls, p_micro) long-format class scores
    * ([[graft.ext.Curation.confidentJoint]]). */
  def confidentJointTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Curation.confidentJoint(
      tableOf(strArg(args.head, "confident_joint(table)")))
      .queryExecution.logical

  /** fleiss_kappa(tbl) — multi-rater chance-corrected agreement per
    * group over (group, item, cat) rating rows
    * ([[graft.ext.Evaluation.fleissKappa]]). */
  def fleissKappaTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.fleissKappa(
      tableOf(strArg(args.head, "fleiss_kappa(table)")))
      .queryExecution.logical

  /** ks_test(tblA, tblB) — two-sample Kolmogorov–Smirnov distance per
    * group over (group, v) rows ([[graft.ext.Evaluation.ksTest]]). */
  def ksTestTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "ks_test(tableA, tableB)")
    graft.ext.Evaluation.ksTest(
      tableOf(strArg(args.head, "ks_test(tableA)")),
      tableOf(strArg(args(1), "ks_test(tableB)")))
      .queryExecution.logical
  }

  /** wasserstein(tblA, tblB) — 1-D earth mover's distance per group
    * over (group, v) rows ([[graft.ext.Evaluation.wasserstein1]]). */
  def wassersteinTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "wasserstein(tableA, tableB)")
    graft.ext.Evaluation.wasserstein1(
      tableOf(strArg(args.head, "wasserstein(tableA)")),
      tableOf(strArg(args(1), "wasserstein(tableB)")))
      .queryExecution.logical
  }

  /** cvm_test(tblA, tblB) — two-sample Cramér–von Mises per group
    * over (group, v) rows ([[graft.ext.Evaluation.cramerVonMises]]). */
  def cvmTestTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "cvm_test(tableA, tableB)")
    graft.ext.Evaluation.cramerVonMises(
      tableOf(strArg(args.head, "cvm_test(tableA)")),
      tableOf(strArg(args(1), "cvm_test(tableB)")))
      .queryExecution.logical
  }

  /** ad_test(tblA, tblB) — two-sample Anderson–Darling per group
    * over (group, v) rows ([[graft.ext.Evaluation.andersonDarling]]). */
  def adTestTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "ad_test(tableA, tableB)")
    graft.ext.Evaluation.andersonDarling(
      tableOf(strArg(args.head, "ad_test(tableA)")),
      tableOf(strArg(args(1), "ad_test(tableB)")))
      .queryExecution.logical
  }

  /** psi(tblA, tblB[, bins]) — Population Stability Index per group
    * over (group, p_micro) score rows ([[graft.ext.Evaluation.psi]]). */
  def psiTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "psi(tableA, tableB[, bins])")
    val b = if (args.length > 2) intArg(args(2), "psi(bins)") else 10
    graft.ext.Evaluation.psi(
      tableOf(strArg(args.head, "psi(tableA)")),
      tableOf(strArg(args(1), "psi(tableB)")), bins = b)
      .queryExecution.logical
  }

  /** leakage_split(docsTbl, candTbl[, trainPct, valPct]) — near-dup
    * clusters assigned whole to train/val/test
    * ([[graft.ext.Curation.leakageSafeSplit]]). */
  def leakageSplitTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "leakage_split(docsTable, candTable[, trainPct, valPct])")
    val d = tableOf(strArg(args.head, "leakage_split(docsTable)"))
    val c = tableOf(strArg(args(1), "leakage_split(candTable)"))
    val tr = if (args.length > 2) intArg(args(2), "leakage_split(trainPct)") else 80
    val vl = if (args.length > 3) intArg(args(3), "leakage_split(valPct)") else 10
    graft.ext.Curation.leakageSafeSplit(d, c, trainPct = tr, valPct = vl)
      .queryExecution.logical
  }

  /** benford(tbl, valueCol[, groupCol]) — first-digit conformity per
    * group ([[graft.ext.Profiler.benford]]). */
  def benfordTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "benford(table, valueCol[, groupCol])")
    val df = tableOf(strArg(args.head, "benford(table)"))
    val vc = strArg(args(1), "benford(valueCol)")
    val gc = if (args.length > 2) strArg(args(2), "benford(groupCol)")
      else "group"
    graft.ext.Profiler.benford(df, vc, groupCol = gc).queryExecution.logical
  }

  /** zipf_slope(tbl[, topK]) — per-source Zipf-law OLS fit over top-K
    * token frequencies ([[graft.ext.TextAnalysis.zipfSlope]]). */
  def zipfSlopeTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "zipf_slope(table)"))
    val k = if (args.length > 1) intArg(args(1), "zipf_slope(topK)") else 50
    graft.ext.TextAnalysis.zipfSlope(df, topK = k).queryExecution.logical
  }

  /** containment(tbl[, threshold]) — directed shingle-containment
    * pairs over (doc_id, text) rows
    * ([[graft.ext.Dedup.containmentJoin]]). */
  def containmentTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "containment(table)"))
    val t = if (args.length > 1)
      dblArg(args(1), "containment(threshold)") else 0.9
    graft.ext.Dedup.containmentJoin(df, threshold = t)
      .queryExecution.logical
  }

  /** label_vote(tbl) — majority-vote weak-supervision labels over
    * (group, item, cat) rating rows
    * ([[graft.ext.Evaluation.labelVote]]). */
  def labelVoteTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.labelVote(
      tableOf(strArg(args.head, "label_vote(table)")))
      .queryExecution.logical

  /** feature_hash(tbl, 'col1,col2'[, dim, idCol]) — hashing-trick
    * sparse featurization ([[graft.ext.Curation.featureHash]]). */
  def featureHashTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "feature_hash(table, 'col1,col2'[, dim, idCol])")
    val df = tableOf(strArg(args.head, "feature_hash(table)"))
    val cols = strArg(args(1), "feature_hash(cols)").split(",").map(_.trim).toSeq
    val dim = if (args.length > 2) intArg(args(2), "feature_hash(dim)") else 64
    val id = if (args.length > 3) strArg(args(3), "feature_hash(idCol)") else "id"
    graft.ext.Curation.featureHash(df, cols, dim = dim, idCol = id)
      .queryExecution.logical
  }

  /** periodogram(tbl[, minPeriod, maxPeriod]) — per-series DFT power
    * at candidate periods over (event_type, ts) rows
    * ([[graft.ext.Timeseries.periodogram]]). */
  def periodogramTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "periodogram(table)"))
    val lo = if (args.length > 1) intArg(args(1), "periodogram(minPeriod)") else 2
    val hi = if (args.length > 2) intArg(args(2), "periodogram(maxPeriod)") else 14
    graft.ext.Timeseries.periodogram(df, minPeriod = lo, maxPeriod = hi)
      .queryExecution.logical
  }

  /** chi_square(tbl) — Pearson χ² + Cramér's V per group over
    * (group, label_a, label_b) rows
    * ([[graft.ext.Evaluation.chiSquare]]). */
  def chiSquareTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Evaluation.chiSquare(
      tableOf(strArg(args.head, "chi_square(table)")))
      .queryExecution.logical

  /** ppr(edgesTbl, seedsTbl[, iters]) — personalized PageRank from a
    * seed table ([[graft.operators.Graph.personalizedPageRank]]). */
  def pprTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "ppr(edgesTable, seedsTable[, iters])")
    val it = if (args.length > 2) intArg(args(2), "ppr(iters)") else 3
    graft.operators.Graph.personalizedPageRank(
      tableOf(strArg(args.head, "ppr(edgesTable)")),
      tableOf(strArg(args(1), "ppr(seedsTable)")), iters = it)
      .queryExecution.logical
  }

  /** corpus_bleu(candTbl, refTbl[, maxN]) — corpus BLEU with brevity
    * penalty over (pair_id, text) tables
    * ([[graft.ext.TextAnalysis.corpusBleu]]). */
  def corpusBleuTvf(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2, "corpus_bleu(candTable, refTable[, maxN])")
    val cand = tableOf(strArg(args.head, "corpus_bleu(candTable)"))
    val ref = tableOf(strArg(args(1), "corpus_bleu(refTable)"))
    val n = if (args.length > 2) intArg(args(2), "corpus_bleu(maxN)") else 2
    graft.ext.TextAnalysis.corpusBleu(cand, ref, maxN = n)
      .queryExecution.logical
  }

  /** adamic_adar(tbl[, maxCenterDegree]) — link-prediction scores
    * over (src, dst) edges ([[graft.operators.Graph.adamicAdar]]). */
  def adamicAdarTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "adamic_adar(table)"))
    val cap = if (args.length > 1)
      intArg(args(1), "adamic_adar(maxCenterDegree)").toLong else 100000L
    graft.operators.Graph.adamicAdar(df, maxCenterDegree = cap)
      .queryExecution.logical
  }

  /** theil_sen(tbl) / mad_outliers(tbl[, threshMicro]) /
    * holt_forecast(tbl) — per-series robust trend, robust outliers,
    * and trend forecasts over (event_type, ts) rows. */
  def theilSenTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.theilSen(
      tableOf(strArg(args.head, "theil_sen(table)"))).queryExecution.logical

  def madOutliersTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "mad_outliers(table)"))
    val t = if (args.length > 1) intArg(args(1), "mad_outliers(threshMicro)")
      else 3500000
    graft.ext.Timeseries.madOutliers(df, t.toLong).queryExecution.logical
  }

  def holtForecastTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Timeseries.holtForecast(
      tableOf(strArg(args.head, "holt_forecast(table)")))
      .queryExecution.logical

  /** mutual_knn(tbl[, k]) — reciprocal nearest-neighbor pairs. */
  def mutualKnnTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "mutual_knn(table)"))
    val k = if (args.length > 1) intArg(args(1), "mutual_knn(k)") else 5
    graft.ext.Similarity.mutualKnn(df, k).queryExecution.logical
  }

  /** luhn_screen(tbl) — card-checksum PII gate over (doc_id, text). */
  def luhnScreenTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.luhnScreen(
      tableOf(strArg(args.head, "luhn_screen(table)")))
      .queryExecution.logical

  /** vocab_pruning(tbl) — min-count coverage curve. */
  def vocabPruningTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.TextAnalysis.vocabPruningCurve(
      tableOf(strArg(args.head, "vocab_pruning(table)")))
      .queryExecution.logical

  /** hits(edgesTbl[, iters]) / modularity(edgesTbl, labelsTbl) —
    * the directed-graph authority pair and community quality. */
  def hitsTvf(args: Seq[Expression]): LogicalPlan = {
    val df = tableOf(strArg(args.head, "hits(edgesTable)"))
    val it = if (args.length > 1) intArg(args(1), "hits(iters)") else 3
    graft.operators.Graph.hits(df, it).queryExecution.logical
  }

  def modularityTvf(args: Seq[Expression]): LogicalPlan =
    graft.operators.Graph.modularity(
      tableOf(strArg(args.head, "modularity(edgesTable)")),
      tableOf(strArg(args(1), "modularity(labelsTable)")))
      .queryExecution.logical

  /** embed_drift(tbl) — per-label centroid drift vs corpus. */
  def embedDriftTvf(args: Seq[Expression]): LogicalPlan =
    graft.ext.Similarity.embedDrift(
      tableOf(strArg(args.head, "embed_drift(table)")))
      .queryExecution.logical

  val tableFns: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "theil_sen" -> (theilSenTvf _),
    "mad_outliers" -> (madOutliersTvf _),
    "holt_forecast" -> (holtForecastTvf _),
    "mutual_knn" -> (mutualKnnTvf _),
    "luhn_screen" -> (luhnScreenTvf _),
    "vocab_pruning" -> (vocabPruningTvf _),
    "hits" -> (hitsTvf _),
    "modularity" -> (modularityTvf _),
    "embed_drift" -> (embedDriftTvf _),
    "bradley_terry" -> (bradleyTerryTvf _),
    "rouge_n" -> (rougeNTvf _),
    "corpus_drift" -> (corpusDriftTvf _),
    "maxsim_topk" -> (maxsimTopkTvf _),
    "vocab_richness" -> (vocabRichnessTvf _),
    "cohen_kappa" -> (cohenKappaTvf _),
    "calibration" -> (calibrationTvf _),
    "auc_roc" -> (aucRocTvf _),
    "rake_keywords" -> (rakeKeywordsTvf _),
    "readability" -> (readabilityTvf _),
    "readability_ext" -> (readabilityExtTvf _),
    "mix_diversity" -> (mixDiversityTvf _),
    "lr_train" -> (lrTrainTvf _),
    "lr_margins" -> (lrMarginsTvf _),
    "rank_corr" -> (rankCorrTvf _),
    "ab_test" -> (abTestTvf _),
    "classification_report" -> (classificationReportTvf _),
    "mcnemar" -> (mcnemarTvf _),
    "fairness_report" -> (fairnessReportTvf _),
    "confident_joint" -> (confidentJointTvf _),
    "distinct_ngrams" -> (distinctNgramsTvf _),
    "delong_test" -> (delongTestTvf _),
    "did" -> (didTvf _),
    "cuped" -> (cupedTvf _),
    "mann_whitney" -> (mannWhitneyTvf _),
    "fdr_bh" -> (fdrBhTvf _),
    "mantel_haenszel" -> (mantelHaenszelTvf _),
    "js_divergence" -> (jsDivergenceTvf _),
    "kaplan_meier" -> (kaplanMeierTvf _),
    "nelson_aalen" -> (nelsonAalenTvf _),
    "welch_ttest" -> (welchTtestTvf _),
    "kruskal_wallis" -> (kruskalWallisTvf _),
    "brown_forsythe" -> (brownForsytheTvf _),
    "bartlett" -> (bartlettTvf _),
    "jonckheere" -> (jonckheereTvf _),
    "split_half" -> (splitHalfTvf _),
    "msprt" -> (msprtTvf _),
    "silhouette" -> (silhouetteTvf _),
    "kendall_w" -> (kendallWTvf _),
    "friedman_test" -> (friedmanTestTvf _),
    "page_trend" -> (pageTrendTvf _),
    "cronbach_alpha" -> (cronbachAlphaTvf _),
    "changepoint" -> (changepointTvf _),
    "local_clustering" -> (localClusteringTvf _),
    "rich_club" -> (richClubTvf _),
    "k_truss" -> (kTrussTvf _),
    "gini_value" -> (giniValueTvf _),
    "boxplot" -> (boxplotTvf _),
    "lift_gain" -> (liftGainTvf _),
    "column_mi" -> (columnMiTvf _),
    "dp_dispersion" -> (dpDispersionTvf _),
    "strat_ate" -> (stratAteTvf _),
    "quantile_normalize" -> (quantileNormalizeTvf _),
    "icc" -> (iccTvf _),
    "runs_test" -> (runsTestTvf _),
    "cliffs_delta" -> (cliffsDeltaTvf _),
    "hosmer_lemeshow" -> (hosmerLemeshowTvf _),
    "yules_k" -> (yulesKTvf _),
    "durbin_watson" -> (durbinWatsonTvf _),
    "ljung_box" -> (ljungBoxTvf _),
    "hurst_rs" -> (hurstRsTvf _),
    "dispersion_test" -> (dispersionTestTvf _),
    "partial_corr" -> (partialCorrTvf _),
    "mann_kendall" -> (mannKendallTvf _),
    "cochran_q" -> (cochranQTvf _),
    "pr_auc" -> (prAucTvf _),
    "logrank" -> (logRankTvf _),
    "effect_size" -> (effectSizeTvf _),
    "page_hinkley" -> (pageHinkleyTvf _),
    "gwet_ac1" -> (gwetAc1Tvf _),
    "rbo" -> (rboTvf _),
    "robust_location" -> (robustLocationTvf _),
    "assortativity" -> (assortativityTvf _),
    "hill_tail" -> (hillTailTvf _),
    "seasonal_strength" -> (seasonalStrengthTvf _),
    "brier_decomposition" -> (brierDecompositionTvf _),
    "fleiss_kappa" -> (fleissKappaTvf _),
    "ks_test" -> (ksTestTvf _),
    "wasserstein" -> (wassersteinTvf _),
    "cvm_test" -> (cvmTestTvf _),
    "ad_test" -> (adTestTvf _),
    "psi" -> (psiTvf _),
    "chi_square" -> (chiSquareTvf _),
    "ppr" -> (pprTvf _),
    "periodogram" -> (periodogramTvf _),
    "label_vote" -> (labelVoteTvf _),
    "feature_hash" -> (featureHashTvf _),
    "containment" -> (containmentTvf _),
    "zipf_slope" -> (zipfSlopeTvf _),
    "benford" -> (benfordTvf _),
    "leakage_split" -> (leakageSplitTvf _),
    "corpus_bleu" -> (corpusBleuTvf _),
    "adamic_adar" -> (adamicAdarTvf _),
    "kmv_overlap" -> (kmvOverlapTvf _),
    "gopher_rules" -> (gopherRulesTvf _),
    "hash_split" -> (hashSplitTvf _),
    "quantile_sketch" -> (quantileSketchTvf _),
    "dedup_candidates" -> (dedupCandidatesTvf _),
    "text_stats" -> (textStatsTvf _),
    "dsir_score" -> (dsirScoreTvf _),
    "memorization_score" -> (memorizationTvf _),
    "simhash_near_dups" -> (simhashNearDupsTvf _),
    "cross_near_dups" -> (crossNearDupsTvf _),
    "prefix_jaccard" -> (prefixJaccardTvf _),
    "rrf_fuse" -> (rrfFuseTvf _),
    "ppl_buckets" -> (pplBucketsTvf _),
    "ppl_buckets_approx" -> (pplBucketsApproxTvf _),
    "fp_index_probe" -> (fpIndexProbeTvf _),
    "mem_index_probe" -> (memIndexProbeTvf _),
    "bp_index_probe" -> (bpIndexProbeTvf _),
    "mh_index_probe" -> (mhIndexProbeTvf _),
    "line_dedup" -> (lineDedupTvf _),
    "c4_clean" -> (c4CleanTvf _),
    "quality_classify" -> (qualityClassifyTvf _),
    "page_rank" -> (pageRankTvf _),
    "label_prop" -> (labelPropTvf _),
    "triangle_count" -> (triangleCountTvf _),
    "connected_components" -> (connectedComponentsTvf _),
    "ann_topk" -> (annTopkTvf _),
    "bm25_topk" -> (bm25TopkTvf _),
    "entity_resolution" -> (entityResolutionTvf _),
    "cms_heavy_hitters" -> (cmsHeavyHittersTvf _),
    "kn_bigram" -> (knBigramTvf _),
    "hll_distinct_by" -> (hllDistinctByTvf _),
    "mmr_select" -> (mmrSelectTvf _),
    "conversation_near_dups" -> (conversationNearDupsTvf _),
    "token_budget" -> (tokenBudgetTvf _),
    "token_budget_sample" -> (tokenBudgetSampleTvf _),
    "turn_repetition" -> (turnRepetitionTvf _),
    "conversation_structure" -> (conversationStructureTvf _),
    "structured_output_lint" -> (structuredOutputLintTvf _),
    "k_core" -> (kCoreTvf _),
    "ancestors" -> (ancestorsTvf _),
    "change_feed" -> (changeFeedTvf _),
    "entity_resolution_jw" -> (entityResolutionJwTvf _),
    "entity_resolution_sn" -> (entityResolutionSnTvf _))

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    tableFns.foreach { case (name, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** Session-builder `withExtensions(new GraftExtensions)`, as
  * [[graft.GraftSession.local]] does — the injection path for sessions
  * created with the functions from the start. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.sql.GraftFunctions", name), builder))
    }
    GraftFunctions.tableFns.foreach { case (name, builder) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.sql.GraftFunctions", name), builder))
    }
    // geo radius predicate → pushed bounding box + exact residual
    e.injectOptimizerRule(_ => graft.plans.RewriteStDWithin)
    // interactive queries: one job, no per-key compile
    e.injectQueryStagePrepRule(_ => graft.plans.ElideSinglePartitionShuffles)
    e.injectColumnar(_ => graft.plans.HoistFilterLiteralsColumnarRule)
    // repeated SQL statements: served from their parse tree by one
    // retained RDD, the new values bound; the parser holds the cache
    e.injectPlannerStrategy(_ => graft.plans.TemplateCache.Serve)
    e.injectParser(new graft.plans.TemplateCache.Parser(_, _))
  }
}
