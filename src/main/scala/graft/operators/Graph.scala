package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Iterative graph analytics expressed as DataFrame joins/aggregates —
  * the other half of the graph story next to
  * [[graft.ext.Dedup.connectedComponents]] (HashMin CC).
  *
  * Scale design: each PageRank iteration is one join of the rank
  * vector against the edge list (shuffle keyed on `src`) followed by
  * one aggregation (shuffle keyed on `dst`) — the classic Pregel
  * message-passing shape flattened into relational operators, which is
  * exactly what a 1000-executor cluster wants: no driver-side state
  * beyond the loop counter, edges partition-pruned and reused across
  * iterations via localCheckpoint (bounded lineage), and partial
  * aggregation combines contributions map-side before the `dst`
  * shuffle so hub nodes (high in-degree) don't funnel raw messages to
  * one reducer.
  *
  * Determinism/portability: ranks are held in integer MICRO-UNITS
  * (rank 1.0 = 1,000,000) and every per-iteration operation is integer
  * arithmetic — contribution = rank `div` out-degree, damping =
  * 150000 + 85·Σcontrib `div` 100 (both truncating division, which
  * Java/Spark `div` and DuckDB `//` agree on) — so a second engine
  * replaying the same iterations lands on bit-identical ranks: the
  * q_pagerank DuckDB oracle replays the full loop. The ≤1e-6
  * truncation per step is noise for ranking; order-independence of
  * integer sums is what buys the cross-engine hash.
  */
object Graph {

  /** `iters` rounds of damped PageRank over a directed edge list
    * (`src`, `dst` long columns; parallel edges should be
    * pre-deduplicated if unweighted semantics are wanted). Every node
    * starts at rank 1.0 (micro 1,000,000); nodes appearing only as
    * `dst` still receive the damping floor. Dangling nodes (out-degree
    * 0) keep redistribution simple by dropping their mass — the
    * standard relational-PageRank simplification; callers needing
    * strict mass conservation can add the dangling-sum term.
    *
    * @return (node, rank_micro) after `iters` iterations.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Int = 85 /* percent */,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    // Size gate (same discipline as Dedup.connectedComponents' driver
    // fast path): the rank vector is node-bound, not edge-bound. When
    // it fits a broadcast, shipping it to every task means the edge
    // table is NEVER reshuffled — each iteration costs one map-side
    // join plus the dst aggregation, instead of two full shuffles of
    // the edges. Web-scale graphs exceed the gate and take the keyed
    // shuffle joins, which are always safe. nodes is checkpointed, so
    // the count here is a cheap scan of materialized partitions.
    val bcast = nodes.count() <= broadcastMaxNodes
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // Gate-dependent iteration state (r19, VERDICT ask #5). BELOW the
    // gate the rank vector broadcasts and every iteration is a
    // map-side join over the checkpointed state — there the per-edge
    // (src, dst, odeg) form measures fastest (A/B at sf0.1: the
    // chunked-adjacency build's collect_list pass cost more than 3
    // broadcast iterations recover, 1.93 → 2.10 s). ABOVE the gate
    // each iteration's rank join is a keyed shuffle probing the
    // state table, so the NODE-bound chunked adjacency
    // (src, odeg, chk, nbrs) wins: ~V rows into every rank join
    // instead of E, contributions derived by explode AFTER the join
    // — the same (dst, rank div odeg) multiset through an order-free
    // long sum, so ranks are bit-identical on both shapes (GraphSpec
    // pins gate-off ≡ gate-on). Chunking spreads a node's neighbors
    // over ceil(odeg / 1024) chunks by a deterministic dst-hash, so an
    // adjacency row holds ~1024 neighbors IN EXPECTATION (a hash is no
    // hard cap: one chunk can run somewhat over), and a celebrity
    // hub cannot become one multi-GB array cell (the §2.5 giant-key
    // failure plain collect_list would reintroduce; triangleCount
    // gets the bound free from orientation, PageRank does not), and
    // it adds NO exchange: the degree join leaves edges partitioned
    // by src, which satisfies the (src, odeg, chk) clustering.
    val deg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val chunk = 1024L
    val iterState = (if (bcast) e.join(deg, "src")
      else e.join(deg, "src")
        .select(col("src"), col("odeg"),
          pmod(xxhash64(col("dst")),
            expr(s"(odeg + ${chunk - 1}) div $chunk")).as("chk"),
          col("dst"))
        .groupBy("src", "odeg", "chk")
        .agg(collect_list(col("dst")).as("nbrs")))
      .localCheckpoint()
    def contribsOf(ranks: DataFrame): DataFrame = {
      val joined = iterState
        .join(small(ranks.withColumnRenamed("node", "src")), "src")
      (if (bcast) joined.select(col("dst"),
          expr("rank_micro div odeg").as("contrib"))
       else joined.select(explode(col("nbrs")).as("dst"),
          expr("rank_micro div odeg").as("contrib")))
        .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
    }
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    for (_ <- 0 until iters) {
      val contribs = contribsOf(ranks)
      ranks = nodes
        .join(small(contribs.withColumnRenamed("dst", "node")), Seq("node"), "left")
        .select(col("node"),
          (lit((100 - damping) * 10000L) +
            expr(s"($damping * coalesce(inflow, 0L)) div 100")).as("rank_micro"))
    }
    ranks
  }

  /** Personalized PageRank from a seed set — the graph-proximity
    * retrieval/recommendation scorer ("rank everything by closeness
    * to THESE nodes"): identical integer-micro arithmetic to
    * [[pageRank]], except the damping reset mass returns only to the
    * seeds, so rank concentrates in the seeds' neighborhood instead
    * of spreading globally. Nodes never reached keep rank 0 and are
    * dropped from the result (reachable-set-sized output, not
    * graph-sized).
    *
    * Scale shape: the [[pageRank]] loop with one extra win — each
    * round's contribution join runs over ONLY the nonzero-rank nodes
    * (the seed frontier), so early iterations cost
    * O(frontier·d̄), not O(V); the edge+degree table is checkpointed
    * once and the rank vector joins under the same broadcast gate.
    * Determinism: truncating integer division throughout, replayed
    * bit-for-bit by the DuckDB oracle's unrolled iterations.
    *
    * @param seeds one `node` column; rank starts at 1e6 on seeds
    * @return (node, rank_micro) for nodes with positive rank */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Int = 85 /* percent */,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
    val s = seeds.select(col("node").cast(LongType).as("node")).distinct()
      .localCheckpoint()
    s.count() // materialize before the loop references it repeatedly
    // gate on the NODE count, not the seed count: the rank table
    // grows toward the reachable set as the frontier expands, so a
    // seed-sized gate would broadcast a graph-sized table by hop k
    val nNodes = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct().count()
    val bcast = nNodes <= broadcastMaxNodes
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // gate-dependent iteration state, exactly the [[pageRank]] r19
    // shape (see the comment there): per-edge (src, dst, odeg) under
    // the broadcast gate (measured faster at bench scale), NODE-bound
    // chunked adjacency above it so the keyed frontier join probes
    // ~V rows, not E — identical contribution multiset either way
    val deg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val chunk = 1024L
    val iterState = (if (bcast) e.join(deg, "src")
      else e.join(deg, "src")
        .select(col("src"), col("odeg"),
          pmod(xxhash64(col("dst")),
            expr(s"(odeg + ${chunk - 1}) div $chunk")).as("chk"),
          col("dst"))
        .groupBy("src", "odeg", "chk")
        .agg(collect_list(col("dst")).as("nbrs")))
      .localCheckpoint()
    def contribsOf(ranks: DataFrame): DataFrame = {
      val joined = iterState
        .join(small(ranks.withColumnRenamed("node", "src")), "src")
      (if (bcast) joined.select(col("dst"),
          expr("rank_micro div odeg").as("contrib"))
       else joined.select(explode(col("nbrs")).as("dst"),
          expr("rank_micro div odeg").as("contrib")))
        .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
    }
    val resetBase = (100 - damping) * 10000L
    var ranks = s.withColumn("rank_micro", lit(1000000L))
    for (_ <- 0 until iters) {
      // contributions flow ONLY from currently-ranked nodes — the
      // rank table IS the frontier (seed-neighborhood-sized)
      val contribs = contribsOf(ranks)
      // reset mass returns only to seeds; reached non-seeds keep
      // their damped inflow. Union + one keyed sum instead of a full
      // outer join: same node-bound result through one
      // map-side-combined hash shuffle per round, where the outer
      // join sort-merges both sides (parity at sf0.1 — the win is
      // the shape: no per-round sort of the frontier at scale)
      ranks = s.select(col("node"), lit(resetBase).as("part"))
        .unionAll(contribs.select(col("dst").as("node"),
          expr(s"($damping * inflow) div 100").as("part")))
        .groupBy("node").agg(sum(col("part")).as("rank_micro"))
        .filter(col("rank_micro") > 0L)
    }
    val out = ranks.localCheckpoint()
    graft.ext.Checkpoints.release(iterState, s)
    out
  }

  /** TextRank keyword extraction (Mihalcea & Tarau): PageRank over the
    * corpus-level word co-occurrence graph — an undirected unweighted
    * edge between each pair of ADJACENT distinct tokens — then the
    * top-`topK` tokens by rank. Runs on the engine's integer-micro
    * [[pageRank]], so a second engine replaying the same iterations
    * lands on bit-identical ranks and an identical keyword list.
    *
    * Scale shape: bigram explode is map-side; the edge list dedups on
    * the token-pair strings in one shuffle (vocabulary-bound, not
    * corpus-bound — the graph size is O(distinct bigrams)); nodes are
    * 60-bit portable token hashes so the iteration loop runs on
    * fixed-width longs, with names joined back only for the final
    * top-k, taken as TakeOrdered (no global sort) before the
    * 20-row-local rank window.
    */
  def textRank(docs: DataFrame, iters: Int = 3, topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    val h60 = graft.expressions.Md5Hash60.hash60(_: Column)
    val bi = docs
      .select(graft.ext.TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        graft.ext.TextAnalysis.adjacentPairsExpr())).as("p"))
      .select(col("p.a"), col("p.b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      // bi feeds both the edge list and the name table — materialize
      // so the tokenize + bigram explode + distinct runs once
      .localCheckpoint()
    val edges = bi.select(col("a"), col("b"))
      .union(bi.select(col("b").as("a"), col("a").as("b"))).distinct()
      .select(h60(col("a")).as("src"), h60(col("b")).as("dst"))
    val names = bi.select(col("a").as("token"))
      .union(bi.select(col("b").as("token"))).distinct()
      .select(col("token"), h60(col("token")).as("node"))
    val top = pageRank(edges, iters)
      .join(names, "node")
      .orderBy(col("rank_micro").desc, col("token"))
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank_micro").desc, col("token"))
    top.select(col("token"), col("rank_micro"),
      row_number().over(w).cast(IntegerType).as("rn"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge list: the mutual-reinforcement pair PageRank doesn't give —
    * a good hub points at good authorities, a good authority is
    * pointed at by good hubs. The iteration alternates
    * a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v), each L1-normalized
    * (Σ = 10¹² integer units) so iterates stay bounded and the DuckDB
    * oracle replays them bit-for-bit: raw sums are order-free longs,
    * the normalization is ONE rounded IEEE division per node against
    * a scalar total.
    *
    * Scale shape: pageRank's discipline — edges checkpointed once,
    * score vectors are node-bound and ship through the size-gated
    * broadcast (edge table never reshuffles under the gate); each
    * half-step is one keyed join + one partial-agg'd sum. Per-round
    * checkpoints keep the two-consumer broadcast sides from
    * re-executing the chain (the Bradley–Terry lesson); superseded
    * iterates are released inline.
    *
    * @return (node, hub_micro, auth_micro) for every node */
  def hits(edges: DataFrame, iters: Int = 3,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val bcast = nodes.count() <= broadcastMaxNodes
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    def l1Normalize(rawIn: DataFrame, outCol: String): DataFrame = {
      // the raw sums feed THREE consumers (the scalar total, the
      // broadcast copy, the join) — checkpoint once (node-bounded) so
      // the edge join + aggregation runs once per half-step; under
      // the broadcast gate the vector provably fits one partition, so
      // collapse it and every downstream half-step stage schedules
      // one task instead of shuffle-width (above the gate, partitions
      // stay wide — the scale path)
      val raw = (if (bcast) rawIn.coalesce(1) else rawIn).localCheckpoint()
      // Σ out = 10¹² exactly up to per-node rounding: raw·1e12/total is
      // one fixed-shape IEEE division (identical in any engine), the
      // total a 1-row broadcast
      val total = raw.agg(sum(col("raw")).as("total"))
      val out = nodes.join(small(raw), Seq("node"), "left")
        .crossJoin(broadcast(total))
        .select(col("node"),
          round(coalesce(col("raw"), lit(0L)).cast(DoubleType) * 1e12 /
            col("total").cast(DoubleType), 0).cast(LongType).as(outCol))
        .localCheckpoint()
      graft.ext.Checkpoints.release(raw)
      out
    }
    var h = nodes.withColumn("hub_micro", lit(1000000L)).localCheckpoint()
    var a = nodes.withColumn("auth_micro", lit(1000000L)).localCheckpoint()
    for (_ <- 0 until iters) {
      val aPrev = a; val hPrev = h
      a = l1Normalize(
        e.join(small(h.select(col("node").as("src"), col("hub_micro"))), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub_micro")).as("raw")),
        "auth_micro")
      h = l1Normalize(
        e.join(small(a.select(col("node").as("dst"), col("auth_micro"))), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth_micro")).as("raw")),
        "hub_micro")
      graft.ext.Checkpoints.release(aPrev, hPrev)
    }
    val out = h.join(a, "node").localCheckpoint()
    graft.ext.Checkpoints.release(e, nodes, h, a)
    out
  }

  /** Newman modularity of a community assignment — the quality score
    * that makes community detection "measure, don't guess" (the graph
    * twin of q_ann_recall / q_lsh_recall): Q = Σ_c [ m_c/m −
    * (d_c/2m)² ] over communities c, with m_c internal edges and d_c
    * the community's degree sum. Computed on the SAME symmetrized
    * directed representation [[labelPropagation]] builds (w_c = 2m_c
    * and D = 2m, so the ratios are identical), each community's term
    * micro-rounded before the order-free long sum.
    *
    * Scale shape: two label joins on the edge endpoints (rank-vector
    * broadcast economics apply — labels are node-bound), one count
    * per community, one degree rollup; everything after lives on the
    * community-cardinality table. @return per community (label,
    * n_nodes, w_in, d_tot, term_micro) with the global
    * modularity_micro on every row. */
  def modularity(edges: DataFrame, labels: DataFrame,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val e0 = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    // the assignment feeds FOUR consumers (gate count, two endpoint
    // joins, the degree rollup) and may itself be an iterative plan
    // (LPA) — materialize once
    val lab = labels.select(col("node").cast(LongType).as("node"),
      col("label").cast(LongType).as("label")).localCheckpoint()
    val nNodes = lab.count()
    def small(df: DataFrame): DataFrame =
      if (nNodes <= broadcastMaxNodes) broadcast(df) else df
    // D = 2m as a literal off the checkpointed edge table's own count
    // (metadata-cheap) — r18: was a separate aggregation job whose
    // 1-row result then rode a broadcast join
    val dTot = lit(e.count()).as("big_d")
    val win = e
      .join(small(lab.select(col("node").as("src"), col("label").as("ls"))), "src")
      .join(small(lab.select(col("node").as("dst"), col("label").as("ld"))), "dst")
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("w_in"))
    val dc = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(small(lab.select(col("node").as("src"), col("label"))), "src")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
    val perC = dc.join(win, Seq("label"), "left")
      .withColumn("big_d", dTot)
      .select(col("label"), col("n_nodes"),
        coalesce(col("w_in"), lit(0L)).as("w_in"), col("d_tot"),
        round((coalesce(col("w_in"), lit(0L)).cast(DoubleType) /
            col("big_d").cast(DoubleType) -
          (col("d_tot").cast(DoubleType) / col("big_d").cast(DoubleType)) *
            (col("d_tot").cast(DoubleType) / col("big_d").cast(DoubleType)))
          * 1e6, 0).cast(LongType).as("term_micro"))
    val summary = perC.agg(sum(col("term_micro")).as("modularity_micro"))
    val out = perC.crossJoin(broadcast(summary)).localCheckpoint()
    graft.ext.Checkpoints.release(e, lab)
    out
  }

  /** Deterministic synchronous label propagation (community
    * detection): every node starts labeled with its own id; each round
    * a node adopts the most frequent label among its neighbors, ties
    * broken toward the SMALLEST label — the deterministic variant of
    * LPA (classic async LPA is run-order-dependent and could never be
    * oracle-checked). Isolated behavior matches HashMin CC on
    * structureless graphs but converges to denser communities on
    * clustered ones.
    *
    * Scale shape: each round is one neighbor-label join (keyed on the
    * neighbor endpoint) + one (node, label) count aggregation + one
    * per-node argmin(struct(-cnt, label)) aggregation — all
    * partial-agg'd map-side, so a community of 10⁸ members is one
    * count key per adjacent node, never a fanout. The rank-vector
    * broadcast gate from [[pageRank]] applies identically; labels
    * checkpoint every 4th round, so short loops (the common
    * 3-iteration call) run as one lazy job while long loops keep
    * their lineage bounded.
    *
    * @param edges undirected edge list (symmetrized internally).
    * @return (node, label) after `iters` rounds.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val e0 = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct().localCheckpoint()
    val bcast = nodes.count() <= broadcastMaxNodes
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    var labels = nodes.withColumn("label", col("node"))
    var lastCkpt: DataFrame = null
    for (i <- 0 until iters) {
      labels = e
        .join(small(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("src").as("node"), col("m.l").as("label"))
      // lineage checkpoint every 4th round: a short loop (the common
      // 3-iteration call) runs as ONE lazy job with no eager
      // materialization barriers; long loops stay bounded. Each new
      // checkpoint materializes FROM the previous one, whose pinned
      // blocks are then dead — release them (long loops would
      // otherwise pin every 4th round's labels simultaneously).
      if ((i + 1) % 4 == 0) {
        labels = labels.localCheckpoint()
        if (lastCkpt != null) graft.ext.Checkpoints.release(lastCkpt)
        lastCkpt = labels
      }
    }
    labels
  }

  /** Exact triangle count over an undirected graph, with the classic
    * degree-ordering optimization: every edge is oriented from its
    * (degree, id)-smaller endpoint to the larger, wedges are pairs of
    * out-edges of one node, and a triangle is a wedge whose far ends
    * are themselves an oriented edge. Orientation bounds total wedge
    * generation to O(m^1.5) regardless of skew — a celebrity node with
    * 10⁸ neighbors has almost NO out-edges (everything orients toward
    * it), so the quadratic neighbor-pair explosion that kills the
    * naive plan never happens. The three joins are keyed on node id /
    * the (b,c) pair; the oriented edge list is checkpointed once and
    * reused by all three consumers.
    *
    * @param edges (src, dst) rows in either orientation; normalized,
    *              deduplicated, self-loops dropped internally.
    * @return one row: (n_edges, n_wedges, n_triangles).
    */
  def triangleCount(edges: DataFrame,
      broadcastMaxEdges: Long = 20000000L): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast(LongType).as("u"),
        greatest(col("src"), col("dst")).cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    // node-bound tables (degrees, adjacency) broadcast under one edge
    // gate so the edge stream never shuffles on small graphs;
    // web-scale graphs fall back to keyed joins. The count doubles as
    // the final n_edges output (und is already materialized — free).
    val nEdges = und.count()
    val smallGraph = nEdges <= broadcastMaxEdges
    def gate(t: DataFrame): DataFrame = if (smallGraph) broadcast(t) else t
    // one broadcast each for deg and adj through ALIASED references
    // (r18): per-side renamed projections made the two sides'
    // broadcast subtrees canonically different — the same table was
    // built and shipped twice per join pair; aliases share one
    // exchange via reuse
    val deg = gate(und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val flip = struct(col("du"), col("eu")) > struct(col("dv"), col("ev"))
    // oriented is LAZY (r18): its only consumer is the adjacency
    // aggregation right below, so checkpointing it paid a full
    // edge-table materialization for nothing
    val oriented = und.select(col("u").as("eu"), col("v").as("ev"))
      .join(deg.as("D1"), col("eu") === col("D1.node"))
      .join(deg.as("D2"), col("ev") === col("D2.node"))
      .select(col("eu"), col("ev"),
        col("D1.deg").as("du"), col("D2.deg").as("dv"))
      .select(
        when(flip, col("ev")).otherwise(col("eu")).as("src"),
        when(flip, col("eu")).otherwise(col("ev")).as("dst"))
    // Adjacency-intersection counting: for each oriented edge (a, b),
    // triangles closed through it are |N⁺(a) ∩ N⁺(b)| (the third
    // vertex is the ≺-max, so each triangle is counted exactly once
    // via its ≺-min edge). This keeps the O(m^1.5) wedge work INSIDE
    // per-row array_intersect calls instead of materializing the
    // wedge set as rows — on a dense co-purchase graph the row-based
    // wedge join produced 34× more intermediate rows than edges.
    // Orientation still bounds every adjacency list at O(√m) entries.
    val adjT = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"), count(lit(1)).as("od"))
      .localCheckpoint()
    // und fed the adjacency job just materialized; n_edges is the
    // literal above — release
    graft.ext.Checkpoints.release(und)
    // wedge count = Σ C(outdeg, 2) — an aggregation, never a join
    val nWedges = adjT.agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L))
      .as("n_wedges"))
    val adj = gate(adjT.select(col("src"), col("nbrs")))
    // The probe stream IS the adjacency table exploded (r18): each
    // (src → nbrs) row yields exactly the oriented edges (src, dst)
    // with N⁺(src) already attached, so the former oriented-side
    // checkpoint AND its join against adj both disappear — one scan
    // of adjT replaces [checkpoint write + read + join]; above the
    // broadcast gate it is one exchange fewer (the explode inherits
    // adjT's partitioning, only the dst-keyed join shuffles).
    adjT.as("A")
      .select(col("A.nbrs").as("n_a"), explode(col("A.nbrs")).as("pd"))
      .join(adj.as("B"), col("pd") === col("B.src"))
      .select(size(array_intersect(col("n_a"), col("B.nbrs"))).as("tc"))
      .agg(coalesce(sum(col("tc")), lit(0L)).as("n_triangles"))
      .withColumn("n_edges", lit(nEdges))
      .crossJoin(nWedges)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
  }

  /** Multi-source BFS shortest hop distance: every node reachable
    * from the seed set within `maxHops` hops, with its exact minimum
    * hop count ("distance to nearest labeled node" — the standard
    * graph feature for propagating trust/spam/quality labels from a
    * small audited seed set across a web-scale link graph).
    *
    * Frontier form: each round joins only the NEW nodes of the last
    * round against the edge list (keyed on `src`), never the full
    * visited set — on a bounded-degree graph round k costs
    * O(|frontier_k| · d̄) regardless of how large the visited set has
    * grown. The visited set grows monotonically and is anti-joined to
    * keep the frontier minimal; both are checkpointed per round with
    * superseded checkpoints released inline (the round-10 lifecycle
    * discipline). The frontier count doubles as the convergence probe,
    * so early exit on an exhausted frontier costs no extra job. The
    * result equals `maxHops` rounds of min-relaxation — which is how
    * the DuckDB oracle replays it — because frontier BFS assigns each
    * node its first-reached (= minimal) hop count.
    *
    * @param edges   directed (src, dst); symmetrize upstream for
    *                undirected semantics.
    * @param sources seed nodes, one `node` column.
    * @return (node, dist) — dist in [0, maxHops], seeds at 0.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxHops: Int = 6,
      broadcastMaxFrontier: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst")).distinct().localCheckpoint()
    var dist = sources.select(col("node").cast(LongType).as("node"))
      .distinct()
      .withColumn("dist", lit(0).cast(IntegerType))
      .localCheckpoint()
    var frontier = dist
    var frontierRows = frontier.count()
    var hop = 0
    while (hop < maxHops && frontierRows > 0L) {
      // the frontier is usually tiny relative to the edge list —
      // broadcast it under a gate so the edges never reshuffle
      val f = if (frontierRows <= broadcastMaxFrontier) broadcast(frontier)
              else frontier
      val next = e.join(f.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        .groupBy("node").agg(min(col("dist")).cast(IntegerType).as("dist"))
        .join(dist.select("node"), Seq("node"), "left_anti")
        .localCheckpoint()
      val grown = dist.union(next).localCheckpoint()
      // `grown` materialized FROM dist/next/frontier — all superseded
      if (frontier ne dist) graft.ext.Checkpoints.release(frontier)
      graft.ext.Checkpoints.release(dist)
      dist = grown
      frontier = next
      frontierRows = next.count()
      hop += 1
    }
    graft.ext.Checkpoints.release(e)
    if (frontier ne dist) graft.ext.Checkpoints.release(frontier)
    dist
  }

  /** Hierarchy flattening — the `WITH RECURSIVE` ancestor expansion
    * (org charts, category trees, order→customer→nation→region
    * dimension chains) that Spark SQL lacks, re-expressed as the
    * iterative-join BFS this file already owns: level d+1 is the
    * frontier joined one hop up the edge list, new (node, ancestor)
    * pairs only (first arrival in BFS = minimal depth, so the
    * anti-join IS the MIN(depth) of the recursive formulation — the
    * shortestPaths argument). Checkpoint lifecycle and the
    * broadcast-gated frontier follow shortestPaths verbatim; rounds
    * are bounded by the hierarchy's actual depth (early-out on an
    * empty frontier), with `maxDepth` as the cycle backstop.
    *
    * @param edges (child, parent) rows; self-loops dropped.
    * @return (node, ancestor, depth) — depth 1 = direct parent.
    */
  def ancestors(edges: DataFrame, maxDepth: Int = 12,
      broadcastMaxFrontier: Long = 5000000L): DataFrame = {
    val e = edges.select(col("child").cast(LongType).as("child"),
        col("parent").cast(LongType).as("parent"))
      .filter(col("child").isNotNull && col("parent").isNotNull &&
        col("child") =!= col("parent"))
      .distinct().localCheckpoint()
    var acc = e.select(col("child").as("node"), col("parent").as("ancestor"),
      lit(1).cast(IntegerType).as("depth")).localCheckpoint()
    var frontier = acc
    var frontierRows = frontier.count()
    var d = 1
    while (d < maxDepth && frontierRows > 0L) {
      val f = if (frontierRows <= broadcastMaxFrontier) broadcast(frontier)
              else frontier
      val next = f.select(col("node"), col("ancestor").as("child"))
        .join(e, "child")
        .select(col("node"), col("parent").as("ancestor"))
        .distinct()
        .join(acc.select("node", "ancestor"), Seq("node", "ancestor"),
          "left_anti")
        .withColumn("depth", lit(d + 1).cast(IntegerType))
        .localCheckpoint()
      val grown = acc.union(next).localCheckpoint()
      if (frontier ne acc) graft.ext.Checkpoints.release(frontier)
      graft.ext.Checkpoints.release(acc)
      acc = grown
      frontier = next
      frontierRows = next.count()
      d += 1
    }
    graft.ext.Checkpoints.release(e)
    if (frontier ne acc) graft.ext.Checkpoints.release(frontier)
    acc
  }

  /** Deterministic random-walk corpus over a directed graph — the
    * DeepWalk/node2vec(p=q=1) training-data generator: `walksPerNode`
    * walks of `walkLen` steps from every start node, each step moving
    * to a uniformly-hash-chosen out-neighbor. "Random" choices are the
    * portable 60-bit md5 hash of (start|walk|step) reduced mod
    * out-degree over the dst-rank-ordered adjacency, so the corpus is
    * reproducible bit-for-bit across engines and runs — an exactness
    * property the DuckDB oracle exploits to replay whole walks (and
    * exactly what you want in production: re-running the pipeline on
    * the same graph yields the same corpus, so downstream shuffles/
    * dedups stay incremental).
    *
    * Scale shape: the adjacency table (src, rk, dst) is ranked once
    * and checkpointed. The per-src dst rank is NOT a window (a
    * per-src row_number would sort a celebrity node's 10⁸ out-edges
    * in one task — VERDICT r10 #3): edges are range-partitioned and
    * sorted by (src, dst), a GLOBAL rank is attached with partition
    * prefix sums (the EntityResolution.resolveSortedNeighborhood
    * discipline), and each src's rank is the global rank minus the
    * src's first global rank — one map-side-combined min/count
    * aggregation and a co-keyed join, every stage straggler-free.
    * Each step is then (1) a node-keyed join of the positions against
    * the degree table to compute the pick, then (2) an exact two-key
    * (src, rk) equi-join into the adjacency — NO neighbor fanout: a
    * celebrity node contributes exactly one row per walk position,
    * because the rank is computed before the join. Positions shuffle
    * on the current node each step — the Pregel shape. Dead-end nodes
    * (out-degree 0) terminate their walk early via the inner join.
    *
    * Checkpoint lifecycle: every step's positions are eagerly
    * localCheckpoint'd (otherwise step k's branch of the final union
    * re-executes joins 1..k — quadratic in walkLen), and the sorted
    * edge/adjacency intermediates are released before returning. What
    * stays pinned is exactly the walkLen position tables the returned
    * union reads (one row per surviving walk each — tiny); callers
    * reclaim them with Checkpoints.releaseAll once consumed, as
    * Verify does (GraphSpec asserts this count).
    *
    * @return (start, walk, step, node) rows: step 0 is the start node
    *         itself, steps 1..walkLen the visited nodes.
    */
  def randomWalks(edges: DataFrame, starts: DataFrame, walkLen: Int = 4,
      walksPerNode: Int = 1,
      broadcastMaxEdges: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // ---- straggler-free per-src rank over dst ----
    // Range-partition + sort by (src, dst): equal keys co-locate, so
    // dedup is an adjacent-row skip inside the sorted partitions (no
    // separate distinct() shuffle), and the per-src rank is a running
    // counter; only the ONE src that can span a partition's lower
    // boundary (its first src — ranges are sorted, so any other src
    // lies wholly inside) needs an offset, the count of that src's
    // edges in earlier partitions. The boundary summary is 5 numbers
    // per partition (bounded collect), so the rank costs one shuffle +
    // two partition passes — no per-src window (a celebrity's edges
    // sort across MANY partitions), no rank join.
    val parts = e.repartitionByRange(col("src"), col("dst"))
      .sortWithinPartitions(col("src"), col("dst"))
      .localCheckpoint()
    // (pid, firstSrc, firstCnt, lastSrc, lastCnt, size) per partition,
    // over DISTINCT (src, dst) rows
    val bounds = parts.rdd.mapPartitionsWithIndex { case (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var first = Long.MinValue; var firstCnt = 0L
        var cur = Long.MinValue; var curCnt = 0L; var n = 0L
        var pd = Long.MinValue; var started = false
        it.foreach { row =>
          val s = row.getLong(0); val d = row.getLong(1)
          if (!started) {
            started = true; first = s; cur = s; curCnt = 1L; n = 1L; pd = d
          } else if (s != cur || d != pd) { // adjacent-dup skip
            n += 1; pd = d
            if (s == cur) curCnt += 1
            else { if (cur == first) firstCnt = curCnt; cur = s; curCnt = 1L }
          }
        }
        if (cur == first) firstCnt = curCnt // single-src partition
        Iterator((i, first, firstCnt, cur, curCnt, n))
      }
    }.collect().sortBy(_._1)
    val nParts = parts.rdd.getNumPartitions
    val firstSrcOf = Array.fill(nParts)(Long.MinValue)
    val offsetOf = new Array[Long](nParts)
    locally {
      // cumulative edge count per src, fed only by boundary srcs —
      // an interior src never reappears in a later partition
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      bounds.foreach { case (i, first, firstCnt, last, lastCnt, n) =>
        firstSrcOf(i) = first
        offsetOf(i) = seen.getOrElse(first, 0L)
        if (first == last) seen(first) = seen.getOrElse(first, 0L) + n
        else {
          seen(first) = seen.getOrElse(first, 0L) + firstCnt
          seen(last) = lastCnt // fresh start mid-partition
        }
      }
    }
    val firstB = spark.sparkContext.broadcast(firstSrcOf)
    val offB = spark.sparkContext.broadcast(offsetOf)
    val adj = spark.createDataFrame(
      parts.rdd.mapPartitionsWithIndex { case (i, it) =>
        var cur = Long.MinValue; var rk = 0L
        var pd = Long.MinValue; var started = false
        it.flatMap { row =>
          val s = row.getLong(0); val d = row.getLong(1)
          if (started && s == cur && d == pd) None // adjacent-dup skip
          else {
            if (!started) { started = true; cur = s; rk = offB.value(i) }
            else if (s != cur) { cur = s; rk = 0L }
            pd = d; rk += 1
            Some(org.apache.spark.sql.Row(s, d, rk))
          }
        }
      },
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
        StructField("rk", LongType))))
      .localCheckpoint()
    graft.ext.Checkpoints.release(parts)
    val smallGraph = adj.count() <= broadcastMaxEdges
    def gate(t: DataFrame): DataFrame = if (smallGraph) broadcast(t) else t
    // materialized once — each step would otherwise re-aggregate the
    // whole adjacency; released with adj after the last step
    val deg = adj.groupBy("src").agg(count(lit(1)).as("odeg"))
      .localCheckpoint()
    val walkIds = (0 until walksPerNode).map(i => lit(i)).toArray
    var pos = starts.select(col("node").cast(LongType).as("start"))
      .distinct()
      .select(col("start"), explode(array(walkIds: _*)).as("walk"),
        col("start").as("node"))
      .localCheckpoint()
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame](
      pos.select(col("start"), col("walk"),
        lit(0).cast(IntegerType).as("step"), col("node")))
    for (i <- 1 to walkLen) {
      // pick ∈ [1, odeg]: portable hash of the walk coordinates —
      // replayable by any engine with md5 (the oracle contract)
      val pick = pmod(graft.expressions.Md5Hash60.hash60(
          concat(col("start").cast("string"), lit("|"),
            col("walk").cast("string"), lit("|"), lit(i).cast("string"))),
        col("odeg")) + 1
      // NOT checkpointed per step (r18): a step is two joins against
      // the pinned adjacency/degree tables, so the whole walk runs as
      // ONE lazy job — step k's subtree recurs inside steps k+1..L,
      // but under the broadcast gate those are pure map layers over
      // the walk table (re-running a layer costs less than a
      // materialization barrier per step), and above the gate every
      // repeated keyed join reuses the SAME shuffle exchange
      // (canonical-plan exchange reuse), so the keyed path re-pays
      // nothing either. Four checkpoint jobs + per-job broadcast
      // rebuilds of the 1.2M-row adjacency collapse into one job
      // with one broadcast build.
      pos = pos
        .join(gate(deg.withColumnRenamed("src", "node")), "node")
        .select(col("start"), col("walk"),
          col("node").as("src"), pick.as("rk"))
        .join(gate(adj), Seq("src", "rk"))
        .select(col("start"), col("walk"), col("dst").as("node"))
      steps += pos.select(col("start"), col("walk"),
        lit(i).cast(IntegerType).as("step"), col("node"))
    }
    // adj/deg/pos feed the LAZY union — the caller's action reads
    // their pinned blocks, and the bench/session owner reclaims them
    // afterwards (Checkpoints.releaseAll), the engine-wide contract
    steps.reduce(_ unionAll _)
  }

  /** Adamic–Adar link prediction over an undirected graph: for every
    * non-adjacent node pair (u, v) with at least one common neighbor,
    * score AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — the classic
    * "who should be linked" heuristic (friend suggestion, related-item
    * candidates, entity-graph blocking) that discounts promiscuous
    * hub neighbors.
    *
    * Exactness: each center's weight is the micro long
    * round(1e6/ln(deg)) computed from the exact integer degree, so
    * the per-pair score is an order-free long sum any engine replays
    * (the q_hits micro fixed-point discipline). cn and aa_micro are
    * exact only when no common neighbor of the pair exceeds
    * `maxCenterDegree`; capped centers are dropped from the wedge
    * join, so both are LOWER BOUNDS whenever a shared neighbor is
    * capped (the same lower-bound contract as ShingleIndex's df cap),
    * and a pair whose every common neighbor is capped is missed
    * entirely. Pass Long.MaxValue for exact-everywhere.
    *
    * Scale shape: wedge generation is a self-join of the adjacency
    * keyed on the CENTER w — Σ_w C(deg_w, 2) rows, the same budget as
    * [[triangleCount]]'s wedge pass — then one (u,v)-keyed rollup and
    * a co-keyed anti-join against the existing edges. Centers with
    * deg > maxCenterDegree are skipped (the standard frequency cap:
    * a 10⁸-degree hub contributes ≤ 1/ln(10⁸) ≈ 0.054 per pair but
    * 5·10¹⁵ wedge rows); pass Long.MaxValue to disable. The degree
    * table is nodes-bounded and joins under the broadcast gate.
    *
    * @param edges undirected (src, dst); both directions derived,
    *              self-loops dropped
    * @return (u, v, cn, aa_micro) for predicted (non-existing) links
    *         with cn ≥ 1 common neighbors */
  def adamicAdar(edges: DataFrame, maxCenterDegree: Long = 100000L,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(col("src").cast(LongType).as("w"), col("dst").cast(LongType).as("n"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").cast(LongType).as("w"), col("src").cast(LongType).as("n")))
      .distinct()
      .localCheckpoint() // read 3×: degree, two wedge legs (+ anti)
    val deg = und.groupBy("w").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2L && col("deg") <= maxCenterDegree)
      .withColumn("term", round(lit(1000000.0) /
        log(col("deg").cast(DoubleType)), 0).cast(LongType))
    val nNodes = deg.count()
    val gatedDeg = if (nNodes <= broadcastMaxNodes) broadcast(deg) else deg
    val wedges = und.select(col("w"), col("n").as("u"))
      .join(und.select(col("w"), col("n").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .join(gatedDeg, Seq("w"))
    val scored = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum(col("term")).as("aa_micro"))
    // predicted links only: drop pairs already adjacent (u<v form)
    val existing = und.filter(col("w") < col("n"))
      .select(col("w").as("u"), col("n").as("v"))
    val out = scored.join(existing, Seq("u", "v"), "left_anti")
      .localCheckpoint()
    graft.ext.Checkpoints.release(und)
    out
  }

  /** Jaccard link prediction — the normalized companion to
    * [[adamicAdar]]: score non-adjacent pairs by
    * |N(u)∩N(v)| / |N(u)∪N(v)|, so a pair sharing 2 of their 3
    * neighbors outranks a pair sharing 2 of 200 (raw common-neighbor
    * and AA scores both inflate with degree; Jaccard is the
    * degree-normalized recall of the shared neighborhood).
    *
    * Exactness: cn and degrees are exact longs; the score is one
    * truncating long division (cn·10⁶ div (dᵤ+dᵥ−cn)) — DuckDB `//`
    * replays it exactly on these non-negatives.
    *
    * Scale shape: same wedge discipline as [[adamicAdar]] — centers
    * above `maxCenterDegree` are excluded BEFORE the self-join (one
    * 10⁷-degree hub would otherwise emit 10¹⁴ wedges), the
    * nodes-sized degree table rides broadcast under
    * `broadcastMaxNodes`, and known edges leave via anti-join.
    *
    * @return (u, v, cn, du, dv, jaccard_micro) for predicted pairs */
  def jaccardLinks(edges: DataFrame, maxCenterDegree: Long = 100000L,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(col("src").cast(LongType).as("w"), col("dst").cast(LongType).as("n"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").cast(LongType).as("w"), col("src").cast(LongType).as("n")))
      .distinct()
      .localCheckpoint() // read 4×: degrees, two wedge legs, anti
    val degAll = und.groupBy("w").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // nodes-sized: centers + both endpoint joins
    val nNodes = degAll.count()
    def gate(df: DataFrame): DataFrame =
      if (nNodes <= broadcastMaxNodes) broadcast(df) else df
    val centers = degAll
      .filter(col("deg") >= 2L && col("deg") <= maxCenterDegree)
      .select("w")
    val wedges = und.join(gate(centers), Seq("w"))
      .select(col("w"), col("n").as("u"))
      .join(und.select(col("w"), col("n").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val cn = wedges.groupBy("u", "v").agg(count(lit(1)).as("cn"))
    val scored = cn
      .join(gate(degAll.select(col("w").as("u"), col("deg").as("du"))), Seq("u"))
      .join(gate(degAll.select(col("w").as("v"), col("deg").as("dv"))), Seq("v"))
      .withColumn("jaccard_micro",
        expr("(cn * CAST(1000000 AS BIGINT)) div (du + dv - cn)"))
    val existing = und.filter(col("w") < col("n"))
      .select(col("w").as("u"), col("n").as("v"))
    val out = scored.join(existing, Seq("u", "v"), "left_anti")
      .select("u", "v", "cn", "du", "dv", "jaccard_micro")
      .localCheckpoint()
    graft.ext.Checkpoints.release(und, degAll)
    out
  }

  /** k-core decomposition (synchronous peeling): repeatedly delete
    * every node whose degree within the surviving subgraph is < k;
    * the fixed point is the k-core — the standard "dense part of the
    * graph" extractor (spam/bot rings, co-citation cores, community
    * seeds). Returns each core node with its within-core degree.
    *
    * Determinism: peeling is order-free in the SYNCHRONOUS form (all
    * under-k nodes drop together each round), so the trace replays
    * exactly — the oracle unrolls the same rounds. Each round is one
    * degree aggregation (shuffle on src, map-side combined) + an
    * anti-join against the (small — it only shrinks) drop set, which
    * AQE broadcasts; superseded edge checkpoints are released as soon
    * as the next round's edges materialize, so long peels don't pin
    * storage (the round-10 lifecycle discipline). Rounds are data-
    * bounded, not fixed: convergence is detected by the drop count
    * reaching zero, with `maxRounds` as a runaway backstop.
    *
    * @param edges undirected edge list (aCol, bCol), self-loops
    *   ignored; both directions are derived internally.
    * @return (node, core_deg) for k-core members.
    */
  def kCore(edges: DataFrame, k: Int = 2, aCol: String = "src",
      bCol: String = "dst", maxRounds: Int = 50,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    var e = edges.filter(col(aCol) =!= col(bCol))
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.filter(col(aCol) =!= col(bCol))
        .select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var converged = false
    var round = 0
    // convergence = the survivor count stops shrinking (no node
    // dropped → edges unchanged): ONE driver job per round, against
    // the already-checkpointed survivor table
    var prevNodes = -1L
    while (!converged && round < maxRounds) {
      val survivors = e.groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("src")
        .localCheckpoint()
      val nodes = survivors.count()
      if (nodes == prevNodes) {
        graft.ext.Checkpoints.release(survivors)
        converged = true
      } else {
        // survivors is node-bound — broadcast under the rank-vector
        // gate so the edge table never reshuffles per round (r18:
        // both endpoint filters were keyed joins, two edge-sized
        // shuffles every round); keyed fallback above the gate
        def g(t: DataFrame): DataFrame =
          if (nodes <= broadcastMaxNodes) broadcast(t) else t
        val next = e
          .join(g(survivors), Seq("src"))
          .join(g(survivors.withColumnRenamed("src", "dst")), Seq("dst"))
          .select("src", "dst")
          .localCheckpoint()
        graft.ext.Checkpoints.release(e, survivors)
        e = next
        prevNodes = nodes
      }
      round += 1
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** Degree assortativity of an undirected graph — Newman's r, the
    * Pearson correlation of end-point degrees over edges: do hubs
    * attach to hubs (r > 0, social-network shape) or to leaves
    * (r < 0, hub-and-spoke/star shape, the usual web-crawl and
    * part-supplier profile)? The caller MUST supply every undirected
    * edge in BOTH directions (see @param — the repo's graph-query
    * convention; this function does NOT symmetrize). With both
    * directions present the two marginals are identical and the
    * formula is the single-variable form
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) over the M directed pairs.
    *
    * Exactness: degrees and all three sums are exact longs; the
    * numerator and denominator are exact LONG expressions (no
    * intermediate doubles), so r is ONE division, 6dp. Degenerate
    * graphs (all degrees equal — denominator 0) report r = 0.
    * Overflow bound: M·Σx² < 2⁶³ holds through ~10⁶ max-degree on
    * ~10⁹-edge graphs (document-scale graphs sit far below).
    *
    * Scale shape: one degree aggregation (map-side combined), two
    * broadcast-friendly joins of edges against the node-sized degree
    * table, one scalar rollup — never more than the edge list is
    * touched, no windows.
    *
    * @param edges directed representation: every undirected edge
    *              present in BOTH directions (the repo's graph-query
    *              convention), columns `src`, `dst`
    * @return one row: (m_pairs, sum_x, sum_xx, sum_xy, r) */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .localCheckpoint() // degree pass + two probe joins below
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val paired = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    val agg = paired.agg(count(lit(1)).as("m_pairs"),
      sum(col("dx")).as("sum_x"),
      sum(col("dx") * col("dx")).as("sum_xx"),
      sum(col("dx") * col("dy")).as("sum_xy"))
    val num = col("m_pairs") * col("sum_xy") - col("sum_x") * col("sum_x")
    val den = col("m_pairs") * col("sum_xx") - col("sum_x") * col("sum_x")
    val out = agg.select(col("m_pairs"), col("sum_x"), col("sum_xx"),
      col("sum_xy"),
      round(when(den === 0L, 0.0)
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType)), 6).as("r"))
      .localCheckpoint()
    graft.ext.Checkpoints.release(e)
    out
  }

  /** Per-node local clustering coefficient — the NODE-level view of
    * [[triangleCount]]'s global statistic: lcc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)), the fraction of v's neighbor pairs that are
    * themselves connected. The community-embeddedness feature a spam/
    * quality classifier reads off a link graph (spam farms show star
    * shapes, lcc ≈ 0; tight communities lcc → 1) where the global
    * triangle count is just one number.
    *
    * Scale shape: the [[triangleCount]] degree-orientation discipline
    * verbatim — adjacency lists bounded at O(√m) by orientation, the
    * intersection work O(m^1.5) worst case — except each closed
    * triangle is EXPLODED to its three member credits instead of
    * summed (output rows = 3·triangles, each a (node, 1) credit
    * aggregated map-side). Degrees come from the same undirected edge
    * list; nodes with deg < 2 report lcc = 0 (no pairs to close).
    *
    * @param edges (src, dst) rows in either orientation; normalized,
    *              deduplicated, self-loops dropped internally.
    * @return (node, deg, tri, lcc) — lcc 6dp */
  def localClustering(edges: DataFrame,
      broadcastMaxEdges: Long = 20000000L): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast(LongType).as("u"),
        greatest(col("src"), col("dst")).cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    val nEdges = und.count()
    val smallGraph = nEdges <= broadcastMaxEdges
    def gate(t: DataFrame): DataFrame = if (smallGraph) broadcast(t) else t
    // deg feeds the two orientation lookups AND the final lcc join —
    // checkpoint once; broadcast through ALIASED references so both
    // orientation sides share one exchange (r18, the triangleCount
    // discipline)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val degB = gate(deg)
    val flip = struct(col("du"), col("eu")) > struct(col("dv"), col("ev"))
    // oriented is LAZY (r18): its only consumer is the adjacency
    // aggregation — see triangleCount for the discipline
    val oriented = und.select(col("u").as("eu"), col("v").as("ev"))
      .join(degB.as("D1"), col("eu") === col("D1.node"))
      .join(degB.as("D2"), col("ev") === col("D2.node"))
      .select(col("eu"), col("ev"),
        col("D1.deg").as("du"), col("D2.deg").as("dv"))
      .select(
        when(flip, col("ev")).otherwise(col("eu")).as("src"),
        when(flip, col("eu")).otherwise(col("ev")).as("dst"))
    val adjC = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .localCheckpoint()
    val adj = gate(adjC)
    // each triangle (src, dst, w) credits all three member nodes —
    // in ONE pass (r18): `tri` is lazy (the wedge join), so the
    // previous union-of-three-projections re-ran the adjacency
    // intersection three times; exploding the member array keeps the
    // wedge work single-pass and the credit count map-side combined.
    // The probe stream is adjC EXPLODED (r18): each (src → nbrs) row
    // yields the oriented edges with N⁺(src) attached, so the former
    // oriented checkpoint and its adj join disappear (one exchange
    // fewer above the broadcast gate).
    val credits = adjC.as("A")
      .select(col("A.src").as("ps"), col("A.nbrs").as("n_a"),
        explode(col("A.nbrs")).as("pd"))
      .join(adj.as("B"), col("pd") === col("B.src"))
      .select(col("ps").as("src"), col("pd").as("dst"),
        explode(array_intersect(col("n_a"), col("B.nbrs"))).as("w"))
      .select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val out = deg.join(credits, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round(when(col("deg") < 2L, 0.0)
          .otherwise(lit(2.0) * coalesce(col("tri"), lit(0L))
            .cast(DoubleType) /
            (col("deg") * (col("deg") - 1L)).cast(DoubleType)), 6)
          .as("lcc"))
      .localCheckpoint()
    graft.ext.Checkpoints.release(und, adjC, deg)
    out
  }

  /** k-truss of an undirected graph — the EDGE-level cohesion core:
    * the maximal subgraph where every surviving edge closes at least
    * k−2 triangles WITH OTHER SURVIVORS. Stricter than [[kCore]]
    * (a k-truss is always inside the (k−1)-core but prunes harder):
    * kCore keeps hub-and-spoke stars whose spokes never interlock;
    * the truss demands actual triangle cohesion — the community-core
    * extractor for co-occurrence graphs where stars are noise.
    *
    * Peel discipline with DECREMENTAL support maintenance: the full
    * degree-oriented triangle enumeration (the [[triangleCount]]
    * wedge shape) runs ONCE, materializing each triangle as its
    * three canonical member edges, and the full 3-credits-per-
    * triangle support count runs ONCE on it. Every subsequent round
    * only (a) splits the triangle table into dead (lost a member
    * edge to this round's removal shell) and surviving halves via
    * three broadcast flag joins, and (b) DECREMENTS the support
    * table by the dead triangles' credits — exact by construction,
    * because the peeled graph's triangles are precisely the
    * original triangles whose three edges all survive (edges are
    * only ever removed), and each dead triangle takes exactly one
    * credit from each of its three edges. Converges when a round
    * removes nothing; support counts are exact longs.
    * Result-identical to recomputing the wedge pass per round (same
    * surviving edges, same supports).
    *
    * Scale shape: one wedge pass and ONE full credit shuffle total
    * (the credit count, not the adjacency intersection, dominates a
    * support pass — recounting per round costs nearly a full wedge
    * pass each time). Per round: one scan of the checkpointed
    * triangle table with three removal-shell flag joins (map-side
    * while the shell fits the broadcast gate; shuffle fallback
    * past it), a credit count over the DEAD triangles only
    * (shell-proportional, collapsing each round), and a keyed
    * decrement join on the edge-sized support table. The
    * materialized triangle table is the SAME cardinality as the
    * credit stream one wedge round already shuffled, so holding it
    * in the block store (localCheckpoint spills to disk) adds no
    * asymptotic memory risk. Rounds are data-dependent but small
    * (peeling removes whole shells); maxRounds bounds the worst
    * case.
    *
    * Driver fast path (the [[graft.ext.Dedup.connectedComponents]]
    * discipline): when BOTH the edge and triangle tables fit
    * `collectThreshold`, the peel runs in one in-memory worklist
    * pass over the collected triangle list instead of 5-10
    * distributed rounds whose per-round job/checkpoint latency
    * dominates at small-graph scale (measured at sf0.1: 8 rounds ×
    * ~3-4 s fixed cost against a 1.9M-triangle table). The k-truss
    * peel is CONFLUENT — removal order cannot change the fixpoint —
    * and survivor supports are the triangle counts within the
    * survivor set, so the two paths are result-identical (GraphSpec
    * equivalence test forces both). The distributed loop remains
    * the scale path; pass collectThreshold = 0 to force it.
    *
    * @param edges (src, dst) rows in either orientation; normalized,
    *              deduplicated, self-loops dropped internally.
    * @param collectThreshold max edges AND triangles for the
    *        in-memory peel (rows collected to the driver — size for
    *        driver heap; 5M triangles ≈ a few hundred MB transient).
    * @return surviving edges (src, dst, support), src < dst; support
    *         = triangles inside the truss */
  def kTruss(edges: DataFrame, k: Int = 4, maxRounds: Int = 30,
      broadcastMaxEdges: Long = 20000000L,
      collectThreshold: Long = 5000000L): DataFrame = {
    var e = edges.select(
        least(col("src"), col("dst")).cast(LongType).as("u"),
        greatest(col("src"), col("dst")).cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    val eCnt = e.count()
    val smallGraph = eCnt <= broadcastMaxEdges
    def gate(t: DataFrame): DataFrame = if (smallGraph) broadcast(t) else t
    // One-shot triangle enumeration via the [[triangleCount]]
    // degree-orientation discipline: adjacency lists bounded O(√m),
    // each triangle enumerated ONCE — the naive both-directions
    // wedge join is Σdeg² and melts on heavy-tailed co-occurrence
    // graphs (140 s → ~4 s/pass at sf0.1). Stored as the RAW
    // (src, dst, w) triple (round 18): half the checkpoint bytes and
    // half the fast-path collect volume of the canonical 6-column
    // member-edge form, which is a pure codegen map re-derived where
    // needed (canonCols below).
    def triangles3(ed: DataFrame): DataFrame = {
      // one broadcast each for deg and adj, referenced through ALIASES
      // (r18): projecting per-side column renames made the two sides'
      // broadcast subtrees canonically different, so the same table
      // was built and shipped twice per join pair; aliased references
      // share one exchange via reuse.
      val deg = gate(ed.select(col("u").as("node"))
        .unionAll(ed.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")))
      val flip = struct(col("du"), col("eu")) > struct(col("dv"), col("ev"))
      // oriented is LAZY (r18): its only consumer is the adjacency
      // aggregation, so checkpointing it paid a full edge-table
      // materialization for nothing
      val oriented = ed.select(col("u").as("eu"), col("v").as("ev"))
        .join(deg.as("D1"), col("eu") === col("D1.node"))
        .join(deg.as("D2"), col("ev") === col("D2.node"))
        .select(col("eu"), col("ev"),
          col("D1.deg").as("du"), col("D2.deg").as("dv"))
        .select(
          when(flip, col("ev")).otherwise(col("eu")).as("src"),
          when(flip, col("eu")).otherwise(col("ev")).as("dst"))
      val adjC = oriented.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("nbrs"))
        .localCheckpoint()
      val adj = gate(adjC)
      // The probe stream is adjC EXPLODED (r18): each (src → nbrs)
      // row yields exactly the oriented edges (src, dst) with N⁺(src)
      // already attached, so the former oriented checkpoint AND its
      // join against adj both disappear; above the broadcast gate it
      // is one exchange fewer (the explode inherits adjC's
      // partitioning — only the dst-keyed probe join shuffles).
      val out = adjC.as("A")
        .select(col("A.src").as("ps"), col("A.nbrs").as("n_a"),
          explode(col("A.nbrs")).as("pd"))
        .join(adj.as("B"), col("pd") === col("B.src"))
        .select(col("ps").as("src"), col("pd").as("dst"),
          explode(array_intersect(col("n_a"), col("B.nbrs"))).as("w"))
        .localCheckpoint()
      graft.ext.Checkpoints.release(adjC)
      out
    }
    // canonical (u < v) member edges of a (src, dst, w) triangle row
    val canonCols = Seq(
      least(col("src"), col("dst")).as("e1u"),
      greatest(col("src"), col("dst")).as("e1v"),
      least(col("src"), col("w")).as("e2u"),
      greatest(col("src"), col("w")).as("e2v"),
      least(col("dst"), col("w")).as("e3u"),
      greatest(col("dst"), col("w")).as("e3v"))
    // per-edge credits = 3 per triangle, ONE pass over the input
    // (r18: explode, not union-of-three-projections — at 100 TB the
    // triangle table doesn't sit in page cache, so a 3× read is real
    // I/O). Input must carry the canonical e1u..e3v columns.
    def creditsOf(t6: DataFrame): DataFrame =
      t6.select(explode(array(
          struct(col("e1u").as("u"), col("e1v").as("v")),
          struct(col("e2u").as("u"), col("e2v").as("v")),
          struct(col("e3u").as("u"), col("e3v").as("v")))).as("te"))
        .select(col("te.u").as("u"), col("te.v").as("v"))
    var tri3 = triangles3(e)
    val triCnt = tri3.count()
    if (eCnt <= collectThreshold && triCnt <= collectThreshold) {
      // in-memory worklist peel: CSR edge→triangle index, each dead
      // triangle hands one decrement to each of its other live edges
      val callerSession = e.sparkSession
      import callerSession.implicits._
      // Primitive-array collect + open-addressing edge index (r19):
      // the boxed (Long, Long) tuple array and java.util.HashMap
      // index cost more than the whole peel — the phase probe read
      // 3.8-5.1 s of index build against 0.03 s of peel at sf0.1,
      // nearly all boxing, tuple allocation and GC. Two parallel
      // long arrays + linear-probing open addressing (power-of-2
      // capacity, load <= 0.5, mixed 64-bit hash — endpoint ids are
      // arbitrary longs, no 32-bit packing) make the index ~free.
      val eRowsRaw = e.collect()
      val m = eRowsRaw.length
      val eu = new Array[Long](m); val ev = new Array[Long](m)
      var i = 0
      while (i < m) {
        val r = eRowsRaw(i); eu(i) = r.getLong(0); ev(i) = r.getLong(1)
        i += 1
      }
      val tRowsRaw = tri3.collect()
      graft.ext.Checkpoints.release(e, tri3) // on the driver now
      var cap = 4
      while (cap < m * 2) cap <<= 1
      val mask = cap - 1
      val slot = new Array[Int](cap)
      java.util.Arrays.fill(slot, -1)
      def mix(u: Long, v: Long): Int = {
        var h = u * 0x9E3779B97F4A7C15L ^ (v + 0xC2B2AE3D27D4EB4FL)
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        (h & mask).toInt
      }
      i = 0
      while (i < m) {
        var s = mix(eu(i), ev(i))
        while (slot(s) != -1) s = (s + 1) & mask
        slot(s) = i
        i += 1
      }
      // every triangle's three canonical edges are members of e BY
      // CONSTRUCTION (the enumeration intersects e's own oriented
      // adjacency lists), so these lookups cannot miss — a miss
      // fail-fasts on the -1 sentinel (the documented invariant; the
      // fast≡distributed GraphSpec equivalence backs it empirically)
      def edgeIdx(u: Long, v: Long): Int = {
        var s = mix(u, v)
        var e0 = slot(s)
        while (eu(e0) != u || ev(e0) != v) { s = (s + 1) & mask; e0 = slot(s) }
        e0
      }
      val nTri = tRowsRaw.length
      val support = new Array[Int](m)
      val triEdge = new Array[Int](nTri * 3)
      // canonicalize the 3-col triangle rows on the fly — min/max per
      // row is driver-trivial next to halving the collect's row width
      i = 0
      while (i < nTri) {
        val r = tRowsRaw(i)
        val s0 = r.getLong(0); val d0 = r.getLong(1); val w0 = r.getLong(2)
        val a = edgeIdx(math.min(s0, d0), math.max(s0, d0))
        val b = edgeIdx(math.min(s0, w0), math.max(s0, w0))
        val c = edgeIdx(math.min(d0, w0), math.max(d0, w0))
        triEdge(3 * i) = a; triEdge(3 * i + 1) = b; triEdge(3 * i + 2) = c
        support(a) += 1; support(b) += 1; support(c) += 1
        i += 1
      }
      // CSR: per-edge triangle membership lists
      val degT = new Array[Int](m + 1)
      i = 0
      while (i < triEdge.length) { degT(triEdge(i) + 1) += 1; i += 1 }
      i = 1
      while (i <= m) { degT(i) += degT(i - 1); i += 1 }
      val csr = new Array[Int](triEdge.length)
      val fill = java.util.Arrays.copyOf(degT, m)
      i = 0
      while (i < nTri) {
        var j = 0
        while (j < 3) {
          val ei = triEdge(3 * i + j)
          csr(fill(ei)) = i; fill(ei) += 1; j += 1
        }
        i += 1
      }
      val alive = Array.fill(m)(true)
      val triAlive = Array.fill(nTri)(true)
      val need = (k - 2).max(0)
      // Shell-structured peel (round 17): each round removes ALL
      // currently-below-threshold edges at once, exactly like one
      // distributed round, capped by the SAME maxRounds — so a
      // maxRounds bail-out leaves the identical (unconverged) edge
      // set AND support values on both paths. A flat worklist (plain
      // BFS queue) peels to full fixpoint regardless of maxRounds
      // and the paths would only agree when maxRounds exceeded the
      // rounds needed. `alive` = not yet removed (flips only when an
      // edge's removal round actually executes — a bail-out leaves
      // the pending shell in the output, matching the distributed
      // exit); `pending` only guards duplicate queuing. Decrements
      // keep applying to pending-but-not-yet-removed edges, exactly
      // as the distributed sup table keeps decrementing edges that
      // are still in e.
      if (need > 0) {
        val pending = new Array[Boolean](m)
        var frontier = new java.util.ArrayDeque[Int]()
        i = 0
        while (i < m) {
          if (support(i) < need) { frontier.add(i); pending(i) = true }
          i += 1
        }
        var rnd = 0
        while (!frontier.isEmpty && rnd < maxRounds) {
          val nextFrontier = new java.util.ArrayDeque[Int]()
          // remove this round's whole shell FIRST: a triangle with
          // two same-shell edges must not credit a decrement to
          // either (the distributed round drops both before the dead
          // -triangle credits are counted)
          val it0 = frontier.iterator()
          while (it0.hasNext) alive(it0.next()) = false
          while (!frontier.isEmpty) {
            val ei = frontier.poll()
            var p = degT(ei)
            while (p < degT(ei + 1)) {
              val t = csr(p)
              if (triAlive(t)) {
                triAlive(t) = false
                var j = 0
                while (j < 3) {
                  val ej = triEdge(3 * t + j)
                  if (ej != ei && alive(ej)) {
                    support(ej) -= 1
                    if (support(ej) < need && !pending(ej)) {
                      pending(ej) = true; nextFrontier.add(ej)
                    }
                  }
                  j += 1
                }
              }
              p += 1
            }
          }
          frontier = nextFrontier
          rnd += 1
        }
      }
      // Parallel result materialization (r19): the LocalRelation path
      // (`Seq.toDF` — driver-side row encode of ~1.1M boxed tuples +
      // a single-threaded LocalTableScan) was the fast path's hidden
      // tail, ~3.5 s at sf0.1 outside every probe phase. A range-
      // keyed mapPartitions converts slices in PARALLEL; the survivor
      // arrays ride the stage's task binary once, not per row.
      val (oSrc, oDst, oSup) = {
        var n = 0
        i = 0
        while (i < m) { if (alive(i)) n += 1; i += 1 }
        val a = new Array[Long](n); val b = new Array[Long](n)
        val c = new Array[Long](n)
        var j = 0
        i = 0
        while (i < m) {
          if (alive(i)) {
            a(j) = eu(i); b(j) = ev(i); c(j) = support(i).toLong; j += 1
          }
          i += 1
        }
        (a, b, c)
      }
      val slices = math.max(1, callerSession.sparkContext.defaultParallelism)
      return callerSession.range(0, oSrc.length.toLong, 1, slices)
        .mapPartitions(it => it.map { id =>
          val j = id.toInt; (oSrc(j), oDst(j), oSup(j))
        })
        .toDF("src", "dst", "support")
    }
    // the ONE full 3-credits-per-triangle count. r18: seeding is a
    // single map-side-combined hash aggregation — the previous left
    // join of e against a separately aggregated support table paid a
    // second shuffle plus a sort-merge of both sides for the same
    // result. Zero-support edges are seeded ONLY for k <= 2 (where
    // they are the answer): for k > 2 an edge in no triangle is in
    // round 0's removal shell by definition, and removing it kills
    // no triangle and credits nothing — dropping it up front leaves
    // every other edge's peel trajectory, and the survivor set,
    // bit-identical while skipping an edge-table-sized union through
    // the seeding shuffle.
    var sup = {
      val credits = creditsOf(tri3.select(canonCols: _*))
        .select(col("u"), col("v"), lit(1L).as("c"))
      // (maxRounds >= 1 guard: a zero-round call never executes the
      // shell that would have removed the zero-support edges, so
      // they must then stay in the output like the fast path's)
      (if (k > 2 && maxRounds >= 1) credits
       else credits.unionAll(e.select(col("u"), col("v"), lit(0L).as("c"))))
        .groupBy("u", "v").agg(sum(col("c")).as("support"))
        .localCheckpoint()
    }
    graft.ext.Checkpoints.release(e)
    // ---- tombstone accumulators (round 18) ----
    // While shells are small, neither the triangle table nor the
    // support table is rewritten per round: removed edges (remAcc)
    // and dead-triangle credits (delAcc) accumulate in small
    // broadcastable side tables consulted by every scan, and the
    // expensive compaction (rewrite tri3 + sup, reset accumulators)
    // runs only when an accumulator outgrows the broadcast gate —
    // at which point a round costs exactly what every round used to.
    // Phase attribution motivating this: at sf0.1 the tail
    // rounds spent 1.5-2.5 s/round rewriting a 1.9M-row triangle
    // table + 1.2M-row support table to remove shells of 4-1700
    // edges. At 100 TB early rounds have huge shells (they compact,
    // as before) and tail rounds tiny ones (they stay virtual) —
    // the scheme is scale-adaptive, not local-tuned.
    // (r19 A/B-refuted alternative, NOT kept: holding the
    // accumulators as lazy unions of per-round checkpointed parts —
    // skipping the per-round rem re-checkpoint and delta
    // re-aggregation — made each round's below scan GROW 0.23→1.9 s as
    // the union view deepened, because curSup() and its broadcast
    // builds re-evaluate the view every round. Materialized
    // accumulators re-pay one small checkpoint per round and keep
    // every consumer's plan flat; measured 18-23 s vs 31-36 s total.)
    var remAcc: DataFrame = null; var remCnt = 0L
    var delAcc: DataFrame = null; var delCnt = 0L
    // flag a canonical-edge triple against an (u, v) edge table in
    // THREE aliased left joins over ONE broadcast (r18): per-side
    // renamed projections made each side's broadcast subtree
    // canonically distinct, so the same tiny shell table was built
    // and shipped three times per scan; aliased references share one
    // exchange. Matched side-k ⟺ col("<pre>k.u").isNotNull.
    def flag3(t6: DataFrame, edges: DataFrame, pre: String,
        bcast: Boolean): DataFrame = {
      val f = if (bcast) broadcast(edges) else edges
      t6.join(f.as(s"${pre}1"),
          col("e1u") === col(s"${pre}1.u") &&
            col("e1v") === col(s"${pre}1.v"), "left")
        .join(f.as(s"${pre}2"),
          col("e2u") === col(s"${pre}2.u") &&
            col("e2v") === col(s"${pre}2.v"), "left")
        .join(f.as(s"${pre}3"),
          col("e3u") === col(s"${pre}3.u") &&
            col("e3v") === col(s"${pre}3.v"), "left")
    }
    def anyHit(pre: String) = col(s"${pre}1.u").isNotNull ||
      col(s"${pre}2.u").isNotNull || col(s"${pre}3.u").isNotNull
    // current support = seeded sup minus tombstoned edges, minus
    // accumulated credits — a join view over the checkpointed
    // tables, no rewrite (map-side while the accumulators fit the
    // gate; keyed fallback above it, e.g. the round right before a
    // compaction folds them down)
    def curSup(): DataFrame = {
      def g(d: DataFrame, c: Long) =
        if (c <= broadcastMaxEdges) broadcast(d) else d
      var s = sup
      if (remCnt > 0) s = s.join(g(remAcc, remCnt), Seq("u", "v"), "left_anti")
      if (delCnt > 0) s = s.join(g(delAcc, delCnt), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("support") - coalesce(col("delta"), lit(0L))).as("support"))
      s
    }
    // fold the accumulators into materialized sup/tri3 and reset —
    // the scale path's per-round rewrite, now paid only when the
    // accumulated state demands it (each side join gated on its own
    // real count: broadcast map-side under the gate, shuffle above)
    def compact(): Unit = if (remCnt > 0 || delCnt > 0) {
      def g(d: DataFrame, c: Long) =
        if (c <= broadcastMaxEdges) broadcast(d) else d
      var s = sup
      if (remCnt > 0) s = s.join(g(remAcc, remCnt), Seq("u", "v"), "left_anti")
      if (delCnt > 0) s = s.join(g(delAcc, delCnt), Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("support") - coalesce(col("delta"), lit(0L))).as("support"))
      val nextSup = s.localCheckpoint()
      val t6 = tri3.select((col("src") +: col("dst") +: col("w") +:
        canonCols): _*)
      val nextTri =
        (if (remCnt > 0)
          flag3(t6, remAcc, "c", remCnt <= broadcastMaxEdges)
            .filter(!anyHit("c"))
            .select(col("src"), col("dst"), col("w"))
        else tri3).localCheckpoint()
      val dead = Seq(Option(sup), Option(tri3), Option(remAcc),
        Option(delAcc)).flatten
      graft.ext.Checkpoints.release(dead: _*)
      sup = nextSup; tri3 = nextTri
      remAcc = null; delAcc = null; remCnt = 0L; delCnt = 0L
    }
    var converged = false
    var round = 0
    val need = (k - 2).toLong
    // k <= 2: every edge satisfies support >= k-2 = 0 by definition
    // (the 2-truss IS the whole graph) — skip peeling; the seeded
    // sup, zeros and all, is already the answer.
    while (!converged && round < maxRounds && k > 2) {
      val below = curSup().filter(col("support") < need)
        .select("u", "v").localCheckpoint()
      val belowCnt = below.count()
      if (belowCnt == 0) {
        converged = true
        graft.ext.Checkpoints.release(below)
      } else if (belowCnt <= broadcastMaxEdges &&
          remCnt + belowCnt <= broadcastMaxEdges &&
          remCnt + belowCnt <= eCnt / 2 &&
          delCnt <= broadcastMaxEdges) {
        // (the eCnt/2 guard bounds scan waste: once half the edges
        // are tombstoned, the per-round full scan of a mostly-dead
        // triangle table costs more than folding it down once)
        // ---- virtual round: scans only, no table rewrite ----
        // newly-dead triangles = lost an edge to THIS round's shell
        // and had no edge already tombstoned (those died in an
        // earlier round and were credited then). One scan of tri3
        // with ≤6 flag joins over ≤2 shared broadcasts; rows in tri3
        // are unique by construction, so `dead` needs no distinct.
        val t6 = tri3.select(canonCols: _*)
        var dead = flag3(t6, below, "d", bcast = true)
        if (remCnt > 0) dead =
          flag3(dead, remAcc, "c", bcast = true).filter(!anyHit("c"))
        dead = dead.filter(anyHit("d"))
        // each newly-dead triangle credits each member edge once;
        // fold this round's credits into the accumulator (tiny:
        // bounded by 3 × cumulative dead triangles since the last
        // compaction, counted for the gate above)
        val roundDelta = creditsOf(dead)
          .groupBy("u", "v").agg(count(lit(1)).as("delta"))
        val nextDel = (if (delCnt > 0) delAcc.unionAll(roundDelta)
            .groupBy("u", "v").agg(sum(col("delta")).as("delta"))
          else roundDelta).localCheckpoint()
        delCnt = nextDel.count()
        // below is already checkpointed — it IS the accumulator when
        // none existed; union-and-rematerialize only when folding
        val nextRem =
          if (remCnt > 0) remAcc.unionAll(below).localCheckpoint()
          else below
        val deadCk = Seq(Option(delAcc),
          Option(if (remCnt > 0) remAcc else null),
          Option(if (remCnt > 0) below else null)).flatten
        remCnt += belowCnt
        graft.ext.Checkpoints.release(deadCk: _*)
        delAcc = nextDel; remAcc = nextRem
      } else {
        // shell or accumulators outgrew the broadcast gate — fold
        // everything down (the materializing round: one triangle
        // rewrite + one support rewrite, keyed joins above the gate),
        // leaving this round's shell to the NEXT iteration's below
        // pass over the compacted tables. To guarantee progress the
        // shell itself joins in as tombstones first.
        val hadRem = remCnt > 0
        val nextRem =
          if (hadRem) remAcc.unionAll(below).localCheckpoint()
          else below
        remCnt += belowCnt
        // credit deltas for triangles newly dead to this shell must
        // be folded BEFORE the shell enters remAcc-compaction, so
        // compute them against the pre-shell tombstone state
        val t6 = tri3.select(canonCols: _*)
        var dead = flag3(t6, below, "d", belowCnt <= broadcastMaxEdges)
        if (hadRem) dead = flag3(dead, remAcc, "c",
            remCnt - belowCnt <= broadcastMaxEdges)
          .filter(!anyHit("c"))
        dead = dead.filter(anyHit("d"))
        val roundDelta = creditsOf(dead)
          .groupBy("u", "v").agg(count(lit(1)).as("delta"))
        val nextDel = (if (delCnt > 0) delAcc.unionAll(roundDelta)
            .groupBy("u", "v").agg(sum(col("delta")).as("delta"))
          else roundDelta).localCheckpoint()
        delCnt = nextDel.count()
        val deadCk = Seq(Option(delAcc),
          Option(if (hadRem) remAcc else null),
          Option(if (hadRem) below else null)).flatten
        graft.ext.Checkpoints.release(deadCk: _*)
        delAcc = nextDel; remAcc = nextRem
        compact()
      }
      round += 1
    }
    // fold any pending tombstones into the survivor table — clean by
    // construction at convergence, at a maxRounds bail-out (the
    // pending shell stays, with its maintained supports — identical
    // to the fast path's shell-capped exit), and for k <= 2
    val out = curSup().select(col("u").as("src"), col("v").as("dst"),
      col("support")).localCheckpoint()
    val deadFin = Seq(Option(sup), Option(tri3), Option(remAcc),
      Option(delAcc)).flatten
    graft.ext.Checkpoints.release(deadFin: _*)
    out
  }

  /** Rich-club coefficient φ(k) over a degree ladder — do the HUBS
    * preferentially link to each other? φ(k) = 2·E_{>k} /
    * (N_{>k}(N_{>k}−1)) restricted to nodes of degree > k; rising
    * φ(k) with k is the "core of well-connected entities trade among
    * themselves" signature (a marketplace/collusion diagnostic the
    * node-level [[localClustering]] and the global [[assortativity]]
    * single number both miss).
    *
    * Exactness: node and edge counts are exact longs read off two
    * HISTOGRAMS (node count per degree; edge count per min-endpoint
    * degree), so each rung is one exact threshold sum and one IEEE
    * division, 6dp. N_{>k} < 2 reports 0.
    *
    * Scale shape: degrees from one exploded-edge aggregation
    * (map-side combined); each edge's min-endpoint degree from two
    * co-keyed joins against the degree table; both histograms are
    * degree-cardinality-bounded, so the k-ladder scan is a broadcast
    * cross of two tiny tables — nothing edge-proportional after the
    * joins.
    *
    * @param edges (src, dst) rows in either orientation; normalized,
    *              deduplicated, self-loops dropped internally.
    * @return one row per k: (k, n_nodes, n_edges, phi) — phi 6dp */
  def richClub(edges: DataFrame,
      ks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32),
      broadcastMaxEdges: Long = 20000000L): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast(LongType).as("u"),
        greatest(col("src"), col("dst")).cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint() // feeds degrees AND the per-edge min lookup
    // deg is node-bound — under the [[triangleCount]] edge gate it
    // broadcasts, so the two per-edge degree lookups below are
    // map-side and the edge table never shuffles (r18: they were
    // ungated keyed joins, two full shuffles of the edge list)
    val smallGraph = und.count() <= broadcastMaxEdges
    def gate(t: DataFrame): DataFrame = if (smallGraph) broadcast(t) else t
    val deg = und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // feeds the node histogram AND two edge joins
    val nodeHist = deg.groupBy("deg").agg(count(lit(1)).as("nn"))
    val edgeHist = und
      .join(gate(deg.select(col("n").as("u"), col("deg").as("du"))), Seq("u"))
      .join(gate(deg.select(col("n").as("v"), col("deg").as("dv"))), Seq("v"))
      .select(least(col("du"), col("dv")).as("mdeg"))
      .groupBy("mdeg").agg(count(lit(1)).as("ne"))
    import und.sparkSession.implicits._
    val kdf = ks.toDF("k")
    val nK = kdf.crossJoin(broadcast(nodeHist)).groupBy("k")
      .agg(sum(when(col("deg") > col("k"), col("nn")).otherwise(0L))
        .as("n_nodes"))
    val eK = kdf.crossJoin(broadcast(edgeHist)).groupBy("k")
      .agg(sum(when(col("mdeg") > col("k"), col("ne")).otherwise(0L))
        .as("n_edges"))
    val out = nK.join(eK, Seq("k"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        round(when(col("n_nodes") < 2L, 0.0)
          .otherwise(lit(2.0) * col("n_edges").cast(DoubleType) /
            (col("n_nodes") * (col("n_nodes") - 1L)).cast(DoubleType)), 6)
          .as("phi"))
      .localCheckpoint()
    graft.ext.Checkpoints.release(und, deg)
    out
  }
}
