package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the step that
  * turns near-dup PAIRS (MinHash/SimHash/embedding candidates, e.g.
  * [[DedupOps.lshNearDupPairs]]) into dedup CLUSTERS with a canonical
  * representative (the minimum id) per cluster, so a curation pipeline
  * can keep one document per duplicate group.
  *
  * Not in the reference (polario is dataset I/O only — SURVEY.md §0);
  * a first-class LLM-pipeline extension.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round points every node's neighborhood at the neighborhood minimum;
  * the edge set converges to per-component stars rooted at the
  * component minimum in O(log² n) rounds — O(log n) in practice and on
  * all measured graphs — even on adversarial chain graphs, where plain
  * min-label propagation needs O(diameter) rounds.
  *
  * Scale shape (100 TB): every step is a groupBy/join on a node-id
  * column — equi-shuffles only, no cross joins, and the edge frame
  * never grows beyond one row per (node, current root) pair. Each
  * round's frame is localCheckpointed: rounds would otherwise stack
  * 2 joins + 2 aggregations of lineage per iteration and re-analyze
  * the whole tree each round (checkpoint blocks are reclaimed when the
  * frames are GC'd). Duplicate-cluster graphs are almost all tiny
  * cliques, so real corpora converge in 2–3 rounds; `maxRounds` bounds
  * the adversarial tail and failure is loud, never a silent partial
  * clustering.
  */
object Components {

  /** Cluster assignment for every id that appears in `pairs`:
    * one row per node, `(id, cluster_id)` with `cluster_id` = the
    * smallest id in the node's connected component (the canonical
    * representative; roots are their own cluster_id). Ids must be
    * integral (cast to long). Self-pairs are ignored; isolated ids
    * never enter `pairs`, so callers union them back as their own
    * singletons when needed. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 25): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be positive")
    // Canonical downward orientation (u > v), self-loops dropped.
    // Checkpoints here are LAZY: a lazy localCheckpoint truncates the
    // logical plan immediately (LogicalRDD) but defers block
    // materialization to the first action — which is the checksum
    // aggregation the convergence loop runs anyway. Eager checkpoints
    // paid TWO driver-paced jobs per round (materialize + checksum);
    // fusing them into the checksum's job halves the round count's
    // fixed job overhead without changing what is computed (the
    // checksum fully materializes every partition, so each round
    // still reads the previous round's cached blocks, never re-runs
    // its lineage).
    var edges = pairs
      .select(col(aCol).cast("long").as("__ea"), col(bCol).cast("long").as("__eb"))
      .where(col("__ea") =!= col("__eb"))
      .select(greatest(col("__ea"), col("__eb")).as("u"),
        least(col("__ea"), col("__eb")).as("v"))
      .dropDuplicates("u", "v")
      .localCheckpoint(eager = false)

    var sum = checksum(edges)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val nextSum = checksum(next)
      // Star ops never grow a component past its minimum, so an equal
      // (count, hash-sum) fingerprint means the edge set is fixed —
      // deterministic run to run; a 64-bit sum collision on differing
      // same-size sets is the negligible-probability caveat.
      converged = nextSum == sum
      // The new round is materialized (checksum above is an action),
      // so the PREVIOUS round's checkpoint blocks are dead — free
      // them now instead of waiting for GC: a long-lived driver
      // running many clusterings would otherwise accumulate one
      // edge-frame of executor storage per round (spec-pinned).
      freeCheckpoint(edges)
      edges = next
      sum = nextSum
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds (adversarial-diameter graph) instead of trusting a partial clustering")

    // Fixed point is a star per component: every edge is
    // (member, root). Roots appear only on the v side.
    edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Large-star: for each node, point every LARGER neighbor at the
    * minimum of the closed neighborhood. Both edge directions
    * contribute (symmetrized view). */
  /** Triangle count over an undirected edge list with `aCol < bCol`
    * per edge (the [[connectedComponents]] input contract): two
    * self-joins matching `(a,b),(b,c),(a,c)` — the canonical
    * ordering counts each triangle exactly once. The
    * clustering-coefficient numerator for graph QA on near-dup /
    * collocation graphs.
    *
    * Scale shape: two equi-joins keyed on edge endpoints. On a
    * degree-skewed 100 TB graph, pre-order endpoints by degree
    * (low→high) so every edge's join fan-out is bounded by the
    * SMALLER degree (the standard compact-forward trick); for the
    * dimension-sized graphs this library builds (top-k collocations,
    * near-dup candidates) the plain joins broadcast. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
    e.as("e1")
      .join(e.as("e2"), col("e1.__b") === col("e2.__a"))
      .join(e.as("e3"),
        col("e3.__a") === col("e1.__a") && col("e3.__b") === col("e2.__b"))
      .agg(count(lit(1)).cast("bigint").as("n_triangles"))
  }

  /** Global clustering coefficient over an `a<b` edge list:
    * `3·triangles / wedges` with `wedges = Σ_v deg_v·(deg_v−1)/2` —
    * the closure scalar that says whether a near-dup/collocation
    * graph is clique-like (true duplicate families) or chain-like
    * (transitive LSH noise). Emitted as the exact scaled integer
    * `coeff_ppm = 3e6·triangles div wedges` (graft no-float-ratio
    * discipline); degenerate wedge-free graphs yield NULL, not a
    * fake 0.
    *
    * Scale shape: [[triangleCount]]'s joins + one endpoint-keyed
    * degree aggregate; both dimension-sized on the graphs this
    * library builds. */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val ends = edges.select(col(aCol).as("__v"))
      .unionAll(edges.select(col(bCol).as("__v")))
    val wedges = ends.groupBy(col("__v"))
      .agg(count(lit(1)).as("__d"))
      .agg(coalesce(sum(expr("__d * (__d - 1) div 2")), lit(0L))
        .cast("bigint").as("n_wedges"))
    triangleCount(edges, aCol, bCol)
      .crossJoin(broadcast(wedges))
      .withColumn("coeff_ppm", expr(
        "CASE WHEN n_wedges = 0 THEN NULL " +
          "ELSE (CAST(3000000 AS DECIMAL(38,0)) * n_triangles) div n_wedges END")
        .cast("bigint"))
  }

  /** Deterministic graph-context pairs — the node2vec/DeepWalk
    * training-data extraction with the randomness replaced by a hash
    * (graft determinism discipline): from every node, walk `steps`
    * edges, at each step moving to the neighbor with the smallest
    * `rollingHash(src|dst|step)`. Every retry, re-run, and engine
    * picks the same walks, so the emitted `(start, end_node)` pairs
    * are reproducible training data, not a sampling lottery.
    *
    * Scale shape: one argmin aggregate per step over the directed
    * edge list (min-of-struct, map-side combined) + one join per
    * step against the walk frontier — `steps` small shuffles, each
    * keyed on a node id. Per-step choice is shared by all walkers at
    * a node (a functional-graph step), which is what makes one
    * aggregate per step sufficient. */
  def hashWalkPairs(edges: DataFrame, aCol: String, bCol: String,
                    steps: Int): DataFrame = {
    require(steps >= 1, "steps must be positive")
    val dir = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val start = dir.select(col("src").as("start")).distinct()
      .withColumn("cur", col("start"))
    (1 to steps).foldLeft(start) { (walk, s) =>
      val choice = dir
        .withColumn("__h", expr(
          s"graft_rolling_hash(concat(src, '|', dst, '|', '$s'))"))
        .groupBy(col("src"))
        .agg(min(struct(col("__h"), col("dst"))).as("__m"))
        .select(col("src").as("cur"), col("__m.dst").as("__nxt"))
      walk.join(choice, "cur")
        .select(col("start"), col("__nxt").as("cur"))
    }.select(col("start"), col("cur").as("end_node")).orderBy("start")
  }

  private def largeStar(e: DataFrame): DataFrame = {
    val nb = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nb.groupBy("u").agg(min(col("v")).as("__mn"))
      .select(col("u"), least(col("u"), col("__mn")).as("__m"))
    nb.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("__m").as("v"))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
  }

  /** Small-star: for each node, point every SMALLER neighbor (and the
    * node itself) at the minimum of its smaller neighborhood. Input
    * edges already point downward (u > v). */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("__m"))
    e.join(mins, "u")
      .select(col("v").as("u"), col("__m").as("v"))
      .unionAll(mins.select(col("u"), col("__m").as("v")))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
  }

  /** PageRank over a directed edge list — the link-analysis importance
    * score a curation pipeline uses to weight crawl sources (a page
    * linked by many well-linked pages is a better training-data bet
    * than an orphan), and the standard centrality read on the
    * co-occurrence / citation graphs this library already builds.
    *
    * Determinism discipline: ranks are EXACT scaled integers
    * (`rank_ppm`, DECIMAL(38,0) parts-per-million), every division is
    * an integral `div`, and the recurrence is the fixed tree
    * `r' = ((1000−d)·base + d·Σ r/outdeg) div 1000` with
    * `base = 1e6 div N` — bitwise reproducible across engines,
    * retries, and partitionings (no float accumulation order).
    * Dangling-node mass is dropped, not redistributed (pinned
    * semantics; total mass is then not conserved, which is irrelevant
    * for ranking and keeps the per-iteration plan to one join).
    *
    * Scale shape (100 TB): the BSP/Pregel shape — per iteration one
    * equi-join of the edge list with the current ranks on the source
    * id plus one destination-keyed sum (map-side combined), never
    * anything quadratic. The edge list and out-degree table are
    * localCheckpointed once and reused every iteration; `iters` is
    * small and caller-bounded, so rank lineage stays shallow. Driver
    * holds nothing corpus-sized. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPermille: Int = 850): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iters, dampingPermille, None)

  /** Personalized (topic-sensitive) PageRank — Haveliwala, WWW 2002:
    * the teleport mass lands ONLY on the `seeds` node set, so ranks
    * measure proximity to the seeds instead of global importance —
    * the crawl-frontier prioritizer ("expand from trusted domains")
    * and the related-items read over co-occurrence graphs. Same
    * exact-integer recurrence as [[pageRank]] with the base term
    * gated per node: `r' = ((1000−d)·base·[v∈seeds] + d·Σ r/outdeg)
    * div 1000`, `base = 1e6 div |seeds∩nodes|`. Seeds outside the
    * graph are ignored; a seed set disjoint from a non-empty graph
    * fails a `require` (loud, never a silent all-zero ranking). An
    * empty graph ranks no node, with or without seeds. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, dampingPermille: Int = 850): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iters, dampingPermille,
      Some(seeds.select(col(seedCol).as("node")).distinct()))

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int, dampingPermille: Int,
                           seedsOpt: Option[DataFrame]): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      "dampingPermille must be in [0, 1000]")
    // LAZY checkpoint: the nodes checkpoint job below is the first
    // action over `e`, so it materializes these blocks in the same
    // job — one driver-paced job instead of two (the
    // connectedComponents fusion; nothing frees `e` before that job).
    val e = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src") =!= col("__dst"))
      .dropDuplicates("__src", "__dst")
      .localCheckpoint(eager = false)
    val nodesPlain = e.select(col("__src").as("node"))
      .unionAll(e.select(col("__dst").as("node")))
      .distinct()
    // __seed gates the teleport term; global PageRank = every node 1.
    // Placed (partitioned + sorted) on `node`: every round's teleport
    // left-join then co-locates with the contribution aggregate's own
    // hash(node) output — the node frame never re-shuffles. The
    // partition count is PINNED to the session's shuffle partitions:
    // a bare repartition(col) is AQE-coalescible, and a checkpoint
    // captured at a coalesced count mismatches the per-round
    // aggregate exchanges, forcing a fresh node-side shuffle every
    // iteration (measured: 3 extra Exchanges on the q205 graph).
    val shufflePartitions = edges.sparkSession.sessionState.conf.numShufflePartitions
    val nodes = seedsOpt.fold(nodesPlain.withColumn("__seed", lit(1L))) { s =>
      nodesPlain.join(s.withColumn("__in", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__in"), lit(0L)).as("__seed"))
    }.repartition(shufflePartitions, col("node"))
      .sortWithinPartitions(col("node"))
      .localCheckpoint()
    // Teleport denominator = seed-node count. A single scalar read
    // over the node-sized checkpoint, held on the driver like the
    // k-means centroids — embedding it as a literal removes the
    // 1-row aggregate+broadcast subtree the lazy plan otherwise
    // re-evaluated once per iteration (2 Exchanges each). The count
    // is NULL on an empty graph (sum over zero rows), which ranks no
    // node; a disjoint seed set makes it 0 and fails on the driver
    // before any iteration runs, whatever the session's ANSI mode.
    //
    // All arithmetic is BIGINT, and that is EXACT, not approximate:
    // the initial total rank mass is N·(10⁶ div N) ≤ 10⁶, and every
    // iteration can only shrink it (damping multiplies by d/1000,
    // dangling mass is dropped, integral divides round down) — so
    // every rank, every per-edge contribution, and every contribution
    // SUM is ≤ 10⁶, and the largest intermediate
    // (1000·base + 1000·Σcontrib ≤ 2·10⁹) sits eight orders of
    // magnitude under 2⁶³. BIGINT stays inside whole-stage codegen
    // where DECIMAL(38,0) falls out to BigDecimal ops — a measured
    // ~2× cut on the q205 supplier-part graph at the gate config.
    val n: java.lang.Long = nodes.agg(sum(col("__seed")))
      .head().getAs[java.lang.Long](0)
    if (n == null)
      return nodes.select(col("node"), lit(0L).as("rank_ppm"))
    require(n > 0, "seed set is disjoint from the graph")
    val base: Long = 1000000L / n
    // Edges with their source degree attached, ONCE — static across
    // rounds, so each round is a single edge⨝ranks join + one
    // destination-keyed sum, not two big joins. Materialized
    // PARTITIONED AND SORTED on the join key (count pinned as above):
    // LogicalRDD preserves both, so every iteration's join shuffles
    // and sorts ONLY the node-sized rank side — the edge list (the
    // big side, and the one that dwarfs ranks at 100 TB) moves zero
    // bytes per round after this one-time placement. LAZY: the first
    // round's join materializes the blocks inside the query's own
    // job (rounds are sequential, so no later reference can race the
    // first materialization; nothing frees these blocks).
    val eDeg = e.join(
        e.groupBy(col("__src"))
          .agg(count(lit(1)).as("__d")),
        "__src")
      .repartition(shufflePartitions, col("__src"))
      .sortWithinPartitions(col("__src"))
      .localCheckpoint(eager = false)
    // The teleport term ((1000−d)·base·seed) depends only on the
    // STATIC nodes frame, so the recurrence references the previous
    // ranks exactly ONCE (inside the contrib join) — lineage grows
    // linearly in `iters`, no per-round checkpoint/re-execution
    // blowup (a double-referenced lazy rank frame re-executes 2^iters
    // times — measured 15s at 3 iters on the q205 graph).
    var r: DataFrame = nodes
      .select(col("node"), (lit(base) * col("__seed")).as("rank_ppm"))
    (1 to iters).foreach { _ =>
      val contribs = eDeg
        .join(r.select(col("node").as("__src"), col("rank_ppm")), "__src")
        .select(col("__dst").as("node"),
          expr("rank_ppm div __d").as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).as("__s"))
      r = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"(${1000 - dampingPermille}L * ${base}L * __seed" +
            s" + ${dampingPermille}L * coalesce(__s, 0L)) div 1000L")
            .as("rank_ppm"))
    }
    r.select(col("node"), col("rank_ppm").cast("bigint").as("rank_ppm"))
  }

  /** Synchronous majority label propagation (Raghavan et al. 2007),
    * made deterministic: every node starts labeled with itself; each
    * round ALL nodes simultaneously adopt the most frequent label
    * among their neighbors, ties broken to the smallest label. After
    * a few rounds labels pool inside densely-connected regions —
    * the cheap community detector for the near-dup / co-occurrence
    * graphs this library builds, sitting between
    * [[connectedComponents]] (pure reachability) and modularity
    * methods this engine doesn't need. Fixed `rounds` (not
    * convergence-polled): LPA on bipartite-ish structure can
    * oscillate under synchronous update, so a bounded unrolled
    * recurrence is both the reproducible and the
    * oracle-expressible semantics.
    *
    * Determinism discipline: majority = `max(count)` then
    * `min(label)` among the tied — two mergeable aggregations, no
    * `max_by` (tie order undefined) and no RNG (the paper's random
    * visit order) anywhere.
    *
    * Scale shape (100 TB): the BSP shape — per round one
    * edge⨝labels equi-join on the neighbor id, one (node,
    * label)-keyed count (map-side combined), one node-keyed max and
    * one filtered min. The symmetric edge list is localCheckpointed
    * once; the per-round count frame is localCheckpointed so the
    * max/min pair reads ONE materialization (a lazy double
    * reference re-executes the whole prefix 2^rounds times — the
    * q205 lesson). Nothing quadratic, driver holds nothing. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, "rounds must be in [1, 50]")
    val sym = edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .unionAll(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
      .where(col("__a") =!= col("__b"))
      .dropDuplicates("__a", "__b")
      .localCheckpoint()
    var labels = sym.select(col("__a").as("node")).distinct()
      .withColumn("label", col("node"))
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to rounds).foreach { _ =>
      val counts = sym
        .join(labels.select(col("node").as("__b"), col("label")), "__b")
        .groupBy(col("__a").as("node"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .localCheckpoint()
      val best = counts.groupBy(col("node")).agg(max(col("__n")).as("__mx"))
      labels = counts.join(best, "node")
        .where(col("__n") === col("__mx"))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"))
      spent += counts
    }
    val out = labels.localCheckpoint()
    spent.foreach(freeCheckpoint)
    out
  }

  /** k-core decomposition: the maximal subgraph in which every node
    * has degree ≥ k, found by the classic peel — repeatedly delete
    * nodes of degree < k until none remain (deleting a node can
    * drop a neighbor below k, hence the iteration). The standard
    * graph-cleanup verb before community/centrality work: the k-core
    * separates the densely-embedded region from tendrils that LPA
    * and PageRank otherwise waste signal on.
    *
    * Deterministic (no ordering anywhere: each round deletes ALL
    * under-k nodes simultaneously) and loud: more than `maxRounds`
    * peels raises rather than silently returning an unconverged
    * subgraph (the [[connectedComponents]] budget discipline).
    *
    * Output: `(node, core_degree)` for the surviving nodes — their
    * degree WITHIN the k-core.
    *
    * Scale shape (100 TB): per round one node-keyed degree count +
    * two semi-joins on the edge frame, each round's survivor edges
    * localCheckpointed (linear lineage); rounds are
    * graph-diameter-ish bounded in practice. Driver sees only the
    * per-round edge COUNT (the convergence test), never data. */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
            k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxRounds >= 1, "maxRounds must be positive")
    // Lazy checkpoints: the per-round count (the convergence test)
    // materializes the blocks in the same job, so each round pays ONE
    // driver-paced job instead of checkpoint + count (the
    // connectedComponents fusion).
    var live = edges
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
      .unionAll(edges.select(col(bCol).as("__a"), col(aCol).as("__b")))
      .where(col("__a") =!= col("__b"))
      .dropDuplicates("__a", "__b")
      .localCheckpoint(eager = false)
    var prevCount = live.count()
    var round = 0
    var stable = prevCount == 0L
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (!stable) {
      round += 1
      require(round <= maxRounds,
        s"kCore did not converge within $maxRounds rounds — raise maxRounds")
      val keep = live.groupBy(col("__a").as("node"))
        .agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k)
        .select(col("node"))
      val next = live
        .join(keep.select(col("node").as("__a")), Seq("__a"), "left_semi")
        .join(keep.select(col("node").as("__b")), Seq("__b"), "left_semi")
        .localCheckpoint(eager = false)
      val n = next.count()
      stable = n == prevCount
      prevCount = n
      spent += live
      live = next
    }
    val out = live.groupBy(col("__a").as("node"))
      .agg(count(lit(1)).cast("bigint").as("core_degree"))
      .localCheckpoint()
    spent.foreach(freeCheckpoint)
    out
  }

  /** Link prediction over an undirected graph: for every NON-edge
    * pair of nodes sharing at least one neighbor, the common-neighbor
    * count and the neighborhood Jaccard
    * `jaccard_ppm = (1e6 · cn) div (deg(u) + deg(v) − cn)` — the two
    * classic local similarity scores (Liben-Nowell & Kleinberg 2003),
    * integer-exact. Output: top-`k` candidate edges
    * `(u, v, cn, du, dv, jaccard_ppm)` with `u < v`, ordered by
    * `(cn DESC, jaccard_ppm DESC, u, v)`.
    *
    * Scale shape: candidate generation is the wedge join — adjacency
    * self-joined on the SHARED-NEIGHBOR key, so each intermediate
    * node `w` contributes deg(w)² pairs. That square is the whole
    * cost model, so hubs are capped: a `w` with degree above
    * `maxDegree` is skipped as an intermediate (the standard
    * hub-suppression used by triangle counting here and by every
    * production similarity join; hubs connect everything and carry no
    * signal). Degrees for the Jaccard denominator still come from the
    * FULL graph. Everything else is node-keyed equi-joins + one
    * anti-join against the edge set (ids only) + TakeOrdered k.
    */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     k: Int, maxDegree: Long = 10000L): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxDegree >= 1, "maxDegree must be positive")
    val e = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val adj = e.select(col("a").as("w"), col("b").as("u"))
      .unionAll(e.select(col("b").as("w"), col("a").as("u")))
    val deg = adj.groupBy(col("w").as("node"))
      .agg(count(lit(1)).cast("bigint").as("dg"))
    val wOk = adj.join(
      deg.where(col("dg") <= maxDegree).select(col("node").as("w")),
      Seq("w"), "left_semi")
    val cn = wOk.alias("x")
      .join(wOk.alias("y"),
        col("x.w") === col("y.w") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("u"), col("y.u").as("v"))
      .agg(count(lit(1)).cast("bigint").as("cn"))
    val nonEdge = cn.join(
      e.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"), "left_anti")
    nonEdge
      .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
      .withColumn("jaccard_ppm", expr("(1000000L * cn) div (du + dv - cn)"))
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        col("jaccard_ppm"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Bounded-hop BFS distances from a seed set: `(node, hop)` with
    * `hop` = the minimum number of edges from any seed (seeds are hop
    * 0), limited to `maxHops` — the k-hop reachability query
    * (blast-radius, neighborhood expansion, contamination spread)
    * over an undirected edge list.
    *
    * Scale shape: classic BSP frontier expansion — each round is ONE
    * equi-join of the current frontier against the adjacency list
    * plus an anti-join against the visited set (ids only), so a
    * round's cost is the frontier's edge volume, not the graph's.
    * Rounds are bounded by `maxHops` (no convergence probe needed);
    * an exhausted frontier exits early. Per-round localCheckpoint
    * keeps lineage flat, as in [[connectedComponents]].
    */
  def bfsDistances(edges: DataFrame, aCol: String, bCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // the adjacency frame is static across rounds — materialize it
    // once (otherwise every round re-derives the whole edge pipeline)
    val adj = edges.select(col(aCol).as("__w"), col(bCol).as("__u"))
      .unionAll(edges.select(col(bCol).as("__w"), col(aCol).as("__u")))
      .where(col("__w") =!= col("__u"))
      .dropDuplicates("__w", "__u")
      .localCheckpoint()
    var visited = seeds.select(col(seedCol).as("node"), lit(0L).as("hop"))
      .dropDuplicates("node")
      .localCheckpoint()
    var frontier = visited.select(col("node"))
    var h = 0
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      // next is a LAZY checkpoint: the visited-union checkpoint job
      // right below materializes (and caches) its partitions, and the
      // loop's frontier.isEmpty then reads the cache — one job per
      // hop instead of two.
      val next = frontier
        .join(adj, frontier("node") === adj("__w"))
        .select(col("__u").as("node"))
        .dropDuplicates("node")
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      spent += visited
      visited = visited
        .unionAll(next.withColumn("hop", lit(h.toLong)))
        .localCheckpoint()
      spent += next
      frontier = next
    }
    val out = visited.localCheckpoint()
    spent.foreach(freeCheckpoint)
    out
  }

  /** Degree assortativity of an undirected `a<b` edge list — does the
    * graph wire hubs to hubs (r>0, e.g. social graphs) or hubs to
    * leaves (r<0, e.g. collocation stars around function words)? The
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * image (each undirected edge contributes both orientations, the
    * standard Newman 2002 convention). Because the directed image is
    * symmetric, Σx = Σy and Σx² = Σy², so the usual sqrt denominator
    * collapses to the rational
    * `r = (m·Σxy − S1²) / (m·S2 − S1²)` — EXACT integer arithmetic,
    * no floating point (graft no-float-ratio discipline). Emitted as
    * `r_ppm` via sign-split truncated division (the numerator can be
    * negative; `div` truncates toward zero on both engines only when
    * the operands are split by sign). Degenerate regular graphs
    * (variance 0) yield NULL, not a fake 0.
    *
    * Scale shape (100 TB): one endpoint-keyed degree aggregate + two
    * equi-joins of the directed edge list against the (node, degree)
    * dimension + one scalar aggregate — all map-side-combinable; the
    * moment sums are DECIMAL(38,0) so a 10^12-edge graph with 10^6
    * degrees cannot overflow. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val dir = e.unionAll(e.select(col("__b").as("__a"), col("__a").as("__b")))
    val deg = dir.groupBy(col("__a")).agg(count(lit(1)).as("__d"))
    val withDeg = dir
      .join(deg.withColumnRenamed("__d", "__dx"), "__a")
      .join(deg.select(col("__a").as("__b"), col("__d").as("__dy")), "__b")
    withDeg
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__m"),
        sum((col("__dx") * col("__dy")).cast("decimal(38,0)")).as("__sxy"),
        sum(col("__dx").cast("decimal(38,0)")).as("__s1"),
        sum((col("__dx") * col("__dx")).cast("decimal(38,0)")).as("__s2"))
      .select(
        expr("CAST(__m div 2 AS BIGINT)").as("n_edges"),
        expr("CAST(__m * __sxy - __s1 * __s1 AS DECIMAL(38,0))").as("__num"),
        expr("CAST(__m * __s2 - __s1 * __s1 AS DECIMAL(38,0))").as("__den"))
      .select(
        col("n_edges"),
        expr("""CASE WHEN __den = 0 THEN NULL
                WHEN __num < 0 THEN -CAST((CAST(1000000 AS DECIMAL(38,0)) * (-__num)) div __den AS BIGINT)
                ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * __num) div __den AS BIGINT) END""")
          .cast("bigint").as("r_ppm"))
  }

  /** Per-node clustering coefficient over an `a<b` edge list:
    * `lcc_v = 2·tri_v / (d_v·(d_v−1))` in exact ppm — which nodes sit
    * inside cliques (duplicate families, topical clusters) vs star
    * centers (LSH noise hubs). The global [[clusteringCoefficient]]
    * answers "is this graph clique-like"; this answers "WHICH nodes".
    * Nodes of degree < 2 have no wedges and are omitted (their
    * coefficient is undefined, not 0).
    *
    * Scale shape: the ordered triangle enumeration of
    * [[triangleCount]] (fan-out bounded by the smaller endpoint
    * degree after degree-ordering on skewed graphs) + a 3-way role
    * union keyed on node id + one degree aggregate — equi-shuffles
    * on node ids only. */
  def localClustering(edges: DataFrame, aCol: String,
                      bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.__b") === col("e2.__a"))
      .join(e.as("e3"),
        col("e3.__a") === col("e1.__a") && col("e3.__b") === col("e2.__b"))
      .select(col("e1.__a").as("__x"), col("e1.__b").as("__y"),
        col("e2.__b").as("__z"))
    val triPerNode = tri.select(col("__x").as("__v"))
      .unionAll(tri.select(col("__y").as("__v")))
      .unionAll(tri.select(col("__z").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__tri"))
    val deg = e.select(col("__a").as("__v"))
      .unionAll(e.select(col("__b").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__d"))
    deg.where(col("__d") >= 2)
      .join(triPerNode, Seq("__v"), "left")
      .select(
        col("__v").as("node"),
        col("__d").cast("bigint").as("degree"),
        coalesce(col("__tri"), lit(0L)).cast("bigint").as("n_tri"))
      .withColumn("lcc_ppm",
        expr("(2000000 * n_tri) div (degree * (degree - 1))").cast("bigint"))
  }

  /** Edge reciprocity of a DIRECTED edge list (self-loops and
    * duplicate arcs removed): the fraction of arcs whose reverse arc
    * is also present, in exact ppm — on a bigram graph this measures
    * how often word order is free (`data processing` vs `processing
    * data`); on a citation/link graph it separates mutual-link spam
    * farms from organic DAG-like structure.
    *
    * Scale shape: one distinct on the arc pair + one self-equi-join
    * keyed on (dst, src) — shuffles on endpoint pairs only, no
    * cross join; counts are map-side combined. */
  def reciprocity(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .where(col("__s") =!= col("__t"))
      .distinct()
    val mutual = e.as("f")
      .join(e.as("r"),
        col("f.__s") === col("r.__t") && col("f.__t") === col("r.__s"))
      .select(col("f.__s"), col("f.__t"))
    e.agg(count(lit(1)).cast("bigint").as("n_arcs"))
      .crossJoin(broadcast(
        mutual.agg(count(lit(1)).cast("bigint").as("n_mutual"))))
      .withColumn("reciprocity_ppm",
        expr("CASE WHEN n_arcs = 0 THEN NULL " +
          "ELSE (1000000 * n_mutual) div n_arcs END").cast("bigint"))
  }

  /** Integer HITS (Kleinberg hubs-and-authorities) on a directed arc
    * list: authority = sum of in-neighbor hub scores, hub = sum of
    * out-neighbor authority scores, each vector rescaled after every
    * half-step so its maximum is exactly 1e6 (`x·1e6 div max` —
    * truncated integer division, so every engine that replays the
    * rounds lands on bitwise-identical scores; the float-free
    * stand-in for L2 normalization). The caller supplies a clean arc
    * list (dedup / self-loop policy is the caller's — weighted
    * multigraphs are legitimate input).
    *
    * Scale shape (100 TB): per round, two equi-joins keyed on arc
    * endpoints + two node-keyed aggregations + a broadcast scalar
    * max — no driver-side collect, no cross join beyond the 1-row
    * broadcast. `iters` is small and fixed. Each half-step's score
    * frame is localCheckpointed: the a/h recurrences reference each
    * other AND the rescale max reads its own half-step twice, so a
    * lazy chain re-executes the whole prefix ~4^iters times (the
    * q205 double-reference lesson — measured as a 15k-operator
    * physical plan and 3.3 s of re-execution on q314's 100-edge
    * graph before the conversion; ~0.5 s after). Spent half-step
    * checkpoints are freed eagerly. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__t"))
      .localCheckpoint()
    val nodes = e.select(col("__s").as("__v"))
      .unionAll(e.select(col("__t").as("__v"))).distinct()
      .localCheckpoint()
    var h = nodes.withColumn("__h", lit(1000000L))
    var a: DataFrame = null
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iters) {
      val contribA = e
        .join(h.select(col("__v").as("__s2"), col("__h")),
          col("__s") === col("__s2"))
        .groupBy(col("__t").as("__v")).agg(sum(col("__h")).as("__raw"))
      // ar/hr are deliberately NOT checkpointed: each is referenced
      // twice (its own rescale max + the rescale projection), which
      // re-runs one shallow join+agg over checkpointed inputs — two
      // cheap passes beat an extra materialization job per half-step.
      // The exponential hazard is only in the CROSS-half-step chain,
      // which the a/h checkpoints cut.
      val ar = nodes.join(contribA, Seq("__v"), "left")
        .select(col("__v"), coalesce(col("__raw"), lit(0L)).as("__raw"))
      val am = ar.agg(max(col("__raw")).as("__m"))
      spent += h
      if (a != null) spent += a
      a = ar.crossJoin(broadcast(am))
        .withColumn("__a", expr(
          "CASE WHEN __m IS NULL OR __m = 0 THEN 0L " +
            "ELSE (__raw * 1000000L) div __m END"))
        .select(col("__v"), col("__a"))
        .localCheckpoint()
      val contribH = e
        .join(a.select(col("__v").as("__t2"), col("__a")),
          col("__t") === col("__t2"))
        .groupBy(col("__s").as("__v")).agg(sum(col("__a")).as("__rawh"))
      val hr = nodes.join(contribH, Seq("__v"), "left")
        .select(col("__v"), coalesce(col("__rawh"), lit(0L)).as("__rawh"))
      val hm = hr.agg(max(col("__rawh")).as("__mh"))
      h = hr.crossJoin(broadcast(hm))
        .withColumn("__h", expr(
          "CASE WHEN __mh IS NULL OR __mh = 0 THEN 0L " +
            "ELSE (__rawh * 1000000L) div __mh END"))
        .select(col("__v"), col("__h"))
        .localCheckpoint()
    }
    val out = h.join(a, Seq("__v"))
      .select(col("__v").as("node"), col("__h").as("hub_ppm"),
        col("__a").as("auth_ppm"))
    // the final a/h checkpoints stay live inside `out`'s plan; only
    // strictly-interior half-step frames are freed here (a is still
    // referenced — excluded above)
    spent.foreach(freeCheckpoint)
    out
  }

  /** Bounded-round Bellman–Ford: single-source-set weighted shortest
    * paths over an undirected integer-weighted edge list. Round r
    * relaxes every edge once — after r rounds, `dist` holds the exact
    * shortest distance for every node reachable by a path of ≤ r
    * edges (the classic Bellman–Ford invariant), so `maxRounds` plays
    * the same horizon role as `maxHops` in [[bfsDistances]], with
    * per-edge costs instead of unit hops. Weights must be
    * non-negative (enforced); multi-edges collapse to their cheapest
    * cost before the loop.
    *
    * Scale shape (100 TB): BSP — the adjacency frame is static across
    * rounds and localCheckpointed ONCE; each round is one equi-join
    * of the (node, dist) frame against it plus a min-combine groupBy,
    * both shuffle-partitioned on node id, carrying only (node, dist)
    * — never row payloads. The dist frame is re-checkpointed per
    * round so lineage stays linear in rounds (no 2^r plan blowup),
    * and spent round frames are unpersisted eagerly. Rounds are a
    * fixed small constant — the graph diameter horizon — not a
    * data-sized loop. */
  def weightedShortestPaths(edges: DataFrame, aCol: String, bCol: String,
                            costCol: String, seeds: DataFrame,
                            seedCol: String, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be non-negative")
    val half = edges.select(col(aCol).as("__w"), col(bCol).as("__u"),
      col(costCol).cast("bigint").as("__c"))
    val adj = half
      .unionAll(half.select(col("__u").as("__w"), col("__w").as("__u"), col("__c")))
      .where(col("__w") =!= col("__u"))
      .groupBy(col("__w"), col("__u")).agg(min(col("__c")).as("__c"))
      .localCheckpoint()
    require(adj.where(col("__c") < 0).isEmpty,
      "weightedShortestPaths requires non-negative edge costs")
    var dist = seeds.select(col(seedCol).as("node"), lit(0L).as("dist"))
      .dropDuplicates("node")
      .localCheckpoint()
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to maxRounds) {
      val relaxed = dist
        .join(adj, dist("node") === adj("__w"))
        .select(col("__u").as("node"), (col("dist") + col("__c")).as("dist"))
      spent += dist
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    val out = dist.localCheckpoint()
    spent.foreach(freeCheckpoint)
    out
  }

  /** Release a `localCheckpoint`ed frame's cached blocks eagerly.
    * A checkpointed Dataset's plan is a LogicalRDD over the
    * materialized RDD; unpersisting that RDD frees its storage now
    * rather than at ContextCleaner GC time. No-op on non-checkpointed
    * plans. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Order-insensitive edge-set fingerprint: (row count, exact
    * decimal sum of per-edge xxhash64 — long sums overflow under ANSI
    * mode). One cheap aggregation job per round on a checkpointed
    * frame. */
  private def checksum(e: DataFrame): (Long, String) = {
    val r = e.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h")).head()
    (r.getLong(0), String.valueOf(r.getDecimal(1)))
  }

  /** Newman modularity of a node partition over an undirected edge
    * list (`aCol < bCol` per edge, the [[connectedComponents]] input
    * contract) — "are these communities denser inside than a random
    * rewiring would be?": with `m` edges, per-community intra-edge
    * counts `e_c` and degree sums `d_c`,
    * `Q·4m² = Σ_c (4·m·e_c − d_c²)` is an exact integer;
    * `q_ppm` = sign-split `(10⁶·Σ) div (4·m²)`. Nodes missing from
    * `labels` raise loudly (a silent drop would understate every
    * d_c). One row: `(m_edges, n_communities, q_ppm)`.
    *
    * Scale shape (100 TB): two id-keyed joins hang the labels on the
    * edge endpoints; everything after is a community-cardinality
    * aggregation. */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a") =!= col("__b"))
      .dropDuplicates("__a", "__b")
      .localCheckpoint()
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    def tagged(side: String) = e
      .join(lab.select(col("__n").as(s"__$side"), col("__l").as(s"__l$side")),
        Seq(s"__$side"), "left")
      .withColumn(s"__l$side", expr(
        s"CASE WHEN __l$side IS NOT NULL THEN __l$side ELSE raise_error(" +
          s"concat('modularity: node ', CAST(__$side AS STRING), " +
          "' has no label')) END"))
    val both = tagged("a")
      .join(lab.select(col("__n").as("__b"), col("__l").as("__lb")),
        Seq("__b"), "left")
      .withColumn("__lb", expr(
        "CASE WHEN __lb IS NOT NULL THEN __lb ELSE raise_error(" +
          "concat('modularity: node ', CAST(__b AS STRING), " +
          "' has no label')) END"))
      .localCheckpoint()
    val m = both.agg(count(lit(1)).cast("bigint").as("__m"))
    val intra = both.where(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__c"))
      .agg(count(lit(1)).cast("bigint").as("__e"))
    val degrees = both.select(col("__la").as("__c"))
      .unionAll(both.select(col("__lb").as("__c")))
      .groupBy(col("__c"))
      .agg(count(lit(1)).cast("bigint").as("__d"))
    degrees.join(intra, Seq("__c"), "left")
      .withColumn("__e", coalesce(col("__e"), lit(0L)))
      .crossJoin(broadcast(m))
      .agg(max(col("__m")).as("__m"),
        count(lit(1)).cast("bigint").as("n_communities"),
        // per-community term on DECIMAL(38,0): 4·m·e_c (and d_c²)
        // overflow int64 past ~1.5e9 edges — same headroom as the
        // final division below, which moved to decimal for exactly
        // this reason
        sum(expr("4L * cast(__m as decimal(38,0)) * __e " +
          "- cast(__d as decimal(38,0)) * __d")).as("__num"))
      .select(col("__m").cast("bigint").as("m_edges"), col("n_communities"),
        // DECIMAL(38,0) products: 10⁶·4m² overflows int64 past ~1.5M
        // edges, and graphs here can be larger
        expr("CASE WHEN __m = 0 THEN NULL " +
          "WHEN __num >= 0 THEN cast((1000000 * cast(__num as decimal(38,0))) " +
          "div (4 * cast(__m as decimal(38,0)) * __m) as bigint) " +
          "ELSE -cast((1000000 * cast(-__num as decimal(38,0))) " +
          "div (4 * cast(__m as decimal(38,0)) * __m) as bigint) END")
          .cast("bigint").as("q_ppm"))
  }

  /** Harmonic centrality truncated at 3 hops —
    * `h(v) = Σ_{u≠v, d(u,v)≤3} 1/d(u,v)` in exact ppm integers
    * (`10⁶ div d` per reached node: 10⁶, 5·10⁵, 333333) — the
    * "which tokens/documents sit central in the collocation or
    * near-dup graph" score, with the truncation making cost and
    * semantics explicit instead of running an unbounded BFS. Exact
    * per-distance frontier sets: 2-hop pairs subtract the 1-hop set,
    * 3-hop pairs subtract both, so each pair contributes its true
    * shortest distance. Output one row per node that reaches ≥ 1
    * neighbor: `(node, n1, n2, n3, harmonic_ppm)`.
    *
    * Scale shape (100 TB): three equi-joins on node ids (adjacency
    * squared then cubed, each deduplicated before the next
    * expansion) + distinct/anti-join set algebra — BSP-shaped, no
    * driver iteration. Frontier frames can grow toward n·d̄² on dense
    * graphs: run on dimension-sized graphs (top-k collocations,
    * near-dup clusters), same contract as [[triangleCount]]. */
  def harmonicCentrality(edges: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val adj = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionAll(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
      .localCheckpoint()
    val d1 = adj
    val reach2 = d1.select(col("u"), col("v").as("__m"))
      .join(adj.select(col("u").as("__m"), col("v")), Seq("__m"))
      .select(col("u"), col("v"))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
      .localCheckpoint()
    val d2 = reach2.join(d1, Seq("u", "v"), "left_anti").localCheckpoint()
    val d3 = d2.select(col("u"), col("v").as("__m"))
      .join(adj.select(col("u").as("__m"), col("v")), Seq("__m"))
      .select(col("u"), col("v"))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
      .join(d1, Seq("u", "v"), "left_anti")
      .join(d2, Seq("u", "v"), "left_anti")
    d1.select(col("u"), lit(1L).as("__d"))
      .unionAll(d2.select(col("u"), lit(2L).as("__d")))
      .unionAll(d3.select(col("u"), lit(3L).as("__d")))
      .groupBy(col("u"))
      .agg(
        sum(when(col("__d") === 1L, 1L).otherwise(0L)).cast("bigint").as("n1"),
        sum(when(col("__d") === 2L, 1L).otherwise(0L)).cast("bigint").as("n2"),
        sum(when(col("__d") === 3L, 1L).otherwise(0L)).cast("bigint").as("n3"),
        sum(expr("1000000L div __d")).cast("bigint").as("harmonic_ppm"))
      .select(col("u").as("node"), col("n1"), col("n2"), col("n3"),
        col("harmonic_ppm"))
  }
}
