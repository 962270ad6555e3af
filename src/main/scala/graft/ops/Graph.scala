package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for the crawl layer. */
object Graph {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Graph")


  /** Fixed denominator for [[pageRankScaled]] ranks: rank ≈
    * rank_s / 10^12. Chosen so 85 · rank_s and 15 · Scale stay far
    * inside Long (max intermediate ~8.5e13). */
  val Scale: Long = 1000000000000L

  /** PageRank over DISTINCT directed edges in SCALED-INTEGER
    * arithmetic: ranks are Long numerators over the fixed [[Scale]]
    * denominator and every step is integer division —
    * rank' = (15·Scale) div (100·N)
    *       + (85 · (Σ_in (rank div outdeg) + dang div N)) div 100
    * where `dang` is the summed rank of dangling nodes (no
    * out-edges), redistributed uniformly — the standard treatment:
    * real crawl graphs are 20-30% sinks, and dropping their mass
    * deflates every score and breaks (1−d) normalization. Integer
    * sums are order-free and integer division is identical in Spark
    * and DuckDB, so the result is bit-exact across engines,
    * partitionings, and re-runs — no float summation anywhere.
    * Total mass is conserved up to integer-division truncation
    * (< ~3 units per node per iteration; GraphSpec pins the bound).
    *
    * Scale shape: per iteration one key-partitioned join of edges
    * against the rank table plus one (dst) hash aggregation — shuffles
    * carry (node, long), never payloads; the rank table is staged to
    * parquet per round (the connectedComponents lineage-cut pattern),
    * so plan depth is iteration-bounded at any graph size. Driver-side
    * fetches are the node count plus ONE scalar Long (the dangling
    * mass) per iteration — the dangling NODE SET is computed once
    * (left-anti vs out-degrees, staged), never per round. Edges with
    * a null endpoint are dropped before anything else (a null node is
    * a parse failure upstream, not a vertex). */
  def pageRankScaled(edges: DataFrame, srcCol: String, dstCol: String,
                     iterations: Int): DataFrame =
    pageRankRun(edges, srcCol, dstCol, iterations, prior = None,
      eps = None)._1

  /** Convergence-stopped PageRank: run [[pageRankScaled]] iterations
    * until the integer L1 delta Σ_v |r_i(v) − r_{i−1}(v)| drops below
    * `eps` (in [[Scale]] units), capped at `maxIters`. The delta is
    * itself exact Long arithmetic, so the stop iteration is a pure
    * function of the graph — identical in any engine — and the result
    * is bit-equal to `pageRankScaled(edges, …, realizedIters)`
    * (GraphSpec pins it). Without this a production re-rank loop
    * over- or under-iterates blind; with it the iteration budget is
    * spent exactly until the ranking stops moving at the chosen
    * resolution.
    *
    * Cost: the delta riding each staged rank table (one extra abs-diff
    * column computed in the update projection) plus one small scan of
    * the just-written parquet per iteration for the stop decision —
    * the loop control must reach the driver, but it reads the staged
    * file, never recomputes the plan.
    *
    * Output: (node, rank_s, iters) — `iters` the realized stop
    * iteration, constant across rows so the artifact itself carries
    * the stop point. */
  def pageRankScaledConverged(edges: DataFrame, srcCol: String,
                              dstCol: String, eps: Long,
                              maxIters: Int): DataFrame = {
    require(eps > 0, s"eps must be > 0: $eps")
    val (ranks, it) = pageRankRun(edges, srcCol, dstCol, maxIters,
      prior = None, eps = Some(eps))
    ranks.withColumn("iters", lit(it))
  }

  /** Warm-started + convergence-stopped PageRank — the production
    * incremental re-rank loop proper: seed from yesterday's ranks
    * ([[pageRankScaledResume]] semantics) and stop at the integer L1
    * delta threshold ([[pageRankScaledConverged]] semantics). This is
    * where the warm start actually pays: the seed doesn't change the
    * fixed point, it starts CLOSER, so the same eps is reached in far
    * fewer iterations when the graph delta is small (the daily-crawl
    * regime; SkewOpsProbe quantifies the saving on the hub graph).
    * Output: (node, rank_s, iters). */
  def pageRankScaledResumeConverged(edges: DataFrame, srcCol: String,
                                    dstCol: String, prior: DataFrame,
                                    eps: Long, maxIters: Int): DataFrame = {
    require(eps > 0, s"eps must be > 0: $eps")
    val (ranks, it) = pageRankRun(edges, srcCol, dstCol, maxIters,
      prior = Some(prior), eps = Some(eps))
    ranks.withColumn("iters", lit(it))
  }

  /** Warm-start PageRank — the daily-crawl shape, completing the
    * incremental family (dedupAgainstIndex, ANN incremental probe):
    * re-rank a GROWN edge set seeding each node with yesterday's rank
    * (`prior`: node, rank_s) where it existed and the uniform
    * Scale div N seed where it is new. The seed does not change the
    * fixed point (the stationary distribution depends only on the
    * graph); it starts the power iteration closer, so the same
    * iteration budget lands nearer convergence — on an UNCHANGED
    * graph, resume(fresh(k), m) is bit-identical to fresh(k+m)
    * (GraphSpec pins it). Prior ranks for nodes no longer in the
    * graph are ignored; arithmetic and scale shape are exactly
    * [[pageRankScaled]]'s. */
  def pageRankScaledResume(edges: DataFrame, srcCol: String,
                           dstCol: String, prior: DataFrame,
                           iterations: Int): DataFrame =
    pageRankRun(edges, srcCol, dstCol, iterations, Some(prior),
      eps = None)._1

  /** Personalized (topic-sensitive) PageRank in the same scaled-Long
    * exact arithmetic: the 15% teleport mass and the dangling mass
    * both return to the SEED set uniformly instead of to all nodes —
    * rank'(v) = [v∈S]·(15·Scale) div (100·|S|)
    *          + (85·(Σ_in(rank div outdeg)
    *                 + [v∈S]·(dang div |S|))) div 100,
    * r0 = Scale div |S| on seeds, 0 elsewhere. This is the standard
    * trust/quality-propagation shape for a crawl corpus: seed with
    * curated domains, read each domain's rank as how reachable it is
    * from trust. Seeds outside the graph are ignored; at least one
    * seed must be a graph node. Scale shape identical to
    * [[pageRankScaled]] (the seed set stages once next to the
    * dangling set; the per-iteration dangling aggregate rides the
    * same broadcast fusion). */
  def personalizedPageRankScaled(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = edges.sparkSession
    val (e, nEdges) = graft.core.Tables.stagedCounted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "ppr_edges")
    val edgeT = e.schema("src").dataType
    // small-graph fast path (r17, the sccCensus gate): the exact
    // driver-side replica — see pageRankRun's scaladoc. The seed set
    // is semi-joined against the small node set BEFORE collecting, so
    // the driver fetch stays node-bounded whatever the seed table is.
    if (driverPath(spark, nEdges, edgeT)) {
      val g = new SmallDigraph(e.collect())
      val seedRows = seeds
        .select(col(seeds.columns.head).as("node"))
        .na.drop().distinct()
        .join(g.nodesDf(spark, edgeT), Seq("node"), "left_semi")
        .collect()
      val m = seedRows.length.toLong
      require(m > 0,
        "personalizedPageRankScaled: no seed is a graph node")
      val isSeed = new Array[Boolean](g.n)
      seedRows.foreach(r => isSeed(g.idOf(r.get(0))) = true)
      val baseS = (Scale * 15L) / (100L * m)
      val outdeg = new Array[Long](g.n)
      var i = 0
      while (i < g.nE) { outdeg(g.src(i)) += 1L; i += 1 }
      val init = new Array[Long](g.n)
      var v = 0
      while (v < g.n) {
        init(v) = if (isSeed(v)) Scale / m else 0L
        v += 1
      }
      val (rank, _) = pageRankDriverSide(g.n, g.src, g.dst, outdeg,
        None, Some(isSeed), m, init,
        u => if (isSeed(u)) baseS else 0L, iterations, eps = None)
      return ranksDf(spark, edgeT, g.vals, rank)
    }
    val nodes = graft.core.Tables.staged(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct(),
      "ppr_nodes")
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val (seedSet, m) = graft.core.Tables.stagedCounted(
      nodes.join(
        seeds.select(col(seeds.columns.head).as("node"))
          .na.drop().distinct(),
        Seq("node"), "left_semi"), "ppr_seeds")
    require(m > 0,
      "personalizedPageRankScaled: no seed is a graph node")
    val baseS = (Scale * 15L) / (100L * m)
    val seedFlag = seedSet.withColumn("__s", lit(1))
    // the rank table carries out-degree (null ⇔ dangling) and the seed
    // flag — the pageRankRun fusion: no per-round outDeg recompute, no
    // staged dangling table, no per-round seedFlag join
    var ranks = graft.core.Tables.staged(
      nodes.join(seedFlag, Seq("node"), "left")
        .join(outDeg, Seq("node"), "left")
        .select(col("node"),
          when(col("__s") === 1, lit(Scale / m)).otherwise(lit(0L))
            .as("rank_s"),
          col("outdeg"), col("__s")),
      "ppr_r0")
    for (i <- 1 to iterations) {
      val shareDf = ranks.filter(col("outdeg").isNull)
        .agg(expr(s"coalesce(sum(rank_s), 0L) div ${m}L")
          .as("__share"))
      val contrib = e
        .join(ranks, col("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("rank_s div outdeg").as("c"))
      val inSum = contrib.groupBy("node").agg(sum(col("c")).as("in_s"))
      ranks = graft.core.Tables.staged(
        ranks.select(col("node"), col("outdeg"), col("__s"))
          .join(inSum, Seq("node"), "left")
          .crossJoin(broadcast(shareDf))
          .select(col("node"),
            (when(col("__s") === 1, lit(baseS)).otherwise(lit(0L)) +
              expr("(85 * (coalesce(in_s, 0L) + " +
                "CASE WHEN __s = 1 THEN __share ELSE 0L END)) div 100"))
              .as("rank_s"),
            col("outdeg"), col("__s")),
        s"ppr_r$i")
    }
    ranks.select(col("node"), col("rank_s"))
  }

  /** Weighted PageRank in the same scaled-Long exact arithmetic as
    * [[pageRankScaled]]: rank mass splits across a node's out-edges
    * proportional to a positive integer edge weight instead of
    * uniformly —
    *   rank'(v) = base + (85·(Σ_{u→v} (rank(u)·w_uv) div W_out(u)
    *                          + dang div N)) div 100
    * with W_out(u) = Σ of u's out-weights. On a crawl graph the weight
    * is the LINK COUNT between two domains (a domain linking another
    * 500 times endorses it more than a single footer link), which the
    * uniform variant throws away by distincting the edge multiset.
    * Parallel edges must be pre-aggregated: (src, dst) pairs are
    * required unique (guarded), weights ≥ 1 and ≤ 10^6 so rank·w stays
    * far inside Long (rank_s ≤ ~Scale, Scale·10^6 < 2^63 with 900×
    * headroom). All-integer steps ⇒ bit-exact across engines; with all
    * weights 1 the result is bit-identical to [[pageRankScaled]]
    * (GraphSpec pins it — (rank·1) div W ≡ rank div outdeg).
    *
    * Validation is pay-as-you-go (ADVICE r14 #4): the staging pass
    * every variant already pays is ONE groupBy(src, dst) aggregation
    * that carries the pair multiplicity and per-pair weight min/max,
    * so the duplicate-pair and weight-range guards read a pair-sized
    * staged table plus its footers — r14 ran two EXTRA full-edge
    * pre-flight scans (a global min/max/count agg and a separate
    * duplicate groupBy) before the first iteration.
    *
    * Scale shape: identical to [[pageRankScaled]] — per iteration one
    * key-partitioned join + one (dst) hash agg, shuffles carrying
    * (node, long); per-round parquet staging; the dangling share rides
    * the same broadcast 1-row fusion. */
  def pageRankScaledWeighted(edges: DataFrame, srcCol: String,
                             dstCol: String, weightCol: String,
                             iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .na.drop()
    // the ONE full pass over the edge multiset: aggregate to unique
    // (src, dst) pairs carrying multiplicity + weight bounds
    val (pairs, nPairs) = graft.core.Tables.stagedCounted(
      e0.groupBy("src", "dst").agg(
        count(lit(1)).as("__c"),
        min(col("w")).as("__wmin"),
        max(col("w")).as("w")), "wpagerank_pairs")
    // small-graph fast path (r17, the sccCensus gate): the exact
    // driver-side replica — see pageRankRun's scaladoc. The guards run
    // on the collected pairs (same predicates, same messages) instead
    // of the 1-row aggregate job.
    if (driverPath(spark, nPairs, pairs.schema("src").dataType)) {
      val rows = pairs.select("src", "dst", "__c", "__wmin", "w").collect()
      if (rows.nonEmpty) {
        var maxC = Long.MinValue
        var minW = Long.MaxValue
        var maxW = Long.MinValue
        rows.foreach { r =>
          maxC = math.max(maxC, r.getLong(2))
          minW = math.min(minW, r.getLong(3))
          maxW = math.max(maxW, r.getLong(4))
        }
        require(maxC == 1L,
          "pageRankScaledWeighted: duplicate (src, dst) pairs — " +
            "pre-aggregate parallel edges into the weight")
        require(minW >= 1L && maxW <= 1000000L,
          s"pageRankScaledWeighted: weights must sit in [1, 10^6], " +
            s"got [$minW, $maxW]")
      }
      val g = new SmallDigraph(rows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1))))
      require(g.n > 0, "pageRankScaledWeighted: empty graph")
      val n = g.n.toLong
      val w = rows.map(_.getLong(4))
      val outW = new Array[Long](g.n)
      var i = 0
      while (i < g.nE) { outW(g.src(i)) += w(i); i += 1 }
      val base = (Scale * 15L) / (100L * n)
      val init = Array.fill(g.n)(Scale / n)
      val (rank, _) = pageRankDriverSide(g.n, g.src, g.dst, outW,
        Some(w), None, n, init, _ => base, iterations, eps = None)
      return ranksDf(spark, pairs.schema("src").dataType, g.vals, rank)
    }
    if (nPairs > 0) {
      val g = pairs
        .agg(max(col("__c")), min(col("__wmin")), max(col("w")))
        .first()
      require(g.getLong(0) == 1L,
        "pageRankScaledWeighted: duplicate (src, dst) pairs — " +
          "pre-aggregate parallel edges into the weight")
      require(g.getLong(1) >= 1L && g.getLong(2) <= 1000000L,
        s"pageRankScaledWeighted: weights must sit in [1, 10^6], " +
          s"got [${g.getLong(1)}, ${g.getLong(2)}]")
    }
    // guards passed ⇒ every pair is unique, so (src, dst, w) below IS
    // the input edge set
    val e = pairs.select("src", "dst", "w")
    // the rank table carries each node's out-weight (null ⇔ dangling)
    // — the pageRankRun fusion: no per-round outW recompute (a full
    // edge scan + shuffle), no staged dangling table
    val outW = e.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("__ow"))
    val (nodes, n) = graft.core.Tables.stagedCounted(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .join(outW, Seq("node"), "left"),
      "wpagerank_nodes")
    require(n > 0, "pageRankScaledWeighted: empty graph")
    val base = (Scale * 15L) / (100L * n)
    var ranks = graft.core.Tables.staged(
      nodes.withColumn("rank_s", lit(Scale / n))
        .select(col("node"), col("rank_s"), col("__ow")),
      "wpagerank_r0")
    for (i <- 1 to iterations) {
      val shareDf = ranks.filter(col("__ow").isNull)
        .agg(expr(s"coalesce(sum(rank_s), 0L) div ${n}L")
          .as("__share"))
      val contrib = e
        .join(ranks, col("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("(rank_s * w) div __ow").as("c"))
      val inSum = contrib.groupBy("node").agg(sum(col("c")).as("in_s"))
      ranks = graft.core.Tables.staged(
        ranks.select(col("node"), col("__ow"))
          .join(inSum, Seq("node"), "left")
          .crossJoin(broadcast(shareDf))
          .select(col("node"),
            (lit(base) +
              expr("(85 * (coalesce(in_s, 0L) + __share)) div 100"))
              .as("rank_s"),
            col("__ow")),
        s"wpagerank_r$i")
    }
    ranks.select(col("node"), col("rank_s"))
  }

  /** Fixed denominator for [[hitsScaled]] scores: hub/authority
    * weights are L1-normalized to sum ≈ HitsScale each iteration.
    * Smaller than [[Scale]] deliberately: the un-normalized authority
    * total is Σ_u h(u)·outdeg(u) ≤ HitsScale · max-outdeg, so 10^9
    * keeps the intermediate exact for any node fanning out to up to
    * ~9·10^9 distinct domains — beyond any real web graph. */
  val HitsScale: Long = 1000000000L

  /** HITS (Kleinberg): hub and authority scores over the distinct
    * directed edge set, in the same exact scaled-integer arithmetic as
    * [[pageRankScaled]] — a crawl layer reads authorities as the pages
    * worth fetching and hubs as the directory/seed pages worth
    * re-crawling for link discovery, complementing PageRank's single
    * global score.
    *
    * Per iteration, with S = [[HitsScale]]:
    *   a_raw(v) = Σ_{u→v} h(u);   a(v) = a_raw(v) div max(Σa_raw div S, 1)
    *   h_raw(v) = Σ_{v→w} a(w);   h(v) = h_raw(v) div max(Σh_raw div S, 1)
    * i.e. L1 normalization by truncating integer division (the max(…,1)
    * clamp keeps the divisor positive when total mass collapses below
    * S on degenerate graphs). Every step is a non-negative Long sum or
    * truncating division — order-free and engine-identical, so the
    * result is bit-exact across partitionings and engines, exactly the
    * PageRank discipline. h_0 = S per node.
    *
    * Scale shape: per iteration two key-partitioned equi-joins of the
    * edge table against a staged score table plus two hash
    * aggregations — shuffles carry (node, long) only; both score
    * tables stage to parquet per round so plan depth stays
    * iteration-bounded. The two L1 totals are single-Long scans of the
    * just-staged aggregate (the converged-PageRank stop-read pattern).
    * Exactness contract: intermediate sums stay inside Long while
    * HitsScale · max-outdeg < 2^63 (scaladoc on [[HitsScale]]).
    *
    * Output: (node, auth_s, hub_s). */
  def hitsScaled(edges: DataFrame, srcCol: String, dstCol: String,
                 iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = edges.sparkSession
    val (e, nEdges) = graft.core.Tables.stagedCounted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "hits_edges")
    val edgeT = e.schema("src").dataType
    // small-graph fast path (r17, the sccCensus gate): the same
    // non-negative truncating-Long arithmetic run on driver arrays —
    // a_raw/h_raw rows exist exactly for nodes with in-/out-edges and
    // absent rows contribute 0 to every sum, so plain 0-initialized
    // arrays reproduce the staged tables' sums bit-for-bit.
    if (driverPath(spark, nEdges, edgeT)) {
      val g = new SmallDigraph(e.collect())
      require(g.n > 0, "hitsScaled: empty graph")
      var aR = new Array[Long](g.n)
      var hR = new Array[Long](g.n)
      var da = 1L
      var dh = 1L
      def div(total: Long): Long = math.max(total / HitsScale, 1L)
      for (i <- 1 to iterations) {
        val aNew = new Array[Long](g.n)
        var j = 0
        if (i == 1)
          while (j < g.nE) { aNew(g.dst(j)) += HitsScale; j += 1 }
        else
          while (j < g.nE) { aNew(g.dst(j)) += hR(g.src(j)) / dh; j += 1 }
        aR = aNew
        da = div(aR.sum)
        val hNew = new Array[Long](g.n)
        j = 0
        while (j < g.nE) { hNew(g.src(j)) += aR(g.dst(j)) / da; j += 1 }
        hR = hNew
        dh = div(hR.sum)
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](g.n)
      var v = 0
      while (v < g.n) {
        rows.add(org.apache.spark.sql.Row(g.vals(v), aR(v) / da, hR(v) / dh))
        v += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", edgeT),
          org.apache.spark.sql.types.StructField("auth_s",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("hub_s",
            org.apache.spark.sql.types.LongType))))
    }
    val (nodes, nHits) = graft.core.Tables.stagedCounted(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct(),
      "hits_nodes")
    require(nHits > 0, "hitsScaled: empty graph")
    // per iteration: TWO staged writes (a_raw, h_raw) and ZERO driver
    // fetches. The L1 divisors ride 1-row broadcast aggregates over the
    // just-staged table (the pageRankRun dangling-share fusion) instead
    // of driver-side scalar reads; hub values for the next round come
    // straight off the staged h_raw table (a zero-score node drops out
    // of the inner contribution join — adding zeros ≡ dropping them, so
    // the sums are bit-identical to the old nodes-completed hub table);
    // the full (node, auth_s, hub_s) completion is built ONCE at the
    // end instead of staged every round. Round 1's authority sum uses
    // h_0 = HitsScale directly (count · HitsScale) — no h_0 table, no
    // join. Previously: four staged writes + two driver fetches/round.
    def divisor(raw: DataFrame, valCol: String, name: String): DataFrame =
      raw.agg(greatest(
        expr(s"coalesce(sum($valCol), 0L) div ${HitsScale}L"),
        lit(1L)).as(name))
    var aRaw: DataFrame = null
    var hRaw: DataFrame = null
    var daDf: DataFrame = null
    var dhDf: DataFrame = null
    for (i <- 1 to iterations) {
      // authority update: in-neighbor hub sum, staged, then L1-divided
      val aIn =
        if (i == 1)
          e.groupBy(col("dst").as("node"))
            .agg((count(lit(1)) * HitsScale).as("a_raw"))
        else
          e.join(hRaw, col("src") === hRaw("node"))
            .crossJoin(broadcast(dhDf))
            .groupBy(col("dst").as("node"))
            .agg(sum(expr("h_raw div __dh")).as("a_raw"))
      aRaw = graft.core.Tables.staged(aIn, s"hits_araw$i")
      daDf = divisor(aRaw, "a_raw", "__da")
      // hub update: out-neighbor authority sum
      hRaw = graft.core.Tables.staged(
        e.join(aRaw, col("dst") === aRaw("node"))
          .crossJoin(broadcast(daDf))
          .groupBy(col("src").as("node"))
          .agg(sum(expr("a_raw div __da")).as("h_raw")),
        s"hits_hraw$i")
      dhDf = divisor(hRaw, "h_raw", "__dh")
    }
    nodes.join(aRaw, Seq("node"), "left")
      .join(hRaw, Seq("node"), "left")
      .crossJoin(broadcast(daDf))
      .crossJoin(broadcast(dhDf))
      .select(col("node"),
        expr("coalesce(a_raw, 0L) div __da").as("auth_s"),
        expr("coalesce(h_raw, 0L) div __dh").as("hub_s"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simplification of the edge set (self-loops dropped,
    * direction collapsed) — the link-graph cohesion signal: a domain
    * whose neighbors also link each other sits in a genuine community;
    * link farms show high degree with near-zero closure.
    *
    * Degree-oriented wedge enumeration (Suri & Vassilvitskii, WWW'11
    * "Counting triangles and the curse of the last reducer"): each
    * undirected edge is oriented from the endpoint with the SMALLER
    * (degree, node) key to the larger, wedges are generated only at a
    * triangle's minimum-key vertex, and the closing edge — which under
    * a total order is necessarily the oriented (b, c) with
    * key(b) < key(c) — is confirmed by one equi-join. Orientation
    * bounds per-node fan-out by O(√E) on any graph (arboricity), so a
    * celebrity hub generates wedges proportional to its FORWARD degree
    * only — the skew discipline that makes this survive a power-law
    * web graph where naive per-node wedge counting funnels the hub
    * into one reducer.
    *
    * All counts are exact integers; `lcc` = 2T/(d(d−1)) is one IEEE
    * divide of small exact ints (engine-identical), 0.0 below degree
    * 2. Output: (node, degree, triangles, lcc). */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val und = graft.core.Tables.staged(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .na.drop()
        .filter(col("s") =!= col("d"))
        .select(least(col("s"), col("d")).as("a"),
                greatest(col("s"), col("d")).as("b"))
        .distinct(), "tri_und")
    val deg = graft.core.Tables.staged(
      und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")), "tri_deg")
    // orient a→b iff (deg(a), a) < (deg(b), b): a total order, so each
    // undirected edge appears exactly once and forward fan-out is
    // degree-bounded by O(√E)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")),
        Seq("b"))
    val oriented = graft.core.Tables.staged(
      withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          col("db")).otherwise(col("da")).as("dv")),
      "tri_oriented")
    // wedges at the minimum-key vertex: two forward edges u→v1, u→v2
    // with key(v1) < key(v2); the closing edge, if present, is exactly
    // the oriented v1→v2
    val w1 = oriented.select(col("u"), col("v").as("v1"),
      col("dv").as("dv1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"),
      col("dv").as("dv2"))
    val wedges = w1.join(w2, Seq("u"))
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
    val triangles = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"))
    val perNode = triangles.select(col("u").as("node"))
      .unionByName(triangles.select(col("v1").as("node")))
      .unionByName(triangles.select(col("v2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L))
            .cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Seeded (semi-supervised) label propagation over the UNDIRECTED
    * domain graph — community/category segmentation from a small
    * labeled seed set: each iteration every non-seed node takes the
    * majority label of its labeled neighbors (most votes; tie → the
    * SMALLEST label), seeds stay clamped to their seed label, and a
    * node with no labeled neighbor stays unlabeled. After k rounds
    * labels have spread k hops — the crawl-layer segmentation that
    * complements spam-mass (a domain deep inside a spam-labeled
    * community is spam-adjacent even when its own rank looks clean).
    *
    * Determinism: the per-node election is ONE Long max —
    * score = votes · 2²⁰ + (2²⁰ − 1 − label) — so max(score) carries
    * the (most-votes, smallest-label) winner in its residue (the
    * robots-election trick: no string/struct agg buffers, the plan
    * stays HashAggregate). Labels must sit in [0, 2²⁰); vote counts up
    * to 2⁴² keep the product exact. Integer everything ⇒ bit-stable
    * across engines and partitionings.
    *
    * Scale shape: per iteration one equi-join of the (doubled,
    * staged) undirected edge table against the current label table +
    * one hash agg; shuffles carry (node, long). Labels stage per
    * round (the PageRank lineage-cut discipline).
    *
    * Output: (node, label) — label null for never-reached nodes. */
  def seededLabelPropagation(edges: DataFrame, srcCol: String,
                             dstCol: String, seeds: DataFrame,
                             iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val labelCap = 1L << 20
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop().filter(col("src") =!= col("dst"))
    val (und, nUnd) = graft.core.Tables.stagedCounted(
      e0.unionByName(e0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct(), "lprop_edges")
    val undT = und.schema("src").dataType
    // small-graph fast path (r17, the sccCensus gate): the seeded
    // election on driver arrays — seeds clamp every round, non-seed
    // nodes elect over LABELED neighbors only (unlabeled neighbors
    // cast no vote, exactly the labels-join semantics), unreached
    // nodes emit null. Seed guards run on the collected (node-bounded
    // via the semi-join) seed rows with the same predicates/messages.
    if (driverPath(spark, nUnd, undT)) {
      val g = new SmallDigraph(und.collect())
      val seedRows = seeds
        .select(col(seeds.columns(0)).as("node"),
          col(seeds.columns(1)).cast("long").as("label"))
        .na.drop().distinct()
        .join(g.nodesDf(spark, undT), Seq("node"), "left_semi")
        .collect()
      require(seedRows.nonEmpty,
        "seededLabelPropagation: no seed is a graph node")
      var minL = Long.MaxValue
      var maxL = Long.MinValue
      seedRows.foreach { r =>
        minL = math.min(minL, r.getLong(1))
        maxL = math.max(maxL, r.getLong(1))
      }
      require(minL >= 0 && maxL < labelCap,
        s"seededLabelPropagation: labels must sit in [0, 2^20), got " +
          s"[$minL, $maxL]")
      val seedLab = new java.util.HashMap[Integer, java.lang.Long]()
      var conflict = false
      seedRows.foreach { r =>
        val i = Integer.valueOf(g.idOf(r.get(0)))
        if (seedLab.containsKey(i)) conflict = true
        else seedLab.put(i, java.lang.Long.valueOf(r.getLong(1)))
      }
      require(!conflict,
        "seededLabelPropagation: a seed node has conflicting labels")
      var lab = new Array[java.lang.Long](g.n)
      seedLab.forEach((i, l) => lab(i.intValue()) = l)
      for (_ <- 1 to iterations) {
        val votes = Array.fill(g.n)(
          new java.util.HashMap[java.lang.Long, Long]())
        var j = 0
        while (j < g.nE) {
          val sl = lab(g.src(j))
          if (sl != null) votes(g.dst(j)).merge(sl, 1L, _ + _)
          j += 1
        }
        val next = new Array[java.lang.Long](g.n)
        var v = 0
        while (v < g.n) {
          val sd = seedLab.get(Integer.valueOf(v))
          if (sd != null) next(v) = sd
          else if (!votes(v).isEmpty) {
            var best = Long.MinValue
            votes(v).forEach { (lb, c) =>
              val score = c * labelCap + (labelCap - 1L - lb.longValue())
              if (score > best) best = score
            }
            next(v) = java.lang.Long.valueOf(labelCap - 1L - best % labelCap)
          }
          v += 1
        }
        lab = next
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](g.n)
      var v = 0
      while (v < g.n) {
        rows.add(org.apache.spark.sql.Row(g.vals(v), lab(v)))
        v += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", undT),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType))))
    }
    val nodes = graft.core.Tables.staged(
      und.select(col("src").as("node")).distinct(), "lprop_nodes")
    val seedTbl = graft.core.Tables.staged(
      seeds.select(col(seeds.columns(0)).as("node"),
          col(seeds.columns(1)).cast("long").as("label"))
        .na.drop().distinct()
        .join(nodes, Seq("node"), "left_semi"), "lprop_seeds")
    val seedStats = seedTbl.agg(min(col("label")), max(col("label")),
      count(lit(1))).first()
    require(seedStats.getLong(2) > 0,
      "seededLabelPropagation: no seed is a graph node")
    require(seedStats.getLong(0) >= 0 &&
      seedStats.getLong(1) < labelCap,
      s"seededLabelPropagation: labels must sit in [0, 2^20), got " +
        s"[${seedStats.getLong(0)}, ${seedStats.getLong(1)}]")
    // a node may carry two seed rows with different labels only by
    // caller error — fail loudly rather than electing silently
    require(seedTbl.groupBy("node").count()
      .filter(col("count") > 1).limit(1).count() == 0,
      "seededLabelPropagation: a seed node has conflicting labels")
    var labels = seedTbl
    for (i <- 1 to iterations) {
      val votes = und
        .join(labels, col("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("dst").as("node"))
        .agg(max(col("votes") * labelCap +
          (lit(labelCap - 1L) - col("label"))).as("score"))
        .select(col("node"),
          (lit(labelCap - 1L) - col("score") % labelCap).as("label"))
      labels = graft.core.Tables.staged(
        seedTbl.unionByName(
          votes.join(seedTbl.select("node"), Seq("node"), "left_anti")),
        s"lprop_l$i")
    }
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), col("label"))
  }

  /** k-core of the UNDIRECTED simplification (self-loops dropped,
    * direction collapsed): iteratively peel nodes with fewer than `k`
    * surviving neighbors until a fixpoint, capped at `maxRounds` — the
    * densely-interlinked residue. On a crawl graph the 2-core strips
    * pendant/chain periphery and the higher cores isolate link-farm
    * cliques (spam rings interlink far more densely than organic
    * sites) — the structural complement to spam-mass's rank argument.
    *
    * Determinism: each round is an exact set operation (semi-joins +
    * an integer degree filter), and the peeled sets shrink
    * monotonically, so equal consecutive COUNTS imply the fixpoint —
    * the stop round is a pure function of the graph, like the
    * convergence-stopped PageRank, and rides the same
    * read-the-staged-count loop control. Output carries the realized
    * `rounds` so the artifact pins the stop.
    *
    * Scale shape: per round two (node)-keyed semi-joins of the doubled
    * edge table against the staged survivor set plus one hash agg —
    * shuffles carry (node) and (node, long) only; survivors stage per
    * round (lineage-cut discipline). Rounds needed = the graph's
    * degeneracy peeling depth, typically ≤ tens on web graphs; the cap
    * bounds the pathological chain.
    *
    * Output: (node, rounds) — the k-core members. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop().filter(col("src") =!= col("dst"))
    val und = graft.core.Tables.staged(
      e0.unionByName(e0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct(), "kcore_edges")
    // per-round survivor counts read the staged writes' parquet
    // footers (stagedCounted) — the fixpoint check is free; r14 paid a
    // separate count() job per peel round
    var (alive, prev) = graft.core.Tables.stagedCounted(
      und.select(col("src").as("node")).distinct(), "kcore_a0")
    var it = 0
    var done = false
    while (it < maxRounds && !done) {
      it += 1
      val (next, c) = graft.core.Tables.stagedCounted(
        und
          .join(alive.select(col("node").as("src")), Seq("src"),
            "left_semi")
          .join(alive.select(col("node").as("dst")), Seq("dst"),
            "left_semi")
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select("node"),
        s"kcore_a$it")
      // monotone shrink ⇒ equal counts ⇒ equal sets: fixpoint
      if (c == prev) done = true
      prev = c
      alive = next
    }
    alive.withColumn("rounds", lit(it))
  }

  /** Bow-tie decomposition of the directed graph (Broder et al. 2000,
    * "Graph structure in the Web") around a deterministic pivot — the
    * classic crawl-frontier analysis: which domains sit in the mutually
    * reachable core (SCC), which only FEED it (IN — new-content
    * frontier worth crawling toward the core), which only DRAIN it
    * (OUT), which thread IN to OUT without touching the core (TUBE),
    * which merely hang off the weak component (TENDRIL), and which are
    * fully disconnected (DISC) — the full six-class Broder taxonomy.
    *
    * Pivot: the node with the highest total degree (tie → smallest
    * node) — a pure function of the graph, and on any real web graph a
    * max-degree node sits inside the giant SCC, so the pivot's SCC IS
    * the core. Classification, in precedence order:
    *   SCC  = fwd-reach(pivot) ∩ bwd-reach(pivot)
    *   IN   = bwd \ fwd;  OUT = fwd \ bwd
    *   TUBE = fwd-reach(IN) ∩ bwd-reach(OUT) over the CORE-PRUNED
    *          edge set (both endpoints ∉ SCC — Broder's tubes are
    *          IN→OUT paths avoiding the core; pruning also keeps these
    *          walks inside the small periphery instead of re-flooding
    *          the giant component)
    *   TENDRIL = pivot's WEAKLY connected component minus the above
    *   DISC = everything else.
    * All six sets are exact set algebra over exact reachability —
    * engine-identical, no arithmetic at all — so the oracle's
    * recursive-CTE fixpoint matches bit-for-bit whenever the BFS
    * converges inside `maxRounds` (it reaches fixpoint at the graph's
    * directed eccentricity from the seed set; the cap bounds the
    * pathological chain and a capped run classifies the unreached
    * conservatively as non-members).
    *
    * Scale shape: four frontier BFS walks (per round: one equi-join of
    * the edge table against the CURRENT FRONTIER — not the cumulative
    * reach — plus one left-anti against the cumulative reach; shuffles
    * carry (node) only; the two TUBE walks run on the core-pruned
    * periphery only), plus ONE undirected frontier BFS from the pivot
    * for its weakly connected component — frontier-sized work per
    * round, terminating at the pivot's undirected eccentricity
    * (small-world-bounded on web graphs; `maxRounds` caps the
    * pathological chain, degrading unreached periphery conservatively
    * to DISC — and a capped walk with a live frontier warns LOUDLY on
    * stderr, since downstream classes are then approximations).
    *
    * Per-round orchestration cost (the r14 perf finding — at fixture
    * scale the bill was pure staging overhead, ~28 extra jobs): each
    * walk appends its round frontier into ONE reach directory as a
    * `rnd=K` partition, so (a) frontier emptiness reads the parquet
    * footers of the slice just written — zero extra jobs — instead of
    * a `limit(1).count()` job per round, (b) the left-anti target is
    * a single partitioned parquet table (one scan node) instead of a
    * per-round-growing union of staged files, and (c) the next
    * frontier is the partition-pruned `rnd=K` slice. ONE Spark job per
    * BFS round. A pointer-jumping CC pass would bound rounds at
    * log-diameter but labels the WHOLE graph to extract one component
    * — its cost grows with graph size where the BFS's grows with the
    * component's frontier sizes (measured ~20% slower end-to-end at
    * the r14 fixture, and structurally worse at scale where the
    * pivot's component is a fraction of the graph — PLANS.md). Driver
    * fetches: the pivot row and per-round footer counts.
    *
    * Output: (node, cls), cls ∈ {SCC, IN, OUT, TUBE, TENDRIL, DISC}. */
  def bowTie(edges: DataFrame, srcCol: String, dstCol: String,
             maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val spark = edges.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val (e, nEdgesBt) = graft.core.Tables.stagedCounted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "bowtie_edges")
    val edgeTBt = e.schema("src").dataType
    // small-graph fast path (r17, the sccCensus gate): the five walks
    // are pure set-valued BFS reaches — exact at any order — and the
    // pivot choice / classification are the same deterministic
    // comparisons, so the driver replica (INCLUDING the maxRounds
    // depth cap and its loud degradation warning) is bit-identical to
    // the staged walks. Big graphs take the staged walks as before.
    if (driverPath(spark, nEdgesBt, edgeTBt)) {
      val g = new SmallDigraph(e.collect())
      require(g.n > 0, "bowTie: empty graph")
      val deg = new Array[Long](g.n)
      var j = 0
      while (j < g.nE) { deg(g.src(j)) += 1L; deg(g.dst(j)) += 1L; j += 1 }
      var pivot = 0
      var v = 1
      while (v < g.n) {
        if (deg(v) > deg(pivot) ||
            (deg(v) == deg(pivot) && nodeLt(g.vals(v), g.vals(pivot))))
          pivot = v
        v += 1
      }
      def adjOf(from: Array[Int], to: Array[Int]): Array[Array[Int]] = {
        val b = Array.fill(g.n)(scala.collection.mutable.ArrayBuffer[Int]())
        var i = 0
        while (i < from.length) { b(from(i)) += to(i); i += 1 }
        b.map(_.toArray)
      }
      // depth-capped BFS, the staged reach()'s exact semantics: seeds
      // land in the reach at round 0; each round adds the unvisited
      // neighbors of the previous frontier; a live frontier at the cap
      // warns loudly (unreached periphery degrades conservatively)
      def reachDrv(adj: Array[Array[Int]], seeds: Array[Int],
                   tag: String): Array[Boolean] = {
        val in = new Array[Boolean](g.n)
        if (seeds.isEmpty) return in
        seeds.foreach(in(_) = true)
        var frontier = seeds
        var cnt = seeds.length.toLong
        var it = 0
        while (cnt > 0 && it < maxRounds) {
          it += 1
          val next = scala.collection.mutable.ArrayBuffer[Int]()
          frontier.foreach { u =>
            adj(u).foreach { w =>
              if (!in(w)) { in(w) = true; next += w }
            }
          }
          frontier = next.toArray
          cnt = frontier.length.toLong
        }
        if (cnt > 0)
          log.warn(s"bowTie walk '$tag' hit maxRounds=" +
            s"$maxRounds with a live frontier ($cnt nodes) — " +
            "unreached nodes degrade conservatively; downstream " +
            "classes are approximate. Raise maxRounds.")
        in
      }
      val outAdj = adjOf(g.src, g.dst)
      val inAdj = adjOf(g.dst, g.src)
      val undAdj = adjOf(g.src ++ g.dst, g.dst ++ g.src)
      val fwd = reachDrv(outAdj, Array(pivot), "f")
      val bwd = reachDrv(inAdj, Array(pivot), "b")
      val weak = reachDrv(undAdj, Array(pivot), "w")
      val inScc = (0 until g.n).map(u => fwd(u) && bwd(u)).toArray
      val inSeeds = (0 until g.n).filter(u => bwd(u) && !fwd(u)).toArray
      val outSeeds = (0 until g.n).filter(u => fwd(u) && !bwd(u)).toArray
      val pSrc = scala.collection.mutable.ArrayBuffer[Int]()
      val pDst = scala.collection.mutable.ArrayBuffer[Int]()
      j = 0
      while (j < g.nE) {
        if (!inScc(g.src(j)) && !inScc(g.dst(j))) {
          pSrc += g.src(j); pDst += g.dst(j)
        }
        j += 1
      }
      val fromIn = reachDrv(adjOf(pSrc.toArray, pDst.toArray),
        inSeeds, "ti")
      val toOut = reachDrv(adjOf(pDst.toArray, pSrc.toArray),
        outSeeds, "to")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](g.n)
      v = 0
      while (v < g.n) {
        val cls =
          if (fwd(v) && bwd(v)) "SCC"
          else if (bwd(v)) "IN"
          else if (fwd(v)) "OUT"
          else if (fromIn(v) && toOut(v)) "TUBE"
          else if (weak(v)) "TENDRIL"
          else "DISC"
        rows.add(org.apache.spark.sql.Row(g.vals(v), cls))
        v += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", edgeTBt),
          org.apache.spark.sql.types.StructField("cls",
            org.apache.spark.sql.types.StringType))))
    }
    val nodes = graft.core.Tables.staged(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct(),
      "bowtie_nodes")
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val pivotRow = deg.orderBy(col("deg").desc, col("node"))
      .limit(1).collect()
    require(pivotRow.nonEmpty, "bowTie: empty graph")
    val pivot = pivotRow(0).get(0)
    // frontier BFS accumulating into ONE partitioned reach directory
    // (rnd=K per round — see the scaladoc's orchestration-cost note);
    // the reach set is the directory read whole
    val nodeT = nodes.schema("node").dataType
    // frontier/reach reads skip footer schema inference (the staged
    // read-back contract): the written shape is known
    val rSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeT)))
    val rSchemaP = rSchema.add(org.apache.spark.sql.types.StructField(
      "rnd", org.apache.spark.sql.types.IntegerType))
    def reach(ed: DataFrame, seeds: DataFrame, tag: String,
              fromCol: String, toCol: String): DataFrame = {
      val dir = graft.core.Tables.scratchDir(spark, s"bowtie_$tag")
      def writeRound(df: DataFrame, rnd: Int): Long = {
        val p = s"$dir/rnd=$rnd"
        df.write.mode("overwrite").parquet(p)
        graft.core.Tables.parquetRowCount(p, hconf)
      }
      var it = 0
      var cnt = writeRound(seeds.select("node"), 0)
      if (cnt == 0) seeds.select("node").limit(0)
      else {
        while (cnt > 0 && it < maxRounds) {
          it += 1
          val frontier = graft.core.Tables.readAsWritten(spark,
            s"$dir/rnd=${it - 1}", rSchema)
          val reached = graft.core.Tables.readAsWritten(spark,
            dir, rSchemaP).select("node")
          cnt = writeRound(
            ed.join(frontier.withColumnRenamed("node", fromCol),
                Seq(fromCol))
              .select(col(toCol).as("node")).distinct()
              .join(reached, Seq("node"), "left_anti"), it)
        }
        // ADVICE r14 #5: a silent cap exit misclassifies everything
        // beyond the horizon (far IN nodes degrade to DISC) with no
        // signal anywhere — make the degradation loud
        if (cnt > 0)
          log.warn(s"bowTie walk '$tag' hit maxRounds=" +
            s"$maxRounds with a live frontier ($cnt nodes) — " +
            "unreached nodes degrade conservatively; downstream " +
            "classes are approximate. Raise maxRounds.")
        graft.core.Tables.readAsWritten(spark, dir, rSchemaP)
          .select("node")
      }
    }
    val pivotSeed = nodes.filter(col("node") === lit(pivot))
    // the five walks form two dependency waves — (fwd ∥ bwd ∥ weak),
    // then (fromIn ∥ toOut) — and each walk is a chain of SMALL
    // frontier-sized jobs, so running a wave's walks on concurrent
    // driver threads overlaps their per-round scheduling/commit
    // latency (the dominant fixture-scale cost) without changing any
    // result: the walks of a wave share only read-only staged inputs,
    // and reach sets are exact regardless of completion order. On a
    // cluster the scheduler interleaves the concurrent tiny stages
    // across executors the same way.
    import scala.concurrent.Await
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    // scopedFuture, not Future: the walks register staging dirs, and a
    // caller's enclosing stagedScope frame is a ThreadLocal — a bare
    // Future would leak the dirs into the global reaper queue
    val fwdF = graft.core.Tables.scopedFuture(
      reach(e, pivotSeed, "f", "src", "dst"))
    val bwdF = graft.core.Tables.scopedFuture(
      reach(e, pivotSeed, "b", "dst", "src"))
    val weakF = graft.core.Tables.scopedFuture {
      val undE = graft.core.Tables.staged(
        e.select(col("src").as("a"), col("dst").as("b"))
          .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
          .distinct(), "bowtie_und")
      reach(undE, pivotSeed, "w", "a", "b")
    }
    val fwd = Await.result(fwdF, Inf)
    val bwd = Await.result(bwdF, Inf)
    val scc = fwd.join(bwd, Seq("node"), "left_semi")
    val inSet = bwd.join(fwd, Seq("node"), "left_anti")
    val outSet = fwd.join(bwd, Seq("node"), "left_anti")
    // tubes live in the core-pruned periphery: drop every edge
    // touching the SCC, then walk forward from IN and backward from
    // OUT — the intersection threads IN to OUT around the core
    val ePruned = graft.core.Tables.staged(
      e.join(scc.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(scc.select(col("node").as("dst")), Seq("dst"), "left_anti"),
      "bowtie_eprime")
    val fromInF = graft.core.Tables.scopedFuture(
      reach(ePruned, inSet, "ti", "src", "dst"))
    val toOutF = graft.core.Tables.scopedFuture(
      reach(ePruned, outSet, "to", "dst", "src"))
    val fromIn = Await.result(fromInF, Inf)
    val toOut = Await.result(toOutF, Inf)
    val weak = Await.result(weakF, Inf)
    val f = fwd.withColumn("__f", lit(1))
    val b = bwd.withColumn("__b", lit(1))
    val ti = fromIn.withColumn("__ti", lit(1))
    val to = toOut.withColumn("__to", lit(1))
    val w = weak.withColumn("__w", lit(1))
    nodes.join(f, Seq("node"), "left")
      .join(b, Seq("node"), "left")
      .join(ti, Seq("node"), "left")
      .join(to, Seq("node"), "left")
      .join(w, Seq("node"), "left")
      .select(col("node"),
        when(col("__f") === 1 && col("__b") === 1, "SCC")
          .when(col("__b") === 1, "IN")
          .when(col("__f") === 1, "OUT")
          .when(col("__ti") === 1 && col("__to") === 1, "TUBE")
          .when(col("__w") === 1, "TENDRIL")
          .otherwise("DISC").as("cls"))
  }

  /** Full SCC + weak-component census — the whole-graph structural
    * partition [[bowTie]] deliberately does NOT compute (bow-tie
    * classifies relative to ONE pivot and lumps everything outside the
    * pivot's weak component as DISC): label EVERY node with
    *   wcc_id — the smallest node id in its weakly connected component
    *   scc_id — the smallest node id in its strongly connected
    *            component,
    * the link-farm census a crawl-quality team actually queries ("how
    * many disjoint mutual-link rings exist and how big" = GROUP BY
    * (wcc_id, scc_id)). Both ids are SEMANTIC (a pure function of the
    * graph, independent of the algorithm), so the DuckDB oracle can
    * compute them from true recursive-CTE reachability closure while
    * this side runs a distributed algorithm.
    *
    * Algorithm — iterative forward-backward coloring (the Orzan /
    * FW-BW multi-SCC discipline), per outer round:
    *   1. forward MIN-label coloring to fixpoint on the remaining
    *      subgraph: color(v) = min({v} ∪ {color(u) : u→v}) — the
    *      smallest node that reaches v. All members of an SCC share
    *      one forward-reach set, hence one color.
    *   2. every color class provably contains its ROOT (color(r) = r:
    *      anything reaching r reaches the whole class, so a smaller
    *      reacher would have recolored it); SCC(r) = the backward
    *      reach of r along COLOR-PRESERVING edges — mutual
    *      reachability: r reaches the class, these reach r. All
    *      classes sweep in ONE frontier BFS carrying (node, color).
    *   3. emit those SCCs (scc_id = the root = the class min by
    *      construction), remove them, repeat on the remainder.
    * Each outer round STARTS with a TRIM sweep (the FW-BW-Trim
    * discipline): nodes with no in-edges or no out-edges in the
    * remaining subgraph cannot sit on a cycle, so they are singleton
    * SCCs (scc_id = themselves) — emitted and removed in ~4 cheap
    * jobs per trim round, iterated to fixpoint. Trimming drains the
    * tree/chain periphery (most of a crawl graph's node count, and
    * the O(chain-depth) pathological case for the coloring drain) at
    * trim-round cost instead of full coloring+sweep cost; the
    * coloring then works only on the 2-cycle-bearing residue.
    * Each coloring round removes ≥ 1 SCC per color class (the
    * root's), so the loop terminates; on web graphs trim strips the
    * tendrils and round 1's giant class removes the core. Removing
    * whole SCCs never changes remaining SCCs (they are equivalence
    * classes), so per-round results compose to the global partition.
    * wcc_id rides [[graft.llm.Dedup.connectedComponents]]
    * (pointer-jumping, log-diameter rounds).
    *
    * Since r16 the coloring key is RE-RANDOMIZED per outer round —
    * (xxhash64(node, round), node), min over the struct — instead of
    * the raw node id, which closes the r15 known bound: with raw ids
    * an ascending-id chain of SCCs drained ONE class per outer round
    * (O(SCC-DAG chain depth) rounds); with fresh random key order
    * every prefix minimum of each remaining chain segment roots a
    * class, so each round drains many classes and splits the
    * segments (expected polylog rounds on the pathological chain).
    * scc_id stays semantic — min MEMBER node per emitted class — so
    * the output is identical, and the keys are a pure deterministic
    * function of (graph, round): bit-stable across runs.
    *
    * Determinism/exactness: pure set algebra + MIN over node ids in
    * the column's native ordering — no arithmetic at all, bit-stable
    * across engines and partitionings.
    *
    * Scale shape: per coloring round one equi-join of the remaining
    * edge table against the color table + one (dst) hash agg, deltas
    * staged with footer-count loop control; the backward sweep is the
    * [[bowTie]] rnd=K-partitioned frontier BFS (one job per round)
    * keyed on (node, color); per-round SCC output appends into one
    * partitioned result directory. Shuffles carry (node, key) pairs
    * only. Caps (`maxOuterRounds`, `maxIters`, the per-outer-round
    * trim budget) bound pathological chains and WARN LOUDLY when hit;
    * a capped coloring or sweep WITHHOLDS its round's emission (whole
    * color classes — a partial class would silently split an SCC,
    * ADVICE r15 #3), so unfinished nodes emit null scc_id, never a
    * wrong label.
    *
    * Output: (node, wcc_id, scc_id). */
  def sccCensus(edges: DataFrame, srcCol: String, dstCol: String,
                maxOuterRounds: Int = 32,
                maxIters: Int = 64): DataFrame = {
    require(maxOuterRounds >= 1,
      s"maxOuterRounds must be >= 1: $maxOuterRounds")
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val spark = edges.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    def warn(msg: String): Unit =
      log.warn(s"sccCensus: $msg")
    val (e, nEdges) = graft.core.Tables.stagedCounted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "scc_edges")
    require(nEdges > 0, "sccCensus: empty graph")
    val edgeT = e.schema("src").dataType
    // small-graph fast path (r17): the SAME size-gated driver-side
    // census [[sccCensusIncremental]] already takes for small affected
    // subgraphs — exact union-find wcc + iterative Tarjan scc with
    // min-member ids in Spark's own ordering, bit-identical to the
    // distributed drain (GraphSpec pins both paths against each other)
    // — now also guards the FULL census: the distributed drain's cost
    // floor is its ROUND COUNT (tens of tiny staged jobs), pure
    // orchestration overhead when the whole graph fits the same
    // bounded-driver-fetch class as the incremental path's collect.
    // The edge count is already free (the staging write's footers).
    // Big graphs take the distributed drain exactly as before.
    if (driverPath(spark, nEdges, edgeT))
      return censusDriverSide(e, edgeT)
    val (nodes, nNodes) = graft.core.Tables.stagedCounted(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct(),
      "scc_nodes")
    require(nNodes > 0, "sccCensus: empty graph")
    val nodeT = nodes.schema("node").dataType
    // wcc is independent of the scc drain — run the pointer-jumping
    // pass on a concurrent driver thread so its log-diameter rounds
    // overlap the drain's rounds (the bowTie wave discipline; results
    // are exact sets either way)
    import scala.concurrent.Await
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val wccF = graft.core.Tables.scopedFuture(graft.core.Tables.staged(
      graft.llm.Dedup.connectedComponents(
        e.select(col("src").as("id1"), col("dst").as("id2")), maxIters)
        .select(col("id").as("node"), col("comp").as("wcc_id")),
      "scc_wcc"))
    def writePart(df: DataFrame, dir: String, rnd: Int): Long = {
      val p = s"$dir/rnd=$rnd"
      df.write.mode("overwrite").parquet(p)
      graft.core.Tables.parquetRowCount(p, hconf)
    }
    val resDir = graft.core.Tables.scratchDir(spark, "scc_res")
    var active = nodes
    var nActive = nNodes
    var ea = e
    var outer = 0
    var trimRound = 0
    while (nActive > 0 && outer < maxOuterRounds) {
      outer += 1
      // 0. TRIM to fixpoint: sources (no in-edges) and sinks (no
      // out-edges) of the remaining subgraph are singleton SCCs —
      // emit + shrink at ~4 jobs per round, so chains and tree
      // periphery never reach the expensive coloring. The budget is
      // PER OUTER ROUND (r15 shared it across all rounds, so a deep
      // chain could exhaust it silently mid-drain — VERDICT r15
      // what's-wrong #1), and exhaustion with singles still draining
      // warns loudly like every other cap here.
      var trimming = true
      var trimLeft = maxIters * 4
      while (trimming && nActive > 0 && trimLeft > 0) {
        trimLeft -= 1
        trimRound += 1
        // the singleton set is written ONCE — directly into its result
        // partition (writePart's footer count doubles as the loop
        // control), read back for the shrink instead of staging a
        // separate copy; the edge shrink anti-joins against the SMALL
        // singles set (broadcast-sized) rather than semi-joining the
        // large remaining-active set twice — same set algebra
        // (ea endpoints ⊆ active, so dropping singles ≡ keeping
        // active∖singles), one fewer staged write per trim round
        val nSingle = writePart(
          active
            .join(ea.select(col("dst").as("node")), Seq("node"),
              "left_anti")
            .unionByName(active
              .join(ea.select(col("src").as("node")), Seq("node"),
                "left_anti"))
            .distinct()
            .select(col("node"), col("node").as("scc_id")),
          resDir, 1000000 + trimRound)
        if (nSingle == 0) trimming = false
        else {
          val single = graft.core.Tables.readAsWritten(spark,
            s"$resDir/rnd=${1000000 + trimRound}",
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("node", nodeT),
              org.apache.spark.sql.types.StructField("scc_id", nodeT))))
            .select("node")
          val shrunkT = graft.core.Tables.stagedCounted(
            active.join(single, Seq("node"), "left_anti"),
            s"scc_ta$trimRound")
          active = shrunkT._1
          nActive = shrunkT._2
          if (nActive > 0)
            ea = graft.core.Tables.staged(
              ea.join(single.select(col("node").as("src")), Seq("src"),
                  "left_anti")
                .join(single.select(col("node").as("dst")), Seq("dst"),
                  "left_anti"), s"scc_te$trimRound")
        }
      }
      if (trimming && nActive > 0 && trimLeft == 0)
        warn(s"trim budget (${maxIters * 4} rounds) exhausted in " +
          s"outer round $outer with singletons still draining — the " +
          "remainder falls through to the (correct but slower) " +
          "coloring drain; raise maxIters for a deeper trim sweep.")
      if (nActive == 0) {
        // trim drained everything — no coloring needed this round
      } else {
      // 1. forward min coloring to fixpoint: stage only the CHANGED
      // rows each round (footer count = loop control), fold them in.
      // The color key is (xxhash64(node, outer), node) — a FRESH
      // RANDOM-ORDER total order per outer round, not the raw node id
      // (VERDICT r15 next-round #2): with raw ids an ascending-id
      // chain of SCCs drains ONE class per round (the global min
      // colors the whole chain, its backward sweep removes only its
      // own SCC — O(chain depth) outer rounds), while per-round
      // re-randomization makes every key-order prefix minimum a class
      // root, so each round drains ~H(L) classes per remaining
      // segment and splits the segments — expected polylog rounds on
      // the pathological chain (GraphSpec pins an anti-sorted 24-SCC
      // chain fully labeled within 8 outer rounds). The node field in
      // the struct makes the order total even under a 64-bit hash
      // collision (struct min is lexicographic), and everything stays
      // a pure deterministic function of (graph, round) — bit-stable.
      // scc_id stays SEMANTIC: emitted below as min(node) per class,
      // never the color key.
      val keyed = graft.core.Tables.staged(
        active.select(col("node"),
          struct(xxhash64(col("node"), lit(outer)).as("h"),
            col("node").as("n")).as("ck")),
        s"scc_k$outer")
      var colors = keyed.select(col("node"), col("ck").as("color"))
      var chg = 1L
      var it = 0
      while (chg > 0 && it < maxIters) {
        it += 1
        // ONE staged write per round (was two: a changed-rows delta +
        // the folded table): the update left-joins the candidate mins
        // into the color table directly and carries a 0/1 changed
        // flag whose footer MAX is the fixpoint test — the stop
        // decision costs zero Spark jobs, like every other loop
        // control here
        val cand = ea
          .join(colors.select(col("node").as("src"), col("color")),
            Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(min(col("color")).as("cand"))
        val upd = colors.select(col("node"), col("color"))
          .join(cand, Seq("node"), "left")
          .select(col("node"),
            when(col("cand") < col("color"), col("cand"))
              .otherwise(col("color")).as("color"),
            when(col("cand") < col("color"), lit(1)).otherwise(lit(0))
              .as("__chg"))
        val (next, mx) = graft.core.Tables.stagedWithLongMax(
          upd, s"scc_c${outer}_$it", "__chg")
        colors = next
        chg = mx.getOrElse(
          next.agg(coalesce(max(col("__chg")), lit(0))).first()
            .getInt(0).toLong)
      }
      if (chg > 0) {
        // NEVER-WRONG discipline (ADVICE r15 #3's bug class): a
        // non-converged coloring means some SCC members still hold a
        // stale color — a sweep now would emit a strict SUBSET of
        // their SCC, and the leftover members would get a DIFFERENT
        // scc_id next round (a silently split SCC). Withhold the
        // whole round instead: next outer round re-randomizes keys
        // and retries; persistent non-convergence degrades to null
        // labels at maxOuterRounds, never wrong ones.
        warn(s"coloring hit maxIters=$maxIters still changing " +
          s"(outer round $outer) — withholding this round's emission " +
          "(a partial coloring would split SCCs); raise maxIters.")
      } else {
      // 2. color-preserving edges; backward frontier BFS from every
      // class root (the node whose own key IS its color) — all
      // classes sweep simultaneously, carrying (node, color)
      val ec = graft.core.Tables.staged(
        ea.join(colors.select(col("node").as("src"),
            col("color").as("cs")), Seq("src"))
          .join(colors.select(col("node").as("dst"),
            col("color").as("cd")), Seq("dst"))
          .filter(col("cs") === col("cd"))
          .select(col("src"), col("dst"), col("cs").as("color")),
        s"scc_ec$outer")
      val bwDir = graft.core.Tables.scratchDir(spark, s"scc_bw$outer")
      // frontier/reach reads skip footer schema inference (the staged
      // read-back contract): the written shape is known
      val colorT = keyed.schema("ck").dataType
      val fSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeT),
        org.apache.spark.sql.types.StructField("color", colorT)))
      val fSchemaP = fSchema.add(org.apache.spark.sql.types.StructField(
        "rnd", org.apache.spark.sql.types.IntegerType))
      var itb = 0
      var cnt = writePart(
        colors.filter(col("color.n") === col("node"))
          .select("node", "color"), bwDir, 0)
      while (cnt > 0 && itb < maxIters) {
        itb += 1
        val frontier = graft.core.Tables.readAsWritten(spark,
          s"$bwDir/rnd=${itb - 1}", fSchema)
        val reached = graft.core.Tables.readAsWritten(spark,
          bwDir, fSchemaP).select("node", "color")
        cnt = writePart(
          ec.join(frontier.withColumnRenamed("node", "dst"),
              Seq("dst", "color"))
            .select(col("src").as("node"), col("color")).distinct()
            .join(reached, Seq("node", "color"), "left_anti"),
          bwDir, itb)
      }
      val reachedAll = graft.core.Tables.readAsWritten(spark,
        bwDir, fSchemaP).select("node", "color")
      // ADVICE r15 #3: a capped sweep used to emit the root's SCC
      // PARTIALLY — its unreached members then recomputed on a
      // subgraph missing part of their true SCC and got silently
      // WRONG (split) labels. Withhold every color class whose
      // frontier is still live instead: its members stay active
      // whole, and the next outer round recomputes the full class
      // (or null-labels at maxOuterRounds — never mislabels).
      val sccMembers =
        if (cnt > 0) {
          warn(s"backward sweep hit maxIters=$maxIters with a live " +
            s"frontier (outer round $outer) — withholding the " +
            "still-sweeping color classes whole (a partial class " +
            "would split its SCC); raise maxIters.")
          val liveColors = graft.core.Tables.readAsWritten(spark,
            s"$bwDir/rnd=$itb", fSchema).select("color").distinct()
          reachedAll.join(liveColors, Seq("color"), "left_anti")
        } else reachedAll
      // scc_id stays SEMANTIC under the randomized color keys: the
      // smallest member node of the class, not the key
      val sccRound = sccMembers
        .join(sccMembers.groupBy("color")
          .agg(min(col("node")).as("scc_id")), Seq("color"))
        .select(col("node"), col("scc_id"))
      writePart(sccRound, resDir, outer)
      // 3. shrink to the unlabeled remainder
      val shrunk = graft.core.Tables.stagedCounted(
        active.join(sccRound.select("node"), Seq("node"), "left_anti"),
        s"scc_a$outer")
      active = shrunk._1
      nActive = shrunk._2
      if (nActive > 0)
        ea = graft.core.Tables.staged(
          ea.join(active.select(col("node").as("src")), Seq("src"),
              "left_semi")
            .join(active.select(col("node").as("dst")), Seq("dst"),
              "left_semi"), s"scc_e$outer")
      }
      }
    }
    if (nActive > 0)
      warn(s"$nActive nodes still unlabeled after maxOuterRounds=" +
        s"$maxOuterRounds — they emit null scc_id (never a wrong " +
        "label). Raise maxOuterRounds, or maxIters if rounds were " +
        "withheld by capped coloring/sweeps.")
    val scc = graft.core.Tables.readAsWritten(spark, resDir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeT),
        org.apache.spark.sql.types.StructField("scc_id", nodeT),
        org.apache.spark.sql.types.StructField("rnd",
          org.apache.spark.sql.types.IntegerType))))
      .select("node", "scc_id")
    val wcc = Await.result(wccF, Inf)
    nodes.join(wcc, Seq("node"), "left")
      .join(scc, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("wcc_id"), col("node")).as("wcc_id"),
        col("scc_id"))
  }

  /** Incremental [[sccCensus]]: recompute only the weak components
    * TOUCHED by an edge delta, carrying `prior` labels everywhere
    * else — the streaming-pagerank warm-start pattern applied to the
    * census (VERDICT r15 next-round #8). On a daily crawl the delta
    * touches a sliver of the component space; the untouched
    * components' rows are reused VERBATIM (GraphSpec proves it by
    * planting a poisoned prior row in an untouched component and
    * watching it carry), so the work is ∝ the touched components'
    * subgraph + the delta, not the graph.
    *
    * Why this is exact: weak components partition the graph and both
    * census ids are per-component-local semantic functions (min node
    * of the weak / strong component). A new edge can only merge or
    * extend the weak components its endpoints touch, so:
    *   1. contract each delta endpoint to its prior wcc_id (a node
    *      absent from `prior` stands for itself);
    *   2. the DISTINCT contracted endpoints name every affected
    *      prior component and new node (how the touched entities
    *      merge is the recomputation's job — membership in the
    *      touched set is per-endpoint, no connectivity pass needed);
    *   3. the affected entities' full-graph subgraph recomputes
    *      (driver-side when small — see below — else
    *      [[sccCensus]]); prior rows of unaffected wcc_ids carry.
    * An unaffected component has identical nodes and edges in both
    * graphs, so its rows are identical by determinism — the composed
    * output equals the full recomputation bit-for-bit.
    *
    * `edges` is the FULL standing distinct edge set, `delta` the
    * edges not reflected in `prior` ((src, dst) columns named like
    * `edges`), `prior` a (node, wcc_id, scc_id) census of
    * `edges MINUS delta`.
    *
    * Small-subgraph fast path: the distributed census's cost floor is
    * its ROUND COUNT (tens of tiny staged jobs — right when the
    * touched subgraph is large, pure orchestration overhead when a
    * daily delta touches a sliver). When [[driverPath]] admits the
    * affected subgraph (≤ `spark.graft.driverPath.maxRows` edges,
    * known free from the staging write's footer count, and a
    * string/integer node type), it is collected and labeled
    * DRIVER-SIDE — union-find for wcc, iterative Tarjan for scc,
    * min-member ids under the SAME ordering Spark's min uses (UTF-8
    * byte order for strings) — so both paths produce bit-identical
    * output (GraphSpec pins it) and the common incremental case costs
    * one bounded collect instead of a full census round structure. */
  def sccCensusIncremental(edges: DataFrame, srcCol: String,
                           dstCol: String, delta: DataFrame,
                           prior: DataFrame,
                           maxOuterRounds: Int = 32,
                           maxIters: Int = 64): DataFrame = {
    // prior is NOT re-staged: every caller hands a materialized table
    // (the streaming ingest reads it straight from parquet), so a
    // staging write would be pure overhead on the op's fixed-cost
    // floor — it is scanned three times below as a cheap re-read
    val pw = prior.select(col("node"), col("wcc_id"), col("scc_id"))
    val d = delta.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop().distinct()
    // 1-2. contract delta endpoints to prior wcc_ids → the affected
    // entity set is simply the DISTINCT CONTRACTED ENDPOINTS (prior
    // wcc_ids and brand-new node ids; the two can't collide — a
    // wcc_id IS an old node id and a new node isn't). No
    // connected-components pass is needed here: which touched
    // entities end up merged TOGETHER is the recomputation's job to
    // discover, membership in the touched set is per-endpoint.
    val dm = d
      .join(pw.select(col("node").as("src"), col("wcc_id").as("ws")),
        Seq("src"), "left")
      .join(pw.select(col("node").as("dst"), col("wcc_id").as("wd")),
        Seq("dst"), "left")
      .select(coalesce(col("ws"), col("src")).as("id1"),
        coalesce(col("wd"), col("dst")).as("id2"))
    val affected = graft.core.Tables.staged(
      dm.select(col("id1").as("ent"))
        .unionByName(dm.select(col("id2").as("ent"))).distinct(),
      "scci_aff")
    // 3. the affected subgraph: an edge belongs iff its src's weak
    // component (prior id, or the new node itself) is affected — for
    // edges of the standing graph src and dst always share a
    // component, and every delta edge's entities are affected by
    // construction
    // NO distinct here — that would shuffle the WHOLE standing edge
    // table just to dedup rows [[sccCensus]] dedups again anyway; the
    // left-semi membership probe is duplicate-indifferent
    val ew = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop()
      .join(pw.select(col("node").as("src"), col("wcc_id").as("ws")),
        Seq("src"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("ws"), col("src")).as("ent"))
    val (sub, nSub) = graft.core.Tables.stagedCounted(
      ew.join(affected, Seq("ent"), "left_semi")
        .select("src", "dst").distinct(), "scci_sub")
    val nodeType = sub.schema("src").dataType
    val recomputed =
      if (nSub == 0)
        prior.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node", nodeType),
            org.apache.spark.sql.types.StructField("wcc_id", nodeType),
            org.apache.spark.sql.types.StructField("scc_id", nodeType))))
      else if (driverPath(prior.sparkSession, nSub, nodeType))
        censusDriverSide(sub, nodeType)
      else sccCensus(sub, "src", "dst", maxOuterRounds, maxIters)
    val carried = pw.join(
      affected.select(col("ent").as("wcc_id")), Seq("wcc_id"),
      "left_anti")
      .select("node", "wcc_id", "scc_id")
    carried.unionByName(recomputed.select("node", "wcc_id", "scc_id"))
  }

  /** [[sccCensusIncremental]]'s bounded driver-side census: exact
    * union-find wcc ([[SmallDigraph.weakComponentMins]]) + ITERATIVE
    * Tarjan scc (explicit frame stack — a 100k-edge chain must not
    * blow the JVM stack) over a collected edge list, with min-member
    * ids compared in Spark's own order ([[nodeLt]]) so the result is
    * bit-identical to the distributed census. */
  private def censusDriverSide(
      sub: DataFrame,
      nodeType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = sub.sparkSession
    val g = new SmallDigraph(sub.collect())
    val n = g.n
    // scc: iterative Tarjan
    val adj = {
      val builders = Array.fill(n)(
        scala.collection.mutable.ArrayBuffer[Int]())
      var j = 0
      while (j < g.nE) { builders(g.src(j)) += g.dst(j); j += 1 }
      builders.map(_.toArray)
    }
    val idx = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val on = new Array[Boolean](n)
    val sccOf = new Array[Int](n)
    val st = new java.util.ArrayDeque[Integer]()
    var counter = 0
    var root = 0
    while (root < n) {
      if (idx(root) < 0) {
        val frames = new java.util.ArrayDeque[Array[Int]]()
        frames.push(Array(root, 0))
        while (!frames.isEmpty) {
          val fr = frames.peek()
          val v = fr(0)
          if (idx(v) < 0) {
            idx(v) = counter; low(v) = counter; counter += 1
            st.push(v); on(v) = true
          }
          var advanced = false
          while (fr(1) < adj(v).length && !advanced) {
            val w = adj(v)(fr(1)); fr(1) += 1
            if (idx(w) < 0) { frames.push(Array(w, 0)); advanced = true }
            else if (on(w)) low(v) = math.min(low(v), idx(w))
          }
          if (!advanced) {
            frames.pop()
            if (!frames.isEmpty) {
              val p = frames.peek()(0)
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == idx(v)) {
              var w = -1
              do {
                w = st.pop(); on(w) = false; sccOf(w) = v
              } while (w != v)
            }
          }
        }
      }
      root += 1
    }
    val wcc = g.weakComponentMins
    val scc = g.minMembers(sccOf)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    var i = 0
    while (i < n) {
      rows.add(org.apache.spark.sql.Row(g.vals(i), wcc(i), scc(i)))
      i += 1
    }
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("wcc_id", nodeType),
        org.apache.spark.sql.types.StructField("scc_id", nodeType))))
  }

  /** Neighborhood function + effective diameter — HyperBall (Boldi &
    * Vigna 2013; the HyperANF/webgraph statistic): N(t) = the number
    * of ordered pairs (a, b) with a directed path a→b of length ≤ t,
    * for t = 0 (self pairs) up to the graph's maximum eccentricity,
    * plus the 90% effective diameter (the smallest t with
    * N(t) ≥ 0.9·N(∞)) — the crawl-graph health curve that says how
    * fast reachability saturates, the natural companion to [[bowTie]]
    * and [[sccCensus]] (VERDICT r15 next-round #7).
    *
    * Algorithm — per-node HLL registers iterated over the edge table:
    * sk_0(v) = sketch({v}); each round unions every node's sketch
    * with its OUT-neighbors' sketches (one (dst) equi-join + one
    * (src) hll_union_agg + one scalar hll_union — Spark's own
    * DataSketches HLL column functions, the corpus_sources_hll
    * machinery); N(t) = Σ_v estimate(sk_t(v)). The loop stops the
    * first round the total stops growing (register unions are
    * monotone, so estimates are non-decreasing) or at `maxT`, which
    * warns loudly.
    *
    * Exactness regime: at the default lgK = 12 (k = 4096 registers)
    * a sketch stays in exact coupon mode until several hundred
    * distinct ids, so on the registered fixture graph (node count
    * bounded by the planted-arm moduli at every SF) every per-node
    * reach count is EXACT and the DuckDB oracle replays N(t) from a
    * bounded recursive-CTE distance closure. In production the same
    * code runs approximate at web scale with the published
    * 1.04/√k ≈ 1.6% RSE — the corpus_sources_hll_approx band
    * harness is the template for verifying that regime.
    *
    * Scale shape: per round ONE edge-table join against the sketch
    * table + one (src) hash agg; shuffles carry (node, sketch-bytes)
    * where a sketch is ≤ ~k bytes (4 KB at lgK 12, a few hundred
    * bytes in coupon mode) — HyperBall's whole point: the naive
    * closure is O(n·reach) rows, this is O(n·k) bytes bounded per
    * round, log-diameter rounds on small-world graphs. The sketch
    * table stages per round (lineage cut); the only driver fetch is
    * ONE (sum, 1-row) per round.
    *
    * Output: (t, pairs, frac, is_eff_diameter) — one row per t with
    * growth, frac = round(pairs / N(∞), 6), is_eff_diameter marks
    * the smallest t with pairs·10 ≥ 9·N(∞) (integer compare, engine-
    * exact). */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
                           dstCol: String, lgK: Int = 12,
                           maxT: Int = 32): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK must sit in [4, 21]: $lgK")
    require(maxT >= 1, s"maxT must be >= 1: $maxT")
    val spark = edges.sparkSession
    val e = graft.core.Tables.staged(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "nf_edges")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var sk = graft.core.Tables.staged(
      nodes.groupBy("node")
        .agg(hll_sketch_agg(col("node"), lgK).as("sk")), "nf_sk0")
    def pairsOf(df: DataFrame): Long =
      df.agg(sum(hll_sketch_estimate(col("sk"))).as("p"))
        .first().getLong(0)
    val buf = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    var prev = pairsOf(sk)
    buf += ((0, prev))
    var t = 0
    var growing = true
    while (growing && t < maxT) {
      t += 1
      val nb = e
        .join(sk.select(col("node").as("dst"), col("sk").as("nsk")),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(hll_union_agg(col("nsk")).as("nsk"))
      sk = graft.core.Tables.staged(
        sk.join(nb, Seq("node"), "left")
          .select(col("node"),
            when(col("nsk").isNull, col("sk"))
              .otherwise(hll_union(col("sk"), col("nsk"))).as("sk")),
        s"nf_sk$t")
      val pairs = pairsOf(sk)
      if (pairs > prev) { buf += ((t, pairs)); prev = pairs }
      else growing = false
    }
    if (growing)
      log.warn(s"neighborhoodFunction hit maxT=$maxT still " +
        "growing — N(t) has not saturated; the effective diameter " +
        "is a lower bound. Raise maxT.")
    val total = prev
    val effT = buf.find { case (_, p) => p * 10L >= 9L * total }
      .map(_._1).getOrElse(buf.last._1)
    import spark.implicits._
    buf.toSeq.toDF("t", "pairs")
      .select(col("t").cast("int").as("t"), col("pairs"),
        round(col("pairs").cast("double") / lit(total.toDouble), 6)
          .as("frac"),
        (col("t") === lit(effT)).as("is_eff_diameter"))
  }

  /** Unseeded label propagation (Raghavan et al. 2007) — community
    * detection with zero curation, the complement to
    * [[seededLabelPropagation]] and [[kCore]] for link-farm discovery:
    * every node starts in its own community and each synchronous round
    * adopts the majority label among its neighbors (most votes, tie →
    * smallest label). After a fixed `iterations` rounds (fixed for
    * determinism — synchronous LPA can oscillate on bipartite
    * structures, so a fixpoint stop is not well-defined) densely
    * interlinked clusters share a label while bridges don't carry one
    * across.
    *
    * Init labels are the DENSE RANK of the node in ascending node
    * order (0-based, via the two-phase [[Relational.globalRowNumber]]
    * — no single-partition window), which makes the label space
    * integer and the election the same ONE-Long-max packing as the
    * seeded variant: score = votes · 2^B + (2^B − 1 − label), with
    * B = `labelBits` (default 20). The label cap 2^B bounds the node
    * count — guarded loudly; the packed score stays exact because
    * votes ≤ degree < n < 2^B, so score < 2^2B ≤ 2^62 for B ≤ 31 (the
    * same require enforces both bounds — r14 hard-coded B = 20 and
    * raising it was a code edit, not a parameter). labelBits does NOT
    * change the result where both fit: the election compares
    * (votes, label) lexicographically at any B (GraphSpec pins
    * B = 24 ≡ B = 20). Integer everything ⇒ bit-stable across
    * engines.
    *
    * Scale shape: identical to [[seededLabelPropagation]] — per round
    * one equi-join of the doubled staged edge table against the staged
    * label table + one hash agg; shuffles carry (node, long).
    *
    * Output: (node, label) — label is a stable community id from the
    * init-rank space (not a member pointer). */
  def labelPropagationCommunities(edges: DataFrame, srcCol: String,
                                  dstCol: String,
                                  iterations: Int,
                                  labelBits: Int = 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(labelBits >= 1 && labelBits <= 31,
      s"labelBits must sit in [1, 31] (score = votes·2^B + label " +
        s"residue needs 2^2B ≤ 2^62 to stay exact in Long): $labelBits")
    val labelCap = 1L << labelBits
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .na.drop().filter(col("src") =!= col("dst"))
    val (und, nUnd) = graft.core.Tables.stagedCounted(
      e0.unionByName(e0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct(), "lpc_edges")
    val undT = und.schema("src").dataType
    // small-graph fast path (r17, the sccCensus gate): the packed-Long
    // majority election run on driver arrays — init labels are the
    // dense rank of the node in Spark's own ascending ordering
    // (nodeLt), the same total order globalRowNumber realizes, and the
    // election max compares the identical (votes·2^B + residue)
    // packing, so every round's labels are bit-identical.
    if (driverPath(spark, nUnd, undT)) {
      val g = new SmallDigraph(und.collect())
      val nDrv = g.n.toLong
      require(nDrv > 0, "labelPropagationCommunities: empty graph")
      require(nDrv < labelCap,
        s"labelPropagationCommunities: $nDrv nodes exceed the " +
          s"2^$labelBits label space — raise labelBits (≤ 31) for " +
          s"larger graphs; votes stay exact by votes < n < 2^$labelBits")
      val order = (0 until g.n).toArray
        .sortWith((a, b) => nodeLt(g.vals(a), g.vals(b)))
      var label = new Array[Long](g.n)
      var l = 0
      while (l < g.n) { label(order(l)) = l.toLong; l += 1 }
      for (_ <- 1 to iterations) {
        val votes = Array.fill(g.n)(
          new java.util.HashMap[java.lang.Long, Long]())
        var j = 0
        while (j < g.nE) {
          votes(g.dst(j)).merge(
            java.lang.Long.valueOf(label(g.src(j))), 1L, _ + _)
          j += 1
        }
        val next = new Array[Long](g.n)
        var v = 0
        while (v < g.n) {
          var best = Long.MinValue
          votes(v).forEach { (lb, c) =>
            val score = c * labelCap + (labelCap - 1L - lb.longValue())
            if (score > best) best = score
          }
          next(v) = labelCap - 1L - best % labelCap
          v += 1
        }
        label = next
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](g.n)
      var v = 0
      while (v < g.n) {
        rows.add(org.apache.spark.sql.Row(g.vals(v), label(v)))
        v += 1
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", undT),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType))))
    }
    val (nodes, n) = graft.core.Tables.stagedCounted(
      und.select(col("src").as("node")).distinct(), "lpc_nodes")
    require(n > 0, "labelPropagationCommunities: empty graph")
    require(n < labelCap,
      s"labelPropagationCommunities: $n nodes exceed the 2^$labelBits " +
        s"label space — raise labelBits (≤ 31) for larger graphs; " +
        s"votes stay exact by votes < n < 2^$labelBits")
    var labels = graft.core.Tables.staged(
      Relational.globalRowNumber(nodes, Seq(col("node").asc), "__rk")
        .select(col("node"), (col("__rk") - 1L).as("label")), "lpc_l0")
    for (i <- 1 to iterations) {
      val votes = und
        .join(labels, col("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("dst").as("node"))
        .agg(max(col("votes") * labelCap +
          (lit(labelCap - 1L) - col("label"))).as("score"))
        .select(col("node"),
          (lit(labelCap - 1L) - col("score") % labelCap).as("label"))
      labels = graft.core.Tables.staged(votes, s"lpc_l$i")
    }
    nodes.join(labels, Seq("node"))
      .select(col("node"), col("label"))
  }

  /** One-row global link-graph diagnostics — the webgraph health
    * summary a crawl release ships beside its dataset card:
    *  - reciprocity: fraction of distinct directed edges whose reverse
    *    also exists (organic link ecosystems sit far below link-farm
    *    rings' near-1.0);
    *  - degree assortativity (Newman 2002): Pearson correlation of
    *    endpoint degrees over the DOUBLED undirected edge list (each
    *    edge contributes both orientations, making the correlation
    *    symmetric) — web graphs are disassortative (hubs link to
    *    leaves, r < 0), while spam clusters trend assortative.
    *
    * Exactness: all five Pearson components (n, Σx, Σx², Σxy — and
    * Σy = Σx, Σy² = Σx² by the doubling symmetry) accumulate as
    * decimal(38,0) (HUGEINT in the oracle) — exact at any degree —
    * and only the final covariance/variance arithmetic happens in
    * double, on correctly-rounded casts of exact integers: bit-stable
    * across engines and partitionings. Division guards: an empty /
    * degenerate graph (no edges, or all degrees equal) yields null
    * assortativity rather than NaN.
    *
    * Scale shape: one distinct, one self-join on the reversed key for
    * reciprocity (equi-join on (src,dst) pairs), one degree agg + two
    * degree lookups, one global 1-row aggregation — shuffles carry
    * keys and Longs only. Output: (n_edges, n_reciprocal, reciprocity,
    * n_und_edges, assortativity). */
  def graphStats(edges: DataFrame, srcCol: String,
                 dstCol: String): DataFrame = {
    val e = graft.core.Tables.staged(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().filter(col("src") =!= col("dst")).distinct(),
      "gstats_edges")
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // doubled orientation: (u,v) and (v,u) both contribute, so the
    // x/y marginals coincide and Pearson needs only n, Σx, Σx², Σxy
    val doubled = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .join(deg.select(col("node").as("u"), col("degree").as("du")),
        Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("dv")),
        Seq("v"))
    val dec = "decimal(38,0)"
    // cast BEFORE multiplying: a Long×Long product overflows silently
    // at extreme degrees; decimal products stay exact
    val comps = doubled.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("du").cast(dec)).as("sx"),
      sum(col("du").cast(dec) * col("du").cast(dec)).as("sxx"),
      sum(col("du").cast(dec) * col("dv").cast(dec)).as("sxy"))
    val counts = e.agg(count(lit(1)).as("n_edges")).crossJoin(
      broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .crossJoin(broadcast(
        und.agg(count(lit(1)).as("n_und_edges"))))
    val cov = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vr = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    counts.crossJoin(broadcast(comps))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") > 0,
          round(col("n_reciprocal").cast("double") /
            col("n_edges").cast("double"), 6)).as("reciprocity"),
        col("n_und_edges"),
        when(vr > 0.0, round(cov / vr, 6)).as("assortativity"))
  }

  /** The session conf that sizes every driver-side replica. */
  private val DriverPathMaxRows = "spark.graft.driverPath.maxRows"

  /** The one driver-path policy of the size-gated operators (the
    * PageRank family, HITS, both label propagations, bow-tie, the SCC
    * census, `Dedup.connectedComponents`, both `Apportion` methods and
    * the new-row numbering of `Relational.surrogateKeysOrdered`, whose
    * `n` is the caller's bound on new rows, numbered by one single-task
    * window instead of the two-phase pass): an input of `n` edges/rows
    * — a count each operator
    * already has from its staging write's footers — runs the exact
    * driver-side replica when `n` is at most the session conf
    * `spark.graft.driverPath.maxRows` (default 100000, which keeps the
    * collect in the bounded-driver-fetch class) and every key column
    * is a string or integer: value equality and ordering ([[nodeLt]])
    * are engine-identical for those types, so each replica is
    * bit-identical to its staged twin. Larger inputs take the staged
    * loops; `0` sends every non-empty input there, which is how the
    * specs and the oracle check the staged twins. A value that is not
    * a non-negative long fails loudly, naming the key. */
  private[graft] def driverPath(
      spark: org.apache.spark.sql.SparkSession, n: Long,
      keyTypes: org.apache.spark.sql.types.DataType*): Boolean = {
    val limit = spark.conf.getOption(DriverPathMaxRows) match {
      case None => 100000L
      case Some(v) => v.toLongOption.filter(_ >= 0L).getOrElse(
        throw new IllegalArgumentException(
          s"$DriverPathMaxRows must be a non-negative long, got '$v'"))
    }
    n <= limit && keyTypes.forall {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
  }

  /** Spark's own ascending ordering for the node types [[driverPath]]
    * admits — strings compare as UTF8String does (unsigned
    * byte-lexicographic). */
  private[graft] def nodeLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) => java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int)   => x < y
    case _ => throw new IllegalStateException(
      s"graph driver fast path: unsupported node values $a / $b")
  }

  /** A collected small digraph (at most `spark.graft.driverPath.maxRows`
    * edges, see [[driverPath]]): node values interned to dense ints in
    * first-appearance order — the interning order never reaches a
    * result, every output is keyed by node VALUE. The one graph kit of
    * the driver-side replicas, `Dedup.connectedComponents` included.
    * Edge rows carry (src, dst) in their first two fields, never null. */
  private[graft] final class SmallDigraph(
      edgeRows: Array[org.apache.spark.sql.Row]) {
    private val ids = new java.util.HashMap[Any, Integer]()
    val vals = scala.collection.mutable.ArrayBuffer[Any]()
    private def intern(v: Any): Int = {
      val got = ids.get(v)
      if (got != null) got.intValue()
      else { ids.put(v, vals.length); vals += v; vals.length - 1 }
    }
    val src = new Array[Int](edgeRows.length)
    val dst = new Array[Int](edgeRows.length)
    locally {
      var i = 0
      while (i < edgeRows.length) {
        src(i) = intern(edgeRows(i).get(0))
        dst(i) = intern(edgeRows(i).get(1))
        i += 1
      }
    }
    def n: Int = vals.length
    def nE: Int = src.length
    def idOf(v: Any): Int = {
      val got = ids.get(v)
      if (got == null) -1 else got.intValue()
    }
    /** Each node's weak-component id (indexed like `vals`): the
      * component's least member under [[nodeLt]] — the semantic id the
      * staged min-label loops converge to. Union-find with path
      * compression, edge direction ignored. */
    def weakComponentMins: Array[Any] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      var i = 0
      while (i < nE) {
        val (ra, rb) = (find(src(i)), find(dst(i)))
        if (ra != rb) parent(ra) = rb
        i += 1
      }
      minMembers(Array.tabulate(n)(find))
    }
    /** Each node's group id — the least member under [[nodeLt]] of its
      * group, where `groupOf(v)` ∈ [0, n) labels node v's group. */
    def minMembers(groupOf: Array[Int]): Array[Any] = {
      val least = Array.fill(n)(-1)
      var v = 0
      while (v < n) {
        val m = least(groupOf(v))
        if (m < 0 || nodeLt(vals(v), vals(m))) least(groupOf(v)) = v
        v += 1
      }
      Array.tabulate(n)(v => vals(least(groupOf(v))))
    }
    /** 1-column (node) frame of the node set — the bounded probe the
      * fast paths semi-join caller-supplied side tables (prior ranks,
      * seed sets) against BEFORE collecting them, so only in-graph
      * rows ever travel to the driver regardless of the side table's
      * size. */
    def nodesDf(spark: org.apache.spark.sql.SparkSession,
                nodeT: org.apache.spark.sql.types.DataType): DataFrame = {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
      vals.foreach(v => rows.add(org.apache.spark.sql.Row(v)))
      spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", nodeT))))
    }
  }

  /** (node, rank_s) frame from a driver-side rank array. */
  private def ranksDf(spark: org.apache.spark.sql.SparkSession,
      nodeT: org.apache.spark.sql.types.DataType,
      vals: scala.collection.Seq[Any], rank: Array[Long]): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](vals.length)
    var i = 0
    while (i < vals.length) {
      rows.add(org.apache.spark.sql.Row(vals(i), rank(i)))
      i += 1
    }
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeT),
        org.apache.spark.sql.types.StructField("rank_s",
          org.apache.spark.sql.types.LongType))))
  }

  /** Exact driver-side replica of the PageRank family's per-iteration
    * arithmetic — every step is the SAME truncating Long division over
    * the same non-negative operands as the distributed plans (Scala `/`
    * ≡ SQL `div` on non-negatives), and every sum is an order-free
    * integer sum, so the result is bit-identical to the staged loop at
    * any partitioning. Covers all three variants:
    *  - uniform/warm-start: `ew` = None, `seedFlag` = None, `shareDiv`
    *    = n, `basePerNode` constant;
    *  - personalized: `seedFlag` marks the teleport set, `shareDiv` =
    *    |S|, base/share land on seeds only;
    *  - weighted: `ew` carries per-edge weights, `outw` the out-weight
    *    sums (0 ⇔ dangling in every variant).
    * With `eps` set the per-iteration L1 delta is accumulated in the
    * same exact Long arithmetic and the loop stops the first iteration
    * the delta drops below eps — the realized iteration count is
    * returned like the staged loop's. */
  private def pageRankDriverSide(
      nVals: Int, src: Array[Int], dst: Array[Int], outw: Array[Long],
      ew: Option[Array[Long]], seedFlag: Option[Array[Boolean]],
      shareDiv: Long, init: Array[Long], basePerNode: Int => Long,
      iterations: Int, eps: Option[Long]): (Array[Long], Int) = {
    var rank = init
    var next = new Array[Long](nVals)
    var it = 0
    var done = false
    while (it < iterations && !done) {
      it += 1
      var dang = 0L
      var v = 0
      while (v < nVals) {
        if (outw(v) == 0L) dang += rank(v)
        v += 1
      }
      val share = dang / shareDiv
      java.util.Arrays.fill(next, 0L)
      var i = 0
      ew match {
        case Some(ws) =>
          while (i < src.length) {
            val s = src(i)
            next(dst(i)) += rank(s) * ws(i) / outw(s)
            i += 1
          }
        case None =>
          while (i < src.length) {
            val s = src(i)
            next(dst(i)) += rank(s) / outw(s)
            i += 1
          }
      }
      var delta = 0L
      v = 0
      while (v < nVals) {
        val sh = seedFlag match {
          case Some(f) => if (f(v)) share else 0L
          case None => share
        }
        val nv = basePerNode(v) + 85L * (next(v) + sh) / 100L
        if (eps.isDefined) delta += math.abs(nv - rank(v))
        next(v) = nv
        v += 1
      }
      val tmp = rank; rank = next; next = tmp
      eps.foreach(e0 => if (delta < e0) done = true)
    }
    (rank, it)
  }

  /** Shared power-iteration loop. With `eps` set, each staged rank
    * table carries a `__delta` column (|new − old| per node) and the
    * loop stops early once its sum drops below eps; returns the final
    * ranks (delta column dropped) and the realized iteration count.
    *
    * Small-graph fast path (r17, the [[sccCensus]] gate): graphs with
    * ≤ `spark.graft.driverPath.maxRows` edges ([[driverPath]]) — the
    * count is free from the edge staging write's footers — run the
    * exact driver-side replica
    * ([[pageRankDriverSide]]) instead of the staged loop, whose cost
    * floor is its per-iteration orchestration (staged write + read per
    * round). Big graphs take the staged loop exactly as before — a
    * data-size-adaptive algorithm choice computed fresh from the
    * inputs every run, the broadcast-join pattern. */
  private def pageRankRun(edges: DataFrame, srcCol: String,
                          dstCol: String, iterations: Int,
                          prior: Option[DataFrame],
                          eps: Option[Long]): (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = edges.sparkSession
    val (e, nEdges) = graft.core.Tables.stagedCounted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .na.drop().distinct(), "pagerank_edges")
    val edgeT = e.schema("src").dataType
    if (driverPath(spark, nEdges, edgeT)) {
      val g = new SmallDigraph(e.collect())
      require(g.n > 0, "pageRankScaled: empty graph")
      // prior ranks: bounded collect — semi-joined against the (small)
      // node set so only in-graph rows travel to the driver. A
      // duplicate prior node would FAN OUT through the distributed
      // left join (caller error, but defined), so that shape falls
      // back to the staged loop rather than silently de-duplicating.
      var dupPrior = false
      val priorMap = prior.map { p =>
        val mp = new java.util.HashMap[Integer, java.lang.Long]()
        val seen = new java.util.HashSet[Integer]()
        p.select(col("node"), col("rank_s"))
          .join(g.nodesDf(spark, edgeT), Seq("node"), "left_semi")
          .collect().foreach { r =>
            val i = Integer.valueOf(g.idOf(r.get(0)))
            if (!seen.add(i)) dupPrior = true
            else if (!r.isNullAt(1)) mp.put(i, java.lang.Long.valueOf(r.getLong(1)))
          }
        mp
      }
      if (!dupPrior) {
        val n = g.n.toLong
        val outdeg = new Array[Long](g.n)
        var i = 0
        while (i < g.nE) { outdeg(g.src(i)) += 1L; i += 1 }
        val base = (Scale * 15L) / (100L * n)
        val init = new Array[Long](g.n)
        var v = 0
        while (v < g.n) {
          init(v) = priorMap match {
            case Some(mp) =>
              val got = mp.get(Integer.valueOf(v))
              if (got != null) got.longValue() else Scale / n
            case None => Scale / n
          }
          v += 1
        }
        val (rank, it) = pageRankDriverSide(g.n, g.src, g.dst, outdeg,
          None, None, n, init, _ => base, iterations, eps)
        return (ranksDf(spark, edgeT, g.vals, rank), it)
      }
    }
    // the rank table CARRIES each node's out-degree (null ⇔ dangling):
    // the per-iteration plan used to recompute the outDeg aggregate (a
    // full edge scan + shuffle per round) and semi-join a separate
    // staged dangling table — both are now one column of the table the
    // round reads anyway. Node count comes from the staged write's
    // parquet footers — no separate count() job.
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val (nodes, n) = graft.core.Tables.stagedCounted(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .join(outDeg, Seq("node"), "left"),
      "pagerank_nodes")
    require(n > 0, "pageRankScaled: empty graph")
    val base = (Scale * 15L) / (100L * n)
    val seed = prior match {
      case None => nodes.withColumn("rank_s", lit(Scale / n))
        .select(col("node"), col("rank_s"), col("outdeg"))
      case Some(p) => nodes
        .join(p.select(col("node"), col("rank_s").as("__prior")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__prior"), lit(Scale / n)).as("rank_s"),
          col("outdeg"))
    }
    var ranks = graft.core.Tables.staged(seed, "pagerank_r0")
    var it = 0
    var done = false
    while (it < iterations && !done) {
      it += 1
      // dangling share this round: a 1-row aggregate CROSS-JOINED
      // (broadcast) into the update instead of collected to the
      // driver — keeps each iteration at ONE job (the staged write)
      // instead of a scalar-fetch action + the write; at crawl-graph
      // iteration counts the saved job-launch latency is the
      // difference between 2N and N scheduler round-trips
      val shareDf = ranks.filter(col("outdeg").isNull)
        .agg(expr(s"coalesce(sum(rank_s), 0L) div ${n}L")
          .as("__share"))
      // the src side of the contribution join only ever matches rank
      // rows with outdeg ≥ 1 (a dangling node never appears as src)
      val contrib = e
        .join(ranks, col("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("rank_s div outdeg").as("c"))
      val inSum = contrib.groupBy("node").agg(sum(col("c")).as("in_s"))
      val updBase = ranks.select(
          col("node"), col("rank_s").as("__old"), col("outdeg"))
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(shareDf))
      val newRank =
        (lit(base) +
          expr("(85 * (coalesce(in_s, 0L) + __share)) div 100"))
          .as("rank_s")
      val upd = eps match {
        case None =>
          updBase.select(col("node"), newRank, col("outdeg"))
        case Some(_) => updBase
          // the previous rank rides the table the update reads anyway
          // (no extra self-join for the delta)
          .select(col("node"), newRank, col("outdeg"), col("__old"))
          .withColumn("__delta", abs(col("rank_s") - col("__old")))
          .drop("__old")
      }
      ranks = graft.core.Tables.staged(upd, s"pagerank_r$it")
      eps.foreach { e0 =>
        // the stop decision reads the STAGED file (columnar scan of one
        // long column), never re-executes the update plan
        val d = ranks.agg(coalesce(sum(col("__delta")), lit(0L)))
          .head().getLong(0)
        if (d < e0) done = true
      }
    }
    (ranks.select(col("node"), col("rank_s")), it)
  }
}
