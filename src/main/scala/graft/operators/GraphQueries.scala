package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pin, Tables}

/** Graph centrality over relationship graphs mined from the warehouse —
  * the power-iteration counterpart to the pointer-doubling connected
  * components in [[Dedup]]. A training-data pipeline uses exactly this
  * pair: CC to FORM duplicate/citation clusters, centrality to RANK
  * inside them (e.g. picking the canonical page of a link cluster, or
  * weighting sources by authority before mixture sampling).
  *
  * PageRank (Page et al. 1999) here runs on the customer↔supplier
  * trade graph: each `orders ⋈ lineitem` row is an edge occurrence
  * between `o_custkey` and `l_suppkey`, edges are symmetrized (both
  * directions carry the co-occurrence count as weight), and rank flows
  * for a FIXED number of damped iterations.
  *
  * Arithmetic is the q88/q89 integer-exact recipe so the oracle hashes:
  * ranks live at parts-per-billion scale (start 1e9), a node's
  * contribution along an edge is `rank * w DIV wout` (exact BIGINT),
  * and the damped update is `0.15e9 + 85 * Σcontrib DIV 100`. Every
  * step is order-independent integer math — no doubles anywhere.
  * Because the graph is symmetrized there are no dangling nodes, and
  * the node set is exactly the edge endpoints, so total rank stays
  * bounded and every node survives every round.
  *
  * Scale shape: the edge frame (with per-source out-weights attached)
  * is computed ONCE, cached, and reused by all iterations — the loop
  * moves only the O(nodes) rank frame. Each round is one shuffle join
  * (ranks ⋈ edges on the source) + one two-phase sum by destination; on
  * a cluster you would bucket the edge table by `src` so every round's
  * join is co-located (the same layout contract as
  * `PartitionedMerge`). Plan growth across rounds is linear in the
  * iteration count and the count is a small constant (3) — no
  * checkpointing needed by default, unlike the data-dependent CC
  * loop; long cluster runs pass `checkpointDir` for reliable
  * per-round checkpoints (fault tolerance against executor loss),
  * the same option CC/k-center take. */
object GraphQueries {

  /** Symmetric weighted trade edges: (src, dst, w) with w = number of
    * lineitems between the customer and the supplier; node ids are
    * prefixed (`C<custkey>` / `S<suppkey>`) into one namespace. */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select(
        concat(lit("C"), col("o_custkey")).as("c"),
        concat(lit("S"), col("l_suppkey")).as("s"))
      .groupBy("c", "s").agg(count(lit(1)).as("w"))
    pairs.select(col("c").as("src"), col("s").as("dst"), col("w"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst"),
        col("w")))
  }

  /** Damped power iteration on the symmetrized trade graph; returns
    * (node, rank_ppb) for every edge endpoint, ordered by node.
    *
    * @param checkpointDir when set, every round's O(nodes) rank frame
    *   reliably `checkpoint()`s into fault-tolerant storage (the
    *   [[Dedup.connectedComponents]] option, same [[graft.Pin]]
    *   protocol) so a long cluster run survives executor loss
    *   mid-iteration; default keeps the fast path — no per-round pin
    *   at all (plan growth is linear in the small fixed `iters`), one
    *   final `localCheckpoint` to free the edge cache. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val out = edges.groupBy("src").agg(sum(col("w")).as("wout"))
    // Edge layout (r15, the CC-fold discipline): the edge table is keyed
    // ONCE on the join key `src` (Pin.keyed) — each iteration then only
    // moves the O(nodes) rank frame, and the contribution shuffle
    // (groupBy dst) that pagerank fundamentally needs.
    val edgePin = Pin.keyed(edges.join(out, Seq("src")))
    val nP = edgePin.width
    val ew = edgePin.by("src")
    var ranks = ew.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1000000000L))
    // Pin.release walks the WHOLE plan tree; the INITIAL rank frame is
    // lazy over ew's LogicalRDD, so releasing it round 1 would kill the
    // pinned edge table mid-loop (it did, once ew moved from cache() to
    // localCheckpoint — caught by GraphQueriesSpec's checkpointDir case).
    // Only rounds that Pin.snap produced are released.
    var ranksPinned = false
    for (_ <- 1 to iters) {
      // rank side re-keyed to the edge cache's width (see seedDistance)
      val next = ew.join(
          ranks.repartition(nP, col("node")).hint("SHUFFLE_HASH"),
          col("src") === col("node"))
        .select(col("dst"), expr("rank * w DIV wout").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
        .select(col("dst").as("node"),
          expr("150000000 + 85 * cs DIV 100").as("rank"))
      ranks =
        if (checkpointDir.isEmpty) next
        else {
          // reliable per-round pin: truncates lineage AND survives
          // executor loss; the superseded round's blocks are released
          val snapped = Pin.snap(next, checkpointDir)
          if (ranksPinned) Pin.release(ranks)
          ranksPinned = true
          snapped
        }
    }
    // eager O(nodes) checkpoint: pins the finished ranks so the edge
    // blocks can be dropped NOW — releasing before this ran meant the
    // caller's action found every ew reference cold and recomputed the
    // trade-edge build once per iteration. (With a checkpointDir the
    // final round is already pinned — no second materialization.)
    val fin =
      if (checkpointDir.isEmpty) ranks.localCheckpoint() else ranks
    edgePin.release()
    fin.select(col("node"), col("rank").as("rank_ppb"))
      .orderBy("node")
  }

  /** Triangle counting + local clustering coefficient on the co-purchase
    * graph: parts are nodes, an undirected edge connects two parts that
    * appear together in at least `minSupport` distinct orders. Per node:
    * degree, triangle count, and clustering coefficient in ppm
    * (2·tri·1e6 DIV deg·(deg−1), exact integers).
    *
    * A data pipeline uses this as a cohesion signal: dense neighborhoods
    * in a co-occurrence graph (pages co-linked, products co-bought,
    * docs co-cited) mark communities worth sampling together, and the
    * clustering coefficient separates hub-spoke noise from real cliques.
    *
    * Scale shape: pair generation is per-order (baskets are bounded —
    * ≤7 lineitems — so pairs are linear in lineitem, never quadratic in
    * parts); the support filter prunes the edge set before any wedge is
    * built; triangles are enumerated exactly once via the id-ordered
    * orientation u<v<w (wedge join on the middle node, then a closing
    * edge probe). Wedge volume is Σ deg²(v) of the PRUNED graph — the
    * support threshold is the knob that bounds it at scale (raise it on
    * denser graphs; degree-ordered orientation is the further refinement
    * when hubs dominate, at the cost of a degree-rank join). The edge
    * frame appears four times in the plan (both wedge sides, the closing
    * probe, the degree count) but its shuffle runs once — the subtrees
    * are identical, so Spark's ReuseExchange collapses them (pinned in
    * PlanQualitySpec). */
  /** Support-pruned co-purchase edges (u < v): pair generation as a
    * codegen'd self-join on the order key (pairs are linear in lineitem
    * for bounded baskets). The tempting alternative — collect_set per
    * order + in-array pair expansion — is ONE shuffle instead of two but
    * 4× slower measured at sf0.1: higher-order array lambdas evaluate
    * interpreted per element (the q152 lesson), while the join stays
    * inside whole-stage codegen. Shared by q167/q175. */
  private def supportEdges(spark: SparkSession, dir: String,
      minSupport: Int): DataFrame = {
    // ONE exchange feeds everything up to the pair aggregate (r15,
    // guide §2.4 "two operations keyed the same way share one
    // exchange"): hash(ok) clustering satisfies the (ok, pk) distinct
    // (same-key rows co-located) AND both self-join sides, so the old
    // shape's three shuffles of the lineitem projection — the distinct's
    // (ok, pk) exchange plus the join's re-shuffle on ok — collapse to
    // this keyed repartition (AQE-coalescible: no fixed width), and the
    // SHUFFLE_HASH hint drops the self-join's two per-side sorts.
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .distinct()
    li.as("a")
      .join(li.as("b").hint("SHUFFLE_HASH"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select("u", "v")
  }

  /** Default adjacency bound for the wedge-candidate family — far above
    * any degree the fixture produces (the cap never binds there, so
    * q167/q238 stay oracle-exact) yet finite, so Σ deg² wedge volume is
    * bounded BY CONSTRUCTION on a skewed production graph. */
  private[graft] val DefaultWedgeDegreeCap = 8192

  /** Hub guard for wedge enumeration — the graph-side twin of q196's
    * df-capped shingle index: a single hub of degree d emits d² wedges
    * (a 10M-degree node would emit 10¹⁴ candidate pairs — unpayable at
    * any cluster size), so before any wedge is built, every node's
    * adjacency is bounded to `cap` in BOTH roles: keep the `cap`
    * smallest neighbors per `u`, then per `v` (row_number windows —
    * deterministic, and each is one linear hash shuffle + per-node sort,
    * never quadratic). Wedges through any middle node are then ≤ cap²,
    * total wedge volume ≤ min(cap·|E|, cap²·|V|). Below the cap the
    * frame is IDENTICAL to the input, so results stay exact (the
    * fixture's degrees are orders of magnitude under the default);
    * above it, candidates through a hub's truncated adjacency are
    * dropped — the same declared-precision trade the df-cap makes, and
    * the cap is stamped into the result (`deg_cap`) so a consumer can
    * read the guarantee. Both wedge sides consume this ONE capped
    * frame, keeping the subtrees identical so the shuffle is planned
    * once (ReuseExchange). */
  private[graft] def capWedgeAdjacency(edges: DataFrame, cap: Int)
      : DataFrame = {
    if (cap <= 0) edges
    else {
      import org.apache.spark.sql.expressions.Window
      val perU = Window.partitionBy(col("u")).orderBy(col("v"))
      val perV = Window.partitionBy(col("v")).orderBy(col("u"))
      edges
        .withColumn("__ru", row_number().over(perU))
        .filter(col("__ru") <= cap)
        .withColumn("__rv", row_number().over(perV))
        .filter(col("__rv") <= cap)
        .drop("__ru", "__rv")
    }
  }

  def triangleCount(spark: SparkSession, dir: String, minSupport: Int = 2,
      maxWedgeDegree: Int = DefaultWedgeDegreeCap): DataFrame = {
    val edges = supportEdges(spark, dir, minSupport)
    // wedge sides ride the hub-capped frame (exact below the cap); the
    // closing-edge probe and the degree denominator stay on the full
    // edge set, so every triangle the capped wedges surface is real and
    // clustering coefficients use true degrees
    val wedge = capWedgeAdjacency(edges, maxWedgeDegree)
    val tri = wedge.as("e1")
      .join(wedge.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"),
        col("e2.v").as("z"))
      .join(edges.as("e3"),
        col("x") === col("e3.u") && col("z") === col("e3.v"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("triangles"))
    val deg = edges.select(col("u").as("part"))
      .unionAll(edges.select(col("v").as("part")))
      .groupBy("part").agg(count(lit(1)).as("degree"))
    val res = deg.join(tri, Seq("part"), "left")
      .select(col("part"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("2 * triangles * 1000000 DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .withColumn("deg_cap", lit(maxWedgeDegree))
      .orderBy("part")
    res
  }

  /** Synchronous label propagation (Raghavan et al. 2007) on the
    * co-purchase graph, made DETERMINISTIC: every node starts labeled by
    * its own id; each round it adopts the most frequent label among its
    * neighbors, ties broken by the smallest label; a fixed number of
    * rounds (the pagerank posture — data-independent plan depth). The
    * async, random-order variant converges faster but is
    * nondeterministic — useless for an oracle-checked engine and for any
    * pipeline that must reproduce its communities across reruns.
    *
    * A training-data pipeline uses communities one level above q57's
    * connected components: CC glues exact/near duplicates, label
    * propagation groups RELATED-but-distinct items (co-linked pages,
    * co-purchased products) for diversity-aware sampling and
    * leakage-free splitting at the community granularity.
    *
    * Scale shape: each round is one join (labels ⋈ edges on the
    * neighbor) + one (node, label) count + one per-node window pick —
    * the same per-round cost as pagerank, with the label frame O(nodes).
    * Rounds are a small constant; on a cluster the edge table would be
    * bucketed by neighbor so every round's join is co-located. */
  def labelPropagation(spark: SparkSession, dir: String, rounds: Int = 2,
      minSupport: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Edge layout (r15, the CC-fold discipline): the support-pruned
    // edge build runs ONCE (Pin.keyed), the symmetrized union is cached
    // pre-partitioned on the probe key `b` at a size-derived width, and
    // each round's label frame is kept hash-partitioned on `a`/`node`
    // at the SAME width — the per-round join is co-partitioned and the
    // (a,label) count + per-a window pick share ONE exchange (clustering
    // by `a` satisfies both), where the old shape re-shuffled the cached
    // edge table every round plus two label exchanges.
    val edgePin = Pin.keyed(supportEdges(spark, dir, minSupport),
      rowsPerSourceRow = 2)
    val nP = edgePin.width
    val sym = edgePin.by("b", p0 =>
      p0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(p0.select(col("v").as("a"), col("u").as("b"))))
    var labels = sym.select(col("a").as("node"))
      .repartition(nP, col("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val counted = sym.join(labels.hint("SHUFFLE_HASH"),
          col("b") === col("node"))
        .repartition(nP, col("a"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
      val pick = Window.partitionBy("a")
        .orderBy(col("c").desc, col("label").asc)
      labels = counted.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("label"))
    }
    // pin the O(nodes) result eagerly so the edge blocks can be released
    // before the caller's action runs
    val fin = labels.localCheckpoint()
    edgePin.release()
    fin
      .withColumn("community_size", count(lit(1)).over(
        Window.partitionBy("label")))
      .select(col("node").as("part"), col("label"),
        col("community_size"))
      .orderBy("part")
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED bipartite
    * trade graph customers→suppliers — the third classic centrality next
    * to q143's PageRank (flow on the symmetrized graph) and q175's
    * communities. The bipartite split is what a data pipeline wants from
    * HITS: hub scores rank the AGGREGATORS (crawl feeds, buyers, linkers)
    * and authority scores rank the PRODUCERS (origin sites, suppliers) —
    * two different mixture-weight signals from one edge table.
    *
    * Same integer recipe as pagerank: scores are exact BIGINTs, each
    * half-round is `Σ score·w` pushed across the edges followed by a
    * max-normalization to ppm (`score·1e6 DIV max` — max is
    * order-independent, so no float-summation hazard), and the round
    * count is a small constant. Scale shape: the edge aggregate is built
    * once; each half-round is one join keyed on the edge endpoint + one
    * two-phase sum + one broadcast of a single-row max frame. */
  def hits(spark: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    // Unlike pagerank (damped, no per-round rescale), HITS renormalizes
    // after every half-round — naive lineage would double at each of the
    // 2·iters normalizations (the raw frame feeds both the max and the
    // rescale). The q57 CC recipe applies: localCheckpoint each score
    // frame (eager, O(nodes) rows) and release superseded rounds, so
    // every half-round is evaluated exactly once.
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // Edge layout (r15, the CC-fold discipline): HITS joins the edge
    // aggregate on ALTERNATING keys (cust for the authority push, supp
    // for the hub push), so ONE keyed copy can't serve both: two keyed
    // copies (Pin.keyed), and every half-round moves only the O(nodes)
    // score frame.
    val edgePin = Pin.keyed(
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .agg(count(lit(1)).as("w")))
    val nP = edgePin.width
    val eByCust = edgePin.by("cust")
    val eBySupp = edgePin.by("supp")
    var hubs = eByCust.select(col("cust")).distinct()
      .withColumn("h", lit(1000000L))
    var auths: DataFrame = null
    val snapped = scala.collection.mutable.Buffer.empty[DataFrame]
    for (_ <- 1 to iters) {
      // checkpoint the RAW per-node sums (one heavy join+agg job each);
      // the max and the rescale are lazy projections over the cached
      // frame, so no half-round is ever evaluated twice
      // score sides re-keyed to the edge caches' width (see seedDistance)
      val araw = Pin.snap(eByCust.join(hubs.repartition(nP, col("cust"))
          .hint("SHUFFLE_HASH"), "cust")
        .groupBy("supp").agg(sum(col("h") * col("w")).as("ar")))
      val amax = araw.agg(max(col("ar")).as("am"))
      auths = araw.crossJoin(broadcast(amax))
        .select(col("supp"), expr("ar * 1000000 DIV am").as("a"))
      val hraw = Pin.snap(eBySupp.join(auths.repartition(nP, col("supp"))
          .hint("SHUFFLE_HASH"), "supp")
        .groupBy("cust").agg(sum(col("a") * col("w")).as("hr")))
      val hmax = hraw.agg(max(col("hr")).as("hm"))
      hubs = hraw.crossJoin(broadcast(hmax))
        .select(col("cust"), expr("hr * 1000000 DIV hm").as("h"))
      snapped += araw; snapped += hraw
    }
    // superseded rounds are released; the final round's two raw frames
    // back the returned (lazily normalized) result and stay pinned
    snapped.dropRight(2).foreach(Pin.release)
    edgePin.release() // final frames are materialized
    hubs.select(lit("hub").as("role"), col("cust").as("node"),
        col("h").as("score_ppm"))
      .unionAll(auths.select(lit("authority").as("role"),
        col("supp").as("node"), col("a").as("score_ppm")))
      .orderBy("role", "node")
  }

  /** q219: bounded-hop BFS distance from a seed set — the fourth classic
    * graph pass next to flow (q143), endorsement (q183), and communities
    * (q175): "how many links from a trusted seed" is the quality-
    * propagation signal crawl frontiers and TrustRank-style source
    * scoring run on. Seeds are every supplier node with suppkey % 10 = 0;
    * distance is min-plus label propagation capped at `maxHops` rounds —
    * the CC fold's recipe (each round one equi-join + min-aggregate over
    * O(nodes) labels against the cached edge frame, localCheckpoint per
    * round), with the cap making plan depth data-independent. Unreached
    * nodes report dist = -1.
    *
    * Scale shape: identical to pagerank's per-round cost; the edge
    * frame is cached once (eager), the O(nodes) result checkpointed
    * before release. On a cluster the edge table buckets by src so every
    * round's join is co-located — the PartitionedMerge layout contract. */
  def seedDistance(spark: SparkSession, dir: String, maxHops: Int = 3)
      : DataFrame = {
    // Edge layout (r15, the CC-fold discipline from guide §2.4): the
    // edges are keyed ONCE on the probe key `dst` (Pin.keyed) and every
    // label frame is kept hash-partitioned on `node` at the SAME width —
    // the per-hop join is co-partitioned (zero exchanges; SHUFFLE_HASH
    // so no per-hop sort either) and the only exchange left per hop is
    // the one the min-aggregate fundamentally needs.
    val edgePin = Pin.keyed(tradeEdges(spark, dir).select("src", "dst"))
    val nP = edgePin.width
    val edges = edgePin.by("dst")
    val Unreached = 999L
    var labels = edges.select(col("src").as("node"))
      .repartition(nP, col("node")).distinct()
      .withColumn("dist",
        when(col("node").startsWith("S") &&
          substring(col("node"), 2, 10).cast("long") % 10 === 0, 0L)
          .otherwise(Unreached))
      .localCheckpoint()
    for (_ <- 1 to maxHops) {
      // labels re-keyed to the edge copy's width (see Pin.keyed)
      val hopped = edges
        .join(labels.repartition(nP, col("node")).hint("SHUFFLE_HASH"),
          col("dst") === col("node"))
        .select(col("src").as("node"),
          when(col("dist") < Unreached, col("dist") + 1)
            .otherwise(Unreached).as("dist"))
      // the explicit repartition keys the min-aggregate's one exchange
      // on (node, nP) so the NEXT hop's join stays co-partitioned
      val next = labels.unionByName(hopped)
        .repartition(nP, col("node"))
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      Pin.release(labels)
      labels = next
    }
    edgePin.release() // labels already materialized
    labels.select(col("node"),
        when(col("dist") === Unreached, lit(-1L))
          .otherwise(col("dist")).as("dist"))
      .orderBy("node")
  }

  /** q238: link PREDICTION on the co-purchase graph — common-neighbor
    * count and neighborhood-Jaccard (Liben-Nowell & Kleinberg 2003's
    * strongest simple predictors) for node pairs that are NOT yet
    * edges: the "customers who bought X also bought Y" candidate
    * generator, and the graph-side relative of the q37 set-similarity
    * join (here the sets are adjacency lists). Candidates come from
    * WEDGE enumeration — only pairs with at least one shared neighbor
    * are ever materialized, never the V² pair space — minus existing
    * edges via anti-join; top-50 by (common neighbors desc, jaccard
    * desc, pair asc) — a total order, so the cut is deterministic.
    *
    * Scale shape: wedges are the q167 triangle machinery minus the
    * closing-edge join (Σ deg² pairs, support-pruned); degrees and the
    * anti-join are linear in edges; the top-50 runs as TakeOrdered —
    * no global sort. */
  def linkPrediction(spark: SparkSession, dir: String,
      minSupport: Int = 2, topK: Int = 50,
      maxWedgeDegree: Int = DefaultWedgeDegreeCap): DataFrame = {
    // cached: wedge enumeration reads it twice (both sym sides), the
    // anti-join and degrees once more
    val edges = supportEdges(spark, dir, minSupport).cache()
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    // wedge enumeration rides the hub-capped adjacency (exact below the
    // cap — the fixture never binds it); true degrees still feed the
    // jaccard denominator
    val symc = capWedgeAdjacency(sym, maxWedgeDegree)
    val wedges = symc.as("a").join(symc.as("b"),
        col("a.v") === col("b.u") && col("a.u") < col("b.v"))
      .groupBy(col("a.u").as("u"), col("b.v").as("v"))
      .agg(count(lit(1)).as("cn"))
    val cand = wedges.join(edges, Seq("u", "v"), "left_anti")
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val res = cand
      .join(deg.select(col("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), Seq("v"))
      .withColumn("jaccard_ppm",
        expr("1000000 * cn DIV (deg_u + deg_v - cn)"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc,
        col("u").asc, col("v").asc)
      .limit(topK)
      .select(col("u"), col("v"), col("cn"), col("jaccard_ppm"),
        lit(maxWedgeDegree).as("deg_cap"))
    val fin = res.localCheckpoint()
    edges.unpersist(blocking = false)
    fin
  }

  /** q243: link prediction with a BINDING degree cap — q238's operator
    * run at a cap the fixture's degrees exceed, so the hub guard's
    * declared-precision semantics (keep each node's `cap` smallest
    * neighbors in both roles, enumerate wedges only through the capped
    * adjacency, score against TRUE degrees) are themselves
    * oracle-checked row for row, not just spec-pinned. The DuckDB
    * oracle replays the same two ROW_NUMBER caps — agreement proves
    * the cap is a well-defined cross-engine operator, not a Spark
    * implementation detail. */
  def linkPredictionCapped(spark: SparkSession, dir: String)
      : DataFrame = linkPrediction(spark, dir, maxWedgeDegree = 4)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q243_link_prediction_capped" ->
      ((s: SparkSession, d: String) => linkPredictionCapped(s, d)),
    "q238_link_prediction" ->
      ((s: SparkSession, d: String) => linkPrediction(s, d)),
    "q219_seed_distance" ->
      ((s: SparkSession, d: String) => seedDistance(s, d)),
    "q143_pagerank" -> ((s: SparkSession, d: String) => pageRank(s, d)),
    "q183_hits" -> ((s: SparkSession, d: String) => hits(s, d)),
    "q167_triangle_count" ->
      ((s: SparkSession, d: String) => triangleCount(s, d)),
    "q175_label_prop" ->
      ((s: SparkSession, d: String) => labelPropagation(s, d)))

  val oracles: Map[String, String] = Map(
    // q243: q238's lattice with the hub cap BINDING — the same two
    // sequential ROW_NUMBER caps (per u on the symmetric frame, then
    // per v on the survivor set) replayed in SQL, wedges only through
    // the capped adjacency, degrees and the anti-join on the full frame
    "q243_link_prediction_capped" ->
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (
           SELECT a.pk AS u, b.pk AS v
           FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 2),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         c1 AS (
           SELECT u, v FROM (
             SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v)
               AS r FROM sym) WHERE r <= 4),
         c2 AS (
           SELECT u, v FROM (
             SELECT u, v, ROW_NUMBER() OVER (PARTITION BY v ORDER BY u)
               AS r FROM c1) WHERE r <= 4),
         w AS (
           SELECT a.u AS u, b.v AS v, CAST(count(*) AS BIGINT) AS cn
           FROM c2 a JOIN c2 b ON a.v = b.u AND a.u < b.v
           GROUP BY a.u, b.v),
         cand AS (
           SELECT w.u, w.v, w.cn FROM w
           LEFT JOIN e ON e.u = w.u AND e.v = w.v
           WHERE e.u IS NULL),
         d AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
               FROM sym GROUP BY u)
         SELECT cand.u, cand.v, cand.cn,
           CAST(1000000 * cand.cn // (du.deg + dv.deg - cand.cn)
             AS BIGINT) AS jaccard_ppm,
           CAST(4 AS INTEGER) AS deg_cap
         FROM cand
         JOIN d du ON du.u = cand.u
         JOIN d dv ON dv.u = cand.v
         ORDER BY cand.cn DESC, jaccard_ppm DESC, cand.u ASC, cand.v ASC
         LIMIT 50""",
    // q238: same support-pruned edges, same wedge candidates, same
    // anti-join and integer jaccard, same deterministic total order
    "q238_link_prediction" ->
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (
           SELECT a.pk AS u, b.pk AS v
           FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 2),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         w AS (
           SELECT a.u AS u, b.v AS v, CAST(count(*) AS BIGINT) AS cn
           FROM sym a JOIN sym b ON a.v = b.u AND a.u < b.v
           GROUP BY a.u, b.v),
         cand AS (
           SELECT w.u, w.v, w.cn FROM w
           LEFT JOIN e ON e.u = w.u AND e.v = w.v
           WHERE e.u IS NULL),
         d AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
               FROM sym GROUP BY u)
         SELECT cand.u, cand.v, cand.cn,
           CAST(1000000 * cand.cn // (du.deg + dv.deg - cand.cn)
             AS BIGINT) AS jaccard_ppm,
           CAST(8192 AS INTEGER) AS deg_cap
         FROM cand
         JOIN d du ON du.u = cand.u
         JOIN d dv ON dv.u = cand.v
         ORDER BY cand.cn DESC, jaccard_ppm DESC, cand.u ASC, cand.v ASC
         LIMIT 50""",
    // q219: same symmetrized edges, same seed rule; the capped min-plus
    // rounds are a depth-bounded recursive BFS with a MIN rollup
    "q219_seed_distance" ->
      """WITH RECURSIVE p AS (
           SELECT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         e AS (SELECT c AS src, s AS dst FROM p
               UNION ALL SELECT s, c FROM p),
         n AS (SELECT DISTINCT src AS node FROM e),
         reach(node, d) AS (
           SELECT node, 0 FROM n
           WHERE node LIKE 'S%'
             AND CAST(substring(node, 2) AS BIGINT) % 10 = 0
           UNION
           SELECT e.src, reach.d + 1
           FROM reach JOIN e ON e.dst = reach.node
           WHERE reach.d < 3)
         SELECT n.node AS node,
           CAST(coalesce(MIN(reach.d), -1) AS BIGINT) AS dist
         FROM n LEFT JOIN reach ON n.node = reach.node
         GROUP BY n.node ORDER BY n.node""",
    // identical integer-ppb updates, same symmetrized edge build — the
    // three unrolled iteration CTEs are the Spark loop verbatim
    "q143_pagerank" ->
      """WITH p AS (
           SELECT 'C' || o_custkey AS c, 'S' || l_suppkey AS s,
             count(*) AS w
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         e AS (
           SELECT c AS src, s AS dst, w FROM p
           UNION ALL
           SELECT s AS src, c AS dst, w FROM p),
         o AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
         ew AS (SELECT e.src, e.dst, e.w, o.wout FROM e JOIN o USING (src)),
         r0 AS (
           SELECT DISTINCT src AS node, CAST(1000000000 AS BIGINT) AS rank
           FROM ew),
         r1 AS (
           SELECT dst AS node,
             150000000 + 85 * sum(rank * w // wout) // 100 AS rank
           FROM ew JOIN r0 ON ew.src = r0.node GROUP BY dst),
         r2 AS (
           SELECT dst AS node,
             150000000 + 85 * sum(rank * w // wout) // 100 AS rank
           FROM ew JOIN r1 ON ew.src = r1.node GROUP BY dst),
         r3 AS (
           SELECT dst AS node,
             150000000 + 85 * sum(rank * w // wout) // 100 AS rank
           FROM ew JOIN r2 ON ew.src = r2.node GROUP BY dst)
         SELECT node, CAST(rank AS BIGINT) AS rank_ppb
         FROM r3 ORDER BY node""",
    // same directed edge aggregate, same unrolled half-rounds with
    // integer max-normalization (sum then `·1e6 // max`)
    "q183_hits" ->
      """WITH e AS (
           SELECT o_custkey AS cust, l_suppkey AS supp,
             CAST(count(*) AS BIGINT) AS w
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         h0 AS (
           SELECT DISTINCT cust, CAST(1000000 AS BIGINT) AS h FROM e),
         a1r AS (
           SELECT supp, CAST(sum(h * w) AS BIGINT) AS ar
           FROM e JOIN h0 USING (cust) GROUP BY supp),
         a1 AS (
           SELECT supp, ar * 1000000 // (SELECT max(ar) FROM a1r) AS a
           FROM a1r),
         h1r AS (
           SELECT cust, CAST(sum(a * w) AS BIGINT) AS hr
           FROM e JOIN a1 USING (supp) GROUP BY cust),
         h1 AS (
           SELECT cust, hr * 1000000 // (SELECT max(hr) FROM h1r) AS h
           FROM h1r),
         a2r AS (
           SELECT supp, CAST(sum(h * w) AS BIGINT) AS ar
           FROM e JOIN h1 USING (cust) GROUP BY supp),
         a2 AS (
           SELECT supp, ar * 1000000 // (SELECT max(ar) FROM a2r) AS a
           FROM a2r),
         h2r AS (
           SELECT cust, CAST(sum(a * w) AS BIGINT) AS hr
           FROM e JOIN a2 USING (supp) GROUP BY cust),
         h2 AS (
           SELECT cust, hr * 1000000 // (SELECT max(hr) FROM h2r) AS h
           FROM h2r)
         SELECT 'hub' AS role, cust AS node, h AS score_ppm FROM h2
         UNION ALL
         SELECT 'authority' AS role, supp AS node, a AS score_ppm FROM a2
         ORDER BY role, node""",
    // same support-pruned id-ordered edges, same u<v<w enumeration
    "q167_triangle_count" ->
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (
           SELECT a.pk AS u, b.pk AS v
           FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 2),
         t AS (
           SELECT e1.u AS x, e1.v AS y, e2.v AS z
           FROM e e1 JOIN e e2 ON e1.v = e2.u
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         tn AS (
           SELECT part, CAST(count(*) AS BIGINT) AS triangles
           FROM (SELECT x AS part FROM t UNION ALL
                 SELECT y FROM t UNION ALL SELECT z FROM t)
           GROUP BY part),
         d AS (
           SELECT part, CAST(count(*) AS BIGINT) AS degree
           FROM (SELECT u AS part FROM e UNION ALL SELECT v FROM e)
           GROUP BY part)
         SELECT d.part, d.degree,
           COALESCE(tn.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2 THEN
             2 * COALESCE(tn.triangles, 0) * 1000000
               // (d.degree * (d.degree - 1))
           ELSE 0 END AS clustering_ppm,
           CAST(8192 AS INTEGER) AS deg_cap
         FROM d LEFT JOIN tn ON d.part = tn.part
         ORDER BY d.part""",
    // same support-pruned symmetric edges, same (count desc, label asc)
    // adoption rule — the two rounds unrolled as CTEs
    "q175_label_prop" ->
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e0 AS (
           SELECT a.pk AS u, b.pk AS v
           FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 2),
         e AS (
           SELECT u AS a, v AS b FROM e0
           UNION ALL SELECT v AS a, u AS b FROM e0),
         l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
         n1 AS (
           SELECT e.a, l0.label, count(*) AS c
           FROM e JOIN l0 ON e.b = l0.node GROUP BY e.a, l0.label),
         l1 AS (
           SELECT a AS node, label FROM (
             SELECT a, label, row_number() OVER (PARTITION BY a
               ORDER BY c DESC, label) AS rn FROM n1)
           WHERE rn = 1),
         n2 AS (
           SELECT e.a, l1.label, count(*) AS c
           FROM e JOIN l1 ON e.b = l1.node GROUP BY e.a, l1.label),
         l2 AS (
           SELECT a AS node, label FROM (
             SELECT a, label, row_number() OVER (PARTITION BY a
               ORDER BY c DESC, label) AS rn FROM n2)
           WHERE rn = 1)
         SELECT node AS part, label,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
             AS community_size
         FROM l2 ORDER BY part"""
  )
}
