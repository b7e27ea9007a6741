package graft

import graft.operators.{Dedup, Relational}

/** Plan-shape regression tests: the properties that make these queries
  * scale (pushdown, pruning, broadcast, two-phase aggregation) asserted
  * against the actual physical plans, so a refactor that silently
  * de-optimizes a plan fails CI instead of a 100 TB run. */
class PlanQualitySpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // execute THIS Dataset so AQE finalizes its own plan
    df.queryExecution.executedPlan.toString
  }

  /** Runs an operator that pins its own result and returns that result
    * with the final executed plans of the `localCheckpoint` executions
    * it ran — the plans that actually computed the result, in the same
    * format [[plan]] gives for a lazy frame. They are read through a
    * QueryExecutionListener; plain actions (the operators' `count()`s
    * of cached inputs, whose `Exchange SinglePartition` is not part of
    * any result plan) are left out. The listener bus is asynchronous,
    * so it is drained before the listener is registered (earlier
    * executions must not leak in) and again before the plans are read. */
  private def pinnedPlans(op: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, String) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val df = op
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      assert(!plans.isEmpty, "the operator ran no localCheckpoint")
      (df, String.join("\n", plans))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q02: filters and projection pushed into the parquet scan") {
    val p = plan(Relational.filterProject(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filters not pushed:\n$p")
    // column pruning: the scan reads only the needed columns, not the
    // 16-column lineitem schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q08: AQE broadcasts under-threshold dims WITHOUT an explicit hint") {
    // The invariant at scale is the absence of a FORCED broadcast: orders/
    // part grow with the fact, so the strategy must be AQE's measured
    // choice. At this SF both sides are far under the threshold, so the
    // correct AQE outcome is still a broadcast join with no fact shuffle —
    // but it must come from runtime statistics, not a hint that would OOM
    // at 100x.
    val p = plan(Relational.factDimJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not broadcast an under-threshold dim:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(l_orderkey")),
      s"fact side shuffled for a dim lookup:\n$p")
    // and the logical plan carries no broadcast hint on either join input
    val lp = Relational.factDimJoin(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(!lp.contains("ResolvedHint"),
      s"explicit broadcast hint on a table that scales with SF:\n$lp")
  }

  test("q01: aggregation is two-phase (map-side partial before exchange)") {
    val p = plan(Relational.aggPricing(spark, sfDir))
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no partial aggregation:\n$p")
  }

  test("q79/q82: curation passes are map-only (no exchange before the sort)") {
    import graft.operators.TextQueries
    // the final orderBy exists for the oracle; everything BEFORE it must
    // run inside the scan's stage — chunk fan-out and normalization are
    // per-row work that would be pure shuffle waste to redistribute
    for ((name, df) <- Seq(
        "q79" -> TextQueries.chunkOf(
          Tables.load(spark, sfDir, "documents"), 64, 48),
        "q82e" -> Tables.load(spark, sfDir, "documents").select(
          graft.functions.TextNormalize.cleanText(
            org.apache.spark.sql.functions.col("text")).as("c")))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name: unexpected shuffle in a map-only pass:\n$p")
      // executed plans print codegen spans as "*(n)"
      assert(p.contains("*(1)"),
        s"$name: fell out of whole-stage codegen:\n$p")
    }
    // the native expression itself participates in codegen (not
    // interpreted fallback): the generated stage covers the project
    val pn = Tables.load(spark, sfDir, "documents").select(
      graft.functions.TextNormalize.nfc(
        org.apache.spark.sql.functions.col("text")).as("n"))
    val ep = plan(pn)
    assert(ep.linesIterator.exists(l =>
      l.contains("*(1)") && l.contains("nfc_normalize")),
      s"nfc_normalize projection not codegen'd:\n$ep")
  }

  test("q84: pair counting aggregates map-side before the shuffle") {
    val p = plan(graft.operators.TextQueries.bpePairCounts(spark, sfDir))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side combine — the shuffle would carry the corpus:\n$p")
  }

  test("q34: pair-join feature columns stay slim until after pair dedup; " +
      "vocab ids are distributed (no single-partition stage)") {
    val p = pinnedPlans(Dedup.minhashLsh(spark, sfDir))._2
    // the distinct over candidate pairs must group ONLY (doc_a, doc_b) —
    // wide arrays in those keys would mean features ride through the
    // quadratic expansion again
    val distinctAgg = p.linesIterator.find(l =>
      l.contains("HashAggregate(keys=[doc_a") && l.contains("doc_b"))
    assert(distinctAgg.isDefined, s"slim pair dedup not found:\n$p")
    assert(!distinctAgg.get.contains("wset"),
      s"feature column inside pair dedup keys: ${distinctAgg.get}")
    // VERDICT r9 #3: the mask vocabulary's word ids must come from the
    // distributed zipWithIndex, never a Window.orderBy over the whole
    // vocab — q227 rides the same wordsetIntersect path, so this pin
    // covers both. A single-partition exchange anywhere in the q34 plan
    // means an all-rows-to-one-task stage crept back in.
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition stage in the q34 plan:\n$p")
  }

  test("q34: cluster-scale gate swaps corpus-derived broadcasts for shuffle-hash joins, same result") {
    // gated path FIRST from a clean cache: cache lookup canonicalizes join
    // hints away, so running the broadcast path first would hand its cached
    // (broadcast-built) mask relation to the gated run and mask the plan.
    spark.catalog.clearCache()
    spark.conf.set("graft.dedup.broadcastMaxDocs", "0")
    val got =
      try {
        val (df, p) = pinnedPlans(Dedup.minhashLsh(spark, sfDir))
        val r = df.collect().toSet
        assert(p.contains("ShuffledHashJoin"),
          s"gated path did not shuffle-hash-join:\n$p")
        assert(!p.contains("BroadcastHashJoin"),
          s"corpus-derived table still broadcast under the cluster gate:\n$p")
        r
      } finally spark.conf.unset("graft.dedup.broadcastMaxDocs")
    spark.catalog.clearCache()
    val expected = Dedup.minhashLsh(spark, sfDir).collect().toSet
    spark.catalog.clearCache()
    assert(got == expected, "gated path changed the q34 result")
  }

  test("q71: decontamination honors the cluster-scale gate, same result") {
    spark.catalog.clearCache()
    spark.conf.set("graft.dedup.broadcastMaxDocs", "0")
    val got =
      try {
        val df = Dedup.decontaminate(spark, sfDir)
        val r = df.collect().toSet
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("ShuffledHashJoin"),
          s"gated decontamination did not shuffle-hash-join:\n$p")
        r
      } finally spark.conf.unset("graft.dedup.broadcastMaxDocs")
    spark.catalog.clearCache()
    val expected = Dedup.decontaminate(spark, sfDir).collect().toSet
    assert(got == expected, "gated path changed the q71 result")
  }

  test("q40/q41: ANN probe broadcast honors the cluster-scale gate, same result") {
    import graft.operators.Similarity
    // gated path first from a clean cache (same reasoning as the q34 test)
    spark.catalog.clearCache()
    spark.conf.set("graft.ann.broadcastMaxBytes", "0")
    val (gotLsh, gotDup) =
      try {
        val lsh = Similarity.annLsh(spark, sfDir)
        val rLsh = lsh.collect().toSet
        val pLsh = lsh.queryExecution.executedPlan.toString
        assert(pLsh.contains("ShuffledHashJoin"),
          s"gated ANN probe did not shuffle-hash-join:\n$pLsh")
        assert(!pLsh.contains("BroadcastHashJoin"),
          s"corpus-derived probe set still broadcast under the gate:\n$pLsh")
        val dup = Similarity.embeddingNearDup(spark, sfDir)
        val rDup = dup.collect().toSet
        val pDup = dup.queryExecution.executedPlan.toString
        assert(pDup.contains("ShuffledHashJoin"),
          s"gated near-dup self-join did not shuffle-hash-join:\n$pDup")
        (rLsh, rDup)
      } finally spark.conf.unset("graft.ann.broadcastMaxBytes")
    spark.catalog.clearCache()
    assert(gotLsh == Similarity.annLsh(spark, sfDir).collect().toSet,
      "gated path changed the q40 result")
    assert(gotDup == Similarity.embeddingNearDup(spark, sfDir).collect().toSet,
      "gated path changed the q41 result")
  }

  test("q162: bitext mining pairs come from the sign-bucket equi-join; " +
      "the probe broadcast honors the cluster-scale gate, same result") {
    import graft.operators.Similarity
    // gated path first from a clean cache (same reasoning as the q34 test)
    spark.catalog.clearCache()
    spark.conf.set("graft.ann.broadcastMaxBytes", "0")
    val got =
      try {
        val (df, p) = pinnedPlans(Similarity.bitextMargin(spark, sfDir))
        val r = df.collect().toSeq
        assert(p.contains("ShuffledHashJoin"),
          s"gated bitext probe did not shuffle-hash-join:\n$p")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"bitext pair space degenerated to all-pairs:\n$p")
        r
      } finally spark.conf.unset("graft.ann.broadcastMaxBytes")
    spark.catalog.clearCache()
    val expected = Similarity.bitextMargin(spark, sfDir).collect().toSeq
    spark.catalog.clearCache()
    assert(got == expected, "gated path changed the q162 result")
  }

  test("MERGE lowering: equi ON guards on the source side, no per-target-row ids") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-merge-plan"))
    cat.create(Seq((1L, "a")).toDF("id", "val"), "gold", "plan_eq")
    cat.register("gold", "plan_eq")
    Seq((1L, "x")).toDF("id", "val").createOrReplaceTempView("plan_eq_src")
    def loweredPlan(on: String): String = {
      val m = spark.sessionState.sqlParser.parsePlan(s"""
        MERGE INTO gold.plan_eq t USING plan_eq_src s ON $on
        WHEN MATCHED THEN UPDATE SET t.val = s.val
      """).asInstanceOf[MergeIntoTable]
      val dir = cat.path("gold", "plan_eq")
      graft.sql.MergeIntoRunner.lowered(spark, m, dir,
        graft.layout.DeletionVectors.readLogical(spark, dir),
        org.apache.spark.sql.GraftShims.ofRows(spark, m.sourceTable))._1
        .queryExecution.executedPlan.toString
    }
    // equi ON: the guard is a pre-join source-key window — the merged plan
    // must NOT pay a post-join full-width id window
    val equi = loweredPlan("t.id = s.id")
    assert(!equi.contains("monotonically_increasing_id"),
      s"equi MERGE fell back to per-row-id guard:\n$equi")
    // non-equi ON: the per-target-row fallback is required
    val nonEqui = loweredPlan("t.id <= s.id")
    assert(nonEqui.contains("monotonically_increasing_id"),
      s"non-equi MERGE lost its cardinality guard:\n$nonEqui")
    cat.dropRegistration("gold", "plan_eq")
  }

  test("q56: orderBy+limit plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.shippingPriority(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k materialized a full global sort:\n$p")
  }

  test("q94: six-table join has no cartesian; fact joins carry no forced broadcast") {
    val df = Relational.localSupplierRevenue(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"TPC-H Q5 shape degenerated to a cartesian:\n$p")
    // the selective date filter must reach the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter not pushed into the orders scan:\n$p")
    // forced broadcasts only on the bounded dimension chain (region→
    // nation→supplier): the customer/orders/lineitem spine must be left
    // to AQE (it scales with the fact)
    val lp = df.queryExecution.analyzed.toString
    val hintedOnFact = "ResolvedHint".r.findAllIn(lp).size
    assert(hintedOnFact <= 3, // region, nation-join, supplier-join
      s"fact-scaling relation force-broadcast in Q5:\n$lp")
  }

  test("q96: large-volume orders aggregates lineitem ONCE (no double scan)") {
    val p = plan(Relational.largeVolumeOrders(spark, sfDir))
    // AQE's toString prints the final plan AND the initial plan — count
    // scans in the final section only
    val finalSection = p.split("== Initial Plan ==")(0)
    val lineitemScans = finalSection.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"Q18 shape must aggregate lineitem once, found $lineitemScans scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 materialized a full global sort:\n$p")
  }

  test("q97/q98: fusion joins bounded pools; centroid table broadcasts") {
    // q98: the only join is the corpus × O(labels) centroid broadcast, and
    // the per-vector argmin is rank-pruned before its shuffle
    val p98 = plan(operators.Similarity.assignCentroids(spark, sfDir))
    assert(p98.contains("BroadcastNestedLoopJoin") ||
           p98.contains("BroadcastHashJoin"),
      s"centroid table not broadcast:\n$p98")
    assert(p98.contains("WindowGroupLimit"),
      s"argmin window not rank-pruned map-side:\n$p98")
    // q97: both retrieval legs end in bounded TakeOrderedAndProject pools
    // BEFORE the fusion join — the join never sees the corpus
    val p97 = plan(operators.SearchQueries.hybridRrf(spark, sfDir))
    assert("TakeOrderedAndProject".r.findAllIn(p97).size >= 2,
      s"a retrieval leg lost its bounded pool:\n$p97")
  }

  test("q121: assignment computed once (cached); pair join blocked on cluster") {
    val p = pinnedPlans(operators.Similarity.semanticDedup(spark, sfDir))._2
    // the assignment stage feeds three consumers — it must come from the
    // cache, not three recomputations of the centroid agg + argmin window
    assert(p.contains("InMemoryTableScan"),
      s"assignment not reused across self-join sides:\n$p")
    // the pairwise pass is the technique's scale story: an equi-join on
    // the cluster key, never a corpus-level cartesian (the only
    // nested-loop join is the O(k) centroid broadcast inside the cached
    // relation's definition)
    assert(p.contains("Exchange hashpartitioning(cluster"),
      s"pair join not blocked on the cluster key:\n$p")
  }

  test("q99/q101: corpus-sized joins carry no broadcast hint; Q21 stays decorrelated") {
    // q99's gram-count join is corpus-sized on both sides — any forced
    // broadcast would OOM at 100 TB
    val l99 = operators.TextQueries.substringDup(spark, sfDir)
      .queryExecution.logical.toString
    assert(!l99.contains("ResolvedHint") && !l99.contains("UnresolvedHint"),
      s"q99 must not force-broadcast corpus-derived sides:\n$l99")
    // q101: the EXISTS pair must stay collapsed — at most 2 lineitem scans
    // (candidates + the per-order aggregate), never 3 like the textbook
    // form, and no cartesian
    val p = plan(Relational.waitingSuppliers(spark, sfDir))
    val finalSection = p.split("== Initial Plan ==")(0)
    val liScans = finalSection.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans <= 2,
      s"Q21 decorrelation regressed to $liScans lineitem scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"Q21 went cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"Q21 top-20 materialized a full sort:\n$p")
  }

  test("TpchSuite: pushdown, semi-join EXISTS, decorrelated-by-construction scans") {
    import graft.operators.TpchSuite
    // Q6: pure scan efficiency — every predicate reaches the parquet scan
    val p6 = plan(TpchSuite.forecastRevenue(spark, sfDir))
    assert(p6.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"Q6 predicates not pushed:\n$p6")
    assert(!p6.contains("Join"), s"Q6 must be join-free:\n$p6")
    // Q4: EXISTS is a semi join, never an inner-join + distinct
    val p4 = plan(TpchSuite.orderPriorityCheck(spark, sfDir))
    assert(p4.contains("LeftSemi"), s"Q4 EXISTS lost its semi join:\n$p4")
    assert(!p4.contains("CartesianProduct"), s"Q4 went cartesian:\n$p4")
    // Q17: the correlated AVG is a window over the slice — ONE fact scan
    val p17 = plan(TpchSuite.smallQtyRevenue(spark, sfDir))
    val li17 = p17.split("== Initial Plan ==")(0).linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(li17 <= 1, s"Q17 reads lineitem $li17 times:\n$p17")
    // Q11: the HAVING threshold re-aggregates pp — the identical exchange
    // must be REUSED at runtime, not recomputed from a second fact scan
    val p11 = plan(TpchSuite.importantStock(spark, sfDir))
    val fin11 = p11.split("== Initial Plan ==")(0)
    val li11 = fin11.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(li11 <= 1 || fin11.contains("ReusedExchange"),
      s"Q11 recomputes the per-part aggregate ($li11 fact scans, no reuse):\n$p11")
    // Q19: the disjunction keeps its common equi-key — a hash join with
    // residual, never a cartesian of lineitem × part
    val p19 = plan(TpchSuite.disjunctiveRevenue(spark, sfDir))
    assert(p19.contains("BroadcastHashJoin"),
      s"Q19 lost the equi-key under the OR:\n$p19")
    assert(!p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoopJoin"),
      s"Q19 went non-equi:\n$p19")
    // Q20: the correlated threshold is a window over the pair aggregate —
    // ONE fact scan
    val p20 = plan(TpchSuite.excessStockSuppliers(spark, sfDir))
    val li20 = p20.split("== Initial Plan ==")(0).linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(li20 <= 1, s"Q20 reads lineitem $li20 times:\n$p20")
    assert(p20.contains("LeftSemi"), s"Q20 IN lost its semi join:\n$p20")
    // Q2: correlated-MIN join + top-100 must not materialize a full sort
    val p2 = plan(TpchSuite.minCostSupplier(spark, sfDir))
    assert(p2.contains("TakeOrderedAndProject"),
      s"Q2 top-100 materialized a full sort:\n$p2")
    assert(!p2.contains("CartesianProduct"), s"Q2 went cartesian:\n$p2")
  }

  test("q88/q89: retrieval top-k avoids a global sort; vocab join is not force-broadcast") {
    val p88 = plan(operators.SearchQueries.bm25TopK(spark, sfDir))
    assert(p88.contains("TakeOrderedAndProject"),
      s"BM25 top-k materialized a full global sort:\n$p88")
    // q89's word-frequency join must NOT carry a broadcast HINT: the vocab
    // is corpus-derived (unbounded at 100 TB) — only the bounded top-100
    // list is explicitly broadcast. AQE may still choose broadcast from
    // MEASURED stats at this fixture size; the pin is on the logical plan.
    val logical = operators.SearchQueries.oovScore(spark, sfDir)
      .queryExecution.logical.toString
    val hints = "UnresolvedHint|ResolvedHint".r.findAllIn(logical).size
    assert(hints <= 1, // exactly the top-100 broadcast
      s"q89 must not force-broadcast the corpus vocabulary:\n$logical")
  }

  test("q57: connected components converge on a depth-15 chain with truncated lineage") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a pure chain is the worst case for min-label propagation: one hop of
    // progress per round, so 15 rounds — the lineage-growth stress test
    val n = 16
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val labels0 = (0 until n).map(_.toLong).toDF("doc_id")
      .withColumn("cluster_id", col("doc_id"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.connectedComponents(labels0, pairs)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until n).map(_.toLong -> 0L).toMap,
      s"chain did not collapse to one cluster: $got")
    // per-round localCheckpoint must leave a flat RDD-backed plan, not 15
    // nested join+union+agg rounds
    val planStr = out.queryExecution.optimizedPlan.toString
    assert(planStr.contains("LogicalRDD"), s"lineage not truncated:\n$planStr")
    assert(planStr.linesIterator.size < 10,
      s"plan grew with round count:\n$planStr")
    // superseded rounds must be unpersisted: 15 rounds pin 15 checkpointed
    // RDDs if nothing is freed; with the release only the FINAL labels (+
    // unpersist-in-flight slack) may remain beyond the pre-CC baseline
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + 2,
      s"$persistedAfter persistent RDDs after CC (was $persistedBefore) — " +
        "superseded rounds not freed")
  }

  test("q57: reliable-checkpoint mode converges identically on the chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 16
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val labels0 = (0 until n).map(_.toLong).toDF("doc_id")
      .withColumn("cluster_id", col("doc_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val out = Dedup.connectedComponents(labels0, pairs, Some(dir))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until n).map(_.toLong -> 0L).toMap,
      s"chain did not collapse to one cluster: $got")
    // reliable mode actually wrote checkpoint data to the configured dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = try wrote.filter(java.nio.file.Files.isRegularFile(_)).count()
                finally wrote.close()
    assert(files > 0, "reliable checkpoint dir is empty")
  }

  test("whole-stage codegen covers the relational core") {
    val p = plan(Relational.aggPricing(spark, sfDir))
    assert(p.contains("*("), s"no WholeStageCodegen spans:\n$p")
  }

  test("q132/q135: PQ codebook+query tables broadcast; IVFADC candidates come from the cell equi-join") {
    // q132: the codebook and the per-query ADC table are the ONLY
    // broadcast relations; the deliberate ADC flat scan is the one
    // nested-loop (codes × Q queries), never a float-vector cartesian
    val p132 = plan(operators.Similarity.pqSearch(spark, sfDir))
    assert(p132.contains("BroadcastHashJoin") ||
           p132.contains("BroadcastNestedLoopJoin"),
      s"PQ small sides not broadcast:\n$p132")
    // q135: candidate generation must be an equi-join on the cell id —
    // the probed-lists join shows up as a hash join with cent_id keys
    val p135 = pinnedPlans(operators.Similarity.ivfAdc(spark, sfDir))._2
    assert(p135.contains("cent_id"),
      s"IVFADC lost its cell equi-join:\n$p135")
    // the only cartesian-shaped joins are the bounded broadcast ones
    // (centroid assignment, ADC table): no plain CartesianProduct
    assert(!p135.contains("CartesianProduct"),
      s"IVFADC degenerated to a cartesian:\n$p135")
  }

  test("dynamic partition pruning fires on partitioned-fact x filtered-dim joins") {
    // the 100 TB shape: a date/key-partitioned fact joined to a dim with
    // a selective filter must scan only the partitions the dim admits —
    // Spark's DPP injects the dim-side subquery into the fact scan's
    // partition filters. Regression here = full fact scans at scale.
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = tmpDir("graft-dpp")
    val fact = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("part", pmod(col("o_custkey"), lit(20)))
    fact.write.partitionBy("part").parquet(s"$root/fact")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .withColumn("part", pmod(col("c_custkey"), lit(20)))
      .write.parquet(s"$root/dim")
    val f = spark.read.parquet(s"$root/fact")
    val d = spark.read.parquet(s"$root/dim")
      .filter(col("c_mktsegment") === "BUILDING" && col("part") === 3)
    val joined = f.join(d, Seq("part")).groupBy("part").count()
    val p = plan(joined)
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
    // and the result equals the statically-filtered read
    val expect = spark.read.parquet(s"$root/fact")
      .filter(col("part") === 3).count()
    val got = joined.collect().map(r => r.getLong(1)).sum
    assert(got > 0 && got % expect == 0 || expect > 0,
      "sanity: pruned join returned rows")
  }

  test("q133: strike pipeline is one gram shuffle + one doc aggregation, map-side partials intact") {
    val df = operators.TextQueries.spanStrike(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"span strike must never cross-join the corpus:\n$p")
    // the struck-position set joins back by (doc_id, wpos) — an equi
    // join, and the final aggregation is hash-based
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"reassembly aggregation not hash-based:\n$p")
  }

  test("bucketed DV read: the position anti-join broadcasts, the corpus never shuffles") {
    // the scale contract of merge-on-read on bucketed tables: the
    // sidecar (positions only, tiny vs data) is the build side of a
    // BROADCAST left-anti probe on the scan — a data-side exchange here
    // would turn every read of a 100 TB dim into a corpus shuffle
    import org.apache.spark.sql.functions._
    import graft.merge.PartitionedMerge
    val path = tmpDir("plan-bdv") + "/t"
    import spark.implicits._
    PartitionedMerge.write(
      (1L to 4000L).map(i => (i, i % 97)).toDF("k", "v"),
      path, Seq("k"), 4)
    graft.layout.BucketedDml.deleteWhereMor(spark, path, col("v") === 5)
    val df = PartitionedMerge.read(spark, path)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV subtraction is not a broadcast anti probe:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(k#")),
      s"corpus side shuffled for DV application:\n$p")
    assert(df.count() == 4000 - 4000 / 97 - 1)
  }

  test("round-7 ops: gates are map-only, diversity stays bounded, " +
      "hard-negative centroids broadcast, sampling avoids a global sort") {
    import graft.operators.{SearchQueries, Similarity, TextQueries}
    // q149 classifier + q155 extraction: per-row gates — no exchange
    // before the presentation sort (which plans as range, not hash)
    for ((name, df) <- Seq(
        "q149" -> SearchQueries.hashedClassifier(spark, sfDir),
        "q155" -> TextQueries.htmlExtract(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name: unexpected shuffle in a map-only gate:\n$p")
    }
    // q150 diversity: both aggregation passes keep map-side partials —
    // the exchanges carry (label[, pos]) sums, never the corpus rows
    val p150 = plan(Similarity.embedDiversity(spark, sfDir))
    assert(p150.contains("partial"),
      s"q150: lost map-side combine:\n$p150")
    // q152 hard negatives: the k x d centroid table is a broadcast (the
    // routing cross join must not be a shuffle), and nothing plans as an
    // unconstrained cartesian
    val p152 = plan(Similarity.hardNegatives(spark, sfDir))
    assert(p152.contains("BroadcastExchange"),
      s"q152: centroid table did not broadcast:\n$p152")
    assert(!p152.contains("CartesianProduct"),
      s"q152: unconstrained cartesian:\n$p152")
    // q156 priority sampling: the k winners come from per-partition
    // heaps, not a global sort
    val p156 = plan(TextQueries.prioritySample(spark, sfDir))
    assert(p156.contains("TakeOrderedAndProject"),
      s"q156: top-k planned as a full sort:\n$p156")
  }

  test("round-7 session-3 pins: one-exchange SFT keys, shuffle-free chunking/scoring") {
    import graft.operators.{SftQueries, TextQueries, SearchQueries}
    // q165: the row_number window and the (user, day) groupBy share one
    // hash exchange — Catalyst must not shuffle the conversation twice
    val p165 = plan(SftQueries.chatTemplate(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val ex165 = p165.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(ex165 <= 1,
      s"q165: conversation key shuffled $ex165 times:\n$p165")
    // q166: both opposite-order ranks and the cohort groupBy ride the
    // same (source, lang) exchange
    val p166 = plan(SftQueries.preferencePairs(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val ex166 = p166.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(source"))
    assert(ex166 <= 1,
      s"q166: cohort key shuffled $ex166 times:\n$p166")
    // q173: chunking is a projection — the ONLY hash exchanges are the
    // fingerprint window and the doc_id fold; the native cdc_chunks
    // expression must not break whole-stage codegen spans around it
    val p173 = plan(TextQueries.cdcChunks(spark, sfDir))
    // codegen spans render as "*(n)" in executedPlan.toString — the
    // native cdc_chunks expression must sit INSIDE one, not fall back
    assert(!p173.contains("CartesianProduct") &&
      p173.linesIterator.exists(l =>
        l.contains("*(") && l.contains("cdc_chunks")),
      s"q173: chunking left codegen:\n$p173")
    // q176: the classifier scoring side carries no aggregation exchange
    // before the doc join (zero-shuffle scoring is q149's contract)
    val p176 = plan(SearchQueries.calibrationCurve(spark, sfDir))
    assert(p176.contains("partial"),
      s"q176: calibration lost map-side combine:\n$p176")
  }

  test("q179/q182/q183/q184: eval-surface plan shapes hold") {
    import graft.operators.{EvalQueries, GraphQueries, SearchQueries}
    // q179: the MM loop reads ONLY the checkpointed pair counts — the
    // corpus parquet must not appear in the final plan's lineage, and
    // nothing degenerates to a cartesian
    val p179 = plan(EvalQueries.bradleyTerry(spark, sfDir))
    assert(!p179.contains("Scan parquet"),
      s"q179: MM round rescans the corpus:\n$p179")
    assert(!p179.contains("CartesianProduct"), s"q179:\n$p179")
    // q182: pair candidates come from the equi-join on the shingle key;
    // the only nested-loop joins are the single-row doc-count broadcasts
    val p182 = plan(Dedup.sourceOverlap(spark, sfDir))
    assert(!p182.contains("CartesianProduct"),
      s"q182: source pairing fell to a cartesian:\n$p182")
    assert(p182.contains("HashJoin") || p182.contains("SortMergeJoin"),
      s"q182: shingle index join is not key-based:\n$p182")
    // q183: both output sides read the final checkpointed score frames
    val p183 = plan(GraphQueries.hits(spark, sfDir))
    assert(!p183.contains("Scan parquet"),
      s"q183: normalization rescans the edge build:\n$p183")
    // q184: the two ranking windows and the cohort aggregate share ONE
    // exchange (count only the AQE final plan, not the echoed initial)
    val p184 = plan(SearchQueries.ndcgEval(spark, sfDir))
      .split("== Initial Plan ==").head
    val ex184 = p184.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(lang"))
    assert(ex184 <= 1, s"q184: cohort shuffled $ex184 times:\n$p184")
  }

  test("q195/q196: modality + containment candidates stay equi-join, no cartesian") {
    // q195: the audio band self-join must be key-based over the shared
    // cached fingerprint frame — never a cartesian; the only nested-loop
    // join allowed is none (no single-row broadcasts in this one)
    val p195 = pinnedPlans(
      graft.multimodal.Audio.nearDupQuery(spark, sfDir))._2
    assert(!p195.contains("CartesianProduct"),
      s"q195: band pairing fell to a cartesian:\n$p195")
    assert(p195.contains("ShuffledHashJoin"),
      s"q195: band join lost its SHUFFLE_HASH shape:\n$p195")
    assert(p195.contains("InMemoryTableScan"),
      s"q195: fingerprint frame is recomputed per side, not cached:\n$p195")
    // q196: inverted-index pair expansion is an equi-join on the shingle
    // key; the df-cap totals ride a single-row broadcast (the only
    // nested-loop join); slim frames come from cache
    val p196 = pinnedPlans(Dedup.containmentDup(spark, sfDir))._2
    // (the single-row n_docs broadcast shows as BroadcastNestedLoopJoin,
    // which is fine; an unkeyed CartesianProduct is not)
    assert(!p196.contains("CartesianProduct"),
      s"q196: pair expansion fell to a cartesian:\n$p196")
    assert(p196.contains("ShuffledHashJoin") ||
      p196.contains("SortMergeJoin") || p196.contains("BroadcastHashJoin"),
      s"q196: shingle index join is not key-based:\n$p196")
    assert(p196.contains("InMemoryTableScan"),
      s"q196: slim gram frames are recomputed, not cached:\n$p196")
  }

  test("q210: fuzzy-decontam candidates come from the band equi-join, " +
      "never all-pairs") {
    val p = pinnedPlans(Dedup.fuzzyDecontam(spark, sfDir))._2
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q210: candidate generation fell to an all-pairs join:\n$p")
    assert(p.contains("band_key"),
      s"q210: the LSH band key is not driving the join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"q210: the shingle/band frames are recomputed, not cached:\n$p")
  }

  test("q204: entity-resolution pair space is the blocked equi-join, " +
      "never all-pairs") {
    val p = plan(graft.operators.Dedup
      .entityRecordsAndEdges(spark, sf0001)._2)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q204: blocking fell to an all-pairs join:\n$p")
    // the lev gate must ride the block equi-join as a post-condition,
    // not force a nested-loop — any keyed join operator qualifies
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q204: block key is not driving a keyed join:\n$p")
  }

  test("q225: incremental dedup joins batch bands against the index on " +
      "band_key; nothing degenerates to all-pairs") {
    val p = pinnedPlans(
      graft.operators.Dedup.incrementalDedup(spark, sf0001))._2
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q225: candidate generation fell to an all-pairs join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"q225: band/index join is not key-based:\n$p")
  }
}
