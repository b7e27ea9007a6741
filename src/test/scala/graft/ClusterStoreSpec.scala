package graft

import org.apache.spark.sql.functions._

import graft.multimodal.{Audio, Multimodal}
import graft.operators.{ClusterStore, Dedup}

/** The persisted, incrementally-maintained modality cluster store
  * (VERDICT r13 #1 — the IndexDeleteSpec pattern applied per modality).
  * Two equalities per modality, both exact row-set comparisons:
  *
  *   1. MAINTAINED == REBUILT: a store built from generation-0 docs,
  *      appended with generations 1 and 2 (each batch probed against
  *      the persisted signature index only), then delete-maintained
  *      (`doc_id % 7 = 3` taken down), holds EXACTLY the clusters of a
  *      from-scratch build over the live docs. Pairs in every modality
  *      depend only on their two endpoints' signatures, so incremental
  *      edge discovery and delete-then-refold lose nothing.
  *
  *   2. STORE == ONE-SHOT QUERY: a store built over the full corpus
  *      holds exactly the audited one-shot clustering's output (q57
  *      text, q178 image, q198 audio, q199 video) — the equality
  *      q249's persisted-table probe rests on.
  */
class ClusterStoreSpec extends SparkSuite {

  private def docs = Tables.load(spark, sf0001, "documents")

  private def clusterRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "cluster_id", "is_kept")
      .collect().map(_.toSeq).toSet

  for (spec <- ClusterStore.modalitySpecs) {
    test(s"${spec.name}: maintained (build+append+append+delete) " +
        "equals a from-scratch build over the live docs") {
      val maintained =
        new ClusterStore(spark, tmpDir(s"cs-${spec.name}-m"), spec)
      maintained.build(docs.filter(col("doc_id") % 3 === 0))
      maintained.append(docs.filter(col("doc_id") % 3 === 1))
      maintained.append(docs.filter(col("doc_id") % 3 === 2))
      maintained.delete(_ % 7 === 3)
      val rebuilt =
        new ClusterStore(spark, tmpDir(s"cs-${spec.name}-r"), spec)
      rebuilt.build(docs.filter(col("doc_id") % 7 =!= 3))
      val got = clusterRows(maintained.clusters)
      assert(got.nonEmpty)
      assert(got === clusterRows(rebuilt.clusters))
      // the takedown actually removed the docs from the clusters table
      assert(maintained.clusters
        .filter(col("doc_id") % 7 === 3).count() === 0L)
    }
  }

  for ((ratio, label) <- Seq("1e18" -> "incremental merge-fold",
      "0.0" -> "full refold")) {
    test(s"append refold path pinned to the $label (ratio=$ratio): " +
        "maintained equals a from-scratch build either way") {
      // the cost gate (graft.cluster.incrementalRefoldMaxRatio) picks
      // between reclusterAppend's cluster-space merge and the full
      // recluster; force EACH path and pin the same equality, so the
      // gate can never hide a divergence between them
      val spec = ClusterStore.modalitySpecs.find(_.name == "text").get
      spark.conf.set("graft.cluster.incrementalRefoldMaxRatio", ratio)
      try {
        val maintained =
          new ClusterStore(spark, tmpDir(s"cs-gate-$label"), spec)
        maintained.build(docs.filter(col("doc_id") % 3 === 0))
        maintained.append(docs.filter(col("doc_id") % 3 === 1))
        maintained.append(docs.filter(col("doc_id") % 3 === 2))
        val rebuilt =
          new ClusterStore(spark, tmpDir(s"cs-gate-$label-r"), spec)
        rebuilt.build(docs)
        assert(clusterRows(maintained.clusters) ===
          clusterRows(rebuilt.clusters))
      } finally spark.conf
        .unset("graft.cluster.incrementalRefoldMaxRatio")
    }
  }

  test("crash-replay exactly-once: a batch that died between the sigs " +
      "and pairs appends converges to the clean result on replay") {
    val spec = ClusterStore.modalitySpecs.find(_.name == "text").get
    val store = new ClusterStore(spark, tmpDir("cs-replay"), spec)
    store.build(docs.filter(col("doc_id") % 3 === 0))
    val batch = docs.filter(col("doc_id") % 3 === 1)
    // crash in the window a micro-batch replay must heal: sigs
    // committed, pairs not, marker not advanced
    store.onSigsAppended = () => throw new RuntimeException("crash")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[RuntimeException] {
      store.append(batch, batchTag = Some(("cs-replay", 1L)))
    }
    // the failed op released the batch's pinned sigs and pairs
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore,
      "a failed append left its pins in the persistent-RDD registry")
    store.onSigsAppended = () => ()
    // the replay: same batch, same tag — sigs must skip (already
    // stamped), pairs must land, and the probe index must NOT see the
    // batch's own already-landed rows as old (self-pairs/doubled edges)
    store.append(batch, batchTag = Some(("cs-replay", 1L)))
    val clean = new ClusterStore(spark, tmpDir("cs-replay-clean"), spec)
    clean.build(docs.filter(col("doc_id") % 3 === 0))
    clean.append(docs.filter(col("doc_id") % 3 === 1))
    assert(clusterRows(store.clusters) === clusterRows(clean.clusters))
    // pair-set equality is the sharper check: self-pairs or doubled
    // edges would survive cluster folding invisibly
    def pairRows(s: ClusterStore) = graft.layout.DeletionVectors
      .readPath(spark, s.pairsDir).select("doc_a", "doc_b")
      .collect().map(_.toSeq).toSeq
    assert(pairRows(store).sortBy(_.toString) ===
      pairRows(clean).sortBy(_.toString))
    // a FULLY-landed replay (both tables stamped) is a pure no-op
    store.append(batch, batchTag = Some(("cs-replay", 1L)))
    assert(pairRows(store).size === pairRows(clean).size)
  }

  test("maintainStream drains a file-per-batch source into the store " +
      "exactly-once and lands on the from-scratch clusters") {
    val spec = ClusterStore.modalitySpecs.find(_.name == "text").get
    val root = tmpDir("cs-stream")
    val store = new ClusterStore(spark, root, spec)
    store.build(docs.filter(col("doc_id") % 3 === 0))
    val src = tmpDir("cs-stream-src")
    (1 to 2).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(src)
    }
    val schema = docs.schema
    def drain(): Unit = store.maintainStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src), s"$root/_checkpoint")
    drain()
    val rebuilt = new ClusterStore(spark, tmpDir("cs-stream-clean"), spec)
    rebuilt.build(docs)
    assert(clusterRows(store.clusters) === clusterRows(rebuilt.clusters))
    // a RESTARTED drain over the same checkpoint finds no new files and
    // changes nothing — exactly-once across restarts, not just batches
    drain()
    assert(clusterRows(store.clusters) === clusterRows(rebuilt.clusters))
  }

  test("full-corpus store equals each one-shot clustering query") {
    val root = tmpDir("cs-full")
    ClusterStore.buildAll(spark, sf0001, root)
    def stored(m: String) =
      clusterRows(ClusterStore.storeOf(spark, root, m).clusters)
    assert(stored("text") === clusterRows(
      Dedup.dedupClusters(spark, sf0001)))
    assert(stored("image") === clusterRows(
      Multimodal.imageDedupClusters(spark, sf0001)
        .withColumnRenamed("asset_id", "doc_id")))
    assert(stored("audio") === clusterRows(
      Audio.dedupClustersQuery(spark, sf0001)
        .withColumnRenamed("asset_id", "doc_id")))
    assert(stored("video") === clusterRows(
      Multimodal.videoDedupClusters(spark, sf0001)
        .withColumnRenamed("video", "doc_id")))
  }
}
