package graft

/** The cache-release protocol as a GATE (VERDICT r9 #2): every query that
  * caches intermediate frames must release them before returning — in a
  * 228-query Verify/Bench session, stranded blocks accumulate gigabytes of
  * dead storage that squeezes execution memory and randomizes later
  * queries' timings (measured round 8: 179 s unscrubbed vs 89 s scrubbed).
  *
  * Two layers:
  *   1. BEHAVIORAL — run each cache-using query end to end and assert the
  *      DataFrame CacheManager is empty afterwards, and that at most the
  *      query's own pinned result (a localCheckpoint RDD the caller holds)
  *      remains in the persistent-RDD registry. This is stronger than any
  *      grep: a cache()-site added without a release fails here no matter
  *      how it is spelled.
  *   2. LEXICAL — every src/main file that calls `.cache()` must contain
  *      an `unpersist` (the cheap tripwire for a NEW file that starts
  *      caching without importing the protocol at all).
  */
class CacheDisciplineSpec extends SparkSuite {

  // every SparkEntry query whose implementation caches intermediates
  // (grep `.cache()` over src/main and map the enclosing function to its
  // registry id); CC-based queries keep their final label RDD — that and
  // the pinned result are the +2 slack below
  private val cacheUsers = Seq(
    "q34_minhash_lsh", "q36_simhash_pairs", "q196_containment_dup",
    "q210_fuzzy_decontam", "q214_threshold_sweep", "q225_incremental_dedup",
    "q227_lsh_precision", "q121_semantic_dedup", "q135_ann_ivfadc",
    "q162_bitext_margin", "q228_incremental_ann", "q169_image_neardup",
    "q178_image_dedup_clusters", "q195_audio_neardup",
    "q198_audio_dedup_clusters", "q222_cluster_sizes", "q143_pagerank",
    "q183_hits", "q219_seed_distance", "q57_dedup_clusters",
    "q175_label_prop", "q238_link_prediction", "q199_video_dedup_clusters",
    "q204_entity_resolution")

  test("cache-using queries leave no DataFrame cache and at most their " +
      "pinned result in the persistent-RDD registry") {
    for (name <- cacheUsers) {
      Pin.releaseAll(spark)
      val before = spark.sparkContext.getPersistentRDDs.size
      SparkEntry.queries(name)(spark, sf0001).count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left DataFrame caches registered after returning")
      val after = spark.sparkContext.getPersistentRDDs.size
      // +2: the pinned (localCheckpoint) result the caller still holds,
      // plus one unpersist-in-flight slack (the q57 CC budget)
      assert(after <= before + 2,
        s"$name stranded ${after - before} persistent RDDs " +
          "(cache()/localCheckpoint without release)")
    }
  }

  test("every src/main file that caches also releases (lexical tripwire)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (p, new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
        .filter { case (_, s) => s.contains(".cache()") || s.contains(".persist(") }
        .filterNot { case (_, s) => s.contains("unpersist") }
        .map(_._1.toString).toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"files cache without any release path: ${offenders.mkString(", ")}")
  }
}
