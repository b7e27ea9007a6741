package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin
import graft.catalog.Catalog
import graft.layout.DeletionVectors

/** One modality's near-dup clustering, factored into the two pieces a
  * PERSISTED, incrementally-maintained cluster store needs:
  *
  *   - `sigsOf`: raw documents slice → per-doc signature rows — the
  *     expensive step (tokenize/shingle for text; PNG/WAV decode +
  *     perceptual hash for media). At ingest it runs over the BATCH
  *     only, never the corpus.
  *   - `pairsOf(probe, index)`: verified near-dup edges TOUCHING the
  *     probe side. `index` always INCLUDES the probe's rows and carries
  *     `is_new` = true exactly on them; every implementation gates on
  *     `new < new OR old` so a new↔new pair is emitted once (ordered)
  *     and a new↔old pair once — over probe = index = all the output is
  *     EXACTLY the full self-join's pair set, which is what makes an
  *     incrementally-built pair table equal a from-scratch one
  *     (ClusterStoreSpec pins the equality per modality).
  *
  * Both halves return frames keyed `doc_id` / (`doc_a`, `doc_b`), so
  * the store itself is modality-agnostic — the same shape that lets the
  * pointer-doubled CC consume shingle, dHash, audio-fingerprint, and
  * shared-frame edges interchangeably (ref notebooks express only the
  * text case; the factoring is ours).
  */
final case class ModalityClusterSpec(
    name: String,
    recipe: String,
    sigsOf: DataFrame => DataFrame,
    pairsOf: (DataFrame, DataFrame) => DataFrame)

/** A persisted near-dup CLUSTER store over the versioned snapshot
  * layer — the steady-state shape takedown/dedup obligations run
  * against at 100 TB (VERDICT r13 #1). Three tables per modality under
  * `root/<name>/`:
  *
  *   - `sigs`     — per-doc signatures (the decoded state; O(corpus),
  *                  appended per ingest batch)
  *   - `pairs`    — verified near-dup edges (slim id pairs; appended
  *                  per batch from the batch×index probe)
  *   - `clusters` — (doc_id, cluster_id, is_kept), rebuilt from the
  *                  persisted edge list after each maintenance op
  *
  * Cost shape per ingest batch: one decode pass over the BATCH, one
  * banded/blocked equi-join of the batch's signatures against the
  * signature index (the q225 band-index discipline extended from text
  * to every modality), and a connected-components pass over the
  * PERSISTED edge list — O(edges), which is radically smaller than the
  * media it indexes; the corpus-proportional decode never re-runs.
  * Deletes (takedown, licensing) drop the doc's signature rows and
  * incident edges through the merge-on-read DML layer and re-fold the
  * remaining edges — pairs in every modality depend only on their two
  * endpoints' own signatures, so delete-then-refold EXACTLY equals a
  * from-scratch rebuild over the live docs (the same argument as
  * [[Dedup.bandIndexCompact]], proven per modality by
  * ClusterStoreSpec).
  *
  * Maintenance ops recluster eagerly, so `clusters` is always
  * consistent with `sigs`/`pairs` once an op returns. The two appends
  * inside [[append]] are separate single-table commits (a crash between
  * them leaves the batch's pairs without its signatures until the next
  * successful op); runs that need cross-table atomicity for READERS
  * stamp a [[graft.pipeline.PipelineEpoch]] over the three tables after
  * the op, as q251's takedown apply does over its four corpus tables.
  */
final class ClusterStore(spark: SparkSession, root: String,
    spec: ModalityClusterSpec) {

  val sigsDir: String = s"$root/${spec.name}/sigs"
  val pairsDir: String = s"$root/${spec.name}/pairs"
  val clustersDir: String = s"$root/${spec.name}/clusters"

  private val recipeTag = Some("cluster.recipe" -> spec.recipe)

  private def readSigs: DataFrame = DeletionVectors.readPath(spark, sigsDir)
  private def readPairs: DataFrame =
    DeletionVectors.readPath(spark, pairsDir)

  /** The persisted cluster table: (doc_id, cluster_id, is_kept). */
  def clusters: DataFrame = DeletionVectors.readPath(spark, clustersDir)

  /** The docs' signatures, pinned so they decode exactly once. A sigsOf
    * may pin frames of its OWN (videoSigsOf checkpoints its decoded
    * frame-hash table); the outer checkpoint replaced the plan, so those
    * pins are released here. Every op releases its pins in `finally`:
    * a failed op must not strand blocks for the driver's lifetime. */
  private def pinnedSigs(docs: DataFrame): DataFrame = {
    val raw = spec.sigsOf(docs)
    try raw.localCheckpoint() finally Pin.release(raw)
  }

  /** Initial build over a corpus slice: decode once, full self-pairing
    * (probe = index, every row new), fold, persist all three tables. */
  def build(docs: DataFrame): Unit = {
    val sigs = pinnedSigs(docs)
    try {
      Catalog.overwritePath(spark, sigs, sigsDir, commitTag = recipeTag)
      Catalog.overwritePath(spark,
        spec.pairsOf(sigs, sigs.withColumn("is_new", lit(true))), pairsDir,
        commitTag = recipeTag)
      recluster()
    } finally Pin.release(sigs)
  }

  /** TEST SEAM (ClusterStoreSpec's crash-replay case): invoked between
    * the sigs append and the pairs append — the window a micro-batch
    * crash leaves the batch's signatures committed without its edges.
    * Production value is a no-op. */
  private[graft] var onSigsAppended: () => Unit = () => ()

  /** Ingest one batch: decode the BATCH, probe its signatures against
    * the persisted index (old rows flagged `is_new` = false, so each
    * new↔old edge is found once), append signatures + edges, refold.
    *
    * `batchTag` ((tagKey, batchId) from a streaming drain) makes the op
    * EXACTLY-ONCE under micro-batch replay — the decontam guard's
    * commit-tag contract: each table append is skipped when the batch's
    * id is already stamped on that table, so a crash between the two
    * appends replays into "sigs skip, pairs land". The probe index is
    * built from the persisted sigs MINUS the batch's own doc ids: on
    * that replay the batch's rows are ALREADY in the sigs table, and
    * probing them as `is_new` = false rows would emit self-pairs (the
    * gate admits l = r when r is old) and the batch's pairs twice. The
    * anti-join is one broadcast of the batch's ids (map-side filter,
    * O(batch)) and a semantic no-op on the clean path. */
  def append(docs: DataFrame,
      batchTag: Option[(String, Long)] = None): Unit = {
    def alreadyOn(dir: String): Boolean = batchTag.exists { case (k, id) =>
      Catalog.lastCommitTag(spark, dir, k).exists(_.toLong >= id)
    }
    if (alreadyOn(sigsDir) && alreadyOn(pairsDir)) {
      // fully-landed replay: only the refold (idempotent overwrite)
      // might have been lost to the crash
      recluster(); return
    }
    val newSigs = pinnedSigs(docs)
    try {
      val index = readSigs
        .join(newSigs.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
        .withColumn("is_new", lit(false))
        .unionByName(newSigs.withColumn("is_new", lit(true)))
      // pin the batch's edges BEFORE the sig append: `index` reads the
      // sigs table lazily, and appending first would double the batch
      val newPairs = spec.pairsOf(newSigs, index).localCheckpoint()
      try {
        val tag = batchTag.map { case (k, id) => (k, id.toString) }
        if (!alreadyOn(sigsDir))
          Catalog.appendPath(spark, newSigs, sigsDir,
            commitTag = tag.orElse(recipeTag))
        onSigsAppended()
        if (!alreadyOn(pairsDir))
          Catalog.appendPath(spark, newPairs, pairsDir,
            commitTag = tag.orElse(recipeTag))
        // COST-BASED refold choice (r15): the incremental merge-fold
        // wins when the batch's edge set is small next to the persisted
        // pairs — the steady state at scale. A bootstrap-sized batch
        // (pairs comparable to the whole table) degenerates to a
        // super-graph the size of the full fold plus remap overhead, so
        // it takes the full recluster instead. Both counts are cheap:
        // newPairs is pinned, the pairs table is a metadata-scale count.
        // Ratio conf-tunable (graft.cluster.incrementalRefoldMaxRatio,
        // default 0.25).
        val nNew = newPairs.count()
        val nAll = math.max(1L, readPairs.count())
        val maxRatio = spark.conf
          .get("graft.cluster.incrementalRefoldMaxRatio", "0.25").toDouble
        if (nNew <= nAll * maxRatio) reclusterAppend(newSigs, newPairs)
        else recluster()
      } finally Pin.release(newPairs)
    } finally Pin.release(newSigs)
  }

  /** Incremental refold after an APPEND (r15, VERDICT r14 #7): an
    * append only ADDS edges, and a new edge can only MERGE components —
    * so instead of re-folding the FULL persisted edge set (O(edges ×
    * log diameter) per batch), fold the batch's pairs in CLUSTER space.
    * Each live doc's current label (old cluster id; batch docs enter as
    * singletons labeled by their own id) maps a batch pair to a
    * super-node edge between two labels; connected components over just
    * the TOUCHED labels + those O(batch) edges yields, per touched old
    * label, the merged component's min label — which equals the
    * from-scratch min-doc_id label because every old label IS the min
    * doc id of its old component. Untouched components keep their label
    * verbatim. The O(corpus) work left in the op is the one label remap
    * join + the clusters-table rewrite itself; the CC loop runs over
    * O(batch) rows. Exactness is the same argument as delete-then-
    * refold == rebuild, run in the merge direction; ClusterStoreSpec's
    * incremental == rebuilt pins hold unchanged.
    *
    * Preconditions: `clusters` is consistent with the PRE-batch
    * sigs/pairs (every maintenance op leaves it so), and the batch's
    * pair endpoints all carry signature rows (sigsOf emits one row per
    * doc; pairsOf only pairs signature rows). The crash-replay path
    * where both appends already landed but the refold may have been
    * lost falls back to the full [[recluster]] (see [[append]]). */
  private def reclusterAppend(newSigs: DataFrame,
      newPairs: DataFrame): Unit = {
    val m = clusters.select(col("doc_id"), col("cluster_id"))
      .unionByName(newSigs
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
    // every join here keeps the O(corpus) label map on the PROBE side
    // and broadcasts the O(batch) side explicitly (guide §8 "attach the
    // plan without the join sneaking the shuffle back in"): the pinned
    // batch frames carry no size statistics, so left to the planner
    // these were sort-merge joins SHUFFLING the corpus-sized label map
    // per refold.
    val e1 = m.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("ca"))
      .join(broadcast(newPairs.select("doc_a", "doc_b")), Seq("doc_a"))
      .select(col("ca"), col("doc_b"))
      .localCheckpoint()
    val superEdges =
      try m.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb"))
        .join(broadcast(e1), Seq("doc_b"))
        .filter(col("ca") =!= col("cb"))
        .select(col("ca").as("doc_a"), col("cb").as("doc_b"))
        .localCheckpoint()
      finally Pin.release(e1)
    try {
      val touched = superEdges.select(col("doc_a").as("doc_id"))
        .unionByName(superEdges.select(col("doc_b").as("doc_id")))
        .distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
      val superL = Dedup.connectedComponents(touched, superEdges)
        .select(col("doc_id").as("__old_label"),
          col("cluster_id").as("__new_label"))
      try {
        val next = m.join(broadcast(superL),
            m("cluster_id") === col("__old_label"), "left")
          .select(m("doc_id"),
            coalesce(col("__new_label"), m("cluster_id")).as("cluster_id"))
        Catalog.overwritePath(spark,
          next.withColumn("is_kept",
            (col("doc_id") === col("cluster_id")).cast("int")),
          clustersDir, commitTag = recipeTag)
      } finally Pin.release(superL)
    } finally Pin.release(superEdges)
  }

  /** Drain a stream of document batches into this store — the INGEST
    * side of maintained cluster state (VERDICT r13 #1's steady-state
    * shape closed end to end: clusters are maintained AT ingest, and
    * takedown/dedup obligations probe them). Exactly-once composition:
    * the applied-batch marker skips fully-applied batches on restart,
    * and [[append]]'s per-table commit tags + replay-safe probe index
    * make a partially-applied batch converge to exactly its clean
    * result — the same two-marker contract the decontam guard and the
    * streaming table sink document. Each drained batch leaves
    * `clusters` consistent with the corpus seen so far. */
  def maintainStream(changes: DataFrame, checkpoint: String): Unit = {
    import graft.streaming.Streams
    val tagKey = Streams.commitTagKey(checkpoint)
    val q = changes.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (batchId > Streams.lastAppliedBatch(s, checkpoint)) {
          append(batch, Some((tagKey, batchId)))
          Streams.recordAppliedBatch(s, checkpoint, batchId)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Takedown/licensing delete: drop matching docs' signature rows and
    * every incident edge (merge-on-read — O(deleted) sidecar growth,
    * no rewrite), refold the survivors. `docPred` is applied to the
    * doc-id column of each state table, so callers express membership
    * once (`c => c % 7 === 3`). */
  def delete(docPred: Column => Column): Unit = {
    DeletionVectors.deleteWhere(spark, sigsDir, docPred(col("doc_id")))
    DeletionVectors.deleteWhere(spark, pairsDir,
      docPred(col("doc_a")) || docPred(col("doc_b")))
    recluster()
  }

  /** Refold the persisted edge list into the clusters table. O(edges ×
    * log diameter) — never touches raw media; the labels come from the
    * live signature rows, so deleted docs drop out and singletons keep
    * themselves. */
  def recluster(): Unit = {
    val labels0 = readSigs.select("doc_id").distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val cc = Dedup.connectedComponents(labels0,
      readPairs.select("doc_a", "doc_b"))
    try Catalog.overwritePath(spark,
      cc.withColumn("is_kept",
        (col("doc_id") === col("cluster_id")).cast("int")),
      clustersDir, commitTag = recipeTag)
    finally Pin.release(cc)
  }
}

object ClusterStore {

  /** The four modality clusterings as store specs. Each `sigsOf` /
    * `pairsOf` delegates to the SAME code the audited one-shot queries
    * run (q57 text, q178 image, q198 audio, q199 video), so a store
    * built over the full corpus holds exactly those queries' clusters —
    * ClusterStoreSpec asserts that equality, and q249's probe depends
    * on it. */
  def modalitySpecs: Seq[ModalityClusterSpec] = Seq(
    ModalityClusterSpec(
      "text",
      "ngram-jaccard shingle=3 block=lang,len100 jaccard>=0.2",
      docs => Dedup.textSigsOf(docs),
      (p, i) => Dedup.ngramJaccardPairsOf(p, i).select("doc_a", "doc_b")),
    ModalityClusterSpec(
      "image",
      "dhash bands=4x14 maxHamming=6",
      docs => graft.multimodal.Multimodal.imageSigsOf(docs)
        .withColumnRenamed("asset_id", "doc_id"),
      (p, i) => graft.multimodal.Multimodal.imagePairsOf(
        p.withColumnRenamed("doc_id", "asset_id"),
        i.withColumnRenamed("doc_id", "asset_id"), maxHamming = 6)
        .select(col("id1").as("doc_a"), col("id2").as("doc_b"))),
    ModalityClusterSpec(
      "audio",
      "audiofp bands=4x14 maxHamming=3",
      docs => graft.multimodal.Audio.audioSigsOf(docs)
        .withColumnRenamed("asset_id", "doc_id"),
      (p, i) => graft.multimodal.Audio.audioPairsOf(
        p.withColumnRenamed("doc_id", "asset_id"),
        i.withColumnRenamed("doc_id", "asset_id"), maxHamming = 3)
        .select(col("id1").as("doc_a"), col("id2").as("doc_b"))),
    ModalityClusterSpec(
      "video",
      "framehash shared>=3",
      docs => graft.multimodal.Multimodal.videoSigsOf(docs)
        .withColumnRenamed("video", "doc_id"),
      (p, i) => graft.multimodal.Multimodal.videoPairsOf(
        p.withColumnRenamed("doc_id", "video"),
        i.withColumnRenamed("doc_id", "video"), minShared = 3)
        .select(col("vid_a").as("doc_a"), col("vid_b").as("doc_b"))))

  /** q252: STREAMING maintenance of the persisted text cluster store —
    * the ingest path that keeps q249/q251's maintained state true at a
    * warehouse that never stops ingesting. The corpus arrives as a
    * bootstrap slice plus a file-per-micro-batch stream: the store is
    * built over the bootstrap, then [[ClusterStore.maintainStream]]
    * drains the remaining files under `Trigger.AvailableNow` with the
    * exactly-once two-marker contract, each batch decoding only itself,
    * probing the persisted signature index, and refolding the persisted
    * edges. The final `clusters` table equals the from-scratch
    * clustering of the full corpus (incremental == rebuilt —
    * ClusterStoreSpec), so the oracle is q57's recursive-CTE clustering
    * verbatim, which makes the whole streamed composition
    * hash-checked, not just spec-asserted.
    *
    * Bench shape: chunk staging is memoized per corpus dir and
    * phase-stamped as setup, as is the bootstrap build; the PRICED
    * probe is the streamed maintenance drain itself — one micro-batch,
    * i.e. one per-batch maintenance cycle, the steady-state unit cost
    * (a fresh store + checkpoint per invocation — a memoized store
    * would price a no-op drain, hiding the maintenance cost the query
    * exists to measure). */
  def streamTextClusterQuery(spark: SparkSession, dir: String)
      : DataFrame = {
    val qn = "q252_stream_cluster_maintenance"
    val staged = graft.BenchPhases.setup(qn)(docChunksOf(spark, dir))
    val root = graft.BenchPhases.setup(qn) {
      val r = graft.TempRoots.create("graft-stream-cluster")
      storeOf(spark, r, "text")
        .build(spark.read.parquet(s"$staged/base"))
      r
    }
    val store = storeOf(spark, root, "text")
    val schema = graft.Tables.load(spark, dir, "documents").schema
    store.maintainStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$staged/stream"),
      s"$root/_checkpoint")
    store.clusters.orderBy("doc_id")
  }

  /** Staged corpus for [[streamTextClusterQuery]], memoized per corpus
    * dir: `base/` holds the bootstrap two thirds of the documents
    * table, `stream/` one single-file chunk the drain consumes as one
    * micro-batch — so the PRICED probe is exactly ONE per-batch
    * maintenance cycle (decode the batch, probe the index, two
    * appends, one refold), the steady-state number an operator
    * budgets; multi-batch sequencing and crash-replay are pinned by
    * ClusterStoreSpec, and the oracle equality is batch-count
    * independent (incremental == rebuilt), so one batch loses no
    * checking power. Deterministic doc_id % 3 slicing. */
  private val stagedChunks =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  private def docChunksOf(spark: SparkSession, dir: String): String =
    stagedChunks.computeIfAbsent(dir, _ => {
      lazy val built: String = {
        val out = graft.TempRoots.create("graft-stream-src")
        val docs = graft.Tables.load(spark, dir, "documents")
        docs.filter(col("doc_id") % 3 =!= 2)
          .write.mode("overwrite").parquet(s"$out/base")
        docs.filter(col("doc_id") % 3 === 2).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/stream")
        out
      }
      () => built
    })()

  def storeOf(spark: SparkSession, root: String,
      modality: String): ClusterStore = {
    val spec = modalitySpecs.find(_.name == modality).getOrElse(
      throw new IllegalArgumentException(s"unknown modality $modality"))
    new ClusterStore(spark, root, spec)
  }

  /** Build all four modality stores over `dir`'s documents table,
    * concurrently: the pipelines are independent subgraphs, and running
    * them back-to-back would serialize four decode passes that share no
    * data. Each runs under its OWN named job group with
    * interruptOnCancel, so one modality failing cancels the other
    * three's in-flight multi-round CC jobs before the rethrow instead
    * of letting them burn cluster capacity behind it (ADVICE r13). */
  def buildAll(spark: SparkSession, dir: String, root: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val specs = modalitySpecs
    val sc = spark.sparkContext
    def groupOf(name: String) = s"graft-clusterstore-$name"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      specs.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = specs.map { s =>
      Future {
        sc.setJobGroup(groupOf(s.name),
          s"build ${s.name} near-dup cluster store",
          interruptOnCancel = true)
        try new ClusterStore(spark, root, s)
          .build(graft.Tables.load(spark, dir, "documents"))
        finally sc.clearJobGroup()
      }
    }
    try Await.result(Future.sequence(futures), Duration.Inf)
    catch {
      case e: Throwable =>
        specs.foreach(s => sc.cancelJobGroup(groupOf(s.name)))
        pool.shutdownNow()
        throw e
    } finally pool.shutdown()
  }
}
