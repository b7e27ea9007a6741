package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.pipeline.PipelineEpoch

/** q251's cross-modal takedown APPLY (VERDICT r13 #6): the flagged
  * docs' rows leave the corpus table AND every media table, and the
  * flip is atomic for epoch-resolved readers — epoch 1 still serves
  * every modality of every doc, the post-apply epoch serves NO modality
  * of any flagged doc. Also pins the set-membership delete
  * ([[graft.layout.DeletionVectors.deleteKeys]]): merge-on-read, so the
  * staged data files are untouched and only sidecars grew. */
class TakedownApplySpec extends SparkSuite {

  test("takedown apply removes every modality atomically behind one " +
      "pipeline epoch") {
    val cat = Multimodal.stageTakedownTables(spark, sf0001)
    val storeRoot = Multimodal.modalityClusterRoot(spark, sf0001)
    val flagged = Multimodal.takedownVerdicts(spark, storeRoot)
      .filter(col("verdict") =!= "retained")
      .select("doc_id").localCheckpoint()
    val nFlagged = flagged.count()
    assert(nFlagged > 0, "fixture has no flagged docs — spec is vacuous")
    val nDocs = Tables.load(spark, sf0001, "documents").count()

    val ep = Multimodal.takedownApplyInto(spark, storeRoot, cat)
    assert(ep === 2)
    for (t <- Multimodal.TakedownTables) {
      // pre-takedown epoch: every doc's rows still visible
      val pre = PipelineEpoch.readAt(spark, cat, Multimodal.TakedownPipe,
        t, 1)
      assert(pre.join(flagged, Seq("doc_id"), "left_semi").count() ===
        (if (t == "bronze.video") 6 * nFlagged else nFlagged),
        s"$t@epoch1 lost pre-takedown rows")
      // post-takedown epoch: no modality of any flagged doc survives
      val post = PipelineEpoch.readAt(spark, cat, Multimodal.TakedownPipe,
        t, ep)
      assert(post.join(flagged, Seq("doc_id"), "left_semi").count() === 0L,
        s"$t@epoch$ep still serves a removed doc's rows")
      assert(post.count() ===
        (if (t == "bronze.video") 6 * (nDocs - nFlagged)
        else nDocs - nFlagged))
    }
  }

  test("a failed takedown delete surfaces only after the sibling deletes " +
      "have committed, and no epoch is stamped") {
    val cat = Multimodal.stageTakedownTables(spark, sf0001)
    val storeRoot = Multimodal.modalityClusterRoot(spark, sf0001)
    def dirOf(t: String): String = {
      val Array(layer, tbl) = t.split('.')
      cat.path(layer, tbl)
    }
    def version(t: String): Int = graft.catalog.Catalog
      .historyRows(spark, dirOf(t)).filter(_._2).map(_._1).head
    val broken = "bronze.audio"
    val others = Multimodal.TakedownTables.filterNot(_ == broken)
    val before = others.map(t => t -> version(t)).toMap
    // a missing table directory fails its delete before any Spark job,
    // while the sibling deletes are still running theirs
    val gone = new org.apache.hadoop.fs.Path(dirOf(broken))
    gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gone, true)
    val err = intercept[IllegalArgumentException](
      Multimodal.takedownApplyInto(spark, storeRoot, cat))
    assert(err.getMessage.contains("no table at"), err.getMessage)
    for (t <- others)
      assert(version(t) === before(t) + 1,
        s"$t had not committed its delete when the failure surfaced")
    assert(PipelineEpoch.currentEpoch(spark, cat, Multimodal.TakedownPipe)
      === 1, "an epoch was stamped over a failed takedown")
  }
}
