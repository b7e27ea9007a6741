package graft

import org.apache.spark.sql.functions._

import graft.merge.PartitionedMerge

/** Pins the rationale behind the tree's one remaining bucketed-layout
  * guard (`Catalog.compactWherePath`, VERDICT r7 #5): `OPTIMIZE … WHERE`
  * scopes a rewrite to a REGION of the table, and on a bucket-partitioned
  * layout that job is already done better by per-bucket OPTIMIZE — the
  * bin-packing plan inspects every bucket's file count and rewrites ONLY
  * the fragmented ones, leaving well-packed buckets' files untouched (the
  * same inodes, not re-written copies). A WHERE clause could only narrow
  * that to a subset of the already-minimal rewrite set by guessing bucket
  * numbers from a predicate — which hash bucketing makes meaningless for
  * anything but the hash keys themselves, and those route to buckets, not
  * ranges. So the guard refuses loudly instead of simulating a narrower
  * rewrite that cannot exist; this spec proves the subsumption claim the
  * message makes.
  */
class BucketedOptimizeGuardSpec extends SparkSuite {
  import spark.implicits._

  test("OPTIMIZE WHERE on a bucketed layout refuses with the per-bucket " +
      "rationale; per-bucket OPTIMIZE rewrites only fragmented buckets") {
    val dir = tmpDir("graft-bopt") + "/t"
    // engineer per-bucket fragmentation: find a key that lands alone in
    // its bucket, keep every other key spread over many write tasks
    val keys = (1L to 60L)
    val bucketOf = spark.range(1L, 61L).toDF("k")
      .withColumn("b", PartitionedMerge.bucketExpr(Seq("k"), 4))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val loneBucket = bucketOf.groupBy(_._2).view.mapValues(_.size)
      .toSeq.minBy(_._2)._1
    val loneKeys = bucketOf.collect {
      case (k, b) if b == loneBucket => k }.toSet
    // the lone bucket's rows arrive in ONE task (1 file — already
    // packed); everything else is scattered across 6 tasks (fragmented)
    val lone = keys.filter(loneKeys).toDF("k")
      .withColumn("v", col("k") * 10).coalesce(1)
    val rest = keys.filterNot(loneKeys).toDF("k")
      .withColumn("v", col("k") * 10).repartition(6)
    PartitionedMerge.write(lone.unionByName(rest), dir, Seq("k"), 4)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(b: Int): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$dir/${PartitionedMerge.BucketCol}=$b"))
        .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
    val before = (0 until 4).map(b => b -> filesOf(b)).toMap
    assert(before(loneBucket).size == 1, "lone bucket must start packed")
    assert(before.exists(_._2.size > 1), "need at least one fragmented bucket")

    // 1. the guard: OPTIMIZE ... WHERE refuses with the documented message
    val e = intercept[IllegalArgumentException] {
      graft.catalog.Catalog.compactWherePath(spark, dir, "k < 10")
    }
    assert(e.getMessage.contains("bucketed layouts compact per bucket"),
      s"guard message changed: ${e.getMessage}")

    // 2. the subsumption: per-bucket OPTIMIZE touches ONLY fragmented
    // buckets — the scoped rewrite WHERE would ask for already happens
    val contentBefore = rowsOf(PartitionedMerge.read(spark, dir), "k")
    val touched = PartitionedMerge.compact(spark, dir,
      targetFileSize = 1L << 30)
    val after = (0 until 4).map(b => b -> filesOf(b)).toMap
    assert(!touched.contains(loneBucket),
      "a packed bucket was rewritten — per-bucket OPTIMIZE lost its scope")
    assert(after(loneBucket) == before(loneBucket),
      "the packed bucket's files must survive by identity (hard links, " +
        "not rewritten copies)")
    touched.foreach { b =>
      assert(after(b).size == 1, s"bucket $b not packed: ${after(b)}")
    }
    // contents unchanged; compaction is pure layout
    assert(rowsOf(PartitionedMerge.read(spark, dir), "k") == contentBefore)
    // and it is a real version: history gained an entry
    val v = graft.layout.SwapProtocol.readPointer(fs, dir)
    assert(v == 2, s"per-bucket OPTIMIZE must commit one version, at $v")
  }
}
