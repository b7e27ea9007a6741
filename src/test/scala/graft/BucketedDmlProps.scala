package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.Catalog
import graft.layout.{BucketedDml, DeletionVectors}
import graft.merge.PartitionedMerge
import graft.layout.SwapProtocol

/** [[DvProps]]' model-based lifecycle fuzz for the BUCKETED layout:
  * random sequences of merge-on-read DELETE/UPDATE, copy-on-write
  * DELETE/UPDATE, bucket-routed INSERT, key-moving UPDATE, prunedMerge
  * upsert, REORG PURGE, compaction, z-order and RESTORE run against a
  * bucket-partitioned table while a Scala map-model tracks expected
  * content. The live read must equal the model after EVERY op and every
  * retained version must reconstruct exactly. This is where per-bucket
  * sidecar interplay bugs live: a CoW rewrite folding one bucket's
  * sidecar while a sibling keeps its own, an insert linking into a
  * DV-carrying bucket, a restore across a bucket-moving update. */
class BucketedDmlProps extends SparkSuite {
  import spark.implicits._

  private val keys = Seq("id")
  private val nBuckets = 4

  private def rowsGen(lo: Long, hi: Long): Gen[Map[Long, Long]] =
    Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.chooseNum(lo, hi)
      v <- Gen.chooseNum(-9L, 9L)
    } yield (k, v)).map(_.toMap))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("random bucketed DML sequences: live state tracks the model, versions reconstruct") {
    (1 to 3).foreach { c =>
      val dir = tmpDir(s"graft-bdprops$c") + "/dim"
      def df(m: Map[Long, Long]) =
        if (m.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id", "v")
        else m.toSeq.toDF("id", "v")
      def live(): Map[Long, Long] =
        PartitionedMerge.read(spark, dir).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
      var state = sample(rowsGen(1, 30), c * 11L)
      PartitionedMerge.write(df(state), dir, keys, nBuckets)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var recorded = Map(SwapProtocol.readPointer(fs, dir) -> state)
      var movedOnce = false

      val ops = sample(Gen.listOfN(12, Gen.chooseNum(0, 9)), c * 99L)
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case 0 => // merge-on-read DELETE
            val m = 2 + (i % 3)
            BucketedDml.deleteWhereMor(spark, dir, col("id") % m === 0)
            state = state.filterNot { case (k, _) => k % m == 0 }
          case 1 => // merge-on-read UPDATE (attribute only)
            val m = 2 + ((i + 1) % 3)
            BucketedDml.updateWhereMor(spark, dir, col("id") % m === 0,
              Seq("v" -> (col("v") + 100L)))
            state = state.map { case (k, v) =>
              if (k % m == 0) k -> (v + 100L) else k -> v }
          case 2 => // copy-on-write DELETE (per-bucket rewrite)
            val m = 2 + (i % 3)
            BucketedDml.deleteWhereCow(spark, dir, col("id") % m === 1)
            state = state.filterNot { case (k, _) => k % m == 1 }
          case 3 => // copy-on-write UPDATE
            val m = 2 + ((i + 2) % 3)
            BucketedDml.updateWhereCow(spark, dir, col("id") % m === 1,
              Seq("v" -> (col("v") - 7L)))
            state = state.map { case (k, v) =>
              if (k % m == 1) k -> (v - 7L) else k -> v }
          case 4 => // INSERT fresh ids through the bucket-routing append
            val add = sample(rowsGen(1000L + i * 10, 1000L + i * 10 + 6),
              c * 21L + i)
            val fresh = add -- state.keySet
            if (fresh.nonEmpty) {
              Catalog.appendPath(spark, df(fresh), dir)
              state = state ++ fresh
            }
          case 5 => // REORG PURGE: fold per-bucket sidecars
            DeletionVectors.materialize(spark, dir)
          case 6 => // compaction (layout only, folds touched sidecars)
            PartitionedMerge.compact(spark, dir, targetFileSize = 1L << 20)
          case 7 => // RESTORE to a random recorded version
            val (v, content) = recorded.toSeq(
              sample(Gen.chooseNum(0, recorded.size - 1), c * 31L + i))
            Catalog.restorePath(spark, dir, v)
            state = content
          case 8 => // key-moving merge-on-read UPDATE (once per case:
            // keys land in [500000, ...), disjoint from inserts)
            if (!movedOnce && state.keys.exists(_ % 5 == 2)) {
              movedOnce = true
              BucketedDml.updateWhereMor(spark, dir,
                col("id") % 5 === 2 && col("id") < 500000L,
                Seq("id" -> (col("id") + 500000L)))
              state = state.map { case (k, v) =>
                if (k % 5 == 2 && k < 500000L) (k + 500000L) -> v
                else k -> v }
            }
          case 9 => // prunedMerge upsert (the layout's native writer)
            val src = sample(rowsGen(1, 40), c * 41L + i)
            if (src.nonEmpty) {
              PartitionedMerge.prunedMerge(spark, dir, df(src)) {
                (pruned, s) =>
                pruned.join(s.select("id"), Seq("id"), "left_anti")
                  .unionByName(s)
              }
              state = state ++ src
            }
        }
        assert(live() == state,
          s"case $c op $i (#$op): live state diverged from the model " +
            s"(hasDv=${DeletionVectors.hasDv(spark, dir)})")
        recorded += SwapProtocol.readPointer(fs, dir) -> state
      }
      // every retained version reconstructs, DV-applied per version
      val cur = SwapProtocol.readPointer(fs, dir)
      recorded.filter(_._1 > cur - 10).foreach { case (v, expect) =>
        val got = PartitionedMerge.readVersion(spark, dir, v).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
        assert(got == expect,
          s"case $c: bucketed VERSION AS OF $v diverged from the model")
      }
      // z-order rewrite preserves content and the model keeps tracking
      PartitionedMerge.zorderCompact(spark, dir, Seq("v"), 1L << 20)
      assert(live() == state, s"case $c: zorderCompact changed live state")
    }
  }
}
