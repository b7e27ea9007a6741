package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.Catalog
import graft.layout.SwapProtocol
import graft.merge.PartitionedMerge

/** Crash-point fuzz for the bucket-swap recovery protocol: a writer can
  * die after retiring ANY subset of its touched buckets (each retire is
  * an independent rename), and from every such state the table must come
  * back whole — via the read-side heal (once the in-flight entry ages
  * past the grace) AND via the writer-side recovery the next merge runs.
  * The existing specs pin one crash point; this fuzzes the whole lattice
  * of (bucket count, crashed subset), including the "all buckets
  * retired" and "one bucket retired" extremes, and asserts the recovery
  * epoch only moves when something was actually restored. */
class CrashHealProps extends SparkSuite {
  import spark.implicits._

  private val gen = for {
    nBuckets <- Gen.choose(2, 6)
    rows <- Gen.choose(20, 60)
    // which of the table's bucket DIRS the dying writer retired (it may
    // plan to touch all of them; crash order is arbitrary)
    crashMask <- Gen.nonEmptyListOf(Gen.choose(0, nBuckets - 1)).map(_.toSet)
  } yield (nBuckets, rows, crashMask)

  test("every crashed-swap state heals on read and recovers on write") {
    val seed0 = Seed(0xC4A5_11E5L)
    var seed = seed0
    (1 to 8).foreach { round =>
      val (nBuckets, rows, crashMask) =
        gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val dir = tmpDir(s"crash-heal-$round") + "/t"
      PartitionedMerge.write(
        (1L to rows.toLong).toDF("k").withColumn("v", col("k") * 7),
        dir, Seq("k"), nBuckets)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = SwapProtocol.readPointer(fs, dir)
      val vdir = SwapProtocol.versionDir(dir, cur)
      fs.mkdirs(vdir)
      // simulate the crash: retire the masked buckets (those that exist —
      // sparse tables may not populate every bucket)
      val live = PartitionedMerge.liveBucketDirs(fs, dir)
        .filter(p => crashMask.contains(
          p.getName.stripPrefix("gbucket=").toInt))
      if (live.isEmpty) { assert(true) } else {
        live.foreach { b =>
          assert(fs.rename(b, new org.apache.hadoop.fs.Path(vdir, b.getName)))
        }
        val epochBefore = SwapProtocol.readRecoveryEpoch(fs, dir)
        // age past the grace so reads classify it as crashed, not live
        fs.setTimes(vdir,
          System.currentTimeMillis() - SwapProtocol.HealGraceMs - 1000,
          -1)
        // read-side heal: the very next read sees every row
        assert(PartitionedMerge.read(spark, dir).count() == rows,
          s"round $round: read lost rows after crash of ${live.size}/" +
            s"$nBuckets buckets")
        assert(SwapProtocol.readRecoveryEpoch(fs, dir) != epochBefore,
          s"round $round: a restoring heal must move the epoch")
        assert(SwapProtocol.readPointer(fs, dir) == cur,
          s"round $round: healing must not advance the version")
        // and the table still writes normally afterwards (the writer-side
        // recovery path tolerates the healed state)
        graft.layout.BucketedDml.insertInto(spark,
          Seq((rows + 1L, 999L)).toDF("k", "v"), dir)
        val after = PartitionedMerge.read(spark, dir)
        assert(after.count() == rows + 1)
        assert(after.filter(col("k") === rows + 1L).select("v")
          .head.getLong(0) == 999L)
      }
    }
  }
}
