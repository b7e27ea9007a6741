package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.{DeletionVectors, ReadProbeCache, SwapProtocol}
import graft.merge.PartitionedMerge

/** The per-version read-probe cache (round 8): correctness of the
  * invalidation contract, not just the happy path. The cache's claim is
  * that a (path, pointer-version) key can never serve a stale DV/layout
  * answer because every sidecar or layout mutation advances the pointer
  * — these cases exercise the claim across the mutations that matter. */
class ReadProbeCacheSpec extends SparkSuite {
  import spark.implicits._

  test("a DV-creating DELETE is visible to the very next read (flat)") {
    val dir = tmpDir("probe-flat") + "/t"
    val cat = new Catalog(spark, tmpDir("probe-flat-wh"))
    spark.range(10L).toDF("id").withColumn("v", col("id") * 2)
      .write.parquet(dir)
    // populate the cache at the pre-DV version
    assert(ReadProbeCache.probe(spark, dir).dvDirs.isEmpty)
    assert(rowsOf(DeletionVectors.readPath(spark, dir), "id").size == 10)
    DeletionVectors.enable(spark, dir)
    val n = DeletionVectors.deleteWhere(spark, dir, col("id") < 3)
    assert(n == 3)
    // the commit advanced the pointer AND invalidated in-JVM — the probe
    // must see the sidecar and the read must apply it immediately
    assert(ReadProbeCache.probe(spark, dir).dvDirs.nonEmpty)
    assert(rowsOf(DeletionVectors.readPath(spark, dir), "id")
      .map(_.head) == (3L to 9L))
  }

  test("bucketed DV DML flips the probe; OPTIMIZE folds it back") {
    val dir = tmpDir("probe-bkt") + "/t"
    PartitionedMerge.write(
      (1L to 40L).toDF("k").withColumn("v", col("k") * 10),
      dir, Seq("k"), 4)
    val pr0 = ReadProbeCache.probe(spark, dir)
    assert(pr0.isBucketed && pr0.dvDirs.isEmpty)
    graft.layout.BucketedDml.deleteWhereMor(spark, dir, col("k") <= 5)
    val pr1 = ReadProbeCache.probe(spark, dir)
    assert(pr1.dvDirs.nonEmpty, "merge-on-read delete must surface a " +
      "per-bucket _dv sidecar through the cached probe")
    assert(PartitionedMerge.read(spark, dir).count() == 35)
    // materialize folds the sidecars into rewritten buckets (new version)
    graft.layout.BucketedDml.materialize(spark, dir)
    assert(ReadProbeCache.probe(spark, dir).dvDirs.isEmpty)
    assert(PartitionedMerge.read(spark, dir).count() == 35)
  }

  test("cross-process writers are caught by the version key alone") {
    val dir = tmpDir("probe-xproc") + "/t"
    spark.range(10L).toDF("id").write.parquet(dir)
    assert(ReadProbeCache.probe(spark, dir).dvDirs.isEmpty)
    // simulate another process: plant the sidecar and advance the pointer
    // WITHOUT this JVM's invalidation hooks (raw FS writes)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(("part-00000-fake.parquet", 0L)).toDF("file_name", "row_index")
      .write.parquet(s"$dir/${DeletionVectors.DvDirName}")
    // re-prime the stale answer for the CURRENT version, then move the
    // pointer the way a foreign commit would
    ReadProbeCache.invalidate(dir)
    val vBefore = SwapProtocol.readPointer(fs, dir)
    fs.mkdirs(SwapProtocol.historyDir(dir))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      SwapProtocol.historyDir(dir), "_current"), true)
    try out.write(String.valueOf(vBefore + 1).getBytes("UTF-8"))
    finally out.close()
    val pr = ReadProbeCache.probe(spark, dir)
    assert(pr.dvDirs.nonEmpty,
      "a foreign commit (pointer moved by another process) must re-probe")
  }

  test("same-version recovery by ANOTHER process is caught by the epoch " +
      "key (ADVICE r8: recoverAbortedSwap is the one mutation the version " +
      "key cannot see)") {
    val dir = tmpDir("probe-epoch") + "/t"
    spark.range(10L).toDF("id").write.parquet(dir)
    // prime the cache: no DV sidecar at this version
    assert(ReadProbeCache.probe(spark, dir).dvDirs.isEmpty)
    // simulate the OTHER process's recovery outcome: the rolled-back state
    // re-exposes a _dv sidecar, with NO pointer movement (raw FS writes —
    // none of this JVM's invalidation hooks fire)
    Seq(("part-00000-fake.parquet", 0L)).toDF("file_name", "row_index")
      .write.parquet(s"$dir/${DeletionVectors.DvDirName}")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // without the epoch bump the cached probe is (correctly, per the key
    // design) still served — this is the staleness the epoch exists for
    assert(ReadProbeCache.probe(spark, dir).dvDirs.isEmpty,
      "sanity: version unchanged + epoch unchanged = cached answer")
    // the foreign recovery's epoch bump makes the mutation observable
    fs.mkdirs(SwapProtocol.historyDir(dir))
    SwapProtocol.bumpRecoveryEpoch(fs, dir)
    assert(ReadProbeCache.probe(spark, dir).dvDirs.nonEmpty,
      "an epoch bump by another process must force a re-probe at the " +
        "same pointer version")
  }

  test("a crashed mid-swap bucket heals on READ — no silent partial data") {
    val dir = tmpDir("probe-heal") + "/t"
    PartitionedMerge.write(
      (1L to 40L).toDF("k").withColumn("v", col("k") * 10),
      dir, Seq("k"), 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // warm read: probe cached at (version, epoch)
    assert(PartitionedMerge.read(spark, dir).count() == 40)
    // simulate the crash: one bucket retired into v{cur}, pointer never
    // advanced — version AND epoch are unchanged, so no cache key moves
    val cur = SwapProtocol.readPointer(fs, dir)
    val vdir = SwapProtocol.versionDir(dir, cur)
    fs.mkdirs(vdir)
    val bucket = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("gbucket=")).head
    val lost = spark.read.parquet(bucket.toString).count()
    assert(lost > 0)
    assert(fs.rename(bucket,
      new org.apache.hadoop.fs.Path(vdir, bucket.getName)))
    // a FRESH in-flight state is a live writer's grace window: the read
    // must NOT roll it back (and, listing the live tree, sees fewer rows
    // — the rename-layout's inherent mid-swap listing window)
    assert(PartitionedMerge.read(spark, dir).count() == 40 - lost)
    assert(!fs.exists(bucket),
      "healing must not touch a fresh in-flight transition")
    // age the state past the grace: now it reads as a CRASHED writer and
    // the very next read self-heals, seeing every row again
    fs.setTimes(vdir,
      System.currentTimeMillis() - SwapProtocol.HealGraceMs - 1000, -1)
    assert(PartitionedMerge.read(spark, dir).count() == 40,
      "a read past the crashed-swap grace returned partial data")
    assert(fs.exists(bucket), "healing must restore the live bucket dir")
    assert(SwapProtocol.readRecoveryEpoch(fs, dir).nonEmpty,
      "read-side healing must bump the epoch for other processes")
  }

  test("recoverAbortedSwap bumps the epoch iff it restored a bucket") {
    val dir = tmpDir("probe-recover") + "/t"
    PartitionedMerge.write(
      (1L to 40L).toDF("k").withColumn("v", col("k") * 10),
      dir, Seq("k"), 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SwapProtocol.readRecoveryEpoch(fs, dir) == "",
      "a never-recovered table has no epoch")
    // nothing to restore: no in-flight retire entries → no epoch bump
    SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    assert(SwapProtocol.readRecoveryEpoch(fs, dir) == "")
    // simulate a crash after retire, before stage-in: one live bucket dir
    // moved under v{cur} and never replaced
    val cur = SwapProtocol.readPointer(fs, dir)
    val vdir = SwapProtocol.versionDir(dir, cur)
    fs.mkdirs(vdir)
    val bucket = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("gbucket=")).head
    assert(fs.rename(bucket,
      new org.apache.hadoop.fs.Path(vdir, bucket.getName)))
    SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    val epoch1 = SwapProtocol.readRecoveryEpoch(fs, dir)
    assert(epoch1.nonEmpty, "a restoring recovery must bump the epoch")
    assert(fs.exists(bucket), "the retired bucket must be rolled back")
    assert(PartitionedMerge.read(spark, dir).count() == 40)
    // idempotent re-run restores nothing → epoch unchanged
    SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    assert(SwapProtocol.readRecoveryEpoch(fs, dir) == epoch1)
  }

  test("a stale crashed-bump tmp neither wedges the epoch read nor " +
      "survives the next bump") {
    val dir = tmpDir("probe-staletmp") + "/t"
    Catalog.overwritePath(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a bump that crashed between create(tmp) and rename: the
    // tmp file exists, aged past the reader's staleness gate
    val hist = SwapProtocol.historyDir(dir)
    fs.mkdirs(hist)
    val tmp = new org.apache.hadoop.fs.Path(hist,
      "_recovery_epoch.tmp-dead0000")
    val out = fs.create(tmp, true)
    try out.write("orphan".getBytes("UTF-8")) finally out.close()
    fs.setTimes(tmp, System.currentTimeMillis() - 60000L, -1)
    // the read returns promptly with the real answer ("" — never
    // recovered), NOT an uncacheable "unreadable-" sentinel after the
    // full retry budget
    val t0 = System.nanoTime()
    val epoch = SwapProtocol.readRecoveryEpoch(fs, dir)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(epoch == "", s"stale tmp wedged the epoch read: got '$epoch'")
    assert(ms < 150, f"epoch read spun the retry budget ($ms%.0f ms)")
    // a real bump succeeds and sweeps the orphan
    SwapProtocol.bumpRecoveryEpoch(fs, dir)
    assert(SwapProtocol.readRecoveryEpoch(fs, dir).nonEmpty)
    assert(!fs.exists(tmp), "crashed-bump orphan must be reclaimed")
  }
}
