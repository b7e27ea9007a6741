package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.layout.{BucketedDml, DeletionVectors, SwapProtocol}
import graft.merge.PartitionedMerge
import graft.pipeline.{GoldLoad, PipelineEpoch}

/** The commit protocol under crashes and races. The first cases pin the
  * flat-table holes one shared step sequence closes: a lost update
  * between two writers who both passed the pointer check (D1), silent row
  * loss after a crash between retire and stage-in (D2, at an append and at
  * a gold first-load decision), and a table wedged by a crash between
  * stage-in and the pointer write (D3). Two more stall a live writer past
  * the grace at its pointer write while another commit recovers the
  * table. The matrix then throws at EVERY named step of five commit kinds
  * (through the `SwapProtocol.step` seam) and checks what a crash there
  * must leave: a reader sees the old rows or the new ones, never a mix;
  * the next commit lands on top of the rows that reader saw; VACUUM leaves
  * no staging dir. A crashed writer is recognised by a claim stale past
  * `HealGraceMs`, so each case ages the in-flight state as a restart
  * after the crash would find it. */
class CommitCrashSpec extends SparkSuite {
  import spark.implicits._

  private final class Crash(step: String)
      extends RuntimeException(s"injected crash at $step")

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ids(dir: String): Set[Long] =
    DeletionVectors.readPath(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet

  private def hooked[A](dir: String)(hook: String => Unit)(body: => A): A = {
    val key = new Path(dir).toUri.getPath
    SwapProtocol.stepHooks.put(key, hook)
    try body finally { SwapProtocol.stepHooks.remove(key); () }
  }

  private def claimOf(dir: String, v: Int) =
    new Path(SwapProtocol.historyDir(dir), s"_swap_claim_v$v")

  /** The in-flight transition as a restart finds it: its claim and
    * `v{cur}` older than the grace. */
  private def ageInFlight(dir: String): Unit = {
    val f = fsOf(dir)
    val cur = SwapProtocol.readPointer(f, dir)
    val old = System.currentTimeMillis() - SwapProtocol.HealGraceMs - 1000
    Seq(claimOf(dir, cur), SwapProtocol.versionDir(dir, cur))
      .filter(f.exists).foreach(f.setTimes(_, old, -1))
  }

  /** A flat table at version 2 holding ids 1..6. */
  private def flatAtV2(name: String): (Catalog, String) = {
    val cat = new Catalog(spark, tmpDir(name))
    cat.overwriteSnapshot((1L to 3L).toDF("id"), "silver", "t")
    cat.overwriteSnapshot((1L to 6L).toDF("id"), "silver", "t")
    (cat, cat.path("silver", "t"))
  }

  test("D1: two flat commits staged against one version — exactly one " +
      "lands, the other conflicts, no snapshot nests in the log") {
    val (_, dir) = flatAtV2("graft-d1")
    val f = fsOf(dir)
    val cur = SwapProtocol.readPointer(f, dir)
    // the first writer past its pointer check is held at the next step
    // until the other commit has returned
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val otherDone = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = try hooked(dir) { step =>
      if (step == "claim" && held.compareAndSet(false, true))
        otherDone.await(300, TimeUnit.SECONDS)
    } {
      Seq(100L, 200L).map { id =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
          def call(): Either[Throwable, Unit] =
            try Right(Catalog.overwritePath(spark, Seq(id).toDF("id"), dir,
              expectedVersion = Some(cur)))
            catch { case e: Throwable => Left(e) }
            finally otherDone.countDown()
        })
      }.map(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(results.count(_.isRight) == 1, s"outcomes: $results")
    results.collect { case Left(e) => e }.foreach { e =>
      assert(e.isInstanceOf[Catalog.ConcurrentCommitException], s"loser: $e")
    }
    assert(SwapProtocol.readPointer(f, dir) == cur + 1)
    assert(!f.listStatus(SwapProtocol.versionDir(dir, cur)).exists(_.isDirectory),
      "a committed snapshot nested inside the retired version")
    assert(Set(Set(100L), Set(200L)).contains(ids(dir)))
  }

  test("D2: a commit that crashed after its retire loses no rows to the " +
      "next append") {
    val (_, dir) = flatAtV2("graft-d2")
    val f = fsOf(dir)
    val cur = SwapProtocol.readPointer(f, dir)
    // the crashed writer's footprint: its claim, the live dir retired
    // into v{cur}, nothing staged in, the pointer unmoved
    f.create(claimOf(dir, cur), true).close()
    assert(f.rename(new Path(dir), SwapProtocol.versionDir(dir, cur)))
    ageInFlight(dir)
    Catalog.appendPath(spark, Seq(100L).toDF("id"), dir)
    assert(ids(dir) == (1L to 6L).toSet + 100L)
  }

  test("D2 at a first-load decision: a gold table whose commit crashed " +
      "after its retire is merged into, not created again") {
    val cat = new Catalog(spark, tmpDir("graft-d2-gold"))
    def load(rows: Seq[(Long, String)]) = GoldLoad.scd1(spark, cat, None,
      "c", rows.toDF("id", "v"), Seq("id"), Seq("v"), "skey",
      org.apache.spark.sql.functions.current_timestamp())
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet
    load(Seq(1L -> "a", 2L -> "b"))
    load(Seq(2L -> "bb"))
    val dir = cat.path("gold", "c")
    val f = fsOf(dir)
    val cur = pointer(dir)
    f.create(claimOf(dir, cur), true).close()
    assert(f.rename(new Path(dir), SwapProtocol.versionDir(dir, cur)))
    ageInFlight(dir)
    assert(load(Seq(3L -> "c")) == Set(1L -> "a", 2L -> "bb", 3L -> "c"))
    assert(pointer(dir) == cur + 1)
  }

  test("D3: a commit that crashed after its stage-in does not wedge the " +
      "table") {
    val (_, dir) = flatAtV2("graft-d3")
    val f = fsOf(dir)
    val cur = SwapProtocol.readPointer(f, dir)
    // retired and staged in, the pointer never written
    f.create(claimOf(dir, cur), true).close()
    assert(f.rename(new Path(dir), SwapProtocol.versionDir(dir, cur)))
    (7L to 9L).toDF("id").write.parquet(dir)
    ageInFlight(dir)
    // the crashed writer's snapshot is what readers saw at version cur:
    // it is rolled forward, and the append lands on it
    assert(ids(dir) == (7L to 9L).toSet)
    Catalog.commitWithRetry(dir)(
      Catalog.appendPath(spark, Seq(100L).toDF("id"), dir))
    assert(ids(dir) == (7L to 9L).toSet + 100L)
    assert(pointer(dir) == cur + 2)
  }

  /** Run `a` on its own thread, hold it at its pointer step until `b`
    * (run here, with the held writer's claim aged past the grace) has
    * returned, then let it go; `a`'s outcome. */
  private def stalledAtPointer(dir: String)(a: => Unit)(b: => Unit)
      : scala.util.Try[Unit] = {
    val atPointer = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = Executors.newSingleThreadExecutor()
    try hooked(dir) { s =>
      if (s == "pointer" && held.compareAndSet(false, true)) {
        atPointer.countDown(); release.await(300, TimeUnit.SECONDS)
      }
    } {
      val outcome = pool.submit(
        new java.util.concurrent.Callable[scala.util.Try[Unit]] {
          def call() = scala.util.Try(a)
        })
      assert(atPointer.await(300, TimeUnit.SECONDS), "never reached pointer")
      ageInFlight(dir)
      try b finally release.countDown()
      outcome.get(300, TimeUnit.SECONDS)
    } finally pool.shutdown()
  }

  test("a whole-dir commit stalled past the grace at its pointer write is " +
      "rolled forward by the next writer and stands") {
    val (_, dir) = flatAtV2("graft-stall-flat")
    val cur = pointer(dir)
    val a = stalledAtPointer(dir)(
      Catalog.overwritePath(spark, Seq(100L).toDF("id"), dir))(
      Catalog.commitWithRetry(dir)(
        Catalog.appendPath(spark, Seq(200L).toDF("id"), dir)))
    assert(a.isSuccess, s"the stalled writer: $a")
    // the late writer neither moved the pointer back nor lost its rows
    assert(pointer(dir) == cur + 2)
    assert(ids(dir) == Set(100L, 200L))
  }

  test("a bucket swap stalled past the grace at its pointer write is " +
      "rolled back and fails") {
    val (dir, _) = bucketSetup(dv = false)(tmpDir("graft-stall-bucket"))
    val old = bucketRows(dir)
    val cur = pointer(dir)
    val a = stalledAtPointer(dir)(BucketedDml.insertInto(spark,
      Seq((500L, 500L)).toDF("k", "v"), dir))(bucketNext(dir))
    assert(a.failed.toOption.exists(_.isInstanceOf[IllegalStateException]),
      s"the stalled writer: $a")
    assert(pointer(dir) == cur + 1)
    assert(bucketRows(dir) == old + Seq(999L, 999L))
  }

  // ------------------------------------------------ crash matrix

  /** One commit kind: `setup` builds the old state under a fresh root and
    * returns (table dir, the dir whose steps are hooked); `rows` is what a
    * reader sees; `next` is a follow-up commit adding `marker`. */
  private case class Kind(name: String, setup: String => (String, String),
      commit: String => Unit, rows: String => Set[Seq[Any]],
      version: String => Int, next: String => Unit, marker: Seq[Any],
      landsOnNew: Boolean = false)

  private def flatRows(dir: String) =
    DeletionVectors.readPath(spark, dir).collect().map(_.toSeq).toSet
  private def bucketRows(dir: String) =
    PartitionedMerge.read(spark, dir).collect().map(_.toSeq).toSet
  private def pointer(dir: String) = SwapProtocol.readPointer(fsOf(dir), dir)

  private def flatSetup(root: String) = {
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot((1L to 2L).toDF("id"), "silver", "t")
    cat.overwriteSnapshot((1L to 3L).toDF("id"), "silver", "t")
    (cat.path("silver", "t"), cat.path("silver", "t"))
  }
  private def flatNext(dir: String) = Catalog.commitWithRetry(dir)(
    Catalog.appendPath(spark, Seq(999L).toDF("id"), dir))

  private def bucketSetup(dv: Boolean)(root: String) = {
    val dir = root + "/t"
    PartitionedMerge.write((1L to 20L).map(k => (k, k)).toDF("k", "v"), dir,
      Seq("k"), 4)
    if (dv) DeletionVectors.enable(spark, dir)
    BucketedDml.insertInto(spark, Seq((21L, 21L)).toDF("k", "v"), dir)
    (dir, dir)
  }
  private def bucketNext(dir: String) = Catalog.commitWithRetry(dir)(
    BucketedDml.insertInto(spark, Seq((999L, 999L)).toDF("k", "v"), dir))

  private val kinds = Seq(
    Kind("flat overwrite", flatSetup,
      dir => Catalog.overwritePath(spark, Seq(10L, 11L).toDF("id"), dir,
        keepVersions = 1),
      flatRows, pointer, flatNext, Seq(999L)),
    Kind("flat append", flatSetup,
      dir => Catalog.appendPath(spark, Seq(10L).toDF("id"), dir,
        keepVersions = 1),
      flatRows, pointer, flatNext, Seq(999L)),
    Kind("bucketed prunedMerge", bucketSetup(dv = false),
      dir => { PartitionedMerge.prunedMerge(spark, dir,
        Seq((1L, 101L), (2L, 102L), (30L, 130L)).toDF("k", "v"),
        keepVersions = 1) { (t, s) =>
        t.join(s.select("k"), Seq("k"), "left_anti").unionByName(s) }; () },
      bucketRows, pointer, bucketNext, Seq(999L, 999L)),
    Kind("bucketed DV DELETE", bucketSetup(dv = true),
      dir => { BucketedDml.deleteWhereMor(spark, dir, col("k") <= 5,
        keepVersions = 1); () },
      bucketRows, pointer, bucketNext, Seq(999L, 999L)),
    Kind("PipelineEpoch.commit",
      root => {
        val cat = new Catalog(spark, root)
        cat.overwriteSnapshot((1L to 2L).toDF("id"), "silver", "a")
        PipelineEpoch.commit(spark, cat, "p", Seq("silver.a"), keepEpochs = 1)
        cat.overwriteSnapshot((1L to 3L).toDF("id"), "silver", "a")
        (cat.path("silver", "a"), cat.path("_pipeline_epochs", "p"))
      },
      dir => { PipelineEpoch.commit(spark, catOf(dir), "p", Seq("silver.a"),
        keepEpochs = 1); () },
      dir => PipelineEpoch.read(spark, catOf(dir), "p", "silver.a")
        .collect().map(_.toSeq).toSet,
      dir => PipelineEpoch.currentEpoch(spark, catOf(dir), "p"),
      dir => { flatNext(dir)
        PipelineEpoch.commit(spark, catOf(dir), "p", Seq("silver.a")); () },
      Seq(999L),
      // an epoch records the tables' versions, which were committed
      // before the epoch: the next epoch lands on them either way
      landsOnNew = true))

  private def catOf(tableDir: String) =
    new Catalog(spark, new Path(tableDir).getParent.getParent.toString)

  kinds.foreach { k =>
    test(s"crash matrix: ${k.name} — a throw at every step leaves old or " +
        "new rows, and the next commit lands") {
      // the steps this commit runs, in order
      val steps = scala.collection.mutable.LinkedHashSet.empty[String]
      val (dir0, hook0) = k.setup(tmpDir("graft-crash-dry"))
      val old = k.rows(dir0)
      hooked(hook0)(s => { steps += s; () })(k.commit(dir0))
      val neu = k.rows(dir0)
      assert(old != neu, "the commit under test must change the rows")
      assert(steps.contains("claim") || k.name.startsWith("Pipeline"),
        s"steps: $steps")
      steps.foreach { step =>
        val (dir, hookDir) = k.setup(tmpDir("graft-crash"))
        val before = k.version(dir)
        val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
        intercept[Crash] {
          hooked(hookDir) { s =>
            if (s == step && armed.getAndSet(false)) throw new Crash(s)
          }(k.commit(dir))
        }
        ageInFlight(dir)
        val seen = k.rows(dir)
        assert(seen == old || seen == neu,
          s"${k.name} @ $step: a reader saw a mix: $seen")
        assert(k.version(dir) == before || seen == neu,
          s"${k.name} @ $step: a new version reads the old rows")
        // rows once seen are never retracted: the next commit lands on them
        k.next(dir)
        assert(k.rows(dir) == (if (k.landsOnNew) neu else seen) + k.marker,
          s"${k.name} @ $step: the next commit did not land on the " +
            (if (seen == neu) "new" else "old") + " rows a reader saw")
        Catalog.vacuumPath(spark, dir)
        val t = new Path(dir)
        assert(!fsOf(dir).listStatus(t.getParent).map(_.getPath.getName)
          .exists(_.startsWith(t.getName + ".tmp")),
          s"${k.name} @ $step: a staging dir survived VACUUM")
      }
    }
  }
}
