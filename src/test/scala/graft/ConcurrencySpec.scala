package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Concurrent-writer races on the version log. The protocol's claims:
  * optimistic `expectedVersion` turns a lost race into
  * [[Catalog.ConcurrentCommitException]], the `_swap_claim_v{N}`
  * put-if-absent (a hard link, then a pointer re-read) serializes racers
  * who both pass the check — a retire rename cannot: it returns true onto
  * an existing log entry by nesting into it (CommitCrashSpec's D1 pins
  * that race deterministically) — staging dirs are unique per attempt
  * (a loser can never clobber a winner's half-written files), and
  * whatever happens the table is always EXACTLY one writer's dataset at
  * every version — never a mix, never a loss that went unreported.
  */
class ConcurrencySpec extends SparkSuite {
  import spark.implicits._

  private val pool = Executors.newFixedThreadPool(4)

  private def race[A](thunks: Seq[() => A]): Seq[Either[Throwable, A]] = {
    val start = new CountDownLatch(1)
    val futures = thunks.map { t =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, A]] {
        def call(): Either[Throwable, A] = {
          start.await(60, TimeUnit.SECONDS)
          try Right(t()) catch { case e: Throwable => Left(e) }
        }
      })
    }
    start.countDown()
    // generous harvest timeout (was 120 s): the only nondeterminism this
    // suite accepts is WHO wins a race, never WHETHER a commit finishes —
    // but on a loaded host (the driver runs 98 suites back to back, 23
    // minutes wall) a burst of contending Spark jobs can push a racer
    // past two minutes, and a TimeoutException here reads as a protocol
    // failure when it is only scheduling (r15: the one driver-run
    // ConcurrencySpec failure was not reproducible in 8 quiet-host
    // runs). A real deadlock still fails, ten minutes later.
    futures.zipWithIndex.map { case (f, i) =>
      try f.get(600, TimeUnit.SECONDS)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          fail(s"racer $i still running after 600 s — deadlock, not a " +
            s"lost race", e)
      }
    }
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("racing optimistic overwrites: one winner per version, no mixed state") {
    val root = tmpDir("graft-race-ow")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot(Seq((0L, "base")).toDF("id", "v"), "silver", "race")
    val dir = cat.path("silver", "race")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 8).foreach { round =>
      val before = cat.currentVersion("silver", "race")
      // each writer stamps every row with its identity: a mixed commit
      // (rows from two writers) is detectable, not just unlikely
      def attempt(writer: Long): () => Long = () => {
        Catalog.overwritePath(spark,
          Seq((writer, s"r$round"), (writer + 100, s"r$round"))
            .toDF("id", "v"),
          dir, expectedVersion = Some(before))
        writer
      }
      val results = race(Seq(attempt(1L), attempt(2L)))
      val winners = results.collect { case Right(w) => w }
      val losers = results.collect { case Left(e) => e }
      assert(winners.size == 1,
        s"round $round: exactly one optimistic writer may win, " +
          s"got $winners / ${losers.map(_.getClass.getSimpleName)}")
      assert(losers.forall(_.isInstanceOf[Catalog.ConcurrentCommitException]),
        s"round $round: loser must fail with ConcurrentCommitException, " +
          s"got ${losers.map(e => e.getClass.getName + ": " + e.getMessage)}")
      val live = ids(cat.read("silver", "race"))
      val w = winners.head
      assert(live == Set(w, w + 100),
        s"round $round: live state must be the winner's dataset, got $live")
      assert(cat.currentVersion("silver", "race") == before + 1,
        s"round $round: exactly one commit advanced the log")
    }
    // abandoned staging dirs from losing attempts are vacuum's to reclaim;
    // after vacuum the table tree is clean
    cat.vacuum("silver", "race")
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    assert(!f.listStatus(parent).map(_.getPath.getName)
      .exists(_.startsWith("race.tmp")), "staging leftovers after vacuum")
    // every retained version still reconstructs (no race corrupted history)
    (math.max(1, cat.currentVersion("silver", "race") - 3) to
      cat.currentVersion("silver", "race")).foreach { v =>
      assert(cat.readVersion("silver", "race", v).count() > 0,
        s"version $v must reconstruct")
    }
  }

  test("racing appends: serialized or cleanly refused, rows never mixed or lost silently") {
    val root = tmpDir("graft-race-ap")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot(Seq((0L, "base")).toDF("id", "v"), "silver", "apr")
    val dir = cat.path("silver", "apr")
    (1 to 4).foreach { round =>
      def attempt(writer: Long): () => Long = () => {
        Catalog.appendPath(spark,
          Seq((round * 10L + writer, s"w$writer")).toDF("id", "v"), dir)
        writer
      }
      val results = race(Seq(attempt(1L), attempt(2L)))
      val winners = results.collect { case Right(w) => w }.toSet
      val losers = results.collect { case Left(e) => e }
      assert(winners.nonEmpty, s"round $round: at least one append commits")
      assert(losers.forall(_.isInstanceOf[Catalog.ConcurrentCommitException]),
        s"round $round: a refused append must raise ConcurrentCommitException" +
          s", got ${losers.map(e => e.getClass.getName + ": " + e.getMessage)}")
      val live = ids(cat.read("silver", "apr"))
      // every winner's row is present; no loser's row leaked in
      winners.foreach(w => assert(live.contains(round * 10L + w),
        s"round $round: winner $w's row lost"))
      results.zip(Seq(1L, 2L)).collect { case (Left(_), w) => w }
        .foreach(l => assert(!live.contains(round * 10L + l),
          s"round $round: refused append $l leaked rows"))
    }
  }

  test("blind overwrite racers: losers refused, retries then succeed") {
    val root = tmpDir("graft-race-blind")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot(Seq((0L, "x")).toDF("id", "v"), "silver", "bl")
    val dir = cat.path("silver", "bl")
    def attempt(writer: Long): () => Long = () => {
      Catalog.overwritePath(spark,
        Seq((writer, "w")).toDF("id", "v"), dir)
      writer
    }
    val results = race(Seq(attempt(1L), attempt(2L), attempt(3L)))
    val winners = results.collect { case Right(w) => w }
    val losers = results.collect { case Left(e) => e }
    assert(winners.nonEmpty, "at least one blind overwrite lands")
    // a blind loser may retry and land as its own later version
    assert(losers.forall(_.isInstanceOf[Catalog.ConcurrentCommitException]),
      s"losers: ${losers.map(e => e.getClass.getName + ": " + e.getMessage)}")
    val live = ids(cat.read("silver", "bl"))
    assert(winners.map(w => Set(w)).contains(live),
      s"live state $live must be exactly one winner's dataset")
  }

  test("commitWithRetry: four concurrent blind appends ALL land (Delta's " +
      "non-conflicting ConcurrentAppend resolution)") {
    val root = tmpDir("graft-race-retry")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot(Seq((0L, "base")).toDF("id", "v"), "silver", "rt")
    val dir = cat.path("silver", "rt")
    val before = cat.currentVersion("silver", "rt")
    // each appendPath attempt re-links the CURRENT files during staging,
    // so a retry rebases onto whatever the winner committed — the
    // combinator's contract
    def attempt(writer: Long): () => Long = () => {
      Catalog.commitWithRetry(dir) {
        Catalog.appendPath(spark, Seq((writer, "w")).toDF("id", "v"), dir)
      }
      writer
    }
    val results = race(Seq(attempt(1L), attempt(2L), attempt(3L), attempt(4L)))
    val losers = results.collect { case Left(e) => e }
    assert(losers.isEmpty,
      s"every append must land under retry, got: " +
        losers.map(e => e.getClass.getName + ": " + e.getMessage))
    val live = ids(cat.read("silver", "rt"))
    assert(live == Set(0L, 1L, 2L, 3L, 4L),
      s"all four appends plus base must be live, got $live")
    // four real versions landed (each append is its own commit)
    assert(cat.currentVersion("silver", "rt") == before + 4)
  }

  test("racing bucketed merges: typed conflict instead of history " +
      "corruption, and commitWithRetry lands BOTH") {
    import graft.merge.PartitionedMerge
    val path = tmpDir("graft-race-bm") + "/t"
    val keys = Seq("k")
    val nBuckets = 8
    PartitionedMerge.write((1L to 16L).map(i => (i, s"v$i")).toDF("k", "v"),
      path, keys, nBuckets)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = SwapProtocol.readPointer(fs, path)
    def upsert(src: org.apache.spark.sql.DataFrame): Unit = {
      PartitionedMerge.prunedMerge(spark, path, src) {
        (pruned, s) =>
          pruned.join(s.select("k"), Seq("k"), "left_anti").unionByName(s)
      }
      ()
    }
    // two writers, each retrying: every attempt re-reads the live
    // buckets, so a rebase after a lost race is correct by construction
    val srcA = Seq((1L, "A"), (2L, "A")).toDF("k", "v")
    val srcB = Seq((3L, "B"), (4L, "B")).toDF("k", "v")
    val results = race(Seq(
      () => { Catalog.commitWithRetry(path)(upsert(srcA)); "A" },
      () => { Catalog.commitWithRetry(path)(upsert(srcB)); "B" }))
    val losers = results.collect { case Left(e) => e }
    assert(losers.isEmpty, s"both merges must land under retry: " +
      losers.map(e => e.getClass.getName + ": " + e.getMessage))
    // both writers' rows present, untouched keys intact
    val state = PartitionedMerge.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(1L) == "A" && state(2L) == "A")
    assert(state(3L) == "B" && state(4L) == "B")
    assert(state(9L) == "v9" && state.size == 16)
    // two REAL versions landed and history is intact: the intermediate
    // version reconstructs to exactly one writer's merge applied
    assert(SwapProtocol.readPointer(fs, path) == before + 2)
    val mid = PartitionedMerge.readVersion(spark, path, before + 1)
      .drop(PartitionedMerge.BucketCol)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aFirst = mid(1L) == "A" && mid(3L) == "v3"
    val bFirst = mid(3L) == "B" && mid(1L) == "v1"
    assert(aFirst || bFirst,
      s"intermediate version must be exactly one merge applied: $mid")
    // no stranded claim markers after both commits
    val claims = fs.listStatus(SwapProtocol.historyDir(path))
      .map(_.getPath.getName).filter(_.startsWith("_swap_claim_v"))
    assert(claims.isEmpty, s"stranded claims: ${claims.toSeq}")
  }

  test("commitWithRetry: exhaustion rethrows the typed conflict with the " +
      "attempt count") {
    val dir = tmpDir("graft-retry-exhaust")
    var calls = 0
    val e = intercept[IllegalStateException] {
      Catalog.commitWithRetry(dir, maxAttempts = 3) {
        calls += 1
        throw new Catalog.ConcurrentCommitException(dir, 1, 2)
      }
    }
    assert(calls == 3, s"body must run exactly maxAttempts times: $calls")
    assert(e.getMessage.contains("after 3 attempts"))
    assert(e.getCause.isInstanceOf[Catalog.ConcurrentCommitException])
    // non-conflict failures surface immediately, never retried
    var once = 0
    intercept[IllegalArgumentException] {
      Catalog.commitWithRetry(dir) { once += 1; require(false, "boom") }
    }
    assert(once == 1)
  }

  test("racing deletion-vector deletes: one wins, loser typed + retries to the union") {
    val root = tmpDir("graft-race-dv")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot((1L to 20L).map(i => (i, i % 4))
      .toDF("id", "m"), "silver", "dvr")
    cat.enableDeletionVectors("silver", "dvr")
    val dir = cat.path("silver", "dvr")
    val before = cat.currentVersion("silver", "dvr")
    def attempt(mod: Long): () => Long = () => {
      graft.layout.DeletionVectors.deleteWhere(spark, dir,
        col("m") === mod)
      mod
    }
    val results = race(Seq(attempt(0L), attempt(1L)))
    val winners = results.collect { case Right(w) => w }
    val losers = results.collect { case Left(e) => e }
    // DV deletes are read-modify-write (staged against the read pointer):
    // a true interleave leaves exactly one winner + a typed loser; the
    // threads may also serialize cleanly (both win) on a fast commit
    assert(winners.nonEmpty, s"no DV delete landed: $losers")
    assert(losers.forall(
      _.isInstanceOf[Catalog.ConcurrentCommitException]),
      s"loser must be the typed conflict, got " +
        losers.map(_.toString).mkString("; "))
    // retry the losers: merge-on-read deletes compose — the final state
    // is the union of both predicates
    losers.foreach(_ => results.zip(Seq(0L, 1L)).collect {
      case (Left(_), mod) => graft.layout.DeletionVectors
        .deleteWhere(spark, dir, col("m") === mod)
    })
    val live = ids(cat.read("silver", "dvr"))
    assert(live == (1L to 20L).filterNot(i => i % 4 <= 1).toSet,
      s"after retries both deletes must apply, got $live")
    assert(cat.currentVersion("silver", "dvr") >= before + 2)
    // data files were never rewritten by any contender
    cat.vacuum("silver", "dvr")
    assert(cat.readVersion("silver", "dvr", before).count() == 20)
  }

  test("pruned reads racing a re-ANALYZE never lose rows (retry + " +
      "no-prune fallback close the manifest rename window)") {
    import graft.layout.DataSkipping
    val dir = tmpDir("graft-skip-race") + "/t"
    (1L to 2000L).map(i => (i, i * 3 % 997)).toDF("id", "v")
      .repartition(8).write.parquet(dir)
    // force the distributed path (threshold 0) so the race crosses the
    // header read AND the textFile job, not just the driver parse
    spark.conf.set("graft.skipping.distributedThresholdBytes", "0")
    try {
      DataSkipping.analyze(spark, dir, Seq("id", "v"))
      val preds = Seq(DataSkipping.Range("id", Some(100L), Some(250L)))
      val expect = spark.read.parquet(dir)
        .filter(col("id") >= 100L && col("id") <= 250L).count()
      val res = race(
        Seq.fill(3)(() => {
          var n = 0L
          (1 to 8).foreach { _ =>
            n = DataSkipping.read(spark, dir, preds).count()
            assert(n == expect,
              s"pruned read lost rows mid-analyze: $n != $expect")
          }
          n
        }) :+ (() => {
          (1 to 6).foreach(_ => DataSkipping.analyze(spark, dir, Seq("id", "v")))
          expect
        }))
      val failures = res.collect { case Left(e) => e }
      assert(failures.isEmpty,
        s"racing reads/analyzes must not throw: ${failures.map(_.toString)}")
    } finally spark.conf.unset("graft.skipping.distributedThresholdBytes")
  }
}
