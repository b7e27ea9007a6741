package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.pipeline.MaterializedJoin

/** Pins the CONSTANT cost of one incremental-view maintenance cycle in
  * Spark jobs — the regression guard VERDICT r7 asked for after the
  * q81/q119/q139 lifecycle family drifted +38–51% in the round that
  * touched the commit protocol (commit-time stamps, DV read probes,
  * bucket manifests). A job here is a driver round-trip whose count is
  * DETERMINISTIC for a fixed call sequence — unlike wall clock, it cannot
  * drift with host load — so creep in the protocol (an extra schema
  * probe, an emptiness pre-pass, a footer re-inference) shows up as an
  * exact integer before it shows up on any benchmark.
  *
  * Round-8 baseline for one two-feed refresh (dim overwrite + fact
  * append applied to an 8-bucket view): measured 23 jobs after the
  * round's cuts (was ~30 before: per-read DV probes now served by the
  * per-version ReadProbeCache, emptiness answered by prunedMerge's own
  * touched-bucket collect, schema checks by the in-dir sidecar, dim read
  * once per refresh). The bound leaves +2 headroom for legitimate plan
  * evolution; anything past that is the constant-cost creep this spec
  * exists to catch.
  */
class CommitCostSpec extends SparkSuite {
  import spark.implicits._

  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        sites.add(s.stageInfos.headOption.map { si =>
          si.details.split("\n").find(_.contains("graft."))
            .getOrElse(si.details.split("\n").headOption.getOrElse("?"))
            .trim
        }.getOrElse("?"))
        ()
      }
    }
    // setup's last job events can still be in flight on the async bus —
    // let it go quiet before registering, or they count against the body
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async (and its drain API is private) — wait
      // until the counter is quiet for a couple of polls
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    if (jobs.get() > 0) {
      import scala.jdk.CollectionConverters._
      info(s"jobs: ${sites.asScala.mkString(" | ")}")
    }
    jobs.get()
  }

  test("one two-feed MaterializedJoin refresh stays within its job budget") {
    val root = tmpDir("graft-commit-cost")
    val cat = new Catalog(spark, s"$root/wh")
    cat.overwriteSnapshot(
      (1L to 40L).map(i => (i, i % 7, i * 1.0)).toDF("oid", "cust", "amt"),
      "silver", "fact")
    cat.overwriteSnapshot(
      (0L to 6L).map(i => (i, s"c$i")).toDF("c_id", "c_name"),
      "silver", "dim")
    val mj = new MaterializedJoin(spark,
      cat.path("silver", "fact"), Seq("oid"), "cust",
      cat.path("silver", "dim"), "c_id", Seq("c_name"),
      s"$root/view", nBuckets = 8)
    mj.build()
    // one commit on each source: a fact append + a dim overwrite carrying
    // an update — the q119 steady-state cycle
    Catalog.appendPath(spark,
      (41L to 48L).map(i => (i, i % 7, i * 1.0)).toDF("oid", "cust", "amt"),
      cat.path("silver", "fact"))
    cat.overwriteSnapshot(
      (0L to 6L).map(i => (i, if (i == 3) "VIP" else s"c$i"))
        .toDF("c_id", "c_name"),
      "silver", "dim")
    val n = countJobs { mj.refresh(); () }
    assert(n <= 25, s"two-feed refresh cost $n jobs (budget 25) — " +
      "constant per-commit cost crept back into the maintenance cycle")
    // and the refresh actually converged (this spec must never pass by
    // doing less work)
    val expect = cat.read("silver", "fact")
      .join(cat.read("silver", "dim"),
        col("cust") === col("c_id"), "left_outer")
      .select(col("oid"), col("cust"), col("amt"), col("c_name"))
    assert(rowsOf(mj.read(), "oid") == rowsOf(expect, "oid"))
  }

  test("an in-sync refresh (no changes on either feed) is FS-only: 0 jobs") {
    val root = tmpDir("graft-commit-idle")
    val cat = new Catalog(spark, s"$root/wh")
    cat.overwriteSnapshot(
      (1L to 10L).map(i => (i, i % 3, i * 1.0)).toDF("oid", "cust", "amt"),
      "silver", "fact")
    cat.overwriteSnapshot(
      (0L to 2L).map(i => (i, s"c$i")).toDF("c_id", "c_name"),
      "silver", "dim")
    val mj = new MaterializedJoin(spark,
      cat.path("silver", "fact"), Seq("oid"), "cust",
      cat.path("silver", "dim"), "c_id", Seq("c_name"),
      s"$root/view", nBuckets = 4)
    mj.build()
    val n = countJobs { assert(mj.refresh() == ((Nil, Nil))) }
    assert(n == 0, s"an idle refresh ran $n Spark jobs — the no-change " +
      "poll must be answerable from cursors and pointers alone")
  }

  test("one AvailableNow streaming drain stays within its job budget " +
      "and restores the session's shuffle partitions (VERDICT r8 #3)") {
    // warm the streaming machinery so the pin measures the steady-state
    // drain, not first-use classloading
    graft.operators.EventQueries
      .hourlyAggStreaming(spark, "/root/testdata/sf0.001").count()
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val n = countJobs {
      graft.operators.EventQueries
        .hourlyAggStreaming(spark, "/root/testdata/sf0.001").count()
    }
    // measured round 9: 4 jobs per warm drain (schema load, the
    // micro-batch itself, two memory-sink SQLExecution collects) + the
    // pin's own count(). Budget 7 = 5 + 2 headroom; past that, the
    // streaming lifecycle grew a constant (an extra offset probe, a
    // second no-data batch, a state-store re-init) — the q26 drift this
    // spec exists to catch as an integer instead of wall-clock.
    assert(n <= 7, s"one streaming drain cost $n jobs (budget 7) — " +
      "per-drain constant cost crept into the micro-batch lifecycle")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "runToMemory must restore the session's shuffle partitions")
  }

  test("a flat table with a schema sidecar reads with 0 planning jobs") {
    val cat = new Catalog(spark, tmpDir("graft-commit-read") + "/wh")
    cat.create((1L to 20L).map(i => (i, s"r$i")).toDF("id", "tag"),
      "silver", "t")
    cat.append(Seq((21L, "r21")).toDF("id", "tag"), "silver", "t")
    var schema: org.apache.spark.sql.types.StructType = null
    val n = countJobs { schema = cat.read("silver", "t").schema; () }
    assert(schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(n == 0, s"planning a sidecar-backed read ran $n jobs — a " +
      "footer-inference job crept back into Catalog.read")
  }

  test("one Ingest.runOnce of a one-file delta stays within its job budget") {
    import graft.ingest.Ingest
    val root = tmpDir("graft-commit-ingest")
    val spec = Ingest.IngestSpec("events", s"$root/landing",
      s"$root/bronze/events", s"$root/_cp/events", s"$root/_cp/events.ddl",
      sourceFileCol = Some("_src_file"))
    def land(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"e$i")).toDF("id", "etype").coalesce(1)
        .write.mode("append").parquet(spec.srcDir)
    land(1L to 5L)
    assert(Ingest.runOnce(spark, spec) == 5L) // first load and warm-up
    land(6L to 8L)
    val n = countJobs { assert(Ingest.runOnce(spark, spec) == 3L); () }
    // measured: 2 jobs (the new file's schema inference for evolution
    // and the micro-batch). Counting the bronze table before and after
    // the drain added two more jobs that grow with the table's age.
    assert(n <= 4, s"one one-file ingest delta cost $n jobs (budget 4)")
  }

  test("the transition claim's own filesystem operations in a flat commit") {
    import org.apache.hadoop.fs.Path
    import graft.layout.SwapProtocol
    val dir = tmpDir("graft-commit-claim") + "/t"
    Catalog.overwritePath(spark, (1L to 3L).toDF("id"), dir)
    Catalog.overwritePath(spark, (1L to 4L).toDF("id"), dir)
    val stage = new Path(dir + ".tmp-ops")
    (1L to 5L).toDF("id").write.parquet(stage.toString)
    val f = new CommitCostSpec.CountingFs
    f.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    // (reads, writes) at the start of each step, then at the end
    val marks =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val key = new Path(dir).toUri.getPath
    SwapProtocol.stepHooks.put(key, s => { marks.getOrElseUpdate(s,
      (f.reads.get, f.writes.get)); () })
    try SwapProtocol.commit(spark, f, dir, stage, SwapProtocol.WholeDir, 10,
      Some(2), Seq(SwapProtocol.OperationTag -> "WRITE"))
    finally { SwapProtocol.stepHooks.remove(key); () }
    assert(marks.keys.toSeq == Seq("claim", "retire", "stage-in", "pointer",
      "release"))
    val claim = (marks("retire")._1 - marks("claim")._1,
      marks("retire")._2 - marks("claim")._2)
    // the claim: create the staged claim (+ the parent mkdirs the
    // checksummed create makes), delete it after the link (`link(2)`
    // itself is outside Hadoop's counters), then re-read the pointer
    // (exists, open, and the checksummed open's status lookup) = 3 reads,
    // 3 writes; the segment also holds the retire's own `exists` of the
    // live dir. The release after the pointer write is one more delete,
    // and the claim's create subsumes the `mkdirs(history)` the retire
    // made before: net +3 reads, +3 writes per flat commit, and +2 reads
    // for the token check below.
    assert(claim == ((4L, 3L)), s"claim (reads, writes) = $claim")
    // the pointer step: the holder check reads the claim's token (open
    // and the checksummed open's status lookup; its heartbeat, a
    // `setTimes`, is not an operation these counters see) = 2 reads, then
    // the pointer write's exists, tmp create, delete and rename
    val pointer = (marks("release")._1 - marks("pointer")._1,
      marks("release")._2 - marks("pointer")._2)
    assert(pointer == ((3L, 4L)), s"pointer (reads, writes) = $pointer")
    val total = (f.reads.get, f.writes.get)
    info(s"one flat commit: $total (reads, writes); steps at $marks")
    // the whole commit: 12 reads and 9 writes before the claim existed
    assert(total == ((17L, 12L)),
      s"one flat commit's (reads, writes) = $total")
    assert(SwapProtocol.readPointer(f, dir) == 3)
  }

  test("a table read's probe reads the pointer once") {
    import graft.layout.ReadProbeCache
    val dir = tmpDir("graft-probe-reads") + "/t"
    Catalog.overwritePath(spark, (1L to 3L).toDF("id"), dir)
    Catalog.overwritePath(spark, (1L to 4L).toDF("id"), dir)
    val f = new CommitCostSpec.CountingFs
    f.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    ReadProbeCache.probe(spark, f, dir) // fills the cache for version 2
    val before = f.reads.get
    assert(!ReadProbeCache.probe(spark, f, dir).isBucketed)
    // the crash heal's pointer read (exists, open and the checksummed
    // open's status lookup = 3) and its `exists` of the in-flight version
    // dir, which also keys the cache, then the recovery epoch (`exists`,
    // the history listing, `exists` again) = 7; the probe read the
    // pointer a second time before, 10 reads per table read
    assert(f.reads.get - before == 7L,
      s"one cached probe made ${f.reads.get - before} reads")
  }
}

object CommitCostSpec {
  /** The local filesystem counting operations as perfbench's traced runs
    * do: creates, renames, deletes and mkdirs write; opens, listings and
    * status lookups read. */
  final class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
    import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
      FileStatus, Path}
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val writes = new java.util.concurrent.atomic.AtomicLong()
    override def create(f: Path,
        permission: org.apache.hadoop.fs.permission.FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: org.apache.hadoop.util.Progressable)
        : FSDataOutputStream = {
      writes.incrementAndGet()
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      writes.incrementAndGet(); super.rename(src, dst)
    }
    override def delete(f: Path, recursive: Boolean): Boolean = {
      writes.incrementAndGet(); super.delete(f, recursive)
    }
    override def mkdirs(f: Path): Boolean = {
      writes.incrementAndGet(); super.mkdirs(f)
    }
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      reads.incrementAndGet(); super.open(f, bufferSize)
    }
    override def listStatus(f: Path): Array[FileStatus] = {
      reads.incrementAndGet(); super.listStatus(f)
    }
    override def getFileStatus(f: Path): FileStatus = {
      reads.incrementAndGet(); super.getFileStatus(f)
    }
  }
}
