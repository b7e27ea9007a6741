package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start a local session, warm it, stage the
  * workload's seeded inputs (several times, for a steady set-up figure),
  * run the workload's untimed warm-up passes, then run whole passes of the
  * workload's ops in a closed loop with one
  * client thread until `--seconds` of op time have been measured. Writes a
  * raw run record (op latencies, check material, spans) as JSON; `run.py`
  * turns it into metrics and checks the outputs.
  *
  * With `--trace 1` the loop runs traced: spans, listener counters, and
  * filesystem operation counts (`CountingLocalFileSystem`). */
object Main {
  val SetupRepeats = 3

  final case class OpRec(id: Int, name: String, seconds: Double,
      error: Option[String], outcome: OpOutcome, storageMb: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("workdir")
    val cores = opt("cores").toInt
    val maxWall = opt.getOrElse("max-wall", "150").toDouble

    val wall0 = System.nanoTime()
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    val tSession = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    // drop filesystem instances cached before the session's configuration
    // applied, so the traced run's local filesystem is the counting one
    if (traced) org.apache.hadoop.fs.FileSystem.closeAll()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(tSession)

    val tWarm = System.nanoTime()
    locally {
      val p = s"$work/warmup"
      spark.range(20000).selectExpr("id", "id % 7 AS k")
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p).groupBy("k").count().collect()
    }
    val warmupS = secs(tWarm)

    val trace = new Trace(spark)
    val ctx = new Ctx(spark, trace, seed, s"$work/check")
    val w = Workloads(workload, ctx)
    // set-up: stage the seeded inputs several times, each into its own
    // directory; the last one feeds the loop
    val stageTimes = (1 to SetupRepeats).map { i =>
      val dir = s"$work/input_$i"
      val t = System.nanoTime()
      w.stage(dir)
      val s = secs(t)
      if (i < SetupRepeats) deleteTree(dir)
      s
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    val retained = scala.collection.mutable.ArrayBuffer.empty[Double]
    var nextOp = 1
    var nextPass = 0

    def storageMb(): Double = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    def scrub(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }

    // untimed warm-up passes (set-up): the same ops, unchecked
    val tWarmPasses = System.nanoTime()
    (0 until w.warmupPasses).foreach { _ =>
      val root = s"$work/pass_$nextPass"
      Files.createDirectories(Paths.get(root))
      val pass = w.pass(nextPass, root)
      nextPass += 1
      pass.ops.foreach { op => op.land(); op.run() }
      pass.close()
      deleteTree(root)
      scrub()
    }
    val warmPassesS = secs(tWarmPasses)

    // whole passes until `seconds` of op time have been measured
    if (traced) trace.start()
    var opSeconds = 0.0
    while (opSeconds < seconds && secs(wall0) < maxWall) {
      val p = nextPass
      nextPass += 1
      val root = s"$work/pass_$p"
      Files.createDirectories(Paths.get(root))
      val pass = w.pass(p, root)
      pass.ops.foreach { op =>
        op.land()
        val id = nextOp
        nextOp += 1
        val t = System.nanoTime()
        val res = try Right(trace.op(id, op.name)(op.run()))
          catch { case e: Throwable => Left(e) }
        val s = secs(t)
        opSeconds += s
        val outcome = res match {
          case Right(out) =>
            try op.verify(out)
            catch { case e: Throwable =>
              OpOutcome(s"fail: check raised ${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(300)) }
          case Left(_) => OpOutcome("fail: op raised")
        }
        ops += OpRec(id, op.name, s,
          res.left.toOption.map(e => s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)), outcome, storageMb())
      }
      retained += storageMb()
      passes += Json.obj(Seq("pass" -> p.toString) ++ pass.close())
      deleteTree(root)
      scrub()
    }
    if (traced) trace.stop()

    scrub()
    // full collections with pauses between them, so the context cleaner's
    // asynchronous release of shuffle and broadcast state lands first
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val opsJson = ops.map { o =>
      Json.obj(Seq("id" -> o.id.toString, "name" -> Json.str(o.name),
        "seconds" -> Json.num(o.seconds),
        "error" -> o.error.map(Json.str).getOrElse("null"),
        "check" -> Json.str(o.outcome.check),
        "storage_mb" -> Json.num(o.storageMb)) ++ o.outcome.fields)
    }
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "sf" -> Json.num(Workloads.Sf),
      "spark_version" -> Json.str(spark.version),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "traced" -> traced.toString,
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "warmup_passes_s" -> Json.num(warmPassesS),
      "stage_s" -> Json.arr(stageTimes.map(Json.num)),
      "heap_mb" -> Json.num(heap),
      "retained_mb" -> Json.arr(retained.toSeq.map(Json.num)),
      "ops" -> Json.arr(opsJson.toSeq),
      "passes" -> Json.arr(passes.toSeq),
      "trace" -> (if (traced) trace.toJson else "null")) ++ w.describe)
    Files.writeString(Paths.get(opt("out")), record)
    spark.stop()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator()
      val paths = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (all.hasNext) paths += all.next()
      paths.reverseIterator.foreach(Files.deleteIfExists)
    }
  }
}
