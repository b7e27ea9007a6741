package graft


/** Job/FS-op profiler for a single named query — the instrument behind
  * the lifecycle-cost work (VERDICT r7 #1: q119/q81/q139 drifted in the
  * round that touched the commit protocol). Prints, for each run of the
  * query: wall seconds, Spark job count, every stage over 0.3 s as it
  * completes, and the delta in Hadoop local-FS storage statistics (op
  * counts) — so a commit-protocol change can be priced in FS
  * round-trips, not just wall clock.
  *
  *   sbt "runMain graft.ProfileQ q119_incr_join [reps]"
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val qname = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          // the stage's `details` is the long-form callsite: first graft
          // frame identifies the operator that launched the job
          val site = s.stageInfos.headOption.map { si =>
            val lines = si.details.split("\n")
            lines.find(_.contains("graft.")).getOrElse(
              lines.headOption.getOrElse("?")).trim
          }.getOrElse("?")
          starts.put(s.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(
            s: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(s.jobId)).foreach { case (t0, site) =>
            val ms = (System.nanoTime() - t0) / 1e6
            sites.add(f"$ms%8.1f ms  $site")
          }
        }
        override def onStageCompleted(s: org.apache.spark.scheduler
            .SparkListenerStageCompleted): Unit = {
          val si = s.stageInfo
          val sec = (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)) / 1000.0
          if (sec > 0.3) println(f"[stage] id=${si.stageId} " +
            f"tasks=${si.numTasks} $sec%.2f s  ${si.name.take(80)}")
        }
      })
    val fn = SparkEntry.queries(qname)

    def fsStats(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val out = scala.collection.mutable.Map[String, Long]()
      org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator()
        .asScala.foreach { ss =>
          ss.getLongStatistics.asScala.foreach { e =>
            out(ss.getScheme + "." + e.getName) =
              out.getOrElse(ss.getScheme + "." + e.getName, 0L) + e.getValue
          }
        }
      out.toMap
    }

    for (rep <- 1 to reps) {
      val before = fsStats()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val dj = jobs.get() - j0
      val after = fsStats()
      val deltas = after.map { case (k, v) =>
        k -> (v - before.getOrElse(k, 0L))
      }.filter(_._2 != 0).toSeq.sortBy(-_._2)
      println(f"[profile] $qname rep=$rep ${sec}%.2f s, $dj jobs")
      deltas.foreach { case (k, v) => println(f"[profile]   $k%-40s $v") }
      if (rep == reps) {
        import scala.jdk.CollectionConverters._
        sites.asScala.toSeq.foreach(s => println(s"[profile]  job $s"))
      }
      sites.clear()
      Pin.releaseAll(spark)
      System.gc()
    }
    spark.stop()
  }
}
