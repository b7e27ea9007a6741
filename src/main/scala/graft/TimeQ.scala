package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
object TimeQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        if (dur > 0.3) println(f"[stage] id=${si.stageId} tasks=${si.numTasks} ${dur}%.2f s  ${si.name.take(80)}")
      }
    })
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[timeq] run$i ${(System.nanoTime()-t0)/1e9}%.2f s rows=$n")
    }
    spark.stop()
  }
}
