package graft
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-query plan evidence: `runMain graft.PlanDump <q1[,q2,...]> [sfDir]
  * [outDir]` runs each named SparkEntry query once and records, first,
  * the FORMATTED physical plan of the returned frame, then that of EVERY
  * SQL execution the query performs (actions, localCheckpoint
  * materializations, broadcast subexecutions), chronologically, with
  * per-execution wall time. The returned frame's plan shows pushdown
  * (`PushedFilters`, `ReadSchema`) and join strategies of the final
  * probe; for eagerly-pinned results it is just a `Scan ExistingRDD`
  * stub, and the executions show the plans that actually ran. Suffix
  * from SPARK_GRAFT_PLAN_SUFFIX (default "plan"):
  * `<outDir>/<name>_<suffix>.txt`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/plans"
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val recorded =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val txt = try qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Exception => s"<explain failed: $e>" }
        recorded.add((System.nanoTime(),
          f"-- execution: $funcName  (${durationNs / 1e9}%.3f s)\n$txt"))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      recorded.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain pending async listener events before snapshotting
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val execs = recorded.asScala.toSeq.sortBy(_._1).map(_._2)
      val body = f"== $name: $n rows, $wall%.2f s, " +
        s"${execs.size} SQL executions ==\n\n" +
        s"[returned frame]\n$plan\n" +
        execs.zipWithIndex.map { case (t, i) => s"[exec ${i + 1}]\n$t" }
          .mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        body.getBytes("UTF-8"))
      println(s"[plandump] $name: ${execs.size} executions -> " +
        s"$outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
