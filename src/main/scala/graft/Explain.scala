package graft

/** Plan-inspection tool: `runMain graft.Explain <q1[,q2,...]> [sfDir] [outDir]`
  * prints the formatted physical plan of SparkEntry queries — used to
  * check pushdown (`PushedFilters`, `ReadSchema`), join strategies
  * (broadcast vs sort-merge), and whole-stage-codegen spans. With an
  * `outDir`, each plan is also written to `<outDir>/<name>_<suffix>.txt`
  * (suffix from SPARK_GRAFT_PLAN_SUFFIX, default "plan") so a round's
  * before/after evidence is one invocation per side instead of one JVM
  * per query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Capture the same text explain("formatted") prints; queries that
      // build eagerly (localCheckpoint results) show their final probe
      // plan, which is the shape the optimization claims are about.
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"===== $name =====")
      println(txt)
      outDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
