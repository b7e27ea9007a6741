package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names — dump only those
    // (local iteration; the driver's 2-arg call dumps everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Starvation notice (soft here, hard in Bench): correctness output is
    // identical regardless of core count, so a starved Verify still
    // produces a valid dump — but flag it so a >30-min wall clock isn't
    // misread as an engine regression.
    if (!sys.env.contains("SPARK_GRAFT_CPUS"))
      System.err.println("[verify] SPARK_GRAFT_CPUS unset — running on " +
        "local[4]; results are valid but wall clock is not comparable")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Release blocks stranded by queries whose result frames ride on
      // cache()/localCheckpoint() (CC / pagerank / HITS family): across
      // ~200 queries in one JVM the dead storage otherwise squeezes
      // execution memory (see the same scrub in Bench.scala, where it
      // halved the suite's wall clock).
      Pin.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
