package graft

import org.apache.spark.sql.SparkSession

/** Scale-exponent sweep (VERDICT r8 #2): measure how every query's
  * wall time actually GROWS with data, not just what its plan shape
  * promises. Each query runs at two scale factors (default sf0.01 and
  * sf0.1 — 10× the rows); `ratio = t(large) / t(small)` is an empirical
  * growth signal per query:
  *
  *   - ratio ≈ 1       → constant-dominated (fixed round counts, stream
  *                        lifecycle, tiny inputs) — amortizes at scale;
  *   - ratio ≈ 10      → linear in data, the expected posture for scans,
  *                        hash aggregates, and banded/bucketed joins;
  *   - ratio > FlagAt  → super-linear SUSPECT: an accidental O(n²)
  *                        inside a "bounded" window, a broadcast gate
  *                        mis-sized, a candidate expansion growing faster
  *                        than its cap argument claims. Plan pins
  *                        (PlanQualitySpec) cannot see these; this sweep
  *                        exists to catch them as a measurement.
  *
  * FlagAt defaults to 15 = 10× data × 1.5 noise headroom. Flagged
  * queries are listed in the artifact and must be adjudicated in
  * BENCH_NOTES (a genuine super-linear growth is a bug; a benign one —
  * e.g. candidate volume crossing a broadcast threshold between SFs —
  * gets its explanation recorded next to the number).
  *
  * Protocol mirrors Bench: min of 3 reps per (query, sf) against
  * transient host contention, between-query cache scrub, the q107
  * canary stamped per SF so a reader can judge ambience, one JSON line
  * plus a durable file copy (default `SCALE_SWEEP.json`).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleQ"
  *   # optional: SPARK_GRAFT_SF_SMALL / SPARK_GRAFT_SF_LARGE /
  *   #           SPARK_GRAFT_SWEEP_ONLY=q34_minhash_lsh,q57_dedup_clusters
  */
object ScaleQ {
  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val large = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1")
    val flagAt = sys.env.getOrElse("SPARK_GRAFT_SWEEP_FLAG_AT", "15.0").toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def scrub(): Unit = {
      Pin.releaseAll(spark)
      System.gc()
    }

    // same untimed warm-up as Bench: classloading + codegen + the
    // streaming machinery must not land on the first query's smallest SF
    // (it would DEFLATE that query's ratio and inflate its neighbors')
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.read.parquet(s"$small/region.parquet")
      w.join(w.select("r_regionkey").limit(1), Seq("r_regionkey"), "left")
        .groupBy("r_name").count().orderBy("r_name").count()
      spark.read.parquet(s"$small/documents.parquet").limit(64)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextFunctions.shingles3(col("text")))).as("s"))
        .withColumn("h", md5(col("s")))
        .groupBy("h").count().count()
      val stage = java.nio.file.Files.createTempDirectory("graft-sweep-warm")
      val srcF = java.nio.file.Paths.get(s"$small/region.parquet")
      val dstF = stage.resolve("region.parquet")
      try java.nio.file.Files.createLink(dstF, srcF)
      catch { case _: Exception => java.nio.file.Files.copy(srcF, dstF) }
      graft.streaming.Streams.runToMemory(
        spark.readStream
          .schema(spark.read.parquet(s"$small/region.parquet").schema)
          .parquet(stage.toString)
          .groupBy("r_name").count(), "graft_sweep_warmup_stream").count()
      scrub()
    }

    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SWEEP_ONLY").map(_.split(",").toSet)
    var failed = List.empty[String]

    def timeAt(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      var ok = true
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, dir).count()
        catch { case e: Throwable =>
          ok = false
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[sweep] $name @ $dir failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      scrub()
      // a crashed rep fast-fails: its elapsed time is not a measurement,
      // and min-of-reps would smuggle it into the artifact as a healthy-
      // looking (misleadingly small) number next to the `failed` listing —
      // emit NaN instead; the JSON writer renders it as null and NaN never
      // compares > flagAt, so failed queries can't be ratio-flagged either
      if (ok) times.min else Double.NaN
    }

    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val tS = timeAt(name, fn, small)
        val tL = timeAt(name, fn, large)
        // floor the denominator at 50 ms: below that the small-SF time is
        // pure constant and the ratio is noise, not growth. A failed
        // (NaN) side makes the ratio NaN → null in the artifact.
        val ratio = tL / math.max(tS, 0.05)
        System.err.println(
          f"[sweep] $name%-28s t_small=$tS%7.3f t_large=$tL%7.3f ratio=$ratio%6.2f" +
            (if (ratio > flagAt) "  ** FLAG" else ""))
        (name, tS, tL, ratio)
      }

    def r3(v: Double): String =
      if (v.isNaN) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val flagged = rows.filter(_._4 > flagAt).map(_._1)
    val canary = rows.find(_._1 == "q107_tpch_q6")
    // IO-visible canary, same protocol as Bench (VERDICT r10 #4): a small
    // parquet write+read round trip prices the syscall/fsync path the
    // codec-family queries pay, which the page-cache-hot scan canary
    // undercounts
    val canaryIo = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-canary-io")
      val t = (1 to 3).map { i =>
        val dst = tmp.resolve(s"c$i").toString
        val t0 = System.nanoTime()
        spark.range(50000L).selectExpr("id", "id * 2 AS v")
          .coalesce(2).write.mode("overwrite").parquet(dst)
        spark.read.parquet(dst).selectExpr("sum(v)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      scrub()
      t.min
    }
    val qs = rows.map { case (k, tS, tL, ratio) =>
      s"\"$k\":{\"t_small\":${r3(tS)},\"t_large\":${r3(tL)},\"ratio\":${r3(ratio)}}"
    }.mkString("{", ",", "}")
    val flaggedJson = flagged.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"scale_sweep","flag_at":${r3(flagAt)},"cpus":$cpus,"reps":$reps""" +
        s""","canary_small_s":${canary.map(c => r3(c._2)).getOrElse("null")}""" +
        s""","canary_large_s":${canary.map(c => r3(c._3)).getOrElse("null")}""" +
        s""","canary_io_s":${r3(canaryIo)}""" +
        s""","sf_small":"$small","sf_large":"$large"""" +
        s""","flagged":$flaggedJson,"failed":$failedJson,"queries":$qs}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SWEEP_OUT", "/root/repo/SCALE_SWEEP.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[sweep] SCALE_SWEEP.json write failed: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
