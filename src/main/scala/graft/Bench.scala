package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Hard starvation guard (VERDICT r7 #4): an unset SPARK_GRAFT_CPUS
    // silently priced every parallel query on local[4] while the
    // 1-partition q107 canary stayed at its idle floor — the one
    // misconfiguration the canary protocol cannot catch. A starved run
    // now self-identifies: `starved` is stamped into the JSON line and
    // the exit code is nonzero, so the artifact can't pass for a real
    // measurement. (BENCH_NOTES.md round-7 trap #1.)
    val cpusSet = sys.env.contains("SPARK_GRAFT_CPUS")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val starved = !cpusSet || (try cpus.toInt < 8 catch { case _: Exception => true })
    if (starved) System.err.println(
      s"[bench] STARVED: SPARK_GRAFT_CPUS=${if (cpusSet) cpus else "<unset>"}" +
        " (need >= 8 for a priced run); stamping starved:true, exit 2")
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: first Spark action in a JVM pays ~4s of classloading
    // + codegen compilation that has nothing to do with any query's cost.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.read.parquet(s"$sfDir/region.parquet")
      w.join(w.select("r_regionkey").limit(1), Seq("r_regionkey"), "left")
        .groupBy("r_name").count().orderBy("r_name").count()
      // warm the interpreted higher-order-function + regexp + md5 paths
      // the text/dedup queries lean on
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextFunctions.shingles3(col("text")))).as("s"))
        .withColumn("h", md5(col("s")))
        .groupBy("h").count().count()
      // warm the Structured Streaming machinery (MicroBatchExecution,
      // state store, memory sink) that q26 exercises; the file source
      // wants a directory, so stage the small fixture into a temp dir
      val stage = java.nio.file.Files.createTempDirectory("graft-warm")
      val srcF = java.nio.file.Paths.get(s"$sfDir/region.parquet")
      val dstF = stage.resolve("region.parquet")
      try java.nio.file.Files.createLink(dstF, srcF)
      catch { case _: Exception => java.nio.file.Files.copy(srcF, dstF) }
      graft.streaming.Streams.runToMemory(
        spark.readStream
          .schema(spark.read.parquet(s"$sfDir/region.parquet").schema)
          .parquet(stage.toString)
          .groupBy("r_name").count(), "graft_warmup_stream").count()
    }
    // Timed runs per query, report the min: a single-shot number on a
    // shared VM folds transient host contention into the engine's score.
    // Three reps (was two): round-2's flagged 3-5x per-query swings were
    // traced with graft.TimeQ to first-run JIT/codegen/page-cache effects —
    // steady state needs the first run discarded AND one spare against a
    // contention spike landing on the second (see BENCH_NOTES.md).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    var failed = List.empty[String]
    // Between-QUERY scrub, outside the timed window. Queries that return a
    // frame backed by cache()/localCheckpoint() (the CC / pagerank / HITS
    // family) cannot unpersist their own final blocks — the caller still
    // holds the frame — so each execution strands a few blocks in the
    // BlockManager. Harmless per query, but 195 queries x 3 reps in one
    // JVM accumulate gigabytes of dead storage that squeezes execution
    // memory and turns later (and GC-adjacent) queries 5-20x slower at
    // random (measured: 195-query total 179 s unscrubbed vs 89 s scrubbed
    // on the same idle host). Scrubbing AFTER a query's reps — not between
    // them — keeps the min-of-reps semantics every prior round used
    // (rep 2/3 may reuse a cache rep 1 built; that warm steady state is
    // what the per-query history prices), while still guaranteeing each
    // query starts from a clean BlockManager.
    def scrub(): Unit = {
      Pin.releaseAll(spark)
      // Force reclaim NOW, between queries: unpersist only drops
      // references, and letting ~600 executions' old-gen churn collect
      // lazily lands multi-second G1 mixed cycles on random queries'
      // timed windows (observed as 3-5x inflation on whichever 5-10
      // queries the pause hits, different every run).
      System.gc()
    }
    // sorted by query name: stable key order makes round-over-round BENCH
    // diffs line up; 3-decimal rounding keeps the single JSON line short
    // enough that log captures don't truncate it (sub-ms digits are noise
    // next to the host's run-to-run variance anyway)
    // Optional comma-separated query-name filter for local iteration
    // (mirrors Verify's 3rd arg); the driver's env-less call runs all.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Per-query phase split (VERDICT r11 #4): self-staging queries
    // (q225/q228/q229/q232/q233/q234 build their fixture inside the timed
    // body) record their setup via graft.BenchPhases; the artifact
    // carries setup_s/probe_s from the rep that achieved the per-query
    // min, so a probe-path regression is visible behind setup noise.
    val phaseSplit = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        BenchPhases.clear()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val total = (System.nanoTime() - t0) / 1e9
        (total, BenchPhases.take(name))
      }
      scrub()
      val best = times.minBy(_._1)
      best._2.foreach { setup =>
        phaseSplit(name) = (setup, math.max(0.0, best._1 - setup))
      }
      name -> best._1
    }
    // Locale.ROOT: f"" interpolation uses the JVM default locale, which on
    // comma-decimal locales (de_DE, fr_FR, ...) would emit "1,234" and break
    // the single-line JSON contract this main exists to serve.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // IO-VISIBLE canary (VERDICT r10 #4): the q107 scan canary reads a
    // page-cache-hot single file and provably undercounts the host's IO
    // stalls (r10 carried 4-5x codec-family inflations at a CLEAN scan
    // canary, each costing a manual re-time essay). This one pays a small
    // parquet WRITE+READ round trip — allocate, fsync, footer, data pages
    // — the same syscall path the codec/file-heavy queries pay. Idle
    // floor on this box ~0.10-0.18 s; a clean canary_s with an inflated
    // canary_io_s attributes codec-family inflation to host IO from the
    // artifact alone. min-of-3, measured after the query loop, scrubbed.
    val canaryIo = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-canary-io")
      val t = (1 to 3).map { i =>
        val dst = tmp.resolve(s"c$i").toString
        val t0 = System.nanoTime()
        spark.range(50000L).selectExpr("id", "id * 2 AS v")
          .coalesce(2).write.mode("overwrite").parquet(dst)
        // sum forces real data-page reads (count alone answers from
        // parquet footers)
        spark.read.parquet(dst).selectExpr("sum(v)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      scrub()
      t.min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // the split rides next to the per-query totals for every query that
    // reported one (self-staging queries only) — see BENCH_NOTES.md
    val phases = phaseSplit.toSeq.sortBy(_._1).map { case (k, (s, p)) =>
      s"\"" + k + "\":{\"setup_s\":" + r3(s) + ",\"probe_s\":" + r3(p) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus is IN the line on purpose: a run without SPARK_GRAFT_CPUS set
    // silently prices every parallel query on local[4] while the
    // 1-partition q107 canary stays near its idle floor — the one
    // misconfiguration the canary protocol cannot catch. The artifact
    // now carries the evidence.
    // the q107 canary (TPC-H Q6: one scan-aggregate, deliberately tiny)
    // rides IN the artifact so a reader can judge host ambience without
    // BENCH_NOTES: idle floor ~0.12-0.15 s on this box; >0.2 means the
    // totals carry contention inflation (VERDICT r8 #8 — the close-out
    // protocol keeps the LOWEST-canary run as bench_out.json)
    val canary = results.toMap.get("q107_tpch_q6").map(r3).getOrElse("null")
    // "reps" rides in the artifact (VERDICT r9 #5): each per-query number
    // is the MIN of that many timed runs (rep 1 absorbs JIT/codegen/page-
    // cache warmup, the spare absorbs a contention spike) — the scrub
    // protocol is documented once in BENCH_NOTES.md instead of being
    // re-adjudicated against ambient host noise every round.
    // The headline fields ride at BOTH ends of the line: the driver's
    // artifact capture has truncated from the head (round 6, lost query
    // entries) AND from the tail-side (round 10, the committed artifact's
    // tail cut before "value") — duplicating total/canaries/cpus/reps
    // after the big "queries" map makes the headline readable from either
    // partial capture (VERDICT r10 #7).
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpus":$cpus,"reps":$reps,"starved":$starved,"canary_s":$canary,"canary_io_s":${r3(canaryIo)},"queries":$qs,"phases":$phases,"failed":$failedJson,"sf":"$sfDir","tail_total":${r3(total)},"tail_canary_s":$canary,"tail_canary_io_s":${r3(canaryIo)},"tail_cpus":$cpus,"tail_reps":$reps,"tail_starved":$starved}"""
    println(line)
    // The driver's log capture truncates long stdout lines (round 6 lost
    // 60 of 138 queries from BENCH_r06.json) — persist the full line to a
    // file as the durable copy. Best-effort: a read-only CWD must not fail
    // the bench itself.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] bench_out.json write failed: $e") }
    // CROSS-RUN FLOOR artifact (VERDICT r10 #5): per-query MIN over this
    // session's runs plus each run's canaries, so the round's steady-state
    // floor is one artifact diff instead of a hand-computed adjudication
    // narrative. "Session" is fenced by code identity (git HEAD read from
    // .git, no exec) and scale factor — a floor never blends code
    // versions or sf dirs; starved runs never contribute. Best-effort
    // like bench_out.json.
    if (!starved) try {
      val floorPath = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_FLOOR", "/root/repo/bench_floor.json"))
      def headRef(): String = try {
        val repo = java.nio.file.Paths.get("/root/repo/.git")
        val head = new String(java.nio.file.Files.readAllBytes(
          repo.resolve("HEAD")), "UTF-8").trim
        if (head.startsWith("ref: ")) {
          val rp = repo.resolve(head.stripPrefix("ref: "))
          if (java.nio.file.Files.exists(rp))
            new String(java.nio.file.Files.readAllBytes(rp), "UTF-8").trim
          else head
        } else head
      } catch { case _: Exception => "unknown" }
      val ref = headRef()
      // PER-QUERY code fences (VERDICT r11 #5): a floor entry survives a
      // commit iff the SOURCE defining its query is unchanged — fenced by
      // a hash of every src/main file whose text mentions the query name
      // (operator body, registry entry, and oracle SQL all live there).
      // An additive commit no longer resets the unchanged queries' floors
      // the way the old whole-repo HEAD fence did. Shared-infra edits
      // that don't touch a query's defining files deliberately keep its
      // floor: a floor is a best-observed min and the two-canary protocol
      // adjudicates regressions; "code" (HEAD) stays as information only.
      val srcTexts: Seq[(String, String)] = {
        // source root resolves relative to THIS checkout (sysprop →
        // env → cwd), not a hard-coded path: run from another clone the
        // old constant made srcTexts empty and every fence a shared
        // constant digest — floors silently surviving real code changes
        val root = sys.props.get("graft.bench.srcRoot")
          .orElse(sys.env.get("SPARK_GRAFT_SRC_ROOT"))
          .map(java.nio.file.Paths.get(_))
          .getOrElse(java.nio.file.Paths.get(
            sys.props.getOrElse("user.dir", "."), "src", "main", "scala"))
        if (!java.nio.file.Files.exists(root)) Nil
        else {
          val stream = java.nio.file.Files.walk(root)
          try {
            val it = stream.iterator()
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[(String, String)]
            while (it.hasNext) {
              val p = it.next()
              if (p.toString.endsWith(".scala"))
                buf += ((p.toString, new String(
                  java.nio.file.Files.readAllBytes(p), "UTF-8")))
            }
            buf.sortBy(_._1).toSeq
          } finally stream.close()
        }
      }
      if (srcTexts.isEmpty) {
        // SQL-visible degradation (SHOW ENGINE HEALTH), not just stderr
        graft.Health.benchFenceDisabled.set(true)
        System.err.println("[bench] WARN: no sources under the resolved " +
          "src root — per-query code fences are DISABLED this run " +
          "(prior floors will not carry; set -Dgraft.bench.srcRoot or " +
          "SPARK_GRAFT_SRC_ROOT)")
      }
      def fenceOf(q: String): String = {
        // no sources → NO fence ("", never matching a stored digest):
        // a constant digest here would match every prior floor and let
        // stale floors survive unfenced
        if (srcTexts.isEmpty) return ""
        val md = java.security.MessageDigest.getInstance("SHA-256")
        srcTexts.foreach { case (p, t) =>
          if (t.contains(q)) {
            md.update(p.getBytes("UTF-8")); md.update(t.getBytes("UTF-8"))
          }
        }
        md.digest().take(6).map(b => f"$b%02x").mkString
      }
      val qRe = """"([A-Za-z0-9_]+)":([0-9][0-9.]*)""".r
      val fRe = """"([A-Za-z0-9_]+)":"([0-9a-f]+)"""".r
      val (prevQ, prevFences, prevCanaries, prevRuns) =
        if (java.nio.file.Files.exists(floorPath)) {
          val txt = new String(
            java.nio.file.Files.readAllBytes(floorPath), "UTF-8")
          // scale factor is the only whole-artifact fence left: floors
          // never blend sf dirs; code identity is fenced per query below
          if (!txt.contains(s""""sf":"$sfDir""""))
            (Map.empty[String, Double], Map.empty[String, String], "", 0)
          else {
            val qStart = txt.indexOf("\"queries\":{")
            val qEnd = if (qStart < 0) -1 else txt.indexOf("}", qStart)
            val qm = if (qStart < 0) Map.empty[String, Double]
              else qRe.findAllMatchIn(txt.substring(qStart + 10, qEnd + 1))
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
            val fStart = txt.indexOf("\"fences\":{")
            val fEnd = if (fStart < 0) -1 else txt.indexOf("}", fStart)
            val fm = if (fStart < 0) Map.empty[String, String]
              else fRe.findAllMatchIn(txt.substring(fStart + 9, fEnd + 1))
                .map(m => m.group(1) -> m.group(2)).toMap
            val cStart = txt.indexOf("\"canaries\":[")
            val cEnd = if (cStart < 0) -1 else txt.indexOf("]", cStart)
            val cs = if (cStart < 0) ""
              else txt.substring(cStart + 12, cEnd)
            val runs = """"runs":(\d+)""".r.findFirstMatchIn(txt)
              .map(_.group(1).toInt).getOrElse(0)
            (qm, fm, cs, runs)
          }
        } else (Map.empty[String, Double], Map.empty[String, String], "", 0)
      val cur = results.toMap
      val allKeys = (prevQ.keySet ++ cur.keySet).toSeq.sorted
      val fences = allKeys.map(k => k -> fenceOf(k)).toMap
      // merge rule: same fence → min carries across commits; fence moved
      // → the entry reprices from THIS run (or drops, if not run)
      val merged = allKeys.flatMap { k =>
        val fenceHeld = prevFences.get(k).contains(fences(k))
        (prevQ.get(k).filter(_ => fenceHeld), cur.get(k)) match {
          case (Some(a), Some(b)) => Some(k -> math.min(a, b))
          case (Some(a), None) => Some(k -> a)
          case (None, Some(b)) => Some(k -> b)
          case (None, None) => None
        }
      }
      val mergedJson = merged.map { case (k, v) =>
        s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
      val fencesJson = merged.map { case (k, _) =>
        s"\"" + k + "\":\"" + fences(k) + "\"" }.mkString("{", ",", "}")
      val floorTotal = merged.map(_._2).sum
      val runEntry =
        s"""{"canary_s":$canary,"canary_io_s":${r3(canaryIo)},"total":${r3(total)},"code":"$ref"}"""
      val canaries =
        if (prevCanaries.isEmpty) runEntry else prevCanaries + "," + runEntry
      val floorLine =
        s"""{"metric":"floor","runs":${prevRuns + 1},"code":"$ref","sf":"$sfDir","cpus":$cpus,"reps":$reps,"floor_total":${r3(floorTotal)},"canaries":[$canaries],"fences":$fencesJson,"queries":$mergedJson}"""
      java.nio.file.Files.write(floorPath,
        (floorLine + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] bench_floor.json write failed: $e") }
    spark.stop()
    if (starved) sys.exit(2)
  }
}
