package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.merge.{MergeEngine, PartitionedMerge}

/** Partition-pruned merge must (a) produce byte-identical results to the
  * full-table merge program and (b) physically leave untouched bucket
  * directories alone — the file-pruning property that makes merge
  * O(touched partitions) at 100 TB. */
class PartitionedMergeSpec extends SparkSuite {

  private val keys = Seq("k")
  private val tracked = Seq("a", "b")
  private val nBuckets = 8
  private val fixedNow = to_timestamp(lit("2026-01-01 12:00:00"))

  private def dim(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"attr$i", i * 10L)).toDF("k", "a", "b")
      .withColumn("customer_skey", col("k") + 1000L)
      .withColumn("created_date", to_timestamp(lit("2025-06-01 00:00:00")))
      .withColumn("updated_date", to_timestamp(lit("2025-06-01 00:00:00")))
      .withColumn("change_type", lit("I"))
      .withColumn("hash_value",
        MergeEngine.nullSafeHash(Seq(col("a"), col("b"))))
  }

  private def fileState(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir))
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("pruned merge == full merge; untouched buckets physically unchanged") {
    import spark.implicits._
    val path = tmpDir("pmerge") + "/dim"
    val target = dim(60)
    PartitionedMerge.write(target, path, keys, nBuckets)

    // source: update two existing keys, insert one new key
    val source = Seq(
      (7L, "attr7-CHANGED", 70L),
      (13L, "attr13-CHANGED", 131L),
      (999L, "attr999", 9990L)).toDF("k", "a", "b")
    val touchedExpected = source
      .select(PartitionedMerge.bucketExpr(keys, nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet

    val before = fileState(path)

    val touched = PartitionedMerge.prunedMerge(
      spark, path, source) { (pruned, src) =>
      MergeEngine.scd1(pruned, src, keys, tracked, "customer_skey",
        fixedNow, skeyBase = Some(PartitionedMerge.read(spark, path)))
    }
    assert(touched.toSet == touchedExpected)
    assert(touched.size < nBuckets, "test must leave some buckets untouched")

    // (a) result identical to the full-table merge program
    val expected = MergeEngine.scd1(target, source, keys, tracked,
      "customer_skey", fixedNow)
    val got = PartitionedMerge.read(spark, path)
    assert(rowsOf(got, "k") == rowsOf(expected, "k"))

    // (b) untouched bucket files: same paths, same mtimes
    val after = fileState(path)
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"${PartitionedMerge.BucketCol}=$b/")) }
    untouchedBefore.foreach { case (p, mtime) =>
      assert(after.get(p).contains(mtime), s"untouched file rewritten: $p")
    }
    // and touched buckets were rewritten
    assert(before.keys.exists(p =>
      touched.exists(b => p.contains(s"${PartitionedMerge.BucketCol}=$b/"))
        && !after.contains(p)))
  }

  test("pruned scan pushes the bucket predicate to partition level") {
    val path = tmpDir("pmerge2") + "/dim"
    PartitionedMerge.write(dim(60), path, keys, nBuckets)
    val pruned = spark.read.parquet(path)
      .filter(col(PartitionedMerge.BucketCol).isin(Int.box(0), Int.box(1)))
    pruned.count()
    // the bucket predicate must land in the scan's PartitionFilters (which
    // is what makes the FileIndex skip untouched directories), not remain
    // a post-scan data filter
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains(PartitionedMerge.BucketCol),
      s"bucket predicate not pushed to partition level: $scanLine")
  }

  test("every merge is a version: readVersion reconstructs each state across two merges") {
    import spark.implicits._
    val path = tmpDir("pmerge3") + "/dim"
    val target = dim(20)
    PartitionedMerge.write(target, path, keys, nBuckets)
    val s1 = Seq((3L, "v2", 31L)).toDF("k", "a", "b")
    val s2 = Seq((3L, "v3", 32L), (999L, "new", 1L)).toDF("k", "a", "b")
    def run(src: DataFrame) =
      PartitionedMerge.prunedMerge(spark, path, src) {
        (t, s) => MergeEngine.scd1(t, s, keys, tracked, "customer_skey",
          fixedNow, skeyBase = Some(PartitionedMerge.read(spark, path)))
      }
    val afterS1 = MergeEngine.scd1(target, s1, keys, tracked,
      "customer_skey", fixedNow)
    val afterS2 = MergeEngine.scd1(afterS1, s2, keys, tracked,
      "customer_skey", fixedNow)
    run(s1); run(s2)
    // live state is version 3 and correct
    assert(rowsOf(PartitionedMerge.read(spark, path), "k")
      == rowsOf(afterS2, "k"))
    // each historical version reconstructs: untouched buckets come from the
    // live dir, touched ones from the earliest retire entry at or after v
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 1), "k")
      == rowsOf(target, "k"))
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 2), "k")
      == rowsOf(afterS1, "k"))
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 3), "k")
      == rowsOf(afterS2, "k"))
    // key 999 was born in version 3: version 2 must NOT contain it even
    // though its bucket only has a live copy plus an empty retire marker
    assert(PartitionedMerge.readVersion(spark, path, 2)
      .filter(col("k") === 999L).count() == 0)
    // SQL VERSION AS OF over a registered bucketed table reads the same
    // reconstruction (bucket column retained, like the live relation)
    spark.sql("CREATE SCHEMA IF NOT EXISTS pm")
    spark.sql(s"CREATE TABLE IF NOT EXISTS pm.dim_tt USING parquet LOCATION '$path'")
    try {
      assert(graft.sql.GraftSql.sql(spark,
        "SELECT count(*) AS c FROM pm.dim_tt VERSION AS OF 2")
        .collect()(0).getLong(0) == afterS1.count())
      assert(graft.sql.GraftSql.sql(spark,
        "SELECT count(*) AS c FROM pm.dim_tt VERSION AS OF 3")
        .collect()(0).getLong(0) == afterS2.count())
      // TIMESTAMP AS OF on a bucketed table resolves through the
      // per-version commit-time markers every bucket swap stamps
      assert(graft.sql.GraftSql.sql(spark,
        "SELECT count(*) AS c FROM pm.dim_tt TIMESTAMP AS OF now()")
        .collect()(0).getLong(0) == afterS2.count())
    } finally spark.sql("DROP TABLE IF EXISTS pm.dim_tt")
  }

  test("compact packs oversized buckets into target-sized files as a new version") {
    import spark.implicits._
    val path = tmpDir("pmerge-compact") + "/dim"
    // many small files per bucket: write each row group separately
    PartitionedMerge.write(dim(40).repartition(16), path, keys, nBuckets)
    val before = fileState(path)
    val rowsBefore = rowsOf(PartitionedMerge.read(spark, path), "k")
    // a large target: every bucket should pack to a single file
    val touched = PartitionedMerge.compact(spark, path, 512L * 1024 * 1024)
    assert(touched.nonEmpty, "expected oversized buckets to compact")
    val after = fileState(path)
    assert(after.size < before.size,
      s"file count did not drop: ${before.size} -> ${after.size}")
    touched.foreach { b =>
      val n = after.keys.count(_.contains(s"${PartitionedMerge.BucketCol}=$b/"))
      assert(n == 1, s"bucket $b has $n files after compaction")
    }
    // contents unchanged, history gained a version, old state reconstructs
    assert(rowsOf(PartitionedMerge.read(spark, path), "k") == rowsBefore)
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 1), "k")
      == rowsBefore)
    // compacting again is a no-op: everything already meets the target
    assert(PartitionedMerge.compact(spark, path, 512L * 1024 * 1024).isEmpty)
  }
}
