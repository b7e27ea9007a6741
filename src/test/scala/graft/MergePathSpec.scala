package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.DeletionVectors
import graft.merge.{MergeEngine, PartitionedMerge}
import graft.pipeline.{GoldLoad, MaterializedAgg}

/** `Catalog.mergePath`, the one MERGE route: every layout gives the rows
  * of the merge program applied to the whole logical table, the bucketed
  * layout's path and bucket count come from the table and never from the
  * caller, and a pruned merge that would drop rows falls back to the full
  * rewrite. */
class MergePathSpec extends SparkSuite {
  import spark.implicits._

  private val t0 = lit("2025-01-01 00:00:00").cast("timestamp")
  private val t1 = lit("2026-01-01 00:00:00").cast("timestamp")

  /** Every column, rows sorted on all of them. */
  private def rows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.toSeq.sorted
    rowsOf(df.select(cols.map(col): _*), cols: _*)
  }

  private def children(dir: String, prefix: String = "gbucket="): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(prefix)).toSet

  private val fourBuckets = (0 until 4).map(b => s"gbucket=$b").toSet

  /** The version log entry a commit from version `v` retired into. */
  private def retiredAt(dir: String, v: Int): String =
    graft.layout.SwapProtocol.versionDir(dir, v).toUri.getPath

  /** A merge program: its keys, a target and a source, and the program
    * given the frame its surrogate-key high-water mark comes from. */
  private case class Program(name: String, keys: Seq[String],
      target: DataFrame, source: DataFrame,
      fn: DataFrame => (DataFrame, DataFrame) => DataFrame)

  private val programs = Seq(
    Program("scd1", Seq("customer_id"),
      (1L to 20L).map(i => (i, s"n$i", s"c${i % 3}"))
        .toDF("customer_id", "name", "city")
        .withColumn("customer_skey", col("customer_id") * 10)
        .withColumn("created_date", t0).withColumn("updated_date", t0)
        .withColumn("change_type", lit("I"))
        .withColumn("hash_value",
          MergeEngine.nullSafeHash(Seq(col("name"), col("city")))),
      Seq((3L, "N3", "c0"), (4L, "n4", "c1"), (25L, "n25", "c2"))
        .toDF("customer_id", "name", "city"),
      base => (t, s) => MergeEngine.scd1(t, s, Seq("customer_id"),
        Seq("name", "city"), "customer_skey", t1, skeyBase = Some(base))),
    Program("scd2", Seq("product_id"),
      (1L to 20L).map(i => (i, s"b$i")).toDF("product_id", "brand")
        .withColumn("product_skey", col("product_id") * 10)
        .withColumn("hash_value", MergeEngine.nullSafeHash(Seq(col("brand"))))
        .withColumn("effective_start_date", t0)
        .withColumn("effective_end_date", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
        .withColumn("insert_date", t0).withColumn("update_date", t0),
      Seq((2L, "B2"), (7L, "b7"), (30L, "b30")).toDF("product_id", "brand"),
      base => (t, s) => MergeEngine.scd2(t, s, Seq("product_id"),
        Seq("brand"), "product_skey", t1, skeyBase = Some(base))),
    Program("upsert", Seq("order_id"),
      (1L to 20L).map(i => (i, i * 1.5)).toDF("order_id", "amount")
        .withColumn("created_dt", t0).withColumn("updated_dt", t0),
      Seq((5L, 99.0), (40L, 1.0)).toDF("order_id", "amount"),
      _ => (t, s) => MergeEngine.upsert(t, s, Seq("order_id"), t1)),
    // MaterializedAgg's refresh program: re-aggregate target ∪ delta
    Program("agg", Seq("g"),
      (1L to 20L).map(i => (i, i * 2L, 1L)).toDF("g", "total", "n"),
      Seq((6L, 5L, 1L), (50L, 1L, 1L)).toDF("g", "total", "n"),
      _ => (t, s) => t.unionByName(s).groupBy("g")
        .agg(sum("total").as("total"), sum("n").as("n"))))

  test("parity: every layout gives the program's rows over the whole " +
      "logical table") {
    for (p <- programs; layout <- Seq("flat", "bucketed-pruned",
        "bucketed-full")) {
      val dir = tmpDir(s"graft-mpath-${p.name}") + "/t"
      val bucketed = layout != "flat"
      if (bucketed) PartitionedMerge.write(p.target, dir, p.keys, 4)
      else Catalog.overwritePath(spark, p.target, dir)
      val target = p.target.collect()
      val whole = spark.createDataFrame(
        java.util.Arrays.asList(target: _*), p.target.schema)
      val expected = rows(p.fn(whole)(whole, p.source))
      val liveBuckets = children(dir)
      // bucketed-full: a merge that declares no key locality (WHEN NOT
      // MATCHED BY SOURCE's shape) rewrites the whole table
      Catalog.mergePath(spark, dir, p.source,
        if (layout == "bucketed-full") Nil else p.keys)(
        p.fn(DeletionVectors.readLogical(spark, dir)))
      val got = DeletionVectors.readLogical(spark, dir)
      assert(rows(got) == expected, s"${p.name} on $layout diverged")
      if (bucketed) {
        assert(children(dir).subsetOf(fourBuckets),
          s"${p.name} on $layout: bucket dirs ${children(dir)}")
        assert(PartitionedMerge.readBucketMeta(spark, dir)
          .contains((p.keys, 4)))
        // the retire entry says which path ran: the touched buckets only
        // (a bucket swap) or the whole previous tree (a full rewrite)
        val retired = children(retiredAt(dir, 1))
        if (layout == "bucketed-pruned")
          assert(retired.nonEmpty && retired.size < liveBuckets.size,
            s"${p.name}: pruned merge retired $retired of $liveBuckets")
        else assert(retired == liveBuckets,
          s"${p.name}: full rewrite retired $retired of $liveBuckets")
      }
    }
  }

  test("a later load's bucket count never re-routes: gold merges stay in " +
      "the first load's layout and keep every row") {
    def load(buckets: Seq[Option[Int]]): Catalog = {
      val cat = new Catalog(spark, tmpDir("graft-mpath-count"))
      buckets.zipWithIndex.foreach { case (b, i) =>
        // run 1 loads 20 keys; run 2 changes 10 of them and adds 2
        val ids = if (i == 0) 1L to 20L else (1L to 10L) ++ Seq(21L, 22L)
        val tag = if (i == 0) "a" else "b"
        GoldLoad.scd1(spark, cat, b, "cust",
          ids.map(k => (k, s"$tag$k")).toDF("customer_id", "name"),
          Seq("customer_id"), Seq("name"), "customer_skey", t1)
        GoldLoad.scd2(spark, cat, b, "prod",
          ids.map(k => (k, s"$tag$k")).toDF("product_id", "brand"),
          Seq("product_id"), Seq("brand"), "product_skey", t1)
        GoldLoad.upsert(spark, cat, b, "fact",
          ids.map(k => (k, k * (i + 1.0))).toDF("order_id", "amount"),
          Seq("order_id"), t1)
      }
      cat
    }
    val flat = load(Seq(None, None))
    val rebucketed = load(Seq(Some(4), Some(8)))
    for ((table, key, n) <- Seq(("cust", "customer_id", 22L),
        ("prod", "product_id", 32L), ("fact", "order_id", 22L))) {
      val got = GoldLoad.read(spark, rebucketed, table)
      assert(got.count() == n, s"gold.$table lost rows")
      assert(rows(got) == rows(GoldLoad.read(spark, flat, table)),
        s"gold.$table diverged from the flat load")
      val dir = rebucketed.path("gold", table)
      assert(children(dir).subsetOf(fourBuckets),
        s"gold.$table left its 4-bucket layout: ${children(dir)}")
      assert(PartitionedMerge.readBucketMeta(spark, dir)
        .contains((Seq(key), 4)))
    }
  }

  test("a pruned merge that moves a row into an untouched bucket is " +
      "rewritten whole, never dropped") {
    val dir = tmpDir("graft-mpath-move") + "/t"
    PartitionedMerge.write((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, Seq("k"), 4)
    def bucket(k: Long) = Seq(k).toDF("k")
      .select(PartitionedMerge.bucketExpr(Seq("k"), 4)).head().getInt(0)
    val moved = (100L to 200L).find(k => bucket(k) != bucket(1L)).get
    Catalog.mergePath(spark, dir, Seq(1L).toDF("k"), Seq("k")) { (t, _) =>
      t.withColumn("k", when(col("k") === 1L, lit(moved)).otherwise(col("k")))
    }
    val got = DeletionVectors.readLogical(spark, dir)
    assert(rows(got) == rows((((2L to 20L).map(i => (i, s"v$i"))) :+
      ((moved, "v1"))).toDF("k", "v")))
    assert(children(retiredAt(dir, 1)).size == 4,
      "the key-moving merge must take the full rewrite")
    // the moved row is where a key lookup hashes it
    assert(PartitionedMerge.readRaw(spark, dir).filter(col("k") === moved)
      .select(PartitionedMerge.BucketCol).head().getInt(0) == bucket(moved))
  }

  test("commit tags ride whole-dir merges; a bucket swap refuses one") {
    val tag = Some(MaterializedAgg.WatermarkTagKey -> "7")
    val upsert: (DataFrame, DataFrame) => DataFrame =
      (t, s) => t.join(s, Seq("k"), "left_anti").unionByName(s)
    val src = Seq((1L, "x")).toDF("k", "v")
    val flat = tmpDir("graft-mpath-tag") + "/t"
    Catalog.overwritePath(spark, Seq((1L, "a")).toDF("k", "v"), flat)
    Catalog.mergePath(spark, flat, src, Seq("k"), commitTag = tag)(upsert)
    assert(Catalog.lastCommitTag(spark, flat, MaterializedAgg.WatermarkTagKey)
      .contains("7"))
    val bucketed = tmpDir("graft-mpath-tag-b") + "/t"
    PartitionedMerge.write(Seq((1L, "a")).toDF("k", "v"), bucketed,
      Seq("k"), 4)
    intercept[IllegalArgumentException] {
      Catalog.mergePath(spark, bucketed, src, Seq("k"), commitTag = tag)(upsert)
    }
    assert(rows(DeletionVectors.readLogical(spark, bucketed)) ==
      Seq(Seq(1L, "a")), "a refused merge must leave the table as it was")
  }
}
