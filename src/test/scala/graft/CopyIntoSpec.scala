package graft

import org.apache.spark.sql.functions._

import graft.ingest.CopyInto

/** COPY INTO semantics: file-level idempotence, incremental pickup,
  * crash-resume without duplication, target-schema authority, the SQL
  * statement surface, and one versioned commit through the write gate
  * per load. */
class CopyIntoSpec extends SparkSuite {
  import spark.implicits._

  test("idempotent loads, incremental pickup, counters") {
    val root = tmpDir("graft-copy")
    val src = s"$root/landing"; val dst = s"$root/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$src/f1")
    val r1 = CopyInto.run(spark, dst, src, "parquet")
    assert(r1 == CopyInto.Result(1L, 2L, 0L), s"first load: $r1")
    assert(spark.read.parquet(dst).count() == 2)
    // re-run: nothing new, nothing loaded
    val r2 = CopyInto.run(spark, dst, src, "parquet")
    assert(r2 == CopyInto.Result(0L, 0L, 1L), s"re-run: $r2")
    assert(spark.read.parquet(dst).count() == 2)
    // a new file lands: only it is loaded
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f2")
    val r3 = CopyInto.run(spark, dst, src, "parquet")
    assert(r3.filesLoaded == 1L && r3.rowsLoaded == 1L && r3.filesSkipped >= 1L)
    assert(rowsOf(spark.read.parquet(dst), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("json sources load through the same manifest path") {
    val root = tmpDir("graft-copy-json")
    val src = s"$root/landing"; val dst = s"$root/table"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$src/a.json"),
      "{\"id\": 1, \"v\": \"x\"}\n{\"id\": 2, \"v\": \"y\"}\n"
        .getBytes("UTF-8"))
    val r = CopyInto.run(spark, dst, src, "json")
    assert(r.filesLoaded == 1L && r.rowsLoaded == 2L, s"json load: $r")
    assert(CopyInto.run(spark, dst, src, "json").filesLoaded == 0L)
    assert(spark.read.parquet(dst).count() == 2)
  }

  test("crash-resume: partial installs never duplicate rows") {
    val root = tmpDir("graft-copy-crash")
    val src = s"$root/landing"; val dst = s"$root/table"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f1")
    CopyInto.run(spark, dst, src, "parquet")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f2")
    // simulate a crash AFTER data install but BEFORE the manifest commit:
    // run normally, then roll the manifest back to the pre-run state
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(dst + ".copy-manifest")
    val before = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    CopyInto.run(spark, dst, src, "parquet")
    val out = fs.create(manifest, true)
    try out.write(before.getBytes("UTF-8")) finally out.close()
    // resume: same fresh list -> same prefix -> partials replaced, not added
    val r = CopyInto.run(spark, dst, src, "parquet")
    assert(r.filesLoaded == 1L, s"resume: $r")
    assert(rowsOf(spark.read.parquet(dst), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b")), "crash replay duplicated rows")
  }

  test("csv with FORMAT_OPTIONS + target schema authority via SQL statement") {
    val root = tmpDir("graft-copy-sql")
    val src = s"$root/landing"; val dst = tmpDir("graft-copy-wh")
    val cat = new graft.catalog.Catalog(spark, dst)
    // existing typed target
    cat.overwriteSnapshot(Seq((1L, 10.5)).toDF("id", "price"),
      "bronze", "copy_t")
    cat.register("bronze", "copy_t")
    new java.io.File(src).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$src/batch.csv"),
      "id,price\n2,20.25\n3,30.75\n".getBytes("UTF-8"))
    val res = graft.sql.GraftSql.sql(spark,
      s"COPY INTO bronze.copy_t FROM '$src' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header' = 'true', 'inferSchema' = 'true')")
      .collect()(0)
    assert(res.getLong(0) == 1L && res.getLong(1) == 2L, s"sql result: $res")
    val t = spark.table("bronze.copy_t")
    // csv columns were cast to the TARGET's types (bigint, double)
    assert(t.schema("id").dataType.typeName == "long")
    assert(rowsOf(t, "id") ==
      Seq(Seq(1L, 10.5), Seq(2L, 20.25), Seq(3L, 30.75)))
    // replay through SQL: no-op
    val res2 = graft.sql.GraftSql.sql(spark,
      s"COPY INTO bronze.copy_t FROM '$src' FILEFORMAT = CSV").collect()(0)
    assert(res2.getLong(0) == 0L && spark.table("bronze.copy_t").count() == 3)
    cat.dropRegistration("bronze", "copy_t")
  }

  private def ids(dst: String): Seq[Long] =
    spark.read.parquet(dst).select("id").as[Long].collect().sorted.toSeq

  test("each non-empty load is one COPY INTO version in the history") {
    val root = tmpDir("graft-copy-hist")
    val src = s"$root/landing"; val dst = s"$root/table"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f1")
    CopyInto.run(spark, dst, src, "parquet")
    CopyInto.run(spark, dst, src, "parquet") // no-op: no version
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f2")
    CopyInto.run(spark, dst, src, "parquet")
    val hist = graft.catalog.Catalog.historyRows(spark, dst)
    assert(hist.map(h => (h._1, h._6)).sortBy(_._1) ==
      Seq(1 -> "COPY INTO", 2 -> "COPY INTO"), s"history: $hist")
    assert(ids(dst) == Seq(1L, 2L))
  }

  test("a CHECK violation leaves no version and no rows") {
    val root = tmpDir("graft-copy-check")
    val src = s"$root/landing"; val dst = s"$root/table"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f1")
    CopyInto.run(spark, dst, src, "parquet")
    graft.catalog.Catalog.addConstraintPath(spark, dst, "pos", "id > 0")
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = graft.layout.SwapProtocol.readPointer(fs, dst)
    Seq((-1L, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f2")
    intercept[IllegalStateException](CopyInto.run(spark, dst, src, "parquet"))
    assert(graft.layout.SwapProtocol.readPointer(fs, dst) == v0)
    assert(ids(dst) == Seq(1L))
  }

  test("a crash at the commit's pointer step, then a re-run, loads each row once") {
    import graft.layout.SwapProtocol
    val root = tmpDir("graft-copy-ptr")
    val src = s"$root/landing"; val dst = s"$root/table"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f1")
    CopyInto.run(spark, dst, src, "parquet")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$src/f2")
    val key = new org.apache.hadoop.fs.Path(dst).toUri.getPath
    SwapProtocol.stepHooks.put(key, step =>
      if (step == "pointer") throw new RuntimeException("crash at pointer"))
    try intercept[RuntimeException](CopyInto.run(spark, dst, src, "parquet"))
    finally SwapProtocol.stepHooks.remove(key)
    // the restart finds the in-flight claim and retired version aged past
    // the grace
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SwapProtocol.readPointer(fs, dst)
    val old = System.currentTimeMillis() - SwapProtocol.HealGraceMs - 1000
    Seq(new org.apache.hadoop.fs.Path(SwapProtocol.historyDir(dst),
        s"_swap_claim_v$cur"), SwapProtocol.versionDir(dst, cur))
      .filter(fs.exists).foreach(fs.setTimes(_, old, -1))
    val r = CopyInto.run(spark, dst, src, "parquet")
    assert(r.filesLoaded == 1L, s"re-run: $r")
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, dst), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(CopyInto.run(spark, dst, src, "parquet").filesLoaded == 0L)
    assert(ids(dst) == Seq(1L, 2L))
  }
}
