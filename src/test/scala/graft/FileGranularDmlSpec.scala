package graft

import org.apache.spark.sql.functions._

import graft.layout.{DataSkipping, DeletionVectors, FileGranularDml}

/** File-granular copy-on-write DML on flat and hive-partitioned
  * snapshots: only files holding matched rows are rewritten (inode
  * identity for the rest), the version law holds, and the skipping
  * manifest / DV sidecar compose. */
class FileGranularDmlSpec extends SparkSuite {
  import spark.implicits._

  private def dataFileKeys(dir: String): Map[String, Object] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map { f =>
      f.getName -> java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }.toMap
  }

  /** 1..400 range-partitioned on id into 8 files — a predicate on an id
    * band touches a strict subset of files. */
  private def mkTable(): String = {
    val dir = tmpDir("fgdml") + "/t"
    (1L to 400L).map(i => (i, i % 7, s"p$i")).toDF("id", "g", "v")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(dir)
    dir
  }

  test("DELETE rewrites only the files holding matches; the rest keep inodes") {
    val dir = mkTable()
    val before = dataFileKeys(dir)
    assert(before.size == 8)
    // ids 30..60 live in the first two range files
    val n = FileGranularDml.deleteWhere(spark, dir,
      col("id") >= 30 && col("id") <= 60)
    assert(n == 31)
    val after = dataFileKeys(dir)
    val kept = before.filter { case (name, k) => after.get(name).contains(k) }
    assert(kept.size >= 6,
      s"expected >= 6 untouched files, got ${kept.size}")
    assert(before.keys.exists(k => !after.contains(k)),
      "the matched files must be rewritten under new names")
    val got = spark.read.parquet(dir)
    assert(got.count() == 369)
    assert(got.filter(col("id") >= 30 && col("id") <= 60).count() == 0)
    // a real version: pre-delete state reconstructs
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.layout.SwapProtocol.readPointer(fs, dir) == 2)
    assert(spark.read.parquet(
      graft.catalog.Catalog.resolveVersionPath(spark, dir, 1)).count() == 400)
    // no-match delete commits nothing
    assert(FileGranularDml.deleteWhere(spark, dir, col("id") === -1L) == 0)
    assert(graft.layout.SwapProtocol.readPointer(fs, dir) == 2)
  }

  test("UPDATE rewrites matched files only; non-matching rows in them pass through") {
    val dir = mkTable()
    val before = dataFileKeys(dir)
    val n = FileGranularDml.updateWhere(spark, dir,
      col("id").between(100, 110), Seq("v" -> lit("UPD")))
    assert(n == 11)
    val after = dataFileKeys(dir)
    assert(before.count { case (k, v) => after.get(k).contains(v) } >= 6)
    val got = spark.read.parquet(dir)
    assert(got.count() == 400)
    assert(got.filter(col("v") === "UPD").count() == 11)
    // a row sharing a file with matches but not matching is untouched
    assert(rowsOf(got.filter(col("id") === 99L)).head(2) == "p99")
  }

  test("existing DV sidecar: linked files' positions carry, rewritten files' fold") {
    val dir = mkTable()
    DeletionVectors.enable(spark, dir)
    // MoR delete leaves a sidecar with positions spread over many files
    assert(DeletionVectors.deleteWhere(spark, dir, col("g") === 3) > 0)
    val dvBefore = DeletionVectors.dvRowCount(spark, dir)
    assert(dvBefore > 0)
    DeletionVectors.disable(spark, dir)
    val expect = rowsOf(DeletionVectors.readPath(spark, dir)
      .filter(!(col("id") <= 50)), "id")
    // CoW file-granular delete on an id band: its files fold their
    // positions, the others keep theirs
    val n = FileGranularDml.deleteWhere(spark, dir, col("id") <= 50)
    assert(n == 50 - 7) // 7 of ids 1..50 have g == 3, already deleted
    assert(DeletionVectors.hasDv(spark, dir),
      "sidecar for untouched files must survive")
    assert(DeletionVectors.dvRowCount(spark, dir) < dvBefore,
      "rewritten files' positions must fold away")
    assert(rowsOf(DeletionVectors.readPath(spark, dir), "id") == expect)
    assert(spark.read.parquet(dir + "/_dv").count() ==
      DeletionVectors.dvRowCount(spark, dir))
  }

  test("skipping manifest: surviving entries carried, pruned reads stay exact") {
    val dir = mkTable()
    DataSkipping.analyze(spark, dir, Seq("id"))
    FileGranularDml.deleteWhere(spark, dir, col("id").between(1, 40))
    // the pruned read must not chase the rewritten (vanished) files and
    // must equal the plain filter
    val pruned = DataSkipping.read(spark, dir, Seq(
      DataSkipping.Range("id", Some(200L), Some(260L))))
    val plain = spark.read.parquet(dir)
      .filter(col("id").between(200, 260))
    assert(rowsOf(pruned.select("id", "g", "v"), "id") ==
      rowsOf(plain.select("id", "g", "v"), "id"))
    // and it still prunes: fewer input files than the table holds
    assert(pruned.inputFiles.length < spark.read.parquet(dir)
      .inputFiles.length,
      "carried manifest stopped pruning")
  }

  test("SQL DELETE/UPDATE on a flat registered table routes file-granular") {
    val dir = mkTable()
    spark.sql("CREATE SCHEMA IF NOT EXISTS fg")
    spark.sql(s"CREATE TABLE fg.t USING parquet LOCATION '$dir'")
    try {
      val before = dataFileKeys(dir)
      val del = graft.sql.GraftSql.sql(spark,
        "DELETE FROM fg.t WHERE id <= 45").collect()
      assert(del.head.getLong(0) == 45)
      val after = dataFileKeys(dir)
      assert(before.count { case (k, v) => after.get(k).contains(v) } >= 6,
        "SQL DELETE must keep untouched files' inodes")
      val upd = graft.sql.GraftSql.sql(spark,
        "UPDATE fg.t SET v = 'X' WHERE id = 300").collect()
      assert(upd.head.getLong(0) == 1)
      assert(spark.read.parquet(dir).filter(col("v") === "X").count() == 1)
      assert(spark.read.parquet(dir).count() == 355)
    } finally spark.sql("DROP TABLE IF EXISTS fg.t")
  }

  test("UPDATE violating a CHECK constraint aborts; table intact") {
    val dir = mkTable()
    graft.catalog.Catalog.addConstraintPath(spark, dir, "g_range",
      "g >= 0 AND g < 7")
    val before = rowsOf(spark.read.parquet(dir), "id")
    intercept[IllegalStateException] {
      FileGranularDml.updateWhere(spark, dir, col("id") === 5L,
        Seq("g" -> lit(99L)))
    }
    assert(rowsOf(spark.read.parquet(dir), "id") == before)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.layout.SwapProtocol.readPointer(fs, dir) == 1)
  }

  /** A hive table whose one writing task named its file alike in both
    * partition dirs: `p=a` holds id 1, `p=b` holds id 2. */
  private def mkHive(): (String, String) = {
    val dir = tmpDir("fgdml-hive") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").coalesce(1)
      .write.partitionBy("p").parquet(dir)
    val names = Seq("a", "b").map(p => new java.io.File(s"$dir/p=$p")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq)
    assert(names(0) == names(1) && names(0).size == 1,
      s"expected one same-named file per partition: $names")
    (dir, names(0).head)
  }

  private def inode(f: String): Object = java.nio.file.Files.readAttributes(
    java.nio.file.Paths.get(f),
    classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  test("hive DELETE rewrites one of two same-named files; the other keeps its rows and inode") {
    val (dir, name) = mkHive()
    val other = inode(s"$dir/p=b/$name")
    assert(graft.catalog.Catalog.deleteWherePath(spark, dir,
      col("id") === 1L) == 1)
    assert(rowsOf(spark.read.parquet(dir), "id") == Seq(Seq(2L, "b")))
    assert(inode(s"$dir/p=b/$name") == other,
      "the untouched partition's file must be linked, not rewritten")
    assert(!new java.io.File(s"$dir/p=a").exists())
  }

  test("hive UPDATE of the partition column moves the row to its new dir") {
    val (dir, name) = mkHive()
    val other = inode(s"$dir/p=b/$name")
    assert(graft.catalog.Catalog.updateWherePath(spark, dir,
      col("id") === 1L, Seq("p" -> lit("b"))) == 1)
    assert(rowsOf(spark.read.parquet(dir), "id") ==
      Seq(Seq(1L, "b"), Seq(2L, "b")))
    assert(!new java.io.File(s"$dir/p=a").exists())
    assert(inode(s"$dir/p=b/$name") == other)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.catalog.Catalog.partitionColsOf(fs, dir) == Seq("p"))
  }
}
