package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** Column DDL (RENAME/DROP COLUMN as versioned rewrites) and SHALLOW
  * CLONE (hard-link tree): semantics, dependency guards, per-version
  * schema under time travel, and both SQL entry paths. */
class SchemaDdlSpec extends SparkSuite {
  import spark.implicits._

  /** Session WITH the parser extension (MergeSqlSpec's pattern). */
  private lazy val sqlSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ddl-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("renameColumn rewrites as a new version; old versions keep the old name") {
    val cat = new Catalog(spark, tmpDir("graft-rencol"))
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "val"),
      "silver", "r1")
    cat.renameColumn("silver", "r1", "val", "label")
    val live = cat.read("silver", "r1")
    assert(live.columns.toSeq == Seq("id", "label"))
    assert(rowsOf(live, "id") == Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(cat.currentVersion("silver", "r1") == 2)
    // time travel reads the retired version under its own (old) schema —
    // the per-version schema Delta's column mapping preserves
    assert(cat.readVersion("silver", "r1", 1).columns.toSeq ==
      Seq("id", "val"))
    // rename guards: missing source, existing target, bad identifier
    intercept[IllegalArgumentException] {
      cat.renameColumn("silver", "r1", "nope", "x") }
    intercept[IllegalArgumentException] {
      cat.renameColumn("silver", "r1", "label", "ID") }
    intercept[IllegalArgumentException] {
      cat.renameColumn("silver", "r1", "label", "bad-name") }
  }

  test("rename/drop refuse on constraint- or generated-referenced columns") {
    val cat = new Catalog(spark, tmpDir("graft-refguard"))
    cat.overwriteSnapshot(Seq((1L, 5.0, "x")).toDF("id", "score", "tag"),
      "silver", "g1")
    cat.addConstraint("silver", "g1", "pos_score", "score >= 0")
    cat.addGeneratedColumn("silver", "g1", "id2", "id * 2")
    val e1 = intercept[IllegalArgumentException] {
      cat.renameColumn("silver", "g1", "score", "points") }
    assert(e1.getMessage.contains("pos_score"))
    val e2 = intercept[IllegalArgumentException] {
      cat.dropColumn("silver", "g1", "id") } // referenced by generated id2
    assert(e2.getMessage.contains("id2"))
    // the generated column itself can be neither renamed nor dropped
    intercept[IllegalArgumentException] {
      cat.renameColumn("silver", "g1", "id2", "zz") }
    // a literal mentioning the name is NOT a reference (parsed, not grepped)
    cat.addConstraint("silver", "g1", "tag_lit", "tag != 'score'")
    cat.dropGeneratedColumn("silver", "g1", "id2")
    cat.dropConstraint("silver", "g1", "pos_score")
    cat.renameColumn("silver", "g1", "score", "points") // now allowed
    assert(cat.read("silver", "g1").columns.contains("points"))
  }

  test("adding a generated or identity column keeps a bucketed table bucketed") {
    import graft.merge.PartitionedMerge
    val dir = tmpDir("graft-ddl-bkt") + "/t"
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionedMerge.write((1L to 8L).map(k => (k, k)).toDF("k", "v"), dir,
      Seq("k"), 4)
    Catalog.addGeneratedColumnPath(spark, dir, "v2", "v * 2")
    assert(Catalog.partitionColsOf(f, dir) == Seq(PartitionedMerge.BucketCol))
    // a one-key merge must still see the other seven rows
    PartitionedMerge.prunedMerge(spark, dir,
      Seq((1L, 100L)).toDF("k", "v")) { (t, s) =>
      t.select(s.columns.map(col).toSeq: _*)
        .join(s.select("k"), Seq("k"), "left_anti").unionByName(s)
    }
    val rows = rowsOf(PartitionedMerge.read(spark, dir), "k")
    assert(rows.length == 8)
    assert(rows.head == Seq(1L, 100L, 200L))
    Catalog.addIdentityColumnPath(spark, dir, "id")
    assert(Catalog.partitionColsOf(f, dir) == Seq(PartitionedMerge.BucketCol))
    assert(PartitionedMerge.read(spark, dir).select("id").as[Long].collect()
      .sorted.toSeq == (1L to 8L))
  }

  test("dropColumn rewrites without the column; multi-drop is one version") {
    val cat = new Catalog(spark, tmpDir("graft-dropcol"))
    cat.overwriteSnapshot(
      Seq((1L, "a", 1.0, true)).toDF("id", "s", "x", "flag"),
      "silver", "d1")
    Catalog.dropColumnsPath(spark, cat.path("silver", "d1"),
      Seq("x", "flag"))
    assert(cat.read("silver", "d1").columns.toSeq == Seq("id", "s"))
    assert(cat.currentVersion("silver", "d1") == 2) // ONE rewrite for both
    assert(cat.readVersion("silver", "d1", 1).columns.length == 4)
    // cannot drop to zero data columns
    intercept[IllegalArgumentException] {
      Catalog.dropColumnsPath(spark, cat.path("silver", "d1"),
        Seq("id", "s"))
    }
  }

  test("RENAME/DROP COLUMN SQL lowers onto the rewrite in both parser paths") {
    val wh = tmpDir("graft-ddl-sql")
    val cat = new Catalog(spark, wh)
    cat.overwriteSnapshot(Seq((1L, "a", 9.0)).toDF("id", "v", "junk"),
      "silver", "t1")
    cat.register("silver", "t1")
    // extension-less universal entry
    graft.sql.GraftSql.sql(spark,
      "ALTER TABLE silver.t1 RENAME COLUMN v TO label")
    assert(spark.table("silver.t1").columns.toSeq ==
      Seq("id", "label", "junk"),
      "registration must be rebuilt (v1 metastore schema is pinned)")
    graft.sql.GraftSql.sql(spark, "ALTER TABLE silver.t1 DROP COLUMN junk")
    assert(spark.table("silver.t1").columns.toSeq == Seq("id", "label"))
    assert(cat.currentVersion("silver", "t1") == 3)
    assert(rowsOf(spark.table("silver.t1")) == Seq(Seq(1L, "a")))
    spark.sql("DROP TABLE silver.t1")

    // extension session: the same statements through plain spark.sql
    val s = sqlSpark
    val cat2 = new Catalog(s, tmpDir("graft-ddl-sql2"))
    import s.implicits._
    cat2.overwriteSnapshot(Seq((7L, "z", 1)).toDF("id", "v", "junk"),
      "silver", "t2")
    cat2.register("silver", "t2")
    s.sql("ALTER TABLE silver.t2 RENAME COLUMN v TO w")
    s.sql("ALTER TABLE silver.t2 DROP COLUMNS (junk)")
    assert(s.table("silver.t2").columns.toSeq == Seq("id", "w"))
    s.sql("DROP TABLE silver.t2")
  }

  test("SHALLOW CLONE hard-links the live files; source and clone diverge") {
    val wh = tmpDir("graft-shclone")
    val cat = new Catalog(spark, wh)
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "src")
    cat.shallowClone("gold", "src", "gold", "dst")
    assert(rowsOf(cat.read("gold", "dst"), "id") ==
      rowsOf(cat.read("gold", "src"), "id"))
    assert(cat.currentVersion("gold", "dst") == 1) // fresh history
    // zero-copy: every cloned data file shares its inode with the source
    // (link count >= 2 — the point of SHALLOW)
    val dstDir = java.nio.file.Paths.get(wh, "gold", "dst")
    val dataFiles = java.nio.file.Files.list(dstDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { p =>
      val n = java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(n >= 2, s"$p is not hard-linked (nlink=$n)")
    }
    // diverge the source: a new snapshot replaces the source's file NAMES,
    // but the clone's links keep the shared inodes alive — clone unchanged
    cat.overwriteSnapshot(Seq((9L, "z")).toDF("id", "v"), "gold", "src")
    (1 to 12).foreach { i => // push v1 out of the source's retention window
      cat.overwriteSnapshot(Seq((i.toLong, "w")).toDF("id", "v"),
        "gold", "src")
    }
    cat.vacuum("gold", "src")
    assert(rowsOf(cat.read("gold", "dst"), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b")),
      "clone must survive source VACUUM (inode lives while any link does)")
    // destination collision refuses
    intercept[IllegalArgumentException] {
      cat.shallowClone("gold", "src", "gold", "dst")
    }
  }

  test("CREATE TABLE ... SHALLOW CLONE statement in both parser paths") {
    val cat = new Catalog(spark, tmpDir("graft-shclone-sql"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "gold", "ssrc")
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "ssrc")
    cat.register("gold", "ssrc")
    graft.sql.GraftSql.sql(spark,
      "CREATE TABLE gold.sdst SHALLOW CLONE gold.ssrc VERSION AS OF 1")
    assert(rowsOf(spark.table("gold.sdst"), "id") == Seq(Seq(1L, "a")))
    Seq("gold.sdst", "gold.ssrc")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // extension session (its own in-memory catalog — register there)
    val s = sqlSpark
    val cat2 = new Catalog(s, tmpDir("graft-shclone-sql2"))
    import s.implicits._
    cat2.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "ssrc2")
    cat2.register("gold", "ssrc2")
    s.sql("CREATE TABLE gold.sdst2 SHALLOW CLONE gold.ssrc2")
    assert(s.table("gold.sdst2").count() == 2)
    Seq("gold.sdst2", "gold.ssrc2")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rename preserves the data-skipping recipe under the new name") {
    val cat = new Catalog(spark, tmpDir("graft-ren-skip"))
    cat.overwriteSnapshot(
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "score"),
      "silver", "sk1")
    cat.analyzeSkipping("silver", "sk1", Seq("score"))
    cat.renameColumn("silver", "sk1", "score", "points")
    val recipe = graft.layout.DataSkipping.analyzedColumns(spark,
      cat.path("silver", "sk1"))
    assert(recipe.map(_._1) == Some(Seq("points")),
      s"skipping recipe must follow the rename, got $recipe")
    // and the renamed-column pruned read still equals the plain filter
    val pruned = cat.readSkipping("silver", "sk1",
      Seq(graft.layout.DataSkipping.Range("points", Some(100.0), None)))
    assert(pruned.count() ==
      cat.read("silver", "sk1").filter(col("points") >= 100.0).count())
  }

  test("the schema sidecar survives bucketed column DDL and flat row-level DML") {
    import graft.merge.PartitionedMerge
    val bdir = tmpDir("graft-sidecar-b") + "/t"
    PartitionedMerge.write(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), bdir,
      Seq("k"), 4)
    Catalog.addGeneratedColumnPath(spark, bdir, "v2", "v * 2")
    assert(PartitionedMerge.schemaOf(spark, bdir).map(_.fieldNames.toSeq) ==
      Some(Seq("k", "v", "v2", PartitionedMerge.BucketCol)))
    val fdir = tmpDir("graft-sidecar-f") + "/t"
    Catalog.overwritePath(spark, Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("k", "v"), fdir)
    def flatSchema() =
      PartitionedMerge.schemaOf(spark, fdir).map(_.fieldNames.toSeq)
    assert(flatSchema() == Some(Seq("k", "v")))
    graft.layout.DeletionVectors.deleteWhere(spark, fdir, col("k") === 1L)
    assert(flatSchema() == Some(Seq("k", "v")), "lost by the DV delete")
    graft.layout.FileGranularDml.updateWhere(spark, fdir, col("k") === 2L,
      Seq("v" -> lit(20L)))
    assert(flatSchema() == Some(Seq("k", "v")),
      "lost by the file-granular update")
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, fdir), "k") ==
      Seq(Seq(2L, 20L), Seq(3L, 3L)))
  }
}
