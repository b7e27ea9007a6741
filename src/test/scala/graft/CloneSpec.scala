package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.merge.PartitionedMerge

/** DEEP CLONE: physical-copy fidelity, layout preservation, history
  * independence, and the SQL statement. */
class CloneSpec extends SparkSuite {
  import spark.implicits._

  test("clone copies contents and layout; histories are independent") {
    val cat = new Catalog(spark, tmpDir("graft-clone"))
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "src")
    cat.overwriteSnapshot(Seq((1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      "gold", "src") // v2 live
    cat.clone("gold", "src", "gold", "dst")
    val dst = cat.read("gold", "dst")
    assert(rowsOf(dst, "id") == rowsOf(cat.read("gold", "src"), "id"))
    // clone starts fresh: version 1, no inherited log entries
    assert(cat.currentVersion("gold", "dst") == 1)
    assert(cat.listVersions("gold", "dst") == Seq(1))
    // diverge the clone; the source is untouched
    cat.overwriteSnapshot(Seq((9L, "z")).toDF("id", "v"), "gold", "dst")
    assert(cat.read("gold", "src").count() == 3)
    assert(cat.read("gold", "dst").count() == 1)
    assert(cat.currentVersion("gold", "src") == 2)
    // destination collision refuses
    intercept[IllegalArgumentException] {
      cat.clone("gold", "src", "gold", "dst")
    }
  }

  test("VERSION AS OF clone copies a logged version; DRY RUN vacuum lists") {
    val cat = new Catalog(spark, tmpDir("graft-clone-v"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "gold", "vsrc")
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "vsrc") // v2 live
    cat.register("gold", "vsrc")
    graft.sql.GraftSql.sql(spark,
      "CREATE TABLE gold.vclone DEEP CLONE gold.vsrc VERSION AS OF 1")
    assert(rowsOf(spark.table("gold.vclone"), "id") == Seq(Seq(1L, "a")))
    // DRY RUN reports reclaimable paths without deleting them
    cat.overwriteSnapshot(Seq((9L, "z")).toDF("id", "v"), "gold", "vsrc")
    val wouldDelete = graft.sql.GraftSql.sql(spark,
      "VACUUM gold.vsrc DRY RUN").collect().map(_.getString(0))
    assert(cat.listVersions("gold", "vsrc").size == 3,
      "dry run must not reclaim anything")
    assert(graft.sql.GraftSql.sql(spark, "VACUUM gold.vsrc")
      .collect().map(_.getString(0)).toSeq == wouldDelete.toSeq)
    spark.sql("DROP TABLE IF EXISTS gold.vclone")
    spark.sql("DROP TABLE IF EXISTS gold.vsrc")
  }

  test("RESTORE ... TIMESTAMP AS OF resolves through commit times") {
    val cat = new Catalog(spark, tmpDir("graft-restore-ts"))
    cat.overwriteSnapshot(Seq((1L, "one")).toDF("id", "v"), "gold", "rts")
    Thread.sleep(1100) // directory mtimes are second-granular on some FS
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    cat.overwriteSnapshot(Seq((2L, "two")).toDF("id", "v"), "gold", "rts")
    cat.register("gold", "rts")
    graft.sql.GraftSql.sql(spark,
      s"RESTORE TABLE gold.rts TO TIMESTAMP AS OF '$between'")
    // v1 was live at `between` → its contents are the new live version 3
    assert(rowsOf(cat.read("gold", "rts")) == Seq(Seq(1L, "one")))
    assert(cat.currentVersion("gold", "rts") == 3)
    spark.sql("DROP TABLE IF EXISTS gold.rts")
  }

  test("bucketed source: the clone preserves the bucket layout") {
    val root = tmpDir("graft-clone-bkt")
    val src = s"$root/gold/bsrc"; val dst = s"$root/gold/bdst"
    PartitionedMerge.write((1L to 32L).map(i => (i, i * 2)).toDF("id", "v"),
      src, Seq("id"), 4)
    Catalog.clonePath(spark, src, dst)
    val buckets = new java.io.File(dst).listFiles()
      .filter(_.getName.startsWith("gbucket=")).map(_.getName).toSet
    assert(buckets.nonEmpty && buckets == new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("gbucket=")).map(_.getName).toSet,
      s"bucket dirs not preserved: $buckets")
    assert(rowsOf(PartitionedMerge.read(spark, dst), "id") ==
      rowsOf(PartitionedMerge.read(spark, src), "id"))
  }

  test("bucketed clones carry the bucket manifest: INSERT routes and a " +
      "key-local merge prunes, live and VERSION AS OF, deep and shallow") {
    val root = tmpDir("graft-clone-bmeta")
    val src = s"$root/gold/src"
    PartitionedMerge.write((1L to 32L).map(i => (i, i * 2)).toDF("id", "v"),
      src, Seq("id"), 4)
    Catalog.appendPath(spark, Seq((40L, 80L)).toDF("id", "v"), src) // v2
    val srcRows = rowsOf(PartitionedMerge.read(spark, src), "id")
    val upsert: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (t, s) => t.join(s, Seq("id"), "left_anti").unionByName(s)
    for (version <- Seq(None, Some(1)); shallow <- Seq(false, true)) {
      val dst = s"$root/gold/c_${version.getOrElse(0)}_$shallow"
      Catalog.clonePath(spark, src, dst, version, shallow)
      assert(PartitionedMerge.readBucketMeta(spark, dst)
        .contains((Seq("id"), 4)), s"$dst lost its bucket manifest")
      val before = rowsOf(PartitionedMerge.read(spark, dst), "id")
      Catalog.appendPath(spark, Seq((100L, 1L)).toDF("id", "v"), dst)
      val live = new java.io.File(dst).listFiles()
        .map(_.getName).filter(_.startsWith("gbucket=")).toSet
      val v = graft.layout.SwapProtocol.readPointer(
        new org.apache.hadoop.fs.Path(dst).getFileSystem(
          spark.sparkContext.hadoopConfiguration), dst)
      Catalog.mergePath(spark, dst, Seq((2L, 7L)).toDF("id", "v"),
        Seq("id"))(upsert)
      val expected = (before.filterNot(_.head == 2L) ++
        Seq(Seq(2L, 7L), Seq(100L, 1L))).sortBy(_.head.asInstanceOf[Long])
      assert(rowsOf(PartitionedMerge.read(spark, dst), "id") == expected)
      // the merge swapped only the one touched bucket
      val retired = new java.io.File(graft.layout.SwapProtocol
        .versionDir(dst, v).toUri.getPath).listFiles()
        .map(_.getName).filter(_.startsWith("gbucket=")).toSet
      assert(retired.size == 1 && live.contains(retired.head),
        s"key-local merge into the clone retired $retired")
    }
    assert(rowsOf(PartitionedMerge.read(spark, src), "id") == srcRows,
      "writes to a clone reached its source")
  }

  test("SQL: CREATE TABLE dst DEEP CLONE src registers the copy") {
    val cat = new Catalog(spark, tmpDir("graft-clone-sql"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "gold", "csrc")
    cat.register("gold", "csrc")
    graft.sql.GraftSql.sql(spark,
      "CREATE TABLE gold.cdst DEEP CLONE gold.csrc")
    assert(spark.table("gold.cdst").count() == 1)
    assert(rowsOf(spark.table("gold.cdst"), "id") ==
      rowsOf(spark.table("gold.csrc"), "id"))
    cat.dropRegistration("gold", "csrc")
    cat.dropRegistration("gold", "cdst")
  }
}
