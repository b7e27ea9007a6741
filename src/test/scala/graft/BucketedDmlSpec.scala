package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.layout.{BucketedDml, DeletionVectors}
import graft.merge.PartitionedMerge
import graft.layout.SwapProtocol

/** Row-level DML on bucket-partitioned tables: merge-on-read deletion
  * vectors and copy-on-write rewrites must (a) agree with the logical
  * semantics, (b) physically leave untouched buckets alone (inode
  * identity), and (c) commit real versions (time travel sees each
  * state). */
class BucketedDmlSpec extends SparkSuite {
  import spark.implicits._

  private val keys = Seq("k")
  private val nBuckets = 8

  private def mkTable(n: Int): (String, DataFrame) = {
    val path = tmpDir("bdml") + "/t"
    val df = (1 to n).map(i => (i.toLong, s"v$i", i % 5)).toDF("k", "v", "g")
    PartitionedMerge.write(df, path, keys, nBuckets)
    (path, df)
  }

  /** (path -> unix fileKey) for every DATA file under the table tree —
    * inode identity proves untouched bytes. */
  private def dataFileKeys(dir: String): Map[String, Object] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        f.listFiles().toSeq
          .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
          .flatMap(walk)
      else Seq(f)
    walk(new File(dir)).map { f =>
      f.getAbsolutePath -> java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }.toMap
  }

  private def bucketOf(k: Long): Int =
    Seq(k).toDF("k").select(PartitionedMerge.bucketExpr(keys, nBuckets))
      .collect()(0).getInt(0)

  test("MoR delete: per-bucket sidecar, data files untouched everywhere, versioned") {
    val (path, df) = mkTable(100)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFileKeys(path)

    val n = BucketedDml.deleteWhereMor(spark, path, col("g") === 2)
    assert(n == 20)
    // merge-on-read: every pre-delete data file survived with its inode
    val after = dataFileKeys(path)
    assert(before.forall { case (p, k) => after.get(p).contains(k) },
      "MoR delete must not rewrite any data file")
    assert(DeletionVectors.dvRowCount(spark, path) == 20)
    assert(DeletionVectors.hasDv(spark, path))
    // sidecars live INSIDE their buckets (retire/clone/travel with them)
    val dvBuckets = PartitionedMerge.liveBucketDirs(fs, path)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_dv")))
    assert(dvBuckets.nonEmpty)

    // reads subtract everywhere: PartitionedMerge.read and readPath
    assert(PartitionedMerge.read(spark, path).count() == 80)
    assert(PartitionedMerge.read(spark, path)
      .filter(col("g") === 2).count() == 0)
    assert(DeletionVectors.readPath(spark, path).count() == 80)
    // a real version: pre-delete state reconstructs
    assert(PartitionedMerge.readVersion(spark, path, 1).count() == 100)
    assert(PartitionedMerge.readVersion(spark, path, 2).count() == 80)
    // re-deleting the same predicate is a no-op (no version minted)
    val cur = graft.layout.SwapProtocol.readPointer(fs, path)
    assert(BucketedDml.deleteWhereMor(spark, path, col("g") === 2) == 0)
    assert(graft.layout.SwapProtocol.readPointer(fs, path) == cur)
  }

  test("MoR update: one commit, old files linked, moved keys re-route buckets") {
    val (path, _) = mkTable(60)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFileKeys(path)

    // plain attribute update: rows stay in their buckets
    val n1 = BucketedDml.updateWhereMor(spark, path,
      col("k") <= 5, Seq("v" -> concat(col("v"), lit("-upd"))))
    assert(n1 == 5)
    val after1 = dataFileKeys(path)
    assert(before.forall { case (p, k) => after1.get(p).contains(k) },
      "MoR update must not rewrite pre-update files")
    assert(after1.size > before.size, "updated images land in new files")
    val got1 = PartitionedMerge.read(spark, path)
    assert(got1.count() == 60)
    assert(rowsOf(got1.filter(col("k") <= 5), "k").map(_(1)) ==
      (1 to 5).map(i => s"v$i-upd"))

    // KEY update: the row must MOVE to its new hash bucket
    val oldB = bucketOf(7L); val newB = bucketOf(7007L)
    assert(oldB != newB, "fixture must move buckets; pick another key")
    val n2 = BucketedDml.updateWhereMor(spark, path,
      col("k") === 7L, Seq("k" -> lit(7007L)))
    assert(n2 == 1)
    val got2 = PartitionedMerge.read(spark, path)
    assert(got2.filter(col("k") === 7L).count() == 0)
    assert(got2.filter(col("k") === 7007L).count() == 1)
    // physically in the right bucket dir (bucket pruning must find it)
    val inNew = spark.read.parquet(s"$path/gbucket=$newB")
    assert(inNew.filter(col("k") === 7007L).count() == 1,
      s"moved row must land in bucket $newB")
    // and the pruned read subtracts the old image via the old bucket's DV
    val inOld = graft.layout.DeletionVectors.readPath(spark, path)
      .filter(col("gbucket") === oldB)
    assert(inOld.filter(col("k") === 7L).count() == 0)
  }

  test("CoW delete (mode off): only matched buckets rewritten, history reconstructs") {
    val (path, _) = mkTable(60)
    val before = dataFileKeys(path)
    val victims = Seq(3L, 11L)
    val victimBuckets = victims.map(bucketOf).toSet
    val n = BucketedDml.deleteWhereCow(spark, path,
      col("k").isin(victims.map(Long.box): _*))
    assert(n == 2)
    val after = dataFileKeys(path)
    val untouched = before.filterNot { case (p, _) =>
      victimBuckets.exists(b => p.contains(s"gbucket=$b/")) }
    untouched.foreach { case (p, k) =>
      assert(after.get(p).contains(k), s"untouched bucket file rewritten: $p")
    }
    assert(before.keys.exists(p =>
      victimBuckets.exists(b => p.contains(s"gbucket=$b/")) &&
        !after.contains(p)),
      "matched buckets must be rewritten")
    // no sidecar in copy-on-write mode
    assert(!DeletionVectors.hasDv(spark, path))
    assert(PartitionedMerge.read(spark, path).count() == 58)
    assert(PartitionedMerge.readVersion(spark, path, 1).count() == 60)
  }

  test("CoW update with key reassignment moves the row across buckets") {
    val (path, _) = mkTable(40)
    val oldB = bucketOf(9L); val newB = bucketOf(9009L)
    assert(oldB != newB)
    val n = BucketedDml.updateWhereCow(spark, path,
      col("k") === 9L, Seq("k" -> lit(9009L), "v" -> lit("moved")))
    assert(n == 1)
    val got = PartitionedMerge.read(spark, path)
    assert(got.count() == 40)
    assert(rowsOf(got.filter(col("k") === 9009L)).head(1) == "moved")
    assert(spark.read.parquet(s"$path/gbucket=$newB")
      .filter(col("k") === 9009L).count() == 1)
    assert(spark.read.parquet(s"$path/gbucket=$oldB")
      .filter(col("k") === 9L).count() == 0)
  }

  test("catalog API routes bucketed tables; DV mode flips between MoR and CoW") {
    val wh = tmpDir("bdml-cat")
    val cat = new graft.catalog.Catalog(spark, wh)
    val dir = cat.path("gold", "dim")
    PartitionedMerge.write(
      (1 to 50).map(i => (i.toLong, s"a$i")).toDF("k", "v"),
      dir, keys, nBuckets)
    val before = dataFileKeys(dir)
    cat.enableDeletionVectors("gold", "dim")
    assert(cat.deleteWhere("gold", "dim", col("k") <= 10) == 10)
    val after = dataFileKeys(dir)
    assert(before.forall { case (p, k) => after.get(p).contains(k) })
    assert(cat.read("gold", "dim").count() == 40)
    // UPDATE through the catalog API too
    assert(cat.updateWhere("gold", "dim", col("k") === 20L,
      Seq("v" -> lit("X"))) == 1)
    assert(rowsOf(cat.read("gold", "dim").filter(col("k") === 20L))
      .head(1) == "X")
    // REORG PURGE folds the sidecars; contents identical
    val expect = rowsOf(cat.read("gold", "dim"), "k")
    cat.materializeDeletes("gold", "dim")
    assert(!DeletionVectors.hasDv(spark, dir))
    assert(rowsOf(cat.read("gold", "dim"), "k") == expect)
    // mode off: CoW per-bucket path
    cat.disableDeletionVectors("gold", "dim")
    assert(cat.deleteWhere("gold", "dim", col("k") === 30L) == 1)
    assert(!DeletionVectors.hasDv(spark, dir))
    assert(cat.read("gold", "dim").count() == 39)
  }

  test("merge over a DV-carrying bucketed table never resurrects; folds touched sidecars") {
    val (path, target) = mkTable(60)
    BucketedDml.deleteWhereMor(spark, path, col("k") === 5L)
    // a merge whose source touches key 5's bucket: the pruned target must
    // NOT contain the deleted row, and the rewritten bucket folds its DV
    val source = Seq((5L, "resurrect?", 0), (61L, "new", 1))
      .toDF("k", "v", "g")
    PartitionedMerge.prunedMerge(spark, path, source) {
      (pruned, src) =>
        assert(pruned.filter(col("k") === 5L).count() == 0,
          "pruned merge target must be DV-applied")
        // upsert semantics by hand: keep target rows not in src, add src
        pruned.join(src.select("k"), Seq("k"), "left_anti")
          .unionByName(src)
    }
    val got = PartitionedMerge.read(spark, path)
    // key 5 came back ONLY via the source's explicit upsert
    assert(rowsOf(got.filter(col("k") === 5L)).head(1) == "resurrect?")
    assert(got.filter(col("k") === 61L).count() == 1)
    assert(got.count() == 61)
  }

  test("INSERT INTO bucketed: only destination buckets change; sidecars ride along") {
    val (path, _) = mkTable(40)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketedDml.deleteWhereMor(spark, path, col("k") === 2L)
    val before = dataFileKeys(path)
    val newRows = Seq((101L, "n1", 0), (102L, "n2", 1)).toDF("k", "v", "g")
    val destBuckets = Seq(101L, 102L).map(bucketOf).toSet
    graft.catalog.Catalog.appendPath(spark, newRows, path)
    val after = dataFileKeys(path)
    // every pre-insert file survives AS AN INODE (links), and files
    // OUTSIDE the destination buckets keep their exact paths
    before.foreach { case (p, k) =>
      assert(after.get(p).contains(k), s"insert must not rewrite: $p")
    }
    val grew = after.keySet -- before.keySet
    assert(grew.nonEmpty &&
      grew.forall(p => destBuckets.exists(b => p.contains(s"gbucket=$b/"))),
      s"new files must land only in destination buckets: $grew")
    val got = PartitionedMerge.read(spark, path)
    assert(got.count() == 41) // 40 - 1 deleted + 2 inserted
    assert(got.filter(col("k") === 2L).count() == 0,
      "insert must carry the DV sidecar forward")
    assert(got.filter(col("k").isin(101L, 102L)).count() == 2)
    // versioned: pre-insert state reconstructs
    val cur = graft.layout.SwapProtocol.readPointer(fs, path)
    assert(PartitionedMerge.readVersion(spark, path, cur - 1).count() == 39)
    // constraints gate bucketed inserts
    graft.catalog.Catalog.addConstraintPath(spark, path, "k_pos", "k > 0")
    intercept[IllegalStateException] {
      graft.catalog.Catalog.appendPath(spark,
        Seq((-1L, "bad", 0)).toDF("k", "v", "g"), path)
    }
    assert(PartitionedMerge.read(spark, path).count() == 41)
  }

  test("TIMESTAMP AS OF + RESTORE on bucketed tables across merges and DML") {
    val (path, _) = mkTable(20)
    def now() = System.currentTimeMillis()
    val afterV1 = now()
    Thread.sleep(15)
    PartitionedMerge.prunedMerge(spark, path,
      Seq((1L, "v2", 9)).toDF("k", "v", "g")) { (t, s) =>
      t.join(s.select("k"), Seq("k"), "left_anti").unionByName(s)
    }
    Thread.sleep(15)
    val afterV2 = now()
    Thread.sleep(15)
    BucketedDml.deleteWhereMor(spark, path, col("k") === 10L)
    val afterV3 = now()

    import graft.catalog.Catalog
    assert(Catalog.resolveTimestampVersion(spark, path, afterV1) == 1)
    assert(Catalog.resolveTimestampVersion(spark, path, afterV2) == 2)
    assert(Catalog.resolveTimestampVersion(spark, path, afterV3) == 3)
    // a timestamp before the first stamped commit raises, never guesses
    intercept[IllegalArgumentException] {
      Catalog.resolveTimestampVersion(spark, path, afterV1 - 1000000)
    }
    // version-addressed reads at the resolved versions
    assert(Catalog.versionRead(spark, path,
      Catalog.resolveTimestampVersion(spark, path, afterV2)).count() == 20)
    assert(Catalog.versionRead(spark, path, 3).count() == 19)

    // RESTORE to the pre-delete version resurrects; commit stamped too
    Catalog.restorePath(spark, path, 2)
    assert(PartitionedMerge.read(spark, path).count() == 20)
    val curV = SwapProtocol.readPointer(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    assert(Catalog.resolveTimestampVersion(spark, path, now()) == curV,
      "RESTORE's own commit must be timestamp-addressable")
  }

  test("clone VERSION AS OF on bucketed tables carries per-version DV state") {
    val (path, _) = mkTable(30)
    BucketedDml.deleteWhereMor(spark, path, col("k") <= 3L) // v2
    BucketedDml.deleteWhereMor(spark, path, col("k") === 10L) // v3
    val base = tmpDir("bdml-clone")
    graft.catalog.Catalog.clonePath(spark, path, s"$base/v2",
      version = Some(2), shallow = false)
    graft.catalog.Catalog.clonePath(spark, path, s"$base/v3s",
      version = Some(3), shallow = true)
    // v2 clone: first delete applied, second not
    assert(PartitionedMerge.read(spark, s"$base/v2").count() == 27)
    assert(PartitionedMerge.read(spark, s"$base/v2")
      .filter(col("k") === 10L).count() == 1)
    // v3 shallow clone: both deletes applied
    assert(PartitionedMerge.read(spark, s"$base/v3s").count() == 26)
    // clones are independent bucketed tables — a later delete on the
    // SOURCE must not leak into them
    BucketedDml.deleteWhereMor(spark, path, col("k") === 20L)
    assert(PartitionedMerge.read(spark, s"$base/v3s").count() == 26)
  }

  test("SQL surface: DELETE/UPDATE on a registered bucketed table, both modes") {
    val (path, _) = mkTable(40)
    spark.sql("CREATE SCHEMA IF NOT EXISTS bdml")
    spark.sql(s"CREATE TABLE bdml.dim USING parquet LOCATION '$path'")
    try {
      val before = dataFileKeys(path)
      graft.sql.GraftSql.sql(spark, "ALTER TABLE bdml.dim SET " +
        "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
      val del = graft.sql.GraftSql.sql(spark,
        "DELETE FROM bdml.dim WHERE g = 1").collect()
      assert(del.head.getLong(0) == 8)
      val after = dataFileKeys(path)
      assert(before.forall { case (p, k) => after.get(p).contains(k) },
        "SQL MoR DELETE rewrote bucketed data files")
      assert(PartitionedMerge.read(spark, path).count() == 32)
      val upd = graft.sql.GraftSql.sql(spark,
        "UPDATE bdml.dim SET v = 'Z' WHERE k = 5").collect()
      assert(upd.head.getLong(0) == 1)
      assert(rowsOf(PartitionedMerge.read(spark, path)
        .filter(col("k") === 5L)).head(1) == "Z")
      // mode off → per-bucket copy-on-write, still one statement
      graft.sql.GraftSql.sql(spark, "ALTER TABLE bdml.dim SET " +
        "TBLPROPERTIES ('graft.enableDeletionVectors' = 'false')")
      val del2 = graft.sql.GraftSql.sql(spark,
        "DELETE FROM bdml.dim WHERE k = 12").collect()
      assert(del2.head.getLong(0) == 1)
      assert(PartitionedMerge.read(spark, path).count() == 31)
    } finally spark.sql("DROP TABLE IF EXISTS bdml.dim")
  }

  test("per-bucket ZORDER: contents preserved, files z-clustered inside buckets") {
    val path = tmpDir("bdml-z") + "/t"
    val df = (1 to 4000).map(i => (i.toLong, (i * 37) % 1000, (i * 91) % 1000))
      .toDF("k", "x", "y")
    PartitionedMerge.write(df.repartition(8), path, keys, 4)
    // avg per-file x-span (files with >1 row), the skipping-tightness
    // metric a z-order must improve
    def avgSpan(): Double = spark.read.parquet(path)
      .withColumn("f", col("_metadata.file_name"))
      .groupBy("gbucket", "f")
      .agg(min("x").as("lo"), max("x").as("hi"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(((col("hi") - col("lo")) / lit(1000.0)).as("span"))
      .agg(avg("span")).collect()(0).getDouble(0)
    val spanBefore = avgSpan()
    val rowsBefore = rowsOf(PartitionedMerge.read(spark, path), "k")
    val touched = PartitionedMerge.zorderCompact(spark, path,
      Seq("x", "y"), 2L * 1024)
    assert(touched.nonEmpty)
    assert(rowsOf(PartitionedMerge.read(spark, path), "k") == rowsBefore)
    // the rewrite is a version: pre-zorder state still reconstructs
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 1), "k")
      == rowsBefore)
    // z-clustering tightens per-file spans INSIDE each bucket: randomly
    // shuffled files each cover ~the full range; z-ordered files cover a
    // contiguous curve segment
    val spanAfter = avgSpan()
    assert(spanAfter < spanBefore * 0.6,
      s"z-order did not tighten spans: $spanBefore -> $spanAfter")
  }

  test("REPLACE WHERE: region swap in one version, untouched buckets keep inodes") {
    val (path, _) = mkTable(100)
    val before = dataFileKeys(path)
    val b5 = bucketOf(5)
    val n = BucketedDml.replaceWhere(spark, path, expr("k = 5"),
      Seq((5L, "V5", 99)).toDF("k", "v", "g"))
    assert(n == 1)
    val now = PartitionedMerge.read(spark, path)
    assert(now.count() == 100)
    assert(rowsOf(now.filter(col("k") === 5)) == Seq(Seq(5L, "V5", 99)))
    // every data file OUTSIDE the k=5 bucket survived with its inode
    val after = dataFileKeys(path)
    before.filterNot(_._1.contains(s"gbucket=$b5")).foreach {
      case (p, k) => assert(after.get(p).contains(k),
        s"untouched-bucket file rewritten: $p")
    }
    // a real version: the pre-replace image reconstructs
    assert(rowsOf(PartitionedMerge.readVersion(spark, path, 1)
      .filter(col("k") === 5)) == Seq(Seq(5L, "v5", 0)))
    // an inserted row OUTSIDE the predicate aborts the whole statement
    intercept[IllegalArgumentException] {
      BucketedDml.replaceWhere(spark, path, expr("k = 6"),
        Seq((7L, "x", 0)).toDF("k", "v", "g"))
    }
    assert(PartitionedMerge.read(spark, path).count() == 100)
  }

  test("REPLACE WHERE folds the touched bucket's DV sidecar, keeps the others") {
    val (path, _) = mkTable(40)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // MoR delete first: g==1 rows (k = 1, 6, …, 36) → sidecars in
    // several buckets
    assert(BucketedDml.deleteWhereMor(spark, path, col("g") === 1) == 8)
    val dvBefore = PartitionedMerge.liveBucketDirs(fs, path).filter(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_dv"))).map(_.getName)
    assert(dvBefore.nonEmpty)
    // replace the k=2 region (g = 2, not DV-deleted): its bucket
    // rewrites DV-applied, every other sidecar rides on untouched
    val b2 = bucketOf(2)
    assert(BucketedDml.replaceWhere(spark, path, expr("k = 2"),
      Seq((2L, "NEW", 0)).toDF("k", "v", "g")) == 1)
    val dvAfter = PartitionedMerge.liveBucketDirs(fs, path).filter(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_dv"))).map(_.getName)
    assert(!dvAfter.contains(s"gbucket=$b2"))
    assert(dvBefore.filterNot(_ == s"gbucket=$b2").forall(dvAfter.contains))
    val now = PartitionedMerge.read(spark, path)
    assert(now.filter(col("g") === 1).count() == 0,
      "rewrite must not resurrect DV-deleted rows")
    assert(rowsOf(now.filter(col("k") === 2)) == Seq(Seq(2L, "NEW", 0)))
    assert(now.count() == 40 - 8)
  }

  test("REPLACE WHERE under 3VL keeps NULL-predicate rows in the touched bucket") {
    val path = tmpDir("bdml3vl") + "/t"
    // two rows that share a bucket: one matches g = 2, one has g NULL
    val df = Seq((1L, "a", Some(2)), (2L, "b", None))
      .toDF("k", "v", "g")
    PartitionedMerge.write(df, path, keys, 1)
    val n = BucketedDml.replaceWhere(spark, path, expr("g = 2"),
      Seq((9L, "c", Some(2))).toDF("k", "v", "g"))
    assert(n == 1)
    assert(rowsOf(PartitionedMerge.read(spark, path), "k") ==
      Seq(Seq(2L, "b", null), Seq(9L, "c", 2)))
  }
}
