package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Versioned INSERT: `Catalog.append` (link-based append commit) and the
  * `INSERT INTO / OVERWRITE` SQL lowering — version semantics, column
  * resolution, constraint/generated gating, and zero-copy linking. */
class InsertSpec extends SparkSuite {
  import spark.implicits._

  private lazy val sqlSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-insert-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("append commits a new version; existing files are hard-linked, not copied") {
    val wh = tmpDir("graft-append")
    val cat = new Catalog(spark, wh)
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "silver", "a1")
    val before = java.nio.file.Files.list(
      java.nio.file.Paths.get(wh, "silver", "a1")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).sorted
    cat.append(Seq((3L, "c")).toDF("id", "v"), "silver", "a1")
    assert(rowsOf(cat.read("silver", "a1"), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(cat.currentVersion("silver", "a1") == 2)
    // the append is a REAL version: v1 still reads the pre-append rows
    assert(cat.readVersion("silver", "a1", 1).count() == 2)
    // pre-existing files carried by link: same names, nlink >= 2
    val liveDir = java.nio.file.Paths.get(wh, "silver", "a1")
    val after = java.nio.file.Files.list(liveDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(before.toSet.subsetOf(
      after.map(_.getFileName.toString).toSet),
      "append must keep existing file names (linked, not rewritten)")
    after.filter(p => before.contains(p.getFileName.toString)).foreach { p =>
      val n = java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(n >= 2, s"pre-existing file $p was copied, not linked")
    }
    // appends accumulate
    cat.append(Seq((4L, "d")).toDF("id", "v"), "silver", "a1")
    assert(cat.read("silver", "a1").count() == 4)
    assert(cat.currentVersion("silver", "a1") == 3)
  }

  test("INSERT INTO SQL: positional, column list with NULL fill, OVERWRITE") {
    val cat = new Catalog(spark, tmpDir("graft-ins-sql"))
    cat.overwriteSnapshot(Seq((1L, "a", 10.0)).toDF("id", "v", "score"),
      "silver", "i1")
    cat.register("silver", "i1")
    // positional, full width, through the universal entry
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.i1 VALUES (2, 'b', 20.0)")
    // column list: absent target column becomes NULL
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.i1 (id, v) SELECT 3, 'c'")
    val t = spark.table("silver.i1")
    assert(rowsOf(t, "id") == Seq(
      Seq(1L, "a", 10.0), Seq(2L, "b", 20.0), Seq(3L, "c", null)))
    assert(cat.currentVersion("silver", "i1") == 3)
    // BY NAME: source column order is irrelevant
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.i1 BY NAME " +
        "SELECT 40.0 AS score, 'd' AS v, 4 AS id")
    assert(rowsOf(spark.table("silver.i1"), "id").last ==
      Seq(4L, "d", 40.0))
    // INSERT OVERWRITE replaces the snapshot as yet another version
    graft.sql.GraftSql.sql(spark,
      "INSERT OVERWRITE silver.i1 VALUES (9, 'z', 0.0)")
    assert(rowsOf(spark.table("silver.i1")) == Seq(Seq(9L, "z", 0.0)))
    assert(cat.currentVersion("silver", "i1") == 5)
    assert(cat.readVersion("silver", "i1", 4).count() == 4)
    spark.sql("DROP TABLE silver.i1")

    // extension session: plain spark.sql INSERT goes through the same
    // lowering (a parsed InsertIntoStatement, wrapped by the parser)
    val s = sqlSpark
    val cat2 = new Catalog(s, tmpDir("graft-ins-sql2"))
    import s.implicits._
    cat2.overwriteSnapshot(Seq((1L, "x")).toDF("id", "v"), "silver", "i2")
    cat2.register("silver", "i2")
    s.sql("INSERT INTO silver.i2 VALUES (2, 'y')")
    assert(rowsOf(s.table("silver.i2"), "id") ==
      Seq(Seq(1L, "x"), Seq(2L, "y")))
    assert(cat2.currentVersion("silver", "i2") == 2)
    s.sql("DROP TABLE silver.i2")
  }

  test("INSERT enforces CHECK constraints on the appended rows only") {
    val cat = new Catalog(spark, tmpDir("graft-ins-cons"))
    cat.overwriteSnapshot(Seq((1L, 5.0)).toDF("id", "score"),
      "silver", "c1")
    cat.addConstraint("silver", "c1", "pos_score", "score >= 0")
    cat.register("silver", "c1")
    val e = intercept[IllegalStateException] {
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.c1 VALUES (2, -1.0)")
    }
    assert(e.getMessage.contains("pos_score"))
    // the failed insert left no trace: same rows, same version
    assert(cat.read("silver", "c1").count() == 1)
    assert(cat.currentVersion("silver", "c1") == 1)
    graft.sql.GraftSql.sql(spark, "INSERT INTO silver.c1 VALUES (2, 1.0)")
    assert(cat.read("silver", "c1").count() == 2)
    spark.sql("DROP TABLE silver.c1")
  }

  test("INSERT computes omitted generated columns and validates provided ones") {
    val cat = new Catalog(spark, tmpDir("graft-ins-gen"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "silver", "g1")
    cat.addGeneratedColumn("silver", "g1", "id2", "id * 2")
    cat.register("silver", "g1")
    // positional insert may skip the generated column (computed at write)
    graft.sql.GraftSql.sql(spark, "INSERT INTO silver.g1 VALUES (2, 'b')")
    assert(rowsOf(spark.table("silver.g1"), "id") ==
      Seq(Seq(1L, "a", 2L), Seq(2L, "b", 4L)))
    // a provided generated value is validated against the definition
    intercept[IllegalStateException] {
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.g1 (id, v, id2) VALUES (3, 'c', 999)")
    }
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.g1 (id, v, id2) VALUES (3, 'c', 6)")
    assert(spark.table("silver.g1").count() == 3)
    spark.sql("DROP TABLE silver.g1")
  }

  test("INSERT rejects schema drift and wrong arity; bucketed targets route new rows") {
    val cat = new Catalog(spark, tmpDir("graft-ins-guard"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "silver", "r1")
    cat.register("silver", "r1")
    intercept[IllegalArgumentException] { // unknown column in the list
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.r1 (id, nope) VALUES (2, 'b')")
    }
    intercept[IllegalArgumentException] { // wrong positional arity
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.r1 VALUES (2, 'b', 'extra')")
    }
    spark.sql("DROP TABLE silver.r1")
    // bucket-partitioned targets route appended rows to their hash
    // buckets (bucket pruning stays intact — BucketedDmlSpec proves the
    // untouched-bucket inode identity)
    val dim = Seq((1L, "x")).toDF("id", "v")
    val bdir = cat.path("silver", "b1")
    graft.merge.PartitionedMerge.write(dim, bdir, Seq("id"), 4)
    Catalog.appendPath(spark, Seq((2L, "y")).toDF("id", "v"), bdir)
    assert(rowsOf(graft.merge.PartitionedMerge.read(spark, bdir), "id") ==
      Seq(Seq(1L, "x"), Seq(2L, "y")))
    // the insert may not smuggle the bucket column in as data
    intercept[IllegalArgumentException] {
      Catalog.appendPath(spark,
        Seq((3L, "z", 0)).toDF("id", "v",
          graft.merge.PartitionedMerge.BucketCol), bdir)
    }
  }

  test("INSERT INTO a hive-partitioned snapshot links the tree and merges new files") {
    val cat = new Catalog(spark, tmpDir("graft-ins-hive"))
    val dir = cat.path("silver", "h1")
    Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2)).toDF("id", "v", "g")
      .write.partitionBy("g").parquet(dir)
    def keys() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq
          .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
          .flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).map { f =>
        f.getAbsolutePath -> java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      }.toMap
    }
    val before = keys()
    // appended rows land in their partition dirs — including a brand-new
    // partition VALUE — while every existing file survives as an inode
    Catalog.appendPath(spark,
      Seq((4L, "d", 2), (5L, "e", 9)).toDF("id", "v", "g"), dir)
    val after = keys()
    before.foreach { case (p, k) =>
      assert(after.get(p).contains(k), s"append rewrote: $p")
    }
    assert((after.keySet -- before.keySet).forall(p =>
      p.contains("g=2") || p.contains("g=9")),
      "new files must land only in their partition dirs")
    val got = spark.read.parquet(dir)
    assert(rowsOf(got.select("id", "v", "g"), "id") == Seq(
      Seq(1L, "a", 1), Seq(2L, "b", 1), Seq(3L, "c", 2),
      Seq(4L, "d", 2), Seq(5L, "e", 9)))
    // partition pruning still works on the appended layout: the filter
    // lands in the scan's PartitionFilters, not a post-scan data filter
    val pruned = got.filter(col("g") === 9)
    pruned.count()
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("g"),
      s"partition predicate not pushed: $scanLine")
    // it is a real version: the pre-append state reconstructs
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SwapProtocol.readPointer(fs, dir) == 2)
    assert(spark.read.parquet(
      Catalog.resolveVersionPath(spark, dir, 1)).count() == 3)
    // a missing partition column is schema drift, rejected loudly
    intercept[IllegalArgumentException] {
      Catalog.appendPath(spark, Seq((6L, "f")).toDF("id", "v"), dir)
    }
  }

  test("optimistic commit: staging against a stale version aborts, staged work discarded") {
    val wh = tmpDir("graft-occ")
    val cat = new Catalog(spark, wh)
    val dir = cat.path("silver", "occ")
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "silver", "occ")
    // an interleaved writer moves the table to version 2
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "silver", "occ")
    // a read-modify-write staged against version 1 must NOT commit — it
    // would silently drop row 2
    val e = intercept[IllegalStateException] {
      Catalog.overwritePath(spark, Seq((1L, "a"), (9L, "z")).toDF("id", "v"),
        dir, expectedVersion = Some(1))
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(rowsOf(cat.read("silver", "occ"), "id") ==
      Seq(Seq(1L, "a"), Seq(2L, "b")), "losing writer must change nothing")
    assert(cat.currentVersion("silver", "occ") == 2)
    // the staged tmp dir was discarded, not left for vacuum (staging
    // names are unique per attempt — sweep the prefix, not one name)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    val base = new org.apache.hadoop.fs.Path(dir).getName
    assert(!f.listStatus(parent).map(_.getPath.getName)
      .exists(_.startsWith(base + ".tmp")), "staging leftover after race")
    // with the CURRENT expectation the same commit goes through
    Catalog.overwritePath(spark, Seq((1L, "a"), (2L, "b"), (9L, "z"))
      .toDF("id", "v"), dir, expectedVersion = Some(2))
    assert(cat.currentVersion("silver", "occ") == 3)
  }

  test("REPLACE WHERE swaps exactly the predicate region in one version") {
    val cat = new Catalog(spark, tmpDir("graft-rw"))
    cat.overwriteSnapshot(Seq((1L, "2024", 1.0), (2L, "2024", 2.0),
      (3L, "2025", 3.0)).toDF("id", "yr", "x"), "silver", "rw1")
    cat.register("silver", "rw1")
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.rw1 REPLACE WHERE yr = '2024' " +
        "VALUES (10, '2024', 10.0), (11, '2024', 11.0)")
    assert(rowsOf(spark.table("silver.rw1"), "id") == Seq(
      Seq(3L, "2025", 3.0), Seq(10L, "2024", 10.0), Seq(11L, "2024", 11.0)))
    assert(cat.currentVersion("silver", "rw1") == 2)
    assert(cat.readVersion("silver", "rw1", 1).count() == 3)
    // Delta's validation: an inserted row OUTSIDE the predicate aborts
    // the whole statement, table untouched
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.rw1 REPLACE WHERE yr = '2024' " +
          "VALUES (12, '2026', 12.0)")
    }
    assert(spark.table("silver.rw1").count() == 3)
    assert(cat.currentVersion("silver", "rw1") == 2)
    spark.sql("DROP TABLE silver.rw1")

    // extension session path
    val s = sqlSpark
    val cat2 = new Catalog(s, tmpDir("graft-rw2"))
    import s.implicits._
    cat2.overwriteSnapshot(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "grp", "x"), "silver", "rw2")
    cat2.register("silver", "rw2")
    s.sql("INSERT INTO silver.rw2 REPLACE WHERE grp = 'a' " +
      "SELECT 9 AS id, 'a' AS grp, 9.0 AS x")
    assert(rowsOf(s.table("silver.rw2"), "id") ==
      Seq(Seq(2L, "b", 2.0), Seq(9L, "a", 9.0)))
    s.sql("DROP TABLE silver.rw2")
  }

  test("REPLACE WHERE under 3VL: NULL-predicate rows are kept, and count as insert violations") {
    val cat = new Catalog(spark, tmpDir("graft-rw3vl"))
    // row 3 has a NULL predicate column: `yr = '2024'` evaluates to NULL
    // there — it does NOT match, so replaceWhere must KEEP it (a naive
    // `!cond` filter silently deletes it)
    cat.overwriteSnapshot(Seq((1L, Some("2024"), 1.0), (2L, Some("2025"), 2.0),
      (3L, Option.empty[String], 3.0)).toDF("id", "yr", "x"), "silver", "rwn")
    cat.register("silver", "rwn")
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO silver.rwn REPLACE WHERE yr = '2024' " +
        "VALUES (10, '2024', 10.0)")
    assert(rowsOf(spark.table("silver.rwn"), "id") == Seq(
      Seq(2L, "2025", 2.0), Seq(3L, null, 3.0), Seq(10L, "2024", 10.0)),
      "the NULL-yr row must survive the replacement")
    // an INSERTED row whose predicate evaluates to NULL does not match
    // either — Delta counts it as a violation, statement aborts
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO silver.rwn REPLACE WHERE yr = '2024' " +
          "VALUES (11, NULL, 11.0)")
    }
    assert(spark.table("silver.rwn").count() == 3)
    // the validation staging dir never outlives the statement (unique
    // per-attempt names — sweep the prefix)
    val p = new org.apache.hadoop.fs.Path(cat.path("silver", "rwn"))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.listStatus(p.getParent).map(_.getPath.getName)
      .exists(_.startsWith(p.getName + ".tmp")), "staging leftover")
    spark.sql("DROP TABLE silver.rwn")
  }

  test("REPLACE WHERE routes bucketed layouts through the per-bucket swap") {
    import graft.merge.PartitionedMerge
    val wh = tmpDir("graft-rw-bkt")
    val dir = s"$wh/gold/brw"
    PartitionedMerge.write(Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "a", 3.0)).toDF("id", "grp", "x"), dir, Seq("id"), 4)
    spark.sql("CREATE SCHEMA IF NOT EXISTS gold")
    spark.sql(s"CREATE TABLE gold.brw USING parquet LOCATION '$dir'")
    graft.sql.GraftSql.sql(spark,
      "INSERT INTO gold.brw REPLACE WHERE grp = 'a' VALUES (9, 'a', 9.0)")
    assert(rowsOf(PartitionedMerge.read(spark, dir), "id") ==
      Seq(Seq(2L, "b", 2.0), Seq(9L, "a", 9.0)))
    // the layout survives (still bucket-partitioned) and is versioned
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.catalog.Catalog.isBucketedLayout(f, dir))
    assert(rowsOf(PartitionedMerge.readVersion(spark, dir, 1), "id") ==
      Seq(Seq(1L, "a", 1.0), Seq(2L, "b", 2.0), Seq(3L, "a", 3.0)))
    // Delta's rule holds on the bucketed path too: an inserted row
    // outside the predicate aborts the whole statement
    intercept[IllegalArgumentException] {
      graft.sql.GraftSql.sql(spark,
        "INSERT INTO gold.brw REPLACE WHERE grp = 'a' VALUES (10, 'b', 1.0)")
    }
    assert(PartitionedMerge.read(spark, dir).count() == 2)
    spark.sql("DROP TABLE IF EXISTS gold.brw")
  }

  test("appends preserve the skipping manifest; new files read unpruned") {
    val cat = new Catalog(spark, tmpDir("graft-ins-skip"))
    cat.overwriteSnapshot((1L to 50L).map(i => (i, i * 1.0))
      .toDF("id", "score"), "silver", "s1")
    cat.analyzeSkipping("silver", "s1", Seq("score"))
    cat.append(Seq((51L, 510.0)).toDF("id", "score"), "silver", "s1")
    // the recipe survived the append commit
    assert(graft.layout.DataSkipping.analyzedColumns(spark,
      cat.path("silver", "s1")).map(_._1) == Some(Seq("score")))
    // pruned read == plain filter, INCLUDING the unprofiled appended file
    val pruned = cat.readSkipping("silver", "s1",
      Seq(graft.layout.DataSkipping.Range("score", Some(500.0), None)))
    assert(rowsOf(pruned, "id") == Seq(Seq(51L, 510.0)))
  }

  test("a reordered / differently-cased insert cannot rewrite the " +
      "table's canonical schema sidecar (ADVICE r8)") {
    val cat = new Catalog(spark, tmpDir("graft-ins-sidecar"))
    cat.overwriteSnapshot(Seq((1L, "a", 1.0)).toDF("id", "Val", "score"),
      "silver", "sc1")
    val dir = cat.path("silver", "sc1")
    val before = graft.merge.PartitionedMerge.schemaOf(spark, dir)
    assert(before.isDefined)
    assert(before.get.fields.map(_.name).toSeq == Seq("id", "Val", "score"),
      "sanity: the sidecar records the table's declared case and order")
    // shape check is case/order-insensitive, so this append is legal —
    // but it must NOT become the recorded schema
    cat.append(Seq((3.0, 2L, "b")).toDF("SCORE", "ID", "val"),
      "silver", "sc1")
    val after = graft.merge.PartitionedMerge.schemaOf(spark, dir)
    assert(after.isDefined)
    assert(after.get.fields.map(_.name).toSeq == Seq("id", "Val", "score"),
      s"append re-stamped the sidecar with the INSERT frame's shape: " +
        after.get.simpleString)
    // and the data itself is intact under the table's schema
    assert(cat.read("silver", "sc1").count() == 2)
  }
}
