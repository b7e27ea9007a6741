package graft

import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, ChangeFeed}
import graft.merge.PartitionedMerge

/** Change Data Feed over the version log: keyed CDC rows, keyless multiset
  * diff, bucket pruning from the retire history, and the table_changes
  * SQL surface. */
class ChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  test("keyed changes: insert, delete, and update pre/post images") {
    val cat = new Catalog(spark, tmpDir("graft-cdf"))
    cat.overwriteSnapshot(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "v", "n"), "gold", "t")                   // v1
    cat.overwriteSnapshot(Seq((1L, "a", 10), (2L, "B", 21), (4L, "d", 40))
      .toDF("id", "v", "n"), "gold", "t")                   // v2
    val ch = cat.changes("gold", "t", 1, 2, keys = Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[Int]("n"), r.getAs[String](ChangeFeed.ChangeCol))).toSet
    assert(ch == Set(
      (4L, "d", 40, "insert"),
      (3L, "c", 30, "delete"),
      (2L, "b", 20, "update_preimage"),
      (2L, "B", 21, "update_postimage")), s"got: $ch")
    // unchanged rows never appear; same-version feed is empty
    assert(!ch.exists(_._1 == 1L))
    assert(cat.changes("gold", "t", 2, 2, Seq("id")).count() == 0)
  }

  test("cursor consumer: follow-from-live, at-least-once, exactly-once after commit") {
    val wh = tmpDir("graft-cdf-cur")
    val cat = new Catalog(spark, wh)
    val cursor = s"$wh/consumer.cursor"
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "gold", "c") // v1
    val dir = cat.path("gold", "c")
    // first poll initializes the cursor at the live version: no backfill
    assert(ChangeFeed.consumeChanges(spark, dir, cursor, Seq("id")).isEmpty)
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "c") // v2
    val Some((ch1, from1, to1)) =
      ChangeFeed.consumeChanges(spark, dir, cursor, Seq("id"))
    assert((from1, to1) == (1, 2))
    assert(ch1.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String](ChangeFeed.ChangeCol))).toSet == Set((2L, "insert")))
    // NOT committed yet → a crashed consumer re-reads the same batch
    val Some((ch1b, _, _)) =
      ChangeFeed.consumeChanges(spark, dir, cursor, Seq("id"))
    assert(ch1b.count() == ch1.count())
    ChangeFeed.commitCursor(spark, cursor, to1)
    assert(ChangeFeed.consumeChanges(spark, dir, cursor, Seq("id")).isEmpty)
    // two more versions accumulate into ONE consumed delta (net changes)
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "B")).toDF("id", "v"),
      "gold", "c") // v3
    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "C")).toDF("id", "v"),
      "gold", "c") // v4
    val Some((ch2, from2, to2)) =
      ChangeFeed.consumeChanges(spark, dir, cursor, Seq("id"))
    assert((from2, to2) == (2, 4))
    assert(ch2.collect().map(r => (r.getAs[String]("v"),
      r.getAs[String](ChangeFeed.ChangeCol))).toSet ==
      Set(("b", "update_preimage"), ("C", "update_postimage")))
  }

  test("syncTable mirrors a table incrementally through the feed") {
    val wh = tmpDir("graft-cdf-sync")
    val cat = new Catalog(spark, wh)
    val cursor = s"$wh/mirror.cursor"
    val src = cat.path("gold", "src")
    val dst = s"$wh/mirror/t"
    def srcEquals(): Unit =
      assert(rowsOf(spark.read.parquet(dst), "id") ==
        rowsOf(cat.read("gold", "src"), "id"))

    cat.overwriteSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "gold", "src") // v1
    // bootstrap = physical copy + pinned cursor
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor)
      .contains((1, 1)))
    srcEquals()
    // in sync → no-op
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor).isEmpty)
    // update + insert + delete in one version
    cat.overwriteSnapshot(Seq((1L, "A"), (3L, "c")).toDF("id", "v"),
      "gold", "src") // v2
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor)
      .contains((1, 2)))
    srcEquals()
    // two source versions fold into one applied delta
    cat.overwriteSnapshot(Seq((1L, "A"), (3L, "C")).toDF("id", "v"),
      "gold", "src") // v3
    cat.overwriteSnapshot(Seq((3L, "C"), (4L, "d")).toDF("id", "v"),
      "gold", "src") // v4
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor)
      .contains((2, 4)))
    srcEquals()
    // the mirror versions independently: bootstrap v1 + two applied syncs
    assert(graft.layout.SwapProtocol.readPointer(
      new org.apache.hadoop.fs.Path(dst).getFileSystem(
        spark.sparkContext.hadoopConfiguration), dst) == 3)
  }

  test("syncTable mirrors a bucketed source into its bucketed clone") {
    val wh = tmpDir("graft-cdf-sync-b")
    val cursor = s"$wh/mirror.cursor"
    val src = s"$wh/gold/src"
    val dst = s"$wh/mirror/t"
    PartitionedMerge.write((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      src, Seq("id"), 4)
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor)
      .contains((1, 1)))
    assert(PartitionedMerge.readBucketMeta(spark, dst)
      .contains((Seq("id"), 4)), "the bootstrap clone lost the manifest")
    // insert, update and delete, one source version each
    Catalog.appendPath(spark, Seq((30L, "c")).toDF("id", "v"), src)
    Catalog.updateWherePath(spark, src, col("id") === 1L,
      Seq("v" -> lit("A")))
    Catalog.deleteWherePath(spark, src, col("id") === 5L)
    assert(ChangeFeed.syncTable(spark, src, dst, Seq("id"), cursor)
      .contains((1, 4)))
    assert(rowsOf(PartitionedMerge.read(spark, dst), "id") ==
      rowsOf(PartitionedMerge.read(spark, src), "id"))
    assert(new java.io.File(dst).listFiles().map(_.getName)
      .filter(_.startsWith("gbucket=")).toSet
      .subsetOf((0 until 4).map(b => s"gbucket=$b").toSet))
  }

  test("keyless changes: multiset row diff") {
    val cat = new Catalog(spark, tmpDir("graft-cdf-nokey"))
    cat.overwriteSnapshot(Seq(1L, 1L, 2L).toDF("x"), "gold", "m") // v1
    cat.overwriteSnapshot(Seq(1L, 2L, 2L).toDF("x"), "gold", "m") // v2
    val ch = cat.changes("gold", "m", 1, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    // one copy of 1 left, one copy of 2 arrived — multiset semantics
    assert(ch == Seq((1L, "delete"), (2L, "insert")), s"got: $ch")
  }

  test("append-only fast path: the feed reads ONLY the appended files") {
    val cat = new Catalog(spark, tmpDir("graft-cdf-fast"))
    cat.overwriteSnapshot((1L to 50L).toDF("x"), "bronze", "f") // v1
    Catalog.appendPath(spark, Seq(51L, 52L).toDF("x"),
      cat.path("bronze", "f")) // v2: link-append
    val keyed = cat.changes("bronze", "f", 1, 2, Seq("x"))
    assert(keyed.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((51L, "insert"), (52L, "insert")))
    // the scale property: the diff never touched v1's 50 rows — the scan
    // reads only the files the append added
    val v1Files = spark.read.parquet(
      Catalog.resolveVersionPath(spark, cat.path("bronze", "f"), 1))
      .inputFiles.map(_.split('/').last).toSet
    val readFiles = keyed.inputFiles.map(_.split('/').last).toSet
    assert(readFiles.nonEmpty && readFiles.intersect(v1Files).isEmpty,
      s"fast path read pre-existing files: ${readFiles.intersect(v1Files)}")
    // a rewrite breaks the file-subset invariant → general diff again
    cat.overwriteSnapshot((2L to 52L).toDF("x"), "bronze", "f") // v3
    val ch = cat.changes("bronze", "f", 2, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(ch == Seq((1L, "delete")), s"got: $ch")
  }

  test("partition-dir tables never take the fast path (empty-feed hole)") {
    // regression: a partitionBy table keeps data files in subdirectories,
    // so the top-level file-name sets of BOTH versions are empty and the
    // subset check would vacuously report an empty feed for a real change
    val dir = tmpDir("graft-cdf-part") + "/t"
    Catalog.overwritePath(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "part", "n"),
      dir, partitionBy = Seq("part"))                            // v1
    Catalog.overwritePath(spark,
      Seq((1L, "a", 11), (2L, "b", 20), (3L, "a", 30)).toDF("id", "part", "n"),
      dir, partitionBy = Seq("part"))                            // v2
    val ch = ChangeFeed.tableChanges(spark, dir, 1, 2, keys = Seq("id"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String](ChangeFeed.ChangeCol)))
      .toSet
    assert(ch == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (3L, "insert")), s"got: $ch")
  }

  test("bucketed tables: feed reads only buckets the retire log names") {
    val dir = tmpDir("graft-cdf-bkt") + "/t"
    val n = 8
    val keys = Seq("id")
    val v1 = (1L to 64L).map(i => (i, i * 10)).toDF("id", "v")
    PartitionedMerge.write(v1, dir, keys, n)
    // change exactly two keys (an update + an insert)
    val batch = Seq((5L, 999L), (100L, 1L)).toDF("id", "v")
    PartitionedMerge.prunedMerge(spark, dir, batch) { (t, s) =>
      t.join(s, keys, "left_anti").unionByName(s)
    }
    val expectBuckets = batch
      .select(PartitionedMerge.bucketExpr(keys, n).as("b"))
      .distinct().collect().map(r => s"gbucket=${r.getInt(0)}").toSet
    assert(ChangeFeed.changedBuckets(spark, dir, 1, 2)
      .contains(expectBuckets), "retire log names the wrong buckets")
    val ch = ChangeFeed.tableChanges(spark, dir, 1, 2, keys)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"),
        r.getAs[String](ChangeFeed.ChangeCol))).toSet
    assert(ch == Set(
      (100L, 1L, "insert"),
      (5L, 50L, "update_preimage"),
      (5L, 999L, "update_postimage")), s"got: $ch")
  }

  test("property: applying the feed to the base version reproduces the target") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tableGen = Gen.listOfN(30, for {
      k <- Gen.chooseNum(1L, 15L)
      v <- Gen.chooseNum(0L, 5L)
    } yield (k, v)).map(_.toMap) // key-unique by construction
    (1 to 4).foreach { i =>
      val before = tableGen(Gen.Parameters.default, Seed(i.toLong)).get
      val after = tableGen(Gen.Parameters.default, Seed(i + 500L)).get
      val cat = new Catalog(spark, tmpDir(s"graft-cdf-prop$i"))
      cat.overwriteSnapshot(before.toSeq.toDF("id", "v"), "gold", "p")
      cat.overwriteSnapshot(after.toSeq.toDF("id", "v"), "gold", "p")
      val ch = cat.changes("gold", "p", 1, 2, Seq("id"))
      // base minus (deletes + preimages) plus (inserts + postimages) == v2
      val removed = ch.filter(col(ChangeFeed.ChangeCol)
        .isin("delete", "update_preimage")).select("id", "v")
      val added = ch.filter(col(ChangeFeed.ChangeCol)
        .isin("insert", "update_postimage")).select("id", "v")
      val rebuilt = cat.readVersion("gold", "p", 1)
        .exceptAll(removed).unionByName(added)
      val target = cat.readVersion("gold", "p", 2)
      assert(rebuilt.exceptAll(target).isEmpty &&
        target.exceptAll(rebuilt).isEmpty,
        s"case $i: feed does not transport v1 to v2")
    }
  }

  test("SQL: SELECT * FROM table_changes('layer.t', v1, v2, 'keys')") {
    val cat = new Catalog(spark, tmpDir("graft-cdf-sql"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "gold", "cdf_sql")
    cat.overwriteSnapshot(Seq((1L, "z"), (2L, "b")).toDF("id", "v"),
      "gold", "cdf_sql")
    cat.register("gold", "cdf_sql")
    val keyed = graft.sql.GraftSql.sql(spark,
      "SELECT * FROM table_changes('gold.cdf_sql', 1, 2, 'id')")
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String](ChangeFeed.ChangeCol))).toSet
    assert(keyed == Set((2L, "insert"),
      (1L, "update_preimage"), (1L, "update_postimage")), s"got: $keyed")
    val keyless = graft.sql.GraftSql.sql(spark,
      "SELECT * FROM table_changes('gold.cdf_sql', 1, 2)")
    assert(keyless.filter(col(ChangeFeed.ChangeCol) === "insert").count() == 2)
    cat.dropRegistration("gold", "cdf_sql")
  }
}
