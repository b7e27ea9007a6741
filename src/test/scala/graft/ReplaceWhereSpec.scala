package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Partition-scoped overwrite ([[Catalog.replacePartitionValuesPath]] —
  * Delta `replaceWhere`'s safe core): listed partitions are replaced or
  * dropped, unlisted ones hard-link forward untouched, stray rows are
  * rejected, and the whole transition is one versioned commit. */
class ReplaceWhereSpec extends SparkSuite {
  import spark.implicits._

  private def mkTable(dir: String): Unit = {
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
  }

  test("replace swaps listed partitions, drops a listed-but-absent one, " +
      "creates a new value, and leaves the rest untouched") {
    val dir = tmpDir("graft-rw") + "/t"
    mkTable(dir)
    def files(p: String): Seq[String] = {
      val d = new java.io.File(s"$dir/p=$p")
      if (!d.exists()) Nil
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .sorted.toSeq
    }
    val untouched = files("c")
    // replace p=a (new rows), drop p=b (listed, absent from frame),
    // create p=d (listed, new on the table)
    val repl = Seq((10L, "a"), (11L, "d")).toDF("id", "p")
    Catalog.replacePartitionValuesPath(spark, repl, dir, "p",
      Seq("a", "b", "d"))
    val got = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((4L, "c"), (10L, "a"), (11L, "d")), s"got $got")
    // the unlisted partition's files carried forward by name (linked)
    assert(files("c") == untouched)
    // one versioned commit: version advanced once, old state readable
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = SwapProtocol.readPointer(f, dir)
    val before = Catalog.versionRead(spark, dir, v - 1)
    assert(before.count() == 4)
  }

  test("stray rows outside the listed values are rejected, nothing " +
      "committed") {
    val dir = tmpDir("graft-rw-stray") + "/t"
    mkTable(dir)
    val bad = Seq((10L, "a"), (99L, "zz")).toDF("id", "p")
    intercept[IllegalArgumentException] {
      Catalog.replacePartitionValuesPath(spark, bad, dir, "p", Seq("a"))
    }
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("a NULL partition value in the frame is rejected like any other " +
      "stray row (no silent __HIVE_DEFAULT_PARTITION__ widening)") {
    val dir = tmpDir("graft-rw-null") + "/t"
    mkTable(dir)
    // `!isInCollection` is NULL (not true) for a NULL partition value —
    // a bare negation gate passed these rows through to the default
    // partition dir, widening the replacement beyond the declared set
    val bad = Seq((10L, Some("a")), (99L, None))
      .toDF("id", "p")
    intercept[IllegalArgumentException] {
      Catalog.replacePartitionValuesPath(spark, bad, dir, "p", Seq("a"))
    }
    assert(spark.read.parquet(dir).count() == 4)
    assert(!new java.io.File(s"$dir/p=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("empty value list is a no-op; non-partition column is rejected") {
    val dir = tmpDir("graft-rw-noop") + "/t"
    mkTable(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = SwapProtocol.readPointer(f, dir)
    Catalog.replacePartitionValuesPath(spark,
      Seq.empty[(Long, String)].toDF("id", "p"), dir, "p", Nil)
    assert(SwapProtocol.readPointer(f, dir) == v0) // no empty version
    intercept[IllegalArgumentException] {
      Catalog.replacePartitionValuesPath(spark,
        Seq((1L, "a")).toDF("id", "p"), dir, "id", Seq("1"))
    }
  }
}
