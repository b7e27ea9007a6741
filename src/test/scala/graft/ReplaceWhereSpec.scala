package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** REPLACE WHERE over a hive-partitioned table through
  * [[Catalog.replaceWherePath]], with a partition predicate (Delta
  * `replaceWhere`'s common case): listed partitions are replaced or
  * dropped, unlisted ones hard-link forward untouched, stray rows are
  * rejected, and the whole transition is one versioned commit. */
class ReplaceWhereSpec extends SparkSuite {
  import spark.implicits._

  private def mkTable(dir: String): Unit = {
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
  }

  private def pointer(dir: String): Int = SwapProtocol.readPointer(
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

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
    val v0 = pointer(dir)
    // replace p=a (new rows), drop p=b (listed, absent from frame),
    // create p=d (listed, new on the table)
    val repl = Seq((10L, "a"), (11L, "d")).toDF("id", "p")
    assert(Catalog.replaceWherePath(spark, dir,
      col("p").isin("a", "b", "d"), repl) == 3)
    val got = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((4L, "c"), (10L, "a"), (11L, "d")), s"got $got")
    // the unlisted partition's files carried forward by name (linked)
    assert(files("c") == untouched)
    // a dropped partition leaves no dir behind; the layout stays hive
    assert(files("b").isEmpty && !new java.io.File(s"$dir/p=b").exists())
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Catalog.partitionColsOf(f, dir) == Seq("p"))
    // one versioned commit: version advanced once, old state readable
    assert(pointer(dir) == v0 + 1)
    assert(Catalog.versionRead(spark, dir, v0).count() == 4)
  }

  test("stray rows outside the listed values are rejected, nothing " +
      "committed") {
    val dir = tmpDir("graft-rw-stray") + "/t"
    mkTable(dir)
    val v0 = pointer(dir)
    val bad = Seq((10L, "a"), (99L, "zz")).toDF("id", "p")
    intercept[IllegalArgumentException] {
      Catalog.replaceWherePath(spark, dir, col("p").isin("a"), bad)
    }
    assert(spark.read.parquet(dir).count() == 4)
    assert(pointer(dir) == v0)
  }

  test("a NULL partition value in the frame is rejected like any other " +
      "stray row (no silent __HIVE_DEFAULT_PARTITION__ widening)") {
    val dir = tmpDir("graft-rw-null") + "/t"
    mkTable(dir)
    // `p IN (…)` is NULL (not false) for a NULL partition value — a bare
    // negation gate would pass these rows through to the default
    // partition dir, widening the replacement beyond the declared set
    val bad = Seq((10L, Some("a")), (99L, None))
      .toDF("id", "p")
    intercept[IllegalArgumentException] {
      Catalog.replaceWherePath(spark, dir, col("p").isin("a"), bad)
    }
    assert(spark.read.parquet(dir).count() == 4)
    assert(!new java.io.File(s"$dir/p=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("empty value list is a no-op") {
    val dir = tmpDir("graft-rw-noop") + "/t"
    mkTable(dir)
    val v0 = pointer(dir)
    assert(Catalog.replaceWherePath(spark, dir,
      col("p").isInCollection(Nil), Seq.empty[(Long, String)]
        .toDF("id", "p")) == 0)
    assert(pointer(dir) == v0) // no empty version
  }
}
