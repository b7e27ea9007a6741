package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** One REPLACE WHERE route: SQL `INSERT INTO … REPLACE WHERE` and
  * [[Catalog.replaceWherePath]] agree on every layout the route serves
  * ([[DmlLayouts]]), and a hive table keeps its partition layout and its
  * untouched files. */
class ReplaceWherePathSpec extends SparkSuite {
  import spark.implicits._

  /** k 1..12 in groups g = k % 3, plus k 13 whose g is NULL. */
  private def rows: DataFrame =
    ((1L to 12L).map(k => (k, Option((k % 3).toInt), k * 10)) :+
      ((13L, Option.empty[Int], 130L))).toDF("k", "g", "v")

  private def mk(cat: Catalog, layout: String, t: String): String = {
    val dir = cat.path("silver", t)
    DmlLayouts.write(spark, layout, rows, dir,
      if (layout == "hive-partitioned") "g" else "k")
    // a pending deletion outside the region (a sidecar on the DV layouts)
    Catalog.deleteWherePath(spark, dir, col("k") === 5L)
    dir
  }

  private def sql(q: String): Unit = graft.sql.GraftSql.sql(spark, q).collect()

  test("SQL and Catalog.replaceWherePath agree on every layout") {
    DmlLayouts.all.foreach { layout =>
      val cat = new Catalog(spark, tmpDir("graft-rwp"))
      val (api, viaSql) = (DmlLayouts.tableName(layout) + "_api",
        DmlLayouts.tableName(layout) + "_sql")
      val (apiDir, sqlDir) = (mk(cat, layout, api), mk(cat, layout, viaSql))
      cat.register("silver", viaSql)
      def read(dir: String) = rowsOf(DmlLayouts.read(spark, dir, "k", "g",
        "v"), "k")
      def version(dir: String) = DmlLayouts.version(spark, dir)
      // INSERT aligns by position, and a hive table lists its partition
      // column last
      def ordered(k: String, g: String, v: String) =
        if (layout == "hive-partitioned") s"$k, $v, $g" else s"$k, $g, $v"
      def values(rs: (String, String, String)*) = "VALUES " + rs.map {
        case (k, g, v) => s"(${ordered(k, g, v)})" }.mkString(", ")
      try {
        val before = (version(apiDir), version(sqlDir))
        assert(Catalog.replaceWherePath(spark, apiDir, col("g") === 1,
          Seq((100L, 1, 1000L), (101L, 1, 1010L)).toDF("k", "g", "v")) == 4,
          layout)
        sql(s"INSERT INTO silver.$viaSql REPLACE WHERE g = 1 " +
          values(("100", "1", "1000"), ("101", "1", "1010")))
        val expect = (Seq(2L, 3L, 6L, 8L, 9L, 11L, 12L).map(k =>
            Seq[Any](k, (k % 3).toInt, k * 10)) :+ Seq[Any](13L, null, 130L)) ++
          Seq(Seq[Any](100L, 1, 1000L), Seq[Any](101L, 1, 1010L))
        // the NULL-g row does not match the predicate: kept (3VL)
        assert(read(apiDir) == expect, layout)
        assert(read(sqlDir) == expect, layout)
        assert((version(apiDir) - before._1, version(sqlDir) - before._2) ==
          (1, 1), layout)

        // an inserted row outside the region aborts: no version, no rows
        val v = (version(apiDir), version(sqlDir))
        intercept[IllegalArgumentException] {
          Catalog.replaceWherePath(spark, apiDir, col("g") === 1,
            Seq((200L, 2, 0L)).toDF("k", "g", "v"))
        }
        intercept[IllegalArgumentException] {
          sql(s"INSERT INTO silver.$viaSql REPLACE WHERE g = 1 " +
            values(("200", "2", "0")))
        }
        // a NULL predicate result is a violation too
        intercept[IllegalArgumentException] {
          sql(s"INSERT INTO silver.$viaSql REPLACE WHERE g = 1 " +
            values(("201", "NULL", "0")))
        }
        assert((version(apiDir), version(sqlDir)) == v, layout)
        assert(read(apiDir) == expect && read(sqlDir) == expect, layout)

        // an empty region with an empty insert commits nothing
        Seq.empty[(Long, Int, Long)].toDF("k", "g", "v")
          .createOrReplaceTempView("rwp_empty")
        assert(Catalog.replaceWherePath(spark, apiDir, col("g") === 7,
          spark.table("rwp_empty")) == 0, layout)
        sql(s"INSERT INTO silver.$viaSql REPLACE WHERE g = 7 " +
          s"SELECT ${ordered("k", "g", "v")} FROM rwp_empty")
        assert((version(apiDir), version(sqlDir)) == v, layout)
      } finally spark.sql(s"DROP TABLE IF EXISTS silver.$viaSql")
    }
  }

  test("SQL REPLACE WHERE keeps a hive table partitioned; untouched " +
      "partitions keep their files' inodes") {
    val wh = tmpDir("graft-rwp-hive")
    val dir = s"$wh/silver/h"
    rows.write.partitionBy("g").parquet(dir)
    spark.sql("CREATE SCHEMA IF NOT EXISTS silver")
    spark.sql(s"CREATE TABLE silver.rwp_h USING parquet LOCATION '$dir'")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, Object] = {
      val root = new java.io.File(dir).toPath
      val s = java.nio.file.Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
        .toMap
      finally s.close()
    }
    try {
      val before = dataFiles()
      assert(Catalog.partitionColsOf(f, dir) == Seq("g"))
      graft.sql.GraftSql.sql(spark, "INSERT INTO silver.rwp_h " +
        "REPLACE WHERE g = 1 VALUES (100, 1000, 1)").collect()
      assert(Catalog.partitionColsOf(f, dir) == Seq("g"),
        "REPLACE WHERE flattened the partitioned table")
      val after = dataFiles()
      val untouched = before.filterNot(_._1.startsWith("g=1/"))
      assert(untouched.nonEmpty)
      untouched.foreach { case (rel, key) =>
        assert(after.get(rel).contains(key), s"rewritten: $rel")
      }
      assert(rowsOf(spark.read.parquet(dir).filter(col("g") === 1)
        .select("k", "v"), "k") == Seq(Seq(100L, 1000L)))
      assert(spark.read.parquet(dir).count() == 10)
    } finally spark.sql("DROP TABLE IF EXISTS silver.rwp_h")
  }
}
