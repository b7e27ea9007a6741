package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Row-level DELETE FROM / UPDATE SQL lowered onto the snapshot swap:
  * Delta semantics (affected-row counts, NULL conditions, type casts),
  * versioning/time-travel integration, CHECK-constraint gating, and both
  * parser paths. */
class DmlSqlSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(name: String) = {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-dml"))
    cat.create(Seq(
      (1L, "open", 10.0), (2L, "done", 20.0), (3L, "open", 30.0),
      (4L, "void", Double.NaN)).toDF("id", "status", "price")
      .withColumn("price", when(col("id") === 4L, lit(null)
        .cast("double")).otherwise(col("price"))),
      "silver", name)
    cat.register("silver", name)
    cat
  }

  test("DELETE FROM removes TRUE-condition rows; NULL condition keeps") {
    val cat = freshTable("d1")
    val out = graft.sql.GraftSql.sql(spark,
      "DELETE FROM silver.d1 WHERE price > 15").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L)) // ids 2, 3
    // id 4 has NULL price → condition NULL → row stays (SQL semantics)
    assert(rowsOf(cat.read("silver", "d1"), "id").map(_.head) == Seq(1L, 4L))
    // the delete committed a new version; time travel reads the old state
    assert(cat.currentVersion("silver", "d1") == 2)
    assert(cat.readVersion("silver", "d1", 1).count() == 4)
    spark.sql("DROP TABLE IF EXISTS silver.d1")
  }

  test("DELETE with no matches affects 0 rows and commits nothing") {
    val cat = freshTable("d2")
    val out = graft.sql.GraftSql.sql(spark,
      "DELETE FROM silver.d2 WHERE price > 999").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L))
    assert(cat.currentVersion("silver", "d2") == 1, "no-op must not version")
    spark.sql("DROP TABLE IF EXISTS silver.d2")
  }

  test("DELETE/UPDATE with IN-subquery conditions resolve and commit") {
    val cat = freshTable("dsub")
    Seq((2L, "x"), (3L, "y")).toDF("ref_id", "tag")
      .createOrReplaceTempView("dml_refs")
    val del = graft.sql.GraftSql.sql(spark,
      "DELETE FROM silver.dsub WHERE id IN (SELECT ref_id FROM dml_refs WHERE tag = 'x')")
      .collect()
    assert(del.map(_.getLong(0)).toSeq == Seq(1L)) // id 2 only
    assert(rowsOf(cat.read("silver", "dsub"), "id").map(_.head) ==
      Seq(1L, 3L, 4L))
    val upd = graft.sql.GraftSql.sql(spark,
      "UPDATE silver.dsub SET status = 'flagged' WHERE id IN (SELECT ref_id FROM dml_refs)")
      .collect()
    assert(upd.map(_.getLong(0)).toSeq == Seq(1L)) // id 3 (2 is gone)
    assert(cat.read("silver", "dsub").filter(col("status") === "flagged")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    spark.catalog.dropTempView("dml_refs")
    spark.sql("DROP TABLE IF EXISTS silver.dsub")
  }

  test("UPDATE SET with WHERE: matching rows only, cast to column type") {
    val cat = freshTable("u1")
    val out = graft.sql.GraftSql.sql(spark,
      "UPDATE silver.u1 SET status = 'closed', price = 0 WHERE status = 'open'")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    val rows = rowsOf(cat.read("silver", "u1"), "id")
    assert(rows == Seq(
      Seq(1L, "closed", 0.0), Seq(2L, "done", 20.0),
      Seq(3L, "closed", 0.0), Seq(4L, "void", null)))
    // the literal 0 (integer) was cast to the column's DOUBLE
    assert(cat.read("silver", "u1").schema("price").dataType.typeName ==
      "double")
    spark.sql("DROP TABLE IF EXISTS silver.u1")
  }

  test("UPDATE without WHERE touches every row; alias-qualified condition") {
    val cat = freshTable("u2")
    assert(graft.sql.GraftSql.sql(spark,
      "UPDATE silver.u2 SET price = 1").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    assert(cat.read("silver", "u2").where(col("price") === 1.0).count() == 4)
    assert(graft.sql.GraftSql.sql(spark,
      "DELETE FROM silver.u2 AS t WHERE t.id >= 3").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(rowsOf(cat.read("silver", "u2"), "id").map(_.head) == Seq(1L, 2L))
    spark.sql("DROP TABLE IF EXISTS silver.u2")
  }

  test("UPDATE violating a CHECK constraint aborts before the swap") {
    val cat = freshTable("u3")
    cat.addConstraint("silver", "u3", "price_nonneg",
      "price IS NULL OR price >= 0")
    val e = intercept[IllegalStateException] {
      graft.sql.GraftSql.sql(spark,
        "UPDATE silver.u3 SET price = -5 WHERE id = 1").collect()
    }
    assert(e.getMessage.contains("price_nonneg"))
    assert(rowsOf(cat.read("silver", "u3"), "id").head == Seq(1L, "open", 10.0))
    spark.sql("DROP TABLE IF EXISTS silver.u3")
  }

  test("DELETE on a bucket-partitioned table rewrites only the matched bucket") {
    import graft.merge.PartitionedMerge
    val wh = tmpDir("graft-dml-bkt")
    val dir = s"$wh/gold/bdim"
    PartitionedMerge.write(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v"), dir, Seq("id"), 4)
    spark.sql("CREATE SCHEMA IF NOT EXISTS gold")
    spark.sql(s"CREATE TABLE gold.bdim USING parquet LOCATION '$dir'")
    val n = graft.sql.GraftSql.sql(spark,
      "DELETE FROM gold.bdim WHERE id = 1").collect()
    assert(n.head.getLong(0) == 1)
    assert(rowsOf(PartitionedMerge.read(spark, dir), "id") ==
      Seq(Seq(2L, "b"), Seq(3L, "c")))
    // the layout stays bucket-partitioned and versioned (pre-delete state
    // reconstructs) — the deep physical assertions live in BucketedDmlSpec
    assert(PartitionedMerge.readVersion(spark, dir, 1).count() == 3)
    val upd = graft.sql.GraftSql.sql(spark,
      "UPDATE gold.bdim SET v = 'B' WHERE id = 2").collect()
    assert(upd.head.getLong(0) == 1)
    assert(rowsOf(PartitionedMerge.read(spark, dir), "id").head ==
      Seq(2L, "B"))
    spark.sql("DROP TABLE IF EXISTS gold.bdim")
  }

  test("Catalog API and SQL DELETE/UPDATE agree on every layout") {
    DmlLayouts.all.foreach { layout =>
      val cat = new graft.catalog.Catalog(spark, tmpDir("graft-dml-parity"))
      val (api, sql) = (DmlLayouts.tableName(layout) + "_api",
        DmlLayouts.tableName(layout) + "_sql")
      Seq(api, sql).foreach { t =>
        DmlLayouts.write(spark, layout,
          (1L to 12L).map(k => (k, k % 3, k * 10)).toDF("k", "g", "v"),
          cat.path("silver", t), if (layout == "hive-partitioned") "g" else "k")
        graft.catalog.Catalog.addGeneratedColumnPath(spark,
          cat.path("silver", t), "v2", "v * 2")
      }
      cat.register("silver", sql)
      def version(t: String) = DmlLayouts.version(spark, cat.path("silver", t))
      def rows(t: String) = rowsOf(DmlLayouts.read(spark,
        cat.path("silver", t), "k", "g", "v", "v2"), "k")
      val before = (version(api), version(sql))
      val viaApi = Seq(
        cat.deleteWhere("silver", api, col("k") % 4 === 0),
        cat.updateWhere("silver", api, col("k") % 3 === 1,
          Seq("v" -> (col("v") + 100))))
      val viaSql = Seq(
        s"DELETE FROM silver.$sql WHERE k % 4 = 0",
        s"UPDATE silver.$sql AS x SET v = x.v + 100 WHERE x.k % 3 = 1")
        .map(q => graft.sql.GraftSql.sql(spark, q).collect().head.getLong(0))
      assert(viaApi == Seq(3L, 3L) && viaSql == viaApi, layout)
      assert(rows(api) == rows(sql), layout)
      assert(rows(api).filter(_.head == 7L) == Seq(Seq(7L, 1L, 170L, 340L)),
        layout)
      assert((version(api) - before._1, version(sql) - before._2) == (2, 2),
        layout)
      spark.sql(s"DROP TABLE IF EXISTS silver.$sql")
    }
  }

  test("UPDATE of an unknown column raises on every layout and commits nothing") {
    DmlLayouts.all.foreach { layout =>
      val cat = new graft.catalog.Catalog(spark, tmpDir("graft-dml-unknown"))
      val t = DmlLayouts.tableName(layout)
      val dir = cat.path("silver", t)
      DmlLayouts.write(spark, layout, Seq((1L, 1L), (2L, 2L)).toDF("k", "v"),
        dir, "k")
      val v0 = DmlLayouts.version(spark, dir)
      Seq(col("k") === 1L, col("k") === -1L).foreach { cond =>
        val e = intercept[IllegalArgumentException] {
          cat.updateWhere("silver", t, cond, Seq("nope" -> lit(1)))
        }
        assert(e.getMessage.contains("UPDATE assigns unknown column nope"),
          layout)
      }
      assert(DmlLayouts.version(spark, dir) == v0, layout)
      assert(rowsOf(DmlLayouts.read(spark, dir, "k", "v"), "k") ==
        Seq(Seq(1L, 1L), Seq(2L, 2L)), layout)
    }
  }

  test("extension-parser session runs DELETE/UPDATE through spark.sql") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]").appName("graft-dml-sql")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    // getOrCreate set the new session as this thread's ACTIVE session; a
    // later suite's getOrCreate on the same thread would silently inherit
    // the extension parser — restore both pointers
    SparkSession.setActiveSession(base)
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-dml-ext"))
    cat.create(Seq((1L, 5.0), (2L, 15.0), (3L, 25.0)).toDF("id", "price"),
      "gold", "dml_e")
    cat.register("gold", "dml_e")
    assert(s.sql("UPDATE gold.dml_e SET price = price * 2 WHERE id <= 2")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(s.sql("DELETE FROM gold.dml_e WHERE price = 30.0")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(rowsOf(cat.read("gold", "dml_e"), "id") ==
      Seq(Seq(1L, 10.0), Seq(3L, 25.0)))
    assert(cat.currentVersion("gold", "dml_e") == 3)
    s.sql("DROP TABLE IF EXISTS gold.dml_e")
  }
}
