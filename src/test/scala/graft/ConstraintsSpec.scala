package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` equivalent):
  * add-time validation, write-time enforcement through the snapshot swap,
  * NULL-passes semantics, and the SQL DDL in both parser paths. */
class ConstraintsSpec extends SparkSuite {
  import spark.implicits._

  private def freshCat() = {
    val wh = tmpDir("graft-cons")
    (new graft.catalog.Catalog(spark, wh), wh)
  }

  test("add validates existing data; violating add is rejected") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"),
      "silver", "t1")
    cat.addConstraint("silver", "t1", "price_pos", "price > 0")
    assert(cat.constraints("silver", "t1") ==
      Seq(("price_pos", "price > 0")))
    val e = intercept[IllegalStateException] {
      cat.addConstraint("silver", "t1", "price_big", "price > 15")
    }
    assert(e.getMessage.contains("price_big"))
    // the rejected constraint was not recorded
    assert(cat.constraints("silver", "t1").map(_._1) == Seq("price_pos"))
  }

  test("overwrite enforcing: violating write aborts, table unchanged") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, 10.0)).toDF("id", "price"), "silver", "t2")
    cat.addConstraint("silver", "t2", "price_pos", "price > 0")
    cat.overwriteSnapshot(Seq((1L, 11.0), (2L, 5.0)).toDF("id", "price"),
      "silver", "t2") // clean write passes
    val e = intercept[IllegalStateException] {
      cat.overwriteSnapshot(
        Seq((1L, 11.0), (2L, -3.0), (3L, -1.0)).toDF("id", "price"),
        "silver", "t2")
    }
    assert(e.getMessage.contains("price_pos") && e.getMessage.contains("2 rows"))
    // live snapshot is still the last GOOD write, version log intact
    assert(rowsOf(cat.read("silver", "t2"), "id") ==
      Seq(Seq(1L, 11.0), Seq(2L, 5.0)))
    assert(cat.currentVersion("silver", "t2") == 2)
    // the aborted staging dir is vacuumable leftovers at worst
    cat.vacuum("silver", "t2")
    assert(rowsOf(cat.read("silver", "t2"), "id").size == 2)
  }

  test("NULL passes (SQL semantics); IS NOT NULL catches nulls") {
    val (cat, _) = freshCat()
    val df = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "price")
    cat.create(df, "silver", "t3")
    // price > 0 is NULL for row 2 → passes
    cat.addConstraint("silver", "t3", "price_pos", "price > 0")
    val e = intercept[IllegalStateException] {
      cat.addConstraint("silver", "t3", "price_set", "price IS NOT NULL")
    }
    assert(e.getMessage.contains("price_set"))
  }

  test("drop lifts enforcement; duplicate add rejected; multi-constraint") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, 10.0, "A")).toDF("id", "price", "status"),
      "silver", "t4")
    cat.addConstraint("silver", "t4", "price_pos", "price > 0")
    cat.addConstraint("silver", "t4", "status_ok", "status IN ('A','B')")
    intercept[IllegalArgumentException] {
      cat.addConstraint("silver", "t4", "price_pos", "price > 1")
    }
    val bad = Seq((1L, -1.0, "C")).toDF("id", "price", "status")
    val e = intercept[IllegalStateException] {
      cat.overwriteSnapshot(bad, "silver", "t4")
    }
    // one pass reports BOTH violated constraints
    assert(e.getMessage.contains("price_pos") &&
      e.getMessage.contains("status_ok"))
    cat.dropConstraint("silver", "t4", "price_pos")
    cat.dropConstraint("silver", "t4", "status_ok")
    cat.overwriteSnapshot(bad, "silver", "t4") // now allowed
    assert(rowsOf(cat.read("silver", "t4")).size == 1)
  }

  test("SQL DDL via GraftSql.sql on a plain session") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, 10.0)).toDF("id", "price"), "silver", "t5")
    cat.register("silver", "t5")
    graft.sql.GraftSql.sql(spark,
      "ALTER TABLE silver.t5 ADD CONSTRAINT price_pos CHECK (price > 0)")
    assert(cat.constraints("silver", "t5").map(_._1) == Seq("price_pos"))
    intercept[IllegalStateException] {
      cat.overwriteSnapshot(Seq((1L, -2.0)).toDF("id", "price"),
        "silver", "t5")
    }
    graft.sql.GraftSql.sql(spark,
      "ALTER TABLE silver.t5 DROP CONSTRAINT price_pos")
    assert(cat.constraints("silver", "t5").isEmpty)
    cat.overwriteSnapshot(Seq((1L, -2.0)).toDF("id", "price"), "silver", "t5")
  }

  test("bucketed tables: prunedMerge enforces CHECK constraints too") {
    import graft.merge.PartitionedMerge
    val dir = tmpDir("graft-cons-bkt") + "/t"
    PartitionedMerge.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"),
      dir, Seq("id"), 4)
    graft.catalog.Catalog.addConstraintPath(spark, dir, "v_pos", "v > 0")
    def upsert(src: org.apache.spark.sql.DataFrame) =
      PartitionedMerge.prunedMerge(spark, dir, src) {
        (t, s) => t.join(s, Seq("id"), "left_anti").unionByName(s)
      }
    upsert(Seq((1L, 11.0)).toDF("id", "v")) // clean merge passes
    val e = intercept[IllegalStateException] {
      upsert(Seq((2L, -7.0)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_pos"))
    // the violating merge installed nothing — live buckets unchanged
    assert(rowsOf(PartitionedMerge.read(spark, dir), "id") ==
      Seq(Seq(1L, 11.0), Seq(2L, 20.0)))
  }

  test("DESCRIBE DETAIL reports files, version, constraints, skipping") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .repartition(2), "silver", "t6")
    cat.register("silver", "t6")
    cat.addConstraint("silver", "t6", "price_pos", "price > 0")
    cat.analyzeSkipping("silver", "t6", Seq("id"), bloomCols = Seq("id"))
    cat.overwriteSnapshot(Seq((1L, 10.0)).toDF("id", "price"), "silver", "t6")
    val r = graft.sql.GraftSql.sql(spark, "DESCRIBE DETAIL silver.t6")
      .collect()(0)
    assert(r.getAs[String]("format") == "parquet")
    assert(r.getAs[Int]("num_files") >= 1)
    assert(r.getAs[Long]("size_bytes") > 0)
    assert(r.getAs[Int]("version") == 2)
    assert(r.getAs[Int]("num_versions") == 2)
    assert(r.getAs[String]("constraints") == "price_pos CHECK (price > 0)")
    // the overwrite retired the analyzed snapshot WITH its manifest — the
    // live version reports no skipping state until re-analyzed
    assert(r.getAs[String]("skipping_columns") == "")
    cat.analyzeSkipping("silver", "t6", Seq("id"))
    assert(graft.sql.GraftSql.sql(spark, "DESCRIBE DETAIL silver.t6")
      .collect()(0).getAs[String]("skipping_columns") == "id")
    spark.sql("DROP TABLE IF EXISTS silver.t6")
  }

  test("SQL MERGE through the constraint: violating merge aborts the swap") {
    // extension-parser session (same pattern as MergeSqlSpec)
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]").appName("graft-cons-sql")
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
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-cons-sql"))
    cat.create(Seq((1L, 10.0)).toDF("id", "price"), "gold", "fact_c")
    cat.register("gold", "fact_c")
    s.sql(
      "ALTER TABLE gold.fact_c ADD CONSTRAINT price_pos CHECK (price > 0)")
    Seq((1L, -9.0)).toDF("id", "price").createOrReplaceTempView("upd_c")
    val e = intercept[IllegalStateException] {
      s.sql("""MERGE INTO gold.fact_c AS t USING upd_c AS s
               ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET t.price = s.price""")
    }
    assert(e.getMessage.contains("price_pos"))
    assert(rowsOf(cat.read("gold", "fact_c")) == Seq(Seq(1L, 10.0)))
    s.sql("DROP TABLE IF EXISTS gold.fact_c")
  }
}
