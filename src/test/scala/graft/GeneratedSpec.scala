package graft

import org.apache.spark.sql.functions._

/** `GENERATED ALWAYS AS` columns: materialization over existing data,
  * auto-computation on later writes, and the Delta consistency rule for
  * writer-provided values. */
class GeneratedSpec extends SparkSuite {
  import spark.implicits._

  test("add materializes over existing rows as a new version") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen"))
    cat.create(Seq((1L, 10.0), (2L, 25.0)).toDF("id", "price"),
      "silver", "g1")
    cat.addGeneratedColumn("silver", "g1", "price_band",
      "CASE WHEN price >= 20 THEN 'high' ELSE 'low' END")
    assert(cat.generatedColumns("silver", "g1").map(_._1) ==
      Seq("price_band"))
    assert(rowsOf(cat.read("silver", "g1"), "id") == Seq(
      Seq(1L, 10.0, "low"), Seq(2L, 25.0, "high")))
    assert(cat.currentVersion("silver", "g1") == 2)
    // pre-materialization state is still time-travelable (no column)
    assert(cat.readVersion("silver", "g1", 1).columns.toSeq ==
      Seq("id", "price"))
  }

  test("later writes compute the column when absent, validate when given") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen2"))
    cat.create(Seq((1L, 10.0)).toDF("id", "price"), "silver", "g2")
    cat.addGeneratedColumn("silver", "g2", "doubled", "price * 2")
    // writer omits the column → engine computes it
    cat.overwriteSnapshot(Seq((1L, 3.0), (2L, 4.0)).toDF("id", "price"),
      "silver", "g2")
    assert(rowsOf(cat.read("silver", "g2"), "id") == Seq(
      Seq(1L, 3.0, 6.0), Seq(2L, 4.0, 8.0)))
    // writer provides a CONSISTENT value → accepted
    cat.overwriteSnapshot(Seq((1L, 5.0, 10.0)).toDF("id", "price", "doubled"),
      "silver", "g2")
    // writer provides an INCONSISTENT value → the swap aborts
    val e = intercept[IllegalStateException] {
      cat.overwriteSnapshot(
        Seq((1L, 5.0, 99.0)).toDF("id", "price", "doubled"), "silver", "g2")
    }
    assert(e.getMessage.contains("__generated_doubled"))
    assert(rowsOf(cat.read("silver", "g2")) == Seq(Seq(1L, 5.0, 10.0)))
    // duplicate registration and data-column collisions refuse
    intercept[IllegalArgumentException] {
      cat.addGeneratedColumn("silver", "g2", "doubled", "price * 3")
    }
    intercept[IllegalArgumentException] {
      cat.addGeneratedColumn("silver", "g2", "price", "id * 1.0")
    }
    // dropping stops generation/validation; the data column remains
    cat.dropGeneratedColumn("silver", "g2", "doubled")
    assert(cat.generatedColumns("silver", "g2").isEmpty)
    cat.overwriteSnapshot(
      Seq((1L, 5.0, 99.0)).toDF("id", "price", "doubled"), "silver", "g2")
    assert(rowsOf(cat.read("silver", "g2")) == Seq(Seq(1L, 5.0, 99.0)))
  }

  test("schema-on-write: drifted overwrites are rejected, evolution is explicit") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-schema"))
    cat.create(Seq((1L, 10.0)).toDF("id", "price"), "silver", "s1")
    // same shape, different column ORDER and case → accepted
    cat.overwriteSnapshot(Seq((2.0, 5L)).toDF("PRICE", "id")
      .select(col("id"), col("PRICE")), "silver", "s1")
    // added column → rejected with the diff named
    val e1 = intercept[IllegalStateException] {
      cat.overwriteSnapshot(
        Seq((1L, 1.0, "x")).toDF("id", "price", "extra"), "silver", "s1")
    }
    assert(e1.getMessage.contains("added [extra]"))
    // type drift → rejected
    val e2 = intercept[IllegalStateException] {
      cat.overwriteSnapshot(Seq((1L, "oops")).toDF("id", "price"),
        "silver", "s1")
    }
    assert(e2.getMessage.contains("retyped [price"))
    // explicit evolution works, and RESTORE back across the change works
    cat.overwriteSnapshot(Seq((1L, 1.0, "x")).toDF("id", "price", "extra"),
      "silver", "s1", allowSchemaChange = true)
    cat.restore("silver", "s1", 2)
    assert(cat.read("silver", "s1").columns.toSeq == Seq("id", "PRICE"))
  }

  test("a generated column recorded before the first load applies to it") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen-first"))
    graft.catalog.Catalog.addGeneratedColumnPath(spark,
      cat.path("silver", "f1"), "v2", "v * 2")
    cat.create(Seq((1L, 3L)).toDF("k", "v"), "silver", "f1")
    assert(rowsOf(cat.read("silver", "f1")) == Seq(Seq(1L, 3L, 6L)))
    // the next overwrite omits the column too and is computed, not
    // refused as a schema change
    cat.overwriteSnapshot(Seq((2L, 4L)).toDF("k", "v"), "silver", "f1")
    assert(rowsOf(cat.read("silver", "f1")) == Seq(Seq(2L, 4L, 8L)))
  }

  test("a generated column recorded before PartitionedMerge.write applies to it") {
    import graft.merge.PartitionedMerge
    val dir = tmpDir("graft-gen-pmw") + "/t"
    graft.catalog.Catalog.addGeneratedColumnPath(spark, dir, "v2", "v * 2")
    PartitionedMerge.write(Seq((1L, 3L), (2L, 4L)).toDF("k", "v"), dir,
      Seq("k"), 4)
    assert(rowsOf(PartitionedMerge.read(spark, dir), "k") ==
      Seq(Seq(1L, 3L, 6L), Seq(2L, 4L, 8L)))
  }

  test("bucketed merges validate provided generated values, compute absent ones") {
    import graft.merge.PartitionedMerge
    val dir = tmpDir("graft-gen-pm") + "/t"
    graft.catalog.Catalog.addGeneratedColumnPath(spark, dir, "v2", "v * 2")
    PartitionedMerge.write(Seq((1L, 1L, 2L), (2L, 2L, 4L)).toDF("k", "v", "v2"),
      dir, Seq("k"), 4)
    // the merge output carries the source's columns (MergeEngine's shape)
    def upsert(src: org.apache.spark.sql.DataFrame) =
      PartitionedMerge.prunedMerge(spark, dir, src) { (t, s) =>
        t.select(s.columns.map(col).toSeq: _*)
          .join(s.select("k"), Seq("k"), "left_anti").unionByName(s)
      }
    // the flat overwrite's rule: a contradicting value aborts the merge
    val e = intercept[IllegalStateException] {
      upsert(Seq((1L, 5L, 999L)).toDF("k", "v", "v2"))
    }
    assert(e.getMessage.contains("__generated_v2 (1 rows)"))
    assert(rowsOf(PartitionedMerge.read(spark, dir), "k") ==
      Seq(Seq(1L, 1L, 2L), Seq(2L, 2L, 4L)))
    upsert(Seq((1L, 5L, 10L)).toDF("k", "v", "v2")) // consistent: accepted
    upsert(Seq((3L, 7L)).toDF("k", "v")) // absent: computed
    assert(rowsOf(PartitionedMerge.read(spark, dir), "k") ==
      Seq(Seq(1L, 5L, 10L), Seq(2L, 2L, 4L), Seq(3L, 7L, 14L)))
  }

  test("UPDATE recomputes an unassigned generated column on every layout") {
    DmlLayouts.all.foreach { layout =>
      val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen-upd"))
      val t = DmlLayouts.tableName(layout)
      val dir = cat.path("silver", t)
      DmlLayouts.write(spark, layout, Seq((1L, 1L), (2L, 2L)).toDF("k", "v"),
        dir, "k")
      graft.catalog.Catalog.addGeneratedColumnPath(spark, dir, "v2", "v * 2")
      def rows() = rowsOf(DmlLayouts.read(spark, dir, "k", "v", "v2"), "k")
      assert(cat.updateWhere("silver", t, col("k") === 1L,
        Seq("v" -> lit(10))) == 1, layout)
      assert(rows() == Seq(Seq(1L, 10L, 20L), Seq(2L, 2L, 4L)), layout)
      // an explicit assignment is writer-provided: checked, not overridden
      val e = intercept[IllegalStateException] {
        cat.updateWhere("silver", t, col("k") === 2L, Seq("v2" -> lit(99)))
      }
      assert(e.getMessage.contains("__generated_v2"), layout)
      assert(rows() == Seq(Seq(1L, 10L, 20L), Seq(2L, 2L, 4L)), layout)
    }
  }

  test("MERGE recomputes an unassigned generated column") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen-merge"))
    cat.create(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), "silver", "gm")
    cat.register("silver", "gm")
    cat.addGeneratedColumn("silver", "gm", "v2", "v * 2")
    def merge(set: String, src: Seq[(Long, Long)]): Unit = {
      src.toDF("k", "v").createOrReplaceTempView("gm_src")
      graft.sql.GraftSql.sql(spark, "MERGE INTO silver.gm t USING gm_src s " +
        s"ON t.k = s.k WHEN MATCHED THEN UPDATE SET $set " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    }
    try {
      merge("v = s.v", Seq((1L, 10L), (3L, 3L)))
      assert(rowsOf(cat.read("silver", "gm"), "k") ==
        Seq(Seq(1L, 10L, 20L), Seq(2L, 2L, 4L), Seq(3L, 3L, 6L)))
      // an explicit assignment is writer-provided: checked, not overridden
      val e = intercept[IllegalStateException](merge("v2 = 99", Seq((2L, 2L))))
      assert(e.getMessage.contains("__generated_v2"))
      assert(rowsOf(cat.read("silver", "gm"), "k") ==
        Seq(Seq(1L, 10L, 20L), Seq(2L, 2L, 4L), Seq(3L, 3L, 6L)))
    } finally spark.sql("DROP TABLE IF EXISTS silver.gm")
  }

  test("DESCRIBE DETAIL reports generated columns") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-gen3"))
    cat.create(Seq((1L, 2.0)).toDF("id", "price"), "silver", "g3")
    cat.register("silver", "g3")
    cat.addGeneratedColumn("silver", "g3", "cents",
      "CAST(price * 100 AS BIGINT)")
    val r = graft.sql.GraftSql.sql(spark, "DESCRIBE DETAIL silver.g3")
      .collect()(0)
    assert(r.getAs[String]("generated_columns") ==
      "cents AS (CAST(price * 100 AS BIGINT))")
    // the registration saw the widened schema
    assert(spark.table("silver.g3").columns.contains("cents"))
    spark.sql("DROP TABLE IF EXISTS silver.g3")
  }
}
