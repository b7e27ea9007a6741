package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.merge.MergeEngine

/** Property-based merge invariants (SURVEY.md §5.2.3), sampled from
  * scalacheck generators with fixed seeds (no scalatestplus bridge in the
  * offline dependency set):
  *  - scd1 is idempotent: merging the same source twice == once;
  *  - result key set == keys(target) ∪ keys(source);
  *  - scd2 keeps exactly one is_current row per key in target∪source.
  */
class MergeProps extends SparkSuite {
  import spark.implicits._

  private val t0 = lit("2025-01-01 00:00:00").cast("timestamp")
  private val t1 = lit("2026-01-01 00:00:00").cast("timestamp")

  private val entryGen: Gen[(Long, String)] = for {
    k <- Gen.chooseNum(1L, 12L)
    v <- Gen.oneOf("a", "b", "c", null)
  } yield (k, v)

  private val tableGen: Gen[Map[Long, String]] =
    Gen.listOfN(8, entryGen).map(_.toMap)

  private def cases(n: Int): Seq[(Map[Long, String], Map[Long, String])] =
    (1 to n).flatMap { i =>
      for {
        t <- tableGen.apply(Gen.Parameters.default, Seed(i.toLong))
        s <- tableGen.apply(Gen.Parameters.default, Seed(i.toLong + 1000))
      } yield (t, s)
    }

  private def mkDim(m: Map[Long, String]): DataFrame =
    m.toSeq.toDF("customer_id", "name")
      .withColumn("customer_skey", col("customer_id") * 10)
      .withColumn("created_date", t0).withColumn("updated_date", t0)
      .withColumn("change_type", lit("I"))
      .withColumn("hash_value", MergeEngine.nullSafeHash(Seq(col("name"))))

  private def mkScd2(m: Map[Long, String]): DataFrame =
    m.toSeq.toDF("product_id", "brand")
      .withColumn("product_skey", col("product_id") * 10)
      .withColumn("hash_value", MergeEngine.nullSafeHash(Seq(col("brand"))))
      .withColumn("effective_start_date", t0)
      .withColumn("effective_end_date", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
      .withColumn("insert_date", t0).withColumn("update_date", t0)

  test("scd1 idempotence + key-union over random target/source") {
    cases(5).foreach { case (t, s) =>
      val target = mkDim(t)
      val source = s.toSeq.toDF("customer_id", "name")
      val once = MergeEngine.scd1(target, source, Seq("customer_id"),
        Seq("name"), "customer_skey", t1)
      val twice = MergeEngine.scd1(once, source, Seq("customer_id"),
        Seq("name"), "customer_skey", t1)
      assert(rowsOf(once, "customer_id") == rowsOf(twice, "customer_id"),
        s"not idempotent for target=$t source=$s")
      val keys = once.select("customer_id").as[Long].collect().toSet
      assert(keys == t.keySet ++ s.keySet)
    }
  }

  test("upsert idempotence + pass-through of unmatched target rows") {
    cases(5).foreach { case (t, s) =>
      val target = t.toSeq.toDF("order_id", "status")
        .withColumn("created_dt", t0).withColumn("updated_dt", t0)
      val source = s.toSeq.toDF("order_id", "status")
      val once = MergeEngine.upsert(target, source, Seq("order_id"), t1)
      val twice = MergeEngine.upsert(once, source, Seq("order_id"), t1)
      assert(rowsOf(once, "order_id") == rowsOf(twice, "order_id"),
        s"upsert not idempotent for target=$t source=$s")
      // unmatched target rows pass through untouched
      val untouched = t.keySet -- s.keySet
      val kept = once.filter(col("order_id").isin(untouched.toSeq: _*))
        .select("order_id", "status", "updated_dt").collect()
      kept.foreach { r =>
        assert(Option(t(r.getLong(0))) == Option(r.getString(1)))
        assert(r.getTimestamp(2).toString.startsWith("2025-01-01"))
      }
      val keys = once.select("order_id").as[Long].collect().toSet
      assert(keys == t.keySet ++ s.keySet)
    }
  }

  test("scd2 partition-pruned merge equals full merge on random inputs") {
    cases(3).foreach { case (t, s) =>
      val target = mkScd2(t)
      val source = s.toSeq.toDF("product_id", "brand")
      val path = tmpDir("mprop") + "/dim"
      graft.merge.PartitionedMerge.write(target, path, Seq("product_id"), 4)
      graft.merge.PartitionedMerge.prunedMerge(
        spark, path, source) { (pt, src) =>
        MergeEngine.scd2(pt, src, Seq("product_id"), Seq("brand"),
          "product_skey", t1,
          skeyBase = Some(graft.merge.PartitionedMerge.read(spark, path)))
      }
      val full = MergeEngine.scd2(target, source, Seq("product_id"),
        Seq("brand"), "product_skey", t1)
      assert(rowsOf(graft.merge.PartitionedMerge.read(spark, path),
        "product_id", "is_current", "brand")
        == rowsOf(full, "product_id", "is_current", "brand"),
        s"pruned != full for target=$t source=$s")
    }
  }

  test("scd2 single-current invariant over random target/source") {
    cases(5).foreach { case (t, s) =>
      val out = MergeEngine.scd2(mkScd2(t),
        s.toSeq.toDF("product_id", "brand"), Seq("product_id"),
        Seq("brand"), "product_skey", t1)
      val bad = out.filter(col("is_current"))
        .groupBy("product_id").count().filter(col("count") > 1).count()
      assert(bad == 0L, s"multiple current rows for target=$t source=$s")
      val curKeys = out.filter(col("is_current"))
        .select("product_id").as[Long].collect().toSet
      assert(curKeys == t.keySet ++ s.keySet)
    }
  }

  test("SQL MERGE surface equals MergeEngine.scd1 on random target/source") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("mprop-sql"))
    cases(4).zipWithIndex.foreach { case ((t, s), i) =>
      val table = s"prop_merge_$i"
      val target = mkDim(t)
      cat.create(target, "gold", table)
      cat.dropRegistration("gold", table)
      cat.register("gold", table)
      val source0 = s.toSeq.toDF("customer_id", "name")
        .withColumn("hash_value", MergeEngine.nullSafeHash(Seq(col("name"))))
      // insert skeys precomputed as scd1 assigns them: max target skey +
      // row_number over new keys in key order (the q70 convention)
      val maxSkey = target.agg(
        coalesce(max(col("customer_skey")), lit(0L)).as("__max"))
      val newKeys = source0
        .join(target.select("customer_id"), Seq("customer_id"), "left_anti")
        .select("customer_id").crossJoin(broadcast(maxSkey))
        .withColumn("customer_skey", col("__max") + row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("customer_id")))
        .select("customer_id", "customer_skey")
      source0.join(newKeys, Seq("customer_id"), "left")
        .createOrReplaceTempView(s"prop_merge_src_$i")

      graft.sql.GraftSql.sql(spark, s"""
        MERGE INTO gold.$table AS target
        USING prop_merge_src_$i AS source
        ON target.customer_id = source.customer_id
        WHEN MATCHED AND (target.hash_value != source.hash_value) THEN
          UPDATE SET
            target.name = source.name,
            target.updated_date = TIMESTAMP'2026-01-01 00:00:00',
            target.change_type = 'U',
            target.hash_value = source.hash_value
        WHEN NOT MATCHED THEN
          INSERT (customer_skey, customer_id, name, created_date, updated_date, change_type, hash_value)
          VALUES (source.customer_skey, source.customer_id, source.name, TIMESTAMP'2026-01-01 00:00:00', TIMESTAMP'2026-01-01 00:00:00', 'I', source.hash_value)
      """)

      val expected = MergeEngine.scd1(mkDim(t),
        s.toSeq.toDF("customer_id", "name"),
        Seq("customer_id"), Seq("name"), "customer_skey", t1)
      val cols = expected.columns.toSeq
      val got = cat.read("gold", table).select(cols.map(col): _*)
      assert(rowsOf(got, "customer_id") == rowsOf(expected, "customer_id"),
        s"SQL merge != engine for target=$t source=$s")
      cat.dropRegistration("gold", table)
    }
  }
}
