package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.merge.MergeEngine
import graft.quality.Expectations

/** Oracle-checked drivers for the MergeEngine (SURVEY.md §2.3 J3-J5) and
  * Expectations (§2.9 T7): deterministic target/source pairs are derived
  * from the testdata tables (modular splits of orders/customer/part), the
  * merge runs with a pinned audit timestamp, and the expected result is
  * expressed as plain ANSI SQL (full-outer-join + CASE resolution) for the
  * DuckDB oracle — machine-checking the merge semantics end to end.
  */
object MergeQueries {

  private val T0 = "2025-01-01 00:00:00" // initial-load audit stamp
  private val T1 = "2026-01-01 00:00:00" // merge-run audit stamp
  private def ts(s: String) = lit(s).cast("timestamp")
  private def decStr(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2)).cast("string")

  /** J5 — fact upsert (Gold_Orders.py:60-81): target = orders with key%5!=0,
    * source = even keys with a price bump on key%10==0. */
  def upsertFact(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val target = o.filter(col("o_orderkey") % 5 =!= 0).select(
      col("o_orderkey").as("order_id"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("total"),
      ts(T0).as("created_dt"), ts(T0).as("updated_dt"))
    val source = o.filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("order_id"),
      col("o_orderstatus").as("status"),
      when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 10)
        .otherwise(col("o_totalprice")).as("total"))
    MergeEngine.upsert(target, source, Seq("order_id"), ts(T1))
      .orderBy("order_id")
  }

  /** J3 — SCD1 customer dimension (Gold_Customers.py:75-97): target =
    * custkey%3!=0 (skey = key*10), source = even keys with acctbal+100 on
    * key%4==0 (so matched-changed, matched-same, and brand-new keys all
    * occur). */
  def scd1Dim(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val attrs = Seq("name", "segment", "acctbal")
    val target = c.filter(col("c_custkey") % 3 =!= 0).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      decStr(col("c_acctbal")).as("acctbal"),
      (col("c_custkey") * 10).as("customer_skey"),
      ts(T0).as("created_date"), ts(T0).as("updated_date"),
      lit("I").as("change_type"),
      MergeEngine.nullSafeHash(Seq(
        col("c_name"), col("c_mktsegment"), decStr(col("c_acctbal"))))
        .as("hash_value"))
    val source = c.filter(col("c_custkey") % 2 === 0).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      decStr(when(col("c_custkey") % 4 === 0, col("c_acctbal").cast(DecimalType(18, 2)) + 100)
        .otherwise(col("c_acctbal").cast(DecimalType(18, 2)))).as("acctbal"))
    MergeEngine.scd1(target, source, Seq("customer_id"), attrs,
      "customer_skey", ts(T1))
      .orderBy("customer_id")
  }

  /** J4/T6 — SCD2 product dimension, corrected two-phase semantics
    * (Gold_Products_No_Delta_Live.py:69-95 + Gold_Products.py:96-105, fixing
    * SURVEY §2.10.2): target current = partkey%3!=0, history rows at
    * partkey%9==0, source = even keys with brand suffixed on key%4==0. */
  def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
    val current = p.filter(col("p_partkey") % 3 =!= 0).select(
      col("p_partkey").as("product_id"),
      col("p_name").as("pname"),
      col("p_brand").as("brand"),
      decStr(col("p_retailprice")).as("price"),
      (col("p_partkey") * 10).as("product_skey"),
      MergeEngine.nullSafeHash(Seq(col("p_brand"), decStr(col("p_retailprice"))))
        .as("hash_value"),
      ts(T0).as("effective_start_date"),
      lit(null).cast("timestamp").as("effective_end_date"),
      lit(true).as("is_current"),
      ts(T0).as("insert_date"), ts(T0).as("update_date"))
    val history = p.filter(col("p_partkey") % 9 === 0).select(
      col("p_partkey").as("product_id"),
      col("p_name").as("pname"),
      lit("OLDBRAND").as("brand"),
      decStr(col("p_retailprice")).as("price"),
      (col("p_partkey") * 10 + 1).as("product_skey"),
      MergeEngine.nullSafeHash(Seq(lit("OLDBRAND"), decStr(col("p_retailprice"))))
        .as("hash_value"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("effective_start_date"),
      ts(T0).as("effective_end_date"),
      lit(false).as("is_current"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("insert_date"),
      ts(T0).as("update_date"))
    val target = current.unionByName(history)
    val source = p.filter(col("p_partkey") % 2 === 0).select(
      col("p_partkey").as("product_id"),
      col("p_name").as("pname"),
      when(col("p_partkey") % 4 === 0, concat(col("p_brand"), lit("#NEW")))
        .otherwise(col("p_brand")).as("brand"),
      decStr(col("p_retailprice")).as("price"))
    MergeEngine.scd2(target, source, Seq("product_id"),
      Seq("brand", "price"), "product_skey", ts(T1))
      .orderBy("product_id", "effective_start_date", "product_skey")
  }

  /** J3 through the SQL surface — the SAME SCD1 scenario as [[scd1Dim]] but
    * executed as the reference's `MERGE INTO` text (Gold_Customers.py:75-97)
    * lowered by [[graft.sql.MergeIntoRunner]] onto a registered parquet
    * catalog table. Shares q20's oracle verbatim: the two paths must agree
    * with DuckDB AND (transitively) with each other. The source carries
    * precomputed insert skeys (max target skey + row_number, what silver
    * hands the reference's MERGE) so INSERT VALUES can assign them. */
  def mergeSqlScd1(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val wh = java.nio.file.Files.createTempDirectory("graft-q70").toString
    val cat = new graft.catalog.Catalog(spark, wh)
    val table = "dim_customers_mergesql"
    val target = c.filter(col("c_custkey") % 3 =!= 0).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      decStr(col("c_acctbal")).as("acctbal"),
      (col("c_custkey") * 10).as("customer_skey"),
      ts(T0).as("created_date"), ts(T0).as("updated_date"),
      lit("I").as("change_type"),
      MergeEngine.nullSafeHash(Seq(
        col("c_name"), col("c_mktsegment"), decStr(col("c_acctbal"))))
        .as("hash_value"))
    cat.create(target, "gold", table)
    // re-point the registration at THIS run's warehouse (a previous run in
    // the same session registered a different temp location)
    cat.dropRegistration("gold", table)
    cat.register("gold", table)

    val source = c.filter(col("c_custkey") % 2 === 0).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      decStr(when(col("c_custkey") % 4 === 0,
        col("c_acctbal").cast(DecimalType(18, 2)) + 100)
        .otherwise(col("c_acctbal").cast(DecimalType(18, 2)))).as("acctbal"))
      .withColumn("hash_value", MergeEngine.nullSafeHash(Seq(
        col("name"), col("segment"), col("acctbal"))))
    val maxSkey = target.agg(
      coalesce(max(col("customer_skey")), lit(0L)).as("__max"))
    val newKeys = source
      .join(target.select("customer_id"), Seq("customer_id"), "left_anti")
      .select("customer_id")
      .crossJoin(broadcast(maxSkey))
      .withColumn("customer_skey",
        col("__max") + row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("customer_id")))
      .select("customer_id", "customer_skey")
    source.join(newKeys, Seq("customer_id"), "left")
      .createOrReplaceTempView("graft_q70_updates")

    graft.sql.GraftSql.sql(spark, s"""
      MERGE INTO gold.$table AS target
      USING graft_q70_updates AS source
      ON target.customer_id = source.customer_id
      WHEN MATCHED AND (target.hash_value != source.hash_value) THEN
        UPDATE SET
          target.name = source.name,
          target.segment = source.segment,
          target.acctbal = source.acctbal,
          target.updated_date = TIMESTAMP '$T1',
          target.change_type = 'U',
          target.hash_value = source.hash_value
      WHEN NOT MATCHED THEN
        INSERT (customer_skey, customer_id, name, segment, acctbal, created_date, updated_date, change_type, hash_value)
        VALUES (source.customer_skey, source.customer_id, source.name, source.segment, source.acctbal, TIMESTAMP '$T1', TIMESTAMP '$T1', 'I', source.hash_value)
    """)
    cat.read("gold", table)
      .select("customer_id", "name", "segment", "acctbal", "customer_skey",
        "created_date", "updated_date", "change_type", "hash_value")
      .orderBy("customer_id")
  }

  /** T7 — expectations drop mode (Gold_Products.py:71-74,82). */
  def dqDrop(spark: SparkSession, dir: String): DataFrame =
    Expectations.applyOrDrop(
      Tables.load(spark, dir, "part"),
      Map("size_not_null" -> "p_size IS NOT NULL",
          "size_max" -> "p_size <= 25",
          "price_positive" -> "p_retailprice > 0"))
      .kept.orderBy("p_partkey")

  /** T7 — one-pass violation-count metrics as a relation. A violation is
    * a rule that is NOT TRUE (3VL: NULL counts — the same rows the drop
    * gate removes), matching `Expectations.violationCounts`. */
  def dqMetrics(spark: SparkSession, dir: String): DataFrame = {
    def v(sql: String) =
      sum(when(!coalesce(expr(sql), lit(false)), 1L).otherwise(0L))
    Tables.load(spark, dir, "part").agg(
      v("p_size IS NOT NULL").as("v_size_not_null"),
      v("p_size <= 25").as("v_size_max"),
      v("p_retailprice > 0").as("v_price_positive"),
      count(lit(1)).as("total_rows"))
  }

  /** Incrementally maintained customer rollup ([[graft.pipeline
    * .MaterializedAgg]]): orders arrive as three deterministic batches
    * (`o_orderkey % 3`), each refresh merges partial states — the oracle
    * recomputes the SAME aggregate from scratch in one GROUP BY, so any
    * drift between incremental maintenance and full recompute breaks the
    * hash. Money goes through integer cents (scaled-BIGINT idiom): sums
    * stay exact and engine-portable where double accumulation is not. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.MaterializedAgg
    import MaterializedAgg._
    val wh = java.nio.file.Files.createTempDirectory("graft-magg").toString
    val cat = new graft.catalog.Catalog(spark, wh)
    val ma = new MaterializedAgg(spark, cat, "gold", "cust_rollup",
      Seq("o_custkey"),
      Seq(CountRows("n_orders"), Sum(col("cents"), "sum_cents"),
        Min(col("cents"), "min_cents"), Max(col("cents"), "max_cents")))
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    (0 to 2).foreach { i =>
      ma.refresh(o.filter(pmod(col("o_orderkey"), lit(3)) === i), i.toLong)
    }
    ma.read().orderBy("o_custkey")
  }

  /** Incrementally maintained JOIN view ([[graft.pipeline
    * .MaterializedJoin]]) under the driver's hash gate: the fact arrives
    * in two batches, the dim is rewritten once with inserts + SCD1
    * updates + deletes (late-arriving fills, a VIP re-segmentation, and
    * removals in one feed pull) — the oracle computes the SAME final
    * left join from scratch, so any divergence between incremental
    * maintenance and the full join breaks the hash. */
  def incrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-mjoin").toString
    val cat = new graft.catalog.Catalog(spark, wh)
    // a quarter of the fact: the machinery under test is the maintenance
    // protocol (two feeds, bucket pruning, preimage cleanup), not write
    // volume — q81 already benches pure state-write throughput
    val o = Tables.load(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(4)) === 0).select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val cust = Tables.load(spark, dir, "customer")
    cat.overwriteSnapshot(o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
      "silver", "mj_fact")
    cat.overwriteSnapshot(
      cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
      "silver", "mj_dim")
    val mj = new graft.pipeline.MaterializedJoin(spark,
      cat.path("silver", "mj_fact"), Seq("o_orderkey"), "o_custkey",
      cat.path("silver", "mj_dim"), "c_custkey", Seq("segment"),
      s"$wh/gold/mj_view", nBuckets = 8)
    mj.build()
    // fact batch 2 + one dim rewrite carrying inserts/updates/deletes
    graft.catalog.Catalog.appendPath(spark,
      o.filter(pmod(col("o_orderkey"), lit(3)) === 0),
      cat.path("silver", "mj_fact"))
    cat.overwriteSnapshot(
      cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, lit("VIP"))
            .otherwise(col("c_mktsegment")).as("segment")),
      "silver", "mj_dim")
    mj.refresh()
    mj.read().orderBy("o_orderkey")
  }

  /** The MV SQL lifecycle (CREATE / append / REFRESH) under the driver's
    * hash gate — q70's pattern applied to `CREATE MATERIALIZED VIEW`:
    * the oracle is the one-shot GROUP BY over the final source. */
  def mviewSqlRollup(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q120").toString
    val cat = new graft.catalog.Catalog(spark, wh)
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    cat.overwriteSnapshot(o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
      "silver", "mv_src")
    cat.dropRegistration("silver", "mv_src")
    cat.register("silver", "mv_src")
    // a previous rep in this session left its view behind — drop through
    // the statement so the sidecar/cursor cleanup runs too
    if (spark.catalog.tableExists("gold.mv_rollup"))
      graft.sql.GraftSql.sql(spark, "DROP MATERIALIZED VIEW gold.mv_rollup")
    graft.sql.GraftSql.sql(spark,
      """CREATE MATERIALIZED VIEW gold.mv_rollup AS
         SELECT o_custkey, sum(cents) AS sum_cents, count(*) AS n_orders
         FROM silver.mv_src GROUP BY o_custkey""")
    graft.catalog.Catalog.appendPath(spark,
      o.filter(pmod(col("o_orderkey"), lit(3)) === 0),
      cat.path("silver", "mv_src"))
    graft.sql.GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gold.mv_rollup")
    spark.table("gold.mv_rollup")
      .drop(graft.pipeline.MaterializedAgg.RefreshIdCol)
      .orderBy("o_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_incr_agg"     -> (incrementalAgg _),
    "q119_incr_join"   -> (incrementalJoin _),
    "q120_mview_sql"   -> (mviewSqlRollup _),
    "q19_merge_upsert" -> (upsertFact _),
    "q20_merge_scd1"   -> (scd1Dim _),
    "q21_merge_scd2"   -> (scd2Dim _),
    "q22_dq_drop"      -> (dqDrop _),
    "q23_dq_metrics"   -> (dqMetrics _),
    "q70_merge_sql"    -> (mergeSqlScd1 _))

  private val oraclesCore: Map[String, String] = Map(
    // the final left join computed from scratch — what q119 maintained
    // incrementally across a fact append and a dim rewrite
    "q119_incr_join" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           segment
         FROM orders LEFT JOIN (
           SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'VIP'
                  ELSE c_mktsegment END AS segment
           FROM customer WHERE c_custkey % 7 <> 0) d
         ON o_custkey = d.c_custkey
         WHERE o_orderkey % 4 = 0
         ORDER BY o_orderkey""",
    // the one-shot GROUP BY over the final source — what q120's CREATE +
    // REFRESH MATERIALIZED VIEW statements maintained incrementally
    "q120_mview_sql" ->
      """SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS BIGINT) AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // full single-pass recompute of what q81 maintains incrementally
    "q81_incr_agg" ->
      """WITH o AS (
           SELECT o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders)
         SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           min(cents) AS min_cents, max(cents) AS max_cents
         FROM o GROUP BY o_custkey ORDER BY o_custkey""",
    "q19_merge_upsert" ->
      s"""WITH target AS (
            SELECT o_orderkey AS order_id, o_orderstatus AS status,
                   o_totalprice AS total,
                   TIMESTAMP '$T0' AS created_dt, TIMESTAMP '$T0' AS updated_dt
            FROM orders WHERE o_orderkey % 5 <> 0),
          source AS (
            SELECT o_orderkey AS order_id, o_orderstatus AS status,
                   CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10
                        ELSE o_totalprice END AS total
            FROM orders WHERE o_orderkey % 2 = 0)
          SELECT coalesce(s.order_id, t.order_id) AS order_id,
            CASE WHEN s.order_id IS NOT NULL THEN s.status ELSE t.status END AS status,
            CASE WHEN s.order_id IS NOT NULL THEN s.total ELSE t.total END AS total,
            CASE WHEN t.order_id IS NOT NULL THEN t.created_dt
                 ELSE TIMESTAMP '$T1' END AS created_dt,
            CASE WHEN s.order_id IS NOT NULL THEN TIMESTAMP '$T1'
                 ELSE t.updated_dt END AS updated_dt
          FROM target t FULL OUTER JOIN source s ON t.order_id = s.order_id
          ORDER BY order_id""",
    "q20_merge_scd1" ->
      s"""WITH target AS (
            SELECT c_custkey AS customer_id, c_name AS name,
                   c_mktsegment AS segment,
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS acctbal,
                   c_custkey * 10 AS customer_skey,
                   TIMESTAMP '$T0' AS created_date, TIMESTAMP '$T0' AS updated_date,
                   'I' AS change_type,
                   sha256(concat_ws('|',
                     coalesce(c_name, '<NULL>'), coalesce(c_mktsegment, '<NULL>'),
                     coalesce(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR), '<NULL>')))
                     AS hash_value
            FROM customer WHERE c_custkey % 3 <> 0),
          src AS (
            SELECT c_custkey AS customer_id, c_name AS name,
                   c_mktsegment AS segment,
                   CAST(CASE WHEN c_custkey % 4 = 0
                        THEN CAST(c_acctbal AS DECIMAL(18,2)) + 100
                        ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS VARCHAR) AS acctbal
            FROM customer WHERE c_custkey % 2 = 0),
          src_h AS (
            SELECT *, sha256(concat_ws('|',
              coalesce(name, '<NULL>'), coalesce(segment, '<NULL>'),
              coalesce(acctbal, '<NULL>'))) AS h
            FROM src),
          j AS (
            SELECT t.customer_id AS t_id, t.name, t.segment, t.acctbal,
                   t.customer_skey, t.created_date, t.updated_date,
                   t.change_type, t.hash_value,
                   s.customer_id AS s_id, s.name AS s_name,
                   s.segment AS s_segment, s.acctbal AS s_acctbal, s.h
            FROM target t FULL OUTER JOIN src_h s ON t.customer_id = s.customer_id),
          existing AS (
            SELECT t_id AS customer_id,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN s_name ELSE name END AS name,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN s_segment ELSE segment END AS segment,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN s_acctbal ELSE acctbal END AS acctbal,
              customer_skey, created_date,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN TIMESTAMP '$T1' ELSE updated_date END AS updated_date,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN 'U' ELSE change_type END AS change_type,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN h ELSE hash_value END AS hash_value
            FROM j WHERE t_id IS NOT NULL),
          ins AS (
            SELECT s_id AS customer_id, s_name AS name, s_segment AS segment,
              s_acctbal AS acctbal,
              (SELECT max(customer_skey) FROM target)
                + ROW_NUMBER() OVER (ORDER BY s_id) AS customer_skey,
              TIMESTAMP '$T1' AS created_date, TIMESTAMP '$T1' AS updated_date,
              'I' AS change_type, h AS hash_value
            FROM j WHERE t_id IS NULL)
          SELECT * FROM existing UNION ALL SELECT * FROM ins
          ORDER BY customer_id""",
    "q21_merge_scd2" ->
      s"""WITH current AS (
            SELECT p_partkey AS product_id, p_name AS pname, p_brand AS brand,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price,
                   p_partkey * 10 AS product_skey,
                   sha256(concat_ws('|', coalesce(p_brand, '<NULL>'),
                     coalesce(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '<NULL>')))
                     AS hash_value,
                   TIMESTAMP '$T0' AS effective_start_date,
                   CAST(NULL AS TIMESTAMP) AS effective_end_date,
                   TRUE AS is_current,
                   TIMESTAMP '$T0' AS insert_date, TIMESTAMP '$T0' AS update_date
            FROM part WHERE p_partkey % 3 <> 0),
          history AS (
            SELECT p_partkey AS product_id, p_name AS pname,
                   'OLDBRAND' AS brand,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price,
                   p_partkey * 10 + 1 AS product_skey,
                   sha256(concat_ws('|', 'OLDBRAND',
                     coalesce(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '<NULL>')))
                     AS hash_value,
                   TIMESTAMP '2024-01-01 00:00:00' AS effective_start_date,
                   TIMESTAMP '$T0' AS effective_end_date,
                   FALSE AS is_current,
                   TIMESTAMP '2024-01-01 00:00:00' AS insert_date,
                   TIMESTAMP '$T0' AS update_date
            FROM part WHERE p_partkey % 9 = 0),
          src AS (
            SELECT p_partkey AS product_id, p_name AS pname,
                   CASE WHEN p_partkey % 4 = 0 THEN p_brand || '#NEW'
                        ELSE p_brand END AS brand,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price
            FROM part WHERE p_partkey % 2 = 0),
          src_h AS (
            SELECT *, sha256(concat_ws('|', coalesce(brand, '<NULL>'),
              coalesce(price, '<NULL>'))) AS h
            FROM src),
          j AS (
            SELECT t.product_id AS t_id, t.pname, t.brand, t.price,
                   t.product_skey, t.hash_value, t.effective_start_date,
                   t.effective_end_date, t.is_current, t.insert_date, t.update_date,
                   s.product_id AS s_id, s.pname AS s_pname, s.brand AS s_brand,
                   s.price AS s_price, s.h
            FROM current t FULL OUTER JOIN src_h s ON t.product_id = s.product_id),
          kept AS (
            SELECT t_id AS product_id, pname, brand, price, product_skey,
              hash_value, effective_start_date,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN TIMESTAMP '$T1' ELSE effective_end_date END AS effective_end_date,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN FALSE ELSE is_current END AS is_current,
              insert_date,
              CASE WHEN s_id IS NOT NULL AND hash_value <> h THEN TIMESTAMP '$T1' ELSE update_date END AS update_date
            FROM j WHERE t_id IS NOT NULL),
          vers AS (
            SELECT s_id AS product_id, s_pname AS pname, s_brand AS brand,
              s_price AS price,
              (SELECT max(product_skey) FROM (SELECT product_skey FROM current
                 UNION ALL SELECT product_skey FROM history) u)
                + ROW_NUMBER() OVER (ORDER BY s_id) AS product_skey,
              h AS hash_value,
              TIMESTAMP '$T1' AS effective_start_date,
              CAST(NULL AS TIMESTAMP) AS effective_end_date,
              TRUE AS is_current,
              TIMESTAMP '$T1' AS insert_date, TIMESTAMP '$T1' AS update_date
            FROM j
            WHERE s_id IS NOT NULL AND (t_id IS NULL OR hash_value <> h))
          SELECT * FROM history
          UNION ALL SELECT * FROM kept
          UNION ALL SELECT * FROM vers
          ORDER BY product_id, effective_start_date, product_skey""",
    "q22_dq_drop" ->
      """SELECT * FROM part
         WHERE p_size IS NOT NULL AND p_size <= 25 AND p_retailprice > 0
         ORDER BY p_partkey""",
    "q23_dq_metrics" ->
      """SELECT
         CAST(SUM(CASE WHEN NOT coalesce(p_size IS NOT NULL, false) THEN 1 ELSE 0 END) AS BIGINT) AS v_size_not_null,
         CAST(SUM(CASE WHEN NOT coalesce(p_size <= 25, false) THEN 1 ELSE 0 END) AS BIGINT) AS v_size_max,
         CAST(SUM(CASE WHEN NOT coalesce(p_retailprice > 0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
         COUNT(*) AS total_rows
         FROM part""")

  // the SQL MERGE surface runs the exact q20 scenario, so its expected
  // result IS q20's oracle
  val oracles: Map[String, String] =
    oraclesCore + ("q70_merge_sql" -> oraclesCore("q20_merge_scd1"))
}
