package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.catalog.Catalog
import graft.functions.Udfs
import graft.quality.Expectations

/** Chained ranking-window combinator (the reference's `windows` helper
  * class, Silver_Orders.py:71-96): applies dense_rank → rank → row_number
  * cumulatively over the same (partition, order) spec. */
class RankingWindows(partitionCol: String, orderCol: String) {
  private def w = Window.partitionBy(col(partitionCol))
    .orderBy(col(orderCol).desc)

  def denseRank(df: DataFrame): DataFrame =
    df.withColumn("dense_rank_flag", dense_rank().over(w))
  def rankFlag(df: DataFrame): DataFrame =
    denseRank(df).withColumn("rank_flag", rank().over(w))
  def rowNumber(df: DataFrame): DataFrame =
    rankFlag(df).withColumn("row_no", row_number().over(w))
}

/** The medallion pipeline: explicit Scala orchestration of the reference's
  * notebook graph (SURVEY.md §3). Bronze is loaded by graft.ingest.Ingest;
  * this module owns Silver cleansing and Gold dimensional loads.
  *
  * Layer semantics: silver tables are snapshot-overwritten
  * (Silver_Customers.py:41), gold tables are created on first load and
  * merged afterwards (Gold_Customers.py:55-97) via MergeEngine.
  *
  * `dimBuckets`: when set, gold tables are FIRST loaded bucket-partitioned
  * by `pmod(hash(merge keys), n)`; every later load merges through
  * [[graft.merge.PartitionedMerge.prunedMerge]] (`Catalog.mergePath` reads
  * the layout and bucket count off the table) — only buckets containing
  * source keys are read and rewritten (Delta file pruning's analogue). At
  * 100 TB this is the difference between a load that touches gigabytes and
  * one that rewrites the whole dimension; results are identical to the
  * full-snapshot path (spec-asserted).
  */
class Medallion(spark: SparkSession, cat: Catalog,
    dimBuckets: Option[Int] = None) {

  // ---- Silver (cleanse/enrich) ------------------------------------------

  /** Silver_Customers.py:12-41 — drop rescue column, derive email domain +
    * fullname. First/last name survive intentionally (SURVEY §2.10.1). */
  def silverCustomers(bronze: DataFrame): DataFrame =
    bronze.drop("_rescued_data")
      .withColumn("domains", split(col("email"), "@").getItem(1))
      .withColumn("fullname",
        concat_ws(" ", col("first_name"), col("last_name")))

  /** Silver_Customers.py:28 — customers per domain, most-populous first. */
  def customersPerDomain(silver: DataFrame): DataFrame =
    silver.groupBy("domains")
      .agg(count(col("customer_id")).as("total_customers"))
      .orderBy(desc("total_customers"))

  /** Silver_Orders.py:13-105 — timestamp cast, year derivation, ranking
    * windows showcase. */
  def silverOrders(bronze: DataFrame): DataFrame = {
    val base = bronze.drop("_rescued_data")
      .withColumn("order_date", to_timestamp(col("order_date")))
      .withColumn("year", year(col("order_date")))
    new RankingWindows("year", "total_amount").rowNumber(base)
  }

  /** Silver_Products.py:12-60 — discount SQL UDF + upper_func Scala UDF. */
  def silverProducts(bronze: DataFrame): DataFrame = {
    Udfs.register(spark)
    bronze.drop("_rescued_data")
      .withColumn("discounted_price", expr("discount(price)"))
      .withColumn("brand", call_udf("upper_func", col("brand")))
  }

  /** Silver_Regions.py:2-13 — passthrough cleanse. */
  def silverRegions(bronze: DataFrame): DataFrame =
    bronze.drop("_rescued_data")

  // ---- Gold (dimensional model) -----------------------------------------

  private val customerTracked =
    Seq("first_name", "last_name", "email", "city", "state")

  /** Gold_Customers.py — SCD1 customer dimension keyed on customer_id.
    * (The reference's MERGE keys on id+first+last, Gold_Customers.py:78-80;
    * the business key is customer_id — name changes are tracked attributes,
    * not identity.) */
  def goldCustomerDim(silver: DataFrame, now: Column = current_timestamp()): DataFrame =
    GoldLoad.scd1(spark, cat, dimBuckets, "customer_dim",
      customerSource(silver), Seq("customer_id"), customerTracked,
      "customer_skey", now)

  private def customerSource(silver: DataFrame): DataFrame =
    silver.select(
      (Seq("customer_id") ++ customerTracked ++ Seq("domains", "fullname"))
        .map(col): _*)

  private val productTracked = Seq("brand", "price", "supplier")

  /** Gold_Products_No_Delta_Live.py / Gold_Products.py — SCD2 product
    * dimension (corrected two-phase semantics; tracks brand AND supplier,
    * reconciling SURVEY §2.10.7). */
  def goldProductDim(silver: DataFrame, now: Column = current_timestamp()): DataFrame =
    GoldLoad.scd2(spark, cat, dimBuckets, "product_dim",
      productSource(silver), Seq("product_id"), productTracked,
      "product_skey", now)

  private def productSource(silver: DataFrame): DataFrame =
    silver.select(
      col("product_id"), col("product_name"), col("category"),
      col("price"), col("brand"), col("supplier"), col("discounted_price"))

  /** Gold_Orders.py — order fact: dim lookups for surrogate keys (selecting
    * the REAL product_skey, fixing SURVEY §2.10.5), then upsert keyed on
    * order_id. DQ expectations gate the load (Gold_Products.py:71-82 pattern
    * applied to the fact). The dims grow with the customer/product
    * population, so no forced broadcast — AQE broadcasts them while they
    * measure small and degrades to a shuffle join when they don't. */
  private val orderRules = Map(
    "order_id_not_null" -> "order_id IS NOT NULL",
    "amount_non_negative" -> "total_amount >= 0")

  def goldOrderFact(silverOrders: DataFrame, now: Column = current_timestamp()): DataFrame = {
    val gated = Expectations.applyOrDrop(silverOrders, orderRules).kept
    GoldLoad.upsert(spark, cat, dimBuckets, "order_fact",
      orderFactSource(gated, GoldLoad.read(spark, cat, "customer_dim"),
        GoldLoad.read(spark, cat, "product_dim")),
      Seq("order_id"), now)
  }

  /** Dim lookups for surrogate keys — the dims join 1:1 on their keys
    * (SCD1 dim unique per key; SCD2 filtered to is_current), so gating the
    * orders before or after this join drops the same rows. */
  private def orderFactSource(orders: DataFrame, customerDim: DataFrame,
      productDim: DataFrame): DataFrame = {
    val dimC = customerDim.select(col("customer_id"), col("customer_skey"))
    val dimP = productDim.filter(col("is_current"))
      .select(col("product_id"), col("product_skey"))
    orders
      .join(dimC, Seq("customer_id"), "left")
      .join(dimP, Seq("product_id"), "left")
      .select(col("order_id"), col("order_date"), col("year"),
        col("customer_skey"), col("product_skey"),
        col("quantity"), col("total_amount"))
  }

  /** Full silver+gold run over bronze inputs (the DLT-equivalent dependency
    * order, expressed explicitly — SURVEY §4.4). */
  def run(bronzeCustomers: DataFrame, bronzeOrders: DataFrame,
      bronzeProducts: DataFrame, bronzeRegions: DataFrame,
      now: Column = current_timestamp()): Unit = {
    val sc = silverCustomers(bronzeCustomers)
    val so = silverOrders(bronzeOrders)
    val sp = silverProducts(bronzeProducts)
    val sr = silverRegions(bronzeRegions)
    cat.overwriteSnapshot(sc, "silver", "customers")
    cat.overwriteSnapshot(so, "silver", "orders")
    cat.overwriteSnapshot(sp, "silver", "products")
    cat.overwriteSnapshot(sr, "silver", "regions")
    goldCustomerDim(cat.read("silver", "customers"), now)
    goldProductDim(cat.read("silver", "products"), now)
    goldOrderFact(cat.read("silver", "orders"), now)
  }

  /** The SAME medallion graph, declared DLT-style
    * (Gold_Products.py:84-105's entry style): table defs + dependencies +
    * expectations, ordered and executed by [[PipelineGraph]]. Produces
    * tables identical to [[run]] — the gold materializers are the same
    * [[GoldLoad]] calls (MedallionSpec asserts the parity end to end). */
  def declarativeGraph(now: Column = current_timestamp()): PipelineGraph = {
    import PipelineGraph._
    new PipelineGraph(spark, cat, dimBuckets, now)
      .table("silver.customers", inputs = Seq("bronze_customers"))(
        r => silverCustomers(r("bronze_customers")))
      .table("silver.orders", inputs = Seq("bronze_orders"))(
        r => silverOrders(r("bronze_orders")))
      .table("silver.products", inputs = Seq("bronze_products"))(
        r => silverProducts(r("bronze_products")))
      .table("silver.regions", inputs = Seq("bronze_regions"))(
        r => silverRegions(r("bronze_regions")))
      .table("gold.customer_dim", inputs = Seq("silver.customers"),
        materialize = Scd1(Seq("customer_id"), customerTracked,
          "customer_skey"))(
        r => customerSource(r("silver.customers")))
      .table("gold.product_dim", inputs = Seq("silver.products"),
        materialize = Scd2(Seq("product_id"), productTracked,
          "product_skey"))(
        r => productSource(r("silver.products")))
      .table("gold.order_fact",
        inputs = Seq("silver.orders", "gold.customer_dim",
          "gold.product_dim"),
        expectations = orderRules,
        materialize = Upsert(Seq("order_id")))(
        r => orderFactSource(r("silver.orders"), r("gold.customer_dim"),
          r("gold.product_dim")))
  }

  /** [[run]] through the declarative graph. Publishes a
    * [[PipelineEpoch]] (`"medallion"`) after all node commits, so a
    * consumer resolving the gold star schema through
    * `PipelineEpoch.read` joins dims and facts of ONE generation even
    * while a new run is mid-commit — the cross-table atomicity the
    * per-table version log alone cannot give. */
  def runDeclarative(bronzeCustomers: DataFrame, bronzeOrders: DataFrame,
      bronzeProducts: DataFrame, bronzeRegions: DataFrame,
      now: Column = current_timestamp()): PipelineGraph.RunResult =
    declarativeGraph(now).run(Map(
      "bronze_customers" -> bronzeCustomers,
      "bronze_orders" -> bronzeOrders,
      "bronze_products" -> bronzeProducts,
      "bronze_regions" -> bronzeRegions),
      epoch = Some("medallion"))
}
