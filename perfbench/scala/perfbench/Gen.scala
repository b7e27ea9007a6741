package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, salt, row key) through `xxhash64`, so the same seed yields the
  * same rows whatever the partitioning, and the program under test only
  * ever sees the staged files. */
object Gen {

  /** Uniform integer in [0, m) from the seed, a salt and key columns. */
  def h(seed: Long, salt: Int, m: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(m))

  /** Uniform double in [0, 1). */
  def u(seed: Long, salt: Int, keys: Column*): Column =
    h(seed, salt, 1000000L, keys: _*) / 1e6

  private def pick(options: Seq[String], idx: Column): Column =
    element_at(array(options.map(lit): _*), (idx + 1).cast("int"))

  /** The 30-word vocabulary of the repository's `documents` fixture. */
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** The `documents` table (doc_id, text, lang, source, n_chars): 10–99
    * words per document, and one document in twenty an exact earlier
    * document plus the token "dup", so near-duplicate clusters exist. Words
    * are pairs of the fixture's 30-word vocabulary (900 words): over the
    * 30 words alone every long document shares nearly all of them with
    * every other, so which documents pair up, and with it the work of a
    * cluster-maintenance op, would swing with the seed. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("id")
    val base = spark.range(n).select(k.as("doc_id"),
      array_join(transform(sequence(lit(1),
        (h(seed, 30, 90, k) + 10).cast("int")),
        i => concat(pick(Vocab, h(seed, 31, Vocab.size, k, i)),
          pick(Vocab, h(seed, 35, Vocab.size, k, i)))), " ").as("body"),
      (k > 0 && h(seed, 32, 20, k) === 0).as("is_dup"),
      when(k > 0, h(seed, 33, n, k) % greatest(k, lit(1L)))
        .otherwise(lit(0L)).as("src_id"))
    val src = base.select(col("doc_id").as("src_id"), col("body").as("src_body"))
    val lang = h(seed, 34, 20, col("doc_id"))
    base.join(src, Seq("src_id"), "left")
      .select(col("doc_id"),
        when(col("is_dup"), concat(col("src_body"), lit(" dup")))
          .otherwise(col("body")).as("text"),
        when(lang < 8, lit("en")).when(lang < 11, lit("de"))
          .when(lang < 14, lit("es")).when(lang < 17, lit("fr"))
          .otherwise(lit("zh")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Which batch first delivers a key: 0 for `initialPct` percent of keys,
    * else a seeded batch in 1 until `batches`. */
  private def firstBatch(seed: Long, salt: Int, key: Column, initialPct: Int,
      batches: Int): Column =
    when(h(seed, salt, 100, key) < initialPct, lit(0))
      .otherwise((h(seed, salt + 1, batches - 1, key) + 1).cast("int"))

  /** (key, batch) rows: every key in the batch that first delivers it, and
    * again in each later batch where it changes (`changePct` percent). */
  private def deliveries(spark: SparkSession, n: Long, seed: Long, salt: Int,
      initialPct: Int, changePct: Int, batches: Int): DataFrame = {
    val k = col("key")
    spark.range(n).toDF("key")
      .withColumn("first", firstBatch(seed, salt, k, initialPct, batches))
      .select(k, col("first"),
        explode(sequence(col("first"), lit(batches - 1))).as("batch"))
      .filter(col("batch") === col("first") ||
        h(seed, salt + 2, 100, k, col("batch")) < changePct)
  }

  private val Domains = Seq("gmail.com", "yahoo.com", "outlook.com",
    "example.org", "mail.net")

  /** Landing batches of the reference entities (FIXTURES.md §2), sized like
    * the star schema at `sf` (customers = 150 000 × sf, products =
    * 200 000 × sf, orders = 1 500 000 × sf). Batch 0 is the initial load of
    * 96 % of the customer and product keys and 90 % of the order keys; the
    * remaining keys arrive as new keys spread evenly over the incremental
    * batches 1 until `batches`. Each incremental batch also re-delivers 2 %
    * of the customers and products already delivered with a changed
    * tracked attribute (a customer's email and city, a product's brand,
    * price and supplier) and 1 % of the orders with a new amount, so a
    * two-delta run lands deltas of about 4 % (customers, products) and 6 %
    * (orders) of the initial load. Written as
    * `<dir>/<entity>/b<batch>.parquet`, one file per entity and batch. */
  def medallionBatches(spark: SparkSession, dir: String, seed: Long,
      sf: Double, batches: Int): Unit = {
    val (nCust, nProd, nOrd) = (math.round(150000 * sf),
      math.round(200000 * sf), math.round(1500000 * sf))
    val v = col("batch")
    val k = col("key")
    val customers = deliveries(spark, nCust, seed, 60, 96, 2, batches).select(
      v, k.as("customer_id"),
      concat(lit("First"), h(seed, 63, 500, k)).as("first_name"),
      concat(lit("Last"), h(seed, 64, 1000, k)).as("last_name"),
      concat(lit("user"), k, lit("_"), v, lit("@"),
        pick(Domains, h(seed, 65, Domains.size, k, v))).as("email"),
      concat(lit("city_"), h(seed, 66, 200, k, v)).as("city"),
      concat(lit("ST"), h(seed, 67, 25, k)).as("state"))
    val products = deliveries(spark, nProd, seed, 70, 96, 2, batches).select(
      v, k.as("product_id"),
      concat(lit("product "), k).as("product_name"),
      pick(Seq("tools", "toys", "garden", "kitchen", "office"),
        h(seed, 73, 5, k)).as("category"),
      round(lit(900.0) + (k % 1000) / 10.0 + v * 1.5, 2).as("price"),
      concat(lit("Brand#"), pmod(h(seed, 74, 25, k) + v, lit(25)) + 1)
        .as("brand"),
      concat(lit("Supplier#"), h(seed, 75, 1000, k, v)).as("supplier"))
    val orders = deliveries(spark, nOrd, seed, 80, 90, 1, batches).select(
      v, k.as("order_id"),
      date_format(to_timestamp(lit("1995-01-01")) +
        make_dt_interval(h(seed, 83, 2405, k).cast("int")), "yyyy-MM-dd")
        .as("order_date"),
      h(seed, 84, nCust, k).as("customer_id"),
      h(seed, 85, nProd, k).as("product_id"),
      (h(seed, 86, 50, k) + 1).as("quantity"),
      round(lit(1000.0) + u(seed, 87, k, v) * 499000.0, 2).as("total_amount"))
    Seq("customers" -> customers, "products" -> products, "orders" -> orders)
      .foreach { case (name, df) =>
        val tmp = s"$dir/_tmp_$name"
        df.repartition(1).write.partitionBy("batch").parquet(tmp)
        Files.createDirectories(Paths.get(s"$dir/$name"))
        (0 until batches).foreach { b =>
          Files.move(onlyParquet(s"$tmp/batch=$b"),
            Paths.get(s"$dir/$name/b$b.parquet"))
        }
      }
  }

  /** The single parquet part file Spark wrote into `dir`. */
  def onlyParquet(dir: String): java.nio.file.Path =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
        case Seq(p) => p
        case ps => throw new IllegalStateException(
          s"expected one parquet file in $dir, found ${ps.size}")
      }
}
