package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.layout.DeletionVectors
import graft.merge.{MergeEngine, PartitionedMerge, SurrogateKeys}

/** The gold-layer load protocol — first load creates the table with its
  * audit columns (bucketed when `dimBuckets` is set), every later run
  * merges through `Catalog.merge` in the layout the table recorded —
  * extracted so the imperative [[Medallion]] methods, the declarative
  * [[PipelineGraph]] materializers and `Streams.applyChangesScd2` execute
  * ONE implementation: parity between the surfaces holds by construction
  * (and is still spec-asserted end to end). */
private[graft] object GoldLoad {

  /** A gold table's committed rows, in whatever layout it was written. */
  def read(spark: SparkSession, cat: Catalog, table: String): DataFrame =
    DeletionVectors.readLogical(spark, cat.path("gold", table))

  /** First load: `initial` becomes the table, in `dimBuckets`' layout.
    * Every later load: `fn` merges `source` in through `Catalog.merge`.
    * Returns the committed table. */
  private def load(spark: SparkSession, cat: Catalog,
      dimBuckets: Option[Int], table: String, source: DataFrame,
      keys: Seq[String])(initial: => DataFrame)(
      fn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    if (cat.exists("gold", table)) cat.merge("gold", table, source, keys)(fn)
    else dimBuckets match {
      case Some(n) =>
        PartitionedMerge.write(initial, cat.path("gold", table), keys, n)
      case None => cat.create(initial, "gold", table)
    }
    read(spark, cat, table)
  }

  /** SCD1 load (Gold_Customers.py shape). Returns the committed table. */
  def scd1(spark: SparkSession, cat: Catalog, dimBuckets: Option[Int],
      table: String, source: DataFrame, keys: Seq[String],
      tracked: Seq[String], skeyCol: String, now: Column): DataFrame =
    load(spark, cat, dimBuckets, table, source, keys)(
      SurrogateKeys.assign(source, skeyCol, keys)
        .withColumn("created_date", now)
        .withColumn("updated_date", now)
        .withColumn("change_type", lit("I"))
        .withColumn("hash_value", MergeEngine.nullSafeHash(tracked.map(col)))
    ) { (t, s) =>
      MergeEngine.scd1(t, s, keys, tracked, skeyCol, now,
        skeyBase = Some(read(spark, cat, table)))
    }

  /** SCD2 load (Gold_Products.py shape). Returns the committed table. */
  def scd2(spark: SparkSession, cat: Catalog, dimBuckets: Option[Int],
      table: String, source: DataFrame, keys: Seq[String],
      tracked: Seq[String], skeyCol: String, now: Column): DataFrame =
    load(spark, cat, dimBuckets, table, source, keys)(
      SurrogateKeys.assign(source, skeyCol, keys)
        .withColumn("hash_value", MergeEngine.nullSafeHash(tracked.map(col)))
        .withColumn("effective_start_date", now)
        .withColumn("effective_end_date", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
        .withColumn("insert_date", now)
        .withColumn("update_date", now)
    ) { (t, s) =>
      MergeEngine.scd2(t, s, keys, tracked, skeyCol, now,
        skeyBase = Some(read(spark, cat, table)))
    }

  /** Fact upsert load (Gold_Orders.py shape). Returns the committed table. */
  def upsert(spark: SparkSession, cat: Catalog, dimBuckets: Option[Int],
      table: String, source: DataFrame, keys: Seq[String],
      now: Column): DataFrame =
    load(spark, cat, dimBuckets, table, source, keys)(
      source.withColumn("created_dt", now).withColumn("updated_dt", now)
    )(MergeEngine.upsert(_, _, keys, now))
}
