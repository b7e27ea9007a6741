package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.layout.DeletionVectors
import graft.merge.PartitionedMerge
import graft.layout.SwapProtocol

/** The five table layouts row-level DML routes differently
  * (`Catalog.updateWherePath`'s routing table), built over the same rows
  * so a spec can run one statement on each. */
object DmlLayouts {

  val all = Seq("flat", "flat+DV", "bucketed", "bucketed+DV",
    "hive-partitioned")

  /** Write `df` at `dir` as a `layout` table; `key` is the bucketing or
    * partition column. */
  def write(spark: SparkSession, layout: String, df: DataFrame, dir: String,
      key: String): Unit = {
    layout.stripSuffix("+DV") match {
      case "flat" => Catalog.overwritePath(spark, df, dir)
      case "bucketed" => PartitionedMerge.write(df, dir, Seq(key), 4)
      case "hive-partitioned" => df.write.partitionBy(key).parquet(dir)
    }
    if (layout.endsWith("+DV")) DeletionVectors.enable(spark, dir)
  }

  /** The live rows of the table at `dir` (any layout), as `cols`. */
  def read(spark: SparkSession, dir: String, cols: String*): DataFrame =
    DeletionVectors.readPath(spark, dir).select(cols.map(col): _*)

  def version(spark: SparkSession, dir: String): Int =
    SwapProtocol.readPointer(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  /** A table name for `layout` (letters and underscores only). */
  def tableName(layout: String): String =
    layout.replaceAll("[^A-Za-z]", "_")
}
