package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.Catalog
import graft.ingest.Ingest
import graft.operators.ClusterStore
import graft.pipeline.{Medallion, PipelineEpoch}
import graft.sql.GraftSql

/** What one op left behind for the output checks. `check` is "ok" or
  * "fail: ..." when the benchmark could decide in the JVM, "pending" when
  * the Python side decides (the gold-table comparison). */
final case class OpOutcome(check: String, fields: Seq[(String, String)] = Nil)

/** One op of a pass: `land` runs before the timer starts (the arrival of
  * the op's input), `run` is the timed call, `verify` runs after the timer
  * stops and outside every span. */
final case class Op(name: String, run: () => Any,
    verify: Any => OpOutcome, land: () => Unit = () => ())

trait Pass {
  def ops: Seq[Op]
  /** Checks and byte accounting after the pass, outside the timed window. */
  def close(): Seq[(String, String)] = Nil
}

/** A workload: seeded inputs staged once per set-up, then passes of ops.
  * Every pass starts from its own temp root. */
trait Workload {
  def stage(dir: String): Unit
  def pass(p: Int, root: String): Pass
  /** Untimed passes run as part of set-up, before the measured ones. */
  def warmupPasses: Int = 0
  /** Fields for the run record (where the staged inputs are, for the
    * Python-side checks). */
  def describe: Seq[(String, String)] = Nil
}

final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val checkDir: String) {
  private var dumps = 0
  /** Writes a frame as one parquet file set for the Python checks. */
  def dumpFrame(df: DataFrame, name: String): String = {
    dumps += 1
    val dir = s"$checkDir/${dumps}_$name"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "medallion_etl" => new MedallionEtl(ctx)
    case "corpus_maintain" => new CorpusMaintain(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Scale of the seeded inputs: the star schema behind the medallion
    * batches (customer = 1 500 rows, part = 2 000, orders = 15 000) and the
    * corpus (500 documents). */
  val Sf = 0.01
  val Documents = 500L

  /** Every regular file under `dir` with its size, for the byte
    * accounting the Python side does. */
  def listing(dir: String): String = {
    val p = Paths.get(dir)
    val files = if (!Files.exists(p)) Nil else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    Json.arr(files.map(f => Json.arr(Seq(Json.str(f.toString),
      Files.size(f).toString))))
  }
}

/** The paper's incremental warehouse: each op lands one batch of
  * customers, products and orders, drains it into bronze, cleanses it
  * into silver, merges it into the gold SCD1/SCD2/fact tables and commits
  * a pipeline epoch over the three gold tables. */
final class MedallionEtl(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  // the initial load and two incremental deltas
  val Batches = 3
  private var landing: String = _
  private val entities = Seq("customers", "products", "orders")
  private val goldTables = Seq("customer_dim", "product_dim", "order_fact")

  def stage(d: String): Unit = {
    Gen.medallionBatches(spark, d, ctx.seed, Workloads.Sf, Batches)
    landing = d
  }

  override def describe: Seq[(String, String)] = Seq(
    "landing_dir" -> Json.str(landing), "batches" -> Batches.toString)

  private def batchTime(b: Int): Column =
    to_timestamp(lit(f"2026-01-${b + 1}%02d 00:00:00"))

  def pass(p: Int, root: String): Pass = new Pass {
    val wh = s"$root/warehouse"
    val cat = new Catalog(spark, wh)
    val med = new Medallion(spark, cat)
    var landedBytes = 0L
    def specOf(e: String) = Ingest.IngestSpec(e, s"$root/landing/$e",
      cat.path("bronze", e), s"$root/_checkpoints/$e",
      s"$root/_checkpoints/$e.schema", sourceFileCol = Some("_src_file"))
    entities.foreach(e => Files.createDirectories(Paths.get(s"$root/landing/$e")))

    val ops: Seq[Op] = (0 until Batches).map { b =>
      val now = batchTime(b)
      Op(s"batch", () => {
        val rows = trace.span("ingest") {
          entities.map(e => Ingest.runOnce(spark, specOf(e))).sum
        }
        trace.count("ingest.rows", rows.toDouble)
        trace.count("ingest.files", entities.size.toDouble)
        def batchRows(e: String): DataFrame =
          Ingest.readBronze(spark, cat.path("bronze", e))
            .filter(col("_src_file").endsWith(s"/b$b.parquet"))
            .drop("_src_file")
        val silver = trace.span("pipeline.silver")(Seq(
          "customers" -> med.silverCustomers(batchRows("customers")),
          "products" -> med.silverProducts(batchRows("products")),
          "orders" -> med.silverOrders(batchRows("orders"))))
        silver.foreach { case (t, df) =>
          trace.span("catalog.overwrite")(cat.overwriteSnapshot(df, "silver", t))
        }
        trace.span("merge")(med.goldCustomerDim(cat.read("silver", "customers"), now))
        trace.span("merge")(med.goldProductDim(cat.read("silver", "products"), now))
        trace.span("merge")(med.goldOrderFact(cat.read("silver", "orders"), now))
        trace.span("pipeline.epoch_commit")(PipelineEpoch.commit(spark, cat,
          "medallion", goldTables.map("gold." + _)))
      }, out => verify(b, out.asInstanceOf[Int], now), land = () => {
        entities.foreach { e =>
          val src = Paths.get(s"$landing/$e/b$b.parquet")
          landedBytes += Files.size(src)
          Files.copy(src, Paths.get(s"$root/landing/$e/b$b.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
      })
    }

    private def verify(b: Int, epoch: Int, now: Column): OpOutcome = {
      val recorded = PipelineEpoch.tableVersions(spark, cat, "medallion", epoch)
      val current = goldTables.map(t => s"gold.$t" -> cat.currentVersion("gold", t)).toMap
      val dumps = goldTables.map { t =>
        t -> Json.str(ctx.dumpFrame(
          PipelineEpoch.readAt(spark, cat, "medallion", s"gold.$t", epoch), t))
      }
      if (trace.isOn) trace.countOnLastOp("merge.rows_changed", Seq(
        cat.read("gold", "customer_dim").filter(col("updated_date") === now),
        cat.read("gold", "product_dim").filter(col("update_date") === now),
        cat.read("gold", "order_fact").filter(col("updated_dt") === now))
        .map(_.count()).sum.toDouble)
      val epochOk = recorded == current
      OpOutcome(if (epochOk) "pending" else
        s"fail: epoch $epoch records $recorded but current versions are $current",
        Seq("batch" -> b.toString, "epoch" -> epoch.toString,
          "gold" -> Json.obj(dumps)))
    }

    override def close(): Seq[(String, String)] = Seq(
      "landed_bytes" -> landedBytes.toString,
      "files" -> Workloads.listing(wh),
      "live_dirs" -> Json.arr(
        (entities.map(cat.path("bronze", _)) ++
          Seq("customers", "products", "orders").map(cat.path("silver", _)) ++
          goldTables.map(cat.path("gold", _))).map(Json.str)))
  }
}

/** Maintained near-dup cluster state: a pass builds a text `ClusterStore`
  * over a seeded 70 % slice of the corpus, appends two disjoint seeded 5 %
  * batches, drains a landed 5 % file through `maintainStream`, deletes a
  * seeded doc set, reads the final `clusters` as SQL text through
  * `GraftSql.sql`, and runs the registry's one-shot clustering query
  * (q57) over the same live documents. Every op's result is dumped for
  * the Python-side check against DuckDB. */
final class CorpusMaintain(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private var dir: String = _
  val Appends = 2
  val Query = "q57_dedup_clusters"
  // the first pass in a JVM pays class loading and JIT compilation of
  // the store's and the streaming source's code paths, which swung the
  // median op by up to 25 % between runs; a warm pass steadies it
  override val warmupPasses = 1
  private val query = graft.SparkEntry.queries(Query)
  // docs with doc_id mod 13 equal to this are deleted by the delete op
  private val deleted = java.lang.Math.floorMod(ctx.seed, 13L)

  def stage(d: String): Unit = {
    val docs = Gen.documents(spark, ctx.seed, Workloads.Documents)
    val slice = Gen.h(ctx.seed, 90, 20, col("doc_id"))
    (Seq("base" -> (slice < 14), "stream" -> (slice === 14)) ++
      (1 to Appends).map(i => s"append_$i" -> (slice === 14 + i)) ++
      Seq("live/documents.parquet" -> (slice <= 14 + Appends &&
        pmod(col("doc_id"), lit(13)) =!= deleted)))
      .foreach { case (name, keep) =>
        docs.filter(keep).coalesce(1).write.parquet(s"$d/$name")
      }
    dir = d
  }

  private val parts = Seq("base") ++ (1 to Appends).map(i => s"append_$i") ++
    Seq("stream")

  override def describe: Seq[(String, String)] = Seq(
    "corpus_dir" -> Json.str(dir),
    "corpus_parts" -> Json.arr(parts.map(Json.str)),
    "deleted_residue" -> deleted.toString,
    "oracle_sql" -> Json.str(graft.SparkEntry.oracleSql(Query)))

  def pass(p: Int, root: String): Pass = new Pass {
    val store = ClusterStore.storeOf(spark, s"$root/store", "text")
    val streamDir = s"$root/stream"
    val view = s"maintained_clusters_$p"
    var landedBytes = 0L
    // the store's files as the last maintenance op left them
    var files = "[]"
    private def read(name: String): DataFrame = {
      landedBytes += Files.size(Gen.onlyParquet(s"$dir/$name"))
      spark.read.parquet(s"$dir/$name")
    }
    private val schema = spark.read.parquet(s"$dir/base").schema
    private def pred(c: Column): Column = pmod(c, lit(13)) === deleted

    /** Dumps the store's `clusters` after a maintenance op. */
    private def dumpStore(live: Seq[String], afterDelete: Boolean): OpOutcome = {
      files = Workloads.listing(s"$root/store")
      dumped(store.clusters, live, afterDelete)
    }

    /** Dumps an op's clusters with the staged parts live after it and
      * whether the delete applied. */
    private def dumped(df: DataFrame, live: Seq[String],
        afterDelete: Boolean, extra: Seq[(String, String)] = Nil): OpOutcome =
      OpOutcome("pending", Seq(
        "clusters" -> Json.str(ctx.dumpFrame(df, "clusters")),
        "live_parts" -> Json.arr(live.map(Json.str)),
        "after_delete" -> afterDelete.toString) ++ extra)

    /** A collected result as a frame again, for the dump. */
    private def frameOf(out: Any): DataFrame = {
      val (sch, rows) = out.asInstanceOf[(StructType, Array[Row])]
      spark.createDataFrame(rows.toSeq.asJava, sch)
    }

    val ops: Seq[Op] = Seq(
      Op("build", () => {
        val docs = read("base")
        trace.span("operators.cluster.build")(store.build(docs))
      }, _ => dumpStore(Seq("base"), afterDelete = false)),
    ) ++ (1 to Appends).map { i =>
      Op("append", () => {
        val docs = read(s"append_$i")
        trace.span("operators.cluster.append")(store.append(docs))
      }, _ => dumpStore(parts.take(1 + i), afterDelete = false))
    } ++ Seq(
      Op("maintain_stream", () => trace.span("operators.cluster.maintain")(
        store.maintainStream(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir),
          s"$root/_stream_checkpoint")),
        _ => dumpStore(parts, afterDelete = false), land = () => {
          val src = Gen.onlyParquet(s"$dir/stream")
          landedBytes += Files.size(src)
          Files.createDirectories(Paths.get(streamDir))
          Files.copy(src, Paths.get(s"$streamDir/part-0.parquet"))
        }),
      Op("delete", () => trace.span("operators.cluster.delete")(
        store.delete(pred)), _ => dumpStore(parts, afterDelete = true)),
      Op("clusters_sql", () => {
        val df = trace.span("sql") {
          trace.count("sql.calls", 1)
          GraftSql.sql(spark,
            s"SELECT doc_id, cluster_id, is_kept FROM $view")
        }
        (df.schema, trace.span("operators.exec")(df.collect()))
      }, out => dumped(frameOf(out), parts, afterDelete = true),
        land = () => store.clusters.createOrReplaceTempView(view)),
      Op("query", () => {
        val df = trace.span("operators.build")(
          query(spark, s"$dir/live"))
        (df.schema, trace.span("operators.exec")(df.collect()))
      }, out => dumped(frameOf(out), parts, afterDelete = true,
        Seq("oracle" -> "true"))))

    override def close(): Seq[(String, String)] = {
      spark.catalog.dropTempView(view)
      Seq("landed_bytes" -> landedBytes.toString,
        "files" -> files,
        "live_dirs" -> Json.arr(Seq(store.sigsDir, store.pairsDir,
          store.clustersDir).map(Json.str)))
    }
  }
}
