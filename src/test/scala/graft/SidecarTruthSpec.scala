package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.catalog.Catalog
import graft.merge.PartitionedMerge

/** Flat reads take their schema from the snapshot's `_graft_pm_schema.json`
  * sidecar instead of the parquet footers, so every flat commit path must
  * leave a sidecar that tells the truth. After each path below, the
  * sidecar exists, its fields equal the footer-inferred schema's by name
  * and type (in order), and `Catalog.read` returns the same rows as a
  * footer-inferred read with the deletion vectors applied. */
class SidecarTruthSpec extends SparkSuite {
  import spark.implicits._

  private def base = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"),
    (4L, 40L, "d")).toDF("k", "v", "s")

  private def fields(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)

  /** The footer-inferred read of `dir` with its deletion vectors applied. */
  private def inferred(dir: String): DataFrame = {
    val data = spark.read.parquet(dir)
    val dv = new java.io.File(dir, graft.layout.DeletionVectors.DvDirName)
    if (!dv.exists()) data
    else graft.layout.DeletionVectors.subtractPositions(data,
      spark.read.parquet(dv.toString))
  }

  private def sql(text: String): Unit = { graft.sql.GraftSql.sql(spark, text); () }

  /** Each path runs on a fresh flat table `silver.<name>` created from
    * [[base]] and returns the table to check (itself, or its copy). */
  private val paths: Seq[(String, (Catalog, String) => String)] = Seq(
    "create" -> { (_, t) => t },
    "overwrite" -> { (c, t) =>
      c.overwriteSnapshot(base.filter(col("k") > 2), "silver", t)
      t
    },
    "overwrite with a schema change" -> { (c, t) =>
      c.overwriteSnapshot(base.withColumn("d", col("v") * 1.5), "silver", t,
        allowSchemaChange = true)
      t
    },
    "append" -> { (c, t) =>
      c.append(Seq((5L, 50L, "e")).toDF("k", "v", "s"), "silver", t)
      t
    },
    "SQL INSERT" -> { (c, t) =>
      c.register("silver", t)
      sql(s"INSERT INTO silver.$t VALUES (5, 50, 'e')")
      t
    },
    "file-granular DELETE" -> { (c, t) =>
      c.deleteWhere("silver", t, col("k") === 1L)
      t
    },
    "file-granular UPDATE" -> { (c, t) =>
      c.updateWhere("silver", t, col("k") === 2L, Seq("v" -> lit(99L)))
      t
    },
    "DV DELETE" -> { (c, t) =>
      c.enableDeletionVectors("silver", t)
      c.deleteWhere("silver", t, col("k") === 1L)
      t
    },
    "DV UPDATE" -> { (c, t) =>
      c.enableDeletionVectors("silver", t)
      c.updateWhere("silver", t, col("k") === 2L, Seq("s" -> lit("z")))
      t
    },
    "ADD generated COLUMN" -> { (c, t) =>
      c.addGeneratedColumn("silver", t, "v2", "v * 2")
      t
    },
    "ADD identity COLUMN" -> { (c, t) =>
      c.addIdentityColumn("silver", t, "id")
      t
    },
    "DROP COLUMN" -> { (c, t) =>
      c.dropColumn("silver", t, "s")
      t
    },
    "RENAME COLUMN" -> { (c, t) =>
      c.renameColumn("silver", t, "v", "value")
      t
    },
    "RESTORE" -> { (c, t) =>
      c.overwriteSnapshot(base.withColumn("d", lit(1.0)), "silver", t,
        allowSchemaChange = true)
      c.restore("silver", t, 1)
      t
    },
    "OPTIMIZE" -> { (c, t) =>
      (5L to 7L).foreach(i =>
        c.append(Seq((i, i * 10, "x")).toDF("k", "v", "s"), "silver", t))
      c.compact("silver", t, 1L << 30)
      t
    },
    "OPTIMIZE ZORDER BY" -> { (c, t) =>
      c.compact("silver", t, 1L << 30, zorderBy = Seq("k", "v"))
      t
    },
    "deep CLONE" -> { (c, t) =>
      c.clone("silver", t, "silver", t + "_copy")
      t + "_copy"
    },
    "shallow CLONE" -> { (c, t) =>
      c.shallowClone("silver", t, "silver", t + "_copy")
      t + "_copy"
    },
    "COPY INTO" -> { (c, t) =>
      val land = tmpDir("graft-sidecar-copy") + "/land"
      Seq((5L, 50L, "e")).toDF("k", "v", "s").write.parquet(land)
      graft.ingest.CopyInto.run(spark, c.path("silver", t), land, "parquet")
      t
    },
    "COPY INTO a new table" -> { (c, t) =>
      val land = tmpDir("graft-sidecar-copy") + "/land"
      Seq((5L, 50L, "e")).toDF("k", "v", "s").write.parquet(land)
      graft.ingest.CopyInto.run(spark, c.path("silver", t + "_new"), land,
        "parquet")
      t + "_new"
    },
    "table stream sink" -> { (c, t) =>
      val ckpt = tmpDir("graft-sidecar-sink")
      val q = spark.readStream.format("graft-table")
        .option("path", c.path("silver", t)).load()
        .writeStream.format("graft-table")
        .option("path", c.path("silver", t + "_sink"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      t + "_sink"
    })

  test("every flat commit path leaves a sidecar that matches its files") {
    val cat = new Catalog(spark, tmpDir("graft-sidecar") + "/wh")
    try paths.zipWithIndex.foreach { case ((label, run), i) =>
      val t = s"sc$i"
      cat.create(base, "silver", t)
      val checked = run(cat, t)
      val dir = cat.path("silver", checked)
      val side = PartitionedMerge.schemaOf(spark, dir)
      assert(side.isDefined, s"$label: no schema sidecar at $dir")
      val footer = spark.read.parquet(dir).schema
      assert(fields(side.get) == fields(footer),
        s"$label: sidecar ${side.get.simpleString} != files ${footer.simpleString}")
      val cols = footer.fieldNames.sorted.map(col)
      val read = cat.read("silver", checked)
      assert(rowsOf(read.select(cols: _*), "k") ==
        rowsOf(inferred(dir).select(cols: _*), "k"), label)
    } finally (0 until paths.size).foreach(i =>
      spark.sql(s"DROP TABLE IF EXISTS silver.sc$i"))
  }
}
