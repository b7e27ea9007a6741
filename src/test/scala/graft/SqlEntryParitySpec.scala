package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.sql.GraftSql

/** The two SQL entry points agree, statement form by statement form:
  * `GraftSql.sql` on a plain session and `spark.sql` on a
  * [[graft.functions.GraftExtensions]] session must build the same
  * command, return the same rows and leave the target table in the same
  * state. Each form runs against its own identical fixture per side (layer
  * `parp` on the plain side, `pare` on the extension side); the layer name
  * is normalized out of result strings, and columns carrying commit times
  * or physical paths are dropped before comparing. */
class SqlEntryParitySpec extends SparkSuite {

  /** Dedicated session WITH the parser extension, sharing the JVM's
    * SparkContext and catalog; the suite-shared session stays the
    * default and active one so later suites are unaffected. */
  private lazy val extSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-parity-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private case class Side(s: SparkSession, layer: String, wh: String,
      run: String => DataFrame) {
    def dir(table: String): String = new Catalog(s, wh).path(layer, table)
  }

  private val Volatile = Set("snapshot_time", "committed_at",
    "_commit_timestamp", "location", "path", "size_bytes")

  /** One statement form. `sql` renders it for a qualified table name;
    * `prep` statements run first through the same entry point; `cmd` is
    * the class both entry points must build (None for a query, whose
    * plan classes are only compared between the sides); `volatile`
    * columns are left out of both the result and the table state. */
  private case class Form(name: String, cmd: Option[String],
      sql: String => String, prep: Seq[String => String] = Nil,
      volatile: Set[String] = Volatile, partitioned: Boolean = false)

  private def backticked(q: String): String =
    q.split('.').map(p => s"`$p`").mkString(".")

  private lazy val copySrc: String = {
    import spark.implicits._
    val d = tmpDir("graft-parity-copy") + "/land"
    Seq((5L, "e", 10)).toDF("id", "v", "g").write.parquet(d)
    d
  }

  private val mview: String => String = q =>
    s"CREATE MATERIALIZED VIEW ${q}_mv AS " +
      s"SELECT g, count(*) AS n FROM $q GROUP BY g"
  private val addCheck: String => String = q =>
    s"ALTER TABLE $q ADD CONSTRAINT pos CHECK (id > 0)"
  private def some(c: String): Option[String] = Some(s"Graft${c}Command")

  private val forms = Seq(
    // the statement table
    Form("DESCRIBE HISTORY over a backticked multi-part name",
      some("DescribeHistory"), q => s"DESCRIBE HISTORY ${backticked(q)}"),
    Form("DESCRIBE DETAIL", some("DescribeDetail"),
      q => s"DESCRIBE DETAIL $q"),
    Form("OPTIMIZE ZORDER BY", some("Optimize"),
      q => s"OPTIMIZE $q ZORDER BY (id)"),
    Form("table_changes", None,
      q => s"SELECT * FROM table_changes('$q', 1, 2)"),
    Form("pipeline_epoch", None,
      q => s"SELECT * FROM pipeline_epoch('pp', '$q')"),
    Form("pipeline_epochs", None,
      q => s"SELECT * FROM pipeline_epochs('pp', '$q')"),
    Form("pipeline_epoch_history", None,
      q => s"SELECT * FROM pipeline_epoch_history('pp', '$q')"),
    Form("COPY INTO", some("CopyInto"),
      q => s"COPY INTO $q FROM '$copySrc' FILEFORMAT = PARQUET"),
    Form("DEEP CLONE", some("Clone"), q => s"CREATE TABLE ${q}_c DEEP CLONE $q"),
    Form("VACUUM DRY RUN", some("Vacuum"),
      q => s"VACUUM $q RETAIN 1 VERSIONS DRY RUN"),
    Form("SHOW ENGINE HEALTH FOR", some("ShowEngineHealth"),
      q => s"SHOW ENGINE HEALTH FOR $q", volatile = Volatile + "value"),
    Form("SHOW PARTITIONS", some("ShowPartitions"),
      q => s"SHOW PARTITIONS $q", partitioned = true),
    Form("SHOW TBLPROPERTIES", some("ShowTblProperties"),
      q => s"SHOW TBLPROPERTIES $q"),
    Form("RESTORE VERSION AS OF", some("Restore"),
      q => s"RESTORE TABLE $q TO VERSION AS OF 1"),
    Form("RESTORE TIMESTAMP AS OF", some("Restore"),
      q => s"RESTORE TABLE $q TO TIMESTAMP AS OF '2999-01-01 00:00:00'"),
    Form("INSERT INTO REPLACE WHERE", some("ReplaceWhere"),
      q => s"INSERT INTO $q REPLACE WHERE id = 1 SELECT 1L, 'z', 10"),
    Form("CREATE MATERIALIZED VIEW", some("CreateMview"), mview),
    Form("CREATE TABLE AS SELECT", some("Ctas"),
      q => s"CREATE TABLE ${q}_ctas AS SELECT * FROM $q"),
    Form("REFRESH MATERIALIZED VIEW", some("RefreshMview"),
      q => s"REFRESH MATERIALIZED VIEW ${q}_mv", prep = Seq(mview)),
    Form("DROP MATERIALIZED VIEW", some("DropMview"),
      q => s"DROP MATERIALIZED VIEW ${q}_mv", prep = Seq(mview)),
    // the identity values existing rows get follow file order, which
    // neither entry point fixes
    Form("ADD COLUMN … GENERATED ALWAYS AS IDENTITY", some("AddIdentity"),
      q => s"ALTER TABLE $q ADD COLUMN rid BIGINT GENERATED ALWAYS AS IDENTITY",
      volatile = Volatile + "rid"),
    Form("REORG TABLE APPLY (PURGE)", some("ReorgPurge"),
      q => s"REORG TABLE $q APPLY (PURGE)", prep = Seq(
        q => s"ALTER TABLE $q SET TBLPROPERTIES " +
          "('graft.enableDeletionVectors' = 'true')",
        q => s"DELETE FROM $q WHERE id = 2")),
    Form("SET TBLPROPERTIES deletion vectors", some("SetDvMode"),
      q => s"ALTER TABLE $q SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')"),
    Form("ADD CONSTRAINT", some("AddConstraint"), addCheck),
    Form("DROP CONSTRAINT", some("DropConstraint"),
      q => s"ALTER TABLE $q DROP CONSTRAINT pos", prep = Seq(addCheck)),
    Form("ANALYZE TABLE COMPUTE SKIPPING STATISTICS",
      some("AnalyzeSkipping"),
      q => s"ANALYZE TABLE $q COMPUTE SKIPPING STATISTICS FOR COLUMNS (id)"),
    // the lowering of natively parsed statements
    Form("MERGE", some("MergeInto"),
      q => s"""MERGE INTO $q t
               USING (SELECT 2L AS id, 'm' AS v, 20 AS g
                      UNION ALL SELECT 9L, 'n', 10) s
               ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *"""),
    Form("DELETE", some("Delete"), q => s"DELETE FROM $q WHERE id = 2"),
    Form("UPDATE", some("Update"), q => s"UPDATE $q SET v = 'u' WHERE id = 3"),
    Form("INSERT INTO", some("Insert"),
      q => s"INSERT INTO $q VALUES (5, 'e', 10)"),
    Form("ALTER TABLE RENAME COLUMN", some("RenameColumn"),
      q => s"ALTER TABLE $q RENAME COLUMN v TO w"),
    Form("ALTER TABLE DROP COLUMN", some("DropColumns"),
      q => s"ALTER TABLE $q DROP COLUMN g"),
    Form("QUALIFY", None,
      q => s"SELECT id, v FROM $q " +
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) = 1"),
    Form("VERSION AS OF", None, q => s"SELECT * FROM $q VERSION AS OF 1"))

  /** Two committed versions, registered, and stamped as epoch 1 of
    * pipeline `pp`. */
  private def fixture(side: Side, table: String, partitioned: Boolean)
      : Unit = {
    val s = side.s
    import s.implicits._
    val cat = new Catalog(s, side.wh)
    val parts = if (partitioned) Seq("g") else Nil
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10))
    for (rows <- Seq(v1, v1 :+ ((4L, "d", 20))))
      cat.overwriteSnapshot(rows.toDF("id", "v", "g"), side.layer, table,
        partitionBy = parts)
    cat.register(side.layer, table)
    graft.pipeline.PipelineEpoch.commit(s, cat, "pp",
      Seq(s"${side.layer}.$table"))
  }

  /** Sorted rows as strings, volatile columns dropped, layer normalized. */
  private def rows(df: DataFrame, side: Side, volatile: Set[String])
      : Seq[String] = {
    val keep = df.columns.filterNot(c => volatile(c.toLowerCase))
    df.select(keep.toSeq.map(c => col(s"`$c`")): _*).collect().toSeq
      .map(_.toSeq.map {
        case v: String => v.replace(side.layer, "L")
        case v => String.valueOf(v)
      }.mkString("|")).sorted
  }

  forms.zipWithIndex.foreach { case (f, i) =>
    test(s"entry-point parity: ${f.name}") {
      val table = s"t$i"
      val sides = Seq(
        Side(spark, "parp", tmpDir("graft-parity-p"), GraftSql.sql(spark, _)),
        Side(extSpark, "pare", tmpDir("graft-parity-e"), extSpark.sql(_)))
      try {
        sides.foreach(fixture(_, table, f.partitioned))
        val out = sides.map { side =>
          val q = s"${side.layer}.$table"
          f.prep.foreach(p => side.run(p(q)))
          val df = side.run(f.sql(q))
          (df.queryExecution.logical.getClass.getSimpleName,
            rows(df, side, f.volatile),
            rows(graft.layout.DeletionVectors.readPath(side.s,
              side.dir(table)), side, f.volatile))
        }
        val Seq((planP, gotP, stateP), (planE, gotE, stateE)) = out
        assert(planP === planE, "entry points built different plans")
        f.cmd.foreach(c => assert(planP === c))
        assert(gotP === gotE, "entry points returned different rows")
        assert(stateP === stateE, "entry points left different table states")
      } finally sides.foreach { side =>
        Seq("", "_c", "_ctas", "_mv").foreach(sfx =>
          side.s.sql(s"DROP TABLE IF EXISTS ${side.layer}.$table$sfx"))
      }
    }
  }
}
