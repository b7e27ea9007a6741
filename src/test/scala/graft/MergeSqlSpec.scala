package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.MergeEngine
import graft.sql.GraftSql

/** MERGE INTO SQL surface (graft.sql.MergeIntoSql): the reference's SCD1
  * MERGE text (Gold_Customers.py:75-97, modulo catalog names and pinned
  * timestamps) must execute through `spark.sql` on an extension-enabled
  * session and equal MergeEngine.scd1 row-for-row; plus the fact-upsert
  * text shape (Gold_Orders.py:60-81), DELETE / NOT MATCHED BY SOURCE
  * clauses, the multi-match cardinality guard, and the non-extension entry
  * point GraftSql.sql. */
class MergeSqlSpec extends SparkSuite {
  import spark.implicits._

  private val t0lit = "TIMESTAMP'2025-01-01 00:00:00'"
  private val t1lit = "TIMESTAMP'2026-01-01 00:00:00'"
  private val t0 = lit("2025-01-01 00:00:00").cast("timestamp")
  private val t1 = lit("2026-01-01 00:00:00").cast("timestamp")

  /** Dedicated session WITH the parser extension (a parser cannot be
    * injected into an already-built SessionState). Shares the JVM's
    * SparkContext and external catalog; the suite-shared session is
    * restored as default so later suites are unaffected. */
  private lazy val sqlSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sql-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    // getOrCreate set the new session as this thread's ACTIVE session; a
    // later suite's getOrCreate on the same thread would silently inherit
    // the extension parser — restore both pointers
    SparkSession.setActiveSession(base)
    s
  }

  private def dim(s: SparkSession, rows: Seq[(Long, String, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("customer_id", "name", "city")
      .withColumn("customer_skey", col("customer_id") * 10)
      .withColumn("created_date", t0)
      .withColumn("updated_date", t0)
      .withColumn("change_type", lit("I"))
      .withColumn("hash_value",
        MergeEngine.nullSafeHash(Seq(col("name"), col("city"))))
  }

  test("reference SCD1 MERGE text through spark.sql equals MergeEngine.scd1 row-for-row") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql"))
    val target = dim(s, Seq((1L, "ann", "oslo"), (2L, "bob", "rome"), (3L, "cat", "kiev")))
    cat.create(target, "gold", "dim_customers_sql")
    cat.register("gold", "dim_customers_sql")

    // the silver update batch, skeys + hash precomputed upstream exactly as
    // the reference's silver_customers_updates carries them
    // (scd1 would assign max(30)+row_number → 31 for the one new key)
    Seq((2L, "bob", "paris", 20L), (4L, "dan", "lima", 31L))
      .toDF("customer_id", "name", "city", "customer_skey")
      .withColumn("hash_value",
        MergeEngine.nullSafeHash(Seq(col("name"), col("city"))))
      .createOrReplaceTempView("silver_customers_updates")

    // Gold_Customers.py:75-97, columns reduced to the fixture's, timestamps
    // pinned for determinism
    s.sql(s"""
      MERGE INTO gold.dim_customers_sql AS target
      USING silver_customers_updates AS source
      ON target.customer_id = source.customer_id
      WHEN MATCHED AND (target.hash_value != source.hash_value) THEN
        UPDATE SET
          target.name = source.name,
          target.city = source.city,
          target.updated_date = $t1lit,
          target.change_type = 'U',
          target.hash_value = source.hash_value
      WHEN NOT MATCHED THEN
        INSERT (customer_skey, customer_id, name, city, created_date, updated_date, change_type, hash_value)
        VALUES (source.customer_skey, source.customer_id, source.name, source.city, $t1lit, $t1lit, 'I', source.hash_value)
    """)

    val expected = MergeEngine.scd1(
      dim(s, Seq((1L, "ann", "oslo"), (2L, "bob", "rome"), (3L, "cat", "kiev"))),
      Seq((2L, "bob", "paris"), (4L, "dan", "lima")).toDF("customer_id", "name", "city"),
      Seq("customer_id"), Seq("name", "city"), "customer_skey", t1)

    val colsInOrder = expected.columns.toSeq
    val got = cat.read("gold", "dim_customers_sql")
      .select(colsInOrder.map(col): _*)
    assert(rowsOf(got, "customer_id") == rowsOf(expected, "customer_id"),
      "SQL MERGE result differs from MergeEngine.scd1")
  }

  test("fact-upsert MERGE text via GraftSql.sql on a plain (extension-less) session") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-mergesql-fact"))
    val target = Seq((1L, "F", 10.0), (2L, "O", 20.0))
      .toDF("order_id", "status", "total")
      .withColumn("created_dt", t0).withColumn("updated_dt", t0)
    cat.create(target, "gold", "fact_orders_sql")
    cat.register("gold", "fact_orders_sql")
    Seq((2L, "F", 25.0), (3L, "O", 30.0)).toDF("order_id", "status", "total")
      .createOrReplaceTempView("order_updates")

    // Gold_Orders.py:60-81's clause shape: matched → touch updated_dt only
    GraftSql.sql(spark, s"""
      MERGE INTO gold.fact_orders_sql t
      USING order_updates s
      ON t.order_id = s.order_id
      WHEN MATCHED THEN UPDATE SET t.updated_dt = $t1lit
      WHEN NOT MATCHED THEN
        INSERT (order_id, status, total, created_dt, updated_dt)
        VALUES (s.order_id, s.status, s.total, $t1lit, $t1lit)
    """)

    val out = cat.read("gold", "fact_orders_sql").collect()
      .map(r => r.getAs[Long]("order_id") -> r).toMap
    assert(out.size == 3)
    // unmatched target row untouched
    assert(out(1L).getAs[java.sql.Timestamp]("updated_dt").toString.startsWith("2025"))
    // matched: only updated_dt touched, data columns NOT updated
    assert(out(2L).getAs[java.sql.Timestamp]("updated_dt").toString.startsWith("2026"))
    assert(out(2L).getAs[Double]("total") == 20.0)
    assert(out(2L).getAs[java.sql.Timestamp]("created_dt").toString.startsWith("2025"))
    // inserted with both stamps
    assert(out(3L).getAs[Double]("total") == 30.0)
    assert(out(3L).getAs[java.sql.Timestamp]("created_dt").toString.startsWith("2026"))
  }

  test("DELETE, conditional clauses, and NOT MATCHED BY SOURCE") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql-del"))
    cat.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "val"),
      "gold", "dim_del_sql")
    cat.register("gold", "dim_del_sql")
    Seq((1L, "x", "D"), (2L, "b2", "U"), (4L, "d", "I"))
      .toDF("id", "val", "op").createOrReplaceTempView("del_updates")

    s.sql("""
      MERGE INTO gold.dim_del_sql t
      USING del_updates s
      ON t.id = s.id
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.val = s.val
      WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.val = 'stale'
    """)

    val got = cat.read("gold", "dim_del_sql").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("val")).toMap
    assert(got == Map(2L -> "b2", 3L -> "stale", 4L -> "d"),
      s"unexpected merge result: $got")
  }

  test("MERGE WITH SCHEMA EVOLUTION appends new source columns as nullable") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql-evolve"))
    cat.create(Seq((1L, "a"), (2L, "b")).toDF("id", "val"),
      "gold", "dim_evolve_sql")
    cat.register("gold", "dim_evolve_sql")
    // source carries `extra`, unknown to the target
    Seq((2L, "b2", "tag2"), (3L, "c", "tag3")).toDF("id", "val", "extra")
      .createOrReplaceTempView("evolve_updates")
    s.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO gold.dim_evolve_sql t
      USING evolve_updates s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val out = cat.read("gold", "dim_evolve_sql")
    assert(out.schema.fieldNames.toSeq == Seq("id", "val", "extra"))
    assert(out.schema("extra").nullable)
    val got = out.collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("val"), r.getAs[String]("extra"))).toMap
    // row 1 pre-existed: evolved column reads NULL; 2 updated; 3 inserted
    assert(got == Map(1L -> ("a", null), 2L -> ("b2", "tag2"),
      3L -> ("c", "tag3")), s"unexpected: $got")

    // WITHOUT the clause, the target schema is law: extra is not projected
    Seq((4L, "d", "tag4")).toDF("id", "val", "extra")
      .createOrReplaceTempView("evolve_updates2")
    s.sql("""
      MERGE INTO gold.dim_evolve_sql t USING evolve_updates2 s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)
    """)
    val after = cat.read("gold", "dim_evolve_sql")
    assert(after.schema.fieldNames.toSeq == Seq("id", "val", "extra"))
    assert(after.filter(col("id") === 4L).collect()(0)
      .getAs[String]("extra") == null)
  }

  test("OPTIMIZE WHERE packs only the matched partitions; others keep their inodes") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-optw"))
    val df = (1 to 4000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      s"v$i")).toDF("id", "p", "v")
    cat.overwriteSnapshot(df.repartition(16), "gold", "optw",
      partitionBy = Seq("p"))
    cat.register("gold", "optw")
    val base = cat.path("gold", "optw")
    def filesIn(part: String): Seq[java.io.File] =
      new java.io.File(s"$base/p=$part").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
    def inode(f: java.io.File): Any =
      java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
    assert(filesIn("a").size > 1 && filesIn("b").size > 1,
      "fixture must start fragmented in both partitions")
    val bBefore = filesIn("b").map(f => f.getName -> inode(f)).toMap
    val rowsBefore = cat.read("gold", "optw").count()
    s.sql("OPTIMIZE gold.optw WHERE p = 'a'")
    // matched partition packed; contents unchanged; a real version
    assert(filesIn("a").size == 1,
      s"p=a not packed: ${filesIn("a").size} files")
    assert(cat.read("gold", "optw").count() == rowsBefore)
    assert(cat.currentVersion("gold", "optw") == 2)
    assert(cat.readVersion("gold", "optw", 1).count() == rowsBefore)
    // UNMATCHED partition: same file names, same inodes — hard-linked,
    // zero data movement
    val bAfter = filesIn("b").map(f => f.getName -> inode(f)).toMap
    assert(bAfter == bBefore,
      s"p=b was rewritten: $bBefore -> $bAfter")
    // predicate on a non-partition column refuses (Delta's rule)
    val e = intercept[IllegalArgumentException] {
      cat.compactWhere("gold", "optw", "v = 'v1'")
    }
    assert(e.getMessage.contains("partition columns only"))
    // no-match predicate: no version churn
    s.sql("OPTIMIZE gold.optw WHERE p = 'zzz'")
    assert(cat.currentVersion("gold", "optw") == 2)
    cat.dropRegistration("gold", "optw")
  }

  test("OPTIMIZE / VACUUM / RESTORE SQL statements drive the snapshot log") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-opt"))
    val v1 = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("id", "v")
    cat.overwriteSnapshot(v1.repartition(16), "gold", "opt_sql") // fragmented
    cat.overwriteSnapshot(
      (1 to 3000).map(i => (i.toLong, s"b$i")).toDF("id", "v").repartition(16),
      "gold", "opt_sql")
    cat.register("gold", "opt_sql")
    val base = cat.path("gold", "opt_sql")
    def files: Int = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files > 1)
    // OPTIMIZE through the extension session: packed, contents unchanged,
    // committed as version 3
    s.sql("OPTIMIZE gold.opt_sql")
    assert(files == 1)
    assert(s.table("gold.opt_sql").count() == 3000)
    assert(cat.currentVersion("gold", "opt_sql") == 3)
    // the ZORDER BY form parses through the same extension path and
    // commits another (clustered) version with identical contents
    s.sql("OPTIMIZE gold.opt_sql ZORDER BY (id)")
    assert(s.table("gold.opt_sql").count() == 3000)
    assert(cat.currentVersion("gold", "opt_sql") == 4)
    // RESTORE version 1 through the universal (extension-less) entry: its
    // contents come back as a NEW version, nothing is erased
    graft.sql.GraftSql.sql(s,
      "RESTORE TABLE gold.opt_sql TO VERSION AS OF 1")
    assert(cat.currentVersion("gold", "opt_sql") == 5)
    assert(cat.read("gold", "opt_sql").count() == 2000)
    assert(cat.readVersion("gold", "opt_sql", 4).count() == 3000)
    // VACUUM through SQL: plant a stale staging dir, expect it reported
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(base + ".tmp"))
    val reclaimed = s.sql("VACUUM gold.opt_sql")
      .collect().map(_.getString(0)).toSeq
    assert(reclaimed.exists(_.endsWith(".tmp")), s"unexpected: $reclaimed")
    cat.dropRegistration("gold", "opt_sql")
  }

  test("VACUUM RETAIN n VERSIONS: dry-run lists without deleting, the " +
      "real run drops versions past the window, reads within the window " +
      "survive") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-vacret"))
    for (i <- 1 to 4)
      cat.overwriteSnapshot(Seq((i.toLong, s"v$i")).toDF("id", "v"),
        "gold", "vac_sql")
    cat.register("gold", "vac_sql")
    assert(cat.currentVersion("gold", "vac_sql") == 4)
    // DRY RUN at retain 1: versions 1 and 2 are past the window
    // (<= cur-1-keep = 2) and get REPORTED, but nothing is deleted —
    // both still read afterwards
    val dry = s.sql("VACUUM gold.vac_sql RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(dry.exists(_.endsWith("/v00001")) && dry.exists(_.endsWith("/v00002")),
      s"dry run must list the out-of-window versions: $dry")
    assert(cat.readVersion("gold", "vac_sql", 1).count() == 1)
    assert(cat.readVersion("gold", "vac_sql", 2).count() == 1)
    // the real run reclaims them
    val gone = s.sql("VACUUM gold.vac_sql RETAIN 1 VERSIONS")
      .collect().map(_.getString(0)).toSeq
    assert(gone.exists(_.endsWith("/v00001")) && gone.exists(_.endsWith("/v00002")))
    // within the window: the previous version still time-travels and the
    // current snapshot is untouched
    assert(cat.readVersion("gold", "vac_sql", 3).count() == 1)
    assert(s.table("gold.vac_sql").collect()(0).getString(1) == "v4")
    // past the window: version 1 no longer reconstructs
    val ex = intercept[Exception] {
      cat.readVersion("gold", "vac_sql", 1).count() }
    assert(ex != null)
    // default retention (no RETAIN clause) keeps everything here: only
    // 4 versions exist, well under keepVersions = 10 — a bare VACUUM
    // reports no version dirs
    val bare = s.sql("VACUUM gold.vac_sql").collect()
      .map(_.getString(0)).filter(_.contains(".history/v"))
    assert(bare.isEmpty, s"bare VACUUM must respect the default window: " +
      bare.mkString(","))
    cat.dropRegistration("gold", "vac_sql")
  }

  test("COPY INTO parses and runs through the extension session's parser") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-copy"))
    cat.overwriteSnapshot(Seq((1L, "a")).toDF("id", "v"), "bronze", "cp_sql")
    cat.register("bronze", "cp_sql")
    val land = tmpDir("graft-sql-copy-land")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$land/f1")
    val r = s.sql(
      s"COPY INTO bronze.cp_sql FROM '$land' FILEFORMAT = PARQUET")
      .collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L, s"counters: $r")
    assert(s.table("bronze.cp_sql").count() == 2)
    // statement-shaped string LITERALS must not trigger the interception
    val lit = s.sql(
      "SELECT 'COPY INTO x FROM ''y'' FILEFORMAT = PARQUET' AS t")
    assert(lit.count() == 1)
    cat.dropRegistration("bronze", "cp_sql")
  }

  test("a target row matching multiple source rows raises (cardinality guard)") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql-dup"))
    cat.create(Seq((1L, "a")).toDF("id", "val"), "gold", "dim_dup_sql")
    cat.register("gold", "dim_dup_sql")
    Seq((1L, "x"), (1L, "y")).toDF("id", "val")
      .createOrReplaceTempView("dup_updates")
    val ex = intercept[Throwable] {
      s.sql("""
        MERGE INTO gold.dim_dup_sql t USING dup_updates s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.val = s.val
      """)
    }
    def messages(e: Throwable): String =
      if (e == null) "" else e.toString + messages(e.getCause)
    assert(messages(ex).contains("matched multiple source rows"))
  }

  test("residual-filter ON falls back to the per-target-row guard: dup source keys with ONE real match pass") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql-resid"))
    cat.create(Seq((1L, "a"), (2L, "b")).toDF("id", "val"), "gold", "dim_resid_sql")
    cat.register("gold", "dim_resid_sql")
    // key 1 appears twice in the source but only the op='U' row matches the
    // ON condition — a source-key-count guard would falsely raise here; the
    // per-target-row guard must let it through
    Seq((1L, "x", "U"), (1L, "y", "D")).toDF("id", "val", "op")
      .createOrReplaceTempView("resid_updates")
    s.sql("""
      MERGE INTO gold.dim_resid_sql t
      USING resid_updates s
      ON t.id = s.id AND s.op = 'U'
      WHEN MATCHED THEN UPDATE SET t.val = s.val
    """)
    val got = cat.read("gold", "dim_resid_sql").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("val")).toMap
    assert(got == Map(1L -> "x", 2L -> "b"), s"unexpected: $got")
  }

  test("non-equi ON with a genuine multi-match raises through the fallback guard") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-mergesql-nonequi"))
    cat.create(Seq((1L, "a")).toDF("id", "val"), "gold", "dim_nonequi_sql")
    cat.register("gold", "dim_nonequi_sql")
    Seq((5L, "x"), (6L, "y")).toDF("id", "val")
      .createOrReplaceTempView("nonequi_updates")
    val ex = intercept[Throwable] {
      s.sql("""
        MERGE INTO gold.dim_nonequi_sql t
        USING nonequi_updates s
        ON t.id <= s.id
        WHEN MATCHED THEN UPDATE SET t.val = s.val
      """)
    }
    def messages(e: Throwable): String =
      if (e == null) "" else e.toString + messages(e.getCause)
    assert(messages(ex).contains("matched multiple source rows"))
  }

  test("SELECT ... VERSION AS OF n reads the snapshot log through spark.sql") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-tt"))
    (1 to 3).foreach { v =>
      cat.overwriteSnapshot((1 to v).map(i => (i.toLong, s"v$v")).toDF("id", "v"),
        "gold", "tt_sql")
    }
    cat.register("gold", "tt_sql")
    def countAt(v: Int): Long =
      s.sql(s"SELECT count(*) AS c FROM gold.tt_sql VERSION AS OF $v")
        .collect()(0).getLong(0)
    assert(countAt(1) == 1 && countAt(2) == 2 && countAt(3) == 3)
    // live read unaffected
    assert(s.sql("SELECT count(*) AS c FROM gold.tt_sql")
      .collect()(0).getLong(0) == 3)
    // qualified references resolve against the substituted relation
    assert(s.sql(
      "SELECT tt_sql.id FROM gold.tt_sql VERSION AS OF 2 ORDER BY tt_sql.id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // out-of-range version fails clearly
    val ex = intercept[Exception] { countAt(9) }
    assert(ex.getMessage.contains("out of range"))
    cat.dropRegistration("gold", "tt_sql")
  }

  test("SELECT ... TIMESTAMP AS OF resolves the newest version at or before ts") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-tstt"))
    val between = scala.collection.mutable.ArrayBuffer.empty[java.sql.Timestamp]
    (1 to 3).foreach { v =>
      cat.overwriteSnapshot((1 to v).map(i => (i.toLong, s"v$v")).toDF("id", "v"),
        "gold", "ts_sql")
      Thread.sleep(120)
      between += new java.sql.Timestamp(System.currentTimeMillis())
      Thread.sleep(20)
    }
    cat.register("gold", "ts_sql")
    def countAt(lit: String): Long =
      s.sql(s"SELECT count(*) AS c FROM gold.ts_sql TIMESTAMP AS OF $lit")
        .collect()(0).getLong(0)
    // instants strictly between commits pick the version committed before
    assert(countAt(s"'${between(0)}'") == 1)
    assert(countAt(s"'${between(1)}'") == 2)
    assert(countAt(s"'${between(2)}'") == 3)
    // a version's exact commit time reads that version (inclusive bound)
    val commits = cat.history("gold", "ts_sql").collect()
      .map(r => r.getAs[Int]("version") ->
        r.getAs[java.sql.Timestamp]("snapshot_time")).toMap
    assert(countAt(s"'${commits(2)}'") == 2)
    // the grammar admits expressions, not just literals
    assert(countAt("now()") == 3)
    // pre-history fails with the retention contract's message
    val ex = intercept[Exception] {
      countAt(s"'${new java.sql.Timestamp(commits(1).getTime - 60000)}'")
    }
    def messages(e: Throwable): String =
      if (e == null) "" else e.toString + messages(e.getCause)
    assert(messages(ex).contains("before the earliest"))
    cat.dropRegistration("gold", "ts_sql")
  }

  test("GraftSql.sql gives extension-less sessions MERGE + VERSION AS OF + passthrough") {
    val cat = new graft.catalog.Catalog(spark, tmpDir("graft-sql-univ"))
    (1 to 2).foreach { v =>
      cat.overwriteSnapshot((1 to v).map(i => (i.toLong, s"v$v")).toDF("id", "v"),
        "gold", "tt_plain")
    }
    cat.register("gold", "tt_plain")
    // time travel through the universal entry on the PLAIN session
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS c FROM gold.tt_plain VERSION AS OF 1")
      .collect()(0).getLong(0) == 1L)
    // MERGE through the universal entry
    Seq((1L, "patched")).toDF("id", "v").createOrReplaceTempView("univ_src")
    GraftSql.sql(spark, """
      MERGE INTO gold.tt_plain t USING univ_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
    """)
    assert(cat.read("gold", "tt_plain")
      .filter(col("id") === 1L).collect()(0).getAs[String]("v") == "patched")
    // TIMESTAMP AS OF through the universal entry: now() is at-or-past the
    // latest commit, so it reads the live (post-merge) snapshot
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS c FROM gold.tt_plain TIMESTAMP AS OF now()")
      .collect()(0).getLong(0) == 2L)
    // anything else passes through
    assert(GraftSql.sql(spark, "SELECT 1 AS one").collect()(0).getInt(0) == 1)

    // DESCRIBE HISTORY (Delta syntax, not in Spark's grammar) lists the log
    val h = GraftSql.sql(spark, "DESCRIBE HISTORY gold.tt_plain").collect()
    assert(h.length >= 2, s"expected 2+ versions, got ${h.length}")
    assert(h(0).getAs[Int]("version") > h.last.getAs[Int]("version"))
    assert(h(0).getAs[Boolean]("is_current"))
    assert(h.forall(_.getAs[Long]("size_bytes") > 0))
    // the current version was committed by the MERGE above and says so
    assert(h(0).getAs[String]("operation") == "MERGE",
      s"got ${h(0).getAs[String]("operation")}")
    cat.dropRegistration("gold", "tt_plain")
  }

  test("DESCRIBE HISTORY through spark.sql on the extension session") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-dh"))
    (1 to 2).foreach { v =>
      cat.overwriteSnapshot((1 to v).map(i => (i.toLong, s"v$v")).toDF("id", "v"),
        "gold", "dh_ext")
    }
    cat.register("gold", "dh_ext")
    val h = s.sql("DESCRIBE HISTORY gold.dh_ext").collect()
    assert(h.length == 2 && h(0).getAs[Int]("version") == 2)
    assert(h(0).getAs[Boolean]("is_current") && !h(1).getAs[Boolean]("is_current"))
    // a string literal mentioning the phrase must NOT trigger interception
    assert(s.sql("SELECT 'DESCRIBE HISTORY x' AS t").collect()(0)
      .getString(0).startsWith("DESCRIBE"))
    cat.dropRegistration("gold", "dh_ext")
  }

  test("MERGE into a temp view is rejected with a clear error") {
    val s = sqlSpark
    import s.implicits._
    Seq((1L, "a")).toDF("id", "val").createOrReplaceTempView("tv_target")
    Seq((1L, "b")).toDF("id", "val").createOrReplaceTempView("tv_src")
    val ex = intercept[IllegalArgumentException] {
      s.sql("""
        MERGE INTO tv_target t USING tv_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.val = s.val
      """)
    }
    assert(ex.getMessage.contains("catalog table"))
  }

  test("SHOW PARTITIONS lists leaf partition dirs; unpartitioned tables rejected") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-showp"))
    cat.overwriteSnapshot(
      Seq((1L, "a", 2024, "x"), (2L, "a", 2025, "y"), (3L, "b", 2024, "z"))
        .toDF("id", "p", "yr", "v"),
      "gold", "showp", partitionBy = Seq("p", "yr"))
    cat.register("gold", "showp")
    // parser-extension path
    val got = s.sql("SHOW PARTITIONS gold.showp").collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("p=a/yr=2024", "p=a/yr=2025", "p=b/yr=2024"),
      s"got $got")
    // no-extension entry point agrees
    val got2 = graft.sql.GraftSql.sql(s, "SHOW PARTITIONS gold.showp")
      .collect().map(_.getString(0)).toSeq
    assert(got2 == got)
    // unpartitioned target → Spark's own wording
    cat.overwriteSnapshot(Seq((1L, "v")).toDF("id", "v"), "gold", "flat_sp")
    cat.register("gold", "flat_sp")
    val ex = intercept[Exception](s.sql("SHOW PARTITIONS gold.flat_sp")
      .collect())
    assert(ex.getMessage.contains("not partitioned"))
  }

  test("SHOW TBLPROPERTIES surfaces commit tags (operation, operator " +
      "bounds), with the one-key form and tag carry-forward") {
    val s = sqlSpark
    import s.implicits._
    val cat = new graft.catalog.Catalog(s, tmpDir("graft-sql-tblprops"))
    graft.catalog.Catalog.overwritePath(s,
      Seq((1L, "a")).toDF("id", "v"), cat.path("gold", "props"),
      commitTag = Some("ivf.maxList" -> "250"))
    cat.register("gold", "props")
    val all = s.sql("SHOW TBLPROPERTIES gold.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(all.get("ivf.maxList").contains("250"), s"got $all")
    assert(all.get("operation").contains("WRITE"))
    // one-key form (Spark's native shape)
    val one = s.sql("SHOW TBLPROPERTIES gold.props ('ivf.maxList')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(one == Seq(("ivf.maxList", "250")))
    assert(s.sql("SHOW TBLPROPERTIES gold.props ('nope')").collect().isEmpty)
    // tags carry forward across a later untagged commit
    graft.catalog.Catalog.appendPath(s,
      Seq((2L, "b")).toDF("id", "v"), cat.path("gold", "props"))
    val after = s.sql("SHOW TBLPROPERTIES gold.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after.get("ivf.maxList").contains("250"))
    assert(after.get("operation").contains("APPEND"))
    // no-extension entry point agrees
    val viaEntry = graft.sql.GraftSql
      .sql(s, "SHOW TBLPROPERTIES gold.props ('ivf.maxList')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaEntry == one)
  }

  /** The same 20 rows as the registered table `gold.<name>` in one
    * layout: flat, hive-partitioned on `p`, or bucketed on `k`. */
  private def layoutTable(s: SparkSession, cat: graft.catalog.Catalog,
      name: String, layout: String): String = {
    import s.implicits._
    val rows = (1L to 20L).map(i => (i, s"v$i", (i % 3).toInt))
      .toDF("k", "v", "p")
    val dir = cat.path("gold", name)
    layout match {
      case "flat" => graft.catalog.Catalog.overwritePath(s, rows, dir)
      case "hive" => graft.catalog.Catalog.overwritePath(s, rows, dir, Seq("p"))
      case "bucketed" =>
        graft.merge.PartitionedMerge.write(rows, dir, Seq("k"), 4)
    }
    cat.register("gold", name)
    dir
  }

  /** The table's logical rows (bucket column dropped), every column. */
  private def logicalRows(s: SparkSession, dir: String): Seq[Seq[Any]] = {
    val df = graft.layout.DeletionVectors.readPath(s, dir).drop("gbucket")
      .select("k", "v", "p")
    df.orderBy("k", "v", "p").collect().toSeq.map(_.toSeq)
  }

  private def dirsOf(dir: String, prefix: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(prefix)).toSet

  /** Run `merge` (with `$t` for the target) on a fresh registered table
    * per layout; returns (dir, logical rows after) per layout. */
  private def mergeEachLayout(s: SparkSession, tag: String, merge: String)
      : Map[String, (String, Seq[Seq[Any]])] = {
    val cat = new graft.catalog.Catalog(s, tmpDir(s"graft-sql-lay-$tag"))
    Seq("flat", "hive", "bucketed").map { layout =>
      val name = s"lay_${tag}_$layout"
      val dir = layoutTable(s, cat, name, layout)
      try s.sql(merge.replace("$t", s"gold.$name"))
      finally cat.dropRegistration("gold", name)
      layout -> ((dir, logicalRows(s, dir)))
    }.toMap
  }

  test("MERGE into registered bucketed and hive-partitioned tables keeps " +
      "every untouched row (UPDATE with INSERT * or INSERT (k, v))") {
    val s = sqlSpark
    import s.implicits._
    Seq((3L, "x3", 0), (25L, "x25", 1)).toDF("k", "v", "p")
      .createOrReplaceTempView("lay_src")
    for ((insert, i) <- Seq("INSERT *",
        "INSERT (k, v) VALUES (s.k, s.v)").zipWithIndex) {
      val got = mergeEachLayout(s, s"ins$i", s"""
        MERGE INTO $$t t USING lay_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET t.v = s.v
        WHEN NOT MATCHED THEN $insert""")
      val (_, flat) = got("flat")
      assert(flat.size == 21 && flat.exists(_.take(2) == Seq(3L, "x3")))
      for (layout <- Seq("hive", "bucketed"))
        assert(got(layout)._2 == flat, s"$layout with $insert: ${got(layout)._2}")
      // the bucketed merge stays in its layout, and its equi-join ON the
      // bucket key is key-local: only the touched buckets were retired
      val bdir = got("bucketed")._1
      assert(dirsOf(bdir, "gbucket=").subsetOf(
        (0 until 4).map(b => s"gbucket=$b").toSet), dirsOf(bdir, "gbucket="))
      val retired = dirsOf(graft.layout.SwapProtocol.versionDir(bdir, 1)
        .toUri.getPath, "gbucket=")
      assert(retired.nonEmpty && retired.size < 4,
        "a key-local MERGE on the bucket key must rewrite only touched buckets")
    }
  }

  test("bucketed MERGE with WHEN NOT MATCHED BY SOURCE equals the full " +
      "rewrite") {
    val s = sqlSpark
    import s.implicits._
    Seq((3L, "x3", 0), (25L, "x25", 1)).toDF("k", "v", "p")
      .createOrReplaceTempView("lay_src_nmbs")
    val got = mergeEachLayout(s, "nmbs", """
      MERGE INTO $t t USING lay_src_nmbs s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.k > 15 THEN DELETE""")
    val (_, flat) = got("flat")
    assert(flat.size == 16)
    val (bdir, bucketed) = got("bucketed")
    assert(bucketed == flat, s"bucketed: $bucketed")
    assert(dirsOf(bdir, "gbucket=").subsetOf(
      (0 until 4).map(b => s"gbucket=$b").toSet), dirsOf(bdir, "gbucket="))
  }
}
