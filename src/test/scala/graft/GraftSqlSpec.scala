package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakehouseTable

/** The SQL DDL/DML face (graft.sql): every verb through the INJECTED parser
  * (SparkTestSession carries spark.sql.extensions=graft.GraftExtensions),
  * plus the extension-less GraftSql.sql entry point running the same
  * commands. */
class GraftSqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def n(table: String): Long =
    spark.sql(s"SELECT count(*) AS n FROM $table").head().getLong(0)

  test("full lifecycle through spark.sql: create/insert/merge/delete/time-travel/restore/vacuum") {
    val root = Files.createTempDirectory("graft_sql").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)

    spark.sql(s"""CREATE TABLE sqlspec_t USING graft LOCATION '$root' AS
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100""")
    assert(n("sqlspec_t") == 100) // dense keys 0..1499 at sf0.001

    spark.sql("""INSERT INTO sqlspec_t
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey >= 100 AND o_orderkey < 150""")
    assert(n("sqlspec_t") == 150)

    spark.sql("""MERGE INTO sqlspec_t AS t USING (
        SELECT o_orderkey, o_totalprice * 2.0 AS o_totalprice
        FROM orders WHERE o_orderkey < 10
        UNION ALL
        SELECT o_orderkey + 10000 AS o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey < 5
      ) AS s ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(n("sqlspec_t") == 155)
    val doubled = spark.sql(
      """SELECT t.o_totalprice = 2.0 * o.o_totalprice
         FROM sqlspec_t t JOIN orders o ON t.o_orderkey = o.o_orderkey
         WHERE t.o_orderkey < 10""").collect()
    assert(doubled.length == 10 && doubled.forall(_.getBoolean(0)))

    spark.sql("DELETE FROM sqlspec_t WHERE o_orderkey >= 10000")
    assert(n("sqlspec_t") == 150)

    // time travel reads any pinned version without touching the view
    assert(n("sqlspec_t VERSION AS OF 0") == 100)
    assert(n("sqlspec_t VERSION AS OF 1") == 150)
    assert(n("sqlspec_t") == 150)

    spark.sql("RESTORE TABLE sqlspec_t TO VERSION AS OF 0")
    assert(n("sqlspec_t") == 100)

    // OPTIMIZE bin-packs the small files the insert/merge wrote; content
    // identical, fewer files, one more version
    val beforeFiles = spark.sql("SELECT * FROM sqlspec_t").inputFiles.length
    val vOpt = spark.sql("OPTIMIZE sqlspec_t").head().getLong(0)
    assert(vOpt == LakehouseTable.versions(root).last)
    assert(spark.sql("SELECT * FROM sqlspec_t").inputFiles.length <= beforeFiles)
    assert(n("sqlspec_t") == 100)

    val vacuumed = spark.sql("VACUUM sqlspec_t RETAIN 1 VERSIONS").collect()
    assert(vacuumed.length == 1 && vacuumed(0).getLong(0) > 0) // dead files deleted
    assert(n("sqlspec_t") == 100) // live version unharmed
    assert(LakehouseTable.versions(root) == Seq(vOpt))

    // delegation: ordinary statements still flow to Spark's parser
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
  }

  test("GraftSql.sql runs the same commands on a session without the extension") {
    val root = Files.createTempDirectory("graft_sql_plain").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    graft.sql.GraftSql.sql(spark,
      s"""CREATE TABLE sqlspec_p USING graft LOCATION '$root' AS
          SELECT o_orderkey FROM orders WHERE o_orderkey < 20""")
    graft.sql.GraftSql.sql(spark,
      "DELETE FROM sqlspec_p WHERE o_orderkey >= 10")
    assert(graft.sql.GraftSql.sql(spark,
      "SELECT count(*) AS n FROM sqlspec_p").head().getLong(0) == 10)
    assert(LakehouseTable.currentVersion(root).contains(1L))
  }

  test("PARTITIONED BY create prunes partitions; LOCATION-only re-registers") {
    val root = Files.createTempDirectory("graft_sql_part").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_part USING graft
      PARTITIONED BY (o_orderstatus) LOCATION '$root' AS
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders""")
    // partition pruning reaches the plan through the published view
    val q = spark.sql("SELECT count(*) AS n FROM sqlspec_part WHERE o_orderstatus = 'F'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"))
    val expected = spark.sql("SELECT count(*) FROM orders WHERE o_orderstatus = 'F'")
      .head().getLong(0)
    assert(q.head().getLong(0) == expected && expected > 0)
    // INSERT through the SQL face keeps the hive layout (partitionBy from
    // the registry, not re-specified)
    val total = spark.sql("SELECT count(*) FROM orders").head().getLong(0)
    spark.sql("""INSERT INTO sqlspec_part
      SELECT o_orderkey + 1000000, o_totalprice, o_orderstatus FROM orders LIMIT 5""")
    assert(n("sqlspec_part") == total + 5)
    // LOCATION-only CREATE registers the EXISTING table under a new name,
    // INFERRING the hive partitioning so later DML keeps the layout
    spark.sql(s"CREATE TABLE sqlspec_part2 USING graft LOCATION '$root'")
    assert(n("sqlspec_part2") == total + 5)
    assert(graft.sql.GraftCatalog.lookup("sqlspec_part2")
      .exists(_.partitionBy == Seq("o_orderstatus")))
  }

  test("VALUES insert, unsupported MERGE shapes, and keyless TABLE_CHANGES") {
    val root = Files.createTempDirectory("graft_sql_edge").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_edge USING graft LOCATION '$root' AS
      SELECT o_orderkey AS id, o_totalprice AS v FROM orders WHERE o_orderkey < 3""")
    spark.sql("INSERT INTO sqlspec_edge VALUES (100, 1.5), (101, 2.5)")
    assert(n("sqlspec_edge") == 5)
    // MERGE ON with different column names on each side is a loud error,
    // not a silent misparse
    val e1 = intercept[IllegalArgumentException](spark.sql(
      """MERGE INTO sqlspec_edge AS t USING (SELECT 1 AS a, 2.0 AS v) AS s
         ON t.id = s.a
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    assert(e1.getMessage.contains("same-named"))
    // TABLE_CHANGES on a table registered without rowKeys is a loud error
    val e2 = intercept[IllegalArgumentException](spark.sql(
      "SELECT * FROM TABLE_CHANGES(sqlspec_edge, 0, 1)"))
    assert(e2.getMessage.contains("rowKeys"))
    // INSERT OVERWRITE replaces the snapshot in ONE commit; history keeps
    // the pre-overwrite version readable (same time-travel contract as
    // every other writer)
    val vBefore = LakehouseTable.currentVersion(root).get
    spark.sql("INSERT OVERWRITE sqlspec_edge VALUES (7, 9.0)")
    assert(n("sqlspec_edge") == 1)
    assert(LakehouseTable.currentVersion(root).get == vBefore + 1)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM sqlspec_edge VERSION AS OF $vBefore")
      .head().getLong(0) == 5)
  }

  test("MERGE with WHEN MATCHED AND cond THEN DELETE applies CDC atomically") {
    val root = Files.createTempDirectory("graft_sql_mergedel").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_md USING graft LOCATION '$root' AS
      SELECT o_orderkey AS id, o_totalprice AS v FROM orders WHERE o_orderkey < 10""")
    // one statement: id<3 rows deleted, id in [3,10) doubled, id=50 inserted
    spark.sql("""MERGE INTO sqlspec_md AS t USING (
        SELECT o_orderkey AS id, o_totalprice * 2.0 AS v,
               o_orderkey < 3 AS is_del
        FROM orders WHERE o_orderkey < 10
        UNION ALL
        SELECT 50 AS id, 9.0 AS v, false AS is_del
      ) AS s ON t.id = s.id
      WHEN MATCHED AND s.is_del THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT id FROM sqlspec_md ORDER BY id").collect()
      .map(_.getLong(0))
    assert(rows.toSeq == ((3L to 9L) :+ 50L))
    // exactly ONE version was committed for the whole apply (atomic)
    assert(graft.sources.LakehouseTable.versions(root) == Seq(0L, 1L))
    val doubled = spark.sql(
      """SELECT count(*) FROM sqlspec_md t JOIN orders o ON t.id = o.o_orderkey
         WHERE t.v = 2.0 * o.o_totalprice""").head().getLong(0)
    assert(doubled == 7)
  }

  test("DESCRIBE HISTORY lists versions; DROP TABLE unregisters only") {
    val root = Files.createTempDirectory("graft_sql_hist").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_h USING graft LOCATION '$root' AS
      SELECT o_orderkey FROM orders WHERE o_orderkey < 5""")
    spark.sql("INSERT INTO sqlspec_h SELECT o_orderkey FROM orders WHERE o_orderkey = 7")
    val hist = spark.sql("DESCRIBE HISTORY sqlspec_h").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(hist.map(_.getLong(1)).toSeq.forall(_ >= 1)) // n_files per version
    spark.sql("DROP TABLE sqlspec_h")
    assert(graft.sql.GraftCatalog.lookup("sqlspec_h").isEmpty)
    // data survives the drop (external semantics): re-attach and read
    spark.sql(s"CREATE TABLE sqlspec_h USING graft LOCATION '$root'")
    assert(n("sqlspec_h") == 6)
  }

  test("OPTIMIZE ZORDER BY clusters so footer stats prune on BOTH dimensions") {
    val root = Files.createTempDirectory("graft_sql_z").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_z USING graft LOCATION '$root' AS
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders""")
    val total = n("sqlspec_z")
    val vZ = spark.sql("OPTIMIZE sqlspec_z ZORDER BY (o_orderkey, o_custkey)")
      .head().getLong(0)
    assert(vZ == LakehouseTable.versions(root).last)
    assert(n("sqlspec_z") == total) // layout-only rewrite
    // z-order keeps file ranges narrow in EVERY clustered dimension: a
    // selective predicate on EITHER column must skip files via the
    // footer stats (8 z-files; a lexicographic sort would prune only
    // the leading column)
    val allFiles = LakehouseTable.read(spark, root).inputFiles.length
    assert(allFiles >= 4, s"expected multiple z-files, got $allFiles")
    for (c <- Seq("o_orderkey", "o_custkey")) {
      val kept = LakehouseTable.readPruned(spark, root, c, 0.0, 10.0)
        .inputFiles.length
      assert(kept < allFiles, s"no file skipped on $c: $kept of $allFiles")
    }
    // single column degrades to plain range clustering, same SQL verb
    val v1 = spark.sql("OPTIMIZE sqlspec_z ZORDER BY (o_totalprice)")
      .head().getLong(0)
    assert(v1 == vZ + 1 && n("sqlspec_z") == total)
    spark.sql("DROP TABLE sqlspec_z")

    // hive-partitioned table: ZORDER clusters WITHIN partitions (Delta's
    // OPTIMIZE semantics) — layout preserved, content unchanged, and
    // partition pruning still plans through the published view
    val rootP = Files.createTempDirectory("graft_sql_zp").toString + "/t"
    spark.sql(s"""CREATE TABLE sqlspec_zp USING graft PARTITIONED BY (o_orderpriority)
      LOCATION '$rootP' AS
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders""")
    val totalP = n("sqlspec_zp")
    spark.sql("OPTIMIZE sqlspec_zp ZORDER BY (o_orderkey, o_custkey)").head()
    assert(n("sqlspec_zp") == totalP)
    assert(LakehouseTable.partitionColumns(rootP) == Seq("o_orderpriority"))
    val pruned = spark.sql(
      "SELECT count(*) AS n FROM sqlspec_zp WHERE o_orderpriority = '1-URGENT'")
    val planP = pruned.queryExecution.executedPlan.toString
    assert(planP.contains("PartitionFilters") && planP.contains("o_orderpriority"))
    val wantP = spark.sql(
      "SELECT count(*) FROM orders WHERE o_orderpriority = '1-URGENT'")
      .head().getLong(0)
    assert(pruned.head().getLong(0) == wantP && wantP > 0)
    spark.sql("DROP TABLE sqlspec_zp")
  }

  test("OPTIMIZE ZORDER BY a TIMESTAMP_NTZ column keeps the row multiset") {
    val root = Files.createTempDirectory("graft_sql_zntz").toString + "/t"
    spark.sql(s"""CREATE TABLE sqlspec_zntz USING graft LOCATION '$root' AS
      SELECT id AS k, CASE WHEN id % 17 = 0 THEN NULL
        ELSE CAST(timestamp_seconds(id * 3607) AS TIMESTAMP_NTZ) END AS ts_ntz
      FROM range(0, 300, 1, 4)""")
    assert(spark.table("sqlspec_zntz").schema("ts_ntz").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    def rows = spark.table("sqlspec_zntz").collect().map(_.toString).sorted.toSeq
    val before = rows
    val v = spark.sql("OPTIMIZE sqlspec_zntz ZORDER BY (ts_ntz, k)").head().getLong(0)
    assert(v == LakehouseTable.versions(root).last && v > 0)
    assert(rows == before)
    spark.sql("DROP TABLE sqlspec_zntz")
  }

  test("TIMESTAMP AS OF resolves by in-commit timestamp; DESCRIBE DETAIL reports the table") {
    val root = Files.createTempDirectory("graft_sql_ts").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_ts USING graft LOCATION '$root' AS
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 50""")
    spark.sql("""INSERT INTO sqlspec_ts
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey >= 50 AND o_orderkey < 80""")
    // pin deterministic commit times: v0 at 10:00, v1 at 11:00 UTC —
    // by rewriting the IN-COMMIT stamp (the authoritative field; mtime
    // is only the legacy fallback for pre-field manifests)
    def stamp(v: Long, iso: String): Unit = {
      val p = java.nio.file.Paths.get(root, "_manifest", s"$v.json")
      val millis = java.time.Instant.parse(iso).toEpochMilli
      Files.writeString(p,
        Files.readString(p).replaceFirst("\"ts\": \\d+", s"\"ts\": $millis"))
    }
    stamp(0L, "2026-01-01T10:00:00Z")
    stamp(1L, "2026-01-01T11:00:00Z")
    def nAt(ts: String): Long = spark.sql(
      s"SELECT count(*) AS n FROM sqlspec_ts TIMESTAMP AS OF '$ts'").head().getLong(0)
    assert(nAt("2026-01-01 10:30:00") == 50)  // between commits → v0
    assert(nAt("2026-01-01 11:00:00") == 80)  // inclusive boundary → v1
    assert(nAt("2026-01-01 23:00:00") == 80)  // after everything → latest
    assert(nAt("2026-01-02") == 80)           // date-only short form
    val e = intercept[Exception](nAt("2026-01-01 09:00:00"))
    assert(e.getMessage.contains("no version committed"),
      s"wrong error: ${e.getMessage}")
    val bad = intercept[Exception](nAt("not-a-time"))
    assert(bad.getMessage.contains("expected"), s"wrong error: ${bad.getMessage}")
    val d = spark.sql("DESCRIBE DETAIL sqlspec_ts").head()
    assert(d.getString(0) == root && d.getLong(1) == 1L && d.getLong(2) >= 1L)
    spark.sql("DROP TABLE sqlspec_ts")
  }

  test("non-graft CREATE TABLE still delegates to Spark's catalog") {
    spark.sql("DROP TABLE IF EXISTS plain_parquet_t")
    spark.sql("CREATE TABLE plain_parquet_t USING parquet AS SELECT 1 AS x")
    assert(spark.sql("SELECT count(*) AS n FROM plain_parquet_t")
      .head().getLong(0) == 1)
    spark.sql("DROP TABLE plain_parquet_t")
  }

  test("keyword-bearing string literals never fracture clause recognition") {
    val root = Files.createTempDirectory("graft_sql_lit").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_lit USING graft LOCATION '$root' AS
      SELECT n_nationkey AS k, n_name AS note FROM nation""")
    assert(n("sqlspec_lit") == 25)

    // UPDATE: the SET literal carries a comma AND the word WHERE — both
    // used to be clause-split hazards
    spark.sql("""UPDATE sqlspec_lit
      SET note = 'a, b WHERE x AND y' WHERE k = 3""")
    assert(spark.sql("SELECT note FROM sqlspec_lit WHERE k = 3")
      .head().getString(0) == "a, b WHERE x AND y")
    assert(n("sqlspec_lit") == 25)

    // MERGE: the source carries ' WHEN MATCHED THEN UPDATE SET * ' and an
    // ' ON t.k = u.k ' as DATA; the delete condition's literal carries the
    // source alias qualifier lookalike 'u.' which alias-stripping must
    // leave intact
    spark.sql("""MERGE INTO sqlspec_lit AS t USING (
        SELECT 5 AS k, ' WHEN MATCHED THEN UPDATE SET * ' AS note
        UNION ALL SELECT 99, ' ON t.k = u.k '
        UNION ALL SELECT 98, 'u.drop me'
      ) AS u ON t.k = u.k
      WHEN MATCHED AND u.note = 'u.drop me' THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT note FROM sqlspec_lit WHERE k = 5")
      .head().getString(0) == " WHEN MATCHED THEN UPDATE SET * ")
    assert(spark.sql("SELECT note FROM sqlspec_lit WHERE k = 99")
      .head().getString(0) == " ON t.k = u.k ")
    // the DELETE clause only gates MATCHED rows (Spark/Delta MERGE
    // semantics, the round-14 ADVICE fix): k=98 had no target row, so
    // its cond-true source row falls through to WHEN NOT MATCHED and
    // INSERTS instead of silently vanishing
    assert(n("sqlspec_lit") == 27) // 25 + inserted k=99 + inserted k=98
    assert(spark.sql("SELECT count(*) AS c FROM sqlspec_lit WHERE k = 98")
      .head().getLong(0) == 1)
    // ...and a SECOND merge with the same source now MATCHES k=98, so
    // the delete clause fires and removes it (the two-phase CDC shape)
    spark.sql("""MERGE INTO sqlspec_lit AS t USING (
        SELECT 98 AS k, 'u.drop me' AS note
      ) AS u ON t.k = u.k
      WHEN MATCHED AND u.note = 'u.drop me' THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(n("sqlspec_lit") == 26)
    assert(spark.sql("SELECT count(*) AS c FROM sqlspec_lit WHERE k = 98")
      .head().getLong(0) == 0)

    // DELETE: literal containing ' AND ' and 'u.k' must not split the
    // predicate or be alias-stripped
    spark.sql("DELETE FROM sqlspec_lit WHERE note = ' ON t.k = u.k '")
    assert(n("sqlspec_lit") == 25)

    // time-travel sugar inside a string literal is DATA, not a rewrite
    // target — the literal must come back verbatim
    val lit = spark.sql(
      "SELECT 'sqlspec_lit VERSION AS OF 1' AS s").head().getString(0)
    assert(lit == "sqlspec_lit VERSION AS OF 1")

    spark.sql("DROP TABLE sqlspec_lit")
  }

  test("unregistered names are never intercepted (fail closed)") {
    // DELETE/MERGE/INSERT on unknown tables go to Spark's parser, whose
    // analyzer rejects them — proving the face can't shadow real tables
    val e = intercept[Exception](spark.sql("DELETE FROM no_such_graft_table WHERE 1=1"))
    assert(!e.isInstanceOf[scala.MatchError])
  }

  test("CHECK constraints: existing-row validation, quarantine, overwrite refusal, drop") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sql_ck").toString + "/t"
    Seq((1L, 50.0), (2L, 60.0)).toDF("id", "v")
      .createOrReplaceTempView("ck_src_ok")
    spark.sql(s"""CREATE TABLE sqlspec_ck USING graft LOCATION '$root' AS
      SELECT * FROM ck_src_ok""")
    // ALTER validates existing rows: a violated constraint is refused
    val bad = intercept[Exception](spark.sql(
      "ALTER TABLE sqlspec_ck ADD CONSTRAINT v_hi CHECK (v >= 55.0)"))
    assert(bad.getMessage.contains("existing rows violate"))
    spark.sql("ALTER TABLE sqlspec_ck ADD CONSTRAINT v_pos CHECK (v >= 10.0)")
    // INSERT quarantines violators, commits the rest
    Seq((3L, 5.0), (4L, 70.0)).toDF("id", "v")
      .createOrReplaceTempView("ck_src_mixed")
    spark.sql("INSERT INTO sqlspec_ck SELECT * FROM ck_src_mixed")
    assert(n("sqlspec_ck") == 3)
    val rej = LakehouseTable.read(spark, s"$root/_rejects")
    assert(rej.count() == 1 &&
      rej.head().getAs[String]("violated") == "v_pos")
    // OVERWRITE with a violating row refuses the whole statement
    val ow = intercept[Exception](spark.sql(
      "INSERT OVERWRITE sqlspec_ck SELECT * FROM ck_src_mixed"))
    assert(ow.getMessage.contains("violate constraint"))
    assert(n("sqlspec_ck") == 3) // untouched
    // DROP CONSTRAINT lifts enforcement
    spark.sql("ALTER TABLE sqlspec_ck DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO sqlspec_ck SELECT * FROM ck_src_mixed")
    assert(n("sqlspec_ck") == 5)
    spark.sql("DROP TABLE sqlspec_ck")
  }

  test("ALTER COLUMN TYPE through the INJECTED parser; DESCRIBE shows the wide type") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sql_widen").toString + "/t"
    Seq((1, 1.5f)).toDF("i", "f").createOrReplaceTempView("widen_src")
    spark.sql(s"""CREATE TABLE sqlspec_widen USING graft LOCATION '$root' AS
      SELECT * FROM widen_src""")
    spark.sql("ALTER TABLE sqlspec_widen ALTER COLUMN i TYPE BIGINT")
    spark.sql("ALTER TABLE sqlspec_widen ALTER COLUMN f SET DATA TYPE DOUBLE")
    // the published view reads the widened schema
    val sch = spark.table("sqlspec_widen").schema
    assert(sch("i").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("f").dataType == org.apache.spark.sql.types.DoubleType)
    // DESCRIBE COLUMNS surfaces the widened types
    val desc = spark.sql("DESCRIBE COLUMNS sqlspec_widen").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("i") == "BIGINT" && desc("f") == "DOUBLE", desc.toString)
    // inserts through SQL land as the wide type; narrowing refused
    spark.sql("INSERT INTO sqlspec_widen VALUES (9000000000, 2.5)")
    assert(spark.table("sqlspec_widen").as[(Long, Double)].collect().toSet ==
      Set((1L, 1.5), (9000000000L, 2.5)))
    val nr = intercept[Exception](spark.sql(
      "ALTER TABLE sqlspec_widen ALTER COLUMN i TYPE INT"))
    assert(nr.getMessage.contains("only widens"))
    spark.sql("DROP TABLE sqlspec_widen")
  }

  test("ADD IDENTITY + INSERT route ids through the watermark; OVERWRITE refused") {
    val root = Files.createTempDirectory("graft_sql_ident").toString + "/t"
    graft.sources.Tables.registerAll(spark, sf)
    spark.sql(s"""CREATE TABLE sqlspec_ident USING graft LOCATION '$root' AS
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 0""")
    spark.sql("ALTER TABLE sqlspec_ident ADD IDENTITY rid ORDER BY o_orderkey")
    spark.sql("""INSERT INTO sqlspec_ident
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey >= 10 AND o_orderkey < 13""")
    spark.sql("""INSERT INTO sqlspec_ident
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 2""")
    // batch 1: keys 10,11,12 -> rids 1,2,3; batch 2 continues: 0,1 -> 4,5
    val got = spark.sql(
      "SELECT rid, o_orderkey FROM sqlspec_ident ORDER BY rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 0L), (5L, 1L)),
      s"got $got")
    val e = intercept[Exception](spark.sql(
      "INSERT OVERWRITE sqlspec_ident SELECT o_orderkey, o_totalprice, 1 FROM orders LIMIT 1"))
    assert(e.getMessage.contains("identity"), e.getMessage)
    spark.sql("DROP TABLE sqlspec_ident")
  }

  test("foreign table-valued reads: delta_export / iceberg_export / table_changes / iceberg_changelog by quoted path") {
    import spark.implicits._
    import graft.sources.IcebergMeta
    val root = Files.createTempDirectory("graft_sql_foreign").toString + "/t"
    LakehouseTable.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), root)
    LakehouseTable.enableChangeDataFeed(spark, root, Seq("id"))
    LakehouseTable.exportDeltaLog(spark, root)
    IcebergMeta.exportIcebergMeta(spark, root)
    LakehouseTable.deleteWhere(spark, root, "id = 2") // v2: COW delete w/ cdc

    // snapshot reads, both faces, NO registration — purely by path
    assert(spark.sql(s"SELECT count(*) AS n FROM delta_export('$root')")
      .head().getLong(0) == 2)
    assert(spark.sql(s"SELECT count(*) AS n FROM iceberg_export('$root')")
      .head().getLong(0) == 2)
    // version pin: the pre-delete state (delta log v1 = the CDF-enable
    // commit; iceberg snapshot = sequence 2's deterministic id)
    assert(spark.sql(s"SELECT count(*) AS n FROM delta_export('$root', 1)")
      .head().getLong(0) == 3)
    val preSnap = IcebergMeta.snapshots(root).find(_.seq == 2L).get.id
    assert(spark.sql(
      s"SELECT count(*) AS n FROM iceberg_export('$root', $preSnap)")
      .head().getLong(0) == 3)
    // foreign Delta CDF by path
    val ch = spark.sql(
      s"""SELECT _change_type, id, _commit_version
          FROM table_changes('$root', 2, 2) ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ch == Seq(("delete", 2L, 2L)), ch.toString)
    // Iceberg changelog by path (sequence range; delete lands at seq 3)
    val ich = spark.sql(
      s"""SELECT _change_type, id, _sequence_number
          FROM iceberg_changelog('$root', 2, 3, 'id') ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ich == Seq(("delete", 2L, 3L)), ich.toString)
    // the extension-less entry point lowers identically
    assert(graft.sql.GraftSql.sql(spark,
        s"SELECT count(*) AS n FROM delta_export('$root')")
      .head().getLong(0) == 2)
    // a path inside a plain string literal is DATA, never rewritten
    val litRow = spark.sql(s"SELECT 'delta_export(''x'')' AS s").head()
    assert(litRow.getString(0) == "delta_export('x')")
  }

  test("_where TVFs plan the scan from format metadata (pruned foreign reads from SQL)") {
    import spark.implicits._
    import graft.sources.IcebergMeta
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_sql_where").toString + "/t"
    LakehouseTable.create(
      (1L to 200L).map(i => (i, if (i <= 100) "a" else "b")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"), root)
    LakehouseTable.exportDeltaLog(spark, root)
    IcebergMeta.exportIcebergMeta(spark, root)
    // the predicate is ONE quoted literal whose own string literals
    // arrive SQL-doubled ('' → ') — exercised on both faces
    val ice = spark.sql(s"SELECT id FROM iceberg_export_where(" +
      s"'$root', 'id <= 20 AND v = ''a''')")
    assert(ice.count() == 20)
    assert(ice.inputFiles.length == 1,
      s"manifest bounds should plan ONE file: ${ice.inputFiles.toSeq}")
    val de = spark.sql(s"SELECT id FROM delta_export_where(" +
      s"'$root', 'id <= 20')")
    assert(de.count() == 20)
    assert(de.inputFiles.length == 1,
      s"log stats should plan ONE file: ${de.inputFiles.toSeq}")
    // Spark's default lexer backslash-escapes inner quotes — the
    // predicate must unescape that style too, not just '' doubling
    val bs = spark.sql("SELECT id FROM iceberg_export_where(" +
      s"'$root', 'id <= 20 AND v = \\'a\\'')")
    assert(bs.count() == 20, "backslash-escaped predicate literal")
    // unknown column refuses through the SQL face too
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"SELECT * FROM iceberg_export_where('$root', 'nope = 1')")
    }
    assert(e.getMessage.contains("not in the table schema"), e.getMessage)
  }

  test("changelog TVFs: timestamp bounds and manifest-defaulted keys") {
    import spark.implicits._
    import graft.sources.IcebergMeta
    val root = Files.createTempDirectory("graft_sql_tvf_ts").toString + "/t"
    LakehouseTable.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), root)
    LakehouseTable.enableChangeDataFeed(spark, root, Seq("id"))
    LakehouseTable.exportDeltaLog(spark, root)
    IcebergMeta.exportIcebergMeta(spark, root)
    LakehouseTable.deleteWhere(spark, root, "id = 2") // v2 / sequence 3
    def utc(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val tsV2 = LakehouseTable.deltaCommitTsAt(root, 2L).get
    val tsEnd = utc(System.currentTimeMillis() + 3600000L)
    // timestamp range over the exported Delta log: start = first commit
    // at/after the delete's stamp, end = latest at/before now+1h
    val ch = spark.sql(
      s"""SELECT _change_type, id FROM
          table_changes('$root', '${utc(tsV2)}', '$tsEnd') ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch == Seq(("delete", 2L)), ch.toString)
    // mixed numeric + timestamp bounds lower identically
    val chMix = spark.sql(
      s"""SELECT _change_type, id FROM
          table_changes('$root', 2, '$tsEnd') ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(chMix == Seq(("delete", 2L)), chMix.toString)
    // a start timestamp past the log tip refuses, never serves empty
    val exTs = intercept[IllegalArgumentException](spark.sql(
      s"SELECT * FROM table_changes('$root', '$tsEnd', '$tsEnd')"))
    assert(exTs.getMessage.contains("after the log's latest commit"),
      exTs.getMessage)
    // iceberg_changelog timestamp bounds resolve through the chain's
    // own snapshot stamps; keys OMITTED default from the graft
    // manifest's cdf field (enableChangeDataFeed recorded 'id')
    val delSnap = IcebergMeta.snapshots(root).maxBy(_.seq)
    val ich = spark.sql(
      s"""SELECT _change_type, id, _sequence_number FROM
          iceberg_changelog('$root', '${utc(delSnap.ts)}', '$tsEnd')
          ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ich == Seq(("delete", 2L, 3L)), ich.toString)
    val ich3 = spark.sql(
      s"""SELECT _change_type, id FROM iceberg_changelog('$root', 2, 3)
          ORDER BY id""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ich3 == Seq(("delete", 2L)), ich3.toString)
  }

  test("foreign-path DML: INSERT INTO / DELETE FROM / UPDATE a quoted path, both faces") {
    import spark.implicits._
    import graft.sources.IcebergMeta
    def wipe(p: java.nio.file.Path): Unit = {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { Files.deleteIfExists(x); () })
      finally w.close()
    }
    // Delta face: a genuinely foreign log driven purely from SQL
    val droot = Files.createTempDirectory("graft_sql_fdml").toString + "/d"
    LakehouseTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), droot)
    LakehouseTable.exportDeltaLog(spark, droot)
    wipe(java.nio.file.Paths.get(droot, "_manifest"))
    spark.sql(s"INSERT INTO delta_export('$droot') SELECT 3L AS k, 30L AS v")
    spark.sql(s"UPDATE delta_export('$droot') SET v = v + 1 WHERE k = 2")
    spark.sql(s"DELETE FROM delta_export('$droot') WHERE k = 1")
    val d = spark.sql(s"SELECT k, v FROM delta_export('$droot') ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(d == Seq((2L, 21L), (3L, 30L)), d.toString)

    // Iceberg face: append + MOR update + MOR delete by path
    val iroot = Files.createTempDirectory("graft_sql_fdml").toString + "/i"
    LakehouseTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), iroot)
    IcebergMeta.exportIcebergMeta(spark, iroot)
    wipe(java.nio.file.Paths.get(iroot, "_manifest"))
    spark.sql(s"INSERT INTO iceberg_export('$iroot') SELECT 3L AS k, 30L AS v")
    spark.sql(s"UPDATE iceberg_export('$iroot') SET v = v + 1 WHERE k = 2")
    spark.sql(s"DELETE FROM iceberg_export('$iroot') WHERE k = 1")
    val i = spark.sql(s"SELECT k, v FROM iceberg_export('$iroot') ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(i == Seq((2L, 21L), (3L, 30L)), i.toString)

    // a predicate literal with a quote inside survives the mask round
    // trip into the foreign writer
    spark.sql(s"INSERT INTO delta_export('$droot') SELECT 4L AS k, 40L AS v")
    spark.sql(s"DELETE FROM delta_export('$droot') WHERE k = 4 AND 'a''b' = 'a''b'")
    assert(spark.sql(s"SELECT count(*) AS n FROM delta_export('$droot')")
      .head().getLong(0) == 2)

    // duplicate SET assignments refuse instead of silently keeping the
    // last one (toMap would collapse them)
    val exDup = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE delta_export('$droot') SET v = 1, v = 2 WHERE k = 2")
    }
    assert(exDup.getMessage.contains("duplicate SET"), exDup.getMessage)

    // a subquery WHERE inside a SET expression must not capture the
    // statement's own WHERE (top-depth split, not a lazy regex)
    spark.sql(s"UPDATE delta_export('$droot') SET v = " +
      s"(SELECT max(x) FROM VALUES (100L) t(x) WHERE x > 0) WHERE k = 2")
    assert(spark.sql(
      s"SELECT v FROM delta_export('$droot') WHERE k = 2")
      .head().getLong(0) == 100L)
  }

  test("foreign-path MERGE: the upsert statement on a quoted path, both faces") {
    import spark.implicits._
    import graft.sources.IcebergMeta
    def wipe(p: java.nio.file.Path): Unit = {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { Files.deleteIfExists(x); () })
      finally w.close()
    }
    // Delta face: update + insert through one MERGE statement
    val droot = Files.createTempDirectory("graft_sql_fmerge").toString + "/d"
    LakehouseTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), droot)
    LakehouseTable.exportDeltaLog(spark, droot)
    wipe(java.nio.file.Paths.get(droot, "_manifest"))
    spark.sql(s"""MERGE INTO delta_export('$droot') AS t USING (
        SELECT 2L AS k, 200L AS v UNION ALL SELECT 3L AS k, 30L AS v) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val d = spark.sql(s"SELECT k, v FROM delta_export('$droot') ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(d == Seq((1L, 10L), (2L, 200L), (3L, 30L)), d.toString)

    // Iceberg face, with the matched-DELETE clause: the source row
    // with v < 0 removes its target, the rest upsert
    val iroot = Files.createTempDirectory("graft_sql_fmerge").toString + "/i"
    LakehouseTable.create(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1), iroot)
    IcebergMeta.exportIcebergMeta(spark, iroot)
    wipe(java.nio.file.Paths.get(iroot, "_manifest"))
    spark.sql(s"""MERGE INTO iceberg_export('$iroot') AS t USING (
        SELECT 1L AS k, -1L AS v UNION ALL SELECT 2L AS k, 200L AS v
        UNION ALL SELECT 3L AS k, 30L AS v) AS s
      ON t.k = s.k
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val i = spark.sql(s"SELECT k, v FROM iceberg_export('$iroot') ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(i == Seq((2L, 200L), (3L, 30L)), i.toString)

    // a NULL matched-DELETE condition is FALSE per MERGE semantics:
    // the row falls through to the UPDATE clause, never vanishes
    spark.sql(s"""MERGE INTO iceberg_export('$iroot') AS t USING (
        SELECT 2L AS k, CAST(NULL AS BIGINT) AS v) AS s
      ON t.k = s.k
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val iNull = spark.sql(
      s"SELECT k, v FROM iceberg_export('$iroot') ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq
    assert(iNull == Seq((2L, None), (3L, Some(30L))), iNull.toString)

    // a missing target alias refuses loudly (the TVF target has no
    // name the ON clause could reference)
    val exAlias = intercept[IllegalArgumentException] {
      spark.sql(s"""MERGE INTO delta_export('$droot') USING (
          SELECT 9L AS k, 90L AS v) AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(exAlias.getMessage.contains("target alias"), exAlias.getMessage)
  }
}
