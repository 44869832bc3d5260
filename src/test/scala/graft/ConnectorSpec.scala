package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end SQL over the DSv2 catalog: DDL, INSERT, SELECT with
  * pushed filters, additive evolution, rename, drop — the Iceberg-shape
  * integration surface.
  */
class ConnectorSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("CREATE TABLE + INSERT + SELECT round-trips through SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns1")
    spark.sql("CREATE TABLE graft.ns1.users (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.ns1.users VALUES (1, 'ada'), (2, 'alan')")
    spark.sql("INSERT INTO graft.ns1.users VALUES (3, 'edsger')")
    val rows = spark.sql("SELECT id, name FROM graft.ns1.users ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    rows shouldBe Seq((1L, "ada"), (2L, "alan"), (3L, "edsger"))
    // two INSERTs after the create commit -> 3 snapshots
    spark.sql("SELECT COUNT(*) FROM graft.ns1.users").head.getLong(0) shouldBe 3
  }

  test("partitioned DDL maps the transform; filters prune and stay correct") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns2")
    spark.sql(
      """CREATE TABLE graft.ns2.events_t (id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE)
        |PARTITIONED BY (month(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ns2.events_t VALUES
        |(1, TIMESTAMP_NTZ '2024-01-05 10:00:00', 1.0),
        |(2, TIMESTAMP_NTZ '2024-02-10 11:00:00', 2.0),
        |(3, TIMESTAMP_NTZ '2024-02-20 12:00:00', 3.0)""".stripMargin)
    val feb = spark.sql(
      "SELECT id FROM graft.ns2.events_t WHERE ts >= TIMESTAMP_NTZ '2024-02-01 00:00:00' ORDER BY id")
    feb.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L, 3L)
    // file-level pruning observable through the catalog-side planner
    import graft.table.{GraftCatalog, TableIdent}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(TableIdent("ns2", "events_t"))
    val total = tbl.currentOrFail().files.size
    tbl.prunedFiles("ts >= TIMESTAMP_NTZ'2024-02-01 00:00:00'").size should be < total
  }

  test("INSERT OVERWRITE truncates; ALTER TABLE ADD COLUMN evolves additively") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns3")
    spark.sql("CREATE TABLE graft.ns3.t (id BIGINT)")
    spark.sql("INSERT INTO graft.ns3.t VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE graft.ns3.t VALUES (10)")
    spark.sql("SELECT COUNT(*) FROM graft.ns3.t").head.getLong(0) shouldBe 1
    spark.sql("ALTER TABLE graft.ns3.t ADD COLUMN label STRING")
    spark.sql("INSERT INTO graft.ns3.t VALUES (11, 'x')")
    val got = spark.sql("SELECT id, label FROM graft.ns3.t ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    got shouldBe Seq((10L, None), (11L, Some("x"))) // old rows null-filled
  }

  test("INSERT OVERWRITE in dynamic mode replaces only the written partitions") {
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsdyn")
    spark.sql(
      """CREATE TABLE graft.nsdyn.m (id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE)
        |PARTITIONED BY (month(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsdyn.m VALUES
        |(1, TIMESTAMP_NTZ '2024-01-05 10:00:00', 1.0),
        |(2, TIMESTAMP_NTZ '2024-02-10 11:00:00', 2.0),
        |(3, TIMESTAMP_NTZ '2024-02-20 12:00:00', 3.0)""".stripMargin)
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(TableIdent("nsdyn", "m"))
    val before = tbl.currentOrFail().files.map(_.path).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql(
        "INSERT OVERWRITE graft.nsdyn.m VALUES (20, TIMESTAMP_NTZ '2024-02-15 09:00:00', 20.0)")
    finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      v => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v))
    val after = tbl.currentOrFail().files.map(_.path).toSet
    (before intersect after) should not be empty // January carried verbatim
    before.subsetOf(after) shouldBe false        // February replaced
    spark.sql("SELECT id, v FROM graft.nsdyn.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe
      Seq((1L, 1.0), (20L, 20.0))
    // static mode (the default) still truncates the whole table
    spark.sql(
      "INSERT OVERWRITE graft.nsdyn.m VALUES (9, TIMESTAMP_NTZ '2024-03-01 08:00:00', 9.0)")
    spark.sql("SELECT COUNT(*) FROM graft.nsdyn.m").head.getLong(0) shouldBe 1
  }

  test("writeTo(...).overwritePartitions() is dynamic overwrite regardless of the conf") {
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsdyn")
    spark.sql(
      """CREATE TABLE graft.nsdyn.w (id BIGINT, day STRING, v DOUBLE)
        |PARTITIONED BY (day)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsdyn.w VALUES
        |(1, 'mon', 1.0), (2, 'tue', 2.0), (3, 'tue', 3.0)""".stripMargin)
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(TableIdent("nsdyn", "w"))
    val before = tbl.currentOrFail().files.map(_.path).toSet
    import spark.implicits._
    Seq((22L, "tue", 22.0)).toDF("id", "day", "v")
      .writeTo("graft.nsdyn.w").overwritePartitions()
    val after = tbl.currentOrFail().files.map(_.path).toSet
    (before intersect after) should not be empty
    before.subsetOf(after) shouldBe false
    spark.sql("SELECT id, v FROM graft.nsdyn.w ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe
      Seq((1L, 1.0), (22L, 22.0))
  }

  test("SQL views: create, read, alias, replace, show, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsv")
    spark.sql("CREATE TABLE graft.nsv.t (id BIGINT, k STRING, v DOUBLE)")
    spark.sql(
      """INSERT INTO graft.nsv.t VALUES
        |(1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0), (4, 'b', 4.0)""".stripMargin)
    spark.sql(
      """CREATE VIEW graft.nsv.by_k (grp, total) AS
        |SELECT k, SUM(v) FROM graft.nsv.t GROUP BY k""".stripMargin)
    spark.sql("SELECT grp, total FROM graft.nsv.by_k ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq shouldBe
      Seq(("a", 4.0), ("b", 6.0))
    // views see writes made AFTER creation (a view is a query, not data)
    spark.sql("INSERT INTO graft.nsv.t VALUES (5, 'a', 10.0)")
    spark.sql("SELECT total FROM graft.nsv.by_k WHERE grp = 'a'")
      .head.getDouble(0) shouldBe 14.0
    // views compose with tables in joins and subqueries
    spark.sql(
      """SELECT t.id FROM graft.nsv.t t
        |JOIN graft.nsv.by_k v ON t.k = v.grp WHERE v.total > 10 ORDER BY t.id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L, 5L)
    // SHOW VIEWS lists it; pattern filters
    spark.sql("SHOW VIEWS IN graft.nsv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq shouldBe
      Seq(("nsv", "by_k", false))
    spark.sql("SHOW VIEWS IN graft.nsv LIKE 'zzz*'").count() shouldBe 0
    // OR REPLACE swaps the definition
    spark.sql("CREATE OR REPLACE VIEW graft.nsv.by_k AS SELECT id FROM graft.nsv.t")
    spark.table("graft.nsv.by_k").columns.toSeq shouldBe Seq("id")
    // IF NOT EXISTS no-ops on an existing view
    spark.sql("CREATE VIEW IF NOT EXISTS graft.nsv.by_k AS SELECT k FROM graft.nsv.t")
    spark.table("graft.nsv.by_k").columns.toSeq shouldBe Seq("id")
    // plain CREATE on an existing view errors
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.nsv.by_k AS SELECT k FROM graft.nsv.t")
    }
    spark.sql("DROP VIEW graft.nsv.by_k")
    spark.sql("SHOW VIEWS IN graft.nsv").count() shouldBe 0
    intercept[Exception] { spark.sql("DROP VIEW graft.nsv.by_k") }
    spark.sql("DROP VIEW IF EXISTS graft.nsv.by_k") // no-op, no error
  }

  test("SQL views: stored resolution context, nesting, cycles, hygiene") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsv2")
    spark.sql("CREATE TABLE graft.nsv2.base (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nsv2.base VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    // view created with UNQUALIFIED table names under USE — the stored
    // context re-qualifies them on every later read
    spark.sql("USE graft.nsv2")
    try {
      spark.sql("CREATE VIEW v1 AS SELECT id, v FROM base WHERE v >= 2.0")
      // a CTE named like a real table must stay a CTE inside the view
      spark.sql(
        """CREATE VIEW v2 AS
          |WITH base AS (SELECT id * 10 AS id FROM v1)
          |SELECT id FROM base""".stripMargin)
    } finally spark.sql("USE spark_catalog.default")
    spark.sql("SELECT id FROM graft.nsv2.v1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L, 3L)
    spark.sql("SELECT id FROM graft.nsv2.v2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(20L, 30L)
    // a second catalog instance (fresh session handle) reads the same
    // stored definitions — persistence, not session state
    val s2 = spark.newSession()
    s2.sql("SELECT COUNT(*) FROM graft.nsv2.v2").head.getLong(0) shouldBe 2
    // name collisions refused both ways
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.nsv2.base AS SELECT 1 AS one")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.nsv2.v1 (x INT)")
    }
    // persistent views cannot capture temp views
    spark.range(3).createOrReplaceTempView("nsv2_tmp")
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.nsv2.leaky AS SELECT * FROM nsv2_tmp")
    }
    // cycles fail loudly: v3 -> v4 -> v3
    spark.sql("CREATE VIEW graft.nsv2.v3 AS SELECT id FROM graft.nsv2.v1")
    spark.sql("CREATE OR REPLACE VIEW graft.nsv2.v4 AS SELECT id FROM graft.nsv2.v3")
    spark.sql("CREATE OR REPLACE VIEW graft.nsv2.v3 AS SELECT id FROM graft.nsv2.v4")
    val cycle = intercept[Exception] {
      spark.sql("SELECT * FROM graft.nsv2.v3").collect()
    }
    cycle.getMessage should include("cyclic view reference")
    // BINDING/COMPENSATION schema enforcement: the stored schema
    // survives an underlying widening as an UpCast; dropping the column
    // the view needs fails loudly
    spark.sql("CREATE VIEW graft.nsv2.vs AS SELECT id, v FROM graft.nsv2.base")
    spark.sql("ALTER TABLE graft.nsv2.base ADD COLUMN extra STRING")
    spark.table("graft.nsv2.vs").columns.toSeq shouldBe Seq("id", "v") // no leak
    spark.sql("ALTER TABLE graft.nsv2.base DROP COLUMN v")
    intercept[Exception] { spark.sql("SELECT * FROM graft.nsv2.vs").collect() }
  }

  test("SQL views: ALTER AS, properties, rename, describe") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsv3")
    spark.sql("CREATE TABLE graft.nsv3.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nsv3.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(
      """CREATE VIEW graft.nsv3.w (ident COMMENT 'the id')
        |TBLPROPERTIES ('team' = 'data')
        |AS SELECT id FROM graft.nsv3.t""".stripMargin)
    // DESCRIBE shows the stored schema + column comment
    val desc = spark.sql("DESCRIBE graft.nsv3.w").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    desc shouldBe Seq(("ident", "bigint", "the id"))
    val ext = spark.sql("DESCRIBE EXTENDED graft.nsv3.w").collect()
      .map(_.getString(0)).toSeq
    ext should contain("View Text")
    // ALTER VIEW AS replaces the definition, keeps properties
    spark.sql("ALTER VIEW graft.nsv3.w AS SELECT id, v FROM graft.nsv3.t")
    spark.table("graft.nsv3.w").columns.toSeq shouldBe Seq("id", "v")
    // SET/UNSET TBLPROPERTIES round-trip through DESCRIBE EXTENDED
    spark.sql("ALTER VIEW graft.nsv3.w SET TBLPROPERTIES ('steward' = 'me')")
    spark.sql("ALTER VIEW graft.nsv3.w UNSET TBLPROPERTIES ('team')")
    val props = spark.sql("DESCRIBE EXTENDED graft.nsv3.w").collect()
      .find(_.getString(0) == "Properties").get.getString(1)
    props should include("steward=me")
    props should not include "team"
    intercept[Exception] {
      spark.sql("ALTER VIEW graft.nsv3.w UNSET TBLPROPERTIES ('nope')")
    }
    spark.sql("ALTER VIEW graft.nsv3.w UNSET TBLPROPERTIES IF EXISTS ('nope')")
    // RENAME moves the stored definition; old name gone, new reads
    spark.sql("ALTER VIEW graft.nsv3.w RENAME TO w2")
    spark.sql("SHOW VIEWS IN graft.nsv3").collect().map(_.getString(1)).toSeq shouldBe Seq("w2")
    spark.sql("SELECT COUNT(*) FROM graft.nsv3.w2").head.getLong(0) shouldBe 2
    intercept[Exception] { spark.sql("SELECT * FROM graft.nsv3.w").collect() }
    spark.sql("DROP VIEW graft.nsv3.w2")
  }

  test("SHOW CREATE TABLE reproduces DDL for graft tables and views") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsv4")
    spark.sql("CREATE TABLE graft.nsv4.t (id BIGINT, v DOUBLE)")
    val tableDdl = spark.sql("SHOW CREATE TABLE graft.nsv4.t").head.getString(0)
    tableDdl should include("CREATE TABLE")
    tableDdl should include("id BIGINT")
    spark.sql(
      """CREATE VIEW graft.nsv4.w (a COMMENT 'x', b)
        |TBLPROPERTIES ('team' = 'data')
        |AS SELECT id, v FROM graft.nsv4.t""".stripMargin)
    val viewDdl = spark.sql("SHOW CREATE TABLE graft.nsv4.w").head.getString(0)
    viewDdl should include("CREATE VIEW graft.nsv4.w")
    viewDdl should include("`a` COMMENT 'x', `b`")
    viewDdl should include("'team' = 'data'")
    viewDdl should include("AS\nSELECT id, v FROM graft.nsv4.t")
    spark.sql("DROP VIEW graft.nsv4.w")
  }

  test("materialized views: incremental refresh tracks inserts, deletes, upserts") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("CREATE TABLE graft.mv.sales (id BIGINT, region STRING, amount DOUBLE)")
    spark.sql(
      """INSERT INTO graft.mv.sales VALUES
        |(1, 'east', 10.0), (2, 'east', 20.0), (3, 'west', 5.0),
        |(4, 'west', 7.0), (5, 'north', 100.0)""".stripMargin)
    val created = spark.sql(
      """CALL graft.system.create_mview('mv', 'by_region',
        |  'SELECT region, SUM(amount) AS total, COUNT(*) AS n
        |   FROM graft.mv.sales WHERE amount > 1.0 GROUP BY region')""".stripMargin)
      .head
    created.getString(0) shouldBe "incremental"

    def viaView: Map[String, (Double, Long)] =
      spark.sql("SELECT region, total, n FROM graft.mv.by_region").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def inline: Map[String, (Double, Long)] =
      spark.sql(
        """SELECT region, SUM(amount), COUNT(*) FROM graft.mv.sales
          |WHERE amount > 1.0 GROUP BY region""".stripMargin).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap

    viaView shouldBe inline
    viaView("east") shouldBe ((30.0, 2L))

    // inserts + a keyed delete + an upsert, then one incremental refresh
    spark.sql("INSERT INTO graft.mv.sales VALUES (6, 'east', 40.0), (7, 'south', 1.5)")
    spark.sql("DELETE FROM graft.mv.sales WHERE id = 3")
    spark.sql(
      """MERGE INTO graft.mv.sales t USING (SELECT 4 AS id, 'west' AS region, 70.0 AS amount) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // remove the 'north' group entirely: it must VANISH from the MV
    spark.sql("DELETE FROM graft.mv.sales WHERE region = 'north'")

    val r1 = spark.sql("CALL graft.system.refresh_mview('mv', 'by_region', false)").head
    r1.getString(2) shouldBe "incremental"
    viaView shouldBe inline
    viaView.keySet should not contain "north"
    viaView("west") shouldBe ((70.0, 1L))
    viaView("south") shouldBe ((1.5, 1L))

    // already-applied head: noop, marker untouched
    spark.sql("CALL graft.system.refresh_mview('mv', 'by_region', false)")
      .head.getString(2) shouldBe "noop"

    // a commit whose rows all miss the MV filter: marker advances,
    // aggregates unchanged
    spark.sql("INSERT INTO graft.mv.sales VALUES (8, 'east', 0.5)")
    spark.sql("CALL graft.system.refresh_mview('mv', 'by_region', false)")
      .head.getString(2) shouldBe "empty"
    viaView shouldBe inline

    // force_full rebuilds to the same state
    spark.sql("INSERT INTO graft.mv.sales VALUES (9, 'east', 3.0)")
    spark.sql("CALL graft.system.refresh_mview('mv', 'by_region', true)")
      .head.getString(2) shouldBe "full"
    viaView shouldBe inline

    spark.sql("CALL graft.system.drop_mview('mv', 'by_region')")
      .head.getBoolean(0) shouldBe true
    spark.sql("SHOW VIEWS IN graft.mv").count() shouldBe 0
    intercept[Exception] { spark.sql("SELECT * FROM graft.mv.by_region").collect() }
  }

  test("materialized views: merge-on-read source deletes retract through refresh") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv3")
    spark.sql(
      """CREATE TABLE graft.mv3.src (id BIGINT, g STRING, v DOUBLE)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    // ONE data file holding all four rows: a single-row delete then
    // cannot take the whole-file-drop fast path and must commit a
    // merge-on-read delete group
    locally {
      import spark.implicits._
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 4.0), (4L, "b", 8.0))
        .toDF("id", "g", "v").coalesce(1)
        .writeTo("graft.mv3.src").append()
    }
    spark.sql(
      """CALL graft.system.create_mview('mv3', 'm',
        |  'SELECT g, SUM(v) AS total, COUNT(*) AS n FROM graft.mv3.src GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    // a MoR delete commits a delete GROUP, zero files rewritten — the
    // changelog still serves its exact pre-image, so the MV retracts
    import graft.table.{GraftCatalog, TableIdent}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val src = cat.load(TableIdent("mv3", "src"))
    val filesBefore = src.currentOrFail().files.map(_.path).toSet
    spark.sql("DELETE FROM graft.mv3.src WHERE id = 2")
    src.currentOrFail().files.map(_.path).toSet shouldBe filesBefore // MoR: no rewrite
    src.currentOrFail().deleteGroups should not be empty
    spark.sql("CALL graft.system.refresh_mview('mv3', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT total, n FROM graft.mv3.m WHERE g = 'a'").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq shouldBe Seq((1.0, 1L))
    spark.sql("CALL graft.system.drop_mview('mv3', 'm')")
  }

  test("materialized views: an MV over a SQL VIEW maintains against the underlying table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvv")
    spark.sql("CREATE TABLE graft.mvv.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvv.src VALUES (1,'a',1.0), (2,'a',-9.0), (3,'b',4.0)")
    // view resolution expands at analysis time, so the MV's shape sees
    // the underlying scan + the view's WHERE — the staleness contract
    // binds to the TABLE's changelog
    spark.sql("CREATE VIEW graft.mvv.pos AS SELECT g, v FROM graft.mvv.src WHERE v > 0.0")
    spark.sql(
      """CALL graft.system.create_mview('mvv', 'm',
        |  'SELECT g, SUM(v) AS total, COUNT(*) AS n FROM graft.mvv.pos GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    spark.sql("INSERT INTO graft.mvv.src VALUES (4,'b',6.0), (5,'c',-1.0)")
    spark.sql("DELETE FROM graft.mvv.src WHERE id = 1")
    spark.sql("CALL graft.system.refresh_mview('mvv', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT g, total, n FROM graft.mvv.m ORDER BY g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq shouldBe
      Seq(("b", 10.0, 2L))
    spark.sql("CALL graft.system.drop_mview('mvv', 'm')")
    spark.sql("DROP VIEW graft.mvv.pos")
    spark.sql("DROP TABLE graft.mvv.src")
  }

  test("materialized views: an MV over another MV tracks the inner storage table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvm")
    spark.sql("CREATE TABLE graft.mvm.src (id BIGINT, g STRING, k STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvm.src VALUES " +
      "(1,'a','x',1.0), (2,'a','y',2.0), (3,'b','x',4.0), (4,'b','y',8.0)")
    // inner MV: per (g, k) sums
    spark.sql(
      """CALL graft.system.create_mview('mvm', 'inner_mv',
        |  'SELECT g, k, SUM(v) AS t FROM graft.mvm.src GROUP BY g, k')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    // outer MV reads the inner MV's PUBLIC VIEW — expansion inlines it
    // to the inner STORAGE table, so the outer maintains incrementally
    // from the inner storage's changelog (refresh inner, then outer)
    spark.sql(
      """CALL graft.system.create_mview('mvm', 'outer_mv',
        |  'SELECT g, SUM(t) AS tt, COUNT(*) AS nk FROM graft.mvm.inner_mv GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    def outer: Seq[(String, Double, Long)] =
      spark.sql("SELECT g, tt, nk FROM graft.mvm.outer_mv ORDER BY g").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    outer shouldBe Seq(("a", 3.0, 2L), ("b", 12.0, 2L))
    // source moves; cascade inner → outer
    spark.sql("INSERT INTO graft.mvm.src VALUES (5,'a','x',10.0), (6,'c','z',7.0)")
    spark.sql("DELETE FROM graft.mvm.src WHERE id = 3")
    spark.sql("CALL graft.system.refresh_mview('mvm', 'inner_mv', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("CALL graft.system.refresh_mview('mvm', 'outer_mv', false)")
      .head.getString(2) shouldBe "incremental"
    outer shouldBe Seq(("a", 13.0, 2L), ("b", 8.0, 1L), ("c", 7.0, 1L))
    // inner drop is refused while the outer still reads its storage?
    // (the storage is a plain graft table to the outer — dropping the
    // inner MV orphans the outer's source; the refusal is the DROP
    // order contract: outer first)
    spark.sql("CALL graft.system.drop_mview('mvm', 'outer_mv')")
    spark.sql("CALL graft.system.drop_mview('mvm', 'inner_mv')")
    spark.sql("DROP TABLE graft.mvm.src")
  }

  test("materialized views: a rolled-back fact forces a full re-pin, never a marker regress") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvrb")
    spark.sql("CREATE TABLE graft.mvrb.fact (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("CREATE TABLE graft.mvrb.dim (dg STRING, cat STRING)")
    spark.sql("INSERT INTO graft.mvrb.dim VALUES ('a','x'), ('b','y')")
    spark.sql("INSERT INTO graft.mvrb.fact VALUES (1,'a',1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvrb', 'm',
        |  'SELECT cat, SUM(v) AS t, COUNT(*) AS n
        |   FROM graft.mvrb.fact JOIN graft.mvrb.dim ON g = dg
        |   GROUP BY cat')""".stripMargin).head.getString(0) shouldBe "incremental"
    spark.sql("INSERT INTO graft.mvrb.fact VALUES (2,'b',2.0)")
    spark.sql("CALL graft.system.refresh_mview('mvrb', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val fact = cat.load(graft.table.TableIdent("mvrb", "fact"))
    val applied = fact.currentOrFail().version
    // rollback-as-COMMIT advances the version, so its re-add/remove
    // diff flows through the changelog and stays incremental + exact
    spark.sql(s"CALL graft.system.rollback_to_version('mvrb', 'fact', ${applied - 1})")
    spark.sql("INSERT INTO graft.mvrb.dim VALUES ('c','z')")
    spark.sql("CALL graft.system.refresh_mview('mvrb', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT cat, t, n FROM graft.mvrb.m ORDER BY cat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq shouldBe
      Seq(("x", 1.0, 1L))
    // an OUT-OF-BAND rewind (marker ahead of the source head — log
    // surgery, restored backup) has no forward slice: the refresh must
    // run one FULL re-pin, never an "incremental" that regresses the
    // marker over silently-kept rows
    val storage = cat.load(graft.table.TableIdent("mvrb", "m__rows"))
    storage.updateProperties(Map(
      "graft.mview.applied-version" ->
        (fact.currentOrFail().version + 5).toString))
    spark.sql("INSERT INTO graft.mvrb.fact VALUES (7,'c',3.0)")
    spark.sql("CALL graft.system.refresh_mview('mvrb', 'm', false)")
      .head.getString(2) shouldBe "full"
    spark.sql("SELECT cat, t, n FROM graft.mvrb.m ORDER BY cat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq shouldBe
      Seq(("x", 1.0, 1L), ("z", 3.0, 1L))
    spark.sql("CALL graft.system.drop_mview('mvrb', 'm')")
    spark.sql("DROP TABLE graft.mvrb.fact")
    spark.sql("DROP TABLE graft.mvrb.dim")
  }

  test("materialized views: source compaction refreshes as a metadata-only empty") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvc")
    spark.sql("CREATE TABLE graft.mvc.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvc.src VALUES (1,'a',1.0), (2,'b',2.0)")
    spark.sql("INSERT INTO graft.mvc.src VALUES (3,'a',4.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvc', 'm',
        |  'SELECT g, SUM(v) AS t, COUNT(DISTINCT v) AS dv
        |   FROM graft.mvc.src GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    // compaction rewrites every file without changing a visible row —
    // the refresh must consume it as an EMPTY slice (marker-only
    // advance), never replay O(table) churn through the merge
    spark.sql("CALL graft.system.compact('mvc', 'src', 1)")
    spark.sql("CALL graft.system.refresh_mview('mvc', 'm', false)")
      .head.getString(2) shouldBe "empty"
    // mixed window: compaction + a real append — the data commits
    // still flow, and results match a fresh recompute
    spark.sql("INSERT INTO graft.mvc.src VALUES (4,'b',8.0), (5,'b',2.0)")
    spark.sql("CALL graft.system.compact('mvc', 'src', 1)")
    spark.sql("CALL graft.system.refresh_mview('mvc', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT g, t, dv FROM graft.mvc.m ORDER BY g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", 5.0, 2L), ("b", 12.0, 2L))
    spark.sql("CALL graft.system.drop_mview('mvc', 'm')")
    spark.sql("DROP TABLE graft.mvc.src")
  }

  test("materialized views: source column rename is refused while referenced") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv4")
    spark.sql("CREATE TABLE graft.mv4.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mv4.src VALUES (1, 'a', 1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mv4', 'm',
        |  'SELECT g, SUM(v) AS total FROM graft.mv4.src GROUP BY g')""".stripMargin)
    // round-16: the DDL itself is refused BY NAME while the MV's pinned
    // SQL references the column — never a raw analysis error at the
    // NEXT refresh (the pre-r16 failure mode this test used to pin)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.mv4.src RENAME COLUMN v TO amount")
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    msg should include("mv4.m")
    msg should include("drop_mview")
    // the MV is untouched and keeps maintaining incrementally
    spark.sql("INSERT INTO graft.mv4.src VALUES (2, 'a', 2.0)")
    spark.sql("CALL graft.system.refresh_mview('mv4', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT total FROM graft.mv4.m WHERE g = 'a'")
      .head.getDouble(0) shouldBe 3.0
    spark.sql("CALL graft.system.drop_mview('mv4', 'm')")
    spark.sql("ALTER TABLE graft.mv4.src RENAME COLUMN v TO amount")
    spark.sql("SELECT SUM(amount) FROM graft.mv4.src")
      .head.getDouble(0) shouldBe 3.0
  }

  test("materialized views: expired source changelog names the force_full remedy") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv5")
    spark.sql("CREATE TABLE graft.mv5.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mv5.src VALUES (1, 'a', 1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mv5', 'm',
        |'SELECT g, SUM(v) AS total FROM graft.mv5.src GROUP BY g')""".stripMargin)
    spark.sql("INSERT INTO graft.mv5.src VALUES (2, 'b', 2.0)")
    spark.sql("INSERT INTO graft.mv5.src VALUES (3, 'b', 4.0)")
    // round 18: the expire that would strand the marker now REFUSES up
    // front, naming the MV — the proactive guard
    val eg = intercept[Exception] {
      spark.sql("CALL graft.system.expire_snapshots('mv5', 'src', 1)")
    }
    eg.getMessage should include("mv5.m")
    // the changelogGone remedy path remains as defense-in-depth for
    // OUT-OF-BAND states the guard cannot see: refresh to the head,
    // expire legitimately, then rewind the marker behind the expired
    // range (storage surgery) — replay is impossible and the error
    // names force_full
    spark.sql("CALL graft.system.refresh_mview('mv5', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("CALL graft.system.expire_snapshots('mv5', 'src', 1)")
      .head.getInt(0) should be > 0
    locally {
      import graft.table.{GraftCatalog, TableIdent}
      val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
      cat.load(TableIdent("mv5", "m__rows"))
        .updateProperties(Map("graft.mview.applied-version" -> "1"))
    }
    spark.sql("INSERT INTO graft.mv5.src VALUES (9, 'z', 0.5)")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.refresh_mview('mv5', 'm', false)")
    }
    e.getMessage should include("force_full")
    spark.sql("CALL graft.system.refresh_mview('mv5', 'm', true)")
      .head.getString(2) shouldBe "full"
    spark.sql("SELECT total FROM graft.mv5.m WHERE g = 'b'").head.getDouble(0) shouldBe 6.0
    // incremental maintenance resumes from the rebuilt marker
    spark.sql("INSERT INTO graft.mv5.src VALUES (4, 'b', 10.0)")
    spark.sql("CALL graft.system.refresh_mview('mv5', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT total FROM graft.mv5.m WHERE g = 'b'").head.getDouble(0) shouldBe 16.0
    spark.sql("CALL graft.system.drop_mview('mv5', 'm')")

    import graft.table.{GraftCatalog, TableIdent}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    def rows(q: String): Seq[String] = spark.sql(q).collect().map(_.toString).toSeq.sorted
    // Strands one MV behind an expired changelog: refresh to the head,
    // expire, commit `move`, then rewind the pin property `pinProp` to
    // `stale` (storage surgery). The refresh must name force_full; a
    // forced rebuild equals the defining query and incremental
    // maintenance resumes.
    def stranded(mv: String, defSql: String, expireTbl: String, pinProp: String,
                 stale: String, move: String, next: String): Unit = withClue(s"$mv ") {
      spark.sql(s"CALL graft.system.refresh_mview('mv5', '$mv', false)")
      spark.sql(s"CALL graft.system.expire_snapshots('mv5', '$expireTbl', 1)")
        .head.getInt(0) should be > 0
      spark.sql(move)
      cat.load(TableIdent("mv5", mv + "__rows")).updateProperties(Map(pinProp -> stale))
      val e = intercept[Exception] {
        spark.sql(s"CALL graft.system.refresh_mview('mv5', '$mv', false)")
      }
      e.getMessage should include("force_full")
      spark.sql(s"CALL graft.system.refresh_mview('mv5', '$mv', true)")
        .head.getString(2) shouldBe "full"
      rows(s"SELECT * FROM graft.mv5.$mv") shouldBe rows(defSql)
      spark.sql(next)
      spark.sql(s"CALL graft.system.refresh_mview('mv5', '$mv', false)")
        .head.getString(2) shouldBe "incremental"
      rows(s"SELECT * FROM graft.mv5.$mv") shouldBe rows(defSql)
      spark.sql(s"CALL graft.system.drop_mview('mv5', '$mv')")
    }

    // a window MV whose source changelog was expired
    val winSql = """SELECT g, id, v, rn FROM (
                   |  SELECT g, id, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
                   |  FROM graft.mv5.src) WHERE rn <= 2""".stripMargin
    spark.sql(s"CALL graft.system.create_mview('mv5', 'w', '$winSql')")
      .head.getString(0) shouldBe "window"
    spark.sql("INSERT INTO graft.mv5.src VALUES (5, 'b', 7.0)")
    stranded("w", winSql, "src", "graft.mview.applied-version", "1",
      "INSERT INTO graft.mv5.src VALUES (6, 'z', 3.0)",
      "INSERT INTO graft.mv5.src VALUES (7, 'b', 9.0)")

    // a join MV whose dimension pin points behind an expired dim changelog
    spark.sql("CREATE TABLE graft.mv5.dim (dg STRING, cat STRING)")
    spark.sql("INSERT INTO graft.mv5.dim VALUES ('a', 'x'), ('b', 'y')")
    val dimV1 = cat.load(TableIdent("mv5", "dim")).currentOrFail().version
    val joinSql = """SELECT cat, SUM(v) AS t, COUNT(*) AS n
                    |FROM graft.mv5.src JOIN graft.mv5.dim ON g = dg GROUP BY cat""".stripMargin
    spark.sql(s"CALL graft.system.create_mview('mv5', 'j', '$joinSql')")
      .head.getString(0) shouldBe "incremental"
    spark.sql("INSERT INTO graft.mv5.dim VALUES ('z', 'y')")
    stranded("j", joinSql, "dim", "graft.mview.dim-versions",
      s"""[["mv5/dim","$dimV1"]]""",
      "INSERT INTO graft.mv5.dim VALUES ('c', 'w')",
      "INSERT INTO graft.mv5.src VALUES (8, 'c', 1.5)")
    // ... and the same stranded dim pin under a rank-over-join window MV
    val dimV2 = cat.load(TableIdent("mv5", "dim")).currentOrFail().version
    val winJoinSql = """SELECT cat, id, v, rn FROM (
                       |  SELECT cat, id, v, ROW_NUMBER() OVER (PARTITION BY cat ORDER BY v DESC, id) AS rn
                       |  FROM graft.mv5.src JOIN graft.mv5.dim ON g = dg) WHERE rn <= 2""".stripMargin
    spark.sql(s"CALL graft.system.create_mview('mv5', 'wj', '$winJoinSql')")
      .head.getString(0) shouldBe "window"
    spark.sql("INSERT INTO graft.mv5.dim VALUES ('d', 'x')")
    stranded("wj", winJoinSql, "dim", "graft.mview.dim-versions",
      s"""[["mv5/dim","$dimV2"]]""",
      "INSERT INTO graft.mv5.dim VALUES ('e', 'w')",
      "INSERT INTO graft.mv5.src VALUES (10, 'e', 2.5)")
    spark.sql("DROP TABLE graft.mv5.dim")
  }

  test("materialized views: a storage partition spec adds refresh pruning") {
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv7")
    spark.sql("CREATE TABLE graft.mv7.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql(
      """INSERT INTO graft.mv7.src VALUES
        |(1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0), (4, 'd', 4.0)""".stripMargin)
    spark.sql(
      """CALL graft.system.create_mview('mv7', 'm',
        |'SELECT g, SUM(v) AS t, COUNT(DISTINCT id) AS d, COUNT(*) AS n
        | FROM graft.mv7.src GROUP BY g',
        |'g')""".stripMargin).head.getString(0) shouldBe "incremental"
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val storage = cat.load(TableIdent("mv7", "m__rows"))
    storage.currentOrFail().partitionSpec shouldBe Some("g")
    // the dedup-level pair table inherits the spec: its keyed pair
    // merge prunes by the same group directories
    cat.load(TableIdent("mv7", "m__rows__dl1"))
      .currentOrFail().partitionSpec shouldBe Some("g")
    val before = storage.currentOrFail().files.map(_.path).toSet
    before.size should be >= 4 // one directory per group value
    // touch ONE group: only its partition's file may be replaced
    spark.sql("INSERT INTO graft.mv7.src VALUES (5, 'b', 20.0)")
    spark.sql("CALL graft.system.refresh_mview('mv7', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    val after = storage.currentOrFail().files.map(_.path).toSet
    (before intersect after).size shouldBe before.size - 1 // others carried
    spark.sql("SELECT t, d, n FROM graft.mv7.m WHERE g = 'b'").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq((22.0, 2L, 2L))
    spark.sql("CALL graft.system.drop_mview('mv7', 'm')")
  }

  test("materialized views: the storage layout of every aggregate kind is stable") {
    // Existing MVs keep refreshing only while create, full rebuild and
    // refresh agree with what is already on disk: the storage columns
    // (public, then hidden per aggregate, then _mv_rows), their types,
    // the recorded kind strings and the pair tables' columns.
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvlay")
    spark.sql("CREATE TABLE graft.mvlay.src (g STRING, v BIGINT, d DECIMAL(12,2))")
    spark.sql("INSERT INTO graft.mvlay.src VALUES ('a', 1, 1.50), ('a', 3, NULL), ('b', 2, 2.25)")
    spark.sql(
      """CALL graft.system.create_mview('mvlay', 'm',
        |'SELECT g, SUM(v) AS s, COUNT(v) AS c, COUNT(*) AS n, AVG(v) AS a,
        |  AVG(d) AS da, MIN(v) AS lo, MAX(v) AS hi, COUNT(DISTINCT v) AS cd,
        |  SUM(DISTINCT v) AS sd, AVG(DISTINCT v) AS ad, AVG(DISTINCT d) AS dad
        | FROM graft.mvlay.src GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    def layout(t: String): Seq[String] =
      cat.load(TableIdent("mvlay", t)).schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").toSeq
    val storageLayout = Seq(
      "g string", "s bigint", "c bigint", "n bigint", "a double", "da decimal(16,6)",
      "lo bigint", "hi bigint", "cd bigint", "sd bigint", "ad double", "dad decimal(16,6)",
      "_mv_nn_0 bigint", "_mv_as_3 double", "_mv_nn_3 bigint",
      "_mv_as_4 decimal(22,2)", "_mv_nn_4 bigint", "_mv_nn_8 bigint",
      "_mv_as_9 double", "_mv_nn_9 bigint", "_mv_as_10 decimal(22,2)", "_mv_nn_10 bigint",
      "_mv_rows bigint")
    val aggsProp =
      """[["s","sum","v"],["c","count","v"],["n","count_star",""],["a","avg","v"],""" +
        """["da","davg","d"],["lo","min","v"],["hi","max","v"],["cd","cdistinct","v"],""" +
        """["sd","sdistinct","v"],["ad","adistinct","v"],["dad","dadistinct","d"]]"""
    def check(): Unit = {
      layout("m__rows") shouldBe storageLayout
      cat.load(TableIdent("mvlay", "m__rows")).currentOrFail()
        .properties("graft.mview.aggs") shouldBe aggsProp
      // one pair table per distinct expression, at its first user's index
      layout("m__rows__dl7") shouldBe Seq("g string", "_mv_dlv bigint", "_mv_rows bigint")
      layout("m__rows__dl10") shouldBe Seq("g string", "_mv_dlv decimal(12,2)", "_mv_rows bigint")
    }
    check()
    // an incremental refresh and a full rebuild rewrite the same layout
    spark.sql("INSERT INTO graft.mvlay.src VALUES ('a', 5, 4.00), ('c', NULL, NULL)")
    spark.sql("DELETE FROM graft.mvlay.src WHERE v = 2")
    spark.sql("CALL graft.system.refresh_mview('mvlay', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    check()
    def rows(sql: String) = spark.sql(sql).collect().map(_.toSeq.mkString("|")).toSeq
    val cols = "g, s, c, n, a, da, lo, hi, cd, sd, ad, dad"
    val inline = rows(
      s"""SELECT g, SUM(v), COUNT(v), COUNT(*), AVG(v), AVG(d), MIN(v), MAX(v),
         | COUNT(DISTINCT v), SUM(DISTINCT v), AVG(DISTINCT v), AVG(DISTINCT d)
         | FROM graft.mvlay.src GROUP BY g ORDER BY g""".stripMargin)
    rows(s"SELECT $cols FROM graft.mvlay.m ORDER BY g") shouldBe inline
    spark.sql("CALL graft.system.refresh_mview('mvlay', 'm', true)")
      .head.getString(2) shouldBe "full"
    check()
    rows(s"SELECT $cols FROM graft.mvlay.m ORDER BY g") shouldBe inline
    spark.sql("CALL graft.system.drop_mview('mvlay', 'm')")
    spark.sql("DROP TABLE graft.mvlay.src")
  }

  test("materialized views: the observed-count wait is bounded and falls back to a count") {
    import graft.connector.GraftMaterializedView.observedRow
    import org.apache.spark.sql.{Observation, Row}
    import org.apache.spark.sql.functions.{count, lit}
    import scala.concurrent.duration._
    // an Observation that no Dataset carries never completes
    val t0 = System.nanoTime()
    observedRow(Observation(), 200.millis)(Row(-7L)) shouldBe Row(-7L)
    (System.nanoTime() - t0) / 1e9 should be < 10.0
    val obs = Observation()
    spark.range(5).observe(obs, count(lit(1)).as("_n")).collect()
    observedRow(obs, 1.minute)(Row(-7L)).getLong(0) shouldBe 5L
  }

  test("materialized views: a negative maintained row count aborts and commits nothing") {
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvneg")
    spark.sql("CREATE TABLE graft.mvneg.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvneg.src VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvneg', 'm',
        |'SELECT g, COUNT(*) AS n, SUM(v) AS t FROM graft.mvneg.src GROUP BY g')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val storage = cat.load(TableIdent("mvneg", "m__rows"))
    val createdAt = storage.currentOrFail().properties("graft.mview.applied-version")
    spark.sql("DELETE FROM graft.mvneg.src WHERE g = 'b'")
    spark.sql("CALL graft.system.refresh_mview('mvneg', 'm', false)")
      .head.getString(2) shouldBe "incremental"
    def view() = spark.sql("SELECT g, n, t FROM graft.mvneg.m ORDER BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    view() shouldBe Seq(("a", 1L, 1.0))
    // storage surgery: rewind the marker behind the applied delete, so
    // the next refresh replays it over a group that is already gone
    storage.updateProperties(Map("graft.mview.applied-version" -> createdAt))
    val before = storage.currentOrFail().version
    val e = intercept[IllegalStateException] {
      graft.connector.GraftMaterializedView.refresh(spark, cat, "mvneg", "m", forceFull = false)
    }
    e.getMessage should include("went negative")
    e.getMessage should include("force_full")
    storage.currentOrFail().version shouldBe before
    storage.currentOrFail().properties("graft.mview.applied-version") shouldBe createdAt
    view() shouldBe Seq(("a", 1L, 1.0))
    spark.sql("CALL graft.system.refresh_mview('mvneg', 'm', true)")
      .head.getString(2) shouldBe "full"
    view() shouldBe Seq(("a", 1L, 1.0))
    spark.sql("CALL graft.system.drop_mview('mvneg', 'm')")
    spark.sql("DROP TABLE graft.mvneg.src")
  }

  test("materialized views: a light join + GROUP BY refresh folds its probes into fewer Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvjobs")
    spark.sql("CREATE TABLE graft.mvjobs.o (o_orderkey BIGINT, o_priority STRING)")
    spark.sql("CREATE TABLE graft.mvjobs.l (l_orderkey BIGINT, l_quantity BIGINT, " +
      "l_price DECIMAL(12,2), l_flag STRING) TBLPROPERTIES ('graft.delete.mode' = 'mor')")
    spark.sql("INSERT INTO graft.mvjobs.o SELECT id, CONCAT('p', id % 3) FROM range(0, 50)")
    spark.sql("INSERT INTO graft.mvjobs.l SELECT id % 50, id, CAST(id AS DECIMAL(12,2)), " +
      "IF(id % 2 = 0, 'A', 'R') FROM range(0, 200)")
    // fact rows whose orders arrive later, in the dim insert below
    spark.sql("INSERT INTO graft.mvjobs.l SELECT 50 + id % 3, id, CAST(id AS DECIMAL(12,2)), " +
      "'A' FROM range(0, 6)")
    val q = """SELECT o_priority, l_flag, COUNT(*) AS n, SUM(l_quantity) AS qty,
              |       SUM(l_price) AS price
              |FROM graft.mvjobs.l JOIN graft.mvjobs.o ON l_orderkey = o_orderkey
              |GROUP BY o_priority, l_flag""".stripMargin
    spark.sql(s"CALL graft.system.create_mview('mvjobs', 'm', '$q')")
      .head.getString(0) shouldBe "incremental"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq

    // jobs started under each refresh's tag; the sentinel job's start
    // arrives after every earlier job's on the listener queue
    val sc = spark.sparkContext
    val key = "graft.test.op"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val drained = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("sentinel") => drained.set(true)
          case Some(tag) => jobs.merge(tag, 1, _ + _)
          case None =>
        }
    }
    def taggedRefresh(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try spark.sql("CALL graft.system.refresh_mview('mvjobs', 'm', false)")
        .head.getString(2) shouldBe "incremental"
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      // light: a fact insert only
      spark.sql("INSERT INTO graft.mvjobs.l VALUES (1, 5, 1.50, 'A'), (2, 7, 2.25, 'R')")
      taggedRefresh("light")
      rows(spark.table("graft.mvjobs.m")) shouldBe rows(spark.sql(q))
      // heavy: a merge-on-read fact range delete and a dim insert whose
      // orders match waiting fact rows
      spark.sql("DELETE FROM graft.mvjobs.l WHERE l_orderkey BETWEEN 10 AND 19")
      spark.sql("INSERT INTO graft.mvjobs.o VALUES (50, 'p0'), (51, 'p1'), (52, 'p2')")
      taggedRefresh("heavy")
      sc.setLocalProperty(key, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      eventually(timeout(Span(30, Seconds))) { drained.get shouldBe true }
    } finally sc.removeSparkListener(listener)
    // the delta and the merged frame carry their row counts, bounds and
    // abort probes in their checkpoint jobs, and the keyed write reuses
    // the merged frame's checkpoint: 10 jobs, down from 17
    jobs.get("light") should be <= 10
    // the dim slice observes its join-key bounds in its own checkpoint
    // job, so the fact pruning runs no aggregation of its own: 12 jobs,
    // down from 14
    jobs.get("heavy") should be <= 12
    rows(spark.table("graft.mvjobs.m")) shouldBe rows(spark.sql(q))
    spark.sql("CALL graft.system.drop_mview('mvjobs', 'm')")
    spark.sql("DROP TABLE graft.mvjobs.l")
    spark.sql("DROP TABLE graft.mvjobs.o")
  }

  test("the MV's public view refuses direct DDL that would desync the pair") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv8")
    spark.sql("CREATE TABLE graft.mv8.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mv8.src VALUES (1, 'a', 1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mv8', 'm',
        |'SELECT g, SUM(v) AS t FROM graft.mv8.src GROUP BY g')""".stripMargin)
    intercept[Exception] { spark.sql("DROP VIEW graft.mv8.m") }
      .getMessage should include("drop_mview")
    intercept[Exception] {
      spark.sql("ALTER VIEW graft.mv8.m AS SELECT g FROM graft.mv8.src")
    }.getMessage should include("drop_mview")
    intercept[Exception] { spark.sql("ALTER VIEW graft.mv8.m RENAME TO m2") }
      .getMessage should include("drop_mview")
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE VIEW graft.mv8.m AS SELECT 1 AS one")
    }.getMessage should include("drop_mview")
    // still readable, still refreshable, and drop_mview still works
    spark.sql("SELECT t FROM graft.mv8.m WHERE g = 'a'").head.getDouble(0) shouldBe 1.0
    spark.sql("CALL graft.system.drop_mview('mv8', 'm')")
      .head.getBoolean(0) shouldBe true
  }

  test("CALL mviews lists maintenance state and staleness") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv6")
    spark.sql("CREATE TABLE graft.mv6.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mv6.src VALUES (1, 'a', 1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mv6', 'm1',
        |'SELECT g, SUM(v) AS t FROM graft.mv6.src GROUP BY g')""".stripMargin)
    spark.sql("INSERT INTO graft.mv6.src VALUES (2, 'b', 2.0)")
    spark.sql("INSERT INTO graft.mv6.src VALUES (3, 'b', 3.0)")
    val rows = spark.sql("CALL graft.system.mviews('mv6')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(5))).toSeq
    rows shouldBe Seq(("m1", "incremental", "mv6.src", 2))
    spark.sql("CALL graft.system.refresh_mview('mv6', 'm1', false)")
    spark.sql("CALL graft.system.mviews('mv6')").head.getInt(5) shouldBe 0
    spark.sql("CALL graft.system.drop_mview('mv6', 'm1')")
    spark.sql("CALL graft.system.mviews('mv6')").count() shouldBe 0
  }

  test("materialized views: non-incremental shapes fall back to full refresh") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv2")
    spark.sql("CREATE TABLE graft.mv2.t (k STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mv2.t VALUES ('a', 1.0), ('a', 3.0), ('b', 10.0)")
    // wide-decimal AVG(DISTINCT) graduated to incremental in round 16
    // (exact running sum + Average's own division at merge); the
    // fallback path stays honest via a genuinely undecomposable
    // aggregate — an exact PERCENTILE has no signed-delta algebra
    spark.sql(
      """CALL graft.system.create_mview('mv2', 'avgs',
        |  'SELECT k, AVG(DISTINCT CAST(v AS DECIMAL(30,10))) AS dv, AVG(v) AS mean
        |   FROM graft.mv2.t GROUP BY k')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    spark.sql("INSERT INTO graft.mv2.t VALUES ('b', 20.0)")
    spark.sql("CALL graft.system.refresh_mview('mv2', 'avgs', false)")
      .head.getString(2) shouldBe "incremental"
    spark.sql("SELECT dv, mean FROM graft.mv2.avgs WHERE k = 'b'")
      .collect().map(r => (r.getDecimal(0).doubleValue(), r.getDouble(1)))
      .toSeq shouldBe Seq((15.0, 15.0))
    spark.sql(
      """CALL graft.system.create_mview('mv2', 'med',
        |  'SELECT k, PERCENTILE(v, 0.5) AS med FROM graft.mv2.t GROUP BY k')""".stripMargin)
      .head.getString(0) shouldBe "full"
    spark.sql("INSERT INTO graft.mv2.t VALUES ('b', 30.0)")
    spark.sql("CALL graft.system.refresh_mview('mv2', 'med', false)")
      .head.getString(2) shouldBe "full"
    spark.sql("SELECT med FROM graft.mv2.med WHERE k = 'b'")
      .head.getDouble(0) shouldBe 20.0
    spark.sql("CALL graft.system.drop_mview('mv2', 'med')")
    // a non-graft source has no changelog: refused loudly
    spark.range(3).createOrReplaceTempView("mv2_tmp")
    intercept[Exception] {
      spark.sql(
        """CALL graft.system.create_mview('mv2', 'bad',
          |  'SELECT id FROM mv2_tmp')""".stripMargin)
    }
    spark.sql("CALL graft.system.drop_mview('mv2', 'avgs')")
  }

  test("SQL time travel: VERSION AS OF reads historic snapshots, writes refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns5")
    spark.sql("CREATE TABLE graft.ns5.tt (id BIGINT)")          // version 0 (empty)
    spark.sql("INSERT INTO graft.ns5.tt VALUES (1), (2)")       // version 1
    spark.sql("INSERT INTO graft.ns5.tt VALUES (3)")            // version 2
    spark.sql("SELECT COUNT(*) FROM graft.ns5.tt").head.getLong(0) shouldBe 3
    spark.sql("SELECT COUNT(*) FROM graft.ns5.tt VERSION AS OF 1")
      .head.getLong(0) shouldBe 2
    spark.sql("SELECT COUNT(*) FROM graft.ns5.tt VERSION AS OF 0")
      .head.getLong(0) shouldBe 0
    intercept[Exception] {
      spark.sql("INSERT INTO graft.ns5.tt VERSION AS OF 1 VALUES (9)")
    }
  }

  test("DELETE FROM ... WHERE rewrites through the copy-on-write path") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns6")
    spark.sql("CREATE TABLE graft.ns6.d (id BIGINT, k STRING)")
    spark.sql("INSERT INTO graft.ns6.d VALUES (1,'a'), (2,'b'), (3,'a'), (4, NULL)")
    spark.sql("DELETE FROM graft.ns6.d WHERE k = 'a'")
    // NULL rows must survive a positive predicate (three-valued DELETE)
    spark.sql("SELECT id FROM graft.ns6.d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L, 4L)
    spark.sql("DELETE FROM graft.ns6.d WHERE id >= 2")
    spark.sql("SELECT COUNT(*) FROM graft.ns6.d").head.getLong(0) shouldBe 0
  }

  test("randomized predicates: DSv2 reads equal plain-view reads (pruning soundness)") {
    // A FilterSql mistranslation would prune the WRONG FILES — rows
    // lost before Spark's residual filters run — so the whole
    // filter→SQL→pruner path is fuzzed against a non-pruning baseline.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns7")
    spark.sql(
      """CREATE TABLE graft.ns7.fuzz (id BIGINT, k STRING, ts TIMESTAMP_NTZ, v DOUBLE)
        |PARTITIONED BY (day(ts))""".stripMargin)
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 400).map { i =>
      (i.toLong,
        if (rnd.nextInt(10) == 0) null else s"k${rnd.nextInt(5)}",
        java.time.LocalDateTime.of(2024, 1, 1 + rnd.nextInt(20), rnd.nextInt(24), 0),
        rnd.nextDouble() * 100)
    }
    rows.toDF("id", "k", "ts", "v").createOrReplaceTempView("fuzz_src")
    spark.sql("INSERT INTO graft.ns7.fuzz SELECT * FROM fuzz_src")
    val preds = Seq(
      "id > 200", "id <= 37", "id = 123", "NOT (id < 350)",
      "k = 'k1'", "k IS NULL", "k IS NOT NULL", "k IN ('k0','k3')",
      "NOT (k = 'k2')",
      "ts >= TIMESTAMP_NTZ'2024-01-10 00:00:00'",
      "ts < TIMESTAMP_NTZ'2024-01-05 12:00:00' AND v > 50",
      "k = 'k4' OR id < 20",
      "(id > 100 AND id < 300) OR k IS NULL",
      "v > 25.5 AND ts <= TIMESTAMP_NTZ'2024-01-15 00:00:00'",
      "NOT (ts >= TIMESTAMP_NTZ'2024-01-08 00:00:00')")
    preds.foreach { p =>
      val got = spark.sql(s"SELECT id FROM graft.ns7.fuzz WHERE $p")
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = spark.sql(s"SELECT id FROM fuzz_src WHERE $p")
        .collect().map(_.getLong(0)).sorted.toSeq
      withClue(s"predicate: $p — ") { got shouldBe want }
    }
  }

  test("backslash and quote string values translate without corrupting pruning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns8")
    spark.sql("CREATE TABLE graft.ns8.esc (id BIGINT, k STRING)")
    import spark.implicits._
    Seq((1L, """a\nb"""), (2L, "it's"), (3L, "plain"))
      .toDF("id", "k").createOrReplaceTempView("esc_src")
    spark.sql("INSERT INTO graft.ns8.esc SELECT * FROM esc_src")
    val tbl = spark.table("graft.ns8.esc")
    tbl.where($"k" === """a\nb""").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    tbl.where($"k" === "it's").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    // NaN comparisons must not break the read (untranslatable -> no pruning)
    spark.sql("CREATE TABLE graft.ns8.nan (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.ns8.nan VALUES (1, 1.5), (2, CAST('NaN' AS DOUBLE))")
    spark.table("graft.ns8.nan").where($"v" === Double.NaN)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("DELETE without WHERE and LTZ timestamp filters translate correctly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns9")
    spark.sql("CREATE TABLE graft.ns9.ltz (id BIGINT, ts TIMESTAMP)")
    spark.sql(
      """INSERT INTO graft.ns9.ltz VALUES
        |(1, TIMESTAMP '2024-06-01 00:00:00'), (2, TIMESTAMP '2024-06-15 00:00:00')""".stripMargin)
    // LTZ filter: pushed as java.sql.Timestamp/Instant — must compare as
    // the same absolute instant it was written with
    spark.sql("SELECT id FROM graft.ns9.ltz WHERE ts < TIMESTAMP '2024-06-10 00:00:00'")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // unconditional DELETE normalizes to AlwaysTrue — must not be rejected
    spark.sql("DELETE FROM graft.ns9.ltz")
    spark.sql("SELECT COUNT(*) FROM graft.ns9.ltz").head.getLong(0) shouldBe 0
    // SHOW NAMESPACES sees a namespace right after CREATE NAMESPACE
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.fresh_empty")
    spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)) should
      contain("fresh_empty")
  }

  test("CALL graft.system.compact_deletes coalesces MoR delete groups via SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscd")
    spark.sql(
      """CREATE TABLE graft.nscd.t (id BIGINT, v DOUBLE)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nscd.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 50)")
    spark.sql("DELETE FROM graft.nscd.t WHERE id = 3")
    spark.sql("DELETE FROM graft.nscd.t WHERE id = 17")
    spark.sql("DELETE FROM graft.nscd.t WHERE id = 41")
    spark.sql("SELECT COUNT(*) FROM graft.nscd.t.deletes").head.getLong(0) shouldBe 3L
    val r = spark.sql("CALL graft.system.compact_deletes('nscd', 't')")
    r.collect().head.getInt(0) shouldBe 1
    spark.sql("SELECT COUNT(*) FROM graft.nscd.t.deletes").head.getLong(0) shouldBe 1L
    spark.sql("SELECT COUNT(*) FROM graft.nscd.t").head.getLong(0) shouldBe 47L
    spark.sql("SELECT COUNT(*) FROM graft.nscd.t WHERE id IN (3, 17, 41)")
      .head.getLong(0) shouldBe 0L
  }

  test("CALL graft.system.dedup_table position-deletes duplicates via SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsdd")
    spark.sql("CREATE TABLE graft.nsdd.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsdd.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graft.nsdd.t VALUES (2, 'b'), (3, 'c'), (4, 'd')")
    val r = spark.sql("CALL graft.system.dedup_table('nsdd', 't', '')")
    r.collect().head.getLong(0) shouldBe 2L
    spark.sql("SELECT COUNT(*) FROM graft.nsdd.t").head.getLong(0) shouldBe 4L
    spark.sql("SELECT kind FROM graft.nsdd.t.deletes").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("position")
    // by-column dedup through the same verb
    spark.sql("INSERT INTO graft.nsdd.t VALUES (4, 'D2')")
    spark.sql("CALL graft.system.dedup_table('nsdd', 't', 'id')")
      .collect().head.getLong(0) shouldBe 1L
    spark.sql("SELECT COUNT(*) FROM graft.nsdd.t WHERE id = 4").head.getLong(0) shouldBe 1L
    spark.sql("SELECT COUNT(*) FROM graft.nsdd.t").head.getLong(0) shouldBe 4L
  }

  test("CALL graft.system.rewrite_deletes folds MoR deletes through SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsrd")
    spark.sql(
      """CREATE TABLE graft.nsrd.t (id BIGINT, v DOUBLE)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nsrd.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 40)")
    spark.sql("DELETE FROM graft.nsrd.t WHERE id IN (7, 21)")
    spark.sql("SELECT COUNT(*) FROM graft.nsrd.t.deletes").head.getLong(0) shouldBe 1L
    spark.sql("CALL graft.system.rewrite_deletes('nsrd', 't')")
      .collect().head.getInt(0) shouldBe 0
    spark.sql("SELECT COUNT(*) FROM graft.nsrd.t.deletes").head.getLong(0) shouldBe 0L
    spark.sql("SELECT COUNT(*) FROM graft.nsrd.t").head.getLong(0) shouldBe 38L
    spark.sql("SELECT COUNT(*) FROM graft.nsrd.t WHERE id IN (7, 21)")
      .head.getLong(0) shouldBe 0L
  }

  test("SQL UPDATE goes merge-on-read on a mor-mode table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsup")
    spark.sql(
      """CREATE TABLE graft.nsup.t (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nsup.t SELECT id, CONCAT('v', id) FROM range(0, 30)")
    import graft.table.{GraftCatalog, TableIdent}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val before = cat.load(TableIdent("nsup", "t")).currentOrFail().files.map(_.path).toSet
    spark.sql("UPDATE graft.nsup.t SET v = 'hit' WHERE id % 10 = 3")
    val snap = cat.load(TableIdent("nsup", "t")).currentOrFail()
    before.subsetOf(snap.files.map(_.path).toSet) shouldBe true
    snap.deleteGroups.size shouldBe 1
    spark.sql("SELECT COUNT(*) FROM graft.nsup.t").head.getLong(0) shouldBe 30L
    spark.sql("SELECT COUNT(*) FROM graft.nsup.t WHERE v = 'hit'").head.getLong(0) shouldBe 3L
  }

  test("CALL graft.system.* runs maintenance through SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsm")
    spark.sql("CREATE TABLE graft.nsm.m (id BIGINT)")             // v0
    spark.sql("INSERT INTO graft.nsm.m VALUES (1)")               // v1
    spark.sql("INSERT INTO graft.nsm.m VALUES (2)")               // v2
    spark.sql("INSERT INTO graft.nsm.m VALUES (3)")               // v3
    // compact the 3 single-row files into 1
    val compacted = spark.sql("CALL graft.system.compact('nsm', 'm', 1)")
    compacted.collect().head.getInt(0) shouldBe 1
    spark.sql("SELECT COUNT(*) FROM graft.nsm.m").head.getLong(0) shouldBe 3
    // expire everything but the last 2 snapshots
    val expired = spark.sql("CALL graft.system.expire_snapshots('nsm', 'm', 2)")
    expired.collect().head.getInt(0) should be > 0
    spark.sql("SELECT COUNT(*) FROM graft.nsm.m").head.getLong(0) shouldBe 3
    // orphan sweep: live data must survive it. A planted stray file
    // guarantees the sweep has a real orphan to count — before round
    // 19 this assertion rode on the Hadoop committer's _SUCCESS
    // markers, which internal writes no longer produce (the metadata
    // log's manifest publish is the commit marker).
    locally {
      import graft.table.{GraftCatalog, TableIdent}
      val dir = java.nio.file.Paths.get(
        GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
          .tableDir(TableIdent("nsm", "m")).toUri)
      val orphan = dir.resolve("data").resolve("stray").resolve("part-x.parquet")
      java.nio.file.Files.createDirectories(orphan.getParent)
      java.nio.file.Files.writeString(orphan, "junk")
    }
    spark.sql("CALL graft.system.remove_orphans('nsm', 'm', 0)")
      .collect().head.getInt(0) should be > 0
    spark.sql("SELECT COUNT(*) FROM graft.nsm.m").head.getLong(0) shouldBe 3
  }

  test("CALL graft.system.remove_orphan_files supports dry-run and delete modes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsof")
    spark.sql("CREATE TABLE graft.nsof.t (id BIGINT)")
    spark.sql("INSERT INTO graft.nsof.t VALUES (1), (2)")
    // plant an orphan under data/
    import graft.table.{GraftCatalog, TableIdent}
    val dir = java.nio.file.Paths.get(
      GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
        .tableDir(TableIdent("nsof", "t")).toUri)
    val orphan = dir.resolve("data").resolve("stray").resolve("part-x.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.writeString(orphan, "junk")
    // dry-run reports but leaves the orphan in place
    val dry = spark.sql(
      "CALL graft.system.remove_orphan_files('nsof', 't', -1000, true)").head
    dry.getInt(0) should be >= 1
    dry.getBoolean(1) shouldBe true
    java.nio.file.Files.exists(orphan) shouldBe true
    // delete mode removes it; live data survives
    val wet = spark.sql(
      "CALL graft.system.remove_orphan_files('nsof', 't', -1000, false)").head
    wet.getInt(0) should be >= 1
    wet.getBoolean(1) shouldBe false
    java.nio.file.Files.exists(orphan) shouldBe false
    spark.sql("SELECT COUNT(*) FROM graft.nsof.t").head.getLong(0) shouldBe 2
  }

  test("CALL graft.system.rollback_to_version restores a past snapshot as a new commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsrb")
    spark.sql("CREATE TABLE graft.nsrb.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsrb.t VALUES (1, 'keep'), (2, 'keep')")
    spark.sql("INSERT INTO graft.nsrb.t VALUES (3, 'mistake')")
    spark.sql("DELETE FROM graft.nsrb.t WHERE id = 1") // another mutation on top
    val res = spark.sql("CALL graft.system.rollback_to_version('nsrb', 't', 1)").head
    res.getInt(0) shouldBe 1 // restored
    res.getInt(1) shouldBe 4 // new head: create,ins,ins,del -> rollback commit
    // table content is exactly snapshot 1's; history is append-only
    spark.sql("SELECT id FROM graft.nsrb.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    spark.sql(
      "SELECT operation FROM graft.nsrb.t.history ORDER BY version DESC LIMIT 1")
      .head.getString(0) shouldBe "rollback"
    // rolling back to a future version is an error
    intercept[Exception] {
      spark.sql("CALL graft.system.rollback_to_version('nsrb', 't', 99)").collect()
    }
  }

  test("metadata .partitions rolls up per-partition file/row/size counts") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsp")
    spark.sql(
      """CREATE TABLE graft.nsp.t (id BIGINT, ts TIMESTAMP_NTZ)
        |PARTITIONED BY (month(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsp.t VALUES
        |(1, TIMESTAMP_NTZ '2024-01-05 10:00:00'),
        |(2, TIMESTAMP_NTZ '2024-01-20 10:00:00'),
        |(3, TIMESTAMP_NTZ '2024-02-10 10:00:00')""".stripMargin)
    val parts = spark.sql(
      "SELECT partition_values, file_count, row_count FROM graft.nsp.t.partitions ORDER BY partition_values")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    parts.length shouldBe 2
    parts.map(_._3).sum shouldBe 3L
    parts.foreach(_._1 should include("ts_month="))
    // unpartitioned table: single NULL-partition rollup
    spark.sql("CREATE TABLE graft.nsp.u (id BIGINT)")
    spark.sql("INSERT INTO graft.nsp.u VALUES (1), (2)")
    val up = spark.sql(
      "SELECT partition_values, row_count FROM graft.nsp.u.partitions").collect()
    up.length shouldBe 1
    up(0).isNullAt(0) shouldBe true
    up(0).getLong(1) shouldBe 2L
  }

  test("CALL graft.system.cluster rewrites files range-clustered on a column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscl")
    spark.sql("CREATE TABLE graft.nscl.c (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nscl.c SELECT id, rand(7) FROM range(1000)")
    spark.sql("CALL graft.system.cluster('nscl', 'c', 'id', 4)")
      .collect().head.getInt(0) shouldBe 4
    spark.sql("SELECT COUNT(*) FROM graft.nscl.c").head.getLong(0) shouldBe 1000
  }

  test("SET/UNSET TBLPROPERTIES commit metadata-only and surface in SHOW TBLPROPERTIES") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsp")
    spark.sql("CREATE TABLE graft.nsp.p (id BIGINT)")
    spark.sql("INSERT INTO graft.nsp.p VALUES (1)")
    spark.sql("ALTER TABLE graft.nsp.p SET TBLPROPERTIES ('quality.tier'='gold', 'retention.days'='30')")
    val props = spark.sql("SHOW TBLPROPERTIES graft.nsp.p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    props("quality.tier") shouldBe "gold"
    props("retention.days") shouldBe "30"
    spark.sql("ALTER TABLE graft.nsp.p UNSET TBLPROPERTIES ('retention.days')")
    val after = spark.sql("SHOW TBLPROPERTIES graft.nsp.p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    after.get("retention.days") shouldBe None
    after("quality.tier") shouldBe "gold"
    // data untouched by the metadata-only commits
    spark.sql("SELECT COUNT(*) FROM graft.nsp.p").head.getLong(0) shouldBe 1
  }

  test("snapshot statistics are reported; AQE broadcasts the small side at runtime") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nss")
    spark.sql("CREATE TABLE graft.nss.dim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.nss.dim SELECT id, concat('n', id) FROM range(50)")
    spark.sql("CREATE TABLE graft.nss.fact (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nss.fact SELECT id % 50, rand(3) FROM range(5000)")
    // the scan's metadata statistics are exact (snapshot row/byte counts)
    import graft.table.{GraftCatalog, TableIdent}
    import graft.connector.{GraftNativeScan, GraftScanBuilder}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val dim = cat.load(TableIdent("nss", "dim"))
    val scan = new GraftScanBuilder(dim, () => dim.currentOrFail()).build()
      .asInstanceOf[GraftNativeScan]
    scan.estimateStatistics().numRows().getAsLong shouldBe 50L
    scan.estimateStatistics().sizeInBytes().getAsLong should be > 0L
    // the native scan reports stats straight to planning (no V1 wrapper
    // in between), and the join broadcasts the provably small side
    val joined = spark.sql(
      "SELECT f.k, d.name, f.v FROM graft.nss.fact f JOIN graft.nss.dim d ON f.k = d.k")
    joined.collect().length shouldBe 5000 // executes THIS plan, finalizing AQE
    joined.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("CTAS and DESCRIBE TABLE work through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
    spark.sql(
      """CREATE TABLE graft.nsc.ctas AS
        |SELECT id, CAST(id % 3 AS STRING) AS grp FROM range(30)""".stripMargin)
    spark.sql("SELECT COUNT(*) FROM graft.nsc.ctas").head.getLong(0) shouldBe 30
    val desc = spark.sql("DESCRIBE TABLE graft.nsc.ctas")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    desc("id") shouldBe "bigint"
    desc("grp") shouldBe "string"
  }

  test("MERGE INTO performs the reference upsert; non-canonical shapes are rejected") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsmg")
    spark.sql("CREATE TABLE graft.nsmg.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsmg.t VALUES (1, 'old1'), (2, 'old2'), (3, 'old3')")
    import spark.implicits._
    Seq((2L, "new2"), (4L, "new4")).toDF("id", "v").createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO graft.nsmg.t AS t USING mrg_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM graft.nsmg.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    rows shouldBe Seq((1L, "old1"), (2L, "new2"), (3L, "old3"), (4L, "new4"))
    // non-canonical merge (conditional delete) runs through the general
    // row-merge path: s.v = 'new4' deletes only the matching key
    spark.sql(
      """MERGE INTO graft.nsmg.t AS t USING mrg_src AS s
        |ON t.id = s.id
        |WHEN MATCHED AND s.v = 'new4' THEN DELETE""".stripMargin)
    spark.sql("SELECT id FROM graft.nsmg.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("UPDATE ... SET ... WHERE rewrites matching rows in one commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsu")
    spark.sql("CREATE TABLE graft.nsu.u (id BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO graft.nsu.u VALUES (1,'a',10), (2,'b',20), (3,'a',30), (4,NULL,40)")
    spark.sql("UPDATE graft.nsu.u SET n = n + 100, v = concat(v, '!') WHERE v = 'a'")
    val rows = spark.sql("SELECT id, v, n FROM graft.nsu.u ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
    rows shouldBe Seq(
      (1L, Some("a!"), 110L), (2L, Some("b"), 20L),
      (3L, Some("a!"), 130L), (4L, None, 40L)) // NULL predicate rows untouched
    // unconditional update
    spark.sql("UPDATE graft.nsu.u SET n = 0")
    spark.sql("SELECT SUM(n) FROM graft.nsu.u").head.getLong(0) shouldBe 0
  }

  test("partial-SET merges and duplicate UPDATE assignments are rejected; NULL keys insert") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsx")
    spark.sql("CREATE TABLE graft.nsx.t (id BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO graft.nsx.t VALUES (1, 'old', 100)")
    import spark.implicits._
    Seq((Some(1L), "new", 999L), (None, "nullkey", 5L))
      .toDF("id", "v", "n").createOrReplaceTempView("x_src")
    // partial UPDATE SET in a merge: general path — only v changes,
    // n keeps the target value, unmatched source rows are NOT inserted
    // (no insert clause here)
    spark.sql(
      """MERGE INTO graft.nsx.t AS t USING x_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    spark.sql("SELECT v, n FROM graft.nsx.t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(("new", 100L))
    // restore for the canonical-shape assertions below
    spark.sql("UPDATE graft.nsx.t SET v = 'old'")
    // duplicate assignment in UPDATE is an error, not last-wins
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.nsx.t SET n = 1, n = 2")
    }
    e2.getMessage should include("duplicate assignment")
    // canonical merge with a NULL-keyed source row: inserted, not a dup error
    spark.sql(
      """MERGE INTO graft.nsx.t AS t USING x_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT v, n FROM graft.nsx.t ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    rows shouldBe Seq(("nullkey", 5L), ("new", 999L))
  }

  test("general MERGE: multi-clause first-match-wins, NOT MATCHED BY SOURCE, cardinality guard") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsgm")
    spark.sql("CREATE TABLE graft.nsgm.t (id BIGINT, v STRING, n BIGINT)")
    spark.sql(
      "INSERT INTO graft.nsgm.t VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    import spark.implicits._
    // source shares no row with id=3/4; id=1 hits the first clause,
    // id=2 falls through to the second
    Seq((1L, "A", 111L), (2L, "B", 222L), (9L, "Z", 900L), (8L, "skip", 800L))
      .toDF("id", "v", "n").createOrReplaceTempView("gm_src")
    spark.sql(
      """MERGE INTO graft.nsgm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN MATCHED AND t.n < 15 THEN UPDATE SET v = s.v, n = t.n + s.n
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.n >= 900 THEN INSERT (id, v) VALUES (s.id, s.v)
        |WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN UPDATE SET v = concat(t.v, '?')
        |WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE""".stripMargin)
    val rows = spark.sql("SELECT id, v, n FROM graft.nsgm.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    rows shouldBe Seq(
      (1L, "A", Some(121L)),  // first matched clause: t.n(10) + s.n(111)
      (3L, "c?", Some(30L)),  // NMBS conditional update
      (9L, "Z", None))        // conditional insert, n unassigned → NULL
    // id=2 deleted by the second matched clause; id=4 by the NMBS delete;
    // id=8 filtered out by the insert condition

    // cardinality violation: two source rows match one target row while
    // matched clauses exist → abort, not silent fan-out
    Seq((1L, "x"), (1L, "y")).toDF("id", "v").createOrReplaceTempView("gm_dup")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.nsgm.t AS t USING gm_dup AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    e.getMessage should include("cardinality")
    // same duplicate source with only an INSERT clause: fine (no matched
    // clause consults the duplicates); both rows fail to be "not
    // matched" so nothing inserts
    spark.sql(
      """MERGE INTO graft.nsgm.t AS t USING gm_dup AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    spark.sql("SELECT count(*) FROM graft.nsgm.t").head.getLong(0) shouldBe 3L
  }

  test("general MERGE takes the merge-on-read path: outcomes appended, keys masked, zero rewrites") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsgmm")
    spark.sql(
      """CREATE TABLE graft.nsgmm.t (id BIGINT, v STRING, n BIGINT)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.nsgmm.t VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    import spark.implicits._
    Seq((1L, 111L), (2L, 222L), (3L, 333L), (9L, 900L))
      .toDF("id", "n").createOrReplaceTempView("gmm_src")
    val tbl = graft.table.GraftCatalog(spark,
        spark.conf.get("spark.sql.catalog.graft.warehouse"))
      .load(graft.table.TableIdent("nsgmm", "t"))
    val before = tbl.currentOrFail().files.map(_.path).toSet
    spark.sql(
      """MERGE INTO graft.nsgmm.t AS t USING gmm_src AS s ON t.id = s.id
        |WHEN MATCHED AND t.n < 15 THEN UPDATE SET n = t.n + s.n
        |WHEN MATCHED AND s.n >= 300 THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.id, s.n)""".stripMargin)
    val snap = tbl.currentOrFail()
    // zero target files rewritten: one append group + one key mask
    before.subsetOf(snap.files.map(_.path).toSet) shouldBe true
    snap.deleteGroups should not be empty
    val rows = spark.sql("SELECT id, v, n FROM graft.nsgmm.t ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    rows shouldBe Seq(
      (1L, Some("a"), Some(121L)), // first clause: 10 + 111
      (2L, Some("b"), Some(20L)),  // matched, no clause applies: untouched
      (4L, Some("d"), Some(40L)),  // unmatched target: untouched
      (9L, None, Some(900L)))      // conditional insert, v null-filled
    // id=3 deleted by the second clause; compact folds to CoW state
    spark.sql("CALL graft.system.compact('nsgmm', 't', 1)")
    tbl.currentOrFail().deleteGroups shouldBe empty
    spark.sql("SELECT id FROM graft.nsgmm.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 4L, 9L)
  }

  test("general MERGE prunes the rewrite to partitions the ON keys can touch") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsgp")
    spark.sql(
      """CREATE TABLE graft.nsgp.t (id BIGINT, day STRING, v BIGINT)
        |PARTITIONED BY (day)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsgp.t VALUES
        |(1,'d1',10), (2,'d1',20), (3,'d2',30), (4,'d3',40)""".stripMargin)
    import spark.implicits._
    Seq((1L, "d1", 99L)).toDF("id", "day", "v").createOrReplaceTempView("gp_src")
    val before = spark.sql("SELECT path FROM graft.nsgp.t.files").collect()
      .map(_.getString(0)).toSet
    // conditional update (non-canonical) keyed on the partition column:
    // only d1's file may be rewritten
    spark.sql(
      """MERGE INTO graft.nsgp.t AS t USING gp_src AS s
        |ON t.id = s.id AND t.day = s.day
        |WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = s.v""".stripMargin)
    val after = spark.sql("SELECT path FROM graft.nsgp.t.files").collect()
      .map(_.getString(0)).toSet
    val d23Before = before.filter(f => f.contains("_p_day=d2") || f.contains("_p_day=d3"))
    d23Before.subsetOf(after) shouldBe true // untouched partitions carried over
    (after -- before).forall(_.contains("_p_day=d1")) shouldBe true
    spark.sql("SELECT v FROM graft.nsgp.t WHERE id = 1").head.getLong(0) shouldBe 99L
  }

  test("CTAS and REPLACE TABLE AS SELECT create populated graft tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsct")
    spark.sql(
      """CREATE TABLE graft.nsct.t AS
        |SELECT id, CAST(id % 3 AS STRING) AS grp FROM range(0, 100)""".stripMargin)
    spark.sql("SELECT COUNT(*) FROM graft.nsct.t").head.getLong(0) shouldBe 100L
    spark.sql("SELECT COUNT(DISTINCT grp) FROM graft.nsct.t").head.getLong(0) shouldBe 3L
    // partitioned CTAS: layout + pruning apply to the selected rows
    spark.sql(
      """CREATE TABLE graft.nsct.p PARTITIONED BY (grp) AS
        |SELECT id, CAST(id % 4 AS STRING) AS grp FROM range(0, 80)""".stripMargin)
    spark.sql("SELECT COUNT(*) FROM graft.nsct.p WHERE grp = '2'").head.getLong(0) shouldBe 20L
    // RTAS replaces schema AND contents
    spark.sql(
      """CREATE OR REPLACE TABLE graft.nsct.t AS
        |SELECT id AS k, id * 2 AS dbl FROM range(0, 10)""".stripMargin)
    spark.sql("SELECT SUM(dbl) FROM graft.nsct.t").head.getLong(0) shouldBe 90L
    spark.sql("SELECT * FROM graft.nsct.t").columns.toSeq shouldBe Seq("k", "dbl")
  }

  test("ALTER TABLE RENAME/DROP COLUMN: metadata-only, old files mapped by field id") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsrc")
    spark.sql("CREATE TABLE graft.nsrc.t (id BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO graft.nsrc.t VALUES (1,'a',10), (2,'b',20)")
    val filesBefore = spark.sql("SELECT path FROM graft.nsrc.t.files").collect()
      .map(_.getString(0)).toSet
    spark.sql("ALTER TABLE graft.nsrc.t RENAME COLUMN v TO label")
    // zero data files rewritten
    spark.sql("SELECT path FROM graft.nsrc.t.files").collect()
      .map(_.getString(0)).toSet shouldBe filesBefore
    // pre-rename values surface under the new name, filters included
    spark.sql("SELECT label FROM graft.nsrc.t ORDER BY id").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("a", "b")
    spark.sql("SELECT id FROM graft.nsrc.t WHERE label = 'b'")
      .head.getLong(0) shouldBe 2L
    // new-era writes + mixed-era scan
    spark.sql("INSERT INTO graft.nsrc.t VALUES (3,'c',30)")
    spark.sql("SELECT label FROM graft.nsrc.t ORDER BY id").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("a", "b", "c")
    // drop is metadata-only too; the column disappears from reads
    spark.sql("ALTER TABLE graft.nsrc.t DROP COLUMN n")
    spark.sql("DESCRIBE TABLE graft.nsrc.t").collect()
      .map(_.getString(0)).filter(_.nonEmpty) should not contain "n"
    spark.sql("SELECT * FROM graft.nsrc.t").columns.toSeq shouldBe Seq("id", "label")
    // aggregates over mixed eras stay exact
    spark.sql("SELECT COUNT(*), MIN(label) FROM graft.nsrc.t").head.getString(1) shouldBe "a"
  }

  test("runtime (DPP-style) join filters reach the native scan") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dpp")
    spark.sql(
      """CREATE TABLE graft.dpp.fact (k BIGINT, v DOUBLE)
        |PARTITIONED BY (k)""".stripMargin)
    spark.sql(
      "INSERT INTO graft.dpp.fact SELECT id % 8 AS k, CAST(id AS DOUBLE) AS v FROM range(0, 800)")
    // selective dim filter keeps only k = 3: the broadcast join's key
    // set is delivered to the scan as a runtime filter, pruning files
    // (a LocalRelation dim won't do — the optimizer folds the filter
    // away and the pruning rule sees no selective predicate)
    spark.sql("CREATE TABLE graft.dpp.dim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.dpp.dim VALUES (3, 'keep'), (5, 'drop')")
    val joined = spark.sql(
      """SELECT f.k, COUNT(*) AS n, SUM(f.v) AS sv
        |FROM graft.dpp.fact f JOIN graft.dpp.dim d ON f.k = d.k
        |WHERE d.name = 'keep'
        |GROUP BY f.k""".stripMargin)
    val rows = joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    plan should include("dynamicpruningexpression")
    rows.length shouldBe 1
    rows.head.getLong(0) shouldBe 3L
    rows.head.getLong(1) shouldBe 100L
    // 3, 11, 19, ... 795: sum = 100*3 + 8*(0+1+...+99)
    rows.head.getDouble(2) shouldBe (300.0 + 8.0 * 4950.0)
  }

  test("DataFrameWriterV2 append and CREATE OR REPLACE work through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wv2")
    spark.sql("CREATE TABLE graft.wv2.t (id BIGINT)")
    val s = spark
    import s.implicits._
    Seq(1L, 2L).toDF("id").writeTo("graft.wv2.t").append()
    Seq(3L).toDF("id").writeTo("graft.wv2.t").append()
    spark.table("graft.wv2.t").count() shouldBe 3
    // non-atomic REPLACE (no staging catalog): drop + create + insert
    spark.sql("CREATE OR REPLACE TABLE graft.wv2.t (id BIGINT, v STRING)")
    spark.table("graft.wv2.t").count() shouldBe 0
    spark.table("graft.wv2.t").schema.fieldNames.toSeq shouldBe Seq("id", "v")
  }

  test("metadata tables: SELECT from t.history and t.files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta1")
    spark.sql("CREATE TABLE graft.meta1.t (id BIGINT)")
    spark.sql("INSERT INTO graft.meta1.t VALUES (1), (2)")
    spark.sql("INSERT INTO graft.meta1.t VALUES (3)")
    val hist = spark.sql(
      "SELECT version, operation, row_count FROM graft.meta1.t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    hist.map(_._2).toSeq shouldBe Seq("append", "append", "append") // create + 2 inserts
    hist.last._3 shouldBe 3L
    // .snapshots is an alias
    spark.sql("SELECT COUNT(*) FROM graft.meta1.t.snapshots").head.getLong(0) shouldBe 3L
    val files = spark.sql(
      "SELECT path, rows, column_stats FROM graft.meta1.t.files ORDER BY path").collect()
    files.map(_.getLong(1)).sum shouldBe 3L
    files.foreach(_.getString(0) should endWith(".parquet"))
    // zone maps are visible per file (the clustering-health surface)
    files.filter(_.getLong(1) > 0).foreach { r =>
      r.getString(2) should include("id=[")
    }
    // a bogus metadata suffix is a missing table, not a crash
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.meta1.t.nope").collect()
    }
    // metadata-table time travel: .files pinned at a historic snapshot,
    // .history truncated to commits <= v
    spark.sql(
      "SELECT CAST(SUM(rows) AS BIGINT) FROM graft.meta1.t.files VERSION AS OF 1")
      .head.getLong(0) shouldBe 2L // first INSERT only
    spark.sql("SELECT COUNT(*) FROM graft.meta1.t.history VERSION AS OF 1")
      .head.getLong(0) shouldBe 2L // create + first INSERT
    // time travel on a regular table with a bogus namespace stays a
    // clean analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.meta1.t.nope VERSION AS OF 1").collect()
    }
  }

  test("aggregate pushdown answers count/min/max from metadata only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg")
    spark.sql(
      """CREATE TABLE graft.nsagg.t
        |(id BIGINT, v DOUBLE, s STRING, ts TIMESTAMP_NTZ)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsagg.t VALUES
        |(1, 1.5, 'a', TIMESTAMP_NTZ '2024-01-01 00:00:00'),
        |(2, NULL, 'b', TIMESTAMP_NTZ '2024-03-01 00:00:00'),
        |(3, 2.5, NULL, TIMESTAMP_NTZ '2024-02-01 00:00:00')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.nsagg.t VALUES (9, -4.5, 'z', TIMESTAMP_NTZ '2023-12-25 06:30:00')")

    val df = spark.sql(
      """SELECT COUNT(*) AS n, COUNT(v) AS nv, COUNT(s) AS ns,
        |  MIN(id) AS mn, MAX(id) AS mx, MIN(v) AS vmn,
        |  MIN(ts) AS tmn, MAX(ts) AS tmx
        |FROM graft.nsagg.t""".stripMargin)
    // the whole answer comes from manifest summaries: the physical plan
    // is a LocalTableScan — no BatchScan, no file read
    val plan = df.queryExecution.executedPlan.toString
    plan should include("LocalTableScan")
    plan should not include "BatchScan"
    val r = df.head
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((4L, 3L, 3L))
    (r.getLong(3), r.getLong(4)) shouldBe ((1L, 9L))
    r.getDouble(5) shouldBe -4.5
    r.getAs[java.time.LocalDateTime](6).toString shouldBe "2023-12-25T06:30"
    r.getAs[java.time.LocalDateTime](7).toString shouldBe "2024-03-01T00:00"

    // a filter disables the push (metadata can't answer it) — the scan
    // runs and the result stays exact
    val filtered = spark.sql("SELECT COUNT(*) FROM graft.nsagg.t WHERE id > 1")
    filtered.queryExecution.executedPlan.toString should include("BatchScan")
    filtered.head.getLong(0) shouldBe 3L

    // string min/max never pushes (footer stats may truncate binaries);
    // the ordinary scan answers it
    val smin = spark.sql("SELECT MIN(s) AS m FROM graft.nsagg.t")
    smin.queryExecution.executedPlan.toString should not include "LocalTableScan"
    smin.head.getString(0) shouldBe "a"

    // empty table: count 0, min/max null — still metadata-only
    spark.sql("CREATE TABLE graft.nsagg.empty (id BIGINT, v DOUBLE)")
    val e = spark.sql("SELECT COUNT(*) AS n, MIN(v) AS m FROM graft.nsagg.empty")
    e.queryExecution.executedPlan.toString should include("LocalTableScan")
    val er = e.head
    er.getLong(0) shouldBe 0L
    er.isNullAt(1) shouldBe true

    // group-by keeps the real scan and stays correct
    val g = spark.sql(
      "SELECT s, COUNT(*) AS n FROM graft.nsagg.t GROUP BY s ORDER BY s NULLS FIRST")
    g.queryExecution.executedPlan.toString should not include "LocalTableScan"
    g.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq shouldBe
      Seq((None, 1L), (Some("a"), 1L), (Some("b"), 1L), (Some("z"), 1L))

    // a file where the column is ALL-null still records its null count
    // (ColumnStats(None, None, n)), so min/max skip it as valueless and
    // count(col) subtracts it — both keep pushing, both stay exact
    spark.sql("INSERT INTO graft.nsagg.t VALUES (10, 0.5, 'y', NULL)")
    val tsmin = spark.sql("SELECT COUNT(ts) AS n, MIN(ts) AS m FROM graft.nsagg.t")
    tsmin.queryExecution.executedPlan.toString should include("LocalTableScan")
    tsmin.head.getLong(0) shouldBe 4L
    tsmin.head.getAs[java.time.LocalDateTime](1).toString shouldBe "2023-12-25T06:30"
  }

  test("aggregate pushdown under AS OF answers from the PINNED snapshot") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg5")
    spark.sql("CREATE TABLE graft.nsagg5.t (id BIGINT)")
    spark.sql("INSERT INTO graft.nsagg5.t SELECT id FROM range(0, 10)") // v1
    spark.sql("INSERT INTO graft.nsagg5.t SELECT id FROM range(10, 30)") // v2
    val asOf = spark.sql(
      "SELECT COUNT(*) AS n, MAX(id) AS mx FROM graft.nsagg5.t VERSION AS OF 1")
    asOf.queryExecution.executedPlan.toString should include("LocalTableScan")
    (asOf.head.getLong(0), asOf.head.getLong(1)) shouldBe ((10L, 9L))
    spark.sql("SELECT COUNT(*) FROM graft.nsagg5.t").head.getLong(0) shouldBe 30L
  }

  test("aggregate pushdown stays exact after a partial-file rewrite delete") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg4")
    spark.sql("CREATE TABLE graft.nsagg4.t (id BIGINT, v DOUBLE)")
    // one INSERT = few files; the delete hits a strict subset of one
    // file's rows, forcing the copy-on-write rewrite (not a whole-file
    // drop) — the rewritten group must carry a FRESH summary or the
    // metadata answer below would be stale
    spark.sql("INSERT INTO graft.nsagg4.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql("DELETE FROM graft.nsagg4.t WHERE id >= 90 AND id < 95")
    val r = spark.sql(
      "SELECT COUNT(*) AS n, COUNT(v) AS nv, MIN(id) AS mn, MAX(id) AS mx FROM graft.nsagg4.t")
    r.queryExecution.executedPlan.toString should include("LocalTableScan")
    val row = r.head
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) shouldBe
      ((95L, 95L, 0L, 99L))
  }

  test("aggregate pushdown stays exact across deletes and evolution") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg2")
    spark.sql("CREATE TABLE graft.nsagg2.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nsagg2.t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    spark.sql("DELETE FROM graft.nsagg2.t WHERE id = 3")
    val r = spark.sql(
      "SELECT COUNT(*) AS n, MAX(v) AS mx FROM graft.nsagg2.t")
    r.queryExecution.executedPlan.toString should include("LocalTableScan")
    (r.head.getLong(0), r.head.getDouble(1)) shouldBe ((2L, 20.0))

    // a column added by evolution has no stats in pre-evolution groups:
    // min/max on it must NOT push, and the scan answer stays right
    spark.sql("ALTER TABLE graft.nsagg2.t ADD COLUMN w DOUBLE")
    spark.sql("INSERT INTO graft.nsagg2.t VALUES (4, 40.0, 4.25)")
    val w = spark.sql("SELECT COUNT(w) AS n, MIN(w) AS mn FROM graft.nsagg2.t")
    w.queryExecution.executedPlan.toString should not include "LocalTableScan"
    (w.head.getLong(0), w.head.getDouble(1)) shouldBe ((1L, 4.25))
    // count(*) still pushes after evolution
    val n = spark.sql("SELECT COUNT(*) FROM graft.nsagg2.t")
    n.queryExecution.executedPlan.toString should include("LocalTableScan")
    n.head.getLong(0) shouldBe 3L
  }

  test("key-grouped planning only engages under the v2 bucketing conf") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspj3")
    spark.sql(
      """CREATE TABLE graft.nsspj3.t (k BIGINT, v DOUBLE)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql("INSERT INTO graft.nsspj3.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    import graft.table.{GraftCatalog, TableIdent}
    val tbl = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
      .load(TableIdent("nsspj3", "t"))
    def partitions() = new graft.connector.GraftScanBuilder(tbl, () => tbl.currentOrFail())
      .build().toBatch.planInputPartitions()
    // conf off (default): ParquetScan's size-balanced splitting, NOT
    // one whole-file task per bucket — a plain scan must keep its
    // parallelism dial
    spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    partitions().exists(
      _.isInstanceOf[graft.connector.GraftKeyedFilePartition]) shouldBe false
    // conf on: every task carries its partition key
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val keyed = partitions()
      keyed.length shouldBe 4
      keyed.forall(_.isInstanceOf[graft.connector.GraftKeyedFilePartition]) shouldBe true
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("SPJ stays correct when one side is missing buckets or empty") {
    val conf = spark.conf
    val prevBucketing = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspj2")
      spark.sql(
        """CREATE TABLE graft.nsspj2.fact (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspj2.dim (k BIGINT, label STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
      spark.sql("INSERT INTO graft.nsspj2.fact SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
      // dim holds a SINGLE key -> only one bucket materializes
      spark.sql("INSERT INTO graft.nsspj2.dim VALUES (7, 'seven')")
      val joined = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspj2.fact f
          |JOIN graft.nsspj2.dim d ON f.k = d.k""".stripMargin)
      joined.collect().map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
        Seq((7L, "seven"))

      // empty dim: zero rows, never wrong
      spark.sql("CREATE TABLE graft.nsspj2.emptydim (k BIGINT, label STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      spark.sql(
        """SELECT f.k FROM graft.nsspj2.fact f
          |JOIN graft.nsspj2.emptydim d ON f.k = d.k""".stripMargin)
        .collect().length shouldBe 0

      // mismatched bucket counts must never co-partition: 4- vs 8-bucket
      // tables hash the same key to different buckets
      spark.sql("CREATE TABLE graft.nsspj2.dim8 (k BIGINT, label STRING) " +
        "PARTITIONED BY (bucket(8, k))")
      spark.sql("INSERT INTO graft.nsspj2.dim8 SELECT id, CONCAT('x', id) FROM range(0, 100)")
      val mixed = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspj2.fact f
          |JOIN graft.nsspj2.dim8 d ON f.k = d.k""".stripMargin)
      mixed.collect().length shouldBe 100
    } finally {
      prevBucketing match {
        case Some(v) => conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      prevBroadcast match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("CALL graft.system.verify_table audits metadata against storage") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsvf")
    spark.sql("CREATE TABLE graft.nsvf.t (id BIGINT)")
    spark.sql("INSERT INTO graft.nsvf.t SELECT id FROM range(0, 100)")
    val r = spark.sql("CALL graft.system.verify_table('nsvf', 't')").head
    r.getBoolean(2) shouldBe true
    r.getLong(1) shouldBe 100L

    // corrupt the table: delete a data file behind the metadata's back
    import graft.table.{GraftCatalog, TableIdent}
    val tbl = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
      .load(TableIdent("nsvf", "t"))
    val victim = tbl.currentOrFail().files.find(_.rows > 0).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(tbl.tableDir.toUri.getPath).resolve(victim.path))
    val bad = spark.sql("CALL graft.system.verify_table('nsvf', 't')").head
    bad.getBoolean(2) shouldBe false
    bad.getString(3) should include("missing data file")
  }

  test("CALL graft.system.set_partition_spec evolves the write layout") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nspe")
    spark.sql(
      """CREATE TABLE graft.nspe.t (id BIGINT, ts TIMESTAMP_NTZ)
        |PARTITIONED BY (day(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nspe.t VALUES
        |(1, TIMESTAMP_NTZ '2024-01-01 00:00:00'),
        |(2, TIMESTAMP_NTZ '2024-01-02 00:00:00')""".stripMargin)
    spark.sql("CALL graft.system.set_partition_spec('nspe', 't', 'bucket(8, id)')")
      .head.getString(0) shouldBe "bucket(8, id)"
    spark.sql("INSERT INTO graft.nspe.t VALUES (3, TIMESTAMP_NTZ '2024-02-01 00:00:00')")
    spark.sql("SELECT COUNT(*) FROM graft.nspe.t").head.getLong(0) shouldBe 3L
    spark.sql("SELECT id FROM graft.nspe.t WHERE ts >= TIMESTAMP_NTZ '2024-02-01 00:00:00'")
      .head.getLong(0) shouldBe 3L
    // migrate the remaining old-layout files
    spark.sql("CALL graft.system.compact('nspe', 't', 1)")
    spark.sql("SELECT COUNT(*) FROM graft.nspe.t").head.getLong(0) shouldBe 3L
  }

  test("CALL graft.system.zorder rewrites the layout through SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nszo")
    spark.sql("CREATE TABLE graft.nszo.t (x BIGINT, y BIGINT)")
    spark.sql(
      "INSERT INTO graft.nszo.t SELECT id % 50, id DIV 50 FROM range(0, 2500)")
    val after = spark.sql("CALL graft.system.zorder('nszo', 't', 'x,y', 4)")
      .head.getInt(0)
    after should be >= 4 // 4 data files + the empty create-commit file
    spark.sql("SELECT COUNT(*) FROM graft.nszo.t").head.getLong(0) shouldBe 2500L
    spark.sql("SELECT COUNT(*) FROM graft.nszo.t WHERE x = 7").head.getLong(0) shouldBe 50L
  }

  test("tags pin snapshots: AS OF by name, expiry protection, .refs table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nstag")
    spark.sql("CREATE TABLE graft.nstag.t (id BIGINT)")
    spark.sql("INSERT INTO graft.nstag.t VALUES (1), (2)")        // v1
    spark.sql("CALL graft.system.create_tag('nstag', 't', 'train-v1', -1)")
    spark.sql("INSERT INTO graft.nstag.t VALUES (3)")             // v2
    spark.sql("INSERT INTO graft.nstag.t VALUES (4)")             // v3

    // VERSION AS OF by tag name reads the pinned snapshot
    spark.sql("SELECT COUNT(*) FROM graft.nstag.t VERSION AS OF 'train-v1'")
      .head.getLong(0) shouldBe 2L
    // metadata tables resolve tags too
    spark.sql("SELECT CAST(SUM(rows) AS BIGINT) FROM graft.nstag.t.files VERSION AS OF 'train-v1'")
      .head.getLong(0) shouldBe 2L
    // .refs lists the pin
    val refs = spark.sql("SELECT name, version FROM graft.nstag.t.refs").collect()
    refs.map(r => (r.getString(0), r.getInt(1))).toSeq shouldBe Seq(("train-v1", 1))

    // expiry keeps the tagged version alive while collecting untagged ones
    spark.sql("CALL graft.system.expire_snapshots('nstag', 't', 1)")
    spark.sql("SELECT COUNT(*) FROM graft.nstag.t VERSION AS OF 'train-v1'")
      .head.getLong(0) shouldBe 2L
    // v2 (untagged, not newest) is gone
    intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM graft.nstag.t VERSION AS OF 2").collect()
    }

    // duplicate tags are refused; unknown tags are a clean error
    intercept[Exception] {
      spark.sql("CALL graft.system.create_tag('nstag', 't', 'train-v1', -1)").collect()
    }
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft.nstag.t VERSION AS OF 'nope'").collect()
    }
    err.getMessage should include("unknown tag")

    // direct-API dual of VERSION AS OF '<tag>'
    import graft.table.{GraftCatalog, TableIdent}
    GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
      .load(TableIdent("nstag", "t")).scanAtTag("train-v1").count() shouldBe 2L

    // drop frees the name and the version becomes expirable
    spark.sql("CALL graft.system.drop_tag('nstag', 't', 'train-v1')")
      .head.getBoolean(0) shouldBe true
    spark.sql("SELECT COUNT(*) FROM graft.nstag.t.refs").head.getLong(0) shouldBe 0L
    spark.sql("CALL graft.system.expire_snapshots('nstag', 't', 1)")
    intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM graft.nstag.t VERSION AS OF 1").collect()
    }
  }

  test("MERGE WHEN MATCHED THEN DELETE performs the keyed bulk delete") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsmd")
    spark.sql("CREATE TABLE graft.nsmd.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsmd.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // unmatched source keys (9) are no-ops; matched keys die
    spark.sql("""MERGE INTO graft.nsmd.t t
                |USING (SELECT * FROM VALUES (1L), (3L), (9L) AS s(id)) s
                |ON t.id = s.id
                |WHEN MATCHED THEN DELETE""".stripMargin)
    spark.sql("SELECT id FROM graft.nsmd.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(2L)
    // conditional DELETE routes through the general row merge instead
    spark.sql("""MERGE INTO graft.nsmd.t t
                |USING (SELECT 2L AS id) s ON t.id = s.id
                |WHEN MATCHED AND t.v = 'b' THEN DELETE""".stripMargin)
    spark.sql("SELECT COUNT(*) FROM graft.nsmd.t").head.getLong(0) shouldBe 0L
  }

  test("branches from SQL: the full WAP loop through spark.sql only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nswap")
    spark.sql("CREATE TABLE graft.nswap.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nswap.t VALUES (1, 'a'), (2, 'b')") // v1

    // fork
    val fork = spark.sql(
      "CALL graft.system.create_branch('nswap', 't', 'audit', -1)").head
    (fork.getString(0), fork.getInt(1)) shouldBe ("audit", 1)

    // stage a write on the branch through its SQL identifier
    spark.sql("INSERT INTO graft.nswap.t.branch_audit VALUES (3, 'c')")

    // audit: the branch sees staged rows, main does not
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t.branch_audit")
      .head.getLong(0) shouldBe 3L
    // branch identifiers resolve case-insensitively end to end (the
    // prefix check always did; the name lookup must agree)
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t.BRANCH_AUDIT")
      .head.getLong(0) shouldBe 3L
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t").head.getLong(0) shouldBe 2L
    // VERSION AS OF '<branch>' is the read-only view of the same head
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t VERSION AS OF 'audit'")
      .head.getLong(0) shouldBe 3L
    // .refs lists the branch with its type discriminator
    spark.sql("SELECT name, type FROM graft.nswap.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq should
      contain("audit" -> "BRANCH")

    // publish, then verify main adopted the staged rows
    spark.sql("CALL graft.system.fast_forward('nswap', 't', 'audit')")
      .head.getLong(1) shouldBe 3L
    spark.sql("SELECT id FROM graft.nswap.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)

    // walk away: drop clears the ref
    spark.sql("CALL graft.system.drop_branch('nswap', 't', 'audit')")
      .head.getBoolean(0) shouldBe true
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t.refs WHERE type = 'BRANCH'")
      .head.getLong(0) shouldBe 0L

    // publish guard: main advancing past the fork rejects fast_forward
    spark.sql("CALL graft.system.create_branch('nswap', 't', 'b2', -1)")
    spark.sql("INSERT INTO graft.nswap.t VALUES (9, 'z')")
    val err = intercept[Exception] {
      spark.sql("CALL graft.system.fast_forward('nswap', 't', 'b2')").collect()
    }
    err.getMessage should include("main advanced")

    // merge_branch completes the story where fast_forward cannot:
    // append-only staged work rebases onto the advanced main
    spark.sql("INSERT INTO graft.nswap.t.branch_b2 VALUES (10, 'y')")
    // the branch's own change feed audits exactly what it staged
    spark.sql("""SELECT id, _change_type FROM graft.nswap.t.branch_b2.changes""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((10L, "insert"))
    // ... and the branch change feed resolves case-insensitively too
    spark.sql("""SELECT COUNT(*) FROM graft.nswap.t.Branch_B2.changes""")
      .head.getLong(0) shouldBe 1L
    spark.sql("CALL graft.system.merge_branch('nswap', 't', 'b2')")
      .head.getLong(1) shouldBe 5L
    spark.sql("SELECT COUNT(*) FROM graft.nswap.t").head.getLong(0) shouldBe 5L
  }

  test("CALL graft.system.replicate maintains a replica exactly-once") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsrep")
    spark.sql("CREATE TABLE graft.nsrep.src (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsrep.src VALUES (1, 'a'), (2, 'b')")
    def srcState() = spark.sql("SELECT id, v FROM graft.nsrep.src").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def repState() = spark.sql("SELECT id, v FROM graft.nsrep.rep").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    // bootstrap
    val boot = spark.sql(
      "CALL graft.system.replicate('nsrep', 'src', 'nsrep', 'rep', 'id')").head
    (boot.getInt(0), boot.getString(2)) shouldBe (-1, "bootstrap")
    repState() shouldBe srcState()
    // idempotent when nothing changed
    spark.sql("CALL graft.system.replicate('nsrep', 'src', 'nsrep', 'rep', 'id')")
      .head.getString(2) shouldBe "noop"

    // every mutation kind replicates through one net-apply commit
    spark.sql("""MERGE INTO graft.nsrep.src t
                |USING (SELECT * FROM VALUES (2L, 'B2'), (3L, 'c') AS x(id, v)) x
                |ON t.id = x.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft.nsrep.src WHERE id = 1")
    spark.sql("INSERT INTO graft.nsrep.src VALUES (4, 'd')")
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val rep = cat.load(graft.table.TableIdent("nsrep", "rep"))
    val commitsBefore = rep.currentOrFail().version
    spark.sql("CALL graft.system.replicate('nsrep', 'src', 'nsrep', 'rep', 'id')")
      .head.getString(2) shouldBe "applied"
    repState() shouldBe srcState()
    repState() shouldBe Seq((2L, "B2"), (3L, "c"), (4L, "d"))
    // ONE commit for the whole catch-up (atomic net-apply + marker)
    rep.currentOrFail().version shouldBe commitsBefore + 1
    // the applied source version rides in the replica's own properties
    rep.currentOrFail().properties("graft.replicate.nsrep.src.last-version")
      .toInt shouldBe cat.load(graft.table.TableIdent("nsrep", "src"))
        .currentOrFail().version
    // replay converges without re-applying (exactly-once)
    spark.sql("CALL graft.system.replicate('nsrep', 'src', 'nsrep', 'rep', 'id')")
      .head.getString(2) shouldBe "noop"
    repState() shouldBe srcState()

    // a foreign table with rows but no marker is refused, not clobbered
    spark.sql("CREATE TABLE graft.nsrep.foreign (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsrep.foreign VALUES (9, 'x')")
    val err = intercept[Exception] {
      spark.sql("CALL graft.system.replicate('nsrep', 'src', 'nsrep', 'foreign', 'id')")
        .collect()
    }
    err.getMessage should include("replication marker")
  }

  test("ALTER COLUMN TYPE widens legally and rejects narrowing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nswide")
    spark.sql("CREATE TABLE graft.nswide.t (id INT, score FLOAT, v STRING)")
    spark.sql("INSERT INTO graft.nswide.t VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    spark.sql("ALTER TABLE graft.nswide.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft.nswide.t ALTER COLUMN score TYPE DOUBLE")
    // beyond-int values now insert; OLD int/float files read back upcast
    spark.sql("INSERT INTO graft.nswide.t VALUES (5000000000, 9.5, 'c')")
    spark.sql("SELECT SUM(id) FROM graft.nswide.t").head.getLong(0) shouldBe 5000000003L
    spark.sql("SELECT id, score FROM graft.nswide.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe
      Seq((1L, 1.5), (2L, 2.5), (5000000000L, 9.5))
    // narrowing is rejected — Spark's own up-cast check fires first
    // (NOT_SUPPORTED_CHANGE_COLUMN); the catalog's widens() guard backs
    // it for changes Spark would allow but graft would not
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE graft.nswide.t ALTER COLUMN id TYPE INT")
    }
    err.getMessage should (include("widening") or include("NOT_SUPPORTED_CHANGE_COLUMN"))
  }

  test("multi-field PARTITIONED BY creates, writes, and prunes on both fields") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsmp")
    spark.sql(
      """CREATE TABLE graft.nsmp.t (id BIGINT, ts TIMESTAMP_NTZ, v STRING)
        |PARTITIONED BY (months(ts), bucket(4, id))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsmp.t
        |SELECT id, TIMESTAMP_NTZ '2024-01-15 00:00:00' + make_interval(0, CAST(id % 5 AS INT)),
        |       CONCAT('v', id)
        |FROM range(0, 200)""".stripMargin)
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(graft.table.TableIdent("nsmp", "t"))
    tbl.partitionFields().map(_.fieldName) shouldBe Seq("ts_month", "id_bucket_4")
    val total = tbl.currentOrFail().files.size
    total should be > 4 // month × bucket fan-out actually materialized
    // both dimensions prune the planned file set
    tbl.prunedFiles("ts >= TIMESTAMP_NTZ '2024-03-02' AND ts < TIMESTAMP_NTZ '2024-03-28'")
      .size should be < total
    tbl.prunedFiles("id = 7L").size should be < total
    // and results through SQL are exact
    spark.sql("SELECT COUNT(*) FROM graft.nsmp.t WHERE id = 7").head.getLong(0) shouldBe 1L
    spark.sql(
      """SELECT COUNT(*) FROM graft.nsmp.t
        |WHERE ts >= TIMESTAMP_NTZ '2024-03-01' AND ts < TIMESTAMP_NTZ '2024-04-01'""".stripMargin)
      .head.getLong(0) shouldBe 40L
  }

  test("merge-on-read deletes are applied to SQL reads end to end") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsmor")
    spark.sql(
      """CREATE TABLE graft.nsmor.t (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nsmor.t SELECT id, CONCAT('v', id) FROM range(1, 21)")
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(graft.table.TableIdent("nsmor", "t"))
    val before = tbl.currentOrFail().files.map(_.path).toSet

    // the keyed bulk delete verb goes merge-on-read under the property
    spark.sql(
      """MERGE INTO graft.nsmor.t t
        |USING (SELECT * FROM VALUES (3L), (7L) AS x(id)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    tbl.currentOrFail().files.map(_.path).toSet shouldBe before // zero rewrites
    tbl.currentOrFail().deleteGroups.size shouldBe 1

    // plain SELECT: the resolution rule applies the delete groups
    spark.sql("SELECT COUNT(*) FROM graft.nsmor.t").head.getLong(0) shouldBe 18L
    spark.sql("SELECT id FROM graft.nsmor.t WHERE id < 10 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq shouldBe
      Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L)
    // DELETE FROM ... WHERE records a predicate delete group (no rewrite)
    spark.sql("DELETE FROM graft.nsmor.t WHERE id >= 18")
    tbl.currentOrFail().files.map(_.path).toSet shouldBe before
    spark.sql("SELECT COUNT(*) FROM graft.nsmor.t").head.getLong(0) shouldBe 15L
    // joins/subqueries read MoR-correct too
    spark.sql(
      """SELECT COUNT(*) FROM graft.nsmor.t a
        |JOIN graft.nsmor.t b ON a.id = b.id""".stripMargin)
      .head.getLong(0) shouldBe 15L
    spark.sql(
      """SELECT COUNT(*) FROM VALUES (1L), (3L), (7L), (9L), (18L) AS x(id)
        |WHERE id IN (SELECT id FROM graft.nsmor.t)""".stripMargin)
      .head.getLong(0) shouldBe 2L
    spark.sql("SELECT (SELECT COUNT(*) FROM graft.nsmor.t) AS n")
      .head.getLong(0) shouldBe 15L
    // EXISTS, a correlated scalar subquery and a LATERAL join: the
    // analyzer resolves each subquery plan through the same rule
    spark.sql(
      """SELECT COUNT(*) FROM VALUES (1L), (3L), (7L), (9L), (18L) AS x(id)
        |WHERE EXISTS (SELECT 1 FROM graft.nsmor.t t WHERE t.id = x.id)""".stripMargin)
      .head.getLong(0) shouldBe 2L
    spark.sql(
      """SELECT (SELECT COUNT(*) FROM graft.nsmor.t t WHERE t.id <= x.id)
        |FROM VALUES (3L), (8L), (20L) AS x(id) ORDER BY x.id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(2L, 6L, 15L)
    spark.sql(
      """SELECT x.id, l.tid FROM VALUES (3L), (7L), (17L) AS x(id),
        |LATERAL (SELECT t.id AS tid FROM graft.nsmor.t t
        |         WHERE t.id BETWEEN x.id AND x.id + 1) l ORDER BY x.id, l.tid""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((3L, 4L), (7L, 8L), (17L, 17L))
    // aggregate pushdown must NOT answer from (overcounting) metadata
    spark.sql("SELECT COUNT(*) FROM graft.nsmor.t").queryExecution
      .executedPlan.toString should not include "GraftAggScan"

    // the .deletes metadata table lists the pending groups
    spark.sql("SELECT seq, kind, detail FROM graft.nsmor.t.deletes ORDER BY seq")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq shouldBe
      Seq(("equality", "keys(id)"), ("predicate", "(`id` >= 18)"))

    // time travel to the MoR state applies its deletes as of then
    val morVersion = tbl.currentOrFail().version
    tbl.compact(1)
    spark.sql(s"SELECT COUNT(*) FROM graft.nsmor.t VERSION AS OF $morVersion")
      .head.getLong(0) shouldBe 15L
    // post-compaction: delete groups purged, native scan resumes
    tbl.currentOrFail().deleteGroups shouldBe empty
    spark.sql("SELECT COUNT(*) FROM graft.nsmor.t").head.getLong(0) shouldBe 15L
  }

  test("DSv2 change feed reads merge-on-read ranges exactly (round-11 refusals gone)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsmor2")
    spark.sql(
      """CREATE TABLE graft.nsmor2.t (id BIGINT)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nsmor2.t SELECT id FROM range(0, 10)")
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(graft.table.TableIdent("nsmor2", "t"))
    spark.sql("DELETE FROM graft.nsmor2.t WHERE id < 3")
    val morV = tbl.currentOrFail().version
    // the MoR delete commit emits its exact pre-image on the delete side
    val feed0 = spark.read.option("startingVersion", "0")
      .table("graft.nsmor2.t.changes")
    feed0.where("_change_type = 'delete'")
      .select("id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 1L, 2L)
    // ...and the whole frame matches the batch changelog row for row
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    frame(feed0) shouldBe frame(tbl.scanChangesBetween(0, morV))
    // appends on top of pending deletes stream raw (fresh seq beats the delete)
    spark.sql("INSERT INTO graft.nsmor2.t VALUES (100)")
    spark.read.option("startingVersion", morV.toString)
      .table("graft.nsmor2.t.changes")
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(100L)
    // the compact commit removes files UNDER pending deletes: its
    // delete side is the materialized pre-image (already-deleted rows
    // are NOT re-emitted), so compaction nets to zero through the feed
    tbl.compact(1)
    val cv = tbl.currentOrFail().version
    val compactFeed = spark.read.option("startingVersion", (cv - 1).toString)
      .option("endingVersion", cv.toString).table("graft.nsmor2.t.changes")
    frame(compactFeed) shouldBe frame(tbl.scanChangesBetween(cv - 1, cv))
    // live rows at compaction: 10 - 3 deleted + 1 appended = 8
    compactFeed.where("_change_type = 'delete'").count() shouldBe 8L
    // skipMaintenance drops the compaction churn from the SAME window
    // (batch and streaming take the option alike) — the CDF
    // dataChange=false analog for stateful consumers
    spark.read.option("startingVersion", (cv - 1).toString)
      .option("endingVersion", cv.toString)
      .option("skipMaintenance", "true")
      .table("graft.nsmor2.t.changes").count() shouldBe 0L
    spark.sql("INSERT INTO graft.nsmor2.t VALUES (200)")
    // full-history replay through the DSv2 feed: inserts minus deletes
    // = the current table, MoR deletes and compaction included
    val all = spark.read.option("startingVersion", "0")
      .table("graft.nsmor2.t.changes")
    val net = all.where("_change_type = 'insert'").select("id")
      .exceptAll(all.where("_change_type = 'delete'").select("id"))
    net.collect().map(_.getLong(0)).toSet shouldBe
      tbl.scan().select("id").collect().map(_.getLong(0)).toSet
    // second read replays the materialized cache (no recompute): the
    // cache dir exists and the result is identical
    assert(tbl.log.fs.exists(
      new org.apache.hadoop.fs.Path(tbl.tableDir, s"_cdc/v$morV/del/_SUCCESS")))
    frame(spark.read.option("startingVersion", "0")
      .option("endingVersion", morV.toString).table("graft.nsmor2.t.changes")) shouldBe
      frame(tbl.scanChangesBetween(0, morV))
    // position-delete commits (dedup_table) flow through the feed too:
    // the duplicate occurrence's pre-image is the delete side
    spark.sql("INSERT INTO graft.nsmor2.t VALUES (200)") // duplicate of 200
    spark.sql("CALL graft.system.dedup_table('nsmor2', 't', '')")
    val dv = tbl.currentOrFail().version
    val dedupFeed = spark.read.option("startingVersion", (dv - 1).toString)
      .option("endingVersion", dv.toString).table("graft.nsmor2.t.changes")
    frame(dedupFeed) shouldBe frame(tbl.scanChangesBetween(dv - 1, dv))
    dedupFeed.where("_change_type = 'delete'").select("id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(200L)
  }

  test("DSv2 change feed spans rename/drop history (physical era names mapped by field id)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsren2")
    spark.sql("CREATE TABLE graft.nsren2.t (id BIGINT, v STRING, junk STRING)")
    spark.sql("INSERT INTO graft.nsren2.t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(graft.table.TableIdent("nsren2", "t"))
    tbl.renameColumn("v", "w")
    tbl.dropColumn("junk")
    spark.sql("INSERT INTO graft.nsren2.t VALUES (3, 'c')")
    // pre-rename files read under their physical names ('v', 'junk'),
    // aliased to the current naming; the dropped column never surfaces
    val feed = spark.read.option("startingVersion", "0")
      .table("graft.nsren2.t.changes")
    feed.columns.toSeq shouldBe Seq("id", "w", "_change_type", "_commit_version")
    feed.select("id", "w", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq shouldBe
      Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 4))
    // column pruning + filters stay correct over the mapped older era
    feed.where("w = 'a'").select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // a rewrite after the rename re-emits old rows under the new naming
    tbl.compact(1)
    val cv = tbl.currentOrFail().version
    val compactFeed = spark.read.option("startingVersion", (cv - 1).toString)
      .table("graft.nsren2.t.changes")
    compactFeed.where("_change_type = 'insert'").select("w").collect()
      .map(_.getString(0)).sorted.toSeq shouldBe Seq("a", "b", "c")
    compactFeed.where("_change_type = 'delete'").count() shouldBe 3L
  }

  test("aggregate pushdown answers GROUP BY partition value from metadata") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg3")
    spark.sql(
      """CREATE TABLE graft.nsagg3.t (region BIGINT, amount DOUBLE, note STRING)
        |PARTITIONED BY (region)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsagg3.t
        |SELECT id % 3, CAST(id AS DOUBLE) + 0.5, CONCAT('r', id) FROM range(0, 30)""".stripMargin)
    spark.sql("INSERT INTO graft.nsagg3.t VALUES (NULL, 99.5, 'nullreg')")

    val g = spark.sql(
      """SELECT region, COUNT(*) AS n, COUNT(amount) AS na,
        |  MIN(amount) AS mn, MAX(amount) AS mx
        |FROM graft.nsagg3.t GROUP BY region ORDER BY region NULLS FIRST""".stripMargin)
    val plan = g.queryExecution.executedPlan.toString
    plan should include("LocalTableScan")
    plan should not include "BatchScan"
    val rows = g.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    rows.toSeq shouldBe Seq(
      (-1L, 1L, 99.5, 99.5),
      (0L, 10L, 0.5, 27.5),
      (1L, 10L, 1.5, 28.5),
      (2L, 10L, 2.5, 29.5))

    // grouping by a NON-partition column keeps the real scan
    val byNote = spark.sql(
      "SELECT note, COUNT(*) AS n FROM graft.nsagg3.t GROUP BY note")
    byNote.queryExecution.executedPlan.toString should not include "LocalTableScan"
    byNote.collect().length shouldBe 31

    // bucket-partitioned tables never push a group-by (bucket ids are
    // not the source values)
    spark.sql(
      """CREATE TABLE graft.nsagg3.b (k BIGINT, v DOUBLE)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql("INSERT INTO graft.nsagg3.b SELECT id, CAST(id AS DOUBLE) FROM range(0, 20)")
    val byK = spark.sql("SELECT k, COUNT(*) AS n FROM graft.nsagg3.b GROUP BY k")
    byK.queryExecution.executedPlan.toString should not include "LocalTableScan"
    byK.collect().length shouldBe 20
  }

  test("grouped pushdown works on identity fields of a multi-field spec") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsaggm")
    spark.sql(
      """CREATE TABLE graft.nsaggm.t (region BIGINT, cat STRING, k BIGINT, v DOUBLE)
        |PARTITIONED BY (region, cat, bucket(4, k))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.nsaggm.t
        |SELECT id % 2, CONCAT('c', id % 3), id, CAST(id AS DOUBLE) + 0.5 FROM range(0, 60)""".stripMargin)

    // the full identity tuple, metadata-only
    val both = spark.sql(
      """SELECT region, cat, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx
        |FROM graft.nsaggm.t GROUP BY region, cat ORDER BY region, cat""".stripMargin)
    both.queryExecution.executedPlan.toString should include("LocalTableScan")
    val rows = both.collect()
    rows.length shouldBe 6
    rows.map(_.getLong(2)).sum shouldBe 60L

    // a SUBSET of the spec's identity fields (order swapped) still pushes
    val byCat = spark.sql(
      "SELECT cat, COUNT(*) AS n FROM graft.nsaggm.t GROUP BY cat ORDER BY cat")
    byCat.queryExecution.executedPlan.toString should include("LocalTableScan")
    byCat.collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("c0", 20L), ("c1", 20L), ("c2", 20L))

    // grouping that includes the bucket SOURCE column keeps the real scan
    val withK = spark.sql(
      "SELECT region, k, COUNT(*) AS n FROM graft.nsaggm.t GROUP BY region, k")
    withK.queryExecution.executedPlan.toString should not include "LocalTableScan"
    withK.collect().length shouldBe 60
  }

  test("grouped pushdown bails on string partition keys with a default partition") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsagg4")
    spark.sql("DROP TABLE IF EXISTS graft.nsagg4.t")
    spark.sql("DROP TABLE IF EXISTS graft.nsagg4.c")
    spark.sql("CREATE TABLE graft.nsagg4.t (k STRING, v DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.nsagg4.t VALUES ('a', 1.0), ('', 2.0), (NULL, 3.0)")
    val g = spark.sql("SELECT k, COUNT(*) AS n FROM graft.nsagg4.t GROUP BY k")
    // '' and NULL share __HIVE_DEFAULT_PARTITION__, so metadata cannot
    // distinguish them — the ordinary scan must answer, and correctly
    g.queryExecution.executedPlan.toString should not include "LocalTableScan"
    g.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet shouldBe
      Set((Some("a"), 1L), (Some(""), 1L), (None, 1L))
    // a string key with NO default partition still pushes
    spark.sql("CREATE TABLE graft.nsagg4.c (k STRING, v DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.nsagg4.c VALUES ('a', 1.0), ('b', 2.0)")
    val c = spark.sql("SELECT k, COUNT(*) AS n FROM graft.nsagg4.c GROUP BY k")
    c.queryExecution.executedPlan.toString should include("LocalTableScan")
    c.collect().map(r => (r.getString(0), r.getLong(1))).toSet shouldBe
      Set(("a", 1L), ("b", 1L))
  }

  test("bloom-filter table properties reach the written parquet files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsbloom")
    spark.sql(
      """CREATE TABLE graft.nsbloom.t (id BIGINT, v DOUBLE)
        |TBLPROPERTIES ('write.parquet.bloom-filter-enabled.column.id'='true',
        |               'write.parquet.bloom-filter-ndv.column.id'='10000')""".stripMargin)
    spark.sql("INSERT INTO graft.nsbloom.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 5000)")

    import graft.table.{GraftCatalog, TableIdent}
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(TableIdent("nsbloom", "t"))
    val file = tbl.currentOrFail().files.find(_.rows > 0L).get
    val path = new org.apache.hadoop.fs.Path(tbl.tableDir, file.path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, new org.apache.hadoop.conf.Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      val idCol = cols.find(_.getPath.toDotString == "id").get
      withClue("bloom filter offset for the enabled column") {
        idCol.getBloomFilterOffset should be > 0L
      }
      cols.find(_.getPath.toDotString == "v").get.getBloomFilterOffset shouldBe -1L
    } finally reader.close()

    // point lookup stays correct through the bloom-aware reader
    spark.sql("SELECT v FROM graft.nsbloom.t WHERE id = 4242")
      .head.getDouble(0) shouldBe 4242.0
  }

  test("limit pushdown caps the planned file set from metadata") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nslim")
    spark.sql("CREATE TABLE graft.nslim.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nslim.t SELECT id, CAST(id AS DOUBLE) FROM range(0, 10)")
    spark.sql("INSERT INTO graft.nslim.t SELECT id, CAST(id AS DOUBLE) FROM range(10, 20)")
    spark.sql("INSERT INTO graft.nslim.t SELECT id, CAST(id AS DOUBLE) FROM range(20, 30)")

    val lim = spark.sql("SELECT * FROM graft.nslim.t LIMIT 5")
    lim.collect().length shouldBe 5
    lim.queryExecution.executedPlan.toString should include("limit=5 caps planned files")

    // the cap is big enough: LIMIT beyond the table returns every row
    spark.sql("SELECT * FROM graft.nslim.t LIMIT 1000").collect().length shouldBe 30

    // a WHERE clause blocks the push (all filters are residual here) —
    // full correctness preserved
    val filtered = spark.sql("SELECT * FROM graft.nslim.t WHERE id >= 25 LIMIT 3")
    filtered.collect().length shouldBe 3
    filtered.queryExecution.executedPlan.toString should not include "caps planned files"
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    val conf = spark.conf
    val prevBucketing = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a real join
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspj")
      spark.sql(
        """CREATE TABLE graft.nsspj.fact (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspj.dim (k BIGINT, label STRING)
          |PARTITIONED BY (bucket(4, k))""".stripMargin)
      spark.sql("INSERT INTO graft.nsspj.fact SELECT id, CAST(id AS DOUBLE) * 1.5 FROM range(0, 200)")
      spark.sql("INSERT INTO graft.nsspj.dim SELECT id, CONCAT('n', id) FROM range(0, 50)")

      val joined = spark.sql(
        """SELECT f.k, f.v, d.label FROM graft.nsspj.fact f
          |JOIN graft.nsspj.dim d ON f.k = d.k""".stripMargin)
      val rows = joined.collect()
      rows.length shouldBe 50
      rows.map(_.getLong(0)).sorted.toSeq shouldBe (0L until 50L)
      // the whole point: no Exchange anywhere in the executed join plan
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange"

      // aggregation on the bucket column also reuses the layout
      val agg = spark.sql(
        "SELECT k, SUM(v) AS sv FROM graft.nsspj.fact GROUP BY k")
      agg.collect().length shouldBe 200
      agg.queryExecution.executedPlan.toString should not include "Exchange"

      // identity-partitioned tables report per-value key grouping too
      spark.sql(
        """CREATE TABLE graft.nsspj.byreg (region BIGINT, amount DOUBLE)
          |PARTITIONED BY (region)""".stripMargin)
      spark.sql(
        "INSERT INTO graft.nsspj.byreg SELECT id % 5, CAST(id AS DOUBLE) FROM range(0, 100)")
      val regAgg = spark.sql(
        "SELECT region, COUNT(*) AS n, SUM(amount) AS s FROM graft.nsspj.byreg GROUP BY region")
      regAgg.collect().map(_.getLong(1)).sum shouldBe 100L
      regAgg.queryExecution.executedPlan.toString should not include "Exchange"

      // sanity: with SPJ disabled the same join shuffles — the zero-
      // Exchange plans above are the feature, not a planner accident
      conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspj.fact f
          |JOIN graft.nsspj.dim d ON f.k = d.k""".stripMargin)
      shuffled.collect().length shouldBe 50
      shuffled.queryExecution.executedPlan.toString should include("Exchange")
    } finally {
      prevBucketing match {
        case Some(v) => conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      prevBroadcast match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("storage-partitioned join engages on the FULL multi-field key tuple") {
    val conf = spark.conf
    val prevBucketing = conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspjm")
      spark.sql(
        """CREATE TABLE graft.nsspjm.fact (region BIGINT, k BIGINT, v DOUBLE)
          |PARTITIONED BY (region, bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspjm.dim (region BIGINT, k BIGINT, label STRING)
          |PARTITIONED BY (region, bucket(4, k))""".stripMargin)
      spark.sql(
        "INSERT INTO graft.nsspjm.fact SELECT id % 3, id, CAST(id AS DOUBLE) FROM range(0, 120)")
      spark.sql(
        "INSERT INTO graft.nsspjm.dim SELECT id % 3, id, CONCAT('n', id) FROM range(0, 40)")

      // join on BOTH partition sources: clustering is provable, no shuffle
      val joined = spark.sql(
        """SELECT f.k, f.v, d.label FROM graft.nsspjm.fact f
          |JOIN graft.nsspjm.dim d ON f.region = d.region AND f.k = d.k""".stripMargin)
      joined.collect().map(_.getLong(0)).sorted.toSeq shouldBe (0L until 40L)
      joined.queryExecution.executedPlan.toString should not include "Exchange"

      // grouping on the full tuple reuses the layout too
      val agg = spark.sql(
        "SELECT region, k, SUM(v) AS sv FROM graft.nsspjm.fact GROUP BY region, k")
      agg.collect().length shouldBe 120
      agg.queryExecution.executedPlan.toString should not include "Exchange"

      // joining on only ONE of the two fields: `region` is pruned from
      // the scan output, so the scan reports the surviving bucket(k)
      // subset and the join still co-locates — partial-key SPJ
      val partial = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspjm.fact f
          |JOIN graft.nsspjm.dim d ON f.k = d.k""".stripMargin)
      partial.collect().length shouldBe 40
      partial.queryExecution.executedPlan.toString should not include "Exchange"
    } finally {
      prevBucketing match {
        case Some(v) => conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      prevBroadcast match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("partial-key SPJ: subset join keys and mixed-domain specs avoid the shuffle") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    conf.set("spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspjp")
      // (a) full-domain spec, join on a SUBSET of the tuple: Spark's
      // subset-join-keys mode groups the reported (region, bucket(k))
      // partitions by k alone — no Exchange on either side
      spark.sql(
        """CREATE TABLE graft.nsspjp.fact (region BIGINT, k BIGINT, v DOUBLE)
          |PARTITIONED BY (region, bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspjp.dim (region BIGINT, k BIGINT, label STRING)
          |PARTITIONED BY (region, bucket(4, k))""".stripMargin)
      spark.sql(
        "INSERT INTO graft.nsspjp.fact SELECT id % 3, id, CAST(id AS DOUBLE) FROM range(0, 120)")
      spark.sql(
        "INSERT INTO graft.nsspjp.dim SELECT id % 3, id, CONCAT('n', id) FROM range(0, 40)")
      val partial = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspjp.fact f
          |JOIN graft.nsspjp.dim d ON f.k = d.k""".stripMargin)
      partial.collect().length shouldBe 40
      partial.queryExecution.executedPlan.toString should not include "Exchange"

      // (b) mixed-domain in practice: `ts` is pruned from the scan
      // output (the query never reads it), so the day field drops from
      // the reported key and the scan groups files by the bucket(k)
      // SUBSET — the canonical days(ts), bucket(k) layout joins on k
      // unshuffled. (day itself became key-domain-reportable in round
      // 14 — the temporal-SPJ test covers the full-tuple case.)
      spark.sql(
        """CREATE TABLE graft.nsspjp.factd (ts TIMESTAMP_NTZ, k BIGINT, v DOUBLE)
          |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspjp.dimd (ts TIMESTAMP_NTZ, k BIGINT, label STRING)
          |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
      spark.sql(
        """INSERT INTO graft.nsspjp.factd
          |SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 5 AS INT)),
          |       id, CAST(id AS DOUBLE) FROM range(0, 120)""".stripMargin)
      spark.sql(
        """INSERT INTO graft.nsspjp.dimd
          |SELECT TIMESTAMP_NTZ '2024-02-01 00:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT)),
          |       id, CONCAT('n', id) FROM range(0, 40)""".stripMargin)
      val mixed = spark.sql(
        """SELECT f.k, d.label FROM graft.nsspjp.factd f
          |JOIN graft.nsspjp.dimd d ON f.k = d.k""".stripMargin)
      mixed.collect().length shouldBe 40
      mixed.queryExecution.executedPlan.toString should not include "Exchange"

      // correctness under the subset grouping: a filter landing on the
      // non-reported day field still prunes and returns exact rows
      spark.sql(
        """SELECT k FROM graft.nsspjp.factd
          |WHERE ts < TIMESTAMP_NTZ '2024-01-02 00:00:00'""".stripMargin)
        .collect().map(_.getLong(0)).sorted.toSeq shouldBe
        (0L until 120L).filter(_ % 5 == 0).toSeq
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // Round-14 SPJ widening: days(ts) joins co-locate on the full
  // (day, bucket) tuple, and a skewed hot bucket splits into several
  // same-key tasks under partially-clustered distribution while the
  // join stays Exchange-free.
  test("SPJ: days(ts) in the key domain and hot-bucket splitting stay Exchange-free") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsspjt")
      // (a) temporal key: both sides day-partitioned, join carries ts —
      // the scan reports days(ts) (resolved through the catalog's V2
      // `days` function) and the join runs with no Exchange
      spark.sql(
        """CREATE TABLE graft.nsspjt.factt (ts TIMESTAMP_NTZ, k BIGINT, v DOUBLE)
          |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspjt.dimt (ts TIMESTAMP_NTZ, k BIGINT, label STRING)
          |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
      spark.sql(
        """INSERT INTO graft.nsspjt.factt
          |SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 5 AS INT)),
          |       id, CAST(id AS DOUBLE) FROM range(0, 120)""".stripMargin)
      spark.sql(
        """INSERT INTO graft.nsspjt.dimt
          |SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 5 AS INT)),
          |       id, CONCAT('n', id) FROM range(0, 40)""".stripMargin)
      val temporal = spark.sql(
        """SELECT f.k, f.ts, d.label FROM graft.nsspjt.factt f
          |JOIN graft.nsspjt.dimt d ON f.ts = d.ts AND f.k = d.k""".stripMargin)
      temporal.collect().map(_.getLong(0)).sorted.toSeq shouldBe (0L until 40L)
      temporal.queryExecution.executedPlan.toString should not include "Exchange"

      // (b) hot-bucket splitting: bucket(2, k) with id%2 keys makes two
      // physical buckets, each fed by several commits (files). Under
      // partially-clustered distribution + a tiny maxPartitionBytes the
      // scan reports one chunk PER FILE (same key), Spark keeps the hot
      // side split and replicates the dim's matching partitions — more
      // tasks than buckets, still no Exchange, exact rows
      conf.set("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      conf.set("spark.sql.files.maxPartitionBytes", "1")
      spark.sql(
        """CREATE TABLE graft.nsspjt.facts (k BIGINT, v DOUBLE)
          |PARTITIONED BY (bucket(2, k))""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.nsspjt.dims (k BIGINT, label STRING)
          |PARTITIONED BY (bucket(2, k))""".stripMargin)
      // three commits → ≥3 files per hot bucket
      for (c <- 0 until 3)
        spark.sql(
          s"INSERT INTO graft.nsspjt.facts SELECT id, CAST(id AS DOUBLE) " +
            s"FROM range(${c * 40}, ${c * 40 + 40})")
      spark.sql(
        "INSERT INTO graft.nsspjt.dims SELECT id, CONCAT('n', id) FROM range(0, 120)")
      val skew = spark.sql(
        """SELECT f.k, f.v, d.label FROM graft.nsspjt.facts f
          |JOIN graft.nsspjt.dims d ON f.k = d.k""".stripMargin)
      skew.collect().map(_.getLong(0)).sorted.toSeq shouldBe (0L until 120L)
      skew.queryExecution.executedPlan.toString should not include "Exchange"
      // the hot side really split: more join tasks than distinct buckets
      skew.rdd.getNumPartitions should be > 2

      // (c) the rest of the temporal family: months(ts) and hours(ts)
      // keys (epoch-relative INTs parsed from the stored strings,
      // resolved through the catalog's months/hours V2 functions) —
      // the full-tuple join runs with no Exchange and exact rows
      conf.set("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
      conf.unset("spark.sql.files.maxPartitionBytes")
      for ((tf, stride) <- Seq(("months", "make_interval(0,CAST(id % 3 AS INT),0,0)"),
                               ("hours", "make_interval(0,0,0,0,CAST(id % 4 AS INT),0,0)"))) {
        spark.sql(s"DROP TABLE IF EXISTS graft.nsspjt.f_$tf")
        spark.sql(s"DROP TABLE IF EXISTS graft.nsspjt.d_$tf")
        spark.sql(
          s"""CREATE TABLE graft.nsspjt.f_$tf (ts TIMESTAMP_NTZ, k BIGINT)
             |PARTITIONED BY ($tf(ts), bucket(2, k))""".stripMargin)
        spark.sql(
          s"""CREATE TABLE graft.nsspjt.d_$tf (ts TIMESTAMP_NTZ, k BIGINT, label STRING)
             |PARTITIONED BY ($tf(ts), bucket(2, k))""".stripMargin)
        spark.sql(
          s"""INSERT INTO graft.nsspjt.f_$tf
             |SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' + $stride, id
             |FROM range(0, 60)""".stripMargin)
        spark.sql(
          s"""INSERT INTO graft.nsspjt.d_$tf
             |SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' + $stride, id, CONCAT('n', id)
             |FROM range(0, 30)""".stripMargin)
        val j = spark.sql(
          s"""SELECT f.k, d.label FROM graft.nsspjt.f_$tf f
             |JOIN graft.nsspjt.d_$tf d ON f.ts = d.ts AND f.k = d.k""".stripMargin)
        withClue(s"transform=$tf ") {
          j.collect().map(_.getLong(0)).sorted.toSeq shouldBe (0L until 30L)
          j.queryExecution.executedPlan.toString should not include "Exchange"
        }
      }

      // (d) ZONED timestamps key on UTC regardless of the session
      // timezone, so they join the SPJ key domain too: write AND read
      // under America/Denver — the derived partition strings are UTC
      // components (exact integer math, no session-tz round trip), the
      // V2 hours() computes the same UTC epoch-hour, and the join is
      // Exchange-free with exact rows even across the DST gap hours.
      val prevTz = conf.get("spark.sql.session.timeZone")
      conf.set("spark.sql.session.timeZone", "America/Denver")
      try {
        spark.sql(
          """CREATE TABLE graft.nsspjt.f_tz (ts TIMESTAMP, k BIGINT)
            |PARTITIONED BY (hours(ts), bucket(2, k))""".stripMargin)
        spark.sql(
          """CREATE TABLE graft.nsspjt.d_tz (ts TIMESTAMP, k BIGINT, label STRING)
            |PARTITIONED BY (hours(ts), bucket(2, k))""".stripMargin)
        // instants straddling Denver's 2024-03-10 02:00 spring-forward
        spark.sql(
          """INSERT INTO graft.nsspjt.f_tz
            |SELECT TIMESTAMP'2024-03-10 08:30:00 UTC' + make_interval(0,0,0,0,CAST(id % 4 AS INT),0,0), id
            |FROM range(0, 60)""".stripMargin)
        spark.sql(
          """INSERT INTO graft.nsspjt.d_tz
            |SELECT TIMESTAMP'2024-03-10 08:30:00 UTC' + make_interval(0,0,0,0,CAST(id % 4 AS INT),0,0), id, CONCAT('n', id)
            |FROM range(0, 30)""".stripMargin)
        val jz = spark.sql(
          """SELECT f.k, d.label FROM graft.nsspjt.f_tz f
            |JOIN graft.nsspjt.d_tz d ON f.ts = d.ts AND f.k = d.k""".stripMargin)
        jz.collect().map(_.getLong(0)).sorted.toSeq shouldBe (0L until 30L)
        jz.queryExecution.executedPlan.toString should not include "Exchange"
      } finally conf.set("spark.sql.session.timeZone", prevTz)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // The scan pruner has always read stored temporal partition strings
  // as UTC; the write path now derives them that way for zoned sources
  // too (previously: session timezone). Under a non-UTC writer session
  // a range predicate must still return exactly the matching rows —
  // a session-tz-shaped key would make the UTC pruner drop live files.
  test("zoned temporal partitions prune correctly under a non-UTC session") {
    val conf = spark.conf
    val prevTz = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nstzp")
      spark.sql(
        """CREATE TABLE graft.nstzp.ev (ts TIMESTAMP, id BIGINT)
          |PARTITIONED BY (day(ts))""".stripMargin)
      // 96 hourly instants spanning four UTC days (Tokyo local dates
      // differ from UTC dates for 9 hours of every day)
      spark.sql(
        """INSERT INTO graft.nstzp.ev
          |SELECT TIMESTAMP'2024-06-01 00:30:00 UTC' + make_interval(0,0,0,0,CAST(id AS INT),0,0), id
          |FROM range(0, 96)""".stripMargin)
      // predicate on a UTC-day boundary: exactly days 2-3 (ids 24..71)
      val got = spark.sql(
        """SELECT id FROM graft.nstzp.ev
          |WHERE ts >= TIMESTAMP'2024-06-02 00:00:00 UTC'
          |  AND ts <  TIMESTAMP'2024-06-04 00:00:00 UTC'""".stripMargin)
        .collect().map(_.getLong(0)).sorted.toSeq
      got shouldBe (24L until 72L)
      // and a Tokyo-local literal resolves to the right instants too
      val gotLocal = spark.sql(
        "SELECT count(*) FROM graft.nstzp.ev WHERE ts < TIMESTAMP'2024-06-02 09:00:00'")
        .head.getLong(0)
      gotLocal shouldBe 24L
    } finally conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("change feed prunes whole files from pushed filters (zone maps)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscdcz")
    spark.sql("CREATE TABLE graft.nscdcz.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nscdcz.t SELECT id, CONCAT('a', id) FROM range(0, 10)")
    spark.sql("INSERT INTO graft.nscdcz.t SELECT id, CONCAT('b', id) FROM range(1000, 1010)")
    val cat = graft.table.GraftCatalog(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(graft.table.TableIdent("nscdcz", "t"))
    val cur = tbl.currentOrFail().version
    import org.apache.spark.sql.sources.GreaterThan
    // plan directly: the v1 file (ids 0..9) is provably disjoint from
    // id > 999 and contributes ZERO partitions
    val parts = graft.connector.GraftCdc.partitionsBetween(
      tbl, 0, cur, tbl.schema, tbl.schema,
      Array(GreaterThan("id", 999L)),
      graft.connector.GraftCdc.MetaPruning.all, tbl.cdcSides)
    parts should not be empty
    parts.collect { case c: graft.connector.GraftCdc.CdcPartition => c.version }
      .toSet shouldBe Set(cur)
    // and the SQL surface returns exactly the surviving rows
    spark.read.option("startingVersion", "0").table("graft.nscdcz.t.changes")
      .where("id > 999").count() shouldBe 10L
  }

  test("a change read of data columns only returns the full read's data columns") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscdcd")
    spark.sql(
      """CREATE TABLE graft.nscdcd.t (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    spark.sql("INSERT INTO graft.nscdcd.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graft.nscdcd.t WHERE id = 2")        // MoR: cached pre-image
    spark.sql("INSERT INTO graft.nscdcd.t VALUES (4, 'd'), (2, 'b')")
    spark.sql("UPDATE graft.nscdcd.t SET v = 'C' WHERE id = 3")
    def changes() = spark.read.option("startingVersion", "0").table("graft.nscdcd.t.changes")
    val full = changes().collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sorted.toSeq
    val dataOnly = changes().select("id", "v")
    // the two CDC columns are pruned from the scan itself
    dataOnly.queryExecution.executedPlan.toString should include("read=id,v, pushed")
    dataOnly.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq shouldBe full
    full should contain allOf((2L, "b"), (3L, "C"))
  }

  test("change feed reads across a type widening (old INT files under the LONG schema)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscdcw")
    spark.sql("CREATE TABLE graft.nscdcw.t (id BIGINT, n INT)")
    spark.sql("INSERT INTO graft.nscdcw.t VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.nscdcw.t ALTER COLUMN n TYPE BIGINT")
    spark.sql("INSERT INTO graft.nscdcw.t VALUES (3, 4000000000)")
    val rows = spark.read.option("startingVersion", "0")
      .table("graft.nscdcw.t.changes")
      .select("id", "n", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    rows shouldBe Seq((1L, 10L), (2L, 20L), (3L, 4000000000L))
  }

  test("FilterRename translates pushable filters to era names, drops unanswerable ones") {
    import org.apache.spark.sql.sources._
    val m = Map("w" -> "v", "id" -> "id") // current w was physically v
    graft.connector.FilterRename(EqualTo("w", "a"), m) shouldBe Some(EqualTo("v", "a"))
    graft.connector.FilterRename(
      And(GreaterThan("id", 1L), In("W", Array("a"))), m) shouldBe
      Some(And(GreaterThan("id", 1L), In("v", Array("a"))))
    // a column with no physical counterpart in the era drops the filter
    graft.connector.FilterRename(EqualTo("added_later", "x"), m) shouldBe None
    graft.connector.FilterRename(
      Or(EqualTo("w", "a"), EqualTo("added_later", "x")), m) shouldBe None
    // era map: salted absent names and era-missing columns are excluded
    import org.apache.spark.sql.types._
    val era = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val cur = StructType(Seq(StructField("id", LongType), StructField("w", StringType),
      StructField("extra", LongType)))
    val em = graft.connector.FilterRename.eraMap(era,
      Some(Seq(("id", cur("id")), ("v", cur("w")), ("__graft_absent_extra", cur("extra")))), cur)
    em shouldBe Map("id" -> "id", "w" -> "v")
  }

  test("cached plans recache after graft-internal writes (no stale serves)") {
    import graft.table.{GraftCatalog, TableIdent}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nscache")
    spark.sql("CREATE TABLE graft.nscache.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.nscache.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    val df = spark.sql("SELECT id, v FROM graft.nscache.t")
    df.cache()
    df.count() shouldBe 3
    // an INTERNAL write (GraftTable API — no Spark write-path cache
    // refresh): GraftV2Table equality is version-blind, so without the
    // commit-listener recache a NEW query over the table would match
    // the cached InMemoryRelation and silently serve the old snapshot
    val cat = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    cat.load(TableIdent("nscache", "t")).deleteWhere("id = 2")
    spark.sql("SELECT id FROM graft.nscache.t").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
    df.unpersist()

    // the MV shape of the same hazard: a cached view read over the MV
    // storage must see the CALL refresh_mview commit
    spark.sql("CREATE TABLE graft.nscache.fact (k BIGINT, g STRING, x DOUBLE)")
    spark.sql("INSERT INTO graft.nscache.fact VALUES (1,'a',5.0),(2,'b',3.0)")
    spark.sql("CALL graft.system.create_mview('nscache', 'agg', " +
      "'SELECT g, SUM(x) AS sx FROM graft.nscache.fact GROUP BY g')")
    val mv = spark.sql("SELECT g, sx FROM graft.nscache.agg")
    mv.cache()
    mv.count() shouldBe 2
    spark.sql("INSERT INTO graft.nscache.fact VALUES (3,'c',7.0)")
    spark.sql("CALL graft.system.refresh_mview('nscache', 'agg', false)")
    spark.sql("SELECT g FROM graft.nscache.agg").collect()
      .map(_.getString(0)).sorted.toSeq shouldBe Seq("a", "b", "c")
    mv.unpersist()
    spark.sql("CALL graft.system.drop_mview('nscache', 'agg')")
    spark.sql("DROP TABLE graft.nscache.fact")
    spark.sql("DROP TABLE graft.nscache.t")
  }

  test("SHOW TABLES, RENAME, and DROP work through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns4")
    spark.sql("CREATE TABLE graft.ns4.a (id BIGINT)")
    spark.sql("INSERT INTO graft.ns4.a VALUES (1)")
    spark.sql("SHOW TABLES IN graft.ns4").collect().map(_.getString(1)) should contain("a")
    // the rename target resolves inside the table's catalog
    spark.sql("ALTER TABLE graft.ns4.a RENAME TO ns4.b")
    spark.sql("SELECT COUNT(*) FROM graft.ns4.b").head.getLong(0) shouldBe 1
    spark.sql("DROP TABLE graft.ns4.b")
    spark.sql("SHOW TABLES IN graft.ns4").count() shouldBe 0
  }
}
