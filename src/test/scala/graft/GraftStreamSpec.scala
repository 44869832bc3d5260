package graft

import java.nio.file.Files

import graft.config.{LoaderConfig, WriteMode}
import graft.streaming.GraftStream
import graft.table.{GraftCatalog, TableIdent}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Structured Streaming → graft table: one micro-batch ⇒ one snapshot,
  * first-batch overwrite semantics, checkpointed batch ids.
  */
class GraftStreamSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def cat() = GraftCatalog(spark, Files.createTempDirectory("graft-stream").toString)

  test("continuous MV maintenance: the changes-driven stream refreshes per drain") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvs")
    spark.sql("CREATE TABLE graft.mvs.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvs.src VALUES (1,'a',1.0), (2,'b',2.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvs','m',
        |'SELECT g, SUM(v) AS t, COUNT(*) AS n FROM graft.mvs.src GROUP BY g')""".stripMargin)
    val wc = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val ckpt = Files.createTempDirectory("mv-ckpt").toString
    def mv: Seq[(String, Double, Long)] =
      spark.sql("SELECT g, t, n FROM graft.mvs.m ORDER BY g").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // backlog committed BEFORE the stream starts must fire the first drain
    spark.sql("INSERT INTO graft.mvs.src VALUES (3,'a',10.0)")
    spark.sql("DELETE FROM graft.mvs.src WHERE id = 2")
    val q1 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvs", "m", ckpt)
    try q1.awaitTermination() finally q1.stop() // AvailableNow stops on drain
    mv shouldBe Seq(("a", 11.0, 2L))
    // restart from the same checkpoint picks up only the new commits
    spark.sql("INSERT INTO graft.mvs.src VALUES (4,'b',7.0)")
    val q2 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvs", "m", ckpt)
    try q2.awaitTermination() finally q2.stop()
    mv shouldBe Seq(("a", 11.0, 2L), ("b", 7.0, 1L))
    spark.sql("CALL graft.system.drop_mview('mvs', 'm')")
  }

  // Round-16 composition: window-mode MVs (affected-group recompute)
  // ride the same changes-driven stream — the fact-only feed fires the
  // refresh, which dispatches to the window arm per the stored mode.
  test("continuous maintenance drives a window-mode MV too") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvsw")
    spark.sql("DROP TABLE IF EXISTS graft.mvsw.src")
    spark.sql("CREATE TABLE graft.mvsw.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvsw.src VALUES (1,'a',5.0),(2,'a',3.0),(3,'b',9.0)")
    val defSql =
      """SELECT g, id, v, rn FROM (
        |  SELECT g, id, v,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
        |  FROM graft.mvsw.src) WHERE rn <= 2""".stripMargin
    spark.sql(
      s"""CALL graft.system.create_mview('mvsw','top2',
         |'${defSql.replace("'", "''")}')""".stripMargin)
      .head.getString(0) shouldBe "window"
    val wc = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val ckpt = Files.createTempDirectory("mvw-ckpt").toString
    def mv: Seq[String] =
      spark.sql("SELECT g, id, v, rn FROM graft.mvsw.top2 ORDER BY g, rn")
        .collect().map(_.toSeq.mkString("|")).toSeq
    // backlog: a new top row for 'a' and a delete retracting b's top
    spark.sql("INSERT INTO graft.mvsw.src VALUES (4,'a',8.0),(5,'b',1.0)")
    spark.sql("DELETE FROM graft.mvsw.src WHERE id = 3")
    val q1 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvsw", "top2", ckpt)
    try q1.awaitTermination() finally q1.stop()
    mv shouldBe spark.sql(s"SELECT g, id, v, rn FROM ($defSql) ORDER BY g, rn")
      .collect().map(_.toSeq.mkString("|")).toSeq
    // restart drains only the new commits
    spark.sql("INSERT INTO graft.mvsw.src VALUES (6,'b',4.0)")
    val q2 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvsw", "top2", ckpt)
    try q2.awaitTermination() finally q2.stop()
    mv shouldBe spark.sql(s"SELECT g, id, v, rn FROM ($defSql) ORDER BY g, rn")
      .collect().map(_.toSeq.mkString("|")).toSeq
    spark.sql("CALL graft.system.drop_mview('mvsw', 'top2')")
    spark.sql("DROP TABLE graft.mvsw.src")
  }

  // Round-17: the CALL spelling of maintainStream — one synchronous
  // drain per CALL, restart-safe through the same checkpoint dir.
  test("CALL maintain_mview drains the backlog like the API") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvcall")
    spark.sql("DROP TABLE IF EXISTS graft.mvcall.src")
    spark.sql("CREATE TABLE graft.mvcall.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvcall.src VALUES (1,'a',1.0),(2,'a',4.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvcall','m',
        |'SELECT g, SUM(v) AS t, COUNT(*) AS n FROM graft.mvcall.src GROUP BY g')""".stripMargin)
    val ckpt = Files.createTempDirectory("mv-call-ckpt").toString
    def mv: Seq[(String, Double, Long)] =
      spark.sql("SELECT g, t, n FROM graft.mvcall.m ORDER BY g").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    spark.sql("INSERT INTO graft.mvcall.src VALUES (3,'b',7.0)")
    spark.sql("DELETE FROM graft.mvcall.src WHERE id = 1")
    val r1 = spark.sql(
      s"CALL graft.system.maintain_mview('mvcall', 'm', '$ckpt')").head
    r1.getString(1) shouldBe "incremental"
    mv shouldBe Seq(("a", 4.0, 1L), ("b", 7.0, 1L))
    // second CALL from the same checkpoint consumes only new commits
    spark.sql("INSERT INTO graft.mvcall.src VALUES (4,'b',2.0)")
    val r2 = spark.sql(
      s"CALL graft.system.maintain_mview('mvcall', 'm', '$ckpt')").head
    r2.getInt(0) should be > r1.getInt(0)
    mv shouldBe Seq(("a", 4.0, 1L), ("b", 9.0, 2L))
    spark.sql("CALL graft.system.drop_mview('mvcall', 'm')")
    spark.sql("DROP TABLE graft.mvcall.src")
  }

  // Round-17: a cascaded (aggregate-over-window) MV's own source is the
  // hidden inner MV's storage, which only moves when the inner
  // refreshes — the stream must watch the inner's BASE relations too,
  // so a base-table commit fires the trigger and the refresh cascades.
  test("maintain_mview drives an auto-cascaded MV from base-table commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvcasc")
    spark.sql("DROP TABLE IF EXISTS graft.mvcasc.src")
    spark.sql("CREATE TABLE graft.mvcasc.src (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvcasc.src VALUES (1,'a',5.0),(2,'a',3.0),(3,'b',9.0)")
    val defSql =
      """SELECT g, SUM(v) AS sp, COUNT(*) AS n FROM (
        |  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY v DESC, id) AS rn
        |  FROM graft.mvcasc.src) WHERE rn <= 2 GROUP BY g""".stripMargin
    spark.sql(
      s"""CALL graft.system.create_mview('mvcasc', 'aow',
         |  '${defSql.replace("'", "''")}')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    def mv: Seq[String] =
      spark.sql("SELECT g, sp, n FROM graft.mvcasc.aow ORDER BY g").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val ckpt = Files.createTempDirectory("mv-casc-ckpt").toString
    // a BASE commit (not an inner-storage commit) must fire the drain
    spark.sql("INSERT INTO graft.mvcasc.src VALUES (4,'b',12.0),(5,'a',7.0)")
    spark.sql(s"CALL graft.system.maintain_mview('mvcasc', 'aow', '$ckpt')")
    mv shouldBe Seq("a|12.0|2", "b|21.0|2")
    // restart from the same checkpoint: only the new base commit drains
    spark.sql("DELETE FROM graft.mvcasc.src WHERE id = 4")
    spark.sql(s"CALL graft.system.maintain_mview('mvcasc', 'aow', '$ckpt')")
    mv shouldBe Seq("a|12.0|2", "b|9.0|1")
    spark.sql("CALL graft.system.drop_mview('mvcasc', 'aow')")
    spark.sql("DROP TABLE graft.mvcasc.src")
  }

  // Round-17: the DUAL cascade — a window-over-aggregate MV's source is
  // the hidden agg MV's storage; a base commit must fire the drain and
  // one maintain call must cascade base -> rollup -> ranks.
  test("maintain_mview drives a window-over-aggregate cascade from base commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvwoas")
    spark.sql("DROP TABLE IF EXISTS graft.mvwoas.src")
    spark.sql("CREATE TABLE graft.mvwoas.src (id BIGINT, g STRING, sub STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.mvwoas.src VALUES " +
      "(1,'a','x',5.0),(2,'a','y',3.0),(3,'b','x',9.0),(4,'a','z',4.0)")
    val defSql =
      """SELECT g, sub, sv, rn FROM (
        |  SELECT g, sub, sv, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY sv DESC, sub) AS rn
        |  FROM (SELECT g, sub, SUM(v) AS sv FROM graft.mvwoas.src
        |        GROUP BY g, sub)) WHERE rn <= 2""".stripMargin
    spark.sql(
      s"""CALL graft.system.create_mview('mvwoas', 'woa',
         |  '${defSql.replace("'", "''")}')""".stripMargin)
      .head.getString(0) shouldBe "window"
    def mv: Seq[String] =
      spark.sql("SELECT g, sub, sv, rn FROM graft.mvwoas.woa ORDER BY g, rn")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val ckpt = Files.createTempDirectory("mv-woas-ckpt").toString
    // a BASE commit (two levels below the window) must fire the drain
    spark.sql("INSERT INTO graft.mvwoas.src VALUES (5,'a','x',6.0),(6,'b','y',1.0)")
    spark.sql(s"CALL graft.system.maintain_mview('mvwoas', 'woa', '$ckpt')")
    mv shouldBe Seq("a|x|11.0|1", "a|z|4.0|2", "b|x|9.0|1", "b|y|1.0|2")
    // restart from the checkpoint: a delete that re-ranks group a
    spark.sql("DELETE FROM graft.mvwoas.src WHERE id = 5")
    spark.sql(s"CALL graft.system.maintain_mview('mvwoas', 'woa', '$ckpt')")
    mv shouldBe Seq("a|x|5.0|1", "a|z|4.0|2", "b|x|9.0|1", "b|y|1.0|2")
    spark.sql("CALL graft.system.drop_mview('mvwoas', 'woa')")
    spark.sql("DROP TABLE graft.mvwoas.src")
  }

  // Round-17: a sharded-fact star-join MV (union legs — one behind a
  // per-leg SELECT — joined to a dim) feeds the stream one source per
  // relation; a commit on a PROJECTED leg or on the dim alone must
  // tick the drain and refresh incrementally through the telescope.
  test("maintain_mview drives a union-join MV from leg and dim commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvuleg")
    for (t <- Seq("s0", "s1", "d")) spark.sql(s"DROP TABLE IF EXISTS graft.mvuleg.$t")
    spark.sql("CREATE TABLE graft.mvuleg.s0 (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("CREATE TABLE graft.mvuleg.s1 (id BIGINT, cat STRING, vh DOUBLE)")
    spark.sql("CREATE TABLE graft.mvuleg.d (dk STRING, grp STRING)")
    spark.sql("INSERT INTO graft.mvuleg.s0 VALUES (1,'x',2.0)")
    spark.sql("INSERT INTO graft.mvuleg.s1 VALUES (2,'y',1.5)")
    spark.sql("INSERT INTO graft.mvuleg.d VALUES ('x','c0'), ('y','c1')")
    spark.sql(
      """CALL graft.system.create_mview('mvuleg','m',
        |'SELECT grp, SUM(v) AS t, COUNT(*) AS n FROM (
        |   SELECT id, g, v FROM graft.mvuleg.s0 UNION ALL
        |   SELECT id, cat AS g, vh * 2.0 AS v FROM graft.mvuleg.s1)
        | JOIN graft.mvuleg.d ON g = dk GROUP BY grp')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    def mv: Seq[String] =
      spark.sql("SELECT grp, t, n FROM graft.mvuleg.m ORDER BY grp").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val ckpt = Files.createTempDirectory("mv-uleg-ckpt").toString
    // a projected-leg-only commit ticks the drain
    spark.sql("INSERT INTO graft.mvuleg.s1 VALUES (3,'x',4.0)")
    spark.sql(s"CALL graft.system.maintain_mview('mvuleg', 'm', '$ckpt')")
    mv shouldBe Seq("c0|10.0|2", "c1|3.0|1")
    // a dim-only re-categorization ticks it too, still incremental
    spark.sql("DELETE FROM graft.mvuleg.d WHERE dk = 'y'")
    spark.sql("INSERT INTO graft.mvuleg.d VALUES ('y','c0')")
    spark.sql(s"CALL graft.system.maintain_mview('mvuleg', 'm', '$ckpt')")
    mv shouldBe Seq("c0|13.0|3")
    spark.sql("CALL graft.system.drop_mview('mvuleg', 'm')")
    for (t <- Seq("s0", "s1", "d")) spark.sql(s"DROP TABLE graft.mvuleg.$t")
  }

  test("maintainStream rejects a checkpoint with a different source arity by name") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvck")
    spark.sql("CREATE TABLE graft.mvck.fact (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("CREATE TABLE graft.mvck.dim (dg STRING, cat STRING)")
    spark.sql("INSERT INTO graft.mvck.dim VALUES ('a','x')")
    spark.sql("INSERT INTO graft.mvck.fact VALUES (1,'a',1.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvck','m',
        |'SELECT cat, SUM(v) AS t FROM graft.mvck.fact
        | JOIN graft.mvck.dim ON g = dg GROUP BY cat')""".stripMargin)
    val wc = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    // a fact-only-era checkpoint: ONE source offset line where the
    // join MV's feed now has two (fact + dim)
    val ckpt = Files.createTempDirectory("mv-ckpt-legacy")
    Files.createDirectories(ckpt.resolve("offsets"))
    Files.writeString(ckpt.resolve("offsets").resolve("0"),
      "v1\n{\"batchWatermarkMs\":0}\n{\"version\":3}\n")
    val e = intercept[IllegalStateException] {
      graft.connector.GraftMaterializedView.maintainStream(
        spark, wc, "graft", "mvck", "m", ckpt.toString)
    }
    e.getMessage should include("FRESH checkpoint")
    e.getMessage should include("2 changelog feed")
    spark.sql("CALL graft.system.drop_mview('mvck', 'm')")
  }

  test("continuous join-MV maintenance: a dim-only commit ticks the stream") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvsj")
    spark.sql("CREATE TABLE graft.mvsj.fact (id BIGINT, g STRING, v DOUBLE)")
    spark.sql("CREATE TABLE graft.mvsj.dim (dg STRING, cat STRING)")
    spark.sql("INSERT INTO graft.mvsj.dim VALUES ('a','x'), ('b','y')")
    spark.sql("INSERT INTO graft.mvsj.fact VALUES (1,'a',1.0), (2,'b',2.0), (3,'b',3.0)")
    spark.sql(
      """CALL graft.system.create_mview('mvsj','m',
        |'SELECT cat, SUM(v) AS t, COUNT(*) AS n
        | FROM graft.mvsj.fact JOIN graft.mvsj.dim ON g = dg
        | GROUP BY cat')""".stripMargin)
    val wc = GraftCatalog(spark, spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val ckpt = Files.createTempDirectory("mvj-ckpt").toString
    def mv: Seq[(String, Double, Long)] =
      spark.sql("SELECT cat, t, n FROM graft.mvsj.m ORDER BY cat").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // a DIM-ONLY commit before the stream starts: 'b' re-categorizes —
    // no fact movement at all, yet the drain must refresh (telescoped)
    spark.sql("DELETE FROM graft.mvsj.dim WHERE dg = 'b'")
    spark.sql("INSERT INTO graft.mvsj.dim VALUES ('b','x')")
    val q1 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvsj", "m", ckpt)
    try q1.awaitTermination() finally q1.stop()
    mv shouldBe Seq(("x", 6.0, 3L))
    // restart: another dim-only move (plus a fact insert) drains both
    spark.sql("INSERT INTO graft.mvsj.dim VALUES ('c','z')")
    spark.sql("INSERT INTO graft.mvsj.fact VALUES (4,'c',10.0)")
    val q2 = graft.connector.GraftMaterializedView.maintainStream(
      spark, wc, "graft", "mvsj", "m", ckpt)
    try q2.awaitTermination() finally q2.stop()
    mv shouldBe Seq(("x", 6.0, 3L), ("z", 10.0, 1L))
    spark.sql("CALL graft.system.drop_mview('mvsj', 'm')")
    spark.sql("DROP TABLE graft.mvsj.fact")
    spark.sql("DROP TABLE graft.mvsj.dim")
  }

  test("each micro-batch commits one append snapshot") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val c = cat()
    val id = TableIdent("ns", "s1")
    val ms = MemoryStream[(Long, String)]
    val q = GraftStream.writer(ms.toDF().toDF("id", "name"), c, id,
        LoaderConfig(writeMode = WriteMode.Append))
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      ms.addData((3L, "c")); q.processAllAvailable()
      val t = c.load(id)
      t.snapshots().size shouldBe 2
      t.snapshots().map(_.operation).distinct shouldBe Seq("append")
      t.scan().count() shouldBe 3
    } finally q.stop()
  }

  test("a replayed micro-batch commits nothing (exactly-once sink)") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "sreplay")
    val cfg = LoaderConfig(writeMode = WriteMode.Append)
    val strat = graft.loader.WriteStrategy.forConfig(cfg)
    def commit(batchId: Long, rows: (Long, String)*): Unit =
      GraftStream.commitBatch(rows.toDF("id", "name"), batchId, c, id, cfg, strat, "q1")
    commit(0L, (1L, "a"))
    commit(1L, (2L, "b"))
    // crash-replay of batch 1: foreachBatch redelivers it — the batch
    // marker in the snapshot properties makes the commit a no-op
    commit(1L, (2L, "b"))
    commit(0L, (1L, "a")) // stale replay from further back: also skipped
    val t = c.load(id)
    t.scan().count() shouldBe 2
    t.snapshots().size shouldBe 2
    t.currentOrFail().properties("graft.stream.q1.last-batch") shouldBe "1"
    // the stream moves on: the next NEW batch commits
    commit(2L, (3L, "c"))
    t.scan().count() shouldBe 3
    // an INDEPENDENT logical stream into the same table is not blocked
    // by q1's marker
    GraftStream.commitBatch(Seq((9L, "z")).toDF("id", "name"), 0L, c, id, cfg, strat, "q2")
    t.scan().count() shouldBe 4
    t.currentOrFail().properties("graft.stream.q2.last-batch") shouldBe "0"
  }

  test("legacy shared stream marker migrates as the floor of a derived id") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "slegacy")
    val cfg = LoaderConfig(writeMode = WriteMode.Append)
    val strat = graft.loader.WriteStrategy.forConfig(cfg)
    // pre-upgrade writer: batches 0 and 1 recorded under the shared key
    GraftStream.commitBatch(Seq((1L, "a")).toDF("id", "name"), 0L, c, id, cfg, strat)
    GraftStream.commitBatch(Seq((2L, "b")).toDF("id", "name"), 1L, c, id, cfg, strat)
    c.load(id).currentOrFail().properties("graft.stream.stream.last-batch") shouldBe "1"
    // post-upgrade restart under a real query id: the crash-recovery
    // replay of batch 1 is still deduplicated via the legacy floor...
    s.sparkContext.setLocalProperty("sql.streaming.queryId", "abc-123")
    try {
      GraftStream.commitBatch(Seq((2L, "b")).toDF("id", "name"), 1L, c, id, cfg, strat)
      c.load(id).scan().count() shouldBe 2 // no duplicate
      // ...and the next new batch commits under the derived marker
      GraftStream.commitBatch(Seq((3L, "c")).toDF("id", "name"), 2L, c, id, cfg, strat)
      val t = c.load(id)
      t.scan().count() shouldBe 3
      t.currentOrFail().properties("graft.stream.q-abc-123.last-batch") shouldBe "2"
      // once the derived marker exists, the legacy key is inert: a
      // replay of batch 2 is skipped by the derived marker itself
      GraftStream.commitBatch(Seq((3L, "c")).toDF("id", "name"), 2L, c, id, cfg, strat)
      t.scan().count() shouldBe 3
      // ...and the first derived-marker commit TOMBSTONED the legacy
      // key, so the migration floor cannot outlive the migration
      t.currentOrFail().properties.get("graft.stream.stream.last-batch") shouldBe None
      // the data-loss mode the floor kept alive is gone with it: a
      // brand-new query (fresh checkpoint, fresh queryId) starts at
      // batch 0 and its early batches LAND instead of being skipped
      s.sparkContext.setLocalProperty("sql.streaming.queryId", "def-456")
      GraftStream.commitBatch(Seq((4L, "d")).toDF("id", "name"), 0L, c, id, cfg, strat)
      c.load(id).scan().count() shouldBe 4
      c.load(id).currentOrFail()
        .properties("graft.stream.q-def-456.last-batch") shouldBe "0"
    } finally s.sparkContext.setLocalProperty("sql.streaming.queryId", null)
  }

  test("overwrite mode: batch 0 overwrites pre-existing data, later batches append") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val c = cat()
    val id = TableIdent("ns", "s2")
    // pre-existing data the stream's FIRST batch must clobber exactly once
    c.ensure(id).append(Seq((100L, "old")).toDF("id", "name"))
    val ms = MemoryStream[(Long, String)]
    val q = GraftStream.writer(ms.toDF().toDF("id", "name"), c, id,
        LoaderConfig(writeMode = WriteMode.Overwrite))
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      ms.addData((1L, "a")); q.processAllAvailable()
      ms.addData((2L, "b")); q.processAllAvailable()
      val ids = c.load(id).scan().select("id").collect().map(_.getLong(0)).sorted
      ids.toSeq shouldBe Seq(1L, 2L) // old row gone once, both batches kept
    } finally q.stop()
  }

  test("load timestamp is stamped on every micro-batch (P4)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val c = cat()
    val id = TableIdent("ns", "s3")
    val ts = java.time.Instant.parse("2024-06-01T00:00:00Z")
    val ms = MemoryStream[(Long, String)]
    val q = GraftStream.writer(ms.toDF().toDF("id", "name"), c, id,
        LoaderConfig(writeMode = WriteMode.Append, loadTimestamp = Some(ts)))
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      ms.addData((1L, "a")); q.processAllAvailable()
      val t = c.load(id)
      t.schema.fieldNames should contain("_load_dttm")
      t.scan().select("_load_dttm").collect()(0).getTimestamp(0).toInstant shouldBe ts
    } finally q.stop()
  }
  // ---- streaming READ of graft tables (source side) -----------------

  private def streamSession(whName: String) = {
    val s = spark
    (s, GraftCatalog(s, TestSpark.warehouse))
  }

  test("readStream.table consumes committed appends incrementally, exactly once per version") {
    val (s, c) = streamSession("graft-src")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns")
    s.sql("CREATE TABLE graft.sns.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.sns.src VALUES (1, 'a'), (2, 'b')")
    val ckpt = Files.createTempDirectory("graft-src-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1") // replay from genesis
      .table("graft.sns.src")
      .writeStream
      .format("memory")
      .queryName("graft_src_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      s.sql("SELECT id FROM graft_src_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L)
      // two more commits while the stream runs: each version consumed once
      s.sql("INSERT INTO graft.sns.src VALUES (3, 'c')")
      s.sql("INSERT INTO graft.sns.src VALUES (4, 'd')")
      q.processAllAvailable()
      val got = s.sql("SELECT id FROM graft_src_sink").collect().map(_.getLong(0)).sorted.toSeq
      got shouldBe Seq(1L, 2L, 3L, 4L) // no gaps, no duplicates
      // source metrics surface the consumer's version lag
      val m = q.recentProgress.last.sources(0).metrics
      m.get("versionsBehind") shouldBe "0"
      m.get("tableVersion") should not be null
    } finally q.stop()
  }

  test("streamStartTimestamp replays commits at or after that moment") {
    val (s, c) = streamSession("graft-ts")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.snts")
    s.sql("CREATE TABLE graft.snts.src (id BIGINT)")
    s.sql("INSERT INTO graft.snts.src VALUES (1)") // v1
    val tbl = c.load(graft.table.TableIdent("snts", "src"))
    val v1Ts = tbl.currentOrFail().timestampMs
    Thread.sleep(5) // later commits get strictly later timestamps
    s.sql("INSERT INTO graft.snts.src VALUES (2)") // v2
    s.sql("INSERT INTO graft.snts.src VALUES (3)") // v3
    val v2Ts = c.load(graft.table.TableIdent("snts", "src"))
      .snapshots().sortBy(_.version).apply(2).timestampMs

    // start strictly after v1 but at v2's exact timestamp: v2 and v3
    // replay (inclusive of commits stamped AT the timestamp — the
    // Iceberg stream-from-timestamp contract), v1 does not
    require(v2Ts > v1Ts)
    val ckpt = Files.createTempDirectory("graft-ts-ckpt").toString
    val q = s.readStream
      .option("streamStartTimestamp", v2Ts.toString)
      .table("graft.snts.src")
      .writeStream.format("memory").queryName("graft_ts_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      s.sql("SELECT id FROM graft_ts_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(2L, 3L)
    } finally q.stop()

    // a timestamp before the first commit replays from genesis
    val ckpt2 = Files.createTempDirectory("graft-ts-ckpt2").toString
    val q2 = s.readStream
      .option("streamStartTimestamp", "0")
      .table("graft.snts.src")
      .writeStream.format("memory").queryName("graft_ts_sink2")
      .option("checkpointLocation", ckpt2).start()
    try {
      q2.processAllAvailable()
      s.sql("SELECT id FROM graft_ts_sink2").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(1L, 2L, 3L)
    } finally q2.stop()
  }

  test("restart from checkpoint: metrics() handles the rehydrated offset") {
    // after a restart the first progress report hands metrics() the
    // offset read back from the offset log (SerializedOffset, not
    // GraftStreamOffset) — must not ClassCastException
    val (s, _) = streamSession("graft-srcr")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.snsr")
    s.sql("CREATE TABLE graft.snsr.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.snsr.src VALUES (1, 'a')")
    val ckpt = Files.createTempDirectory("graft-srcr-ckpt").toString
    val out = Files.createTempDirectory("graft-srcr-out").toString
    def start() = s.readStream
      .option("streamStartVersion", "-1")
      .table("graft.snsr.src")
      .writeStream
      .format("parquet") // memory sink refuses checkpoint recovery
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    s.sql("INSERT INTO graft.snsr.src VALUES (2, 'b')")
    val q2 = start()
    try {
      q2.processAllAvailable()
      q2.recentProgress.last.sources(0).metrics.get("versionsBehind") shouldBe "0"
    } finally q2.stop()
    s.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("stream starts at current version by default; non-append commits abort unless skipped") {
    val (s, c) = streamSession("graft-src2")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns2")
    s.sql("CREATE TABLE graft.sns2.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.sns2.src VALUES (1, 'old')") // before stream start
    val ckpt = Files.createTempDirectory("graft-src2-ckpt").toString
    val q = s.readStream
      .option("streamSkipRewrites", "true")
      .table("graft.sns2.src")
      .writeStream
      .format("memory")
      .queryName("graft_src2_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // default start = current version: pre-existing row NOT replayed
      s.sql("SELECT COUNT(*) FROM graft_src2_sink").head.getLong(0) shouldBe 0L
      s.sql("INSERT INTO graft.sns2.src VALUES (2, 'new')")
      s.sql("DELETE FROM graft.sns2.src WHERE id = 1") // rewrite commit: skipped
      s.sql("INSERT INTO graft.sns2.src VALUES (3, 'newer')")
      s.sql("CALL graft.system.compact('sns2', 'src', 1)") // pure file churn: skipped
      s.sql("INSERT INTO graft.sns2.src VALUES (4, 'newest')")
      q.processAllAvailable()
      val got = s.sql("SELECT id FROM graft_src2_sink").collect().map(_.getLong(0)).sorted.toSeq
      // appends exact; neither the delete's rewrite nor the compaction's
      // rewritten (already-emitted) rows are re-emitted
      got shouldBe Seq(2L, 3L, 4L)
    } finally q.stop()
  }

  test("maxRowsPerTrigger paces catch-up in version-granular batches, no loss") {
    val (s, c) = streamSession("graft-src4")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns4")
    s.sql("CREATE TABLE graft.sns4.src (id BIGINT, v STRING)")
    // backlog of 3 append versions (2 + 2 + 1 rows) before the stream starts
    s.sql("INSERT INTO graft.sns4.src VALUES (1, 'a'), (2, 'b')")
    s.sql("INSERT INTO graft.sns4.src VALUES (3, 'c'), (4, 'd')")
    s.sql("INSERT INTO graft.sns4.src VALUES (5, 'e')")
    val ckpt = Files.createTempDirectory("graft-src4-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .option("maxRowsPerTrigger", "2")
      .table("graft.sns4.src")
      .writeStream
      .format("memory")
      .queryName("graft_src4_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT id FROM graft_src4_sink").collect().map(_.getLong(0)).sorted.toSeq
      got shouldBe Seq(1L, 2L, 3L, 4L, 5L) // complete catch-up, nothing lost
      // admission control split the backlog: ≥3 batches (one per version),
      // not one giant batch over the whole pending range
      val batches = q.recentProgress.count(_.numInputRows > 0)
      batches should be >= 3
      q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).max should be <= 2L
    } finally q.stop()
  }

  test("admission defers a version that would overshoot the cap; oversized first versions go whole") {
    val (s, c) = streamSession("graft-src7")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns7")
    s.sql("CREATE TABLE graft.sns7.src (id BIGINT)")
    s.sql("INSERT INTO graft.sns7.src VALUES (1)") // v: 1 row
    s.sql("INSERT INTO graft.sns7.src VALUES (2), (3), (4), (5)") // v: 4 rows
    val ckpt = Files.createTempDirectory("graft-src7-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .option("maxRowsPerTrigger", "2")
      .table("graft.sns7.src")
      .writeStream
      .format("memory")
      .queryName("graft_src7_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      s.sql("SELECT id FROM graft_src7_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(1L, 2L, 3L, 4L, 5L)
      val sizes = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
      // NOT one 5-row batch: the 1-row version first (the 4-row version
      // would overshoot), then the oversized version alone
      sizes shouldBe Seq(1L, 4L)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in limited batches, then stops") {
    val (s, c) = streamSession("graft-src5")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns5")
    s.sql("CREATE TABLE graft.sns5.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.sns5.src VALUES (1, 'a'), (2, 'b')")
    s.sql("INSERT INTO graft.sns5.src VALUES (3, 'c')")
    val ckpt = Files.createTempDirectory("graft-src5-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .option("maxRowsPerTrigger", "2")
      .table("graft.sns5.src")
      .writeStream
      .format("memory")
      .queryName("graft_src5_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000) shouldBe true // bounded run self-terminates
      val got = s.sql("SELECT id FROM graft_src5_sink").collect().map(_.getLong(0)).sorted.toSeq
      got shouldBe Seq(1L, 2L, 3L)
      // rate limit respected during the drain
      q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).max should be <= 2L
    } finally q.stop()
  }

  test("an expired checkpoint range fails with a clear error, not a missing file") {
    val (s, c) = streamSession("graft-src6")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns6")
    s.sql("CREATE TABLE graft.sns6.src (id BIGINT)")
    s.sql("INSERT INTO graft.sns6.src VALUES (1)")
    s.sql("INSERT INTO graft.sns6.src VALUES (2)")
    s.sql("INSERT INTO graft.sns6.src VALUES (3)")
    // expire everything but the newest snapshot, then ask the stream to
    // replay from genesis: versions 0..2 are gone
    s.sql("CALL graft.system.expire_snapshots('sns6', 'src', 1)")
    for ((relation, i) <- Seq("graft.sns6.src", "graft.sns6.src.changes").zipWithIndex) {
      val ckpt = Files.createTempDirectory("graft-src6-ckpt").toString
      val q = s.readStream
        .option("streamStartVersion", "-1")
        .table(relation)
        .writeStream
        .format("memory")
        .queryName(s"graft_src6_sink$i")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        withClue(relation) {
          ex.getMessage should include("expire_snapshots")
          ex.getMessage should include("fresh checkpoint")
        }
      } finally q.stop()
    }
  }

  test("a metadata-only commit passes through the table stream in either mode") {
    val (s, _) = streamSession("graft-src8")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns8")
    s.sql("CREATE TABLE graft.sns8.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.sns8.src VALUES (1, 'a')")
    val qs = Seq("false", "true").map { skip =>
      s.readStream
        .option("streamStartVersion", "-1")
        .option("streamSkipRewrites", skip)
        .table("graft.sns8.src")
        .writeStream.format("memory").queryName(s"graft_src8_skip_$skip")
        .option("checkpointLocation", Files.createTempDirectory("graft-src8-ckpt").toString)
        .start()
    }
    try {
      qs.foreach(_.processAllAvailable())
      // a partition-spec change rewrites no file and changes no row
      s.sql("CALL graft.system.set_partition_spec('sns8', 'src', 'bucket(4, id)')")
      s.sql("INSERT INTO graft.sns8.src VALUES (2, 'b')")
      qs.foreach(_.processAllAvailable())
      for (skip <- Seq("false", "true"))
        withClue(s"streamSkipRewrites=$skip") {
          s.sql(s"SELECT id FROM graft_src8_skip_$skip").collect().map(_.getLong(0))
            .sorted.toSeq shouldBe Seq(1L, 2L)
        }
    } finally qs.foreach(_.stop())
  }

  test("skip mode skips dedup and delete-maintenance commits; default mode names the skip") {
    val (s, c) = streamSession("graft-src9")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns9")
    s.sql(
      """CREATE TABLE graft.sns9.src (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    s.sql("INSERT INTO graft.sns9.src VALUES (1, 'a'), (1, 'a'), (2, 'b')")
    def start(skip: Boolean, sink: String) = s.readStream
      .option("streamStartVersion", "-1")
      .option("streamSkipRewrites", skip.toString)
      .table("graft.sns9.src")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", Files.createTempDirectory("graft-src9-ckpt").toString)
      .start()
    val q = start(skip = true, "graft_src9_sink")
    try {
      q.processAllAvailable()
      s.sql("CALL graft.system.dedup_table('sns9', 'src', '')")    // rows removed only
      s.sql("INSERT INTO graft.sns9.src VALUES (3, 'c')")
      s.sql("DELETE FROM graft.sns9.src WHERE id = 2")             // two MoR deletes
      s.sql("DELETE FROM graft.sns9.src WHERE id = 3")
      s.sql("CALL graft.system.compact_deletes('sns9', 'src')")    // no visible change
      s.sql("CALL graft.system.rewrite_deletes('sns9', 'src')")    // no visible change
      s.sql("INSERT INTO graft.sns9.src VALUES (4, 'd')")
      c.load(TableIdent("sns9", "src")).snapshots().map(_.operation) should contain allOf(
        "dedup", "compact-deletes", "rewrite-deletes")
      q.processAllAvailable()
      s.sql("SELECT id FROM graft_src9_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(1L, 1L, 2L, 3L, 4L)
    } finally q.stop()
    // without skip mode the dedup commit aborts, pointing at the skip
    // option rather than claiming the commit inserts rows
    val q2 = start(skip = false, "graft_src9_sink2")
    try {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      ex.getMessage should include("dedup")
      ex.getMessage should include("set streamSkipRewrites=true")
      ex.getMessage should not include "cannot be skipped"
    } finally q2.stop()
  }

  test("merging appends: a table stream from genesis emits each row exactly once") {
    val (s, c) = streamSession("graft-src10")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns10")
    s.sql(
      """CREATE TABLE graft.sns10.src (id BIGINT)
        |TBLPROPERTIES ('graft.manifest.merge-threshold' = '2')""".stripMargin)
    (1 to 4).foreach(i => s.sql(s"INSERT INTO graft.sns10.src VALUES ($i)"))
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .table("graft.sns10.src")
      .writeStream.format("memory").queryName("graft_src10_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft-src10-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      (5 to 7).foreach { i =>
        s.sql(s"INSERT INTO graft.sns10.src VALUES ($i)")
        q.processAllAvailable()
      }
      // the appends really merged manifests: fewer groups than appends
      c.load(TableIdent("sns10", "src")).currentOrFail().fileGroups.size should be <= 2
      s.sql("SELECT id FROM graft_src10_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        (1L to 7L)
    } finally q.stop()
  }

  test("CDC stream consumes every commit kind exactly once, tagged, across restarts") {
    val (s, c) = streamSession("graft-cdc")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdc")
    s.sql("CREATE TABLE graft.scdc.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.scdc.src VALUES (1, 'a'), (2, 'b')") // v1
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val out = Files.createTempDirectory("graft-cdc-out").toString
    def start() = s.readStream
      .option("streamStartVersion", "-1") // genesis: v0's state replays too
      .table("graft.scdc.src.changes")
      .writeStream
      .format("parquet") // restartable sink
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      // a DELETE is consumable by the CDC stream (the append stream
      // aborts or skips it) and arrives tagged
      s.sql("DELETE FROM graft.scdc.src WHERE id = 1")       // v2
      s.sql("INSERT INTO graft.scdc.src VALUES (3, 'c')")    // v3
      q.processAllAvailable()
    } finally q.stop()
    // restart from the checkpoint: new commits only, no re-emission
    s.sql("INSERT INTO graft.scdc.src VALUES (4, 'd')")      // v4
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = s.read.parquet(out)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    // the delete arrived tagged at its commit (file layout decides
    // whether id=2 churns alongside it, so assert semantics, not files)
    got should contain((1L, "delete", 2))
    got.filter(_._2 == "insert").map(_._1) should contain allOf (1L, 2L, 3L, 4L)
    // replay invariant: insert multiset minus delete multiset == table
    val net = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    got.foreach { case (id, ct, _) => net(id) += (if (ct == "insert") 1 else -1) }
    net.filter(_._2 > 0).keys.toSeq.sorted shouldBe
      s.sql("SELECT id FROM graft.scdc.src").collect().map(_.getLong(0)).sorted.toSeq
    // exactly-once: replaying the whole feed as a batch read gives the
    // same multiset (the streaming path emitted each change once)
    val batch = s.read.option("startingVersion", "0")
      .table("graft.scdc.src.changes")
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    batch shouldBe got
  }

  test("CDC batch read matches scanChangesBetween; maxVersionsPerTrigger paces the stream") {
    val (s, c) = streamSession("graft-cdc2")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdc2")
    s.sql("CREATE TABLE graft.scdc2.src (id BIGINT)")
    s.sql("INSERT INTO graft.scdc2.src VALUES (1)")
    s.sql("INSERT INTO graft.scdc2.src VALUES (2)")
    s.sql("DELETE FROM graft.scdc2.src WHERE id = 1")
    s.sql("INSERT INTO graft.scdc2.src VALUES (3)")
    val tbl = c.load(graft.table.TableIdent("scdc2", "src"))
    val cur = tbl.currentOrFail().version
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    // the DSv2 batch surface and the Scala API agree row-for-row
    key(s.read.option("startingVersion", "0").option("endingVersion", cur.toString)
      .table("graft.scdc2.src.changes")
      .select("id", "_change_type", "_commit_version").collect()) shouldBe
      key(tbl.scanChangesBetween(0, cur)
        .select("id", "_change_type", "_commit_version").collect())

    // version-granular pacing: 4 pending versions at 1/trigger = ≥4 batches
    val ckpt = Files.createTempDirectory("graft-cdc2-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .option("maxVersionsPerTrigger", "1")
      .table("graft.scdc2.src.changes")
      .writeStream.format("memory").queryName("graft_cdc2_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000) shouldBe true
      s.sql("SELECT COUNT(*) FROM graft_cdc2_sink").head.getLong(0) shouldBe
        tbl.scanChangesBetween(0, cur).count()
      q.recentProgress.count(_.numInputRows > 0) should be >= 3
    } finally q.stop()
  }

  test("CDC replication: a replica applied from the changes stream tracks the source") {
    val (s, c) = streamSession("graft-cdcr")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdcr")
    s.sql("CREATE TABLE graft.scdcr.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.scdcr.src VALUES (1, 'a'), (2, 'b')")
    val replica = c.ensure(graft.table.TableIdent("scdcr", "replica"))
    val ckpt = Files.createTempDirectory("graft-cdcr-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .table("graft.scdcr.src.changes")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        GraftStream.applyChangesBatch(b.toDF(), replica, Seq("id"))
      }
      .option("checkpointLocation", ckpt)
      .start()
    def srcState() = s.sql("SELECT id, v FROM graft.scdcr.src").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def repState() = replica.scan().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    try {
      q.processAllAvailable()
      repState() shouldBe srcState()
      // updates (upsert commit), deletes, and inserts all replicate
      s.sql("""MERGE INTO graft.scdcr.src t
              |USING (SELECT * FROM VALUES (2L, 'B2'), (3L, 'c') AS x(id, v)) x
              |ON t.id = x.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("DELETE FROM graft.scdcr.src WHERE id = 1")
      s.sql("INSERT INTO graft.scdcr.src VALUES (4, 'd')")
      q.processAllAvailable()
      repState() shouldBe srcState()
      repState() shouldBe Seq((2L, "B2"), (3L, "c"), (4L, "d"))
      // CDC stream reports the same lag metrics as the append stream
      q.recentProgress.last.sources(0).metrics.get("versionsBehind") shouldBe "0"
    } finally q.stop()
    // at-least-once safety: re-applying an already-applied batch
    // converges (net application is idempotent)
    val replay = s.read.option("startingVersion", "0").table("graft.scdcr.src.changes")
    GraftStream.applyChangesBatch(replay, replica, Seq("id"))
    repState() shouldBe srcState()
  }

  // Regression pin for the round-13 virgin-replica CAS: two appliers
  // racing to seed an EMPTY replica both pass the is-empty probe;
  // without requireVirginParent both appends land and the first batch
  // double-applies (duplicate rows). The loser must get the CAS
  // exception and re-net against the winner's snapshot.
  test("virgin-replica seeding race: concurrent appliers net exactly once") {
    import spark.implicits._
    val c = cat()
    // the CAS primitive itself: second virgin-guarded append aborts
    val direct = c.ensure(TableIdent("vrace", "direct"))
    direct.append(Seq((1L, "a")).toDF("id", "g"), requireVirginParent = true)
    val cme = intercept[java.util.ConcurrentModificationException] {
      direct.append(Seq((2L, "b")).toDF("id", "g"), requireVirginParent = true)
    }
    cme.getMessage should include("virgin")
    // and the loser's documented remedy converges: re-net the batch
    GraftStream.applyChangesBatch(
      Seq((2L, "b", "insert", 1)).toDF("id", "g", "_change_type", "_commit_version"),
      direct, Seq("id"))
    direct.scan().count() shouldBe 2

    // the race, end-to-end through applyChangesBatch
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (round <- 0 until 5) {
        val replica = c.ensure(TableIdent("vrace", s"r$round"))
        val batch = (1 to 40).map(i => (i.toLong, s"v$i", "insert", 1))
          .toDF("id", "g", "_change_type", "_commit_version")
          .localCheckpoint()
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val fs = (0 until 2).map { _ =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
              GraftStream.applyChangesBatch(batch, replica, Seq("id"))
            }
          })
        }
        fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        withClue(s"round=$round ") {
          replica.scan().count() shouldBe 40
          replica.scan().select("id").distinct().count() shouldBe 40
        }
      }
    } finally pool.shutdownNow()
  }

  test("CDC batch read null-fills columns added after older commits") {
    val (s, _) = streamSession("graft-cdc4")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdc4")
    s.sql("CREATE TABLE graft.scdc4.src (id BIGINT)")
    s.sql("INSERT INTO graft.scdc4.src VALUES (1)")
    s.sql("ALTER TABLE graft.scdc4.src ADD COLUMN extra BIGINT")
    s.sql("INSERT INTO graft.scdc4.src VALUES (2, 5)")
    val rows = s.read.option("startingVersion", "0")
      .table("graft.scdc4.src.changes")
      .select("id", "extra").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1).toSeq
    rows shouldBe Seq((1L, None), (2L, Some(5L)))
  }

  test("CDC stream maxRowsPerTrigger paces catch-up by change volume") {
    val (s, c) = streamSession("graft-cdc3")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdc3")
    s.sql("CREATE TABLE graft.scdc3.src (id BIGINT)")
    s.sql("INSERT INTO graft.scdc3.src VALUES (1), (2)")
    s.sql("INSERT INTO graft.scdc3.src VALUES (3), (4)")
    s.sql("INSERT INTO graft.scdc3.src VALUES (5)")
    val ckpt = Files.createTempDirectory("graft-cdc3-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .option("maxRowsPerTrigger", "2")
      .table("graft.scdc3.src.changes")
      .writeStream.format("memory").queryName("graft_cdc3_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000) shouldBe true
      s.sql("SELECT id FROM graft_cdc3_sink").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(1L, 2L, 3L, 4L, 5L)
      // version-granular admission split the backlog instead of one batch
      q.recentProgress.count(_.numInputRows > 0) should be >= 3
      q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).max should be <= 2L
    } finally q.stop()
  }

  test("append stream keeps consuming across renames (era-mapped, pinned naming)") {
    val (s, c) = streamSession("graft-src-ren")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.snsren")
    s.sql("CREATE TABLE graft.snsren.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.snsren.src VALUES (1, 'a')")
    val ckpt = Files.createTempDirectory("graft-src-ren-ckpt").toString
    val q = s.readStream
      .option("streamStartVersion", "-1")
      .table("graft.snsren.src")
      .writeStream.format("memory").queryName("graft_src_ren_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // rename mid-stream: the metadata-only commit passes through, and
      // post-rename files (physical name 'w') read back under the
      // stream's PINNED naming ('v') by field id — no abort, no restart
      val tbl = c.load(graft.table.TableIdent("snsren", "src"))
      tbl.renameColumn("v", "w")
      s.sql("INSERT INTO graft.snsren.src VALUES (2, 'b')")
      q.processAllAvailable()
      s.sql("SELECT id, v FROM graft_src_ren_sink").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq shouldBe
        Seq((1L, "a"), (2L, "b"))
    } finally q.stop()
  }

  test("CDC stream crosses MoR deletes and renames over a restart, exactly once") {
    val (s, c) = streamSession("graft-cdc5")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.scdc5")
    s.sql(
      """CREATE TABLE graft.scdc5.src (id BIGINT, v STRING)
        |TBLPROPERTIES ('graft.delete.mode' = 'mor')""".stripMargin)
    s.sql("INSERT INTO graft.scdc5.src VALUES (1, 'a'), (2, 'b')")
    val tbl0 = c.load(graft.table.TableIdent("scdc5", "src"))
    val vIns = tbl0.currentOrFail().version
    val ckpt = Files.createTempDirectory("graft-cdc5-ckpt").toString
    val out = Files.createTempDirectory("graft-cdc5-out").toString
    // project rename-stable columns so the parquet sink keeps one
    // schema across the restart (the data-value mapping is asserted on
    // the batch surface below)
    def start() = s.readStream
      .option("streamStartVersion", "-1")
      .table("graft.scdc5.src.changes")
      .select("id", "_change_type", "_commit_version")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    // while the stream is DOWN: a merge-on-read delete (no file churn —
    // the change is a join, served from the materialized cache), a
    // rename, and a post-rename append
    s.sql("DELETE FROM graft.scdc5.src WHERE id = 1")      // MoR delete
    val tbl = c.load(graft.table.TableIdent("scdc5", "src"))
    val vDel = tbl.currentOrFail().version
    tbl.currentOrFail().deleteGroups should not be empty   // really MoR
    tbl.renameColumn("v", "w")
    s.sql("INSERT INTO graft.scdc5.src VALUES (3, 'c')")   // post-rename
    val vIns2 = tbl.currentOrFail().version
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    got.sorted shouldBe Seq((1L, "insert", vIns), (1L, "delete", vDel),
      (2L, "insert", vIns), (3L, "insert", vIns2)).sorted
    // the delete side carried the exact pre-image VALUE, readable under
    // the post-rename naming
    s.read.option("startingVersion", "0").table("graft.scdc5.src.changes")
      .where("_change_type = 'delete'").select("w").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("a")
  }

  test("skip mode still aborts on upsert: its inserted rows cannot be silently lost") {
    val (s, c) = streamSession("graft-src3")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sns3")
    s.sql("CREATE TABLE graft.sns3.src (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft.sns3.src VALUES (1, 'a')")
    val ckpt = Files.createTempDirectory("graft-src3-ckpt").toString
    val q = s.readStream
      .option("streamSkipRewrites", "true")
      .table("graft.sns3.src")
      .writeStream
      .format("memory")
      .queryName("graft_src3_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // upsert = rewrite churn PLUS new rows (id=2): skipping would lose id=2
      s.sql("""MERGE INTO graft.sns3.src t
              |USING (SELECT * FROM VALUES (1L, 'a2'), (2L, 'b') AS s(id, v)) s
              |ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      ex.getMessage should include("upsert")
      ex.getMessage should include("cannot be skipped")
    } finally q.stop()
  }

}
