package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.table.{GraftCatalog, TableIdent}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Write/read round-trips over a real local-FS warehouse — replaces the
  * reference's MagicMock orchestration tests
  * (`tests/test_iceberg_loader.py`) with end-to-end assertions, per
  * SURVEY §5's plan.
  */
class GraftTableSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def cat() = GraftCatalog(spark, Files.createTempDirectory("graft-test").toString)

  /** Local-FS view of a Hadoop table path for direct nio assertions. */
  private def nio(p: org.apache.hadoop.fs.Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  private def df(rows: (Long, String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "day", "name")
  }

  private val d1 = (1L, "2024-01-01", "a")
  private val d2 = (2L, "2024-01-02", "b")
  private val d3 = (3L, "2024-02-01", "c")

  test("marker CAS: a stale applier aborts instead of double-applying") {
    val t = cat().ensure(TableIdent("ns", "cas"))
    t.append(df(d1, d2), props = Map("marker" -> "5"))
    // a batch derived from marker=5 applies and moves it to 8
    t.applyNetChanges(df().limit(0), df((9L, "2024-03-01", "new")), Seq("id"),
      props = Map("marker" -> "8"), requireParentProps = Map("marker" -> "5"))
    t.currentOrFail().properties("marker") shouldBe "8"
    t.scan().count() shouldBe 3
    // a racing applier that ALSO derived from marker=5 (pure new-key
    // batch: no file conflict to catch it) must abort, not double-apply
    val e = intercept[IllegalArgumentException] {
      t.applyNetChanges(df().limit(0), df((10L, "2024-03-02", "dup")), Seq("id"),
        props = Map("marker" -> "8"), requireParentProps = Map("marker" -> "5"))
    }
    e.getMessage should include("concurrent update")
    t.scan().count() shouldBe 3
    // same guard on the metadata-only marker advance
    intercept[IllegalArgumentException] {
      t.updateProperties(Map("marker" -> "9"),
        requireParentProps = Map("marker" -> "5"))
    }
    t.currentOrFail().properties("marker") shouldBe "8"
    // the winner's successor applies cleanly from the new marker
    t.applyNetChanges(df().limit(0), df((10L, "2024-03-02", "ok")), Seq("id"),
      props = Map("marker" -> "9"), requireParentProps = Map("marker" -> "8"))
    t.scan().count() shouldBe 4
  }

  test("keyed-apply kept-rows join broadcasts the key frame (round-19 plan pin)") {
    // the checkpointed net-key frame has no stats, so without the
    // explicit counted broadcast the rewrite write sort-merge-joined —
    // shuffling every rewritten file to anti-join a batch-sized key
    // list. Capture the fixture's executed plans and pin the shape.
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t = cat().ensure(TableIdent("ns", "bcpin"))
      t.append(df(d1, d2, d3))
      t.applyNetChanges(df().limit(0).select(col("id")),
        df((2L, "2024-01-02", "b2"), (4L, "2024-02-02", "d")), Seq("id"),
        nullSafeKeys = true)
      // QueryExecutionListener fires asynchronously — wait (bounded)
      // for the anti-join statement's plan to arrive
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      // filter to the applyNetChanges kept-rows statement specifically
      // (its _graft_nk_ key rename) so unrelated anti joins from other
      // internal writes in the shared session can't flake this pin
      def anti() = plans.synchronized {
        plans.toVector.filter(p =>
          (p.contains("LeftAnti") || p.contains("left_anti")) &&
            p.contains("_graft_nk_"))
      }
      while (anti().isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val withAnti = anti()
      withAnti should not be empty
      // the kept-rows anti join must be a broadcast, never a sort-merge
      withAnti.foreach { p =>
        p should include("BroadcastHashJoin")
        p should not include "SortMergeJoin"
      }
      t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe
        Seq(1L, 2L, 3L, 4L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("applyNetChanges zone-prunes: files outside the key range carry over") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "netzone"))
    // two files with DISJOINT id ranges on an UNPARTITIONED table
    t.append((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    t.append((1000L to 1100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    val before = t.currentOrFail().files.map(_.path).toSet
    before.size shouldBe 2
    val lowFile = t.currentOrFail().files.find(_.stats("id").max.exists(_.toLong <= 100)).get.path
    // net-apply touching only the 1000s: the low file must survive
    // BYTE-IDENTICAL (zone maps prove it holds no affected key)
    t.applyNetChanges(
      Seq(1001L).toDF("id"),
      Seq((1050L, "updated")).toDF("id", "name"),
      Seq("id"))
    val after = t.currentOrFail().files.map(_.path).toSet
    after should contain(lowFile)
    t.scan().where(col("id") === 1001L).count() shouldBe 0
    t.scan().where(col("id") === 1050L).select("name").head.getString(0) shouldBe "updated"
    t.scan().count() shouldBe 200 // 100 low + 101 high - 1 deleted
  }

  test("append accumulates; snapshots chain by parent id") {
    val t = cat().ensure(TableIdent("ns", "t1"))
    val s1 = t.append(df(d1))
    val s2 = t.append(df(d2, d3))
    t.scan().count() shouldBe 3
    s2.parentId shouldBe Some(s1.snapshotId)
    t.snapshots().map(_.operation) shouldBe Seq("append", "append")
    t.currentOrFail().rowCount shouldBe 3
  }

  test("overwrite replaces all prior files") {
    val t = cat().ensure(TableIdent("ns", "t2"))
    t.append(df(d1, d2))
    t.overwrite(df(d3))
    t.scan().select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("upsert updates matched keys and inserts new ones") {
    val t = cat().ensure(TableIdent("ns", "t3"))
    t.append(df(d1, d2))
    t.upsert(df((2L, "2024-01-02", "B2"), (9L, "2024-03-01", "new")), Seq("id"))
    val out = t.scan().orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    out.toSeq shouldBe Seq((1L, "a"), (2L, "B2"), (9L, "new"))
  }

  test("deleteWhere removes matching rows; partitioned files drop whole") {
    val t = cat().ensure(TableIdent("ns", "t4"), Some("day"))
    t.append(df(d1, d2, d3))
    val before = t.currentOrFail().files.size
    before should be >= 3 // one file per identity partition value
    t.deleteWhere("day < '2024-02-01'")
    t.scan().select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    // whole-partition deletes must not rewrite the surviving file
    val after = t.currentOrFail()
    after.files.map(_.path).toSet.subsetOf(
      t.snapshots().head.files.map(_.path).toSet) shouldBe true
  }

  test("time travel reads historical snapshots by version, id, and timestamp") {
    val t = cat().ensure(TableIdent("ns", "t5"))
    val s0 = t.append(df(d1))
    Thread.sleep(15)
    t.append(df(d2))
    t.scanAsOfVersion(0).count() shouldBe 1
    t.scanAsOf(s0.snapshotId).count() shouldBe 1
    t.scanAsOfTimestamp(s0.timestampMs).count() shouldBe 1
    t.scanAsOfTimestamp(System.currentTimeMillis() + 1000).count() shouldBe 2
    an[IllegalArgumentException] should be thrownBy
      t.scanAsOfTimestamp(s0.timestampMs - 100000)
    t.scan().count() shouldBe 2
  }

  test("scanAppendedBetween returns only new rows; rejects rewrite ranges") {
    val t = cat().ensure(TableIdent("ns", "t5c"))
    t.append(df(d1))
    t.append(df(d2))
    t.append(df(d3))
    t.scanAppendedBetween(0, 2).select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(2L, 3L)
    t.scanAppendedBetween(2, 2).count() shouldBe 0
    t.deleteWhere("id = 1")
    an[IllegalArgumentException] should be thrownBy t.scanAppendedBetween(0, 3)
  }

  test("scanChangesBetween emits per-commit insert/delete rows that replay to the final state") {
    val t = cat().ensure(TableIdent("ns", "t5e"), Some("day"))
    t.append(df(d1, d2))                  // v0: +2 rows
    t.append(df(d3))                      // v1: +1 row
    t.deleteWhere("id = 1")               // v2: whole-partition drop
    t.compact()                           // v3: rewrite, zero net change
    val ch = t.scanChangesBetween(0, 3)
    ch.columns.takeRight(2) shouldBe Array("_change_type", "_commit_version")
    val by = ch.groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    by shouldBe Map(
      (1, "insert") -> 1L,                // d3 appended
      (2, "delete") -> 1L,                // id=1's partition file dropped
      (3, "insert") -> 2L, (3, "delete") -> 2L) // compaction carries rows over
    // replay invariant: v0 state + inserts - deletes == v3 state
    val base = t.scanAsOfVersion(0).select("id")
    val ins = ch.where(col("_change_type") === "insert").select("id")
    val del = ch.where(col("_change_type") === "delete").select("id")
    base.unionAll(ins).exceptAll(del).collect().map(_.getLong(0)).sorted.toSeq shouldBe
      t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq
    // empty range; bad range
    t.scanChangesBetween(2, 2).count() shouldBe 0
    an[IllegalArgumentException] should be thrownBy t.scanChangesBetween(3, 1)
    // deletes across additive evolution read null-filled through the
    // to-version schema
    val e = cat().ensure(TableIdent("ns", "t5f"))
    e.append(df(d1))
    e.evolveSchema(df(d1).withColumn("extra", lit(7L)).schema)
    e.deleteWhere("id = 1")
    val ech = e.scanChangesBetween(0, e.currentOrFail().version)
    val delRow = ech.where(col("_change_type") === "delete").collect()(0)
    delRow.isNullAt(delRow.fieldIndex("extra")) shouldBe true
  }

  test("changelog reads parse manifests proportional to the version window, not the table") {
    // round-20: group-level snapshot diffs (Snapshot.diffByGroup) —
    // manifests shared by adjacent snapshots are never parsed, so a
    // 2-commit window over a 12-group table touches ~2 manifests where
    // the full path-set diff parsed all 12 per commit in the range
    val c = GraftCatalog(spark, Files.createTempDirectory("graft-test").toString)
    val t = c.ensure(TableIdent("ns", "cdcprune"))
    (1 to 12).foreach(i => t.append(df((i.toLong, "2024-01-01", s"n$i"))))
    // fresh handle = cold manifest cache + zeroed parse counter
    val t2 = c.load(TableIdent("ns", "cdcprune"))
    val total = t2.currentOrFail().fileGroups.size
    total shouldBe 12
    t2.scanDataChangesBetween(9, 11).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(11L, 12L)
    val parses = t2.log.manifestParses.get()
    withClue(s"parsed $parses of $total manifests for a 2-commit window: ") {
      parses should be <= 2L
    }
    // scanAppendedBetween over a narrow window: same bound
    val t3 = c.load(TableIdent("ns", "cdcprune"))
    t3.scanAppendedBetween(10, 11).select("id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(12L)
    t3.log.manifestParses.get() should be <= 1L
  }

  test("scanDataChangesBetween skips maintenance churn, keeps real changes") {
    val t = cat().ensure(TableIdent("ns", "t5m"))
    t.append(df(d1, d2))                  // v0: +2
    t.compact()                           // v1: maintenance (churn)
    t.append(df(d3))                      // v2: +1
    t.compact()                           // v3: maintenance
    t.deleteWhere("id = 2")               // v4: -1
    t.compact()                           // v5: maintenance (tail)
    val head = t.currentOrFail().version
    // raw feed replays the compactions; the data feed drops them and
    // keeps ONLY the append and the delete — same net effect
    val raw = t.scanChangesBetween(0, head)
    val data = t.scanDataChangesBetween(0, head)
    raw.count() should be > data.count()
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    // exactly the raw feed minus the maintenance commits (v1/v3/v5) —
    // the CoW delete keeps its file-granular diff shape
    frame(data) shouldBe frame(
      raw.where(col("_commit_version").isin(2, 4)))
    data.where(col("_commit_version").isin(1, 3, 5)).count() shouldBe 0L
    // a maintenance-only window is EMPTY through the data feed (the
    // MV/replica fast path) with the schema intact
    val mo = t.scanDataChangesBetween(4, 5)
    mo.count() shouldBe 0
    mo.columns.takeRight(2) shouldBe Array("_change_type", "_commit_version")
    // dedup is a REAL change (position deletes) — never skipped
    t.append(df(d3)) // duplicate of id=3
    t.dedupTable(Nil)
    val dv = t.currentOrFail().version
    t.scanDataChangesBetween(dv - 1, dv)
      .where(col("_change_type") === "delete").count() shouldBe 1L
    // interleaved maintenance + SCHEMA change: one plan still covers
    // the window (no per-sub-range unions to misalign), old rows
    // null-fill the added column through the era mapping
    val e2 = cat().ensure(TableIdent("ns", "t5n"))
    e2.append(df(d1, d2))                 // v1 (+2)
    e2.compact()                          // v2 maintenance
    e2.evolveSchema(df(d1).withColumn("extra", lit(7L)).schema) // v3
    e2.deleteWhere("id = 1")              // v4 (-1)
    val dch = e2.scanDataChangesBetween(0, e2.currentOrFail().version)
    dch.columns should contain("extra")
    dch.where(col("_commit_version") === 2).count() shouldBe 0L
    // the CoW delete rewrites the 2-row file: file-granular pre-image
    // (2 deletes + 1 re-insert), every old row null-filled on `extra`
    val delR = dch.where(col("_change_type") === "delete").collect()
    delR.length shouldBe 2
    delR.foreach(r => r.isNullAt(r.fieldIndex("extra")) shouldBe true)
  }

  test("branch fork, write, audit, fast-forward: the WAP loop") {
    val t = cat().ensure(TableIdent("ns", "t5g"))
    t.append(df(d1))                                   // main v0
    t.createBranch("audit")
    t.listBranches() shouldBe Seq("audit")
    val b = t.branch("audit")
    b.scan().count() shouldBe 1                        // fork sees main's data
    b.snapshots().map(_.operation) shouldBe Seq("branch")
    b.append(df(d2, d3))                               // staged on the branch
    b.deleteWhere("id = 2")                            // audited + fixed there
    b.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
    t.scan().count() shouldBe 1                        // main untouched so far
    val ff = t.fastForward("audit")                    // publish
    ff.operation shouldBe "fast-forward"
    t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
    // time travel on main still reads the pre-publish state
    t.scanAsOfVersion(0).count() shouldBe 1
    // publish guard: a branch whose fork main has moved past cannot
    // fast-forward (adoption, not merge)
    t.createBranch("late")
    t.append(df(d2))                                   // main advances
    an[IllegalArgumentException] should be thrownBy t.fastForward("late")
    // branch views cannot mint main-scoped refs
    an[IllegalArgumentException] should be thrownBy t.branch("late").createTag("x")
    // drop: the branch disappears; main history is untouched
    t.dropBranch("late")
    t.listBranches() shouldBe Seq("audit")
    an[IllegalArgumentException] should be thrownBy t.branch("late")
  }

  test("mergeBranch rebases append-only branches onto advanced main; rewrites reject") {
    val t = cat().ensure(TableIdent("ns", "t5i"))
    t.append(df(d1))                                   // main v0
    t.createBranch("feature")
    t.branch("feature").append(df(d2))                 // staged append
    t.append(df(d3))                                   // main advances past fork
    intercept[IllegalArgumentException] { t.fastForward("feature") }
    val m = t.mergeBranch("feature")
    m.operation shouldBe "merge"
    t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L, 3L)
    // idempotent: a re-merge adds nothing
    t.mergeBranch("feature").rowCount shouldBe 3
    t.scan().count() shouldBe 3
    t.dropBranch("feature")

    // a branch that rewrote fork-base rows rejects with the op named
    t.createBranch("rw")
    t.branch("rw").deleteWhere("id = 1")
    t.append(df((7L, "2024-03-01", "g")))
    val err = intercept[IllegalStateException] { t.mergeBranch("rw") }
    err.getMessage should include("not append-only")
    err.getMessage should include("delete")
    t.dropBranch("rw")

    // one-sided additive evolution merges: the evolved side's schema
    // wins and the other side's files read null-filled (C2)
    t.createBranch("ev")
    val be = t.branch("ev")
    be.evolveSchema(df(d1).withColumn("extra", lit(1L)).schema)
    be.append(df((4L, "2024-03-02", "h")).withColumn("extra", lit(5L)))
    t.append(df((8L, "2024-03-03", "i")))              // main: append only
    val ms = t.mergeBranch("ev")
    ms.schema.fieldNames should contain("extra")
    t.scan().where(col("id") === 4L).select("extra").head.getLong(0) shouldBe 5L
    t.scan().where(col("id") === 8L).select("extra").head.isNullAt(0) shouldBe true
    t.dropBranch("ev")

    // both sides evolving since the fork is the unresolvable case
    t.createBranch("both")
    t.branch("both").evolveSchema(
      t.schema.add(org.apache.spark.sql.types.StructField("b_only",
        org.apache.spark.sql.types.LongType)))
    t.evolveSchema(t.schema.add(org.apache.spark.sql.types.StructField("m_only",
      org.apache.spark.sql.types.LongType)))
    val err2 = intercept[IllegalStateException] { t.mergeBranch("both") }
    err2.getMessage should include("evolved the schema")

    // merge with main still at the fork degenerates to adoption
    val t2 = cat().ensure(TableIdent("ns", "t5j"))
    t2.append(df(d1))
    t2.createBranch("adopt")
    t2.branch("adopt").append(df(d2))
    t2.mergeBranch("adopt").operation shouldBe "merge"
    t2.scan().count() shouldBe 2

    // the CDC changelog sees a merge as the publish-time insert of the
    // branch's staged rows — staged work is invisible to main's history
    // until the merge commit
    val mv = t2.currentOrFail().version
    val ch = t2.scanChangesBetween(mv - 1, mv)
    ch.where(col("_change_type") === "insert").select("id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(2L)
    ch.where(col("_change_type") === "delete").count() shouldBe 0L

    // after the branch drops, merged files are referenced by MAIN and
    // survive a full orphan sweep
    t2.dropBranch("adopt")
    t2.removeOrphanFiles(olderThanMs = 0)
    t2.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L)
  }

  test("mergeBranch and a racing main append both land via optimistic retry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val c = cat()
    val t = c.ensure(TableIdent("ns", "t5n"))
    t.append(df(d1))
    t.createBranch("race")
    t.branch("race").append(df(d2))
    // two independent handles over the same table dir, committing
    // concurrently: one merges the branch, one appends to main — the
    // optimistic commit loop must land BOTH, in either order
    val h1 = c.load(TableIdent("ns", "t5n"))
    val h2 = c.load(TableIdent("ns", "t5n"))
    val fs = Seq(
      Future(h1.mergeBranch("race")),
      Future(h2.append(df(d3))))
    Await.result(Future.sequence(fs), 60.seconds)
    t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L, 3L)
    t.snapshots().map(_.operation).sorted should contain allOf ("append", "merge")
  }

  test("family-wide liveness: branch-referenced files survive GC until the branch drops") {
    val t = cat().ensure(TableIdent("ns", "t5h"))
    t.append(df(d1))                                   // main v0, file A
    t.createBranch("keepalive")
    val staged = t.branch("keepalive")
    staged.append(df(d2))                              // file B: branch-only
    Thread.sleep(15)
    t.overwrite(df(d3))                                // main v1 drops file A
    // A is expired from main but the branch fork still references it
    t.expireSnapshots(keepLast = 1) shouldBe 1
    staged.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L)
    // orphan GC sees branch files as live: after a full sweep (only
    // committer _SUCCESS markers fall) both views still read intact
    t.removeOrphanFiles(olderThanMs = 0)
    staged.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L)
    t.scan().select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    // ...until the branch drops, then exactly A, B, and the two
    // manifests only the branch still referenced fall
    t.dropBranch("keepalive")
    t.removeOrphanFiles(olderThanMs = 0, dryRun = true) shouldBe 4
    t.removeOrphanFiles(olderThanMs = 0) shouldBe 4
    t.scan().select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("deleteByKeys removes matched keys, prunes partitions, ignores null keys") {
    val t = cat().ensure(TableIdent("ns", "t5k"), Some("day"))
    t.append(df(d1, d2, d3)) // three day-partitions, three files
    val before = t.currentOrFail().files.map(_.path).toSet
    val s = spark
    import s.implicits._
    // delete keyed on the partition source: only d2's partition rewrites
    t.deleteByKeys(Seq(("2024-01-02", 1)).toDF("day", "junk"), Seq("day"))
    t.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
    val after = t.currentOrFail().files.map(_.path).toSet
    // untouched partitions carried verbatim
    after.intersect(before).size shouldBe 2
    // null keys never match; absent keys are a clean error
    t.deleteByKeys(Seq(Option.empty[String]).toDF("day"), Seq("day"))
    t.scan().count() shouldBe 2
    an[IllegalArgumentException] should be thrownBy
      t.deleteByKeys(Seq("x").toDF("nope"), Seq("nope"))
    // nothing matches -> no-op (no phantom rewrite of untouched files)
    val v = t.currentOrFail().version
    t.deleteByKeys(Seq("2099-01-01").toDF("day"), Seq("day"))
    t.currentOrFail().version shouldBe v
    // composite keys: only the exact tuple dies
    val t2 = cat().ensure(TableIdent("ns", "t5l"))
    t2.append(df(d1, d2, d3))
    t2.deleteByKeys(Seq((1L, "a"), (2L, "WRONG")).toDF("id", "name"), Seq("id", "name"))
    t2.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)

    // zone-map pruning on an UNPARTITIONED table: a file whose id range
    // cannot intersect the key set carries over without a rewrite
    val t3 = cat().ensure(TableIdent("ns", "t5m"))
    t3.append(df((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")))
    t3.append(df((100L, "2024-01-02", "x"), (101L, "2024-01-02", "y")))
    val lowFiles = t3.snapshots().head.files.map(_.path).toSet
    t3.deleteByKeys(Seq(101L).toDF("id"), Seq("id"))
    t3.scan().select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      Seq(1L, 2L, 100L)
    lowFiles.subsetOf(t3.currentOrFail().files.map(_.path).toSet) shouldBe true
  }

  test("upsert keyed on the partition source rewrites only touched partitions") {
    val t = cat().ensure(TableIdent("ns", "t5d"), Some("day"))
    t.append(df(d1, d2, d3)) // three day-partitions, three files
    val before = t.currentOrFail().files.map(_.path).toSet
    // source touches only the 2024-01-02 partition
    t.upsert(df((2L, "2024-01-02", "UPDATED")), Seq("day"))
    val after = t.currentOrFail().files
    // untouched partitions carry their files verbatim (no rewrite)
    val carried = after.map(_.path).toSet.intersect(before)
    carried.size shouldBe 2
    t.scan().where("id = 2").select("name").collect()(0).getString(0) shouldBe "UPDATED"
    t.scan().count() shouldBe 3
  }

  test("updateWhere rewrites only partitions the predicate can touch") {
    val t = cat().ensure(TableIdent("ns", "t5u"), Some("day"))
    t.append(df(d1, d2, d3)) // three day-partitions, three files
    val before = t.currentOrFail().files.map(_.path).toSet
    t.updateWhere("day = '2024-01-02'", Map("name" -> "'PATCHED'"))
    val after = t.currentOrFail().files
    after.map(_.path).toSet.intersect(before).size shouldBe 2 // others verbatim
    t.scan().where("id = 2").select("name").collect()(0).getString(0) shouldBe "PATCHED"
    t.scan().count() shouldBe 3
    // no-match predicate: snapshot unchanged (no empty commit)
    val v = t.currentOrFail().version
    t.updateWhere("day = '1999-01-01'", Map("name" -> "'X'"))
    t.currentOrFail().version shouldBe v
  }

  test("clustered rewrite sharpens zone maps so range predicates skip files") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "t5c"))
    // ids deliberately interleaved across appends: every file's id
    // zone map spans nearly the whole domain -> no pruning possible
    (0 until 4).foreach { i =>
      t.append((0L until 400L).filter(_ % 4 == i)
        .sortBy(id => (id * 2654435761L) % 1009) // scramble: every file spans the domain
        .map(id => (id, s"p$id"))
        .toDF("id", "payload"))
    }
    val before = t.prunedFiles("id >= 350").size
    before shouldBe t.currentOrFail().files.size // all files overlap
    t.compactClustered(Seq("id"), targetFiles = 4)
    val filesAfter = t.currentOrFail().files.size
    filesAfter shouldBe 4
    val after = t.prunedFiles("id >= 350").size
    after should be < filesAfter // tight ranges: most files skipped
    // semantics unchanged
    t.scan().count() shouldBe 400
    t.scan().where("id >= 350").count() shouldBe 50
  }

  test("partition-spec evolution: new writes use the new layout, compact migrates") {
    val t = cat().ensure(TableIdent("ns", "tpe"), Some("day"))
    t.append(df(d1, d2, d3)) // three identity day-partitions
    val oldFiles = t.currentOrFail().files
    oldFiles.forall(_.partitionValues.exists(_.contains("day"))) shouldBe true

    // evolve to bucket(4, id): metadata-only, nothing rewritten
    val filesBefore = t.currentOrFail().files.map(_.path).toSet
    t.setPartitionSpec(Some("bucket(4, id)"))
    t.currentOrFail().files.map(_.path).toSet shouldBe filesBefore
    t.currentOrFail().operation shouldBe "set-partition-spec"

    // new appends land in the NEW layout
    t.append(df((10L, "2024-03-01", "j"), (11L, "2024-03-02", "k")))
    val newFiles = t.currentOrFail().files.filterNot(f => filesBefore(f.path))
    newFiles.nonEmpty shouldBe true
    newFiles.forall(_.partitionValues.exists(_.contains("id_bucket_4"))) shouldBe true

    // reads stay correct across BOTH layouts (old files zone-map prune)
    t.scan().count() shouldBe 5
    t.scanWhere("day = '2024-01-02'").select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    t.scanWhere("id = 11").count() shouldBe 1

    // compact rewrites EVERYTHING into the current layout
    t.compact(targetFiles = 1)
    val migrated = t.currentOrFail().files.filter(_.rows > 0)
    migrated.forall(_.partitionValues.exists(_.contains("id_bucket_4"))) shouldBe true
    t.scan().count() shouldBe 5

    // invalid specs are refused before any commit
    an[IllegalArgumentException] should be thrownBy
      t.setPartitionSpec(Some("bucket(4, nope)"))
    an[IllegalArgumentException] should be thrownBy
      t.setPartitionSpec(Some("year(id)")) // transform rejects the type
    // back to unpartitioned: new files carry no partition values
    t.setPartitionSpec(None)
    t.append(df((12L, "2024-04-01", "l")))
    t.scan().count() shouldBe 6
  }

  test("z-order rewrite prunes on EVERY z-column, not just the leading one") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "tz"))
    // a 20x20 grid appended in x-major order: every file spans all of y
    t.append((for (x <- 0L until 20L; y <- 0L until 20L) yield (x, y, s"c$x-$y"))
      .toDF("x", "y", "payload"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // linear clustering on (x, y): y is secondary -> a y-only filter
      // cannot prune (every x-range file holds all y values)
      t.compactClustered(Seq("x", "y"), targetFiles = 8)
      val linearHit = t.prunedFiles("y >= 18").size
      val filesAfter = t.currentOrFail().files.count(_.rows > 0)
      filesAfter shouldBe 8
      linearHit shouldBe filesAfter // no pruning on the secondary column

      // z-order on (x, y): files cover compact regions -> BOTH columns prune
      t.compactZOrder(Seq("x", "y"), targetFiles = 8)
      val zFiles = t.currentOrFail().files.count(_.rows > 0)
      val zHitY = t.prunedFiles("y >= 18").size
      val zHitX = t.prunedFiles("x >= 18").size
      withClue(s"y-hit $zHitY, x-hit $zHitX of $zFiles: ") {
        zHitY should be < zFiles
        zHitX should be < zFiles
      }
      // semantics unchanged
      t.scan().count() shouldBe 400L
      t.scan().where("y >= 18").count() shouldBe 40L
      t.scan().where("x >= 18 AND y >= 18").count() shouldBe 4L
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    // guards: 1 column and non-numeric columns are refused
    an[IllegalArgumentException] should be thrownBy t.compactZOrder(Seq("x"), 4)
    an[IllegalArgumentException] should be thrownBy t.compactZOrder(Seq("x", "payload"), 4)
  }

  test("upsert rejects duplicate source keys, like PyIceberg") {
    val t = cat().ensure(TableIdent("ns", "t5b"))
    t.append(df(d1, d2))
    val dupSource = df((2L, "2024-01-02", "v1"), (2L, "2024-01-02", "v2"))
    val ex = the[IllegalArgumentException] thrownBy t.upsert(dupSource, Seq("id"))
    ex.getMessage should include("duplicate keys")
    t.scan().count() shouldBe 2 // nothing committed
  }

  test("partitioned write shape: one file per tuple, tuples written in parallel tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val t = cat().ensure(TableIdent("ns", "wshape"), Some("bucket(8, id)"))
    t.append((0L until 400L).map(i => (i, "2024-01-01", s"v$i")).toDF("id", "day", "name"))
    val before = t.currentOrFail().files.map(_.path).toSet
    before.size shouldBe 8

    // the tasks that wrote rows for jobs tagged as the upsert's
    val upsertStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.op") == "upsert"))
          e.stageIds.foreach(upsertStages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (upsertStages.contains(e.stageId) && e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.add(e.taskInfo.taskId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.op", "upsert")
      // copy-on-write (a tiny rewrite stays under the MoR threshold):
      // every bucket holds a key, so all 8 files rewrite
      try t.upsert((0L until 400L by 2).map(i => (i, "2024-01-02", s"u$i"))
        .toDF("id", "day", "name"), Seq("id"))
      finally sc.setLocalProperty("graft.test.op", null)
      eventually(timeout(Span(30, Seconds))) { writers.size should be > 1 }
    } finally sc.removeSparkListener(listener)
    val after = t.currentOrFail().files
    after.map(_.path).toSet.intersect(before) shouldBe empty
    after.size shouldBe 8
    t.scan().count() shouldBe 400
    t.scan().where("name LIKE 'u%'").count() shouldBe 200

    // one partition tuple still lands in one task: one file
    val d = cat().ensure(TableIdent("ns", "wshape_day"), Some("day(ts)"))
    d.append(spark.range(0, 200, 1, 4).select(col("id"),
      lit(java.sql.Timestamp.valueOf("2024-03-05 10:00:00")).as("ts")))
    d.currentOrFail().files.size shouldBe 1
  }

  test("schema evolution: scan null-fills files written before the new column") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "t6"))
    t.append(Seq((1L, "x")).toDF("id", "name"))
    t.evolveSchema(Seq((0L, "", 9.9)).toDF("id", "name", "score").schema)
    t.append(Seq((2L, "y", 1.5)).toDF("id", "name", "score"))
    val rows = t.scan().orderBy("id").collect()
    rows.length shouldBe 2
    rows(0).isNullAt(2) shouldBe true
    rows(1).getDouble(2) shouldBe 1.5
    t.currentOrFail().schemaVersion shouldBe 1
  }

  test("expireSnapshots keepLast edge cases mirror maintenance.py:56-74") {
    val t = cat().ensure(TableIdent("ns", "t7"))
    (1 to 4).foreach(i => t.append(df((i.toLong, s"2024-01-0$i", "x"))))
    t.expireSnapshots(keepLast = -1) shouldBe 0 // negative ⇒ no-op
    t.expireSnapshots(keepLast = 0) shouldBe 0  // zero ⇒ no-op, not IOOBE
    t.expireSnapshots(keepLast = 10) shouldBe 0 // fewer than keepLast ⇒ no-op
    t.expireSnapshots(keepLast = 2) shouldBe 2
    t.snapshots().size shouldBe 2
    t.scan().count() shouldBe 4 // current data untouched
  }

  test("expireSnapshots olderThanMs: explicit cutoff, newest always survives") {
    val t = cat().ensure(TableIdent("ns", "t7b"))
    (1 to 3).foreach { i =>
      t.append(df((i.toLong, "2024-01-01", "x")))
      Thread.sleep(15) // distinct wall-clock timestamps per snapshot
    }
    val snaps = t.snapshots().sortBy(_.timestampMs)
    // cutoff right after the 2nd snapshot: expires the first two only
    t.expireSnapshots(olderThanMs = Some(snaps(1).timestampMs)) shouldBe 2
    t.snapshots().size shouldBe 1
    t.scan().count() shouldBe 3
    // cutoff after everything: the newest snapshot still survives
    t.expireSnapshots(olderThanMs = Some(Long.MaxValue)) shouldBe 0
    t.snapshots().size shouldBe 1
  }

  test("expireSnapshots garbage-collects files only old snapshots referenced") {
    val t = cat().ensure(TableIdent("ns", "t8"))
    t.append(df(d1))
    t.overwrite(df(d2)) // s0's file now referenced by nothing current
    val orphan = t.snapshots().head.files.head.path
    Files.exists(nio(t.tableDir).resolve(orphan)) shouldBe true
    t.expireSnapshots(keepLast = 1) shouldBe 1
    Files.exists(nio(t.tableDir).resolve(orphan)) shouldBe false
    t.scan().count() shouldBe 1
  }

  test("removeOrphanFiles deletes only unreferenced files past the cutoff") {
    val t = cat().ensure(TableIdent("ns", "t9a"))
    t.append(df(d1, d2))
    // plant fakes: an orphan data file and an orphan manifest
    val orphanData = nio(t.tableDir).resolve("data").resolve("dead").resolve("part-x.parquet")
    Files.createDirectories(orphanData.getParent)
    Files.writeString(orphanData, "junk")
    val orphanManifest = nio(t.tableDir).resolve("_meta").resolve("m-deadbeef.json")
    Files.writeString(orphanManifest, """{"files":[]}""")
    // fresh files survive a 1-day cutoff...
    t.removeOrphanFiles() shouldBe 0
    // ...but fall to an immediate cutoff (alongside _SUCCESS/.crc
    // markers, which are legitimately unreferenced); referenced data
    // files are untouched
    t.removeOrphanFiles(olderThanMs = -1000) should be >= 2
    Files.exists(orphanData) shouldBe false
    Files.exists(orphanManifest) shouldBe false
    t.scan().count() shouldBe 2
  }

  test("change-feed cache lifecycle: expire + orphan sweeps, live caches kept") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "tcdc"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    val morV = t.currentOrFail().version
    // materialize the MoR diff cache through the planning surface
    t.cdcSides(morV).delCache should not be empty
    val cacheDir = nio(t.tableDir).resolve(s"_cdc/v$morV")
    Files.exists(cacheDir) shouldBe true
    // live version: neither sweep touches the cache
    t.removeOrphanFiles(olderThanMs = -1000)
    Files.exists(cacheDir) shouldBe true
    // plant a crashed materialization and a cache for a version the
    // log never had — both orphans under an immediate cutoff
    val tmpDir = nio(t.tableDir).resolve("_cdc/.tmp-del-deadbeef")
    Files.createDirectories(tmpDir)
    Files.writeString(tmpDir.resolve("part-x.parquet"), "junk")
    val ghost = nio(t.tableDir).resolve("_cdc/v999/del")
    Files.createDirectories(ghost)
    t.removeOrphanFiles(olderThanMs = -1000) should be >= 2
    Files.exists(tmpDir) shouldBe false
    Files.exists(ghost) shouldBe false
    Files.exists(cacheDir) shouldBe true
    // expiring the version sweeps its cache along
    t.append(Seq((9L, "z")).toDF("id", "v"))
    t.compact(1) // purge the delete group so old versions can expire
    t.expireSnapshots(keepLast = 1) should be >= 1
    Files.exists(cacheDir) shouldBe false
  }

  test("warehouse given as a file:// URI commits through the Hadoop FS API") {
    val wh = "file://" + Files.createTempDirectory("graft-uri")
    val c = GraftCatalog(spark, wh)
    val t = c.ensure(TableIdent("ns", "turi"), Some("day"))
    t.append(df(d1, d2))
    t.append(df(d3))
    t.currentOrFail().version shouldBe 1
    t.scan().count() shouldBe 3
    t.deleteWhere("id = 2")
    t.scan().count() shouldBe 2
    t.log.createTag("pin", 1)
    t.log.tag("pin") shouldBe Some(1)
    val (files, rows, issues) = t.verifyIntegrity()
    files should be >= 2
    rows shouldBe 2
    issues shouldBe empty
    c.listTables("ns") should contain(TableIdent("ns", "turi"))
  }

  test("string identity partition never conflates '' with null (Hive default-partition encoding)") {
    val t = cat().ensure(TableIdent("ns", "thive"), Some("name"))
    val s = spark
    import s.implicits._
    t.append(Seq((1L, "2024-01-01", ""), (2L, "2024-01-01", null.asInstanceOf[String]),
      (3L, "2024-01-01", "x")).toDF("id", "day", "name"))
    // '' rows land in __HIVE_DEFAULT_PARTITION__ alongside nulls; pruning
    // must not treat the stored null partition value as proof of row nulls
    t.scan().where("name IS NOT NULL").count() shouldBe 2
    t.scan().where("name = ''").count() shouldBe 1
    t.scan().where("name IS NULL").count() shouldBe 1
    // the delete-whole-file fast path may not claim the conflated file
    t.deleteWhere("name IS NULL")
    t.scan().count() shouldBe 2
    t.scan().where("name = ''").count() shouldBe 1
    t.scan().where("name IS NULL").count() shouldBe 0
  }

  test("upsert keyed on a string partition column rewrites the conflated null/'' file") {
    val t = cat().ensure(TableIdent("ns", "thup"), Some("name"))
    val s = spark
    import s.implicits._
    t.append(Seq((1L, "2024-01-01", ""), (3L, "2024-01-01", "x"))
      .toDF("id", "day", "name"))
    // the ''-keyed row lives in a file whose stored partition value is
    // null; partition-pruned upsert must still rewrite it
    t.upsert(Seq((10L, "2024-01-02", "")).toDF("id", "day", "name"), Seq("name"))
    val rows = t.scan().select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    rows shouldBe Set((10L, ""), (3L, "x"))
  }

  test("relativize round-trips minted paths and rejects paths outside the root") {
    import graft.table.FooterStats.relativize
    import org.apache.hadoop.fs.{Path => HPath}
    // the invariant orphan GC depends on: minting then matching is exact
    for (base <- Seq("/tmp/wh/ns/t", "file:/tmp/wh/ns/t", "/tmp/wh/ns/t/");
         rel <- Seq("data/c1/part-0.parquet", "data/x=1/part.parquet", "_meta/v00000001.json"))
      relativize(base, new HPath(s"file:/tmp/wh/ns/t/$rel")) shouldBe rel
    // component boundary: /tmp/wh/ns/t2 is NOT under /tmp/wh/ns/t
    intercept[IllegalArgumentException] {
      relativize("/tmp/wh/ns/t", new HPath("/tmp/wh/ns/t2/part.parquet"))
    }
    intercept[IllegalArgumentException] {
      relativize("/tmp/wh/ns/t", new HPath("/elsewhere/part.parquet"))
    }
    // same layout on a DIFFERENT store must not relativize: scheme and
    // authority each disqualify on their own
    intercept[IllegalArgumentException] {
      relativize("file:/tmp/wh/ns/t", new HPath("hdfs:/tmp/wh/ns/t/part.parquet"))
    }
    intercept[IllegalArgumentException] {
      relativize("hdfs://nn1:8020/wh/t", new HPath("hdfs://nn2:8020/wh/t/part.parquet"))
    }
  }

  test("relative warehouse root: commits, fsck, and orphan GC all relativize") {
    // a relative root exercises the construction-time qualification:
    // listings return fully-qualified file:/cwd/... paths that can only
    // prefix-match a qualified base (round-8 advice, FooterStats:68)
    val relRoot = s"graft-rel-wh-${System.nanoTime()}"
    val c = GraftCatalog(spark, relRoot)
    try {
      c.warehouse.toUri.getScheme shouldBe "file"
      c.warehouse.toUri.getPath should startWith("/")
      val t = c.ensure(TableIdent("ns", "trel"))
      t.append(df(d1, d2))
      t.scan().count() shouldBe 2
      val (files, rows, issues) = t.verifyIntegrity()
      issues shouldBe empty
      rows shouldBe 2
      files should be >= 1
      t.removeOrphanFiles() shouldBe 0
    } finally c.fs.delete(c.warehouse, true)
  }

  test("local metadata IO is checksum-free (no .crc sidecars in _meta)") {
    // Hadoop's ChecksumFileSystem taxes every metadata read/write on
    // file:// roots (round-8 regression: q43/q50/q81 at 2.4-3.9x); the
    // raw-FS route must leave no .crc sidecars behind
    val t = cat().ensure(TableIdent("ns", "tcrc"))
    t.append(df(d1))
    t.deleteWhere("id = 1")
    t.log.createTag("pin", 0)
    val metaDir = nio(t.tableDir).resolve("_meta")
    val crcs = Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    crcs shouldBe empty
  }

  test("rename refuses an occupied destination and reports filesystem failure") {
    val c = cat()
    val from = TableIdent("ns", "rsrc")
    c.ensure(from).append(df(d1))
    // bare directory at the destination (ensure() that never committed):
    // Hadoop rename would move the source INTO it — must refuse instead
    c.ensure(TableIdent("ns", "rdst"))
    val e = intercept[IllegalArgumentException] {
      c.rename(from, TableIdent("ns", "rdst"))
    }
    e.getMessage should include("destination directory already exists")
    // source untouched by the refused rename
    c.load(from).scan().count() shouldBe 1
    // a clean destination works
    c.rename(from, TableIdent("ns", "rdst2"))
    c.exists(from) shouldBe false
    c.load(TableIdent("ns", "rdst2")).scan().count() shouldBe 1
  }

  test("verifyIntegrity audits 10^4 files through the distributed stat path") {
    import graft.meta.{DataFile, MetadataLog, Snapshot}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-verify10k")
    val dataDir = dir.resolve("data").resolve("synthetic")
    Files.createDirectories(dataDir)
    val n = 10000 // far above FooterJobThreshold (512): must run as a Spark job
    val entries = (0 until n).map { i =>
      val name = f"part-$i%05d.parquet"
      Files.write(dataDir.resolve(name), Array[Byte](1))
      DataFile(s"data/synthetic/$name", 1L, 1L, None)
    }
    val schema = StructType(Seq(StructField("id", LongType)))
    val log = new MetadataLog(dir)
    val group = log.writeManifest(entries, Some(schema))
    log.commit(_ => Snapshot(0, 1L, None, 0L, "append", schema, 0, None, Map.empty, Seq(group)))
    val tbl = new graft.table.GraftTable(spark,
      new org.apache.hadoop.fs.Path(dir.toUri), log)
    val t0 = System.nanoTime()
    val (files, rows, issues) = tbl.verifyIntegrity()
    val secs = (System.nanoTime() - t0) / 1e9
    files shouldBe n
    rows shouldBe n.toLong
    issues shouldBe empty
    secs should be < 60.0 // "completes in seconds", not a driver-sequential crawl
    // damage two files: one missing, one size-drifted — both found
    Files.delete(dataDir.resolve("part-00007.parquet"))
    Files.write(dataDir.resolve("part-00042.parquet"), Array[Byte](1, 2, 3))
    val (_, _, issues2) = tbl.verifyIntegrity()
    issues2.toSet shouldBe Set(
      "missing data file: data/synthetic/part-00007.parquet",
      "data/synthetic/part-00042.parquet: size 3 != recorded 1")
  }

  test("removeOrphanFiles GCs 10^4 orphans through the distributed delete path") {
    import graft.meta.{DataFile, MetadataLog, Snapshot}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-orphan10k")
    val dataDir = dir.resolve("data").resolve("crashed-commit")
    Files.createDirectories(dataDir)
    // one live file the snapshot references...
    val liveDir = dir.resolve("data").resolve("live")
    Files.createDirectories(liveDir)
    Files.write(liveDir.resolve("part-live.parquet"), Array[Byte](1))
    val live = DataFile("data/live/part-live.parquet", 1L, 1L, None)
    // ...and 10^4 unreferenced leftovers of a "crashed compaction" —
    // far above FooterJobThreshold (512): deletes must run as a Spark job
    val n = 10000
    (0 until n).foreach { i =>
      Files.write(dataDir.resolve(f"part-$i%05d.parquet"), Array[Byte](1))
    }
    val schema = StructType(Seq(StructField("id", LongType)))
    val log = new MetadataLog(dir)
    val group = log.writeManifest(Seq(live), Some(schema))
    log.commit(_ => Snapshot(0, 1L, None, 0L, "append", schema, 0, None, Map.empty, Seq(group)))
    val tbl = new graft.table.GraftTable(spark,
      new org.apache.hadoop.fs.Path(dir.toUri), log)
    // dry-run plans every orphan but deletes nothing
    tbl.removeOrphanFiles(olderThanMs = -1000, dryRun = true) shouldBe n
    Files.list(dataDir).count() shouldBe n.toLong
    val t0 = System.nanoTime()
    tbl.removeOrphanFiles(olderThanMs = -1000) shouldBe n
    val secs = (System.nanoTime() - t0) / 1e9
    Files.list(dataDir).count() shouldBe 0L
    Files.exists(liveDir.resolve("part-live.parquet")) shouldBe true
    secs should be < 60.0 // executor-parallel deletes, not a driver crawl
    val (files, _, issues) = tbl.verifyIntegrity()
    files shouldBe 1
    issues shouldBe empty
  }

  test("compactBySize derives the file count from table bytes") {
    val t = cat().ensure(TableIdent("ns", "t9b"))
    (1 to 4).foreach(i => t.append(df((i.toLong, "2024-01-01", s"n$i"))))
    val total = t.currentOrFail().files.map(_.sizeBytes).sum
    t.compactBySize(targetBytes = total * 2) // everything fits one file
    t.currentOrFail().files.size shouldBe 1
    t.scan().count() shouldBe 4
  }

  test("createOrReplaceView exposes the table to spark.sql") {
    val t = cat().ensure(TableIdent("ns", "t9c"))
    t.append(df(d1, d2, d3))
    t.createOrReplaceView("graft_view_t9c")
    spark.sql("SELECT COUNT(*) AS n FROM graft_view_t9c WHERE day >= '2024-01-02'")
      .collect()(0).getLong(0) shouldBe 2
  }

  test("compact shrinks file count without changing data") {
    val t = cat().ensure(TableIdent("ns", "t9"))
    (1 to 4).foreach(i => t.append(df((i.toLong, "2024-01-01", s"n$i"))))
    val before = t.currentOrFail().files.size
    t.compact(targetFiles = 1)
    val after = t.currentOrFail().files.size
    after should be < before
    t.scan().count() shouldBe 4
  }

  test("partition pruning touches a strict subset of files") {
    val t = cat().ensure(TableIdent("ns", "t10"), Some("month(ts)"))
    val s = spark
    import s.implicits._
    val data = Seq(
      (1L, java.time.LocalDateTime.of(2024, 1, 5, 0, 0)),
      (2L, java.time.LocalDateTime.of(2024, 2, 5, 0, 0)),
      (3L, java.time.LocalDateTime.of(2024, 3, 5, 0, 0))).toDF("id", "ts")
    t.append(data)
    val total = t.currentOrFail().files.size
    val pruned = t.prunedFiles("ts >= '2024-03-01'")
    pruned.size should be < total
    t.scanWhere("ts >= '2024-03-01'").select("id").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("bucket partitioning prunes on equality with int-vs-long literal coercion") {
    val t = cat().ensure(TableIdent("ns", "t11"), Some("bucket(4, id)"))
    t.append(df(d1, d2, d3, (10L, "x", "y"), (11L, "x", "y"), (12L, "x", "y")))
    val total = t.currentOrFail().files.size
    // `id = 2` parses the literal as INT while the column is BIGINT —
    // pruner must coerce before hashing (silent data loss otherwise)
    val pruned = t.prunedFiles("id = 2")
    pruned.size should be < total
    t.scanWhere("id = 2").count() shouldBe 1
  }

  test("P5: string partition-source column promotes to timestamp under time transforms") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "t15"), Some("day(ts)"))
    t.append(Seq((1L, "2024-01-05 10:30:00"), (2L, "2024-02-07 01:00:00")).toDF("id", "ts"))
    t.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampNTZType
    // the promoted column partitions and prunes like a native timestamp
    t.currentOrFail().files.size shouldBe 2
    t.prunedFiles("ts >= '2024-02-01'").size shouldBe 1
    t.scanWhere("ts >= '2024-02-01'").select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("catalog: ensure is get-or-create, drop removes, list filters real tables") {
    val c = cat()
    val id = TableIdent("ns", "t12")
    c.exists(id) shouldBe false
    val t = c.ensure(id)
    c.exists(id) shouldBe false // no snapshot until first write (lazy create)
    t.append(df(d1))
    c.exists(id) shouldBe true
    c.listTables("ns") shouldBe Seq(id)
    c.load(id).scan().count() shouldBe 1
    c.drop(id)
    c.exists(id) shouldBe false
    an[Exception] should be thrownBy c.load(id)
  }

  test("manifest merging bounds snapshot metadata under many appends") {
    val t = cat().ensure(TableIdent("ns", "t16"))
    val props = Map(graft.table.GraftTable.MergeThresholdProp -> "8")
    (1 to 20).foreach(i => t.append(df((i.toLong, "2024-01-01", s"n$i")), props))
    val snap = t.currentOrFail()
    snap.fileGroups.size should be <= 8
    snap.rowCount shouldBe 20
    t.scan().count() shouldBe 20 // data intact through merges
    // merged-away manifests are reclaimable once old snapshots expire
    t.expireSnapshots(keepLast = 1)
    t.scan().count() shouldBe 20
  }

  test("appends reuse parent manifests; partial deletes prune only affected groups") {
    val t = cat().ensure(TableIdent("ns", "t14"), Some("day"))
    val s1 = t.append(df(d1, d2))
    val s2 = t.append(df(d3))
    // manifest reuse: s2 carries s1's manifest verbatim + one new
    s2.fileGroups.map(_.manifest) should contain allElementsOf
      s1.fileGroups.map(_.manifest)
    s2.fileGroups.size shouldBe s1.fileGroups.size + 1
    // whole-group delete: d3's group vanishes, s1's manifest still reused
    val s3 = t.deleteWhere("day = '2024-02-01'")
    s3.fileGroups.map(_.manifest) shouldBe s1.fileGroups.map(_.manifest)
    // partial delete: s1's group gets a pruned manifest, not a rewrite —
    // the surviving data FILE path is unchanged (no Spark rewrite job ran)
    val survivorPaths = s3.files.map(_.path).toSet
    val s4 = t.deleteWhere("day = '2024-01-01'")
    s4.files.map(_.path).toSet.subsetOf(survivorPaths) shouldBe true
    t.scan().select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("summary pruning skips whole manifests unread (manifest-list planning)") {
    val wh = Files.createTempDirectory("graft-test")
    val c = GraftCatalog(spark, wh.toString)
    val t = c.ensure(TableIdent("ns", "t15"))
    // three appends = three manifests with disjoint id ranges
    t.append(df((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")))
    t.append(df((100L, "2024-01-02", "c"), (101L, "2024-01-02", "d")))
    t.append(df((200L, "2024-02-01", "e"), (201L, "2024-02-01", "f")))
    t.currentOrFail().fileGroups.size shouldBe 3
    // fresh MetadataLog = cold manifest cache + zeroed parse counter
    val t2 = c.load(TableIdent("ns", "t15"))
    val rows = t2.scanWhere("id >= 200").select("id").collect().map(_.getLong(0))
    rows.sorted.toSeq shouldBe Seq(200L, 201L)
    val parses = t2.log.manifestParses.get()
    val total = t2.currentOrFail().fileGroups.size
    withClue(s"parsed $parses of $total manifests: ") {
      parses should be < total.toLong
    }
    parses shouldBe 1L // only the id>=200 group's manifest was read
    // history answers from summaries alone (row counts per version:
    // 2, 4, 6) — and triggers no further manifest parses
    t2.history().collect().map(_.getLong(7)).sum shouldBe 12L
    t2.log.manifestParses.get() shouldBe parses
  }

  test("write.sort.columns range-clusters appends so zone maps prune files") {
    import org.apache.spark.sql.functions.{col, rand}
    val wh = Files.createTempDirectory("graft-test")
    val c = GraftCatalog(spark, wh.toString)
    val t = c.ensure(TableIdent("ns", "tsort"))
    // seed the schema + property, then append SHUFFLED data: without
    // write clustering every file would cover ~the whole id range
    val seed = spark.range(0, 1).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    t.append(seed)
    t.updateProperties(Map("write.sort.columns" -> "id"))
    val shuffled = spark.range(1, 4000)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .orderBy(rand(42)) // destroy natural ordering
    // AQE (correctly) coalesces a 4k-row range shuffle to one ~tiny
    // partition; hold it open so the test observes multiple files the
    // way a at-scale write would produce them
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(shuffled)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val snap = t.currentOrFail()
    val dataFiles = snap.files.filter(_.rows > 0)
    dataFiles.size should be > 1
    // point predicate prunes to a single file: ranges are disjoint
    val hit = t.prunedFiles("id = 2024")
    withClue(s"files hit of ${dataFiles.size}: ") { hit.size shouldBe 1 }
    // and the data is intact and ordered within files
    t.scan().count() shouldBe 4000L
    t.scanWhere("id = 2024").select("v").collect().head.getDouble(0) shouldBe 2024.0
  }

  test("concurrent appends both commit via retry (optimistic concurrency)") {
    val t = cat().ensure(TableIdent("ns", "t13"))
    t.append(df(d1))
    val threads = (1 to 4).map { i =>
      new Thread(() => { t.append(df((100L + i, "2024-01-01", s"c$i"))): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    t.snapshots().size shouldBe 5
    t.scan().count() shouldBe 5
  }

  test("stress: racing appenders and deleters lose no commits and conserve rows") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "t16"))
    def batch(ids: Range) = ids.map(i => (i.toLong, "2024-01-01", s"r$i")).toDF("id", "day", "name")
    t.append(batch(0 until 100)) // seed both deleters' target ranges
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until 4).map { a =>
      new Thread(() => try {
        for (b <- 0 until 5)
          t.append(batch((1000 * (a + 1) + 10 * b) until (1000 * (a + 1) + 10 * b + 10)))
      } catch { case e: Throwable => failures.add(e) })
    }
    // copy-on-write deletes against the shared seed file: every retry is
    // a full re-plan against the latest snapshot (requireNoConflict
    // aborts a stale rewrite; the caller re-runs — the Iceberg contract)
    val deleters = (0 until 2).map { d =>
      new Thread(() => try {
        for (c <- 0 until 5) {
          val lo = 50 * d + 10 * c
          var done = false
          var attempts = 0
          while (!done) {
            try { t.deleteWhere(s"id >= $lo AND id < ${lo + 10}"); done = true }
            catch {
              case _: java.util.ConcurrentModificationException =>
                attempts += 1
                if (attempts > 50) throw new IllegalStateException("starved deleter")
                Thread.sleep(10)
            }
          }
        }
      } catch { case e: Throwable => failures.add(e) })
    }
    (appenders ++ deleters).foreach(_.start())
    (appenders ++ deleters).foreach(_.join())
    failures.asScala.toSeq shouldBe empty
    // conservation: 100 seeded + 4×5×10 appended − 2×5×10 deleted
    t.scan().count() shouldBe (100L + 200L - 100L)
    t.scan().select("id").as[Long].collect().toSet shouldBe
      (0 until 4).flatMap(a => 1000 * (a + 1) until (1000 * (a + 1) + 50)).map(_.toLong).toSet
    // no lost or duplicate versions: the log is a gapless sequence
    val versions = t.snapshots().map(_.version)
    versions shouldBe (0 to versions.max)
    versions.size shouldBe (1 + 20 + 10) // seed + appends + deletes
    t.snapshots().map(_.snapshotId).distinct.size shouldBe versions.size
  }

  // ------------------------------------------------------------------
  // Multi-field partition specs
  // ------------------------------------------------------------------

  test("multi-field spec: writes nest both transforms, both fields prune") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mp", "t1"), Some("month(ts), bucket(4, id)"))
    val rows = (1L to 200L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-${(i % 6 + 1)}%02d-10 00:00:00"), s"n$i")
    }
    t.append(rows.toDF("id", "ts", "name"))
    val snap = t.currentOrFail()
    t.partitionFields().map(_.fieldName) shouldBe Seq("ts_month", "id_bucket_4")
    // every file carries BOTH partition values
    snap.files.foreach { f =>
      f.partitionValues.get.keySet shouldBe Set("ts_month", "id_bucket_4")
    }
    val total = snap.files.size
    // month predicate prunes on the time dimension (boundary months are
    // conservatively kept, so bound INSIDE the month for an exact set)
    val byMonth = t.prunedFiles("ts >= TIMESTAMP '2024-03-01' AND ts < TIMESTAMP '2024-03-28'")
    byMonth.size should be < total
    byMonth.foreach(f =>
      f.partitionValues.get("ts_month") shouldBe Some("2024-03"))
    // equality on the bucketed key prunes on the bucket dimension
    val byId = t.prunedFiles("id = 7L")
    byId.size should be < total
    // conjunction prunes on BOTH: strictly fewer than either alone
    val both = t.prunedFiles(
      "ts >= TIMESTAMP '2024-03-01' AND ts < TIMESTAMP '2024-03-28' AND id = 7L")
    both.size should be <= math.min(byMonth.size, byId.size)
    both.size should be < byMonth.size
    // row-level results are exact through the pruned scan
    t.scanWhere("ts >= TIMESTAMP '2024-03-01' AND ts < TIMESTAMP '2024-04-01'")
      .count() shouldBe rows.count(_._2.toString.startsWith("2024-03"))
    t.scanWhere("id = 7L").count() shouldBe 1
  }

  test("multi-field spec: keyed rewrites prune on every key-sourced field") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mp", "t2"), Some("truncate(100, id), bucket(4, id)"))
    t.append((1L to 400L).map(i => (i, s"d$i", s"n$i")).toDF("id", "day", "name"))
    val before = t.currentOrFail().files
    // an upsert touching ids 1-3 can only live in trunc=0 × a few buckets
    t.upsert(Seq((1L, "d1", "u1"), (2L, "d2", "u2"), (3L, "d3", "u3"))
      .toDF("id", "day", "name"), Seq("id"))
    val after = t.currentOrFail().files
    val carried = after.map(_.path).toSet.intersect(before.map(_.path).toSet)
    // most files carried over untouched (pruned by trunc AND bucket)
    carried.size should be > (before.size / 2)
    t.scan().where("id <= 3").select("name").as[String].collect().toSet shouldBe
      Set("u1", "u2", "u3")
    t.scan().count() shouldBe 400
    // deleteByKeys prunes the same way
    val before2 = t.currentOrFail().files
    t.deleteByKeys(Seq(101L).toDF("id"), Seq("id"))
    val after2 = t.currentOrFail().files
    after2.map(_.path).toSet.intersect(before2.map(_.path).toSet).size should be >
      (before2.size / 2)
    t.scan().count() shouldBe 399
  }

  test("multi-field spec: compact preserves the layout; spec evolution validates all fields") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mp", "t3"), Some("month(ts), bucket(2, id)"))
    val rows = (1L to 60L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-${(i % 3 + 1)}%02d-05 00:00:00"), s"n$i")
    }
    t.append(rows.toDF("id", "ts", "name"))
    t.append(rows.map { case (i, ts, n) => (i + 100L, ts, n) }.toDF("id", "ts", "name"))
    t.compact(1)
    // layout survives compaction: still both fields on every file
    t.currentOrFail().files.foreach(f =>
      f.partitionValues.get.keySet shouldBe Set("ts_month", "id_bucket_2"))
    t.scan().count() shouldBe 120
    // spec evolution rejects a field that doesn't fit the schema
    intercept[IllegalArgumentException] {
      t.setPartitionSpec(Some("month(ts), bucket(4, nope)"))
    }
    t.setPartitionSpec(Some("day(ts), bucket(4, id)"))
    t.partitionFields().map(_.fieldName) shouldBe Seq("ts_day", "id_bucket_4")
  }

  // ------------------------------------------------------------------
  // Merge-on-read deletes
  // ------------------------------------------------------------------

  private def morTable(name: String): graft.table.GraftTable = {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", name))
    t.append((1L to 10L).map(i => (i, s"d$i", s"n$i")).toDF("id", "day", "name"))
    t.append((11L to 20L).map(i => (i, s"d$i", s"n$i")).toDF("id", "day", "name"))
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t
  }

  test("MoR keyed delete: zero data files rewritten, exact read-back") {
    val s = spark
    import s.implicits._
    val t = morTable("t1")
    val filesBefore = t.currentOrFail().files.map(_.path).toSet
    t.deleteByKeys(Seq(3L, 7L, 15L, 999L).toDF("id"), Seq("id"))
    val snap = t.currentOrFail()
    snap.operation shouldBe "delete"
    // the whole point: not one data file rewritten or dropped
    snap.files.map(_.path).toSet shouldBe filesBefore
    snap.deleteGroups.size shouldBe 1
    t.scan().select("id").as[Long].collect().toSet shouldBe
      ((1L to 20L).toSet -- Set(3L, 7L, 15L))
    // filtered scans and counts agree
    t.scanWhere("id <= 5").select("id").as[Long].collect().toSet shouldBe
      Set(1L, 2L, 4L, 5L)
    // replaying the delete converges (idempotent, like the CoW path)
    t.deleteByKeys(Seq(3L, 7L).toDF("id"), Seq("id"))
    t.scan().count() shouldBe 17
  }

  test("MoR delete: a re-inserted key survives (sequence ordering)") {
    val s = spark
    import s.implicits._
    val t = morTable("t2")
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    t.scan().where("id = 5").count() shouldBe 0
    // re-insert AFTER the delete: lands at a higher data seq
    t.append(Seq((5L, "d5b", "reborn")).toDF("id", "day", "name"))
    t.scan().where("id = 5").select("name").as[String].collect().toSeq shouldBe
      Seq("reborn")
    // and a LATER delete still removes it
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    t.scan().where("id = 5").count() shouldBe 0
  }

  test("MoR predicate delete: metadata-only commit, whole-match files still drop") {
    val s = spark
    import s.implicits._
    val t = morTable("t3")
    val before = t.currentOrFail()
    t.deleteWhere("id % 2 = 0")
    val snap = t.currentOrFail()
    snap.operation shouldBe "delete"
    // no data rewritten: every surviving file path was already there
    snap.files.map(_.path).toSet.subsetOf(
      before.files.map(_.path).toSet) shouldBe true
    snap.deleteGroups.collect {
      case p: graft.meta.PredicateDeleteGroup => p.predicateSql
    } shouldBe Seq("id % 2 = 0")
    t.scan().select("id").as[Long].collect().toSet shouldBe
      (1L to 20L).filter(_ % 2 == 1).toSet
    // NULL-predicate rows are kept (SQL delete three-valued semantics)
    t.append(Seq((null.asInstanceOf[java.lang.Long], "dx", "nullid"))
      .toDF("id", "day", "name").select(col("id").cast("long"), col("day"), col("name")))
    t.scan().where("name = 'nullid'").count() shouldBe 1
  }

  test("MoR deletes: CoW rewrites apply them (no resurrection) and compact purges") {
    val s = spark
    import s.implicits._
    val t = morTable("t4")
    t.deleteByKeys(Seq(2L, 12L).toDF("id"), Seq("id"))
    // an upsert (CoW rewrite of every file here) must not resurrect 2/12
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "cow"))
    t.upsert(Seq((1L, "d1", "updated")).toDF("id", "day", "name"), Seq("id"))
    t.scan().select("id").as[Long].collect().toSet shouldBe
      ((1L to 20L).toSet -- Set(2L, 12L))
    // the rewrite covered every older group, so the delete group purged
    t.currentOrFail().deleteGroups shouldBe empty
    // full cycle again, resolved by compact this time
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.deleteByKeys(Seq(4L, 14L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups.size shouldBe 1
    val expected = t.scan().select("id").as[Long].collect().toSet
    t.compact(2)
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().select("id").as[Long].collect().toSet shouldBe expected
    expected shouldBe ((1L to 20L).toSet -- Set(2L, 12L, 4L, 14L))
  }

  test("MoR auto mode: threshold chooses MoR for big rewrite sets, CoW for small") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "t5"))
    t.append((1L to 100L).map(i => (i, s"d$i", s"n$i")).toDF("id", "day", "name"))
    // tiny threshold: ANY rewrite set exceeds it → MoR
    t.updateProperties(Map(graft.table.GraftTable.MorThresholdProp -> "1"))
    val before = t.currentOrFail().files.map(_.path).toSet
    t.deleteByKeys(Seq(10L).toDF("id"), Seq("id"))
    t.currentOrFail().files.map(_.path).toSet shouldBe before
    t.currentOrFail().deleteGroups.size shouldBe 1
    // huge threshold: auto stays CoW and rewrites
    t.updateProperties(Map(graft.table.GraftTable.MorThresholdProp ->
      Long.MaxValue.toString))
    t.deleteByKeys(Seq(20L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups.size shouldBe 1 // unchanged (purge needs full cover)
    t.scan().select("id").as[Long].collect().toSet shouldBe
      ((1L to 100L).toSet -- Set(10L, 20L))
  }

  test("MoR deletes: changelog emits the exact pre-image delete rows") {
    val s = spark
    import s.implicits._
    val t = morTable("t6")               // v0 append, v1 append, v2 props
    val v2 = t.currentOrFail().version
    t.deleteByKeys(Seq(3L, 15L).toDF("id"), Seq("id"))    // v3: eq MoR
    t.deleteWhere("id > 18")                              // v4: pred MoR
    val ch = t.scanChangesBetween(v2, t.currentOrFail().version)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    ch shouldBe Set(
      (3L, "delete", v2 + 1), (15L, "delete", v2 + 1),
      (19L, "delete", v2 + 2), (20L, "delete", v2 + 2))
    // replay invariant: v1 state + net changes = current state
    val replayed = t.scanAsOfVersion(v2).select("id").as[Long].collect().toSet --
      ch.collect { case (id, "delete", _) => id }
    replayed shouldBe t.scan().select("id").as[Long].collect().toSet
  }

  test("MoR deletes: GC keeps live delete key files, expiry sweeps them") {
    val s = spark
    import s.implicits._
    val t = morTable("t7")
    t.deleteByKeys(Seq(1L, 11L).toDF("id"), Seq("id"))
    val delFiles = t.currentOrFail().deleteFiles.map(_.path)
    delFiles should not be empty
    // live delete key files are NOT orphans
    t.removeOrphanFiles(olderThanMs = -1000L, dryRun = false)
    delFiles.foreach { p =>
      java.nio.file.Files.exists(
        nio(new org.apache.hadoop.fs.Path(t.tableDir, p))) shouldBe true
    }
    t.scan().count() shouldBe 18
    // compact purges the group; expiry of the MoR snapshots then sweeps
    // the unreferenced key parquet
    t.compact(1)
    t.expireSnapshots(keepLast = 1)
    delFiles.foreach { p =>
      java.nio.file.Files.exists(
        nio(new org.apache.hadoop.fs.Path(t.tableDir, p))) shouldBe false
    }
    t.scan().count() shouldBe 18
  }

  test("MoR upsert: one O(source) commit, latest-wins chaining, compact converges") {
    val s = spark
    import s.implicits._
    val t = morTable("t9")
    val before = t.currentOrFail().files.map(_.path).toSet
    // replace 3 keys, insert 1 new — zero old files rewritten
    t.upsert(Seq((2L, "d2", "u2"), (5L, "d5", "u5"), (15L, "d15", "u15"),
      (100L, "d100", "new")).toDF("id", "day", "name"), Seq("id"))
    val snap = t.currentOrFail()
    snap.operation shouldBe "upsert"
    before.subsetOf(snap.files.map(_.path).toSet) shouldBe true
    (snap.files.map(_.path).toSet -- before).size should be > 0 // only ADDED files
    snap.deleteGroups.size shouldBe 1
    t.scan().count() shouldBe 21
    t.scan().where("id IN (2, 5, 15)").select("name").as[String].collect().toSet shouldBe
      Set("u2", "u5", "u15")
    t.scan().where("id = 100").count() shouldBe 1
    // a SECOND MoR upsert on an already-replaced key: latest wins
    // (its delete group sits at a higher sequence than the first's data)
    t.upsert(Seq((2L, "d2", "u2b")).toDF("id", "day", "name"), Seq("id"))
    t.scan().where("id = 2").select("name").as[String].collect().toSeq shouldBe Seq("u2b")
    t.scan().count() shouldBe 21
    // and a MoR DELETE of a MoR-upserted key removes it
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    t.scan().where("id = 5").count() shouldBe 0
    // compact folds the whole chain back to plain copy-on-write state
    val expected = t.scan().select("id", "name").as[(Long, String)].collect().toSet
    t.compact(2)
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().select("id", "name").as[(Long, String)].collect().toSet shouldBe expected
  }

  test("compactDeletes coalesces a delete burst without touching data files") {
    val s = spark
    import s.implicits._
    val t = morTable("cd1")
    val filesBefore = t.currentOrFail().files.map(_.path).toSet
    t.deleteByKeys(Seq(1L, 2L).toDF("id"), Seq("id"))
    t.deleteByKeys(Seq(3L).toDF("id"), Seq("id"))
    t.deleteByKeys(Seq(15L, 16L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups.size shouldBe 3
    val expected = t.scan().select("id").as[Long].collect().toSet
    val snap = t.compactDeletes()
    snap.operation shouldBe "compact-deletes"
    snap.deleteGroups.size shouldBe 1
    // maintenance must touch ONLY key manifests, never data
    snap.files.map(_.path).toSet shouldBe filesBefore
    t.scan().select("id").as[Long].collect().toSet shouldBe expected
    // nothing left to merge: no new commit
    t.compactDeletes().snapshotId shouldBe snap.snapshotId
  }

  test("compactDeletes keeps runs apart across an intervening append") {
    val s = spark
    import s.implicits._
    val t = morTable("cd2")
    t.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    t.append(Seq((5L, "d5b", "reborn")).toDF("id", "day", "name"))
    t.deleteByKeys(Seq(6L).toDF("id"), Seq("id"))
    // merging would mask the re-inserted row under the FIRST delete's
    // key — the data commit inside the window must block the merge
    val snap = t.compactDeletes()
    snap.deleteGroups.size shouldBe 2
    t.scan().where("id = 5").select("name").as[String].collect().toSeq shouldBe
      Seq("reborn")
    t.scan().where("id = 6").count() shouldBe 0
  }

  test("compactDeletes ORs predicate runs and merges equality runs past them") {
    val s = spark
    import s.implicits._
    val t = morTable("cd3")
    t.deleteByKeys(Seq(1L).toDF("id"), Seq("id"))
    t.deleteWhere("id = 2")
    t.deleteWhere("id = 12")
    t.deleteByKeys(Seq(11L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups.size shouldBe 4
    val expected = t.scan().select("id").as[Long].collect().toSet
    expected shouldBe ((1L to 20L).toSet -- Set(1L, 2L, 11L, 12L))
    val snap = t.compactDeletes()
    // row-level delete applications commute: the two equality groups
    // merge ACROSS the predicate pair, the predicates OR into one
    snap.deleteGroups.size shouldBe 2
    snap.deleteGroups.collect { case p: graft.meta.PredicateDeleteGroup => p.predicateSql }
      .head shouldBe "(id = 2) OR (id = 12)"
    t.scan().select("id").as[Long].collect().toSet shouldBe expected
    // still readable after a codec round-trip
    val t2 = new graft.table.GraftTable(spark, t.tableDir,
      new graft.meta.MetadataLog(t.tableDir,
        org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)))
    t2.scan().select("id").as[Long].collect().toSet shouldBe expected
  }

  test("dedupTable: position deletes drop duplicate occurrences, zero rewrites") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "pd1"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.append(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    t.append(Seq((3L, "c"), (5L, "e")).toDF("id", "v"))
    val filesBefore = t.currentOrFail().files.map(_.path).toSet
    val snap = t.dedupTable()
    snap.operation shouldBe "dedup"
    // the whole point: one position-delete manifest, zero data rewrites
    snap.files.map(_.path).toSet shouldBe filesBefore
    snap.deleteGroups.collect { case p: graft.meta.PositionDeleteGroup => p }
      .map(_.group.rows).sum shouldBe 3L // dup copies of 2, 3, 3
    t.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    // idempotent: a dedup with no duplicates commits nothing
    t.dedupTable().snapshotId shouldBe snap.snapshotId
    // a duplicate APPENDED AFTER the dedup is a new occurrence in a new
    // file — untouched by the old addresses — until the next dedup
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.scan().where("id = 2").count() shouldBe 2
    t.dedupTable()
    t.scan().where("id = 2").count() shouldBe 1
    // compact folds the position deletes back to copy-on-write state
    val expected = t.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq
    t.compact(1)
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq shouldBe expected
  }

  test("dedupTable by columns composes with MoR deletes; codec round-trip") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "pd2"))
    t.append(Seq((1L, "x"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((1L, "y"), (2L, "b"), (6L, "f")).toDF("id", "v"))
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    // an equality MoR delete first: id=2 fully gone (both copies)
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    // then dedup BY id: (1,"x") / (1,"y") collapse to one occurrence;
    // already-deleted occurrences can be neither keeper nor victim
    t.dedupTable(Seq("id"))
    val rows = t.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq
    rows.map(_._1) shouldBe Seq(1L, 6L)
    Set("x", "y") should contain(rows.head._2)
    // the mixed (equality + position) delete state survives a re-read
    // through a fresh metadata-log handle
    val t2 = new graft.table.GraftTable(spark, t.tableDir,
      new graft.meta.MetadataLog(t.tableDir,
        org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)))
    t2.currentOrFail().deleteGroups.collect {
      case p: graft.meta.PositionDeleteGroup => p.seq }.size shouldBe 1
    t2.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq shouldBe rows
  }

  test("dedupTable commits show exact pre-image delete rows in the changelog") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "pd3"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))     // v0
    t.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v"))     // v1
    val vBefore = t.currentOrFail().version
    t.dedupTable()                                          // v2
    val vAfter = t.currentOrFail().version
    val ch = t.scanChangesBetween(vBefore, vAfter)
      .select("id", "v", "_change_type").as[(Long, String, String)].collect()
    ch.toSeq shouldBe Seq((2L, "b", "delete"))
  }

  test("rewriteDeletes rewrites only touched files and drops every group") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "rd1"))
    // range-disjoint files: keyed deletes will provably touch only one
    t.append((1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.append((100L to 110L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.append((1000L to 1010L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.deleteByKeys(Seq(105L, 107L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups.size shouldBe 1
    val before = t.currentOrFail().files.map(_.path).toSet
    val expected = t.scan().select("id").as[Long].collect().toSet

    val snap = t.rewriteDeletes()
    snap.operation shouldBe "rewrite-deletes"
    snap.deleteGroups shouldBe empty
    // only the middle-range file(s) were rewritten; the others carried
    val carried = snap.files.map(_.path).toSet.intersect(before)
    carried should not be empty
    (before -- carried) should not be empty
    t.scan().select("id").as[Long].collect().toSet shouldBe expected

    // nothing pending: no-op
    t.rewriteDeletes().snapshotId shouldBe snap.snapshotId
  }

  test("rewriteDeletes folds predicate and position groups exactly") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "rd2"))
    t.append((1L to 20L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.append((1L to 5L).map(i => (i, s"n$i")).toDF("id", "name")) // dups
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.deleteWhere("id = 17")          // predicate group
    t.dedupTable()                    // position group
    t.currentOrFail().deleteGroups.size shouldBe 2
    val expected = t.scan().select("id", "name").as[(Long, String)].collect().sorted.toSeq
    val snap = t.rewriteDeletes()
    snap.deleteGroups shouldBe empty
    t.scan().select("id", "name").as[(Long, String)].collect().sorted.toSeq shouldBe expected
    t.scan().where("id = 17").count() shouldBe 0
    t.scan().where("id <= 5").count() shouldBe 5
  }

  test("MoR UPDATE: O(matched) commit, zero rewrites, self-matching values survive") {
    val s = spark
    import s.implicits._
    val t = morTable("up1")
    val before = t.currentOrFail().files.map(_.path).toSet
    // SET leaves the rows still MATCHING the predicate — the mask must
    // not re-delete the updated copies
    t.updateWhere("id <= 3", Map("name" -> "concat(name, '!')"))
    val snap = t.currentOrFail()
    snap.operation shouldBe "update"
    before.subsetOf(snap.files.map(_.path).toSet) shouldBe true // only ADDED
    snap.deleteGroups.size shouldBe 1
    t.scan().count() shouldBe 20
    t.scan().where("id <= 3").select("name").as[String].collect().toSet shouldBe
      Set("n1!", "n2!", "n3!")
    t.scan().where("id = 10").select("name").as[String].collect().toSeq shouldBe
      Seq("n10")
    // chained MoR update on already-updated rows: latest wins
    t.updateWhere("id = 2", Map("name" -> "'two'"))
    t.scan().where("id = 2").select("name").as[String].collect().toSeq shouldBe
      Seq("two")
    t.scan().count() shouldBe 20
    // compact converges to the CoW state
    val expected = t.scan().select("id", "name").as[(Long, String)].collect().toSet
    t.compact(1)
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().select("id", "name").as[(Long, String)].collect().toSet shouldBe expected
  }

  test("rollback across MoR deletes: changelog emits reappearances, nets exactly") {
    val s = spark
    import s.implicits._
    // shape 1: rollback past a MoR delete with no file churn — the
    // deleted row REAPPEARS and must surface as an insert (round-12
    // find: both changelog paths silently emitted nothing here)
    val t = cat().ensure(TableIdent("mor", "rb1"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))        // v0
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor")) // v1
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))                          // v2
    t.rollbackTo(1)                                                        // v3
    t.scan().count() shouldBe 3
    val ch = t.scanChangesBetween(2, 3)
      .select("id", "_change_type").as[(Long, String)].collect().toSeq
    ch shouldBe Seq((2L, "insert"))
    // shape 2: rollback ACROSS a compaction to the MoR state — the
    // re-adopted delete group's files are also re-added in the same
    // commit; per-group pre-image emission would double-count (its
    // rows were never inserted), so the commit must net to zero
    val t2 = cat().ensure(TableIdent("mor", "rb2"))
    t2.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))         // v0
    t2.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor")) // v1
    t2.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))                           // v2
    t2.compact(1)                                                            // v3
    t2.rollbackTo(2)                                                         // v4
    val ch2 = t2.scanChangesBetween(3, 4)
    val net2 = ch2.where("_change_type = 'insert'").select("id")
      .exceptAll(ch2.where("_change_type = 'delete'").select("id"))
    net2.count() shouldBe 0 // both states hold exactly {1, 3}
    ch2.where("_change_type = 'delete'").count() shouldBe 2
    // replay across the whole history converges on the table once
    // seeded with v0's state (the range is exclusive-start)
    val all = t2.scanChangesBetween(0, 4)
    t2.scanAsOfVersion(0).select("id")
      .unionAll(all.where("_change_type = 'insert'").select("id"))
      .exceptAll(all.where("_change_type = 'delete'").select("id"))
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
  }

  test("changelog nets to zero across a rewrite-deletes commit") {
    val s = spark
    import s.implicits._
    val t = morTable("rd3")
    t.deleteByKeys(Seq(3L, 15L).toDF("id"), Seq("id"))
    val v1 = t.currentOrFail().version
    t.rewriteDeletes()
    val v2 = t.currentOrFail().version
    v2 shouldBe (v1 + 1)
    // the fold rewrites files but changes NO visible row: the commit's
    // inserts and deletes must cancel exactly
    val ch = t.scanChangesBetween(v1, v2)
    val ins = ch.where("_change_type = 'insert'").select("id", "day", "name")
    val del = ch.where("_change_type = 'delete'").select("id", "day", "name")
    ins.exceptAll(del).count() shouldBe 0
    del.exceptAll(ins).count() shouldBe 0
  }

  test("time-varying predicates never become MoR masks; empty matches no-op") {
    val s = spark
    import s.implicits._
    val t = morTable("safe1")
    // unix_timestamp() re-evaluates at every scan — recording it as a
    // mask would drift; the update must fall back to copy-on-write
    t.updateWhere("id <= 2 AND id < unix_timestamp()",
      Map("name" -> "concat(name, '?')"))
    t.currentOrFail().deleteGroups shouldBe empty // CoW, not a mask
    t.scan().where("id <= 2").select("name").as[String].collect().toSet shouldBe
      Set("n1?", "n2?")
    // same for DELETE WHERE
    t.deleteWhere("id = 4 AND id < unix_timestamp()")
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().where("id = 4").count() shouldBe 0
    // the paren-less ANSI form parses as an ATTRIBUTE — still caught
    t.deleteWhere("id = 6 AND current_timestamp > timestamp'2000-01-01'")
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().where("id = 6").count() shouldBe 0
    // a predicate zone maps can't refute but no row satisfies: the MoR
    // update detects zero matches and commits NOTHING
    val before = t.currentOrFail().snapshotId
    t.updateWhere("id % 100 = 99", Map("name" -> "'never'"))
      .snapshotId shouldBe before
  }

  test("dedupTable rejects tables using its reserved address columns") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "clash1"))
    t.append(Seq((1L, 5L)).toDF("id", "_graft_pos"))
    val e = intercept[IllegalArgumentException](t.dedupTable())
    e.getMessage should include("_graft_pos")
  }

  test("position-delete manifests are GC-live until compact folds them") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("mor", "pdgc"))
    t.append(Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "v"))
    t.dedupTable()
    val delFiles = t.currentOrFail().deleteFiles.map(_.path)
    delFiles should not be empty
    // a live position manifest must survive an orphan sweep
    t.removeOrphanFiles(olderThanMs = -1000L, dryRun = false)
    delFiles.foreach { p =>
      java.nio.file.Files.exists(
        nio(new org.apache.hadoop.fs.Path(t.tableDir, p))) shouldBe true
    }
    t.scan().count() shouldBe 2
    // compact purges the group; expiry then sweeps the manifest file
    t.compact(1)
    t.expireSnapshots(keepLast = 1)
    delFiles.foreach { p =>
      java.nio.file.Files.exists(
        nio(new org.apache.hadoop.fs.Path(t.tableDir, p))) shouldBe false
    }
    t.scan().count() shouldBe 2
  }

  test("compactDeletes preserves visible rows under random interleavings") {
    val s = spark
    import s.implicits._
    // fixed seed: deterministic, but the interleavings exercise runs
    // that straddle appends (unmergeable windows), back-to-back delete
    // bursts (mergeable), and re-inserts of previously-deleted ids
    val rnd = new scala.util.Random(20260814L)
    (1 to 5).foreach { it =>
      val t = cat().ensure(TableIdent("mor", s"cdp$it"))
      val universe = 0L until 40L
      val live = scala.collection.mutable.Set.empty[Long]
      def appendSome(): Unit = {
        val cand = rnd.shuffle(universe.filterNot(live).toList)
        if (cand.nonEmpty) {
          val pick = cand.take(1 + rnd.nextInt(8))
          t.append(pick.map(i => (i, s"v$i")).toDF("id", "v"))
          live ++= pick
        }
      }
      def deleteSome(): Unit =
        if (live.nonEmpty) {
          val pick = rnd.shuffle(live.toList).take(1 + rnd.nextInt(5))
          t.deleteByKeys(pick.toDF("id"), Seq("id"))
          live --= pick
        }
      appendSome()
      t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
      (1 to 6).foreach(_ => if (rnd.nextBoolean()) appendSome() else deleteSome())
      val before = t.scan().select("id").as[Long].collect().sorted.toSeq
      before shouldBe live.toList.sorted
      t.compactDeletes()
      t.scan().select("id").as[Long].collect().sorted.toSeq shouldBe before
      // converged: a second pass changes nothing
      t.compactDeletes()
      t.scan().select("id").as[Long].collect().sorted.toSeq shouldBe before
    }
  }

  test("MoR delete state round-trips through the snapshot codec") {
    val s = spark
    import s.implicits._
    val t = morTable("t8")
    t.deleteByKeys(Seq(9L).toDF("id"), Seq("id"))
    t.deleteWhere("id = 13")
    val snap = t.currentOrFail()
    val reread = cat().spark // fresh log handle forces JSON re-parse
    val t2 = new graft.table.GraftTable(spark, t.tableDir,
      new graft.meta.MetadataLog(t.tableDir,
        org.apache.spark.sql.GraftSqlShim.newHadoopConf(spark)))
    val snap2 = t2.currentOrFail()
    snap2.lastSeq shouldBe snap.lastSeq
    snap2.deleteGroups.map(_.seq) shouldBe snap.deleteGroups.map(_.seq)
    snap2.deleteGroups.collect { case e: graft.meta.EqualityDeleteGroup => e.keys } shouldBe
      Seq(Seq("id"))
    snap2.deleteGroups.collect { case p: graft.meta.PredicateDeleteGroup => p.predicateSql } shouldBe
      Seq("id = 13")
    snap2.fileGroups.map(_.seq) shouldBe snap.fileGroups.map(_.seq)
    t2.scan().select("id").as[Long].collect().toSet shouldBe
      ((1L to 20L).toSet -- Set(9L, 13L))
  }

  test("requireStableNames: a rename between analyze and commit is a conflict; additive evolution is not") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "trsn"))
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val analyzed = t.currentOrFail()
    val m = classOf[graft.table.GraftTable].getDeclaredMethods
      .find(mm => mm.getName.contains("requireStableNames") &&
        mm.getParameterCount == 3).get
    m.setAccessible(true)
    // additive evolution concurrent with a write: names stable, no abort
    t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    m.invoke(t, t.currentOrFail(), analyzed, "write") // must not throw
    // a rename concurrent with a write: the in-flight files carry the
    // analyzed naming — must abort
    t.renameColumn("v", "w")
    val e = intercept[java.lang.reflect.InvocationTargetException] {
      m.invoke(t, t.currentOrFail(), analyzed, "write")
    }
    e.getCause shouldBe a[java.util.ConcurrentModificationException]
    e.getCause.getMessage should include("rename")
  }

  test("overwriteDynamic replaces exactly the written partition tuples") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "tdyn"), Some("day"))
    t.append(Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "c"), (4L, "d3", "d"))
      .toDF("id", "day", "v"))
    // rerun day d1 with corrected data; d2/d3 untouched byte-for-byte
    val before = t.currentOrFail().files
      .filter(_.partitionValues.exists(_.values.exists(_.contains("d2")))).map(_.path).toSet
    t.overwriteDynamic(Seq((10L, "d1", "A"), (11L, "d1", "B2")).toDF("id", "day", "v"))
    t.currentOrFail().operation shouldBe "overwrite-dynamic"
    val after = t.currentOrFail().files.map(_.path).toSet
    before.subsetOf(after) shouldBe true // untouched partitions carried over
    t.scan().select("id").as[Long].collect().toSet shouldBe Set(10L, 11L, 3L, 4L)
    // idempotent rerun converges
    t.overwriteDynamic(Seq((10L, "d1", "A"), (11L, "d1", "B2")).toDF("id", "day", "v"))
    t.scan().select("id").as[Long].collect().toSet shouldBe Set(10L, 11L, 3L, 4L)
    // writing a NEW partition replaces nothing, just adds
    t.overwriteDynamic(Seq((20L, "d9", "z")).toDF("id", "day", "v"))
    t.scan().count() shouldBe 5
    // unpartitioned table: dynamic == full overwrite
    val u = cat().ensure(TableIdent("ns", "tdyn_u"))
    u.append(Seq((1L, "x")).toDF("id", "v"))
    u.overwriteDynamic(Seq((2L, "y")).toDF("id", "v"))
    u.scan().select("id").as[Long].collect().toSeq shouldBe Seq(2L)
  }

  test("renameColumn is metadata-only: old files read back under the new name") {
    val t = cat().ensure(TableIdent("ns", "trn1"))
    t.append(df(d1, d2))
    val before = t.currentOrFail().files.map(_.path).toSet
    val snap = t.renameColumn("name", "label")
    snap.operation shouldBe "rename-column"
    snap.files.map(_.path).toSet shouldBe before // zero rewrites
    snap.schemaLog should have size 1
    t.scan().columns should contain("label")
    t.scan().columns should not contain "name"
    // pre-rename values surface under the new name
    t.scan().orderBy("id").select("label").collect().map(_.getString(0)).toSeq shouldBe
      Seq("a", "b")
    // new writes use the new name; both eras scan together
    val s = spark
    import s.implicits._
    t.append(Seq((3L, "2024-02-01", "c")).toDF("id", "day", "label"))
    t.scan().orderBy("id").select("label").collect().map(_.getString(0)).toSeq shouldBe
      Seq("a", "b", "c")
    // filters on the renamed column hit both eras
    t.scan().where(col("label") === "a").count() shouldBe 1
    // time travel to the pre-rename version still shows the old name
    t.scanAsOfVersion(0).columns should contain("name")
    // renaming BACK to the former name is fine (same field id)
    t.renameColumn("label", "name")
    t.scan().orderBy("id").select("name").collect().map(_.getString(0)).toSeq shouldBe
      Seq("a", "b", "c")
  }

  test("dropColumn hides the column; its old name stays blocked until compact") {
    val t = cat().ensure(TableIdent("ns", "trn2"))
    t.append(df(d1, d2))
    val snap = t.dropColumn("name")
    snap.schema.fieldNames.toSeq shouldBe Seq("id", "day")
    t.scan().columns should not contain "name"
    t.scan().count() shouldBe 2
    // re-adding the dropped name would let old zone maps/values
    // resurface with the dead meaning — blocked while old files live
    val e = intercept[Exception] {
      t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType))))
    }
    e.getMessage should include("compact")
    // compaction rewrites the files with the current columns and frees
    // the name (the schema log prunes itself in the same commit)
    t.compact()
    t.currentOrFail().schemaLog shouldBe empty
    t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType))))
    // the re-added column is NULL everywhere — dead values never return
    t.scan().where(col("name").isNotNull).count() shouldBe 0
  }

  test("rename preconditions: pending MoR deletes, partition sources, used names") {
    val s = spark
    import s.implicits._
    val c = cat()
    val t = c.ensure(TableIdent("ns", "trn3"), partitionSpec = Some("day(ts)"))
    t.append(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("id", "ts", "v"))
    // partition-spec source is physical layout: rejected
    intercept[Exception] {
      t.renameColumn("ts", "event_ts")
    }.getMessage should include("partition-spec source")
    // a name already in the schema: rejected
    intercept[Exception] {
      t.renameColumn("v", "id")
    }.getMessage should include("already exists")
    // pending merge-on-read deletes survive a rename: the commit
    // remaps their stored references (predicate SQL here), and the
    // mask keeps applying under the new name
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.append(Seq((2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "kill"))
      .toDF("id", "ts", "v"))
    t.deleteWhere("v = 'kill'") // records a predicate delete group
    if (t.currentOrFail().deleteGroups.nonEmpty) {
      t.renameColumn("v", "w")
      t.currentOrFail().deleteGroups.collect {
        case p: graft.meta.PredicateDeleteGroup => p.predicateSql
      }.head should include("w")
      t.scan().select("w").collect().map(_.getString(0)).toSet shouldBe Set("x")
      // dropping a column a pending delete references is still refused
      intercept[Exception] {
        t.dropColumn("w")
      }.getMessage should include("references it")
    }
  }

  test("rename with pending equality MoR delete: keys remap, key files stay era-named") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "trn3e"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor"))
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    t.currentOrFail().deleteGroups should not be empty
    t.renameColumn("id", "doc_id")
    val eq = t.currentOrFail().deleteGroups.collect {
      case e: graft.meta.EqualityDeleteGroup => e
    }.head
    eq.keys shouldBe Seq("doc_id")
    eq.physicalKeys shouldBe Seq("id") // files untouched, naming frozen
    // the delete still applies, under the new name, scan + changelog
    t.scan().select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
    val v = t.currentOrFail().version
    t.scanChangesBetween(0, v).where(col("_change_type") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(2L)
    // a rename of a NON-key column leaves the delete untouched; and a
    // second rename of the key column composes (physKeys stays frozen)
    t.renameColumn("v", "w")
    t.renameColumn("doc_id", "k")
    val eq2 = t.currentOrFail().deleteGroups.collect {
      case e: graft.meta.EqualityDeleteGroup => e
    }.head
    eq2.keys shouldBe Seq("k")
    eq2.physicalKeys shouldBe Seq("id")
    t.scan().select("k", "w").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet shouldBe Set((1L, "a"), (3L, "c"))
    // compact_deletes-free maintenance path: rewrite_deletes folds the
    // remapped delete into data files correctly
    t.rewriteDeletes()
    t.currentOrFail().deleteGroups shouldBe empty
    t.scan().select("k").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
  }

  test("changelog stays exact across a rename; name-reuse after rename is blocked") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "trn4"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    t.renameColumn("v", "w")                             // v1
    t.append(Seq((3L, "c")).toDF("id", "w"))             // v2
    // per-commit changelog reads v0's files with the END naming: the
    // physical column 'v' maps to 'w' by field id
    val ch = t.scanChangesBetween(0, 2)
    ch.columns should contain("w")
    ch.where(col("_change_type") === "insert")
      .select("w").collect().map(_.getString(0)).toSet shouldBe Set("c")
    // changelog spanning [MoR-delete era ... rename]: the delete
    // commit's pre-image emission must evaluate its era-named key
    // against era-named rows, then surface under the END name
    val t2 = cat().ensure(TableIdent("ns", "trn4b"))
    t2.append(Seq((1L, "p"), (2L, "q"), (3L, "r")).toDF("id", "v")) // v0
    t2.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> "mor")) // v1
    t2.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))                  // v2: MoR delete
    t2.rewriteDeletes()                                             // v3: fold -> no pending
    t2.renameColumn("v", "w")                                       // v4
    t2.append(Seq((4L, "s")).toDF("id", "w"))                       // v5
    val ch2 = t2.scanChangesBetween(0, 5)
    ch2.columns should contain("w")
    ch2.where(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet should contain(2L)
    ch2.where(col("_change_type") === "insert" && col("_commit_version") === 5)
      .select("w").collect().map(_.getString(0)).toSeq shouldBe Seq("s")
    // net state via the changelog's own rows matches the table
    t2.scan().select("id").as[Long].collect().toSet shouldBe Set(1L, 3L, 4L)

    // while the pre-rename file lives, a new column may not take the
    // retired name (its zone maps carry the old meaning)
    intercept[Exception] {
      t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    }.getMessage should include("previously used")
    // a post-rename delete rewriting a PRE-rename file: the delete side
    // reads the OLD-named file and maps values to the new name; the
    // insert side re-adds the survivors (CoW file-diff semantics)
    t.deleteWhere("w = 'a'") // v3: rewrites the only pre-rename file
    val chg = t.scanChangesBetween(2, 3)
    chg.where(col("_change_type") === "delete")
      .select("w").collect().map(_.getString(0)).toSet shouldBe Set("a", "b")
    chg.where(col("_change_type") === "insert")
      .select("w").collect().map(_.getString(0)).toSet shouldBe Set("b")
    // that rewrite replaced the last old-named file, so the schema log
    // pruned itself in the same commit and the retired name is free
    t.currentOrFail().schemaLog shouldBe empty
    t.evolveSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    t.scan().where(col("v").isNotNull).count() shouldBe 0
  }

  test("scanVersionWhere filters against a PINNED version, later commits invisible") {
    import spark.implicits._
    val t = cat().ensure(TableIdent("ns", "svw"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))   // v1
    t.append(Seq((3L, 30.0)).toDF("id", "v"))               // v2
    val pinned = t.currentOrFail().version
    t.append(Seq((4L, 40.0)).toDF("id", "v"))               // v3
    t.deleteWhere("id = 2")                                  // v4
    // the pinned filtered read sees v2's world: id=2 alive, id=4 absent
    t.scanVersionWhere(pinned, "id >= 2").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)
    // same call at the head applies the MoR delete and the new file
    t.scanVersionWhere(t.currentOrFail().version, "id >= 2").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(3L, 4L)
    // agrees with the unfiltered AS-OF scan + a post-filter
    t.scanVersionWhere(pinned, "v <= 20.0").count() shouldBe
      t.scanAsOfVersion(pinned).where(col("v") <= 20.0).count()
  }
}
