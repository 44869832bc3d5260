package graft

import scala.util.Random

import graft.table.{GraftCatalog, TableIdent}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Randomized differential test of the DSv2 change feed: every seed
  * drives a random commit history — appends, copy-on-write AND
  * merge-on-read deletes (predicate + equality), SQL MERGE upserts,
  * rename flip-flops, compact_deletes, compactions — and then asserts
  * two exactness properties over the WHOLE range:
  *
  *  1. the `graft.ns.t.changes` relation equals
  *     [[graft.table.GraftTable.scanChangesBetween]] row for row
  *     (tags and commit versions included) — the feed's per-version
  *     decomposition into raw era scans + materialized MoR caches
  *     ([[graft.table.GraftTable.cdcSides]]) must reproduce the batch
  *     changelog's join-shaped plans exactly;
  *  2. the replay invariant: feed inserts minus deletes (multiset)
  *     equals the current table.
  *
  * This is the same differential stance that caught real bugs in the
  * MERGE and evolution fuzzes; seed count widens via GRAFT_CDC_SEEDS.
  */
class CdcRandomSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def runOne(seed: Int): Unit = {
    val s = spark
    import s.implicits._
    val rnd = new Random(seed)
    val ns = s"cdcr$seed"
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    s.sql(s"DROP TABLE IF EXISTS graft.$ns.t")
    val mode = if (rnd.nextBoolean()) "mor" else "auto"
    s.sql(s"""CREATE TABLE graft.$ns.t (id BIGINT, v STRING)
             |TBLPROPERTIES ('graft.delete.mode' = '$mode')""".stripMargin)
    val cat = GraftCatalog(s, s.conf.get("spark.sql.catalog.graft.warehouse"))
    val tbl = cat.load(TableIdent(ns, "t"))

    var nextId = 0L
    def appendSome(): Unit = {
      val vals = (0 until 1 + rnd.nextInt(4)).map { _ =>
        nextId += 1
        s"($nextId, '${Seq("x", "y", "z")(rnd.nextInt(3))}')"
      }
      s.sql(s"INSERT INTO graft.$ns.t VALUES ${vals.mkString(",")}")
    }
    def dataCol: String = tbl.schema.fieldNames.find(n => n == "v" || n == "w").get

    appendSome()
    (0 until 8).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 => appendSome()
        case 2 => // predicate delete (CoW or MoR per table mode); the
          // Scala API takes the modulo predicate DSv2 DELETE cannot
          tbl.deleteWhere(s"id % ${2 + rnd.nextInt(4)} = 0")
        case 3 => // keyed delete (equality MoR group under mode=mor)
          val bound = math.max(1, nextId.toInt)
          val keys = Seq.fill(1 + rnd.nextInt(3))((1 + rnd.nextInt(bound)).toLong).distinct
          tbl.deleteByKeys(keys.toDF("id"), Seq("id"))
        case 4 => // SQL MERGE upsert of one key (update or fresh insert)
          val k = 1 + rnd.nextInt(math.max(1, nextId.toInt) + 2)
          s.sql(
            s"""MERGE INTO graft.$ns.t t
               |USING (SELECT CAST($k AS BIGINT) AS id, 'u' AS nv) src
               |ON t.id = src.id
               |WHEN MATCHED THEN UPDATE SET $dataCol = src.nv
               |WHEN NOT MATCHED THEN INSERT (id, $dataCol) VALUES (src.id, src.nv)""".stripMargin)
          nextId = math.max(nextId, k.toLong)
        case 5 => // rename flip-flop (always legal: same field id)
          tbl.renameColumn(dataCol, if (dataCol == "v") "w" else "v")
        case 6 => tbl.compactDeletes()
        case 7 => tbl.dedupTable() // unique ids: usually a no-op commit
        case 8 => // rollback — MoR deletes may un-happen (reappearances)
          val cur = tbl.currentOrFail().version
          if (cur > 1) tbl.rollbackTo(1 + rnd.nextInt(cur - 1))
        case _ => tbl.compact(1)
      }
    }

    val cur = tbl.currentOrFail().version
    val cols = tbl.schema.fieldNames.toSeq ++ Seq("_change_type", "_commit_version")
    def rows(df: DataFrame): Seq[String] =
      df.select(cols.map(c => col(s"`$c`")): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val feed = s.read.option("startingVersion", "0")
      .option("endingVersion", cur.toString).table(s"graft.$ns.t.changes")
    withClue(s"seed=$seed mode=$mode feed!=batch ") {
      rows(feed) shouldBe rows(tbl.scanChangesBetween(0, cur))
    }
    // replay invariant: inserts minus deletes == the live table
    val dataCols = tbl.schema.fieldNames.map(c => col(s"`$c`")).toSeq
    def plain(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    withClue(s"seed=$seed mode=$mode replay ") {
      plain(feed.where("_change_type = 'insert'").select(dataCols: _*)
        .exceptAll(feed.where("_change_type = 'delete'").select(dataCols: _*))) shouldBe
        plain(tbl.scan().select(dataCols: _*))
    }
    s.sql(s"DROP TABLE graft.$ns.t")
  }

  test("random commit histories: DSv2 feed == batch changelog; replay == table") {
    val seeds = sys.env.get("GRAFT_CDC_SEEDS").map(_.toInt).getOrElse(10)
    (1 to seeds).foreach(runOne)
  }

  private type Key = (Option[Long], Option[String])

  /** One random keyed history on a composite-key table (a BIGINT, b
    * STRING; both nullable) against a Scala model: key → the values of
    * the rows stored under it. Under SQL equality a key with a NULL
    * component matches nothing, so such rows pile up; under null-safe
    * equality NULL is an ordinary key value.
    */
  private def runKeyed(seed: Int): Unit = {
    val s = spark
    import s.implicits._
    val rnd = new Random(seed)
    val mode = if (seed % 2 == 0) "cow" else "mor"
    val spec = if (rnd.nextBoolean()) Some("bucket(4, a)") else None
    val dir = java.nio.file.Files.createTempDirectory("graft-keyed").toString
    val tbl = GraftCatalog(s, dir).ensure(TableIdent("ns", "k"), spec)
    val keys = Seq("a", "b")
    var model = Map.empty[Key, Vector[String]]
    def complete(k: Key) = k._1.isDefined && k._2.isDefined

    def randKey(): Key = (
      if (rnd.nextInt(8) == 0) None else Some(1L + rnd.nextInt(12)),
      if (rnd.nextInt(6) == 0) None else Some(Seq("x", "y")(rnd.nextInt(2))))
    // upsert rows: complete keys unique (the duplicate-key contract),
    // NULL-keyed rows may repeat unless null-safe matching treats NULL
    // as a value
    def randUpserts(step: Int, n: Int, nullSafe: Boolean, avoid: Set[Key]): Seq[(Key, String)] = {
      val ks = Seq.fill(n)(randKey()).filterNot(avoid)
      val uniq = if (nullSafe) ks.distinct
        else ks.filter(complete).distinct ++ ks.filterNot(complete)
      uniq.zipWithIndex.map { case (k, i) => (k, s"s$step-$i") }
    }
    def rowsDf(rows: Seq[(Key, String)]): DataFrame =
      rows.map { case ((a, b), v) => (a, b, v) }.toDF("a", "b", "v")
    def keysDf(ks: Seq[Key]): DataFrame = ks.toDF("a", "b")
    def put(rows: Seq[(Key, String)]): Unit = rows.foreach { case (k, v) =>
      model = model.updated(k, model.getOrElse(k, Vector.empty) :+ v)
    }

    val seedRows = randUpserts(0, 10, nullSafe = false, Set.empty)
    tbl.append(rowsDf(seedRows))
    put(seedRows)
    tbl.updateProperties(Map(graft.table.GraftTable.DeleteModeProp -> mode))

    (1 to 8).foreach { step =>
      val nullSafe = rnd.nextBoolean()
      val op = rnd.nextInt(4)
      val clue = s"seed=$seed mode=$mode spec=$spec step=$step op=$op nullSafe=$nullSafe"
      withClue(clue + " ") {
        op match {
          case 0 => // upsert: SQL equality
            val ups = randUpserts(step, 1 + rnd.nextInt(5), nullSafe = false, Set.empty)
            tbl.upsert(rowsDf(ups), keys)
            tbl.currentOrFail().operation shouldBe "upsert"
            ups.filter(r => complete(r._1)).foreach(r => model -= r._1)
            put(ups)
          case 1 => // keyed delete; keys repeat and may hold NULLs
            val base = Seq.fill(1 + rnd.nextInt(4))(randKey())
            val dels = base ++ base.take(rnd.nextInt(base.size + 1))
            tbl.deleteByKeys(keysDf(dels), keys)
            dels.filter(complete).foreach(model -= _)
          case 2 => // net apply, deletes and upserts disjoint per key
            val dels = Seq.fill(rnd.nextInt(4))(randKey())
            val ups = randUpserts(step, rnd.nextInt(4), nullSafe, dels.toSet)
            tbl.applyNetChanges(keysDf(dels), rowsDf(ups), keys, nullSafeKeys = nullSafe)
            tbl.currentOrFail().operation shouldBe "merge"
            (dels ++ ups.map(_._1)).filter(k => nullSafe || complete(k)).foreach(model -= _)
            put(ups)
          case _ => // a duplicate complete key is rejected and commits nothing
            val v = tbl.currentOrFail().version
            val k: Key = (Some(1L + rnd.nextInt(12)), Some("x"))
            val ex = the[IllegalArgumentException] thrownBy {
              if (rnd.nextBoolean()) tbl.upsert(rowsDf(Seq(k -> "d1", k -> "d2")), keys)
              else tbl.applyNetChanges(keysDf(Nil), rowsDf(Seq(k -> "d1", k -> "d2")),
                keys, nullSafeKeys = nullSafe)
            }
            ex.getMessage should include("duplicate keys")
            tbl.currentOrFail().version shouldBe v
        }
        val got = tbl.scan().select("a", "b", "v").as[(Option[Long], Option[String], String)]
          .collect().toSeq.map(r => (r._1, r._2, r._3)).sortBy(_.toString)
        val want = model.toSeq.flatMap { case ((a, b), vs) => vs.map(v => (a, b, v)) }
          .sortBy(_.toString)
        got shouldBe want
      }
    }
  }

  test("random keyed batches: upsert / deleteByKeys / applyNetChanges == map model") {
    val seeds = sys.env.get("GRAFT_CDC_SEEDS").map(_.toInt).getOrElse(4)
    (1 to seeds).map(100 + _).foreach(runKeyed)
  }
}
