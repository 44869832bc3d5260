package graft

import java.nio.file.Files

import graft.meta.{ColumnStats, DataFile, Snapshot}
import graft.table.{GraftCatalog, StatsPruner, TableIdent}
import graft.table.PartitionPruner.{Tri, Unknown}

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{EqualTo, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Zone-map stats: footer extraction at write time + file skipping on
  * arbitrary columns (no partition spec required).
  */
class StatsPrunerSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def cat() = GraftCatalog(spark, Files.createTempDirectory("graft-stats").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("ts", TimestampNTZType)))

  private def file(stats: Map[String, ColumnStats], rows: Long = 10) =
    DataFile("d.parquet", rows, 100, None, stats)

  private def tri(expr: String, stats: Map[String, ColumnStats], rows: Long = 10): Tri =
    StatsPruner.evaluate(file(stats, rows), schema,
      CatalystSqlParser.parseExpression(expr))

  test("numeric range pruning with all-match proofs") {
    val s = Map("id" -> ColumnStats(Some("100"), Some("200"), Some(0)))
    tri("id >= 250", s) shouldBe Tri(may = false, all = false)
    tri("id >= 100", s) shouldBe Tri(may = true, all = true)
    tri("id >= 150", s) shouldBe Tri(may = true, all = false)
    tri("id = 150", s).may shouldBe true
    tri("id = 99", s).may shouldBe false
  }

  test("BETWEEN desugars and prunes like its two comparisons") {
    val s = Map("id" -> ColumnStats(Some("100"), Some("200"), Some(0)))
    tri("id BETWEEN 250 AND 300", s) shouldBe Tri(may = false, all = false)
    tri("id BETWEEN 100 AND 200", s) shouldBe Tri(may = true, all = true)
    tri("id BETWEEN 150 AND 300", s) shouldBe Tri(may = true, all = false)
    tri("id BETWEEN 0 AND 50", s).may shouldBe false
    // NOT BETWEEN inverts soundly (negation never claims `all`: rows
    // could be NULL and NOT(NULL) is NULL — see Tri.unary_!)
    tri("id NOT BETWEEN 0 AND 300", s) shouldBe Tri(may = false, all = false)
    tri("id NOT BETWEEN 300 AND 400", s) shouldBe Tri(may = true, all = false)
  }

  test("nulls block all-match proofs but not may-match") {
    val s = Map("id" -> ColumnStats(Some("100"), Some("200"), Some(3)))
    tri("id >= 100", s) shouldBe Tri(may = true, all = false)
    tri("id IS NULL", s) shouldBe Tri(may = true, all = false)
    tri("id IS NOT NULL", s) shouldBe Tri(may = true, all = false)
    val noNulls = Map("id" -> ColumnStats(Some("100"), Some("200"), Some(0)))
    tri("id IS NOT NULL", noNulls) shouldBe Tri(may = true, all = true)
    val allNulls = Map("id" -> ColumnStats(Some("100"), Some("200"), Some(10)))
    tri("id IS NULL", allNulls, rows = 10) shouldBe Tri(may = true, all = true)
    tri("id = 150", allNulls, rows = 10).may shouldBe true // stats can't see value rows
  }

  test("string range pruning compares lexically") {
    val s = Map("name" -> ColumnStats(Some("alpha"), Some("delta"), Some(0)))
    tri("name > 'zz'", s).may shouldBe false
    tri("name >= 'alpha'", s) shouldBe Tri(may = true, all = true)
    tri("name = 'beta'", s).may shouldBe true
    // code point (UTF-8 byte) order, the order parquet footers and
    // Spark use: U+1F600 sorts after U+FF21, though its UTF-16 lead
    // surrogate (U+D83D) sorts before it
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    val mixed = Map("name" -> ColumnStats(Some(fw), Some(emoji), Some(0)))
    StatsPruner.evaluate(file(mixed), schema, EqualTo(
      UnresolvedAttribute("name"), Literal(emoji))).may shouldBe true
    StatsPruner.evaluate(file(mixed), schema, LessThanOrEqual(
      UnresolvedAttribute("name"), Literal(emoji))).may shouldBe true
    // the manifest summary merges file ranges in the same order
    val files = Seq(fw, emoji).map(v => file(Map("name" -> ColumnStats(Some(v), Some(v), Some(0)))))
    graft.meta.ManifestSummary.build(files, schema).stats("name") shouldBe
      ColumnStats(Some(fw), Some(emoji), Some(0))
  }

  test("timestamp column vs string literal coerces through Catalyst cast") {
    // stats domain = epoch micros; '2024-01-01' = 1704067200000000
    val lo = 1704067200000000L // 2024-01-01T00:00Z
    val hi = 1706745600000000L // 2024-02-01T00:00Z
    val s = Map("ts" -> ColumnStats(Some(lo.toString), Some(hi.toString), Some(0)))
    tri("ts >= '2024-03-01'", s).may shouldBe false
    tri("ts >= '2024-01-01'", s) shouldBe Tri(may = true, all = true)
    tri("ts < '2024-01-15'", s).may shouldBe true
  }

  test("missing stats or unknown columns degrade to Unknown") {
    tri("id > 5", Map.empty) shouldBe Unknown
    tri("nope > 5", Map("id" -> ColumnStats(Some("1"), Some("2"), Some(0)))) shouldBe Unknown
    tri("id > 5", Map("id" -> ColumnStats(None, None, Some(0)))) shouldBe Unknown
    // an infinite bound (a keyed write's max over a double key) has no
    // place in the stats domain either
    val score = Map("score" -> ColumnStats(Some("1.0"), Some("2.0"), Some(0)))
    StatsPruner.evaluate(file(score), schema, LessThanOrEqual(
      UnresolvedAttribute("score"),
      Literal(Double.PositiveInfinity))) shouldBe Unknown
  }

  test("write path harvests min/max/nulls from parquet footers") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "h1"))
    t.append(Seq((1L, "alpha", Some(1.5)), (9L, "zeta", None)).toDF("id", "name", "score")
      .coalesce(1))
    val stats = t.currentOrFail().files.head.stats
    stats("id") shouldBe ColumnStats(Some("1"), Some("9"), Some(0))
    stats("name") shouldBe ColumnStats(Some("alpha"), Some("zeta"), Some(0))
    stats("score") shouldBe ColumnStats(Some("1.5"), Some("1.5"), Some(1))
  }

  test("stats survive the manifest codec round-trip") {
    val s = spark
    import s.implicits._
    val c = cat()
    val t = c.ensure(TableIdent("ns", "h2"))
    t.append(Seq((5L, "x", Some(2.0))).toDF("id", "name", "score").coalesce(1))
    val reread = c.load(TableIdent("ns", "h2")).currentOrFail().files.head.stats
    reread("id") shouldBe ColumnStats(Some("5"), Some("5"), Some(0))
  }

  test("unpartitioned table: selective predicate touches a strict file subset") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "h3"))
    // three appends with disjoint id ranges -> three files with disjoint zone maps
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "name").coalesce(1))
    t.append((101L to 200L).map(i => (i, s"b$i")).toDF("id", "name").coalesce(1))
    t.append((201L to 300L).map(i => (i, s"c$i")).toDF("id", "name").coalesce(1))
    val total = t.currentOrFail().files.size
    total shouldBe 3
    t.prunedFiles("id > 250").size shouldBe 1
    t.prunedFiles("id > 150").size shouldBe 2
    t.scanWhere("id > 250").count() shouldBe 50
  }

  test("unpartitioned delete drops whole files via zone maps, no rewrite") {
    val s = spark
    import s.implicits._
    val t = cat().ensure(TableIdent("ns", "h4"))
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "name").coalesce(1))
    t.append((101L to 200L).map(i => (i, s"b$i")).toDF("id", "name").coalesce(1))
    val keepPath = t.currentOrFail().files.find(_.stats("id").min.contains("101")).get.path
    t.deleteWhere("id <= 100")
    val after = t.currentOrFail().files
    after.map(_.path) shouldBe Seq(keepPath) // survivor untouched, no new file written
    t.scan().count() shouldBe 100
  }
}
