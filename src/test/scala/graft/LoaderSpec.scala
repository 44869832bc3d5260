package graft

import java.nio.file.Files
import java.time.Instant

import graft.config.{LoaderConfig, WriteMode}
import graft.loader.{Loader, WriteStrategy}
import graft.table.{GraftCatalog, TableIdent}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, lit, udf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Loader orchestration contracts (`core/loader.py:109-258`) and the
  * strategy factory precedence (`core/strategies.py:84-99`).
  */
class LoaderSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def cat() = GraftCatalog(spark, Files.createTempDirectory("graft-loader").toString)

  private def batch(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"n$i")).toDF("id", "name")
  }

  test("strategy factory precedence: replace_filter overrides overwrite") {
    WriteStrategy.forConfig(LoaderConfig(writeMode = WriteMode.Upsert,
      joinCols = Some(Seq("id")))) shouldBe WriteStrategy.Upsert
    WriteStrategy.forConfig(LoaderConfig(writeMode = WriteMode.Overwrite,
      replaceFilter = Some("id = 1"))) shouldBe WriteStrategy.Idempotent
    WriteStrategy.forConfig(LoaderConfig(writeMode = WriteMode.Overwrite)) shouldBe
      WriteStrategy.Overwrite
    WriteStrategy.forConfig(LoaderConfig(writeMode = WriteMode.Append)) shouldBe
      WriteStrategy.Append
  }

  test("20 batches @ interval 5 => 4 snapshots (load_with_commits.py:39-61)") {
    val c = cat()
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, commitInterval = 5))
    val batches = (1 to 20).iterator.map(i => batch(i.toLong))
    val res = loader.loadBatches(batches, TableIdent("ns", "commits"))
    res.batchesProcessed shouldBe 20
    res.rowsLoaded shouldBe 20
    c.load(TableIdent("ns", "commits")).snapshots().size shouldBe 4
  }

  test("commit_interval 0 behaves as 1: per-batch flush (max(1,·) guard, loader.py:214)") {
    val c = cat()
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, commitInterval = 0))
    loader.loadBatches((1 to 7).iterator.map(i => batch(i.toLong)), TableIdent("ns", "one"))
    c.load(TableIdent("ns", "one")).snapshots().size shouldBe 7
  }

  test("empty stream: no table touched, rows 0, snapshot 'none' (ST3)") {
    val c = cat()
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append))
    val res = loader.loadBatches(Iterator.empty, TableIdent("ns", "empty"))
    res.rowsLoaded shouldBe 0
    res.batchesProcessed shouldBe 0
    res.newTableCreated shouldBe false
    res.snapshotIdString shouldBe "none"
    c.exists(TableIdent("ns", "empty")) shouldBe false
  }

  test("overwrite mid-stream: first flush overwrites, later flushes append (W2)") {
    val c = cat()
    val id = TableIdent("ns", "ow")
    // pre-existing data that the stream must clobber exactly once
    new Loader(c, LoaderConfig(writeMode = WriteMode.Append)).loadData(batch(100, 101), id)
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Overwrite, commitInterval = 1))
    loader.loadBatches((1 to 3).iterator.map(i => batch(i.toLong)), id)
    val ids = c.load(id).scan().select("id").collect().map(_.getLong(0)).sorted
    ids.toSeq shouldBe Seq(1L, 2L, 3L) // old data gone, all 3 flushes present
  }

  test("idempotent: first flush deletes replace_filter rows then appends (W3)") {
    val c = cat()
    val id = TableIdent("ns", "idem")
    new Loader(c, LoaderConfig(writeMode = WriteMode.Append)).loadData(batch(1, 2, 3), id)
    val loader = new Loader(c, LoaderConfig(replaceFilter = Some("id <= 2"), commitInterval = 1))
    loader.loadBatches(Iterator(batch(10), batch(11)), id)
    val ids = c.load(id).scan().select("id").collect().map(_.getLong(0)).sorted
    ids.toSeq shouldBe Seq(3L, 10L, 11L) // 1,2 replaced; 3 kept; both flushes in
  }

  test("upsert strategy merges by join_cols (W4)") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "ups")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Upsert, joinCols = Some(Seq("id"))))
    loader.loadData(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), id)
    loader.loadData(Seq((2L, "B"), (3L, "c")).toDF("id", "name"), id)
    val out = c.load(id).scan().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    out.toSeq shouldBe Seq((1L, "a"), (2L, "B"), (3L, "c"))
  }

  test("mixed-schema batches in one flush normalize via unionByName (ST2)") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "mixed")
    val b1 = Seq((1L, "a")).toDF("id", "name")
    val b2 = Seq((2L, 9.5)).toDF("id", "score") // new column, missing name
    // interval larger than the stream ⇒ both batches buffered into ONE flush
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, commitInterval = 10))
    loader.loadBatches(Iterator(b1, b2), id)
    val t = c.load(id)
    t.schema.fieldNames.toSeq shouldBe Seq("id", "name", "score")
    val rows = t.scan().orderBy("id").collect()
    rows(0).isNullAt(2) shouldBe true // b1 had no score
    rows(1).isNullAt(1) shouldBe true // b2 had no name
  }

  test("load timestamp column injected with the configured constant (P4)") {
    val c = cat()
    val id = TableIdent("ns", "ts")
    val ts = Instant.parse("2024-06-01T12:00:00Z")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append,
      loadTimestamp = Some(ts), loadTsCol = "_load_dttm"))
    loader.loadData(batch(1, 2), id)
    val t = c.load(id)
    t.schema.fieldNames should contain("_load_dttm")
    val vals = t.scan().select("_load_dttm").distinct().collect()
    vals.length shouldBe 1
    vals(0).getTimestamp(0).toInstant shouldBe ts
  }

  test("per-call table properties merge over defaults and stay isolated per table") {
    val c = cat()
    val id1 = TableIdent("ns", "props1")
    val id2 = TableIdent("ns", "props2")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append,
      tableProperties = Map("owner" -> "team-a", "format-version" -> "3")))
    loader.loadData(batch(1), id1)
    val p1 = c.load(id1).currentOrFail().properties
    p1("owner") shouldBe "team-a"
    p1("format-version") shouldBe "3" // per-call overrides the default "2"
    p1("write.parquet.compression-codec") shouldBe "zstd" // defaults kept
    // a table written without custom properties is not polluted
    new Loader(c, LoaderConfig(writeMode = WriteMode.Append)).loadData(batch(2), id2)
    val p2 = c.load(id2).currentOrFail().properties
    p2.get("owner") shouldBe None
    p2("format-version") shouldBe "2"
  }

  test("new_table_created flag set only on first creation") {
    val c = cat()
    val id = TableIdent("ns", "flag")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append))
    loader.loadData(batch(1), id).newTableCreated shouldBe true
    loader.loadData(batch(2), id).newTableCreated shouldBe false
  }

  test("schema evolution through the loader adds columns across loads (C2)") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "evo")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, schemaEvolution = true))
    loader.loadData(Seq((1L, "a")).toDF("id", "name"), id)
    loader.loadData(Seq((2L, "b", 3.5)).toDF("id", "name", "score"), id)
    val t = c.load(id)
    t.schema.fieldNames.toSeq shouldBe Seq("id", "name", "score")
    t.scan().count() shouldBe 2
  }

  test("type widening through the loader: int->long, float->double mid-stream") {
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "widen")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, schemaEvolution = true))
    loader.loadData(Seq((1, 1.5f)).toDF("id", "score"), id)
    val t0 = c.load(id)
    t0.schema("id").dataType shouldBe org.apache.spark.sql.types.IntegerType
    val idFieldId = graft.table.Projection.fieldId(t0.schema("id"))
    // a later batch arrives with wider types AND a value outside int range
    loader.loadData(Seq((5000000000L, 2.5d)).toDF("id", "score"), id)
    val t = c.load(id)
    t.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    t.schema("score").dataType shouldBe org.apache.spark.sql.types.DoubleType
    // field ID survives the widening (evolution, not drop-and-re-add)
    graft.table.Projection.fieldId(t.schema("id")) shouldBe idFieldId
    // old int/float files read back through the widened schema
    t.scan().orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe
      Seq((1L, 1.5), (5000000000L, 2.5))
    // narrowing never evolves: a later int batch projects onto long
    loader.loadData(Seq((7, 3.5d)).toDF("id", "score"), id)
    c.load(id).schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    c.load(id).scan().count() shouldBe 3
  }

  test("decimal widening grows precision and scale, never the integer part shrink") {
    import org.apache.spark.sql.types._
    graft.table.Projection.widens(DecimalType(10, 2), DecimalType(14, 2)) shouldBe true
    graft.table.Projection.widens(DecimalType(10, 2), DecimalType(14, 4)) shouldBe true
    graft.table.Projection.widens(DecimalType(10, 2), DecimalType(10, 4)) shouldBe false // int part shrinks
    graft.table.Projection.widens(DecimalType(14, 2), DecimalType(10, 2)) shouldBe false // narrowing
    graft.table.Projection.widens(LongType, IntegerType) shouldBe false
    graft.table.Projection.widens(DoubleType, FloatType) shouldBe false
    val s = spark
    import s.implicits._
    val c = cat()
    val id = TableIdent("ns", "widen_dec")
    val loader = new Loader(c, LoaderConfig(writeMode = WriteMode.Append, schemaEvolution = true))
    loader.loadData(Seq(Tuple1(BigDecimal("12.34"))).toDF("amt")
      .select(col("amt").cast(DecimalType(10, 2)).as("amt")), id)
    loader.loadData(Seq(Tuple1(BigDecimal("123456789012.3456"))).toDF("amt")
      .select(col("amt").cast(DecimalType(16, 4)).as("amt")), id)
    val t = c.load(id)
    t.schema("amt").dataType shouldBe DecimalType(16, 4)
    t.scan().orderBy("amt").collect().map(_.getDecimal(0).toPlainString).toSeq shouldBe
      Seq("12.3400", "123456789012.3456")
  }

  test("upsert evaluates a nondeterministic source once: no duplicate keys, rowsLoaded = rows committed") {
    val c = cat()
    val id = TableIdent("ns", "ups_nondet")
    def cfg(ts: Instant) = LoaderConfig(writeMode = WriteMode.Upsert,
      joinCols = Some(Seq("id")), partitionCol = Some("bucket(8, id)"),
      loadTimestamp = Some(ts))
    val (t0, t1) = (Instant.parse("2024-01-01T00:00:00Z"), Instant.parse("2024-01-02T00:00:00Z"))
    new Loader(c, cfg(t0)).loadData(spark.range(0, 100).select(col("id"), lit("base").as("name")), id)
    // each evaluation of the source yields another key set of another
    // size; a source read once per pass (duplicate check, pruning, anti
    // join, write) carries or keeps a file holding a key it then inserts
    NondetKeys.evals.set(0)
    val src = spark.range(0, 1, 1, 1)
      .select(explode(NondetKeys.ids()).as("id"), lit("new").as("name"))
    val res = new Loader(c, cfg(t1)).loadData(src, id)
    val rows = c.load(id).scan()
    rows.groupBy("id").count().where(col("count") > 1).count() shouldBe 0
    rows.count() shouldBe 100 // every source key already existed
    res.rowsLoaded shouldBe
      rows.where(col("_load_dttm") === lit(java.sql.Timestamp.from(t1))).count()
  }
}

/** A source that changes on every evaluation: evaluation k returns k
  * distinct ids of the 0..99 range. The counter lives on the driver,
  * which runs the tasks under local mode.
  */
object NondetKeys {
  val evals = new java.util.concurrent.atomic.AtomicInteger
  val ids = udf { () =>
    val k = evals.incrementAndGet()
    (0 until k).map(i => ((k * 13 + i * 29) % 100).toLong)
  }.asNondeterministic()
}
