package perfbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.table.TableIdent

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `mv_refresh`: an incremental aggregate materialized view, join +
  * GROUP BY over a TPC-H-shaped fact (lineitem, merge-on-read deletes)
  * and dim (orders), both generated in set-up. Each round inserts 200
  * fact rows through SQL; every third round also deletes a key range of
  * the fact and inserts 100 dim rows; then it refreshes the view through
  * `CALL graft.system.refresh_mview`. Main latency is the refresh, side
  * latency the SQL DML. No loader or source work runs here.
  */
object MvRefresh {
  val BaseOrders = 6000L
  val InsertRows = 200
  val DimRows = 100
  val DeleteWidth = 40
  val Every = 3
  val CheckEvery = 5
  /** Untimed rounds before the clock starts (one with a delete and a dim
    * insert): the JIT is still speeding the refresh up for the first few.
    */
  val WarmRounds = 2

  val dimSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderpriority", StringType), StructField("o_orderdate", DateType)))
  val factSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", LongType), StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_returnflag", StringType), StructField("l_shipdate", DateType)))

  def mvSql(ns: String): String =
    s"""SELECT o_orderpriority, l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty,
       |       SUM(l_extendedprice) AS price
       |FROM graft.$ns.l JOIN graft.$ns.o ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority, l_returnflag""".stripMargin

  def run(r: Run): Unit = {
    val gen = r.gen
    val spark = r.spark
    def dimDf(rows: Seq[(Long, Long, String, Int)]): DataFrame =
      spark.createDataFrame(rows.map { case (k, c, p, d) =>
        Row(k, c, p, LocalDate.ofEpochDay(d)) }.asJava, dimSchema)
    def factDf(rows: Seq[(Long, Int, Long, Long, String, Int)]): DataFrame =
      spark.createDataFrame(rows.map { case (k, n, q, p, f, d) =>
        Row(k, n, q, java.math.BigDecimal.valueOf(p, 2), f, LocalDate.ofEpochDay(d)) }.asJava, factSchema)
    def insert(table: String, df: DataFrame): Unit = {
      df.createOrReplaceTempView("pb_src")
      spark.sql(s"INSERT INTO $table SELECT * FROM pb_src")
    }
    def refresh(ns: String): String =
      spark.sql(s"CALL graft.system.refresh_mview('$ns', 'm', false)").head().getString(2)
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

    val baseDim = dimDf(gen.orders(1, BaseOrders + 1, 8)).cache()
    val baseFact = factDf(gen.lines(1, BaseOrders + 1)).cache()
    r.phase("inputs_done")

    val setupS = r.setupS { i =>
      val ns = s"mv$i"
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      spark.sql(s"CREATE TABLE graft.$ns.o (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderpriority STRING, o_orderdate DATE)")
      spark.sql(s"CREATE TABLE graft.$ns.l (l_orderkey BIGINT, l_linenumber INT, " +
        "l_quantity BIGINT, l_extendedprice DECIMAL(12,2), l_returnflag STRING, l_shipdate DATE) " +
        "TBLPROPERTIES ('graft.delete.mode' = 'mor')")
      insert(s"graft.$ns.o", baseDim)
      insert(s"graft.$ns.l", baseFact)
      val mode = spark.sql(s"CALL graft.system.create_mview('$ns', 'm', '${mvSql(ns)}')").head().getString(0)
      r.check(s"view in $ns is created incremental (got $mode)")(mode == "incremental")
    }
    val ns = s"mv${r.setupReps - 1}"
    val fact = TableIdent(ns, "l")

    def checkView(when: String): Unit = r.check(s"view equals its query re-run $when")(
      sorted(spark.table(s"graft.$ns.m")) == sorted(spark.sql(mvSql(ns))))

    var orders = BaseOrders
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    /** One round. Warm-up rounds (negative `k`) run and check the same
      * statements under the kind `warmup`, which no metric reads.
      */
    def round(k: Int, traced: Boolean): Unit = {
      def kind(x: String) = if (k < 0) "warmup" else x
      val rows = factDf(gen.factInsert(k, InsertRows, orders + DimRows + DimRows / 2))
      r.op(kind("dml"), s"insert-$k", traced)(insert(s"graft.$ns.l", rows))
      if (Math.floorMod(k, Every) == Every - 1) {
        val lo = gen.deleteStart(k, orders, DeleteWidth)
        r.op(kind("dml"), s"delete-$k", traced)(
          spark.sql(s"DELETE FROM graft.$ns.l WHERE l_orderkey >= $lo AND l_orderkey < ${lo + DeleteWidth}"))
        val dims = dimDf(gen.orders(orders + 1, orders + 1 + DimRows, 9))
        r.op(kind("dml"), s"dim-$k", traced)(insert(s"graft.$ns.o", dims))
        orders += DimRows
      }
      r.op(kind("refresh"), s"refresh-$k", traced)(refresh(ns)).foreach(a => if (k >= 0) actions += a)
      if (Math.floorMod(k, CheckEvery) == CheckEvery - 1) checkView(s"after round $k")
    }

    (-WarmRounds until 0).foreach(round(_, traced = false))
    r.phase("warmup_done")
    val log = r.catalog.load(fact).log
    var k = 0
    var tracedFrom = 0
    r.measure { traced =>
      if (traced) tracedFrom = log.currentVersion().get
      // whole cycles of `Every` rounds, so every window holds the same
      // share of the heavier rounds that delete and insert dim rows
      while (r.timeLeft) (0 until Every).foreach { _ => round(k, traced); k += 1 }
    }
    checkView("at the end")

    def withFlag(kind: String) = r.ops.filter(_.kind == kind).map(o => (o.ms, o.traced)).toSeq
    def rate(traced: Boolean): Double = {
      val os = r.ops.filter(o => o.traced == traced && o.kind != "warmup")
      os.count(_.id.startsWith("insert-")) * InsertRows / math.max(1e-9, os.map(_.ms).sum / 1000)
    }
    r.report(setupS, withFlag("refresh"), withFlag("dml"), rate, ns)
    for (kind <- Seq("refresh", "dml")) r.named(kind, r.ms(kind, traced = false))
    r.detail("rounds") = k
    r.detail("refresh_actions") = actions.groupBy(identity).map { case (a, xs) => a -> xs.size }

    if (r.tracer.enabled) {
      val (jobs, gap) = r.jobsAndGap(Set("refresh"))
      r.layer("connector.refresh_jobs") = jobs
      r.layer("connector.refresh_gap_ms") = gap
      r.layer("connector.incremental_frac") = actions.count(_ == "incremental").toDouble / math.max(1, actions.size)
      r.layer("connector.dml_jobs") = r.jobsAndGap(Set("dml"))._1
      r.commonLayers(fact, tracedFrom, Set("dml", "refresh"))
    }
  }
}
