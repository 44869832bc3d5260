package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** Randomized differential check for incremental maintenance of join
  * materialized views: random churn on the fact and on inner, LEFT and
  * FULL OUTER dimensions, an incremental refresh after each burst, and
  * the MV view read must equal the defining query recomputed inline
  * EVERY time. Split from [[MvRandomSpec]] so two test JVMs share the
  * randomized MV checks. Widen one-off sweeps with GRAFT_MV_SEEDS.
  */
class MvJoinRandomSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------------------
  // Join MVs: one FACT joined to dimensions, group keys and measures
  // drawn from BOTH sides. The fact changelog maintains incrementally
  // against pinned dims; a moved INNER dim maintains incrementally too
  // via the telescoped delta (fact slice at old pins + fact@head
  // against each moved dim's signed slice). A moved LEFT dim flips
  // NULL-extensions non-linearly and re-pins via one full recompute.
  // ------------------------------------------------------------------

  private def aggJ(sqlFrom: String): Seq[String] =
    spark.sql(s"SELECT cat, t, av, mx, n, tw, dv FROM $sqlFrom ORDER BY cat NULLS FIRST")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

  test("join MV: fact AND inner-dim changes maintain incrementally (telescoped)") {
    val seeds = sys.env.get("GRAFT_MV_SEEDS").map(_.toInt).getOrElse(2)
    val defn =
      """SELECT cat, SUM(v) AS t, AVG(v) AS av, MAX(v) AS mx, COUNT(*) AS n,
        |       SUM(v * wt) AS tw, COUNT(DISTINCT v) AS dv
        |FROM graft.%NS%.fact JOIN graft.%NS%.dim ON g = dg
        |                     JOIN graft.%NS%.dim2 ON r = dr
        |WHERE v IS NULL OR v > -50.0
        |GROUP BY cat""".stripMargin
    for (seed <- 0 until seeds) {
      val rnd = new Random(7000 + seed)
      val ns = s"mvj$seed"
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      spark.sql(s"DROP TABLE IF EXISTS graft.$ns.fact")
      spark.sql(s"DROP TABLE IF EXISTS graft.$ns.dim")
      spark.sql(s"DROP TABLE IF EXISTS graft.$ns.dim2")
      spark.sql(s"CREATE TABLE graft.$ns.fact (id BIGINT, g STRING, r INT, v DOUBLE)")
      // odd seeds: merge-on-read dims — their deletes reach the
      // telescope as delete-group pre-images, not rewritten files
      val dimProps =
        if (seed % 2 == 1) " TBLPROPERTIES ('graft.delete.mode' = 'mor')" else ""
      spark.sql(s"CREATE TABLE graft.$ns.dim (dg STRING, cat STRING)$dimProps")
      spark.sql(s"CREATE TABLE graft.$ns.dim2 (dr INT, wt DOUBLE)$dimProps")
      // 4 fact groups onto 2 categories; g3/r2 dangle (inner join drops
      // them) until a dim insert pulls their fact rows IN — group-key
      // coverage includes join-miss rows flipping to hits and back
      spark.sql(
        s"""INSERT INTO graft.$ns.dim VALUES
           |('g0', 'c0'), ('g1', 'c0'), ('g2', 'c1')""".stripMargin)
      spark.sql(s"INSERT INTO graft.$ns.dim2 VALUES (0, 1.0), (1, 2.5)")
      var nextId = 0L
      def insertBurst(): Unit = {
        val rows = (0 until (1 + rnd.nextInt(5))).map { _ =>
          nextId += 1
          val g = s"g${rnd.nextInt(4)}"
          val v = if (rnd.nextInt(5) == 0) "CAST(NULL AS DOUBLE)"
                  else (rnd.nextInt(100) - 20).toString + ".0"
          s"($nextId, '$g', ${rnd.nextInt(3)}, $v)"
        }
        spark.sql(s"INSERT INTO graft.$ns.fact VALUES ${rows.mkString(", ")}")
      }
      insertBurst()
      spark.sql(
        s"""CALL graft.system.create_mview('$ns', 'm',
           |  '${defn.replace("%NS%", ns).replace("\n", " ")}')""".stripMargin)
        .head.getString(0) shouldBe "incremental"

      var dimMoves = 0
      for (step <- 0 until 8) {
        rnd.nextInt(6) match {
          case 0 => insertBurst()
          case 1 =>
            val lo = 1 + rnd.nextInt(math.max(1, nextId.toInt))
            spark.sql(s"DELETE FROM graft.$ns.fact WHERE id >= $lo AND id < ${lo + 4}")
          case 2 =>
            spark.sql(s"DELETE FROM graft.$ns.fact WHERE v >= ${40 + rnd.nextInt(40)}.0")
          case 3 =>
            // dim insert — may pull dangling fact groups into the join
            dimMoves += 1
            spark.sql(s"INSERT INTO graft.$ns.dim VALUES " +
              s"('g3', 'c${rnd.nextInt(3)}')")
          case 4 =>
            // dim re-categorization (delete + insert, two commits) —
            // every joined fact row retracts then re-adds under the
            // new category
            dimMoves += 1
            val g = s"g${rnd.nextInt(3)}"
            spark.sql(s"DELETE FROM graft.$ns.dim WHERE dg = '$g'")
            if (rnd.nextBoolean())
              spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('$g', 'c${rnd.nextInt(3)}')")
          case _ =>
            // dim2 weight update — SUM(v*wt) shifts for every joined row
            dimMoves += 1
            val r = rnd.nextInt(3)
            spark.sql(s"DELETE FROM graft.$ns.dim2 WHERE dr = $r")
            spark.sql(s"INSERT INTO graft.$ns.dim2 VALUES ($r, ${rnd.nextInt(5)}.5)")
        }
        val action = spark.sql(
          s"CALL graft.system.refresh_mview('$ns', 'm', false)").head.getString(2)
        withClue(s"seed=$seed step=$step ") {
          // inner-dim moves must NEVER fall back to full
          Seq("incremental", "empty", "noop") should contain(action)
          aggJ(s"graft.$ns.m") shouldBe aggJ(s"(${defn.replace("%NS%", ns)})")
        }
      }
      // force at least one dim-only refresh window (fact untouched):
      // the staleness dashboard flags it, the refresh stays incremental
      spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g9', 'c1')")
      spark.sql(s"CALL graft.system.mviews('$ns')")
        .head.getBoolean(6) shouldBe true
      spark.sql(s"CALL graft.system.refresh_mview('$ns', 'm', false)")
        .head.getString(2) should (be("incremental") or be("empty"))
      spark.sql(s"CALL graft.system.mviews('$ns')")
        .head.getBoolean(6) shouldBe false
      aggJ(s"graft.$ns.m") shouldBe aggJ(s"(${defn.replace("%NS%", ns)})")
      insertBurst()
      // a burst can land entirely on dangling keys (every g deleted by
      // re-categorization steps, r=2 never covered) — the inner join
      // then nets nothing and the refresh is legitimately "empty"
      spark.sql(s"CALL graft.system.refresh_mview('$ns', 'm', false)")
        .head.getString(2) should (be("incremental") or be("empty"))
      aggJ(s"graft.$ns.m") shouldBe aggJ(s"(${defn.replace("%NS%", ns)})")
      spark.sql(s"CALL graft.system.drop_mview('$ns', 'm')")
      spark.sql(s"DROP TABLE graft.$ns.fact")
      spark.sql(s"DROP TABLE graft.$ns.dim")
      spark.sql(s"DROP TABLE graft.$ns.dim2")
    }
  }

  // Round-17: FULL OUTER (single join) maintains with TWO-SIDED flip
  // terms — each side's linear slice left-joined from its own side,
  // the other side's NULL-extensions flipped by slice-bounded
  // semi/anti probes. Unmatched facts group under the NULL dim key;
  // unmatched dims contribute (NULLf, d) rows to their own groups.
  test("join MV: FULL OUTER maintains incrementally through both-side churn") {
    val ns = "mvjf"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    spark.sql(s"DROP TABLE IF EXISTS graft.$ns.fact")
    spark.sql(s"DROP TABLE IF EXISTS graft.$ns.dim")
    spark.sql(s"CREATE TABLE graft.$ns.fact (id BIGINT, g STRING, r INT, v DOUBLE)")
    spark.sql(s"CREATE TABLE graft.$ns.dim (dg STRING, cat STRING)")
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g0', 'c0'), ('g1', 'c1'), ('g9', 'c9')")
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES " +
      "(1, 'g0', 0, 10.0), (2, 'g1', 1, 20.0), (3, 'g2', 2, 30.0)")
    val defn =
      s"""SELECT cat, SUM(v) AS t, AVG(v) AS av, MAX(v) AS mx, COUNT(*) AS n,
         |       COUNT(DISTINCT v) AS dv
         |FROM graft.$ns.fact FULL OUTER JOIN graft.$ns.dim ON g = dg
         |GROUP BY cat""".stripMargin
    spark.sql(
      s"""CALL graft.system.create_mview('$ns', 'm',
         |  '${defn.replace("\n", " ")}')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    def refresh(): String =
      spark.sql(s"CALL graft.system.refresh_mview('$ns', 'm', false)")
        .head.getString(2)
    def aggF(sqlFrom: String): Seq[String] =
      spark.sql(s"SELECT cat, t, av, mx, n, dv FROM $sqlFrom ORDER BY cat NULLS FIRST")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    def check(step: String): Unit = withClue(s"$step ") {
      aggF(s"graft.$ns.m") shouldBe aggF(s"($defn)")
    }
    check("create")
    // fact insert matching an UNMATCHED dim: g9's (NULLf, d) retracts
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES (4, 'g9', 0, 40.0)")
    refresh() shouldBe "incremental"
    check("fact gains dim's first match")
    // fact delete that was g9's LAST match: (NULLf, d) re-extends
    spark.sql(s"DELETE FROM graft.$ns.fact WHERE id = 4")
    refresh() shouldBe "incremental"
    check("fact loses dim's last match")
    // dim insert matching an unmatched fact: g2's (f, NULLd) flips
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g2', 'c0')")
    refresh() shouldBe "incremental"
    check("dim gains fact's first match")
    // dim delete: matched facts flip back AND the dim row's own side goes
    spark.sql(s"DELETE FROM graft.$ns.dim WHERE dg = 'g1'")
    refresh() shouldBe "incremental"
    check("dim loses")
    // both sides move before one refresh
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES (5, 'g4', 1, 50.0)")
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g5', 'c2')")
    refresh() shouldBe "incremental"
    check("both sides move")
    val steps = 12 * sys.env.get("GRAFT_MV_SEEDS").map(_.toInt / 4 max 1).getOrElse(1)
    val rnd = new Random(93)
    var nextId = 5L
    for (step <- 0 until steps) {
      rnd.nextInt(5) match {
        case 0 =>
          nextId += 1
          spark.sql(s"INSERT INTO graft.$ns.fact VALUES " +
            s"($nextId, 'g${rnd.nextInt(7)}', ${rnd.nextInt(3)}, ${rnd.nextInt(90)}.0)")
        case 1 =>
          spark.sql(s"DELETE FROM graft.$ns.fact WHERE v = ${rnd.nextInt(90)}.0")
        case 2 =>
          spark.sql(s"INSERT INTO graft.$ns.dim VALUES " +
            s"('g${rnd.nextInt(8)}', 'c${rnd.nextInt(4)}')")
        case 3 =>
          spark.sql(s"DELETE FROM graft.$ns.dim WHERE dg = 'g${rnd.nextInt(8)}'")
        case _ =>
          val k = rnd.nextInt(8)
          spark.sql(s"DELETE FROM graft.$ns.dim WHERE dg = 'g$k'")
          spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g$k', 'c${rnd.nextInt(4)}')")
      }
      val action = refresh()
      Seq("incremental", "empty", "noop") should contain(action)
      check(s"step=$step action=$action")
    }
    // round 17: FULL now composes with further dims when it is the
    // FIRST join — but only then; deeper in the chain still refuses
    spark.sql(s"DROP TABLE IF EXISTS graft.$ns.dim2x")
    spark.sql(s"CREATE TABLE graft.$ns.dim2x (cat2 STRING, memo STRING)")
    val e = intercept[Exception](spark.sql(
      s"""CALL graft.system.create_mview('$ns', 'm2',
         |  'SELECT cat, COUNT(*) AS n FROM graft.$ns.fact
         |   JOIN graft.$ns.dim ON g = dg
         |   FULL OUTER JOIN graft.$ns.dim2x ON cat = cat2 GROUP BY cat')"""
        .stripMargin.replace("\n", " ")))
    (Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")) should
      include("FIRST join")
    spark.sql(s"DROP TABLE graft.$ns.dim2x")
    spark.sql(s"CALL graft.system.drop_mview('$ns', 'm')")
    spark.sql(s"DROP TABLE graft.$ns.fact")
    spark.sql(s"DROP TABLE graft.$ns.dim")
  }

  // Round-18: FULL OUTER over a SHARDED UNION ALL fact — union is
  // linear leg by leg, so the FULL slice term unions every leg's slice
  // (through its per-leg WHERE/SELECT) and the flip probes read the
  // union'd fact at the per-leg FROM pins and at the head. One shard
  // carries a divergent schema (per-leg SELECT), and a second MV adds
  // a suffix INNER dim so the moved-suffix split-prefix path runs over
  // the union too.
  test("join MV: FULL OUTER over a union'd fact maintains incrementally") {
    val ns = "mvjfu"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    Seq("s0", "s1", "dim", "dim2").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft.$ns.$t"))
    spark.sql(s"CREATE TABLE graft.$ns.s0 (id BIGINT, g STRING, v DOUBLE)")
    spark.sql(s"CREATE TABLE graft.$ns.s1 (id2 BIGINT, code STRING, amt DOUBLE)")
    spark.sql(s"CREATE TABLE graft.$ns.dim (dg STRING, cat STRING)")
    spark.sql(s"CREATE TABLE graft.$ns.dim2 (cat2 STRING, cls STRING)")
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g0','c0'),('g1','c1'),('g9','c9')")
    spark.sql(s"INSERT INTO graft.$ns.dim2 VALUES ('c0','K0'),('c1','K1'),('c9','K9')")
    spark.sql(s"INSERT INTO graft.$ns.s0 VALUES (1,'g0',10.0),(2,'g2',30.0)")
    spark.sql(s"INSERT INTO graft.$ns.s1 VALUES (100,'G1',20.0),(101,'G3',25.0)")
    val union =
      s"""SELECT id, g, v FROM graft.$ns.s0
         | UNION ALL
         | SELECT id2 AS id, lower(code) AS g, amt AS v FROM graft.$ns.s1""".stripMargin
    val defn1 =
      s"""SELECT cat, SUM(v) AS t, MAX(v) AS mx, COUNT(*) AS n,
         |       COUNT(DISTINCT v) AS dv
         |FROM ($union) FULL OUTER JOIN graft.$ns.dim ON g = dg
         |GROUP BY cat""".stripMargin
    val defn2 =
      s"""SELECT cls, SUM(v) AS t, COUNT(*) AS n
         |FROM ($union) FULL OUTER JOIN graft.$ns.dim ON g = dg
         |  JOIN graft.$ns.dim2 ON cat = cat2
         |GROUP BY cls""".stripMargin
    spark.sql(s"CALL graft.system.create_mview('$ns', 'm1', " +
      s"'${defn1.replace("\n", " ").replace("'", "''")}')")
      .head.getString(0) shouldBe "incremental"
    spark.sql(s"CALL graft.system.create_mview('$ns', 'm2', " +
      s"'${defn2.replace("\n", " ").replace("'", "''")}')")
      .head.getString(0) shouldBe "incremental"
    def refresh(m: String): String =
      spark.sql(s"CALL graft.system.refresh_mview('$ns', '$m', false)")
        .head.getString(2)
    def rowsOf(sel: String, from: String): Seq[String] =
      spark.sql(s"SELECT $sel FROM $from ORDER BY 1 NULLS FIRST")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    def check(step: String): Unit = withClue(s"$step ") {
      rowsOf("cat, t, mx, n, dv", s"graft.$ns.m1") shouldBe
        rowsOf("cat, t, mx, n, dv", s"($defn1)")
      rowsOf("cls, t, n", s"graft.$ns.m2") shouldBe
        rowsOf("cls, t, n", s"($defn2)")
    }
    check("create")
    val rnd = new Random(181)
    var nid = 101L
    for (step <- 0 until 16) {
      rnd.nextInt(6) match {
        case 0 => // shard-0 burst (may match unmatched dims or none)
          nid += 1
          spark.sql(s"INSERT INTO graft.$ns.s0 VALUES " +
            s"($nid, 'g${rnd.nextInt(7)}', ${rnd.nextInt(60)}.0)")
        case 1 => // shard-1 burst through the projection
          nid += 1
          spark.sql(s"INSERT INTO graft.$ns.s1 VALUES " +
            s"($nid, 'G${rnd.nextInt(7)}', ${rnd.nextInt(60)}.0)")
        case 2 => // band delete on either shard: partners may re-extend
          if (rnd.nextBoolean())
            spark.sql(s"DELETE FROM graft.$ns.s0 WHERE v >= ${20 + rnd.nextInt(30)}.0")
          else
            spark.sql(s"DELETE FROM graft.$ns.s1 WHERE amt >= ${20 + rnd.nextInt(30)}.0")
        case 3 => // FULL-dim churn: extensions born/killed directly
          val k = rnd.nextInt(8)
          spark.sql(s"DELETE FROM graft.$ns.dim WHERE dg = 'g$k'")
          if (rnd.nextBoolean())
            spark.sql(s"INSERT INTO graft.$ns.dim VALUES ('g$k', 'c${rnd.nextInt(4)}')")
        case 4 => // suffix-dim churn: the split-prefix term over the union
          val c = rnd.nextInt(4)
          spark.sql(s"DELETE FROM graft.$ns.dim2 WHERE cat2 = 'c$c'")
          if (rnd.nextBoolean())
            spark.sql(s"INSERT INTO graft.$ns.dim2 VALUES ('c$c', 'K${rnd.nextInt(3)}')")
        case 5 => // several sides move before one refresh
          nid += 1
          spark.sql(s"INSERT INTO graft.$ns.s1 VALUES " +
            s"($nid, 'G${rnd.nextInt(7)}', ${rnd.nextInt(60)}.0)")
          spark.sql(s"UPDATE graft.$ns.dim SET cat = 'c${rnd.nextInt(4)}' " +
            s"WHERE dg = 'g${rnd.nextInt(5)}'")
      }
      val a1 = refresh("m1")
      val a2 = refresh("m2")
      Seq("incremental", "empty", "noop") should contain(a1)
      Seq("incremental", "empty", "noop") should contain(a2)
      check(s"step=$step m1=$a1 m2=$a2")
    }
    // a SECOND FULL join still refuses by name (no single dim side
    // anchors the two-sided flips)
    val e = intercept[Exception](spark.sql(
      s"""CALL graft.system.create_mview('$ns', 'm3',
         |  'SELECT cls, COUNT(*) AS n FROM graft.$ns.s0
         |   FULL OUTER JOIN graft.$ns.dim ON g = dg
         |   FULL OUTER JOIN graft.$ns.dim2 ON cat = cat2 GROUP BY cls')"""
        .stripMargin.replace("\n", " ")))
    (Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")) should
      include("more than one FULL")
    spark.sql(s"CALL graft.system.drop_mview('$ns', 'm2')")
    spark.sql(s"CALL graft.system.drop_mview('$ns', 'm1')")
    Seq("s0", "s1", "dim", "dim2").foreach(t =>
      spark.sql(s"DROP TABLE graft.$ns.$t"))
  }

  // Round-17: the FULL head join COMPOSES with further inner/left dims
  // — suffix dims ride every FULL term at their telescope pins, and a
  // moved suffix dim's term splits the FULL prefix so fact pruning
  // cannot invent extensions. Differential churn over all four
  // relations: fact, the FULL dim, a dim-keyed INNER suffix dim
  // (extensions survive into it when their key matches), and a
  // fact-keyed LEFT suffix dim (extensions NULL-extend under it).
  test("join MV: FULL OUTER head composes with suffix dims through churn") {
    val ns = "mvjfc"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    for (t <- Seq("fact", "d1", "d2", "d3")) spark.sql(s"DROP TABLE IF EXISTS graft.$ns.$t")
    spark.sql(s"CREATE TABLE graft.$ns.fact (id BIGINT, g STRING, r INT, v DOUBLE)")
    spark.sql(s"CREATE TABLE graft.$ns.d1 (dg STRING, cat STRING)")
    spark.sql(s"CREATE TABLE graft.$ns.d2 (ck STRING, lbl STRING)")
    spark.sql(s"CREATE TABLE graft.$ns.d3 (rk INT, extra STRING)")
    spark.sql(s"INSERT INTO graft.$ns.d1 VALUES ('g0','c0'),('g1','c1'),('g9','c2')")
    spark.sql(s"INSERT INTO graft.$ns.d2 VALUES ('c0','L0'),('c1','L1'),('c2','L2')")
    spark.sql(s"INSERT INTO graft.$ns.d3 VALUES (0,'E0'),(1,'E1')")
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES " +
      "(1,'g0',0,10.0),(2,'g1',1,20.0),(3,'g2',2,30.0)")
    val defn =
      s"""SELECT lbl, extra, SUM(v) AS t, AVG(v) AS av, MAX(v) AS mx,
         |       COUNT(*) AS n, COUNT(DISTINCT v) AS dv
         |FROM graft.$ns.fact FULL OUTER JOIN graft.$ns.d1 ON g = dg
         |     JOIN graft.$ns.d2 ON cat = ck
         |     LEFT JOIN graft.$ns.d3 ON r = rk
         |GROUP BY lbl, extra""".stripMargin
    spark.sql(
      s"""CALL graft.system.create_mview('$ns', 'm',
         |  '${defn.replace("\n", " ")}')""".stripMargin)
      .head.getString(0) shouldBe "incremental"
    def refresh(): String =
      spark.sql(s"CALL graft.system.refresh_mview('$ns', 'm', false)")
        .head.getString(2)
    def aggF(sqlFrom: String): Seq[String] =
      spark.sql(s"SELECT lbl, extra, t, av, mx, n, dv FROM $sqlFrom")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    def check(step: String): Unit = withClue(s"$step ") {
      aggF(s"graft.$ns.m") shouldBe aggF(s"($defn)")
    }
    check("create")
    // the directed cases first: each flip direction with suffix dims on
    // fact gains g9's first match: the (NULLf, g9) extension — alive
    // through d2 via cat c2 — retracts
    spark.sql(s"INSERT INTO graft.$ns.d2 VALUES ('cX','LX')")
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES (4,'g9',0,40.0)")
    refresh() shouldBe "incremental"
    check("fact gains the FULL dim's first match")
    // fact loses g9's last match: the extension re-appears, and it must
    // re-thread d2 (inner, cat-keyed) and d3 (left, NULL r)
    spark.sql(s"DELETE FROM graft.$ns.fact WHERE id = 4")
    refresh() shouldBe "incremental"
    check("fact loses the FULL dim's last match")
    // the FULL dim moves: g2's unmatched fact row flips matched
    spark.sql(s"INSERT INTO graft.$ns.d1 VALUES ('g2','c1')")
    refresh() shouldBe "incremental"
    check("FULL dim gains an unmatched fact's match")
    // a SUFFIX dim moves while extensions exist (the split-base path:
    // d2 is dim-keyed, so the extension side must survive the prune).
    // The unmatched fact row's own delta nets EMPTY — its NULL cat
    // drops under the inner d2 — which is itself a correctness pin.
    spark.sql(s"INSERT INTO graft.$ns.fact VALUES (5,'g7',1,50.0)") // unmatched fact
    Seq("incremental", "empty") should contain(refresh())
    spark.sql(s"UPDATE graft.$ns.d2 SET lbl = 'L2x' WHERE ck = 'c2'")
    refresh() shouldBe "incremental"
    check("inner suffix dim moves under live extensions")
    // the LEFT suffix dim moves: extension rows keep their NULL r
    spark.sql(s"INSERT INTO graft.$ns.d3 VALUES (2,'E2')")
    refresh() shouldBe "incremental"
    check("left suffix dim moves")
    val steps = 14 * sys.env.get("GRAFT_MV_SEEDS").map(_.toInt / 4 max 1).getOrElse(1)
    val rnd = new Random(117)
    var nextId = 5L
    for (step <- 0 until steps) {
      rnd.nextInt(7) match {
        case 0 =>
          nextId += 1
          spark.sql(s"INSERT INTO graft.$ns.fact VALUES " +
            s"($nextId, 'g${rnd.nextInt(7)}', ${rnd.nextInt(4)}, ${rnd.nextInt(90)}.0)")
        case 1 =>
          spark.sql(s"DELETE FROM graft.$ns.fact WHERE v = ${rnd.nextInt(90)}.0")
        case 2 =>
          spark.sql(s"INSERT INTO graft.$ns.d1 VALUES " +
            s"('g${rnd.nextInt(8)}', 'c${rnd.nextInt(4)}')")
        case 3 =>
          spark.sql(s"DELETE FROM graft.$ns.d1 WHERE dg = 'g${rnd.nextInt(8)}'")
        case 4 =>
          val k = rnd.nextInt(4)
          spark.sql(s"DELETE FROM graft.$ns.d2 WHERE ck = 'c$k'")
          spark.sql(s"INSERT INTO graft.$ns.d2 VALUES ('c$k', 'L${rnd.nextInt(5)}')")
        case 5 =>
          spark.sql(s"INSERT INTO graft.$ns.d3 VALUES " +
            s"(${rnd.nextInt(4)}, 'E${rnd.nextInt(5)}')")
        case _ =>
          spark.sql(s"DELETE FROM graft.$ns.d3 WHERE rk = ${rnd.nextInt(4)}")
      }
      val action = refresh()
      Seq("incremental", "empty", "noop") should contain(action)
      check(s"step=$step action=$action")
    }
    spark.sql(s"CALL graft.system.drop_mview('$ns', 'm')")
    for (t <- Seq("fact", "d1", "d2", "d3")) spark.sql(s"DROP TABLE graft.$ns.$t")
  }
}
