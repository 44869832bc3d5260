package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.util.Random

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, TimeStampMicroTZVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.TimeUnit
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

/** A row of the keyed stream: int64 id, UTC timestamp (epoch micros),
  * string and double, the column mix of the reference's load_stream.py.
  */
final case class Rec(id: Long, tsMicros: Long, name: String, v: Double)

/** Seeded input generators. Every input is a pure function of the seed
  * and a position (batch, cycle or round index), so a run sees the same
  * inputs however far it gets, and the self-test can regenerate any of
  * them.
  */
final class Gen(val seed: Long) {
  def rng(stream: Long, index: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ index)

  // ---- keyed rows (ingest_stream, upsert_mixed) -------------------------
  /** 2024-01-01T00:00:00Z; rows advance ~8.6 s apart, so 10k rows span a day. */
  private val BaseMicros = 1704067200000000L
  private val StepMicros = 8640000L

  def rec(id: Long, r: Random): Rec = {
    val len = 8 + r.nextInt(17)
    val name = "val_" + Iterator.continually(('a' + r.nextInt(26)).toChar).take(len).mkString
    Rec(id, BaseMicros + id * StepMicros + r.nextInt(1000000), name, r.nextInt(1000000) / 100.0)
  }

  /** Batch `b` of the ingest stream: ids [b*rows, (b+1)*rows). */
  def ingestBatch(b: Int, rows: Int): Seq[Rec] = {
    val r = rng(1, b)
    (0 until rows).map(i => rec(b.toLong * rows + i, r))
  }

  /** The upsert table's initial rows, ids [0, n). */
  def upsertBase(n: Int): Seq[Rec] = {
    val r = rng(2, 0)
    (0 until n).map(i => rec(i.toLong, r))
  }

  /** A key from [0, nextId) favouring recent ids (cube of a uniform). */
  def recentKey(r: Random, nextId: Long): Long = {
    val u = r.nextDouble()
    nextId - 1 - (nextId * u * u * u).toLong
  }

  /** Upsert batch `c`: a fifth new ids from `nextId` up, the rest
    * distinct existing keys skewed towards recent ones.
    */
  def upsertBatch(c: Int, rows: Int, nextId: Long): Seq[Rec] = {
    val r = rng(3, c)
    val fresh = rows / 5
    val old = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (old.size < rows - fresh) old += recentKey(r, nextId)
    (old.toSeq ++ (nextId until nextId + fresh)).map(id => rec(id, r))
  }

  /** Lookups and the range aggregate of cycle `c`: four point ids (one
    * may be absent) and a range start.
    */
  def readsOf(c: Int, nextId: Long, range: Int): (Seq[Long], Long) = {
    val r = rng(4, c)
    val points = Seq.fill(3)(recentKey(r, nextId)) :+ (r.nextLong() & Long.MaxValue) % (nextId + 100)
    (points, (r.nextLong() & Long.MaxValue) % math.max(1L, nextId - range))
  }

  // ---- TPC-H-shaped fact/dim (mv_refresh) ------------------------------
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags = Seq("A", "N", "R")

  /** orders row: (o_orderkey, o_custkey, o_orderpriority, o_orderdate as epoch day). */
  def order(key: Long, r: Random): (Long, Long, String, Int) =
    (key, 1 + r.nextInt(15000), Priorities(r.nextInt(5)), 8035 + r.nextInt(2400))

  /** lineitem row: (l_orderkey, l_linenumber, l_quantity, l_extendedprice
    * in cents, l_returnflag, l_shipdate as epoch day).
    */
  def line(orderKey: Long, n: Int, r: Random): (Long, Int, Long, Long, String, Int) =
    (orderKey, n, 1L + r.nextInt(50), 90000L + r.nextInt(10000000), Flags(r.nextInt(3)),
     8035 + r.nextInt(2500))

  /** Orders [from, until); `stream` keeps the set-up load apart from the
    * dim rows inserted during the loop.
    */
  def orders(from: Long, until: Long, stream: Long): Seq[(Long, Long, String, Int)] = {
    val r = rng(stream, from)
    (from until until).map(order(_, r))
  }

  /** One to seven lines for each order key in [from, until). */
  def lines(from: Long, until: Long): Seq[(Long, Int, Long, Long, String, Int)] = {
    val r = rng(5, from)
    (from until until).flatMap(k => (1 to 1 + r.nextInt(7)).map(line(k, _, r)))
  }

  /** Round `k`'s fact insert: `rows` lines on random orders in
    * [1, maxKey), a share of them on keys whose dim row arrives later.
    */
  def factInsert(k: Int, rows: Int, maxKey: Long): Seq[(Long, Int, Long, Long, String, Int)] = {
    val r = rng(6, k)
    (0 until rows).map(i => line(1 + (r.nextLong() & Long.MaxValue) % (maxKey - 1), 100 + k * rows + i, r))
  }

  /** Start of round `k`'s deleted order-key range in [1, maxKey). */
  def deleteStart(k: Int, maxKey: Long, width: Int): Long =
    1 + (rng(7, k).nextLong() & Long.MaxValue) % math.max(1L, maxKey - width)
}

object Gen {
  /** Order-independent row hash, reproduced in SQL by [[hashSql]]. */
  def hash(r: Rec): Long = {
    val c = new CRC32()
    c.update(r.name.getBytes(UTF_8))
    Math.floorMod(r.id * 1000003L + c.getValue * 31L + Math.round(r.v * 100) * 7L +
      Math.floorMod(r.tsMicros, 999983L), 2147483647L)
  }

  val hashSql: String =
    "pmod(id * 1000003 + crc32(cast(name AS binary)) * 31 + " +
      "cast(round(v * 100) AS bigint) * 7 + pmod(unix_micros(ts), 999983), 2147483647)"

  private val schema = new Schema(java.util.Arrays.asList(
    new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
    new Field("ts", FieldType.nullable(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")), null),
    new Field("name", FieldType.nullable(new ArrowType.Utf8), null),
    new Field("v", FieldType.nullable(new ArrowType.FloatingPoint(
      org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)), null)))

  /** Arrow IPC stream bytes: one record batch per element of `batches`. */
  def ipc(batches: Iterator[Seq[Rec]]): Array[Byte] = {
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val out = new ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, out)
    try {
      w.start()
      val id = root.getVector("id").asInstanceOf[BigIntVector]
      val ts = root.getVector("ts").asInstanceOf[TimeStampMicroTZVector]
      val name = root.getVector("name").asInstanceOf[VarCharVector]
      val v = root.getVector("v").asInstanceOf[Float8Vector]
      for (b <- batches) {
        root.allocateNew()
        b.zipWithIndex.foreach { case (r, i) =>
          id.setSafe(i, r.id); ts.setSafe(i, r.tsMicros)
          name.setSafe(i, r.name.getBytes(UTF_8)); v.setSafe(i, r.v)
        }
        root.setRowCount(b.size)
        w.writeBatch()
      }
      w.end()
    } finally { w.close(); root.close(); alloc.close() }
    out.toByteArray
  }
}
