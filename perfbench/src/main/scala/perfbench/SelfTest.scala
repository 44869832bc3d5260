package perfbench

import java.security.MessageDigest

/** Generator self-test: the same seed must give byte-identical inputs
  * and a different seed different ones. Prints one line per check and
  * exits 1 if either fails.
  */
object SelfTest {
  /** SHA-256 over the encoded inputs of the first rounds of every workload. */
  def digest(seed: Long): String = {
    val g = new Gen(seed)
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: Any): Unit = md.update(s.toString.getBytes("UTF-8"))
    md.update(Gen.ipc((0 until 10).iterator.map(g.ingestBatch(_, IngestStream.BatchRows))))
    md.update(Gen.ipc(g.upsertBase(UpsertMixed.BaseRows).grouped(UpsertMixed.BaseRows / 4)))
    var next = UpsertMixed.BaseRows.toLong
    for (c <- -1 until 5) {
      val b = g.upsertBatch(c, UpsertMixed.BatchRows, next)
      md.update(Gen.ipc(Iterator(b)))
      next = b.map(_.id).max + 1
      add(g.readsOf(c, next, UpsertMixed.Range))
    }
    add(g.orders(1, MvRefresh.BaseOrders + 1, 8))
    add(g.lines(1, MvRefresh.BaseOrders + 1))
    for (k <- -1 until 6) {
      add(g.factInsert(k, MvRefresh.InsertRows, MvRefresh.BaseOrders))
      add(g.deleteStart(k, MvRefresh.BaseOrders, MvRefresh.DeleteWidth))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def run(): Unit = {
    val (a, b, c) = (digest(1), digest(1), digest(2))
    println(s"seed 1 twice: $a / $b -> ${if (a == b) "identical" else "DIFFERENT"}")
    println(s"seed 1 vs 2: $a / $c -> ${if (a != c) "different" else "IDENTICAL"}")
    if (a != b || a == c) sys.exit(1)
  }
}
