package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** What `kv` must hold: the seeded rows plus every acknowledged write.
  *
  * `n` is the only column that changes (by +1). Clients update
  * concurrently, so a read that overlaps updates of its row may see any
  * value between the acknowledged count when it was sent and the
  * acknowledged plus in-flight count when it returned. */
final class KvModel(seeded: IndexedSeq[Row]) {
  private final class Entry(val row: Row) {
    val acked = new AtomicLong(row.n)
    val inFlight = new AtomicLong()
  }
  private val rows = new ConcurrentHashMap[Long, Entry]()
  seeded.foreach(r => rows.put(r.id, new Entry(r)))
  private val inserted = new java.util.concurrent.CopyOnWriteArrayList[Long]()

  def insertedIds: Seq[Long] = {
    val a = inserted.toArray; a.toSeq.map(_.asInstanceOf[Long])
  }
  /** The run's inserted id at fraction `pick` of those acknowledged so far. */
  def pickInserted(pick: Double): Option[Long] = {
    val n = inserted.size()
    if (n == 0) None else Some(inserted.get(math.min(n - 1, (pick * n).toInt)))
  }

  /** Record an acknowledged insert; false when the id was already taken. */
  def inserted(r: Row): Boolean = {
    val fresh = rows.putIfAbsent(r.id, new Entry(r)) == null
    if (fresh) inserted.add(r.id)
    fresh
  }

  private val updated = ConcurrentHashMap.newKeySet[Long]()

  def updateStarted(id: Long): Unit = rows.get(id).inFlight.incrementAndGet()
  def updateEnded(id: Long, acknowledged: Boolean): Unit = {
    val e = rows.get(id)
    if (acknowledged) { e.acked.incrementAndGet(); updated.add(id) }
    e.inFlight.decrementAndGet()
  }

  /** Ids of rows an acknowledged write created or changed. */
  def writtenIds: Seq[Long] =
    (insertedIds ++ updated.toArray.toSeq.map(_.asInstanceOf[Long])).distinct.sorted

  /** Lowest `n` a read sent now may return. */
  def lowN(id: Long): Long = rows.get(id).acked.get()

  /** Check a read of `id` that returned `got`, sent when the acknowledged
    * `n` was `low`. None when it matches. */
  def checkRead(id: Long, low: Long, got: Option[Row]): Option[String] = {
    val e = rows.get(id)
    got match {
      case None => Some(s"row $id missing")
      case Some(g) =>
        val high = e.acked.get() + e.inFlight.get()
        if (g.k != e.row.k || g.v != e.row.v || g.cat != e.row.cat)
          Some(s"row $id reads $g, want ${e.row}")
        else if (g.n < low || g.n > high) Some(s"row $id n=${g.n}, want $low..$high")
        else None
    }
  }

  /** The exact expected row, once nothing is in flight. */
  def expected(id: Long): Row = {
    val e = rows.get(id); e.row.copy(n = e.acked.get())
  }
  def all: Seq[Row] = {
    val ids = rows.keySet().toArray.map(_.asInstanceOf[Long]).sorted
    ids.toSeq.map(expected)
  }
  def count: Long = rows.size().toLong
  def sumN: Long = all.map(_.n).sum
}
