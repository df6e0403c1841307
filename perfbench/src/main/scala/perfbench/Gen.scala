package perfbench

/** SplitMix64: a small, fully specified generator, so a seed gives the same
  * table and the same request stream on every JVM. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def unit(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def text(len: Int): String = {
    val sb = new StringBuilder(len)
    while (sb.length < len) sb.append(Gen.Alphabet(below(Gen.Alphabet.length)))
    sb.toString
  }
}

/** One row of `kv(id INTEGER PRIMARY KEY, k TEXT, v TEXT, n INTEGER, cat INTEGER)`. */
final case class Row(id: Long, k: String, v: String, n: Long, cat: Int)

/** What a client sends next. The stream is a pure function of (seed,
  * workload, client); targets that depend on what the run has written so
  * far (reads of ids inserted during the run) carry a fraction that the
  * client resolves against the acknowledged inserts at send time. */
sealed trait Op
object Op {
  final case class PointRead(id: Long) extends Op
  final case class ReadInserted(pick: Double) extends Op
  final case class RangeRead(cat: Int) extends Op
  final case class Insert(k: String, v: String, n: Long, cat: Int) extends Op
  final case class Update(id: Long) extends Op
  /** BEGIN; insert a row into the client's ledger; bump it; COMMIT. */
  final case class Txn(insert: Insert) extends Op
  /** One of the analytic statements, by index into [[Analytic.queries]]. */
  final case class Analytic(which: Int) extends Op
  case object Stream extends Op
}

object Gen {
  val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
  val TableRows = 10000
  val Cats = 100

  /** ~100 bytes a row, ~1 MB for the table. */
  def table(seed: Long): IndexedSeq[Row] = {
    val r = new Rng(seed ^ 0x5EEDL)
    (1 to TableRows).map(i => Row(i.toLong, r.text(16), r.text(64),
      r.below(1000).toLong, r.below(Cats)))
  }

  private def insert(r: Rng): Op.Insert =
    Op.Insert(r.text(16), r.text(64), r.below(1000).toLong, r.below(Cats))

  /** Client `client`'s request stream for `workload`. The OLTP mixes come
    * in blocks of ten ops holding the exact mix, shuffled by the seed, so
    * two seeds differ in keys and order but never in the mix itself. */
  def stream(seed: Long, workload: String, client: Int): Iterator[Op] = {
    val r = new Rng(seed * 1000003L + client * 7919L + workload.hashCode)
    def seededId(): Long = 1L + r.below(TableRows)
    def blocks(mix: IndexedSeq[() => Op]): Iterator[Op] =
      Iterator.continually(shuffle(r, mix).map(_())).flatten
    workload match {
      case "oltp_read" => blocks(
        IndexedSeq.fill(9)(() => Op.PointRead(seededId())) :+ (() => Op.RangeRead(r.below(Cats))))
      case "oltp_mixed" => blocks(
        IndexedSeq.fill(4)(() => Op.PointRead(seededId())) ++
          // one third of the reads target this run's inserts
          IndexedSeq.fill(2)(() => Op.ReadInserted(r.unit())) ++
          IndexedSeq.fill(2)(() => insert(r)) ++
          IndexedSeq(() => Op.Update(seededId()), () => Op.Txn(insert(r))))
      case "analytic" =>
        // a fixed round-robin, clients half a cycle apart: the mix and its
        // overlap are the same for every seed, which picks the parameters
        val cycle = Analytic.queries.indices.map(Op.Analytic(_)) :+ Op.Stream
        Iterator.from(client * cycle.length / 2).map(i => cycle(i % cycle.length))
      case other => throw new IllegalArgumentException(s"no request stream for $other")
    }
  }

  /** Set-up warm-up: each kind of op of the workload's mix once. */
  def warmUp(seed: Long, workload: String, round: Int): Seq[Op] = {
    val kinds = stream(seed, workload, 100 + round).take(40).toSeq
    kinds.groupBy(_.getClass).values.map(_.head).toSeq.sortBy(_.getClass.getName)
  }

  /** Fisher-Yates with `r`. */
  def shuffle[A](r: Rng, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.below(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
