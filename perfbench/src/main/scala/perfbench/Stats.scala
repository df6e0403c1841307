package perfbench

import scala.collection.mutable.ArrayBuffer

/** Thread-safe sample set of one timing. */
final class Samples {
  private val xs = ArrayBuffer[Double]()
  def add(x: Double): Unit = synchronized { xs += x }
  def values: IndexedSeq[Double] = synchronized(xs.toIndexedSeq)
  def count: Int = synchronized(xs.length)
}

object Stats {
  /** Samples a percentile needs beyond it before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie strictly beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p")
    val n = xs.length
    val rank = math.ceil(p * n).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Smallest sample count that supports percentile `p`. */
  def samplesFor(p: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(p * n).toInt >= MinBeyond).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Attempted and failed operations. A failure is a refused or errored
  * statement or a wrong result; each is kept with its statement so the
  * run can print it. */
final class Outcomes {
  private var attempted0 = 0L
  private val failures0 = ArrayBuffer[String]()
  def ok(): Unit = synchronized { attempted0 += 1 }
  def fail(statement: String, why: String): Unit = synchronized {
    attempted0 += 1
    failures0 += s"$why -- $statement"
  }
  /** Run `check`: a Some(reason) or an exception is a failure. */
  def check(statement: String)(check: => Option[String]): Boolean =
    (try check catch { case e: Throwable => Some(s"exception: $e") }) match {
      case None => ok(); true
      case Some(why) => fail(statement, why); false
    }
  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failures0.length.toLong)
  def failures: Seq[String] = synchronized(failures0.toSeq)
  def failedRatio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}
