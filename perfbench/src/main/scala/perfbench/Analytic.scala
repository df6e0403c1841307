package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.engine.{Param, QueryInput, SqlValue}

/** The analytic statements: TPC-H-shaped q01, q03 and q06 over JSON
  * `/query`, and a ~50k-row SELECT over `/query/stream`. Each has four
  * parameter variants; the seed picks one per statement. Expected answers
  * come from `pins/analytic.json` (see `pin_analytic.py`). */
object Analytic {
  val Tables = Seq("lineitem", "orders", "customer")

  val queries: IndexedSeq[String] = IndexedSeq("q01", "q03", "q06")

  val Sql: Map[String, String] = Map(
    "q01" -> ("SELECT l_returnflag, l_linestatus, SUM(l_quantity), SUM(l_extendedprice), " +
      "SUM(l_extendedprice * (1 - l_discount)), AVG(l_discount), COUNT(*) " +
      "FROM lineitem WHERE l_shipdate <= CAST(? AS TIMESTAMP) " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q03" -> ("SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = ? AND o_orderdate < CAST(? AS TIMESTAMP) " +
      "AND l_shipdate > CAST(? AS TIMESTAMP) " +
      "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "q06" -> ("SELECT SUM(l_extendedprice * l_discount) FROM lineitem " +
      "WHERE l_shipdate >= CAST(? AS TIMESTAMP) AND l_shipdate < CAST(? AS TIMESTAMP) " +
      "AND l_discount BETWEEN ? AND ? AND l_quantity < ?"),
    "stream" -> ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice " +
      "FROM lineitem WHERE l_orderkey >= ? AND l_orderkey < ?"))

  /** One parameter variant and its pinned answer. */
  final case class Variant(params: Seq[Param], rows: Seq[Seq[JsonNode]])

  def loadPins(file: Path): Map[String, IndexedSeq[Variant]] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(file))
    Sql.keys.map { name =>
      name -> root.get(name).elements().asScala.map { v =>
        val ps = v.get("params").elements().asScala.map { p =>
          if (p.isTextual) Param.text(p.asText())
          else if (p.isIntegralNumber) Param.integer(p.asLong())
          else Param.float(p.asDouble())
        }.toSeq
        Variant(ps, v.get("rows").elements().asScala.map(_.elements().asScala.toSeq).toSeq)
      }.toIndexedSeq
    }.toMap
  }

  /** The variant of each statement this seed uses. */
  def pick(pins: Map[String, IndexedSeq[Variant]], seed: Long): Map[String, Variant] = {
    val r = new Rng(seed ^ 0xA7A1L)
    pins.toSeq.sortBy(_._1).map { case (n, vs) => n -> vs(r.below(vs.length)) }.toMap
  }

  /** Values equal up to 1e-9 relative for numbers; dates by their day. */
  def same(got: JsonNode, want: JsonNode): Boolean =
    if (want.isNumber)
      got.isNumber && math.abs(got.asDouble() - want.asDouble()) <=
        1e-9 * math.max(1.0, math.abs(want.asDouble()))
    else got.asText().take(10) == want.asText().take(10)

  def checkRows(got: JsonNode, want: Seq[Seq[JsonNode]]): Option[String] = {
    val rows = got.elements().asScala.map(_.elements().asScala.toSeq).toSeq
    if (rows.length != want.length) Some(s"${rows.length} rows, want ${want.length}")
    else rows.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.length != w.length || g.zip(w).exists { case (a, b) => !same(a, b) } =>
        s"row $i is $g, want $w"
    }
  }

  /** Running totals of streamed rows, compared with the pinned
    * COUNT(*), SUM(l_orderkey), SUM(l_linenumber), SUM(l_quantity). */
  final class StreamSums {
    var n, orderkeys, linenumbers = 0L
    var quantity = 0.0
    def add(row: Seq[SqlValue]): Unit = row match {
      case Seq(SqlValue.IntVal(ok), SqlValue.IntVal(ln), q, _) =>
        n += 1; orderkeys += ok; linenumbers += ln
        quantity += (q match { case SqlValue.RealVal(x) => x; case SqlValue.IntVal(x) => x.toDouble; case _ => Double.NaN })
      case other => n += 1; quantity = Double.NaN
    }
    def check(want: Seq[JsonNode]): Option[String] = {
      val ok = n == want(0).asLong() && orderkeys == want(1).asLong() &&
        linenumbers == want(2).asLong() &&
        math.abs(quantity - want(3).asDouble()) <= 1e-9 * math.abs(want(3).asDouble())
      if (ok) None else Some(s"streamed count=$n sums=($orderkeys, $linenumbers, $quantity), want $want")
    }
  }
}
