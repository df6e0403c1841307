package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("the same seed gives the same table and the same request streams") {
    assert(Gen.table(7) == Gen.table(7))
    assert(Gen.table(7) != Gen.table(8))
    assert(Gen.table(7).length == Gen.TableRows)
    for (w <- Main.Workloads; c <- 0 until 4) {
      val a = Gen.stream(7, w, c).take(200).toList
      assert(a == Gen.stream(7, w, c).take(200).toList, s"$w client $c")
      if (w != "analytic") assert(a != Gen.stream(8, w, c).take(200).toList, s"$w client $c")
    }
    assert(Gen.warmUp(7, "oltp_mixed", 1) == Gen.warmUp(7, "oltp_mixed", 1))
  }

  test("every block of ten OLTP ops holds the exact mix") {
    def kinds(w: String) = Gen.stream(3, w, 0).take(1000).grouped(10).map(_.groupBy {
      case _: Op.PointRead => "read"
      case _: Op.ReadInserted => "read_new"
      case _: Op.RangeRead => "range"
      case _: Op.Insert => "insert"
      case _: Op.Update => "update"
      case _: Op.Txn => "txn"
      case other => other.toString
    }.view.mapValues(_.length).toMap).toSet
    assert(kinds("oltp_read") == Set(Map("read" -> 9, "range" -> 1)))
    assert(kinds("oltp_mixed") == Set(Map("read" -> 4, "read_new" -> 2, "insert" -> 2,
      "update" -> 1, "txn" -> 1)))
    assert(Gen.warmUp(3, "oltp_mixed", 1).map(_.getClass).distinct.length == 5)
  }

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.samplesFor(0.5) == 20)
    assert(Stats.samplesFor(0.9) == 100)
    assert(Stats.samplesFor(0.99) == 1000)
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.0))
    assert(Stats.percentile((1 to 999).map(_.toDouble), 0.99).isEmpty)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    val s = new Samples
    (1 to 100).foreach(i => s.add(i.toDouble))
    val ms = Timing.metrics("read", s, 0.5, 0.9, 0.99)
    assert(ms.map(_.name) == Seq("read_p50_ms", "read_p90_ms"))
    assert(ms.forall(_.samples == 100))
  }

  test("failures count against attempts and keep their statement") {
    val o = new Outcomes
    o.ok()
    assert(o.check("SELECT 1")(None))
    assert(!o.check("SELECT 2")(Some("wrong row")))
    assert(!o.check("SELECT 3")(throw new RuntimeException("boom")))
    o.fail("INSERT 4", "HTTP 500")
    assert(o.attempted == 5 && o.failed == 3)
    assert(o.failedRatio == 0.6)
    assert(o.failures.head == "wrong row -- SELECT 2")
    assert(o.failures(1).contains("boom") && o.failures(1).endsWith("SELECT 3"))
    val r = Report(o, Seq(Metric("setup_s", 1.5, "s", 3)))
    assert(!r.correct)
    val j = new ObjectMapper().readTree(r.json)
    assert(j.get("attempted").asLong() == 5 && j.get("failed").asLong() == 3)
    assert(!j.get("correct").asBoolean())
  }

  test("a read overlapping updates may see any count between sent and returned") {
    val m = new KvModel(IndexedSeq(Row(1, "k", "v", 5, 2)))
    val low = m.lowN(1)
    m.updateStarted(1)
    assert(m.checkRead(1, low, Some(Row(1, "k", "v", 6, 2))).isEmpty)
    assert(m.checkRead(1, low, Some(Row(1, "k", "v", 7, 2))).nonEmpty)
    m.updateEnded(1, acknowledged = true)
    assert(m.checkRead(1, m.lowN(1), Some(Row(1, "k", "v", 5, 2))).nonEmpty)
    assert(m.checkRead(1, low, Some(Row(1, "k", "x", 5, 2))).nonEmpty)
    assert(m.checkRead(1, low, None).nonEmpty)
    assert(m.inserted(Row(2, "a", "b", 0, 0)) && !m.inserted(Row(2, "a", "b", 0, 0)))
    assert(m.writtenIds == Seq(1L, 2L) && m.sumN == 6)
  }

  test("span self time excludes the time children cover") {
    val t = new Tracer
    t.span("request") { t.span("http.read")(Thread.sleep(20)); Thread.sleep(10) }
    val self = t.selfTimes.map { case (s, ns) => s.name -> ns }.toMap
    val all = t.all.map(s => s.name -> s).toMap
    assert(all("http.read").parent == all("request").id && all("http.read").req == all("request").req)
    assert(self("request") ==
      (all("request").end - all("request").start) - (all("http.read").end - all("http.read").start))
  }

  test("the result schema matches BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(Files.readAllBytes(Path.of("..", "BENCHMARK.json")))
    def names(k: String) = spec.get(k).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Layers.Names)
    assert(Layers.complete(Nil).map(m => m.name -> m.unit) == Layers.Names)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads)
    val o = new Outcomes
    val r = Report(o, Main.EndToEnd.map { case (n, u) => Metric(n, 1.0, u, 1) })
    val j = new ObjectMapper().readTree(r.json)
    assert(j.get("metrics").fieldNames().asScala.toSeq == Main.EndToEnd.map(_._1))
    assert(Main.EndToEnd.forall { case (n, u) => j.get("metrics").get(n).get("unit").asText() == u })
  }
}
