package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own code: generator determinism, order
  * statistics, span arithmetic and digest order-insensitivity.
  */
class BenchSelfSpec extends AnyFunSuite {

  private def corpus(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      GarminGen.writeCorpus(dir, seed, GarminGen.plan(seed, 3))
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    } finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("Garmin corpus is byte-identical for equal seeds and differs across seeds") {
    val a = corpus(7)
    assert(a.size == 15)
    assert(a == corpus(7))
    val b = corpus(8)
    assert(a != b)
  }

  test("star schema rows are identical for equal seeds and differ across seeds") {
    def rows(seed: Long) = StarGen.generate(seed, 0.001).map { case (n, _, rs) => n -> rs }
    assert(rows(3) == rows(3))
    assert(rows(3).find(_._1 == "lineitem") != rows(4).find(_._1 == "lineitem"))
  }

  test("expected recovery status follows the HRV streak, then readiness") {
    def night(hrv: Double, readiness: Int) =
      Row(java.sql.Date.valueOf("2026-01-01"), 50.0, hrv, 45.0, readiness, 80)
    assert(GarminGen.recoveryStatus(Seq(night(50, 60), night(40, 90), night(41, 90))) == "easy")
    assert(GarminGen.recoveryStatus(Seq(night(40, 60), night(50, 90), night(41, 90))) == "quality")
    assert(GarminGen.recoveryStatus(Seq(night(40, 60), night(40, 90), night(50, 74))) == "moderate")
  }

  test("median and quartiles match Python's statistics module") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quantiles((1 to 10).map(_.toDouble)) == Seq(2.75, 5.5, 8.25))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25] (extrapolated)
    assert(Stats.quantiles(Seq(2.0, 1.0)) == Seq(0.75, 1.5, 2.25))
  }

  test("tail percentile is the highest ladder step with ten samples beyond it") {
    assert(Stats.tailPercentile(15).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.nearestRank(90.0, 100) == 90)
    assert(Stats.nearestRank(75.0, 44) == 33)
    assert(Stats.nearestRank(50.0, 1) == 1)
  }

  test("span self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L))) == 60)
    assert(Stats.selfTime(10, 50, Seq((0L, 20L), (40L, 90L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3)
  }

  test("Trace nests spans and reports self time") {
    val tr = new Trace
    tr.active = true
    tr.span("outer", "run") { tr.span("inner", "op")(Thread.sleep(20)) }
    val Seq(outer, inner) = tr.all
    assert(inner.parent == outer.id)
    assert(tr.selfNs(outer) == (outer.endNs - outer.startNs) - (inner.endNs - inner.startNs))
    tr.active = false
    tr.span("ignored", "op")(())
    assert(tr.all.length == 2)
  }

  test("digest ignores row order and float noise but not content") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 1.0), Row(3L, "c", Seq(1.5f, 2.5f)))
    val d = Digest.of(rows)
    assert(Digest.of(rows.reverse) == d)
    assert(Digest.of(Seq(rows(1), rows(2), Row(1L, "a", 0.3))) == d)
    assert(d.rows == 3)
    assert(Digest.of(rows.updated(0, Row(1L, "b", 0.3))) != d)
    assert(Digest.of(rows :+ rows.head) != d)
  }
}
