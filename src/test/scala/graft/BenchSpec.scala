package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the bench harness's failure rule: a lane that throws is a failure,
  * never a (fast) sample, and the summary line still fits its budget; the
  * per-lane compile counter counts cache misses, not cache hits; and the
  * driver contract's JSON strings parse back to what was written.
  */
class BenchSpec extends AnyFunSuite with SparkSuite {

  test("sampleLane: a throwing lane yields its error and no samples") {
    var calls = 0
    val boom = new IllegalStateException("boom")
    val failing = Bench.sampleLane(3) { () => calls += 1; throw boom }
    assert(failing === Left(boom))
    assert(calls === 1) // the first failure ends the lane
    // a lane that throws on a later sample drops the samples before it
    var n = 0
    val late = Bench.sampleLane(3) { () => n += 1; if (n == 2) throw boom }
    assert(late.isLeft)
    val ok = Bench.sampleLane(3)(() => ())
    assert(ok.map(_.size) === Right(3))
    assert(ok.forall(_.forall(_ >= 0.0)))
  }

  test("summaryLine: failed lanes listed, one JSON line within the budget") {
    val medians = (1 to 300).map(i => f"q$i%03d_some_lane_name" -> i / 100.0)
    val failed = Seq("q900_broken", "q901_broken")
    val total = medians.map(_._2).sum
    val line = Bench.summaryLine(total, 3, "sf0.1", "bench/full_sf0.1.json",
      medians, failed)
    assert(line.length <= 1800)
    assert(!line.contains('\n'))
    val json = new ObjectMapper().readTree(line)
    assert(json.get("failed").elements().asScala.map(_.asText()).toSeq === failed)
    assert(json.get("failed_total").asInt() === 2)
    assert(json.get("queries_total").asInt() === 300)
    val shown = json.get("queries").fieldNames().asScala.toSeq
    assert(shown.nonEmpty && shown.size === json.get("queries_shown").asInt())
    assert(shown.head === "q300_some_lane_name") // slowest first
    assert(!shown.exists(failed.contains))
  }

  test("codegenCompiles: a new query compiles, its identical re-run hits the cache") {
    // a literal no other suite uses, so the first run's source is new
    def run(): Unit = { spark.range(100).selectExpr("sum(id * 7919 + 104723)").collect(); () }
    val c0 = Bench.codegenCompiles
    run()
    val c1 = Bench.codegenCompiles
    assert(c1 > c0)
    run()
    assert(Bench.codegenCompiles === c1)
  }

  test("jsonString: quote, backslash and every control character round-trip through Jackson") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    val samples = Seq("", "plain", "say \"hi\"", "back\\slash", "a\nb\rc\td",
      controls, s"SELECT '\\' AS x\n\tFROM t -- \"$controls\"", "é ü 中 \u2028")
    val mapper = new ObjectMapper()
    for (s <- samples) {
      val lit = Verify.jsonString(s)
      assert(!lit.exists(_ < ' '), s"raw control character in $lit")
      assert(mapper.readTree(lit).asText() === s)
    }
  }
}
