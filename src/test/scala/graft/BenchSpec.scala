package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the Bench stdout contract that broke the driver's tail capture
  * four rounds running: the summary line must be VALID JSON and stay
  * under 1 KB for any outcome, including a full 108-query wipeout.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper
  private def queries(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"q$i%03d_some_longish_query_name" -> i * 0.137)

  test("summary line: valid JSON, under 1 KB, for the all-green 108-query run") {
    val s = Bench.summaryJson(queries(108), Nil, "/root/testdata/sf0.1", "bench_out.json")
    val node = mapper.readTree(s)
    assert(s.length < 1024, s"summary is ${s.length} bytes:\n$s")
    assert(node.get("n_ok").asInt == 108 && node.get("n_err").asInt == 0)
    assert(node.get("slowest").size == 5)
    assert(node.get("queries_file").asText == "bench_out.json")
  }

  test("summary line: valid JSON, under 1 KB, when every query fails") {
    val errs = (1 to 108).map(i => f"q$i%03d_some_longish_query_name" -> "SparkArithmeticException")
    val s = Bench.summaryJson(Nil, errs, "/tmp/sf1", "out.json")
    val node = mapper.readTree(s)
    assert(s.length < 1024, s"summary is ${s.length} bytes:\n$s")
    assert(node.get("n_err").asInt == 108, "the COUNT reports the wipeout")
    assert(node.get("errors").size == 5, "only the first 5 errors ride the summary")
  }

  test("full record keeps every query and error at millisecond precision") {
    val errs = Seq("q_bad" -> "AnalysisException")
    val s = Bench.fullJson(queries(108), errs, "/tmp/sf1")
    val node = mapper.readTree(s)
    assert(node.get("queries").size == 108)
    assert(node.get("errors").get("q_bad").asText == "AnalysisException")
    // total excludes failed queries by construction (ok-only sum)
    assert(math.abs(node.get("value").asDouble -
      queries(108).map(_._2).sum) < 0.001)
  }

  test("full record keeps each query's first-pass time and its compiled-class counts") {
    val first = Seq("q_a" -> 5.0, "q_b" -> 2.0)
    val s = Bench.fullJson(Seq("q_a" -> 0.9, "q_b" -> 2.0), Nil, "/tmp/sf1", Set("q_a"),
      first, Map("q_a" -> (143L, 0L), "q_b" -> (12L, 12L)))
    val node = mapper.readTree(s)
    assert(node.get("queries").get("q_a").asDouble == 0.9, "queries keeps the min-of-N time")
    assert(node.get("first_s").get("q_a").asDouble == 5.0)
    assert(node.get("first_s").size == 2)
    val a = node.get("compiled").get("q_a")
    assert(a.get("first").asLong == 143L && a.get("kept").asLong == 0L)
    assert(node.get("compiled").get("q_b").get("kept").asLong == 12L)
  }

  test("subset runs divert to a .partial sibling; full runs keep the path") {
    assert(Bench.effectiveOutPath("bench_out.json", isSubset = false) == "bench_out.json")
    assert(Bench.effectiveOutPath("bench_out.json", isSubset = true) == "bench_out.partial.json")
    assert(Bench.effectiveOutPath("/x/BENCH_sf1.json", isSubset = true) == "/x/BENCH_sf1.partial.json")
    // a non-.json path still gets an unambiguous partial marker
    assert(Bench.effectiveOutPath("record", isSubset = true) == "record.partial")
  }

  test("retime merge records min-of-runs and leaves other queries alone") {
    val first = Seq("q_a" -> 5.0, "q_b" -> 2.0, "q_c" -> 1.0)
    val merged = Bench.mergeRetimes(first, Map("q_a" -> 0.9, "q_b" -> 7.0))
    assert(merged == Seq("q_a" -> 0.9, "q_b" -> 2.0, "q_c" -> 1.0),
      "re-timing lowers q_a, cannot raise q_b, never touches q_c")
  }

  test("re-timing defaults ON for full runs and OFF for subset dev runs") {
    assert(Bench.defaultRepeat(isSubset = false) == 8,
      "the committed full record must not be single-sample under load")
    assert(Bench.defaultRepeat(isSubset = true) == 0,
      "dev subset loops stay single-pass for iteration speed")
  }

  test("full runs take a second measured pass over every query; subsets don't") {
    assert(Bench.defaultPasses(isSubset = false) == 2,
      "mid-pack queries must not be single-sample (r8 verdict)")
    assert(Bench.defaultPasses(isSubset = true) == 1,
      "dev subset loops stay single-pass for iteration speed")
  }

  test("full record declares which queries were re-timed") {
    val s = Bench.fullJson(queries(3), Nil, "/tmp/sf1", Set("q002_some_longish_query_name"))
    val node = mapper.readTree(s)
    assert(node.get("retimed").size == 1)
    assert(node.get("retimed").get(0).asText == "q002_some_longish_query_name")
  }
}
