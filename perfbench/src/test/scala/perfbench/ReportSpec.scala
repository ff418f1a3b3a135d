package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {
  test("failures are counted by check name") {
    val r = new Report
    assert(r.expect("search.dead_id", ok = true))
    assert(!r.expect("search.dead_id", ok = false))
    assert(!r.expect("search.dead_id", ok = false))
    r.fail("ask.threw")
    assert(r.failures.toMap == Map("search.dead_id" -> 2, "ask.threw" -> 1))
    assert(r.failed == 3)
  }

  test("a passing check records nothing") {
    val r = new Report
    r.expect("search.off_track", ok = true)
    assert(r.failures.isEmpty && r.failed == 0)
  }

  test("latency reports p50 always and the tail only with enough samples") {
    val r = new Report
    r.latency("search", Seq(5.0, 1.0, 3.0))
    assert(r.metrics("search_p50_ms").value == 3.0)
    assert(!r.metrics.contains("search_tail_ms"))
    r.latency("ask", (1 to 40).map(_.toDouble))
    assert(r.metrics("ask_tail_ms").value == 30.0)
    assert(r.metrics("ask_tail_ms").note == "p75.0 n=40")
  }

  test("the JSON report carries counts, failures and metrics") {
    val r = new Report
    r.attempted = 4
    r.fail("gate.x.threw")
    r.put("setup_s", 1.5, "s")
    val j = r.toJson
    assert(j.contains("\"attempted\":4") && j.contains("\"failed\":1"))
    assert(j.contains("\"gate.x.threw\":1"))
    assert(j.contains("\"setup_s\":{\"value\":1.5,\"unit\":\"s\""))
  }
}
