package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MeasurementSpec extends AnyFunSuite {

  test("tag latency is measured from the due time, not the send time") {
    val es = new EventGen(1, "s1").next(200)
    val t0 = 1000000000L
    val dues = es.indices.map(i => StreamBench.dueNs(t0, i, 100.0))
    assert(dues(0) == t0 && dues(1) == t0 + 10000000L)
    // every tag lands 250 ms after its record was due, however late the
    // generator actually sent it
    val done = es.indices.filter(i => es(i).kind == Kind.Pass)
      .map(i => es(i).id -> (dues(i) + 250000000L)).toMap
    val lat = StreamBench.tagLatenciesMs(es, dues, done.get)
    assert(lat.size == es.count(_.kind == Kind.Pass))
    assert(lat.forall(_ == 250.0))
  }

  test("redeliveries and untagged ids are not latency samples") {
    val es = new EventGen(2, "s2").next(300)
    val dues = es.indices.map(i => StreamBench.dueNs(0, i, 1000.0))
    assert(es.exists(_.kind == Kind.Redelivery))
    val lat = StreamBench.tagLatenciesMs(es, dues, _ => None)
    assert(lat.isEmpty)
  }

  test("the checksum check fails on a wrong value and keeps a thrown cause") {
    val expected = Map("q1" -> 42L)
    val res = new Result
    Checks.checksum(res, "q1", Right(42L), expected)
    assert(res.failed == 0 && res.attempted == 1)
    Checks.checksum(res, "q1", Right(43L), expected)
    assert(res.failed == 1)
    Checks.checksum(res, "q1", Left(new IllegalStateException("boom")), expected)
    assert(res.failed == 2 && res.failures.last.contains("boom") &&
      res.failures.last.contains("IllegalStateException"))
    Checks.checksum(res, "q2", Right(1L), expected)
    assert(res.failed == 3, "a query without a recorded checksum must fail")
    assert(res.contractLine(trace = false).startsWith("""{"correct":false,"attempted":4,"failed":3"""))
  }

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(1, 1, 0, "batch", "engine", 0, 100),
      Span(1, 2, 1, "addBatch", "sink", 10, 60),
      Span(1, 3, 2, "store.update", "store", 20, 40),
      Span(1, 4, 2, "store.update", "store", 30, 50))
    val self = Trace.selfTimeByLayer(spans)
    assert(self("engine") == 50)
    assert(self("sink") == 20)
    assert(self("store") == 40)
  }
}
