package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.OtelProtoSource

/** The generator's bytes decode through graft's OTLP/protobuf decoder
  * to exactly the records its model says it sent. */
class OtlpGenSpec extends AnyFunSuite {

  private val events = (0 until 400).map { i =>
    OtlpGen.Event(i.toLong, 1704067200000000000L + i * 13000000000L, (i % 37).toLong,
      Seq("view", "click", "error", "purchase")(i % 4), 10.0 + i % 90, s"""{"k": $i}""")
  }

  private def flushes(p: OtlpGen.Params, seed: Long): Seq[OtlpGen.Flush] = {
    val src = new OtlpGen.Source(events, seed, p)
    Iterator.continually(src).takeWhile(!_.exhausted).map(_.nextFlush()).toSeq
  }

  test("traces, logs and metrics round-trip with the generator's counts") {
    val p = OtlpGen.Params(eventsPerFlush = 100, dupShare = 0.2, lateShare = 0.1)
    val fs = flushes(p, 7L)
    assert(fs.map(_.spans.count(_.parentId.isEmpty)).sum >= events.size)
    fs.foreach { f =>
      val spans = f.requests.filter(_.signal == "traces")
        .flatMap(r => OtelProtoSource.decodeTraces(r.body)).flatMap(_.spans)
      assert(spans.size == f.spans.size)
      assert(spans.map(s => (s.trace_id, s.span_id, s.parent_span_id)).sorted ==
        f.spans.map(s => (s.traceId, s.spanId, s.parentId)).sorted)
      assert(spans.map(_.events.size).sum == f.spans.map(_.events.size).sum)
      assert(spans.map(_.links.size).sum == f.spans.map(_.links.size).sum)
      val logs = f.requests.filter(_.signal == "logs")
        .flatMap(r => OtelProtoSource.decodeLogs(r.body)).flatMap(_.records)
      assert(logs.map(l => (l.trace_id, l.span_id, l.body)).sorted ==
        f.logs.map(l => (l.traceId, l.spanId, l.body)).sorted)
      val metrics = f.requests.filter(_.signal == "metrics")
        .flatMap(r => OtelProtoSource.decodeMetricScopes(r.body))
      OtlpGen.MetricKinds.indices.foreach { k =>
        val decoded = metrics.filter(_._3.kind == k).map { case (_, _, m) =>
          m.num.size + m.hist.size + m.exp.size + m.summary.size }.sum
        assert(decoded == f.points.count(_.kind == k), OtlpGen.MetricKinds(k))
      }
      assert(metrics.filter(_._3.kind == 2).flatMap(_._3.hist).map(_.count).sum ==
        f.points.filter(_.kind == 2).map(_.count).sum)
    }
  }

  test("the same seed gives the same bytes; re-sends and late spans follow the shares") {
    val p = OtlpGen.Params(100, dupShare = 0.3, lateShare = 0.2)
    val a = flushes(p, 3L).flatMap(_.requests.map(_.body.toSeq))
    assert(a == flushes(p, 3L).flatMap(_.requests.map(_.body.toSeq)))
    assert(a != flushes(p, 4L).flatMap(_.requests.map(_.body.toSeq)))
    val plain = flushes(p.copy(dupShare = 0, lateShare = 0), 3L)
    val noisy = flushes(p, 3L)
    assert(noisy.map(_.requests.size).sum > plain.map(_.requests.size).sum)
    // every span is sent at least once; re-sends only add copies
    assert(noisy.flatMap(_.spans).map(_.spanId).toSet.size == plain.flatMap(_.spans).size)
    // a late trace arrives in a later flush than its events' slice
    assert(noisy.map(_.spans.map(_.startNs).min).zip(plain.map(_.spans.map(_.startNs).min))
      .exists { case (n, q) => n < q })
  }
}
