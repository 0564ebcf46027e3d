package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded OTLP/protobuf load generator over the `events` table.
  *
  * Every event becomes one trace: a SERVER root span named after the
  * event type, 0 to 3 child spans in downstream services (some with a
  * grandchild), span events on error and cache-miss spans, and a link
  * from a user's trace to that user's previous trace. Root spans and
  * failing children carry a correlated log record. Each flush also
  * carries one point per service of each of the five metric types.
  *
  * The generator keeps the model of what it sent (spans, logs and
  * points, re-sent duplicates included), so the benchmark can check
  * every committed row against it. Encoding is proto3 wire format with
  * the public opentelemetry-proto field numbers.
  */
object OtlpGen {

  final case class Event(id: Long, tsNs: Long, user: Long, kind: String,
                         value: Double, props: String)

  final case class SpanEvent(timeNs: Long, name: String,
                             attrs: Seq[(String, String)])
  final case class Span(traceId: String, spanId: String, parentId: String,
                        name: String, service: String, kind: Int,
                        startNs: Long, endNs: Long, error: Boolean,
                        attrs: Seq[(String, String)],
                        events: Seq[SpanEvent],
                        links: Seq[(String, String)]) {
    def durationNs: Long = endNs - startNs
  }
  final case class LogRec(timeNs: Long, severity: Int, severityText: String,
                          body: String, traceId: String, spanId: String,
                          service: String)

  /** Metric point kinds in proto `Metric.data` oneof order. */
  val MetricKinds: Seq[String] =
    Seq("gauge", "sum", "histogram", "exponential_histogram", "summary")
  final case class Point(kind: Int, service: String, name: String,
                         timeNs: Long, startNs: Long, count: Long,
                         sum: Double, buckets: Seq[Long])

  /** One POST body. `records` counts the spans, log records or metric
    * points it carries. */
  final case class Request(signal: String, body: Array[Byte], records: Int)

  /** One flush as sent: `requests` in send order (re-sends included),
    * and the rows they must produce. */
  final case class Flush(index: Int, requests: Seq[Request],
                         spans: Seq[Span], logs: Seq[LogRec],
                         points: Seq[Point]) {
    def records: Long = spans.size.toLong + logs.size + points.size

    /** The part of this flush one signal's pipeline exports. */
    def only(signal: String): Flush = Flush(index, requests.filter(_.signal == signal),
      if (signal == "traces") spans else Nil, if (signal == "logs") logs else Nil,
      if (signal == "metrics") points else Nil)
  }

  /** Workload shape. `dupShare` is the share of requests the client
    * sends twice (a lost ack); `lateShare` the share of traces held
    * back one to three flushes, so they land in hours that already
    * have files. Both are taken as "every n-th", and the trace shape
    * follows the event id, so the volume a run carries is the same for
    * every seed; the seed picks ids, services, links and delays. */
  final case class Params(eventsPerFlush: Int, dupShare: Double, lateShare: Double)

  /** Spans or log records per request, at most. */
  val RecordsPerRequest = 100

  /** Explicit histogram bounds (ns) of the span-duration histogram. */
  val HistBounds: Seq[Double] = Seq(1e6, 1e7, 1e8)

  val Services: IndexedSeq[String] =
    IndexedSeq("api", "auth", "db", "cache", "search", "billing")

  private def hex(a: Long, b: Long): String = f"$a%016x$b%016x"
  private def hex(a: Long): String = f"$a%016x"

  /** Generator over `events` (already in timestamp order). */
  final class Source(events: IndexedSeq[Event], seed: Long, p: Params) {
    private val rng = new SplittableRandom(seed)
    private var next = 0
    private var flushNo = 0
    private val lastTrace = scala.collection.mutable.HashMap.empty[Long, (String, String)]
    // traces held back: flush index they are due in → their spans/logs
    private val held = scala.collection.mutable.HashMap.empty[Int, Vector[(Seq[Span], Seq[LogRec])]]
    private val sumState = scala.collection.mutable.HashMap.empty[String, Long]
    private def every(share: Double): Int = if (share > 0) math.round(1 / share).toInt else 0
    private val dupEvery = every(p.dupShare)
    private val lateEvery = every(p.lateShare)
    private var requestNo = 0
    private var traceNo = 0

    def exhausted: Boolean = next >= events.length && held.isEmpty

    /** Generate the next flush. */
    def nextFlush(): Flush = {
      val idx = flushNo
      flushNo += 1
      val batch = events.slice(next, math.min(events.length, next + p.eventsPerFlush))
      next += batch.length
      val spans = Vector.newBuilder[Span]
      val logs = Vector.newBuilder[LogRec]
      batch.foreach { e =>
        val (ss, ls) = trace(e)
        traceNo += 1
        if (lateEvery > 0 && traceNo % lateEvery == 0) {
          val due = idx + 1 + rng.nextInt(3)
          held(due) = held.getOrElse(due, Vector.empty) :+ ((ss, ls))
        } else { spans ++= ss; logs ++= ls }
      }
      // held traces due now; at the end of the input everything left
      held.keys.toSeq.filter(d => d <= idx || next >= events.length).sorted.foreach { d =>
        held.remove(d).foreach(_.foreach { case (ss, ls) => spans ++= ss; logs ++= ls })
      }
      val sp = spans.result(); val lg = logs.result()
      val flushTs = batch.lastOption.map(_.tsNs).orElse(sp.lastOption.map(_.endNs)).getOrElse(0L)
      val pts = points(sp, flushTs)
      val reqs = Vector.newBuilder[Request]
      sp.grouped(RecordsPerRequest).foreach(g => reqs += Request("traces", encodeTraces(g), g.size))
      lg.grouped(RecordsPerRequest).foreach(g => reqs += Request("logs", encodeLogs(g), g.size))
      if (pts.nonEmpty) reqs += Request("metrics", encodeMetrics(pts), pts.size)
      // at-least-once: a re-sent request lands twice, so the model
      // carries its rows twice
      val sent = Vector.newBuilder[Request]
      val dupSpans = Vector.newBuilder[Span]
      val dupLogs = Vector.newBuilder[LogRec]
      val dupPts = Vector.newBuilder[Point]
      val all = reqs.result()
      var (si, li) = (0, 0)
      all.foreach { r =>
        sent += r
        requestNo += 1
        val resend = dupEvery > 0 && requestNo % dupEvery == 0
        r.signal match {
          case "traces" =>
            val rows = sp.slice(si, si + r.records); si += r.records
            if (resend) { sent += r; dupSpans ++= rows }
          case "logs" =>
            val rows = lg.slice(li, li + r.records); li += r.records
            if (resend) { sent += r; dupLogs ++= rows }
          case _ =>
            if (resend) { sent += r; dupPts ++= pts }
        }
      }
      Flush(idx, sent.result(), sp ++ dupSpans.result(), lg ++ dupLogs.result(),
        pts ++ dupPts.result())
    }

    private def id64(): Long = {
      var v = 0L
      while (v == 0L) v = rng.nextLong()
      v
    }

    private def trace(e: Event): (Seq[Span], Seq[LogRec]) = {
      val traceId = hex(id64(), id64())
      val rootId = hex(id64())
      val durNs = math.max(1000L, (e.value * 1e6).toLong)
      val error = e.kind == "error"
      val links = lastTrace.get(e.user).filter(_ => rng.nextInt(10) == 0).toSeq
      lastTrace(e.user) = (traceId, rootId)
      val rootEvents =
        if (error) Seq(SpanEvent(e.tsNs + durNs / 2, "exception",
          Seq("exception.type" -> "EventError")))
        else Nil
      val root = Span(traceId, rootId, "", e.kind, "frontend", 2, e.tsNs,
        e.tsNs + durNs, error,
        Seq("user.id" -> e.user.toString, "event.id" -> e.id.toString,
          "props" -> e.props), rootEvents, links)
      val spans = Vector.newBuilder[Span]
      spans += root
      val logs = Vector.newBuilder[LogRec]
      logs += LogRec(e.tsNs, if (error) 17 else 9, if (error) "ERROR" else "INFO",
        s"${e.kind} user=${e.user} value=${e.value}", traceId, rootId, "frontend")
      val nChildren = (e.id % 4).toInt
      var offset = durNs / 10
      for (i <- 0 until nChildren) {
        val svc = Services(rng.nextInt(Services.length))
        val cDur = math.max(500L, (durNs * (0.1 + 0.5 * rng.nextDouble())).toLong / 2)
        val cStart = e.tsNs + offset
        offset += cDur / 2
        val cErr = error && i % 2 == 0
        val miss = svc == "cache" && rng.nextInt(3) == 0
        val cId = hex(id64())
        spans += Span(traceId, cId, rootId, s"$svc.call", svc, 3, cStart,
          cStart + cDur, cErr, Seq("peer.service" -> svc),
          if (miss) Seq(SpanEvent(cStart + cDur / 3, "cache.miss", Nil)) else Nil, Nil)
        if (cErr) logs += LogRec(cStart + cDur, 17, "ERROR", s"$svc failed",
          traceId, cId, svc)
        if ((e.id + i) % 3 == 0) {
          val gDur = math.max(100L, cDur / 3)
          spans += Span(traceId, hex(id64()), cId, s"$svc.db", "db", 3,
            cStart + cDur / 4, cStart + cDur / 4 + gDur, false,
            Seq("db.system" -> "parquet"), Nil, Nil)
        }
      }
      (spans.result(), logs.result())
    }

    private def points(spans: Seq[Span], tsNs: Long): Seq[Point] = {
      val bounds = HistBounds
      spans.groupBy(_.service).toSeq.sortBy(_._1).flatMap { case (svc, ss) =>
        val durs = ss.map(_.durationNs)
        val n = durs.size.toLong
        val total = durs.sum.toDouble
        val cum = sumState.getOrElse(svc, 0L) + n
        sumState(svc) = cum
        val hist = bounds.map(b => durs.count(_ <= b).toLong)
        val buckets = hist.head +: hist.sliding(2).map(w => w(1) - w(0)).toSeq :+ (n - hist.last)
        val exp = Seq(durs.count(_ < 1e6).toLong, durs.count(d => d >= 1e6 && d < 1e7).toLong,
          durs.count(_ >= 1e7).toLong)
        Seq(
          Point(0, svc, "spans.inflight", tsNs, 0L, ss.count(_.error).toLong, 0.0, Nil),
          Point(1, svc, "spans.count", tsNs, 1L, cum, 0.0, Nil),
          Point(2, svc, "span.duration", tsNs, 1L, n, total, buckets),
          Point(3, svc, "span.duration.exp", tsNs, 1L, n, total, exp),
          Point(4, svc, "span.duration.summary", tsNs, 1L, n, total, Nil))
      }
    }
  }

  // ---- proto3 wire writer ------------------------------------------

  /** Minimal proto3 encoder: one growable buffer per message. */
  final class Wire {
    private val out = new ByteArrayOutputStream(256)
    def bytes: Array[Byte] = out.toByteArray
    private def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def uint(field: Int, v: Long): Wire = { tag(field, 0); varint(v); this }
    def fixed64(field: Int, v: Long): Wire = {
      tag(field, 1)
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      this
    }
    def double(field: Int, v: Double): Wire =
      fixed64(field, java.lang.Double.doubleToRawLongBits(v))
    def bytes(field: Int, b: Array[Byte]): Wire = {
      tag(field, 2); varint(b.length.toLong); out.write(b, 0, b.length); this
    }
    def string(field: Int, s: String): Wire = bytes(field, s.getBytes(UTF_8))
    def hexId(field: Int, h: String): Wire =
      if (h.isEmpty) this
      else bytes(field, h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    def msg(field: Int, m: Wire): Wire = bytes(field, m.bytes)
    def packedFixed64(field: Int, vs: Seq[Long]): Wire = {
      val w = new Wire
      vs.foreach { v =>
        var i = 0
        while (i < 8) { w.out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      }
      bytes(field, w.bytes)
    }
    def packedVarint(field: Int, vs: Seq[Long]): Wire = {
      val w = new Wire
      vs.foreach(w.varint)
      bytes(field, w.bytes)
    }
  }

  private def kv(k: String, v: String): Wire =
    new Wire().string(1, k).msg(2, new Wire().string(1, v))
  private def resource(service: String): Wire =
    new Wire().msg(1, kv("service.name", service)).msg(1, kv("host.name", "perfbench"))
  private val scope: Wire = new Wire().string(1, "graft.perfbench").string(2, "1")

  /** ExportTraceServiceRequest: one ResourceSpans per service. */
  def encodeTraces(spans: Seq[Span]): Array[Byte] = {
    val req = new Wire
    spans.groupBy(_.service).toSeq.sortBy(_._1).foreach { case (svc, ss) =>
      val scopeSpans = new Wire().msg(1, scope)
      ss.foreach { s =>
        val w = new Wire().hexId(1, s.traceId).hexId(2, s.spanId).hexId(4, s.parentId)
          .string(5, s.name).uint(6, s.kind.toLong)
          .fixed64(7, s.startNs).fixed64(8, s.endNs)
        s.attrs.foreach { case (k, v) => w.msg(9, kv(k, v)) }
        s.events.foreach { e =>
          val ew = new Wire().fixed64(1, e.timeNs).string(2, e.name)
          e.attrs.foreach { case (k, v) => ew.msg(3, kv(k, v)) }
          w.msg(11, ew)
        }
        s.links.foreach { case (t, sid) =>
          w.msg(13, new Wire().hexId(1, t).hexId(2, sid).msg(4, kv("link.kind", "previous")))
        }
        if (s.error) w.msg(15, new Wire().string(2, "error").uint(3, 2))
        else w.msg(15, new Wire().uint(3, 1))
        scopeSpans.msg(2, w)
      }
      req.msg(1, new Wire().msg(1, resource(svc)).msg(2, scopeSpans))
    }
    req.bytes
  }

  /** ExportLogsServiceRequest: one ResourceLogs per service. */
  def encodeLogs(logs: Seq[LogRec]): Array[Byte] = {
    val req = new Wire
    logs.groupBy(_.service).toSeq.sortBy(_._1).foreach { case (svc, ls) =>
      val scopeLogs = new Wire().msg(1, scope)
      ls.foreach { l =>
        scopeLogs.msg(2, new Wire().fixed64(1, l.timeNs).uint(2, l.severity.toLong)
          .string(3, l.severityText).msg(5, new Wire().string(1, l.body))
          .msg(6, kv("log.source", "perfbench"))
          .hexId(9, l.traceId).hexId(10, l.spanId).fixed64(11, l.timeNs + 1000L))
      }
      req.msg(1, new Wire().msg(1, resource(svc)).msg(2, scopeLogs))
    }
    req.bytes
  }

  /** ExportMetricsServiceRequest: one ResourceMetrics per service, one
    * Metric per point. */
  def encodeMetrics(points: Seq[Point]): Array[Byte] = {
    val req = new Wire
    points.groupBy(_.service).toSeq.sortBy(_._1).foreach { case (svc, ps) =>
      val scopeMetrics = new Wire().msg(1, scope)
      ps.foreach { p =>
        val attrs = kv("signal", "spans")
        val m = new Wire().string(1, p.name).string(3, if (p.kind == 0) "1" else "ns")
        p.kind match {
          case 0 =>
            m.msg(5, new Wire().msg(1, new Wire().fixed64(3, p.timeNs)
              .fixed64(6, p.count).msg(7, attrs)))
          case 1 =>
            m.msg(7, new Wire().msg(1, new Wire().fixed64(2, p.startNs)
              .fixed64(3, p.timeNs).fixed64(6, p.count).msg(7, attrs))
              .uint(2, 2).uint(3, 1))
          case 2 =>
            m.msg(9, new Wire().msg(1, new Wire().fixed64(2, p.startNs)
              .fixed64(3, p.timeNs).fixed64(4, p.count).double(5, p.sum)
              .packedFixed64(6, p.buckets)
              .packedFixed64(7, HistBounds.map(java.lang.Double.doubleToRawLongBits))
              .msg(9, attrs)).uint(2, 1))
          case 3 =>
            m.msg(10, new Wire().msg(1, new Wire().msg(1, attrs).fixed64(2, p.startNs)
              .fixed64(3, p.timeNs).fixed64(4, p.count).double(5, p.sum)
              .uint(6, 0).fixed64(7, 0L)
              .msg(8, new Wire().uint(1, 40).packedVarint(2, p.buckets))).uint(2, 1))
          case _ =>
            m.msg(11, new Wire().msg(1, new Wire().fixed64(2, p.startNs)
              .fixed64(3, p.timeNs).fixed64(4, p.count).double(5, p.sum)
              .msg(6, new Wire().double(1, 0.5).double(2, p.sum / math.max(1L, p.count)))
              .msg(7, attrs)))
        }
        scopeMetrics.msg(2, m)
      }
      req.msg(1, new Wire().msg(1, resource(svc)).msg(2, scopeMetrics))
    }
    req.bytes
  }
}
