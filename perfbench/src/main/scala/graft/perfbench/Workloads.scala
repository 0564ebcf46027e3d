package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.IcebergMaintenance

/** The workloads. Each is a closed loop with one client thread:
  * the next op starts when the previous one has returned. Each loop
  * runs until `seconds` of measured time have passed, then finishes the
  * period (mix) or pass (batch) in flight.
  *
  * End-to-end metrics every workload reports, defined per workload in
  * the README: `setup_s`, `work_per_s`, `latency_p50_ms`.
  */
final class Workloads(spark: SparkSession, data: Path, work: Path, seed: Long,
                      seconds: Double, trace: Trace, counters: Option[SparkCounters],
                      result: Main.Result) {
  import Workloads._

  private def now(): Double = System.nanoTime() / 1e9
  private val born = now()
  /** Progress line on stderr: where a run's wall time goes. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: ${now() - born}%7.2f s  $name")
  private var setupNo = 0

  /** Run `body` `SetupRepeats` times on fresh state; report the median
    * time as `setup_s` and keep the last state, `release`-ing the others. */
  private def setUp[T](release: T => Unit)(body: Path => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (_ <- 1 to SetupRepeats) {
      val dir = work.resolve(s"setup-$setupNo")
      setupNo += 1
      last.foreach(release)
      val t0 = now()
      last = Some(trace.op("setup")(labelled("setup")(body(dir))))
      times += now() - t0
    }
    result.put("setup_s", Stats.median(times.toSeq), "s")
    phase(s"set-up x$SetupRepeats done (${times.map(t => f"$t%.2f").mkString(", ")} s)")
    last.get
  }

  private def labelled[T](label: String)(body: => T): T =
    counters.fold(body)(_.labelled(label)(body))

  private val opsOfKind = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  // op wall times by kind; in a traced run, traced ops under `<kind>.traced`
  private val opWall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run one op of `kind` as `id`; returns its value and wall seconds.
    * A traced run traces every other op of each kind, the first one
    * included, so every kind is traced and traced and untraced ops of
    * a kind interleave. */
  private def timedOp[T](kind: String, id: String, span: String = "")(body: => T): (T, Double) = {
    trace.active = trace.traced && opsOfKind(kind) % 2 == 0
    opsOfKind(kind) += 1
    val key = if (trace.active) s"$kind.traced" else kind
    val t0 = now()
    try {
      val v = trace.op(id)(labelled(key)(trace.span(if (span.isEmpty) kind else span)(body)))
      val s = now() - t0
      opWall.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += s
      (v, s)
    } finally trace.active = false
  }

  /** The first `n` events in timestamp order, as generator input. */
  private def events(n: Int): IndexedSeq[OtlpGen.Event] = {
    phase("loading events")
    graft.Tables.events(spark, data.resolve("sf0.1").toString)
      .orderBy(col("ts"), col("event_id")).limit(n)
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ns"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect().map(r => OtlpGen.Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5))).toIndexedSeq
  }

  /** One flush through the exporter, checked against the model. */
  private def flushOp(exp: Exporter, f: OtlpGen.Flush, freshness: mutable.ArrayBuffer[Double],
                      acks: mutable.ArrayBuffer[Double], signal: String): Boolean = {
    val id = s"flush-$signal-${f.index}"
    result.attempt(id) {
      val (r, _) = timedOp(s"flush.$signal", id, "flush")(exp.flush(f))
      freshness += r.freshnessS
      acks ++= r.ackMs
      if (r.mismatches.nonEmpty) throw new IllegalStateException(r.mismatches.mkString("; "))
      true
    }
  }

  private def reportIngest(exp: Exporter, records: Long, elapsed: Double,
                           freshness: Seq[Double], acks: Seq[Double]): Unit = {
    result.put("ingest_records_per_s", records / elapsed, "1/s")
    if (freshness.nonEmpty) {
      result.put("ingest_freshness_p50_s", Stats.median(freshness), "s")
      putTail("ingest_freshness", freshness, "s")
    }
    if (acks.nonEmpty) result.put("export_ack_p50_ms", Stats.median(acks), "ms")
    result.put("stored_bytes_per_otlp_byte",
      exp.storedBytes.toDouble / math.max(1L, exp.acceptedBytes), "ratio")
    result.put("sources.shed_requests", exp.shed.toDouble, "count")
  }

  private def putTail(name: String, xs: Seq[Double], unit: String): Unit = {
    val (p, v, n) = Stats.tail(xs)
    result.put(s"${name}_tail_$unit", v, unit)
    result.put(s"${name}_tail_percentile", p, "%")
    result.put(s"${name}_samples", n.toDouble, "count")
  }

  /** Ingest `n` leading events as one traces flush and index
    * `trace_id`: the table the mix starts from. */
  private def baseTable(dir: Path, evs: IndexedSeq[OtlpGen.Event], n: Int,
                        params: OtlpGen.Params): (Exporter, TelemetryOps) = {
    val e = new Exporter(spark, dir, trace)
    val ops = new TelemetryOps(spark, e.tables("otel_traces").location, seed, trace)
    val base = new OtlpGen.Source(evs.take(n), seed, params.copy(eventsPerFlush = n))
    val f = base.nextFlush().only("traces")
    val r = e.flush(f)
    require(r.mismatches.isEmpty, r.mismatches.mkString("; "))
    ops.committed(f.spans)
    trace.span("catalog.maintenance") {
      IcebergMaintenance.writeBloomIndex(spark, e.tables("otel_traces").location, "trace_id")
    }
    (e, ops)
  }

  private def queryOp(ops: TelemetryOps, i: Int, lat: mutable.ArrayBuffer[Double],
                      lookups: mutable.ArrayBuffer[Double]): Unit = {
    val (kind, body) = ops.next()
    val id = s"$kind-$i"
    result.attempt(id) {
      val (ok, s) = timedOp(s"query.$kind", id)(body())
      lat += s
      if (kind == "trace_lookup") lookups += s
      ok
    }
  }

  /** `WarmQueryRounds` untimed, checked runs of each query kind, so JIT
    * and codegen settle before timing. */
  private def warmQueries(ops: TelemetryOps): Unit =
    for (round <- 1 to WarmQueryRounds) ops.warmOps.foreach { case (kind, body) =>
      val id = s"warm-$kind-$round"
      result.attempt(id)(trace.op(id)(labelled("warm")(body())))
    }

  private def reportQueries(lat: Seq[Double], lookups: Seq[Double]): Unit = {
    if (lat.nonEmpty) {
      result.put("query_latency_p50_s", Stats.median(lat), "s")
      putTail("query_latency", lat, "s")
    }
    if (lookups.nonEmpty) result.put("trace_lookup_p50_s", Stats.median(lookups), "s")
  }

  /** ingest_query_mix: the exporter path under reads. The `events`
    * table in timestamp order becomes seeded OTLP/protobuf. Each cycle
    * exports the next slice of events, one flush per signal (a Collector
    * runs one pipeline per signal type) into its growing tables (traces
    * and logs every cycle, the five metric tables every
    * `MetricsEvery`-th), then runs the read-side query mix
    * ([[TelemetryOps]]) and the maintenance due. Cycles run in whole
    * periods of `Period` until `seconds` have passed, so every run does
    * the same kinds of work in the same proportions. */
  def ingestQueryMix(): Unit = {
    val evs = events(MixEvents)
    val params = OtlpGen.Params(MixEventsPerFlush, MixDupShare, MixLateShare)
    val (exp, ops) = setUp[(Exporter, TelemetryOps)](_._1.stop())(
      dir => baseTable(dir, evs, MixBaseEvents, params))
    val table = exp.tables("otel_traces")
    // untimed, checked warm-up so JIT and codegen of every path settle:
    // one flush of each signal (from the far end of the input, so it
    // repeats no measured data) and a few queries of each kind
    val tail = evs.takeRight(WarmEvents)
    val warm = new OtlpGen.Source(tail, seed ^ 0x77L,
      params.copy(eventsPerFlush = WarmEvents, lateShare = 0.0)).nextFlush()
    Signals.foreach { sig =>
      result.attempt(s"warm-flush-$sig") {
        val r = trace.op(s"warm-flush-$sig")(labelled("warm")(exp.flush(warm.only(sig))))
        r.mismatches.isEmpty
      }
    }
    ops.committed(warm.spans)
    warmQueries(ops)
    phase("warmed up")
    val src = new OtlpGen.Source(evs.slice(MixBaseEvents, evs.length - tail.length), seed + 1, params)
    val freshness = mutable.ArrayBuffer.empty[Double]
    val acks = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    var records = 0L
    var q = 0
    var cycle = 0
    var maxStall = 0.0
    phase("measuring")
    val t0 = now()
    while ((cycle % Period != 0 || now() - t0 < seconds) && !src.exhausted) {
      cycle += 1
      val f = src.nextFlush()
      Signals.filter(s => s != "metrics" || cycle % MetricsEvery == 0).foreach { sig =>
        val part = f.only(sig)
        if (flushOp(exp, part, freshness, acks, sig)) {
          records += part.records
          ops.committed(part.spans)
        }
      }
      for (_ <- 1 to MixQueriesPerCycle) { queryOp(ops, q, lat, lookups); q += 1 }
      val m0 = now()
      maintenance(cycle, table.location)
      exp.resync(table)
      maxStall = math.max(maxStall, now() - m0)
    }
    val elapsed = now() - t0
    phase(s"measured ${f"$elapsed%.2f"} s, $cycle cycles")
    reportIngest(exp, records, elapsed, freshness.toSeq, acks.toSeq)
    reportQueries(lat.toSeq, lookups.toSeq)
    trace.max("catalog.maintenance_stall_s", maxStall)
    // median wall time of each op kind: where a cycle's time goes
    opWall.foreach { case (k, xs) => result.put(s"op.$k.p50_s", Stats.median(xs.toSeq), "s") }
    result.put("work_per_s", records / elapsed, "1/s")
    result.put("latency_p50_ms", Stats.median(lat.toSeq) * 1000, "ms")
    exp.stop()
  }

  /** The fixed maintenance cadence of the mix's traces table, by cycle:
    * a bloom index on odd cycles, then once per period a manifest
    * rewrite and a data file rewrite. */
  private def maintenance(cycle: Int, location: String): Unit = {
    def run(kind: String)(body: => Unit): Unit = {
      val id = s"$kind-$cycle"
      result.attempt(id) { timedOp(s"catalog.maintenance.$kind", id, "catalog.maintenance")(body); true }
    }
    if (cycle % 2 == 1) run("bloom_index") {
      IcebergMaintenance.writeBloomIndex(spark, location, "trace_id")
    }
    if (cycle % Period == 0) run("rewrite_manifests") {
      IcebergMaintenance.rewriteManifests(spark, location)
    }
    if (cycle % Period == 0) run("rewrite_data_files") {
      val r = IcebergMaintenance.rewriteDataFiles(spark, location,
        smallFileThresholdBytes = 1L << 20, targetFileSizeBytes = 4L << 20,
        statsColumn = Some("start_time_unix_nano"), sortBy = Seq("start_time_unix_nano"))
      trace.count("catalog.bytes_rewritten", r.rewrittenBytes.toDouble)
      // a rewrite retires indexed files: index the new ones right away
      IcebergMaintenance.writeBloomIndex(spark, location, "trace_id")
    }
  }

  /** analytics_batch: the registry entries in a fixed order. Set-up is
    * the first pass, cold: every entry's first run in the JVM pays its
    * JIT, codegen and file listing there, which the timed passes then
    * rely on. A cold pass happens once per JVM, so `setup_s` is one
    * sample, not a median. Then timed passes until `seconds` are spent.
    * Every run of every entry, the cold one included, is checked. */
  def analyticsBatch(): Unit = {
    val dataDir = data.resolve("sf0.01").toString
    val golden = Golden.load(data.resolve("golden.json"))
    def correct(entry: String, rows: Array[org.apache.spark.sql.Row]): Boolean =
      golden.get(entry).contains(Analytics.resultHash(rows))
    val c0 = now()
    Analytics.Entries.foreach(e => result.attempt(s"cold-$e")(trace.op(s"cold-$e")(
      labelled("setup")(correct(e, Analytics.run(spark, dataDir, e))))))
    result.put("setup_s", now() - c0, "s")
    phase("cold pass done")
    val samples = mutable.LinkedHashMap(Analytics.Entries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val t0 = now()
    var pass = 1
    while (pass == 1 || now() - t0 < seconds) {
      Analytics.Entries.foreach { e =>
        val id = s"$e-$pass"
        var s = 0.0
        val ok = result.attempt(id) {
          val (rows, t) = timedOp(s"analytics.$e", id)(Analytics.run(spark, dataDir, e))
          s = t
          correct(e, rows)
        }
        if (ok) samples(e) += s
      }
      pass += 1
    }
    val elapsed = now() - t0
    phase(s"measured ${f"$elapsed%.2f"} s, ${pass - 1} passes")
    val medians = samples.collect { case (e, xs) if xs.nonEmpty => e -> Stats.median(xs.toSeq) }
    medians.foreach { case (e, m) => result.put(s"analytics.${e}_s", m, "s") }
    Analytics.Families.foreach { case (fam, es) =>
      result.put(s"analytics.${fam}_s", es.flatMap(medians.get).sum, "s")
    }
    result.put("analytics_batch_s", medians.values.sum, "s")
    result.put("analytics_passes", (pass - 1).toDouble, "count")
    // checked entry runs per second of whole passes, and the median of
    // every entry run's time
    result.put("work_per_s", samples.values.map(_.size).sum / elapsed, "1/s")
    result.put("latency_p50_ms", Stats.median(samples.values.flatten.toSeq) * 1000, "ms")
  }

  /** Per-layer metrics of the traced run. */
  def layerMetrics(): Unit = {
    val spans = trace.busyAndSelf
    def busy(span: String): Double = spans.get(span).map(_._1).getOrElse(0.0)
    def self(span: String): Double = spans.get(span).map(_._2).getOrElse(0.0)
    result.put("trace.counters_busy_s", busy(Trace.CounterSpan), "s")
    val layerSpans = Seq(
      "sources.receive_busy_s" -> "sources.receive", "sources.decode_busy_s" -> "sources.decode",
      "otel.flatten_busy_s" -> "otel.flatten", "sink.write_busy_s" -> "sink.write",
      "recovery.footer_busy_s" -> "recovery.footer", "catalog.commit_busy_s" -> "catalog.commit",
      "catalog.plan_busy_s" -> "catalog.plan", "catalog.first_read_busy_s" -> "catalog.first_read",
      "catalog.maintenance_busy_s" -> "catalog.maintenance") ++
      QueryKinds.map(k => s"query.${k}_busy_s" -> s"query.$k")
    layerSpans.foreach { case (metric, span) =>
      result.put(metric, busy(span), "s")
      result.put(metric.replace("_busy_s", "_self_s"), self(span), "s")
    }
    val c = trace.counters
    Seq("sources.requests", "sources.request_bytes", "sources.decoded_records", "otel.rows_out",
      "sink.files_written", "sink.bytes_written", "sink.partitions_touched",
      "recovery.files_listed", "catalog.metadata_bytes_written", "catalog.manifests_in_list",
      "catalog.files_planned", "catalog.manifests_decoded", "catalog.files_in_snapshot",
      "catalog.bytes_rewritten", "catalog.maintenance_stall_s")
      .foreach(n => result.put(n, c.getOrElse(n, 0.0),
        if (n.endsWith("_s")) "s" else if (n.endsWith("bytes") || n.contains("bytes_")) "bytes" else "count"))
    result.put("sink.rows_per_file",
      c.getOrElse("otel.rows_out", 0.0) / math.max(1.0, c.getOrElse("sink.files_written", 0.0)), "count")
    result.put("catalog.useful_file_ratio",
      c.getOrElse("catalog.files_useful", 0.0) / math.max(1.0, c.getOrElse("catalog.files_planned", 0.0)),
      "ratio")
    result.put("trace.flush_layer_share", trace.layerShare("flush"), "ratio")
    // tracing overhead: median traced op wall minus median untraced, by
    // op kind (traced ops also materialize at every layer boundary)
    val overheads = opWall.keys.filterNot(_.endsWith(".traced")).toSeq.flatMap { k =>
      opWall.get(s"$k.traced").map { t =>
        val o = Stats.median(t.toSeq) - Stats.median(opWall(k).toSeq)
        result.put(s"trace.overhead.${k}_s", o, "s")
        o
      }
    }
    if (overheads.nonEmpty) result.put("trace.overhead_s", overheads.sum / overheads.size, "s")
    // engine counters of the untraced ops (the production-shaped ones),
    // per op of each kind and per op over the workload
    counters.foreach { sc =>
      val snap = sc.snapshot()
      val kinds = opWall.keys.filterNot(_.endsWith(".traced")).toSeq
      val nOps = kinds.map(opWall(_).size).sum.toDouble
      SparkCounters.Names.foreach { n =>
        val total = kinds.map(k => snap.get(k).map(_(n)).getOrElse(0.0)).sum
        result.put(s"spark.$n", if (nOps > 0) total / nOps else 0.0, unitOf(n))
      }
      kinds.foreach { k =>
        val m = snap.getOrElse(k, Map.empty[String, Double])
        SparkCounters.Names.foreach(n =>
          result.put(s"spark.$k.$n", m.getOrElse(n, 0.0) / opWall(k).size, unitOf(n)))
      }
      Analytics.Families.foreach { case (fam, es) =>
        Seq("executor_cpu_s", "shuffle_write_bytes").foreach { n =>
          result.put(s"analytics.$fam.$n", es.map { e =>
            val k = s"analytics.$e"
            snap.get(k).map(_(n) / opWall(k).size).getOrElse(0.0)
          }.sum, unitOf(n))
        }
      }
    }
  }

  private def unitOf(counter: String): String =
    if (counter.endsWith("_s")) "s" else if (counter.endsWith("_bytes")) "bytes" else "count"
}

object Workloads {
  val Signals: Seq[String] = Seq("traces", "logs", "metrics")
  val Names: Seq[String] = Seq("ingest_query_mix", "analytics_batch")
  val QueryKinds: Seq[String] =
    Seq("trace_lookup", "slice_red", "service_graph", "trace_summary", "dedup_latest")

  val SetupRepeats = 3
  // sizes: the mix's base table, flushes and warm-up; the measured loop
  // stops at `seconds` long before it runs out of events
  val MixEvents = 2000
  val MixBaseEvents = 400
  val MixEventsPerFlush = 200
  // traffic shape; where each value comes from is in the README
  val MixDupShare = 0.1
  val MixLateShare = 0.05
  val WarmEvents = 100
  // query latencies fall over the first rounds of each kind (JIT of
  // the planning and read paths); measure after two
  val WarmQueryRounds = 2
  val MixQueriesPerCycle = 16
  val MetricsEvery = 2
  val Period = 2
}
