package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.IcebergTableReader
import graft.otel.OtelAnalytics

/** The read side users run on the traces table, and the answers the
  * generator's model says each must return.
  *
  * Every op reads through the Iceberg chain: trace lookup by the
  * `trace_id` bloom sidecar ([[IcebergTableReader.readPoint]]), the
  * others over a stats-pruned time slice ([[IcebergTableReader.readSlice]]).
  */
final class TelemetryOps(spark: SparkSession, location: String, seed: Long, trace: Trace) {
  import TelemetryOps._

  private val rng = new SplittableRandom(seed ^ 0x5eed0fL)
  private val byTrace = mutable.HashMap.empty[String, Vector[OtlpGen.Span]]
  private val byHour = mutable.TreeMap.empty[Long, Vector[OtlpGen.Span]]
  private val recent = mutable.ArrayBuffer.empty[String]
  graft.functions.GraftFunctions.register(spark)

  /** Add committed spans (duplicates included) to the model. */
  def committed(spans: Seq[OtlpGen.Span]): Unit = spans.foreach { s =>
    val prev = byTrace.getOrElse(s.traceId, Vector.empty)
    if (prev.isEmpty) recent += s.traceId
    byTrace(s.traceId) = prev :+ s
    val h = hourOf(s.startNs)
    byHour(h) = byHour.getOrElse(h, Vector.empty) :+ s
  }

  private var opNo = 0

  /** The next op: kinds follow [[TelemetryOps.Schedule]], parameters
    * (trace id, hour) are seeded. Returns (op kind, op body returning
    * whether the answer matched the model). */
  def next(): (String, () => Boolean) = {
    val kind = Schedule(opNo % Schedule.length)
    opNo += 1
    val hours = byHour.keysIterator.toIndexedSeq
    def hour(): Long = hours(rng.nextInt(hours.length))
    kind match {
      case "trace_lookup" =>
        val id = recent(recent.length - 1 - zipf(math.min(recent.length, 2000)))
        kind -> (() => traceLookup(id))
      case "trace_lookup_absent" =>
        val id = f"${rng.nextLong()}%016x${rng.nextLong()}%016x"
        "trace_lookup" -> (() => traceLookup(id))
      case "slice_red" => val h = hour(); kind -> (() => sliceRed(h))
      case "service_graph" =>
        val i = rng.nextInt(hours.length)
        val span = hours.slice(i, i + 6)
        kind -> (() => serviceGraph(span.head, span.last + HourUs))
      case "trace_summary" => val h = hour(); kind -> (() => traceSummary(h))
      case "dedup_latest" => val h = hour(); kind -> (() => dedupLatest(h))
    }
  }

  /** One op of each kind over the oldest data, for the warm pass. */
  def warmOps: Seq[(String, () => Boolean)] = {
    val h = byHour.firstKey
    Seq("trace_lookup" -> (() => traceLookup(recent.head)),
      "slice_red" -> (() => sliceRed(h)),
      "service_graph" -> (() => serviceGraph(h, h + 6 * HourUs)),
      "trace_summary" -> (() => traceSummary(h)),
      "dedup_latest" -> (() => dedupLatest(h)))
  }

  /** Zipf(1.1) rank over `n` items, 0 the most frequent. */
  private def zipf(n: Int): Int = {
    val weights = (1 to n).map(r => 1.0 / math.pow(r, 1.1))
    var x = rng.nextDouble() * weights.sum
    var i = 0
    while (i < n - 1 && x > weights(i)) { x -= weights(i); i += 1 }
    i
  }

  private def slice(startUs: Long, endUs: Long): DataFrame = planned(
    IcebergTableReader.readSlice(spark, location, "start_time_unix_nano", startUs, endUs))

  /** Plan a read in its own span; traced, also count the files the
    * plan opens and how many of them return a row. */
  private def planned(read: => DataFrame): DataFrame = {
    val df = trace.span("catalog.plan")(read)
    if (trace.active) trace.span(Trace.CounterSpan) {
      val files = df.inputFiles.length
      trace.count("catalog.files_planned", files)
      trace.count("catalog.files_useful",
        if (files == 0) 0 else df.select(input_file_name()).distinct().count().toDouble)
      trace.count("catalog.manifests_decoded",
        IcebergTableReader.manifestsDf(spark, location).count().toDouble)
      trace.count("catalog.files_in_snapshot",
        IcebergTableReader.dataFiles(spark, location).size.toDouble)
    }
    df
  }
  private def spansIn(startUs: Long, endUs: Long): Seq[OtlpGen.Span] =
    byHour.range(startUs, endUs).values.flatten.toSeq

  def traceLookup(id: String): Boolean = {
    val got = Exporter.checksum(
      planned(IcebergTableReader.readPoint(spark, location, "trace_id", id)), Exporter.SpanKeyCols)
    val want = byTrace.getOrElse(id, Vector.empty).map(s => Exporter.crc(Exporter.spanKey(s)))
    got == (want.size.toLong, want.sum)
  }

  def sliceRed(h: Long): Boolean = {
    val got = OtelAnalytics.spanMetrics(slice(h, h + HourUs))
      .select(unix_micros(col("hour_start")), col("service_name"), col("span_name"),
        col("n_spans"), col("n_errors"), col("total_ms"), col("p95_ms"), col("error_rate"))
      .collect().map(r => (0 until r.length).map(r.get(_).toString).mkString("|")).sorted.toSeq
    val want = spansIn(h, h + HourUs).groupBy(s => (s.service, s.name)).toSeq.map {
      case ((svc, name), ss) =>
        val n = ss.size.toLong
        val err = ss.count(_.error).toLong
        Seq(h, svc, name, n, err, round(ss.map(_.durationNs).sum / 1000000.0, 3),
          round(percentile(ss.map(_.durationNs), 0.95) / 1000000.0, 3),
          round(err.toDouble / n, 4)).mkString("|")
    }.sorted
    got == want
  }

  def serviceGraph(startUs: Long, endUs: Long): Boolean = {
    val got = OtelAnalytics.serviceGraph(slice(startUs, endUs))
      .collect().map(r => (0 until r.length).map(r.get(_).toString).mkString("|")).sorted.toSeq
    val spans = spansIn(startUs, endUs)
    val services = spans.groupBy(_.spanId).map { case (k, ss) => k -> ss.map(_.service) }
    val edges = for {
      c <- spans if c.parentId.nonEmpty
      caller <- services.getOrElse(c.parentId, Nil) if caller != c.service
    } yield (caller, c)
    val want = edges.groupBy { case (caller, c) => (caller, c.service) }.toSeq.map {
      case ((caller, callee), es) =>
        Seq(caller, callee, es.size.toLong, es.count(_._2.error).toLong,
          round(es.map(_._2.durationNs).sum / 1000000.0, 3)).mkString("|")
    }.sorted
    got == want
  }

  def traceSummary(h: Long): Boolean = {
    val got = Exporter.checksum(OtelAnalytics.traceSummary(slice(h, h + HourUs)), Seq(
      col("trace_id"), col("n_spans").cast("string"),
      unix_micros(col("trace_start")).cast("string"),
      unix_micros(col("trace_end")).cast("string"), col("root_span"),
      col("has_error").cast("string")))
    val want = spansIn(h, h + HourUs).groupBy(_.traceId).toSeq.map { case (t, ss) =>
      val root = ss.minBy(s => (if (s.parentId.isEmpty) 0 else 1, s.startNs / 1000, s.spanId))
      Exporter.crc(Seq(t, ss.size.toString, (ss.map(_.startNs).min / 1000).toString,
        (ss.map(_.endNs).max / 1000).toString, root.name, if (ss.exists(_.error)) "1" else "0"))
    }
    got == (want.size.toLong, want.sum)
  }

  /** Latest row per span id (re-sent requests make duplicates); the
    * answer must hold each span exactly once. */
  def dedupLatest(h: Long): Boolean = {
    val got = Exporter.checksum(slice(h, h + HourUs).groupBy(col("span_id"))
      .agg(element_at(call_function("top_k_structs",
        struct(col("end_time_unix_nano"), col("trace_id")), lit(1)), 1).as("m"))
      .select(col("span_id"), col("m.trace_id").as("trace_id")),
      Seq(col("span_id"), col("trace_id")))
    val want = spansIn(h, h + HourUs).map(s => (s.spanId, s.traceId)).distinct
      .map { case (s, t) => Exporter.crc(Seq(s, t)) }
    got == (want.size.toLong, want.sum)
  }
}

object TelemetryOps {
  val HourUs: Long = 3600L * 1000000L

  /** Query kinds in the order the mix runs them: of every eight, three
    * trace lookups (one for an absent id), two RED slices, one service
    * graph, one trace summary, one dedup-latest. A fixed order keeps the
    * mix's composition the same in every run. */
  val Schedule: IndexedSeq[String] = IndexedSeq("trace_lookup", "slice_red", "trace_summary",
    "trace_lookup", "dedup_latest", "slice_red", "service_graph", "trace_lookup_absent")

  def hourOf(ns: Long): Long = (ns / 1000) / HourUs * HourUs

  /** Spark's `round(double, scale)`: HALF_UP on the decimal rendering. */
  def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's exact `percentile`: linear interpolation at (n - 1) * p. */
  def percentile(xs: Seq[Long], p: Double): Double = {
    val s = xs.sorted.map(_.toDouble)
    val pos = (s.length - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(lo) == s(hi)) s(lo)
    else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }
}
