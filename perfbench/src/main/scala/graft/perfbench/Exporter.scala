package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.catalog.{IcebergCommit, IcebergSingleValue, IcebergTableReader, RestCatalogClient}
import graft.otel.{OtelLogs, OtelMetrics, OtelTraces}
import graft.recovery.Recovery
import graft.sink.PartitionedParquetSink
import graft.sink.PartitionedParquetSink.SinkConfig
import graft.sources.{OtelProtoSource, OtlpHttpReceiver}

/** graft's exporter path driven from outside, one flush at a time:
  * POST (gzip, one loopback connection) to [[OtlpHttpReceiver]] →
  * decode ([[OtelProtoSource]]) → flatten (`otel`) → hourly
  * [[PartitionedParquetSink.writeBatch]] → footer stats ([[Recovery]])
  * → [[IcebergCommit.commitStandalone]] → first read of the new rows
  * ([[IcebergTableReader]]).
  *
  * Untraced, decode and flatten stay lazy and run inside the sink's
  * write job, as a production flush would. Traced, each layer's output
  * is materialized at its boundary so the layer's span holds its work.
  */
final class Exporter(spark: SparkSession, dir: Path, trace: Trace) {
  import Exporter._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val spool = dir.resolve("spool")
  private val receiver = new OtlpHttpReceiver(spool.toString)
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Tables this exporter writes, by name. */
  val tables: Map[String, Table] = Workloads.Signals.flatMap(tablesOf).map { t =>
    t.name -> t
  }.toMap

  final class Table(val name: String, val signal: String, val tsColumn: String,
                    val decode: String => DataFrame, val flatten: DataFrame => DataFrame,
                    val keys: Seq[Column]) {
    val sink: SinkConfig = SinkConfig(dir.resolve("data").toString, name,
      tsColumn = tsColumn, granularity = "hourly")
    val location: String = dir.resolve("iceberg").resolve(name).toString
    var schemaJson: Option[(String, Int)] = None
    var known: Set[String] = Set.empty
    var snapshot: Option[Long] = None
  }

  private def tablesOf(signal: String): Seq[Table] = signal match {
    case "traces" => Seq(new Table("otel_traces", signal, "start_time_unix_nano",
      OtelProtoSource.traces(spark, _), OtelTraces.flatten, SpanKeyCols))
    case "logs" => Seq(new Table("otel_logs", signal, "time_unix_nano",
      OtelProtoSource.logs(spark, _), OtelLogs.flatten, Seq(
        coalesce(col("trace_id"), lit("")), coalesce(col("span_id"), lit("")),
        col("body"), coalesce(col("severity_text"), lit("")),
        micros("time_unix_nano"), coalesce(col("service_name"), lit("")))))
    case "metrics" =>
      val decoders: Seq[String => DataFrame] = Seq(
        OtelProtoSource.metricsGauge(spark, _), OtelProtoSource.metricsSum(spark, _),
        OtelProtoSource.metricsHistogram(spark, _),
        OtelProtoSource.metricsExponentialHistogram(spark, _),
        OtelProtoSource.metricsSummary(spark, _))
      val flattens: Seq[DataFrame => DataFrame] = Seq(OtelMetrics.flattenGauge,
        OtelMetrics.flattenSum, OtelMetrics.flattenHistogram,
        OtelMetrics.flattenExponentialHistogram, OtelMetrics.flattenSummary)
      OtlpGen.MetricKinds.indices.map { k =>
        val value = if (k < 2) col("as_int") else col("count")
        new Table(s"otel_metrics_${OtlpGen.MetricKinds(k)}", signal, "time_unix_nano",
          decoders(k), flattens(k), Seq(coalesce(col("service_name"), lit("")),
            col("metric_name"), micros("time_unix_nano"), value.cast("string")))
      }
  }

  private var batchNo = 0
  var acceptedBytes = 0L
  var shed = 0L

  /** Export one flush and commit it; returns its latencies and checks. */
  def flush(f: OtlpGen.Flush): FlushResult = {
    val bodies = f.requests.map(r => (r.signal, gzip(r.body), r.body.length))
    val batch = dir.resolve("batches").resolve(s"b$batchNo")
    batchNo += 1
    val t0 = System.nanoTime()
    val acks = trace.span("sources.receive") {
      bodies.map { case (signal, gz, raw) =>
        val a = System.nanoTime()
        val resp = client.send(HttpRequest.newBuilder(URI.create(s"${receiver.uri}/v1/$signal"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofByteArray(gz)).build(),
          HttpResponse.BodyHandlers.discarding())
        val ms = (System.nanoTime() - a) / 1e6
        if (resp.statusCode == 429) shed += 1
        if (resp.statusCode != 200)
          throw new IllegalStateException(s"POST /v1/$signal returned ${resp.statusCode}")
        acceptedBytes += raw
        trace.count("sources.requests", 1)
        trace.count("sources.request_bytes", gz.length)
        ms
      }
    }
    // the spooled requests of this flush become its batch, the way a
    // collector's batch processor hands a batch to the exporter
    Workloads.Signals.foreach { s =>
      val from = spool.resolve(s)
      val to = batch.resolve(s)
      Files.createDirectories(to)
      Files.list(from).iterator().asScala.toSeq.foreach(p =>
        Files.move(p, to.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
    }
    val expected = expectedRows(f)
    val mismatches = tables.values.toSeq.sortBy(_.name).flatMap { t =>
      val files = batch.resolve(t.signal)
      if (Files.list(files).findAny().isPresent) commitTable(t, files.toString, expected(t.name))
      else None
    }
    val fresh = (System.nanoTime() - t0) / 1e9
    deleteTree(batch)
    FlushResult(acks, fresh, mismatches)
  }

  private def materialize(df: DataFrame): DataFrame =
    if (!trace.active) df
    else { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }

  /** Decode → flatten → write → footers → commit → first read for one
    * table; returns a mismatch description if the committed rows differ
    * from `expected` (row count, order-insensitive checksum). */
  private def commitTable(t: Table, batchDir: String,
                          expected: (Long, Long)): Option[String] = {
    val decoded = trace.span("sources.decode")(materialize(t.decode(batchDir)))
    if (trace.active) trace.span(Trace.CounterSpan) {
      val nested = decoded.schema.fieldNames.find(n =>
        Set("spans", "records", "points")(n)).get
      trace.count("sources.decoded_records",
        decoded.agg(sum(size(col(nested)))).head.getLong(0).toDouble)
    }
    val flat = trace.span("otel.flatten")(materialize(t.flatten(decoded)))
    if (trace.active) trace.span(Trace.CounterSpan)(trace.count("otel.rows_out", flat.count().toDouble))
    trace.span("sink.write")(PartitionedParquetSink.writeBatch(flat, t.sink))
    if (trace.active) { flat.unpersist(); decoded.unpersist() }
    val (fresh, counts, stats) = trace.span("recovery.footer") {
      val live = Recovery.listDataFiles(spark, PartitionedParquetSink.tablePath(t.sink))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      trace.count("recovery.files_listed", live.length)
      val fresh = live.filterNot { case (p, _) => t.known(p) }.toSeq
      val paths = fresh.map(_._1)
      (fresh, Recovery.fileRowCounts(spark, paths),
        Recovery.fileColumnStats(spark, paths, t.tsColumn))
    }
    trace.count("sink.files_written", fresh.size)
    trace.count("sink.bytes_written", fresh.map(_._2).sum.toDouble)
    trace.count("sink.partitions_touched",
      fresh.map(p => p._1.substring(0, p._1.lastIndexOf('/'))).distinct.size)
    val metaBefore = if (trace.active) treeBytes(Path.of(t.location, "metadata")) else 0L
    val snap = trace.span("catalog.commit") {
      val (sj, tsId) = t.schemaJson.getOrElse {
        val (json, ids) = RestCatalogClient.icebergSchemaJson(flat.schema)
        val v = (org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(json)), ids(t.tsColumn))
        t.schemaJson = Some(v)
        v
      }
      IcebergCommit.commitStandalone(conf, t.location, sj, None, fresh.map { case (p, sz) =>
        val bounds = stats.get(p).toSeq.map { case (mn, mx) =>
          (tsId, IcebergSingleValue.longBytes(mn), IcebergSingleValue.longBytes(mx))
        }
        RestCatalogClient.DataFile(p, sz, counts.getOrElse(p, 0L), bounds)
      })
    }
    if (trace.active) trace.span(Trace.CounterSpan) {
      trace.count("catalog.metadata_bytes_written",
        treeBytes(Path.of(t.location, "metadata")) - metaBefore)
      trace.count("catalog.commits", 1)
      trace.count("catalog.manifests_in_list",
        IcebergTableReader.manifestsDf(spark, t.location).count().toDouble)
    }
    val (n, cks) = trace.span("catalog.first_read") {
      val rows = t.snapshot match {
        case Some(prev) => IcebergTableReader.readIncremental(spark, t.location, prev)
        case None => IcebergTableReader.read(spark, t.location)
      }
      checksum(rows, t.keys)
    }
    t.known ++= fresh.map(_._1)
    t.snapshot = Some(snap)
    if ((n, cks) == expected) None
    else Some(s"${t.name}: committed (rows, checksum) = ($n, $cks), sent $expected")
  }

  /** What each table must hold for flush `f`: (rows, checksum). */
  private def expectedRows(f: OtlpGen.Flush): Map[String, (Long, Long)] = {
    val spans = f.spans.map(spanKey)
    val logs = f.logs.map(l => Seq(l.traceId, l.spanId, l.body, l.severityText,
      (l.timeNs / 1000).toString, l.service))
    val pts = OtlpGen.MetricKinds.indices.map { k =>
      s"otel_metrics_${OtlpGen.MetricKinds(k)}" -> f.points.filter(_.kind == k).map(p =>
        Seq(p.service, p.name, (p.timeNs / 1000).toString, p.count.toString))
    }
    (Seq("otel_traces" -> spans, "otel_logs" -> logs) ++ pts).map { case (n, keys) =>
      n -> (keys.size.toLong, keys.map(crc).sum)
    }.toMap
  }

  /** Bytes under every table's data and metadata directories. */
  def storedBytes: Long = tables.values.toSeq.flatMap { t =>
    Seq(Path.of(PartitionedParquetSink.tablePath(t.sink)), Path.of(t.location))
  }.map(treeBytes).sum

  /** Re-read a table's current snapshot after maintenance committed
    * over it, so the next flush's first read starts from there. */
  def resync(t: Table): Unit =
    t.snapshot = IcebergTableReader.metadata(spark, t.location).currentSnapshotId

  def stop(): Unit = receiver.stop()
}

object Exporter {
  /** Per-flush outcome: ack latencies (ms), first POST → rows readable
    * (s), and whether every table matched the generator's model. */
  final case class FlushResult(ackMs: Seq[Double], freshnessS: Double,
                               mismatches: Seq[String])

  def micros(c: String): Column =
    unix_micros(col(c)).cast("string")

  /** Row count and order-insensitive checksum (sum of CRC32 over the
    * `|`-joined key columns) of `rows`. A read that every file was
    * pruned from is a column-less empty frame ([[IcebergTableReader]]:
    * "an empty snapshot is an empty frame"); its answer is no rows. */
  def checksum(rows: DataFrame, cols: Seq[Column]): (Long, Long) = {
    if (rows.columns.isEmpty) return (0L, 0L)
    val r = rows.agg(count(lit(1)), coalesce(sum(crc32(concat_ws("|", cols: _*))), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  /** The traces table's checksum columns, rendered as [[spanKey]]. */
  val SpanKeyCols: Seq[Column] = Seq(col("trace_id"), col("span_id"),
    coalesce(col("parent_span_id"), lit("")), col("span_name"),
    coalesce(col("service_name"), lit("")), micros("start_time_unix_nano"),
    col("duration").cast("string"), coalesce(col("status_code"), lit("")))

  /** The checksum key of one span row, as the traces table renders it. */
  def spanKey(s: OtlpGen.Span): Seq[String] = Seq(s.traceId, s.spanId, s.parentId,
    s.name, s.service, (s.startNs / 1000).toString, s.durationNs.toString,
    if (s.error) "ERROR" else "OK")

  def crc(parts: Seq[String]): Long = {
    val c = new CRC32
    c.update(parts.mkString("|").getBytes("UTF-8"))
    c.getValue
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
