package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The registry batch: oracle-checked `SparkEntry.queries` entries run
  * in a fixed order, each result checked against a committed golden
  * hash. */
object Analytics {

  /** Entries by family, in run order: one or two per family, covering
    * `operators/`, `telemetry/` with `functions/`, `llm/` (dedup,
    * similarity, text, media) and an iterative pinned loop (BPE).
    * `text_shard_overlap` stays in for its unexplained spread. The list
    * is bounded by time: one warm pass of it takes about 6 s at local[4]. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "core" -> Seq("q_window_rank"),
    "tel" -> Seq("tel_dedup_latest"),
    "dedup" -> Seq("dedup_minhash_lsh"),
    "sim" -> Seq("sim_ivf_ann"),
    "text" -> Seq("text_bpe_train", "text_shard_overlap"),
    "mm" -> Seq("mm_wav_ulaw"))

  val Entries: Seq[String] = Families.flatMap(_._2)

  /** Run one entry with its session confs; returns its result rows. */
  def run(spark: SparkSession, dataDir: String, entry: String): Array[Row] = {
    val confs = SparkEntry.queryConfs.getOrElse(entry, Map.empty)
    SparkEntry.withConfs(spark, confs) {
      SparkEntry.queries(entry)(spark, dataDir).collect()
    }
  }

  /** Order-insensitive, exact result hash: columns sorted by name, each
    * value normalized (doubles by their exact bits, decimals by their
    * string), rows sorted, SHA-256 over the result. The same
    * normalization `tools/check_oracle.py` applies before comparing. */
  def resultHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    if (rows.nonEmpty) {
      val schema = rows.head.schema
      val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
      md.update(order.map(_._1).mkString(",").getBytes("UTF-8"))
      rows.map(r => order.map { case (_, i) => norm(r.get(i), schema(i).dataType) }
        .mkString("\u0001")).sorted.foreach { line =>
        md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
      }
    }
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  private def norm(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "N"
    case (d: Double, _) => if (d.isNaN) "NaN" else java.lang.Double.toHexString(d)
    case (f: Float, _) => if (f.isNaN) "NaN" else java.lang.Double.toHexString(f.toDouble)
    case (d: java.math.BigDecimal, _) => "dec:" + d.toPlainString
    case (b: Array[Byte], _) => b.map(x => f"$x%02x").mkString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(norm(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => norm(k, kt) + "=" + norm(x, vt) }.sorted.mkString("{", ",", "}")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => norm(r.get(i), st(i).dataType)).mkString("(", ",", ")")
    case (t: java.sql.Timestamp, _) =>
      s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case (x, _) => x.toString
  }
}
