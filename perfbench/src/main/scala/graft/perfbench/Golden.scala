package graft.perfbench

import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Golden result hashes of the registry entries the analytics batch
  * runs, with the provenance of the file. `main` regenerates the file:
  *   Golden <dataDir> <out.json> <provenance text>
  */
object Golden {
  def load(p: Path): Map[String, String] = {
    val j = JsonMethods.parse(Files.readString(p))
    (j \ "hashes").asInstanceOf[JObject].obj.collect { case (k, JString(v)) => k -> v }.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, out, provenance) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val hashes = Analytics.Entries.map(e => e -> JString(Analytics.resultHash(
      Analytics.run(spark, dataDir, e))))
    val doc = JObject("provenance" -> JString(provenance), "hashes" -> JObject(hashes.toList))
    Files.writeString(Path.of(out), JsonMethods.pretty(JsonMethods.render(doc)) + "\n")
    spark.stop()
  }
}
