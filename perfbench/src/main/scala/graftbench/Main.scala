package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark process: `Main <config.json> <result.json>`.
  *
  * The config (written by `perfbench/run.py`) names the workload, the
  * fixture directories and the generated request list; the result file
  * holds raw samples (per request or per gate), the set-up times and, for
  * a traced run, the per-layer breakdown. Metrics and correctness are
  * derived from the result file by `run.py`, so nothing here depends on
  * what else the JVM prints.
  */
object Main {
  val mapper = new ObjectMapper()

  /** Epoch microseconds at which this JVM started. */
  def jvmStartMicros: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  /** The session `graft.Bench` builds: local[cpus], shuffle partitions =
    * cpus, AQE off, UTC, periodic GC every minute. Scratch and warehouse
    * directories stay inside the benchmark's work directory.
    */
  def session(cfg: JsonNode): SparkSession = {
    val cpus = cfg.get("cpus").asInt
    val work = cfg.get("work").asText
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val out: ObjectNode = cfg.get("workload").asText match {
      case "gate-sweep" => GateSweep.run(cfg)
      case _            => StacLoad.run(cfg)
    }
    mapper.writeValue(new File(args(1)), out)
    // the result is on disk: exiting ends Spark and the handler pools
    // without waiting for an orderly shutdown
    System.exit(0)
  }
}
