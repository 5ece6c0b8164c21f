package graftbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.FrameMemo

/** The analytics workload: a sample of `SparkEntry.queries` gates, each run
  * once through the `noop` sink after a warm-up on a small fixture, with
  * Bench's between-gate block-store sweep outside the timed region. After the timed sweep every sampled gate runs again, untimed,
  * to dump its output for the DuckDB oracle comparison.
  */
object GateSweep {
  private val mapper = Main.mapper

  /** The registry module that holds each gate. */
  val modules: Seq[(String, Set[String])] = Seq(
    "StacSearch" -> graft.search.StacSearch.queries.keySet,
    "Analytics" -> graft.ops.Analytics.queries.keySet,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries.keySet,
    "Dedup" -> graft.ops.Dedup.queries.keySet,
    "Similarity" -> graft.ops.Similarity.queries.keySet,
    "Multimodal" -> graft.ops.Multimodal.queries.keySet,
    "Curation" -> graft.ops.Curation.queries.keySet,
    "Events" -> graft.streaming.Events.queries.keySet)

  def moduleOf(gate: String): String =
    modules.find(_._2.contains(gate)).map(_._1).getOrElse("?")

  /** Writes everything to both streams: stderr is copied into a buffer so
    * FrameMemo's build reports can be read back.
    */
  private final class Tee(a: OutputStream, b: OutputStream) extends OutputStream {
    override def write(x: Int): Unit = { a.write(x); b.write(x) }
    override def write(x: Array[Byte], o: Int, n: Int): Unit = { a.write(x, o, n); b.write(x, o, n) }
    override def flush(): Unit = { a.flush(); b.flush() }
  }

  private val memoLine = """\[memo\] (\S+) built in ([0-9.]+) s""".r

  /** Bench's between-gate sweep: unpersist every RDD FrameMemo does not
    * own. The per-RDD warning this triggers is silenced only while the
    * sweep runs; the logger's level is restored afterwards.
    */
  private def sweepBlocks(spark: SparkSession): Unit = {
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val before = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.ERROR)
    try {
      val keep = FrameMemo.ownedRddIds(spark)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = true)
      }
    } finally Configurator.setLevel(name, before)
  }

  def run(cfg: JsonNode): ObjectNode = {
    val dir = cfg.get("data").asText
    val warmDir = cfg.get("warm").asText
    val gates = cfg.get("gates").elements().asScala.map(_.asText).toSeq
    val traced = cfg.get("trace").asBoolean
    val cpus = cfg.get("cpus").asInt
    val queries = SparkEntry.queries
    val result = mapper.createObjectNode()
    def exec(spark: SparkSession, gate: String, d: String): Unit =
      queries(gate)(spark, d).write.mode("overwrite").format("noop").save()

    val captured = new ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new PrintStream(new Tee(realErr, captured), true))

    var spark: SparkSession = null
    val setups = result.putArray("setup_s")
    (0 until cfg.get("setups").asInt).foreach { k =>
      if (spark != null) spark.stop()
      val t0 = if (k == 0) Main.jvmStartMicros else System.currentTimeMillis() * 1000L
      spark = Main.session(cfg)
      exec(spark, "a22_combined_search", warmDir)
      setups.add((System.currentTimeMillis() * 1000L - t0) / 1e6)
    }
    // The sample once on the small fixture, outside the set-up and the timed
    // region: a few gates in a fresh JVM would otherwise time the JIT
    // compiler more than the engine, unlike a full sweep where most gates
    // run warm. FrameMemo keys carry the fixture, so the timed sweep still
    // pays every memo build.
    gates.foreach(exec(spark, _, warmDir))
    sweepBlocks(spark)

    val tr = new Tracer
    if (traced) tr.attach(spark)
    val owned0 = FrameMemo.ownedRddIds(spark).size
    captured.reset()
    val arr = result.putArray("gates")
    gates.foreach { g =>
      val rec = arr.addObject()
      rec.put("gate", g); rec.put("module", moduleOf(g))
      val t0 = System.nanoTime()
      try {
        if (traced) tr.span(g, "gate")(exec(spark, g, dir)) else exec(spark, g, dir)
        rec.put("secs", (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          rec.put("secs", (System.nanoTime() - t0) / 1e9)
          rec.put("err", String.valueOf(e).take(500))
      }
      sweepBlocks(spark)
    }
    val memo = memoLine.findAllMatchIn(captured.toString("UTF-8")).map(_.group(2).toDouble).toSeq

    if (traced) {
      tr.detach(spark)
      val L = new Layers(tr, cpus, "gate")
      val layers = result.putObject("layers")
      layers.put("FrameMemo.builds", memo.size.toDouble)
      layers.put("FrameMemo.owned_rdds", (FrameMemo.ownedRddIds(spark).size - owned0).toDouble)
      layers.put("FrameMemo.build_s", memo.sum)
      modules.foreach { case (m, _) =>
        layers.put(s"$m.gate_s",
          arr.elements().asScala.filter(_.get("module").asText == m).map(_.get("secs").asDouble).sum)
      }
      L.sparkLayers(layers)
      layers.put("tracing.overhead_ms", overheadMs(spark, tr, warmDir))
      result.put("blocking_path_error", L.blockingPathError)
      result.set[JsonNode]("breakdown", L.table(moduleOf))
    }
    // outside the timed region: dump each gate's output for the oracle
    val dump = cfg.get("dump").asText
    gates.foreach { g =>
      try queries(g)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$g")
      catch { case e: Throwable => realErr.println(s"[perfbench] dump $g failed: $e") }
      sweepBlocks(spark)
    }
    // oracle SQL is read after the gates ran: some of it names files the
    // gates staged
    val oracle = mapper.createObjectNode()
    val all = SparkEntry.oracleSql
    gates.foreach(g => all.get(g).foreach(oracle.put(g, _)))
    mapper.writeValue(new java.io.File(dump, "oracle_sql.json"), oracle)
    System.setErr(realErr)
    result
  }

  /** The listeners' own cost: the warm-up gate timed with the listeners
    * attached minus the same gate without them, medians of alternating
    * runs.
    */
  private def overheadMs(spark: SparkSession, tr: Tracer, warmDir: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries("a22_combined_search")(spark, warmDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e6
    }
    val pairs = (0 until 5).map { _ =>
      val off = once()
      tr.attach(spark)
      val on = once()
      tr.detach(spark)
      (on, off)
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    med(pairs.map(_._1)) - med(pairs.map(_._2))
  }
}
