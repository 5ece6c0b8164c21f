package graft

import org.apache.spark.sql.functions._

/** FILE-COUNT axis probe for the geocatalog metadata plane (r10 verdict
  * item: the sf1 sweep scaled ROWS 10×; a 100 TB catalog's scale axis is
  * files — 10⁵–10⁶ of them). Generates catalogs of ~1k/4k/10k tiny files
  * (id-hash shards of the sf0.1 items corpus) and measures, per file
  * count:
  *   - cold footer read (listing + one parallel footer open per file —
  *     paid once per directory generation)
  *   - warm memo hit (re-listing + signature compare — paid per query)
  *   - DSv2 plan time (filter pushdown + footer prune + explain render)
  *   - prune selectivity and end-to-end pruned count
  * Linear growth in the cold pass is expected (the metadata plane IS
  * O(files)); the warm/plan paths are the per-query tax and must stay
  * cheap. Results recorded in docs/PERF.md. Usage:
  * `runMain graft.ProbeCatalogFiles [sfDir] [reps]`.
  */
object ProbeCatalogFiles {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.local()

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def best[T](body: => T): (Double, T) = {
      val runs = (1 to reps).map(_ => timed(body))
      (runs.map(_._1).min, runs.head._2)
    }

    for (shards <- Seq(250, 1000, 2500)) {
      // z-bucket sharding (the A85 layout): footer bboxes stay TIGHT, so
      // the bbox prune has real selectivity at every file count
      val zCol = (graft.search.StacSearch.zCellColumn.cast("long")
        * lit(shards) / lit(4096)).cast("long")
      val (genT, cat) = timed {
        core.GeoParquet.export(spark, sfDir, shards, Some(zCol), tag = "zf")
      }
      // a fresh JVM starts cold; within one JVM the first call after
      // generation is the cold one
      val (coldT, info) = timed { core.GeoParquet.footerInfo(cat) }
      val files = info.size
      val (warmT, _) = best { core.GeoParquet.footerInfo(cat) }
      def q = spark.read.format("graft.sources.GeoCatalogSource").load(cat)
        .where(col("bbox.xmin") <= -20.005 && col("bbox.xmax") >= -130.005 &&
          col("bbox.ymin") <= 10.005 && col("bbox.ymax") >= -60.005)
      val (planT, explain) = best {
        q.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      }
      val kept = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(explain)
        .map(m => s"${m.group(1)}/${m.group(2)}").getOrElse("?")
      val (cntT, n) = best { q.count() }
      println(f"[files] n=$files%6d gen=$genT%7.2f s cold=$coldT%6.3f s " +
        f"warm=$warmT%6.4f s plan=$planT%6.3f s prune=$kept%12s " +
        f"count=$cntT%6.3f s rows=$n")
    }
    // the id-hash 2500-shard catalog (near-global footers, almost no
    // prune) isolates the packing effect: ~12.5k files all survive the
    // bbox prune, so count time IS the per-task economics
    val idCat = core.GeoParquet.export(spark, sfDir, 2500, tag = "f")
    val files = core.GeoParquet.footerInfo(idCat).size
    def qAll = spark.read.format("graft.sources.GeoCatalogSource").load(idCat)
      .where(col("bbox.xmin") <= -20.005 && col("bbox.xmax") >= -130.005 &&
        col("bbox.ymin") <= 10.005 && col("bbox.ymax") >= -60.005)
    val (cntT, n) = best { qAll.count() }
    println(f"[files] id-hash n=$files%6d (no prune) packed count=$cntT%6.3f s rows=$n")
    println(s"[files] id-hash partitions: ${qAll.rdd.getNumPartitions}")
    val one = core.GeoParquet.footerInfo(idCat).keys.head
    val (oneT, _) = best {
      val r = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(s"$idCat/$one.parquet"))
        .withConf(new org.apache.hadoop.conf.Configuration()).build()
      var g = r.read(); var c = 0
      while (g != null) { c += 1; g = r.read() }
      r.close()
    }
    println(f"[files] single tiny-file open+drain: ${oneT * 1000}%.2f ms")
    spark.stop()
  }
}
