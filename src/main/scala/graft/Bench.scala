package graft
import org.apache.logging.log4j.core.config.Configurator

/** Benchmark main: one JSON line on stdout
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Every query materializes fully through the `noop` sink — `count()`
  * would let Spark skip projections/sorts and flatter the numbers. A
  * warmup run (the flagship on sf0.001) absorbs JVM/codegen startup so
  * per-query times measure the engine, not class loading.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    def exec(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()

    graft.core.FixtureGuard.report(spark, sfDir, "bench")
    // Warmup (flagship on sf0.001) absorbs JVM/codegen startup. A broken
    // warmup must be LOUD: when it throws, the first measured queries run
    // cold and every number in the round is suspect (round-7 postmortem).
    try exec("a22_combined_search", "/root/testdata/sf0.001")
    catch { case e: Throwable =>
      System.err.println("[bench] WARMUP FAILED (a22_combined_search on " +
        s"sf0.001): ${e.getMessage} — measured times below include cold-JVM cost")
    }

    // best-of-N: steady-state per-query time (N=2 default; run-to-run
    // noise on a shared box otherwise dominates sub-second queries).
    // A run that throws does NOT contribute its fast fail-time: the query
    // is reported as -1 in a separate `failures` list and excluded from
    // the total, so crashes can't flatter the numbers.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // SPARK_GRAFT_BENCH_ONLY=a43_item_ingest,b2_agg → time a subset
    // (local iteration aid; the driver runs the full set).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { exec(name, sfDir); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      // NOTE (r12-opt, measured): a per-gate System.gc() here fixes the
      // occasional block-store tail inflation of individual gates
      // (c89 2.6 → 1.2 s) but costs ~0.2 s on EVERY gate (full sweep
      // 124 → 163 s): the async unpersist storm and post-GC warmup tax
      // the next gate's timed run. The 1-min periodic GC above is the
      // better trade for GC; the r13 fix is the targeted sweep below.
      //
      // r13: per-gate localCheckpoint blocks are garbage the moment the
      // gate's runs finish (the next run re-derives them), but they stay
      // in the block store until a driver GC lets ContextCleaner collect
      // them — storage from early gates was taxing late gates 4-14×
      // mid-sweep (driver r12: c5 9.2 s vs 0.24 s quiet). Unpersist them
      // EXPLICITLY between gates, OUTSIDE the timed region. FrameMemo
      // frames are shared across gates (their checkpoints must survive —
      // unpersisting a localCheckpoint'd RDD makes it unrecoverable), so
      // the memo's own blocks are the keep set.
      // (the expected per-RDD "locally checkpointed ... cannot be
      // recomputed" WARN is silenced for the sweep only — these RDDs are
      // garbage by construction, and 900+ identical lines would bury real
      // warnings; the level is restored so the rest of the JVM keeps them)
      val keep = graft.core.FrameMemo.ownedRddIds(spark)
      val rddLog = "org.apache.spark.rdd.MapPartitionsRDD"
      val prevLevel = org.apache.logging.log4j.LogManager.getLogger(rddLog).getLevel
      Configurator.setLevel(rddLog, org.apache.logging.log4j.Level.ERROR)
      try spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = true)
      } finally Configurator.setLevel(rddLog, prevLevel)
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failures":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Durable copy first: the driver's stdout parse failed two rounds
    // running (sbt epilogue after the JSON line), so when
    // SPARK_GRAFT_BENCH_OUT is set the line is ALSO written there as a
    // file the driver can read unambiguously.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    // stop() BEFORE the println so Spark's shutdown logging cannot land
    // after (or inside) the one machine-readable stdout line.
    spark.stop()
    println(line)
  }
}
