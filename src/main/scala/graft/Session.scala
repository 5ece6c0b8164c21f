package graft

import org.apache.spark.sql.SparkSession

/** The one session graft runs under — Bench, Verify, the tool mains and
  * the test suite all build it here, so the plans checked for
  * correctness are the plans that get timed.
  *
  * `local[cpus]`, shuffle partitions = `SPARK_GRAFT_SHUFFLE` or cpus,
  * AQE = `SPARK_GRAFT_AQE` or false, UTC, UI off, one driver GC a
  * minute, log level WARN.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the cores this JVM can see. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) =>
      val n = v.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
    case None => Runtime.getRuntime.availableProcessors
  }

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))
      // AQE off for LOCAL runs: adaptive re-planning adds ~100-300ms
      // of stage-boundary latency per query, which dominates sub-second
      // queries at sf0.1 (measured: 56.3s → 46.4s total). On a real
      // cluster at real scale AQE pays for itself (skew joins, partition
      // coalescing) and should be ON — this is a harness setting, not an
      // engine design choice.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Several operators localCheckpoint multiply-consumed frames; the
      // blocks are freed by ContextCleaner only after a driver GC makes
      // the RDDs unreachable, and the default periodic-GC interval
      // (30 min) outlives the whole bench — storage from the first 150
      // queries was taxing the last 50 (measured: c89 10.2s in the full
      // sweep vs 2.3s focused). One GC a minute keeps the block store
      // bounded, exactly what a long-lived cluster driver does.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
