package graft

/** A/B the c38 lane-cell pair join against the lanes=1 (cent-only)
  * shape on a given fixture — the r13 scale-topology evidence. Usage:
  * `runMain graft.ProbeC38 <sfDir> [reps]`; prints per-lane-count wall
  * seconds (warm, noop sink) and the active reduce-key cardinality.
  */
object ProbeC38 {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.local()

    val policy = graft.ops.Similarity.c38Lanes(
      spark.sparkContext.defaultParallelism, 16)
    for (lanes <- Seq(1, policy)) {
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.ops.Similarity.c38SemanticDedupWith(spark, d, lanes)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm
      val times = (1 to reps).map(_ => run())
      println(f"[c38] lanes=$lanes%2d cells/cent=${lanes * (lanes + 1) / 2}%3d " +
        f"best=${times.min}%.2f s  times=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
