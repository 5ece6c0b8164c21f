package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB breakdown of one gate execution: registers a listener, runs the
  * gate (warm, noop-sink like the bench), prints every Spark job's wall
  * time, stage count and description — the local[_] stand-in for the
  * Stages tab of the UI (disabled in the bench harness). Usage:
  * `runMain graft.ProbeJobs <sfDir> <gate> [reps]`
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gateNames = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val sites = js.stageInfos.map(si =>
            si.name.takeWhile(_ != ':') + "×" + si.numTasks).distinct
          .mkString("[", " ", "]")
        jobs.put(js.jobId, (js.time, js.stageInfos.size, sites))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, nst, desc) =>
          done.add((je.jobId, (je.time - t0) / 1e3, nst, desc))
        }
      }
    })

    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    gateNames.foreach { name =>
      exec(name) // warm run (staging, codegen)
      (1 to reps).foreach { r =>
        // listener events are delivered async on the bus: settle before
        // clearing (late events of the previous rep) and before reading
        // (tail jobs of this rep), or the breakdown under-reports
        Thread.sleep(300); done.clear()
        val t0 = System.nanoTime()
        exec(name)
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"== $name run $r: $total%.2f s total")
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq.sortBy(_._1).foreach { case (id, sec, nst, desc) =>
          println(f"  job $id%4d  $sec%6.2f s  stages=$nst%-3d $desc")
        }
      }
    }
    spark.stop()
  }
}
