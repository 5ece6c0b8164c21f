package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Print `.explain("formatted")` for named gates, or dump each to a file
  * when an out-dir is given — the per-round plan evidence
  * (`plans/r13/<gate>_<tag>.txt`). Usage:
  * `runMain graft.PlanOne <sfDir> <gate[,gate...]> [<outDir> <tag>]`
  *
  * CAVEAT (r12 ADVICE): gates whose constructors eagerly localCheckpoint
  * shared frames EXECUTE those checkpoint-build subtrees during the dump,
  * and the emitted plan shows `Scan ExistingRDD` where the build subtree
  * ran — the dumped text covers only the post-checkpoint portion of the
  * gate. Staged-build plan shapes are audited separately (PlanAuditSpec
  * pins them on un-checkpointed kernels where it matters).
  */
object PlanOne {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val names = args(1).split(",").toSeq
    val out = if (args.length > 3) Some((args(2), args(3))) else None
    val s = Session.local()
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      val p = SparkEntry.queries(name)(s, d).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      out match {
        case Some((dir, tag)) =>
          val f = Paths.get(dir, s"${name}_$tag.txt")
          Files.writeString(f, p)
          println(s"WROTE $f (${p.length} chars)")
        case None =>
          println(s"==== $name ====")
          println(p)
      }
    }
    s.stop()
  }
}
