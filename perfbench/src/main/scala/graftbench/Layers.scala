package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode

/** Turns a traced run's spans and listener events into the per-layer
  * metrics and a per-route (or per-module) table of call counts and self
  * times.
  *
  * `root` names the span that stands for one user-visible operation
  * (`StacHttp.http` for a request, `gate` for a gate): Spark and Catalyst
  * figures are per-operation means over the events that fall inside those
  * spans, so they describe the served path and not the benchmark's own
  * decomposition calls.
  */
final class Layers(tr: Tracer, cpus: Int, root: String) {
  private val bench = tr.spans
  private val slack = 1000L // listener clocks have millisecond resolution

  private def owner(t: Long): Option[Span] =
    bench.filter(s => s.start - slack <= t && t <= s.end + slack)
      .minByOption(_.dur)

  /** Catalyst phases and Spark jobs as child spans of the bench span that
    * was open when they started, clipped to it (listener times are in
    * whole milliseconds).
    */
  val derived: Seq[Span] = {
    var id = bench.map(_.id).maxOption.getOrElse(0L)
    def mk(name: String, a: Long, b: Long): Option[Span] = owner(a).map { p =>
      id += 1
      val start = math.min(math.max(a, p.start), p.end)
      Span(id, p.id, p.op, name, start, math.max(start, math.min(b, p.end)))
    }
    tr.queries.toSeq.flatMap(_.phases.flatMap { case (k, a, b) =>
      mk(s"catalyst.$k", a, b)
    }) ++ tr.jobs.toSeq.flatMap(j => mk("spark.job", j.start, j.end))
  }

  val all: Seq[Span] = bench ++ derived
  val self: Map[Long, Long] = Tracer.selfTimes(all)
  private val rootSpans = bench.filter(_.name == root)

  private def inRoots[T](at: T => Long)(xs: Seq[T]): Seq[T] =
    xs.filter(x => rootSpans.exists(r => r.start - slack <= at(x) && at(x) <= r.end + slack))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def durs(name: String): Seq[Double] = bench.filter(_.name == name).map(_.dur / 1000.0)
  def medianMs(name: String): Double = median(durs(name))

  private def perOp(total: Double): Double =
    if (rootSpans.isEmpty) 0.0 else total / rootSpans.size

  /** Catalyst, job, task and scan figures per served operation. */
  def sparkLayers(o: ObjectNode): Unit = {
    Seq("analysis", "optimization", "planning").foreach { ph =>
      val t = derived.filter(d => d.name == s"catalyst.$ph" &&
        rootSpans.exists(r => r.start - slack <= d.start && d.start <= r.end + slack))
      o.put(s"catalyst.${ph}_ms", perOp(t.map(_.dur).sum / 1000.0))
    }
    val jobs = inRoots[JobEvent](_.start)(tr.jobs.toSeq)
    val tasks = inRoots[TaskEvent](_.end)(tr.tasks.toSeq)
    val qs = inRoots[QueryEvent](_.at)(tr.queries.toSeq)
    o.put("spark.jobs", perOp(jobs.size))
    o.put("spark.stages", perOp(jobs.map(_.stages).sum))
    o.put("spark.tasks", perOp(tasks.size))
    val wall = rootSpans.map(_.dur).sum / 1000.0
    o.put("spark.busy_share",
      if (wall <= 0) 0.0 else tasks.map(_.runMs).sum / (wall * cpus))
    o.put("spark.shuffle_write_bytes", perOp(tasks.map(_.shuffleWrite).sum))
    o.put("spark.shuffle_read_bytes", perOp(tasks.map(_.shuffleRead).sum))
    o.put("spark.spill_bytes", perOp(tasks.map(_.spill).sum))
    o.put("spark.input_rows", perOp(tasks.map(_.inputRows).sum))
    o.put("scan.files_read", perOp(qs.map(_.scanFiles).sum))
  }

  /** Scan output rows of the queries inside the given root spans. */
  def scanRowsIn(roots: Seq[Span]): Long =
    tr.queries.filter(q => roots.exists(r => r.start - slack <= q.at && q.at <= r.end + slack))
      .map(_.scanRows).sum

  /** For every operation root: its duration and the sum of the self times
    * of all spans under it. Equal when the spans tile the operation.
    */
  def blockingPathError: Double = {
    val byParent = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)
    val tops = bench.filter(_.parent == 0L)
    val errs = tops.map { t =>
      val sum = subtree(t).map(s => self(s.id)).sum
      if (t.dur == 0) 0.0 else math.abs(sum - t.dur).toDouble / t.dur
    }
    errs.maxOption.getOrElse(0.0)
  }

  /** Calls and self time per (group, span name); `group` maps an op id to
    * its route or module.
    */
  def table(group: String => String): ObjectNode = {
    val t = Main.mapper.createObjectNode()
    all.groupBy(s => (group(s.op), s.name)).toSeq.sortBy(_._1).foreach {
      case ((g, n), ss) =>
        val row = t.putObject(s"$g/$n")
        row.put("calls", ss.size)
        row.put("self_ms", ss.map(s => self(s.id)).sum / 1000.0)
    }
    t
  }
}
