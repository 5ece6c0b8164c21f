package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the request or gate the span belongs to and
  * `parent` the enclosing span (0 for an op's root). Times are epoch
  * microseconds so they line up with Spark's epoch-millisecond events.
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spark-side facts observed by the listeners, stamped with epoch
  * microseconds and attached to spans afterwards by time.
  */
final case class JobEvent(start: Long, end: Long, stages: Int)
final case class TaskEvent(end: Long, runMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, inputRows: Long)
final case class QueryEvent(at: Long, phases: Seq[(String, Long, Long)],
                            scanRows: Long, scanFiles: Long)

/** Span recorder for the traced run. The benchmark opens spans around its
  * own calls into the engine; a [[SparkListener]] and a
  * [[QueryExecutionListener]] on the session add jobs, tasks and Catalyst
  * phases. Everything stays in memory until [[spans]] is read at the end.
  * The traced run issues one request or gate at a time, so attributing a
  * listener event to the innermost open span by time is unambiguous.
  */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000L
  def now(): Long = micros0 + (System.nanoTime() - nano0) / 1000L

  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil

  val jobs = ArrayBuffer.empty[JobEvent]
  val tasks = ArrayBuffer.empty[TaskEvent]
  val queries = ArrayBuffer.empty[QueryEvent]

  /** Time `body` as span `name` of `op`, nested under the open span. */
  def span[T](op: String, name: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack = stack.tail
      synchronized(buf += Span(id, parent, op, name, t0, t1))
    }
  }

  /** A span whose times were taken elsewhere, under the open span. */
  def record(op: String, name: String, start: Long, end: Long): Unit =
    synchronized {
      buf += Span(nextId, stack.headOption.getOrElse(0L), op, name, start, end)
      nextId += 1
    }

  def spans: Seq[Span] = synchronized(buf.toList)

  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, (Long, Int)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time * 1000L, e.stageInfos.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, n) =>
        Tracer.this.synchronized(jobs += JobEvent(t0, e.time * 1000L, n))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized(tasks += TaskEvent(
        e.taskInfo.finishTime * 1000L, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (k, p) =>
      (k, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    val (rows, files) = Tracer.scanMetrics(qe.executedPlan)
    synchronized(queries += QueryEvent(now(), phases, rows, files))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  /** Rows and files produced by the file scans of an executed plan,
    * subqueries included.
    */
  def scanMetrics(plan: SparkPlan): (Long, Long) = {
    var rows = 0L
    var files = 0L
    def visit(p: SparkPlan): Unit = {
      if (p.nodeName.contains("Scan") && !p.isInstanceOf[LocalTableScanExec]) {
        p.metrics.get("numOutputRows").foreach(m => rows += m.value)
        p.metrics.get("numFiles").foreach(m => files += m.value)
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    (rows, files)
  }

  /** Rows of in-memory relations in a plan: the transaction overlay's
    * revisions are the only local relations in an items view.
    */
  def localRows(plan: SparkPlan): Long = {
    var n = 0L
    plan.foreach {
      case l: LocalTableScanExec => n += l.rows.size
      case _ => ()
    }
    n
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> (s.dur - covered)
    }.toMap
  }
}
