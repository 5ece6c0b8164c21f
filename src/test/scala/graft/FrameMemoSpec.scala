package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.FrameMemo

/** FrameMemo's keep-set is exactly the checkpoints its frames read, so a
  * between-gate block-store sweep frees the transient checkpoints a build
  * made and still leaves every memo frame readable.
  */
class FrameMemoSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  test("the keep-set owns the memo frame's checkpoint, not a build's " +
      "transient one; sweeping the rest leaves the memo frame readable") {
    val before = s.sparkContext.getPersistentRDDs.keySet
    var transient = Seq.empty[Int]
    val memo = FrameMemo.cached(s, "framememospec:" + java.util.UUID.randomUUID) {
      val stage = s.range(0, 1000).withColumn("sq", col("id") * col("id"))
        .localCheckpoint(true)
      transient = checkpointIds(stage)
      stage.where(col("id") % 3 === 0)
    }
    val memoIds = checkpointIds(memo)
    val owned = FrameMemo.ownedRddIds(s)
    assert(transient.size == 1 && memoIds.size == 1)
    assert(memoIds.forall(owned), s"memo $memoIds not in $owned")
    assert(!transient.exists(owned), s"transient $transient kept in $owned")
    val want = memo.orderBy(col("id")).collect().toSeq
    // the sweep, limited to what this test created: other specs' frames
    // are not this test's to free
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id) && !owned(id)) rdd.unpersist(blocking = true)
    }
    assert(!s.sparkContext.getPersistentRDDs.contains(transient.head))
    assert(memo.orderBy(col("id")).collect().toSeq == want)
    assert(want.size == 334)
  }
}
