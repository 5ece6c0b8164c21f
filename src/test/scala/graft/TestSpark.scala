package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs: graft's [[Session]] at a fixed
  * four cores, so test plans do not depend on the host's core count.
  */
object TestSpark {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session.local(4)
}
