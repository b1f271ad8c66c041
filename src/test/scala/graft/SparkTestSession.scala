package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (mirrors the reference suites'
  * single-SparkContext style [ref: wikipedia/…/WikipediaSuite.scala]).
  * It is the same [[GraftSession.local]] session Verify/Bench run on, so
  * plan assertions see the plans those mains produce; 4 cores keep the
  * suites' partition-dependent expectations fixed on any machine.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Smallest driver-generated scale factor — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"
}
