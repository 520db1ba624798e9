package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs: the session Bench builds,
  * on 4 cores because the specs were written against 4 partitions. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(cores = 4, logLevel = "ERROR")
  val sfDir = "/root/testdata/sf0.001"
}
