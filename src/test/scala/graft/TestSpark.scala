package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (suites reuse
  * it; building one per suite costs ~10s each).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build()
}
