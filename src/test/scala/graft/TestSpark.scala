package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (suites reuse
  * it; building one per suite costs ~10s each).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build()

  /** Spark job ids started by `f`. The status tracker is fed
    * asynchronously, so a marker job runs after `f` in a group of its
    * own; once the marker is visible, every earlier job is too.
    */
  def jobsOf(label: String)(f: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-$label-${System.nanoTime()}"
    sc.setJobGroup(group, label)
    try f finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status tracker")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }
}
