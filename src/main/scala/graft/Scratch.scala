package graft

// Throwaway profiling harness for the optimization round (not a gate):
// runs named SparkEntry queries with a listener recording structural
// metrics (jobs/stages/tasks/shuffle bytes) that host CPU steal cannot
// pollute. Usage: runMain graft.Scratch <name>[,<name>...] [reps]
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(',').toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.build()
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          val w = s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(w)
          if (w > 2 * 1024 * 1024 && sys.env.contains("SCRATCH_STAGES"))
            println(f"[scratch-stage] id=${s.stageInfo.stageId} shufW=${w / 1024}%dKB " +
              s"rows=${s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten} " +
              s"name=${s.stageInfo.name.take(80)}")
        }
      })
    for (rep <- 1 to reps; name <- names) {
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[scratch] UNKNOWN: $name")
        case Some(fn) =>
          val t0 = System.nanoTime()
          val j0 = jobs.get; val s0 = stages.get; val k0 = tasks.get
          val r0 = shufRead.get; val w0 = shufWrite.get
          val n = fn(spark, sfDir).count()
          Thread.sleep(400) // listener events are async
          println(f"[scratch] rep$rep $name: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
            f"rows=$n jobs=${jobs.get - j0} stages=${stages.get - s0} " +
            f"tasks=${tasks.get - k0} " +
            f"shufR=${(shufRead.get - r0) / 1024}%dKB shufW=${(shufWrite.get - w0) / 1024}%dKB")
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
