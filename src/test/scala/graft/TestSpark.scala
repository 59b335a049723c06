package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (suites reuse
  * it; building one per suite costs ~10s each).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build()
    s.sparkContext.addSparkListener(Groups)
    s
  }

  /** The Spark jobs one block started, and the metrics of every task
    * they ran (failed tasks that reported none are left out).
    */
  final case class Run(jobs: Seq[Int], tasks: Seq[TaskMetrics]) {
    /** Largest per-task value of `m` (0 when no task ran). */
    def maxTask(m: TaskMetrics => Long): Long = tasks.map(m).maxOption.getOrElse(0L)
    def total(m: TaskMetrics => Long): Long = tasks.map(m).sum
  }

  /** What one watched job group started; `done` opens at its first job end. */
  private final class Watch {
    val jobs = new ConcurrentLinkedQueue[Int]
    val stages = new ConcurrentLinkedQueue[Int]
    val tasks = new ConcurrentLinkedQueue[TaskMetrics]
    val done = new CountDownLatch(1)
  }

  /** Collects jobs and task metrics per watched job group. A task event
    * names its stage, not its group, so each job maps its stages to its
    * group when it starts.
    */
  private object Groups extends SparkListener {
    val watched = new ConcurrentHashMap[String, Watch]
    val byStage = new ConcurrentHashMap[Int, Watch]
    private val byJob = new ConcurrentHashMap[Int, Watch]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(watched.get(g))).foreach { w =>
          w.jobs.add(e.jobId)
          byJob.put(e.jobId, w)
          e.stageIds.foreach { s => w.stages.add(s); byStage.put(s, w) }
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { w =>
        if (e.taskMetrics != null) w.tasks.add(e.taskMetrics) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.remove(e.jobId)).foreach(_.done.countDown())
  }

  /** Runs `f` in a job group of its own and returns what its jobs did.
    * A marker job then runs in a second group; one listener receives
    * events in order, so once it has seen the marker's end it has seen
    * every event of `f`'s jobs.
    */
  def run(label: String)(f: => Any): Run = {
    val sc = spark.sparkContext
    val group = s"jobs-of-$label-${System.nanoTime()}"
    val (w, marker) = (new Watch, new Watch)
    Groups.watched.put(group, w)
    Groups.watched.put(s"$group-marker", marker)
    try {
      sc.setJobGroup(group, label)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.done.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      Run(w.jobs.asScala.toSeq.sorted, w.tasks.asScala.toSeq)
    } finally {
      Seq(w, marker).foreach(_.stages.forEach(s => Groups.byStage.remove(s)))
      Groups.watched.remove(group)
      Groups.watched.remove(s"$group-marker")
    }
  }

  /** Spark job ids started by `f`. */
  def jobsOf(label: String)(f: => Any): Seq[Int] = run(label)(f).jobs
}
