package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is shared by every span of one
  * workload operation; `parent` is 0 for an operation's root span.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (or summed over several). */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var executorMs = 0L; var gcMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var widestStageTasks = 0L
  var taskMaxOverMedian = 0.0
  var catalystMs = 0.0
  val executions = mutable.Set.empty[Long]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorMs += o.executorMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    widestStageTasks = math.max(widestStageTasks, o.widestStageTasks)
    taskMaxOverMedian = math.max(taskMaxOverMedian, o.taskMaxOverMedian)
    catalystMs += o.catalystMs
    executions ++= o.executions
  }
}

/** Span recorder plus the Spark listeners that attribute jobs, stages,
  * tasks and Catalyst phase times to spans.
  *
  * A span tags the Spark jobs its thread starts through the local
  * property `perfbench.span`; the listener reads the tag back at job
  * start. Spans live in memory until `spans` is read at the end of the
  * run. A disabled tracer records nothing and costs one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)

  private var spark: SparkSession = _
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val catalyst = new ConcurrentHashMap[Long, java.lang.Double]()

  private def workOf(span: Long): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, span)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val w = workOf(span)
      w.synchronized {
        w.jobs += 1
        Option(jobExec.get(e.jobId)).foreach(x => w.executions += x)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val w = workOf(span)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.executorMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized {
          stageTaskMs.get(e.stageId) += e.taskInfo.duration
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val span = Option(stageSpan.get(id)).map(_.longValue).getOrElse(0L)
      val durs = Option(stageTaskMs.remove(id)).map(b => b.synchronized(b.sorted.toSeq))
        .getOrElse(Seq.empty)
      val w = workOf(span)
      w.synchronized {
        w.stages += 1
        w.widestStageTasks = math.max(w.widestStageTasks, e.stageInfo.numTasks.toLong)
        if (durs.size >= 2) {
          val med = math.max(1L, durs(durs.size / 2))
          w.taskMaxOverMedian = math.max(w.taskMaxOverMedian, durs.last.toDouble / med)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      catalyst.put(qe.id, phases.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Installs the listeners on `s` (no-op when disabled). */
  def install(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = if (enabled && spark != null) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `f` as a new operation's root span. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f else {
      val opId = nextId.getAndIncrement()
      run(name, 0L, opId)(f)
    }

  /** Runs `f` as a child of the calling thread's current span; outside
    * any op it records nothing.
    */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f else current.get() match {
      case null => f
      case (parent, opId) => run(name, parent, opId)(f)
    }

  /** True inside a traced op on this thread. */
  def active: Boolean = enabled && current.get() != null

  private def run[T](name: String, parent: Long, opId: Long)(f: => T): T = {
    val id = nextId.getAndIncrement()
    val sc = if (spark != null) spark.sparkContext else null
    val saved = current.get()
    current.set((id, opId))
    if (sc != null) sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      done.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      current.set(saved)
      if (sc != null)
        sc.setLocalProperty(SpanKey, if (saved == null) null else saved._1.toString)
    }
  }

  /** Every finished span, in completion order. */
  def spans: Seq[Span] = done.asScala.toSeq

  /** Spark work started directly under `span` (not its children). */
  def selfWork(span: Long): SparkWork = {
    val w = Option(work.get(span)).getOrElse(new SparkWork)
    val out = new SparkWork
    w.synchronized(out.add(w))
    out.catalystMs = out.executions.toSeq.map(x => Option(catalyst.get(x)).map(_.doubleValue).getOrElse(0.0)).sum
    out
  }

  /** Spark work under `root` and all its descendants. */
  def inclusiveWork(root: Long, children: Map[Long, Seq[Span]]): SparkWork = {
    val out = new SparkWork
    def walk(id: Long): Unit = {
      out.add(selfWork(id))
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(root)
    // an execution's phases count once even when its jobs span children
    out.catalystMs = out.executions.toSeq.map(x => Option(catalyst.get(x)).map(_.doubleValue).getOrElse(0.0)).sum
    out
  }

  /** Spark work no span claimed: server threads and untraced calls. */
  def untaggedWork: SparkWork = selfWork(0L)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time: the span's duration minus the union of its children's
    * intervals (children of concurrent callers may overlap).
    */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }
}
