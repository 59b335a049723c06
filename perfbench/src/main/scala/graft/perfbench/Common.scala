package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Failure classes. A failed op is never retried. */
object Fail extends Enumeration {
  val ServerError = Value("5xx")
  val Unexpected4xx = Value("unexpected_4xx")
  val WrongAnswer = Value("wrong_answer")
  val Timeout = Value("timeout")
}

/** Thread-safe per-op-type samples and failure counts for one phase. */
final class Recorder {
  private val samples = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  private val fails = new ConcurrentHashMap[Fail.Value, AtomicLong]()
  private val failNotes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong()

  // per client thread: (ops completed, ms spent waiting on them)
  private val busy = new ConcurrentHashMap[String, (Long, Double)]()
  private def wait(ms: Double): Unit =
    busy.merge(Thread.currentThread.getName, (1L, ms), (a, b) => (a._1 + b._1, a._2 + b._2))

  def ok(kind: String, ms: Double): Unit = {
    attempted.incrementAndGet()
    wait(ms)
    samples.computeIfAbsent(kind, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(ms)
  }
  /** Closed-loop throughput: over client threads, ops completed
    * successfully per second spent waiting on them.
    */
  def opsPerSecond: Double = busy.values.asScala.map { case (n, ms) => n / (ms / 1e3) }.sum
  /** A failed op: counted as attempted, left out of latency and throughput. */
  def fail(kind: String, cls: Fail.Value, note: String): Unit = {
    attempted.incrementAndGet()
    fails.computeIfAbsent(cls, _ => new AtomicLong()).incrementAndGet()
    if (failNotes.size < 20) failNotes.add(s"$kind [$cls] ${note.take(300)}")
  }
  def times(kind: String): Seq[Double] =
    Option(samples.get(kind)).map(_.asScala.toSeq).getOrElse(Seq.empty)
  def count(kind: String): Int = times(kind).size
  def failed: Long = fails.values.asScala.map(_.get).sum
  def failCounts: Map[String, Long] =
    Fail.values.toSeq.map(c => c.toString -> Option(fails.get(c)).map(_.get).getOrElse(0L)).toMap
  def notes: Seq[String] = failNotes.asScala.toSeq
}

/** A metric as printed: value plus unit. */
final case class Metric(value: Double, unit: String)

/** JSON through the Jackson mapper on the program's classpath. */
object Json {
  val mapper = new ObjectMapper()

  /** An object with its fields in order; a NaN or infinite number is null. */
  def obj(kv: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kv.foreach {
      case (k, v: Double) if v.isNaN || v.isInfinite => o.putNull(k)
      case (k, v: Double) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, v: String) => o.put(k, v)
      case (k, v: JsonNode) => o.set[JsonNode](k, v)
      case (k, v) => throw new IllegalArgumentException(s"$k: no JSON form for $v")
    }
    o
  }
  def metrics(ms: Seq[(String, Metric)]): ObjectNode =
    obj(ms.map { case (k, m) => k -> obj("value" -> m.value, "unit" -> m.unit) }: _*)
  def read(p: Path): JsonNode = mapper.readTree(p.toFile)
  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}

object Session {
  /** The same session settings graft.Bench uses, at a fixed core count. */
  def build(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Frees persisted blocks a finished query left behind, as graft.Bench does. */
  def dropLeftoverBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

/** Closed-loop load: each client thread issues its next op only after
  * the previous one returns, until the deadline.
  */
object ClosedLoop {
  def run(clients: Seq[(String, Int => Unit)], seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = clients.map { case (name, step) =>
      val t = new Thread(() => {
        var i = 0
        try while (System.nanoTime() < deadline) { step(i); i += 1 }
        catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-$name")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}

/** How a traced run sends an op: over HTTP, as direct calls into the
  * layers, or as direct calls with spans.
  */
object Modes {
  val Http = "http"; val Direct = "direct"; val Traced = "traced"
  def all: Seq[String] = Seq(Http, Direct, Traced)
}

object Util {
  def sha256Hex(bytes: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }
}
