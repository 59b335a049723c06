package graft.perfbench

import java.net.http.HttpTimeoutException
import java.nio.file.{Files, Path}
import java.time.Duration

import scala.collection.mutable

import graft.engine.Catalog
import graft.server.HttpApi

/** Set-up and measurement for the catalog workload. */
object Harness {
  val RequestTimeout: Duration = Duration.ofSeconds(60)

  /** Routes each op to HTTP, or, in a traced run, round-robins it over
    * HTTP, direct calls and traced direct calls.
    */
  final class Ctx(val trace: Boolean, val apis: Map[String, Api], val rec: Recorder,
                  val tracer: Tracer, val fixedMode: Option[String] = None) {
    private val turns = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

    /** The mode of the next op of `kind`: each kind cycles through the modes. */
    def mode(kind: String): String = fixedMode.getOrElse(
      if (!trace) Modes.Http
      else Modes.all(turns.computeIfAbsent(kind, _ => new java.util.concurrent.atomic.AtomicInteger())
        .getAndIncrement() % Modes.all.size))

    /** Times one op; records its latency under `kind@mode`, or its failure class. */
    def timed(kind: String)(call: Api => Out)(check: Out => Option[(Fail.Value, String)]): Out = {
      val m = mode(kind)
      val api = apis(m)
      val t0 = System.nanoTime()
      val out =
        try {
          if (m == Modes.Traced) tracer.op(kind)(call(api)) else call(api)
        } catch {
          case e: HttpTimeoutException => Out.Status(-1, s"timeout: ${e.getMessage}")
          case e: java.io.IOException => Out.Status(599, s"io: ${e.getMessage}")
        }
      val ms = (System.nanoTime() - t0) / 1e6
      out match {
        case Out.Status(-1, msg) => rec.fail(kind, Fail.Timeout, msg)
        case _ => check(out) match {
          case None => rec.ok(s"$kind@$m", ms)
          case Some((c, msg)) => rec.fail(kind, c, msg)
        }
      }
      out
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** The `analyst_sql` workload: warm-up, set-ups, the closed loop and,
    * when traced, the write-churn probe.
    */
  def run(args: Main.Args): Main.Outcome = {
    val t0 = System.nanoTime()
    val spark = Session.build(args.cpus)
    val tracer = new Tracer(args.trace)
    tracer.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val outDir = args.root.resolve("perfbench").resolve("out")
    val servers = mutable.ArrayBuffer.empty[HttpApi]
    val whs = mutable.ArrayBuffer.empty[Path]
    def warehouse(tag: String): Catalog = {
      val wh = outDir.resolve(s"wh-${args.workload}-${ProcessHandle.current.pid}-$tag")
      deleteTree(wh)
      whs += wh
      new Catalog(spark, wh.toString)
    }
    def login(http: HttpRoutes): Unit = Analyst.analysts.foreach(u => http.login(u, s"$u-pass"))
    def startHttp(cat: Catalog): HttpRoutes = {
      val server = new HttpApi(cat)
      servers += server
      val http = new HttpRoutes(server.start(), RequestTimeout)
      http.login("root", "")
      http
    }
    def ctxFor(http: HttpRoutes, direct: DirectRoutes, rec: Recorder, t: Tracer,
               fixed: Option[String] = None): Ctx =
      new Ctx(args.trace, Map(Modes.Http -> http, Modes.Direct -> direct, Modes.Traced -> direct),
        rec, t, fixed)

    // Warm-up, untimed: a set-up at small sizes, then every read op kind
    // against it, in every mode the run times. It pays the JVM's
    // first-use costs (class loading, code generation), which would
    // otherwise land in the first timed set-up and the first reads.
    val w0 = System.nanoTime()
    val off = new Tracer(false)
    val warmCat = warehouse("warm")
    val warmHttp = startHttp(warmCat)
    val warmWorld = Analyst.populate(warmHttp, args.seed, new Inputs, Analyst.warmSizes)
    login(warmHttp)
    val modes = if (args.trace) Seq(Modes.Http, Modes.Direct) else Seq(Modes.Http)
    val warmRec = new Recorder
    modes.foreach { m =>
      val ctx = ctxFor(warmHttp, new DirectRoutes(spark, warmCat, off), warmRec, off, Some(m))
      for ((c, step) <- Analyst.clients(args.seed, warmWorld, ctx); i <- Analyst.warmupSteps(c)) step(i)
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    // Set-up runs three times on fresh warehouses and the median is
    // reported; the three must see byte-identical inputs. The traced run
    // sets up once, traced, going through the layers directly; its
    // server starts afterwards, so it loads the ACL state set-up wrote.
    val reps = if (args.trace) 1 else 3
    val setupS = mutable.ArrayBuffer.empty[Double]
    val hashes = mutable.ArrayBuffer.empty[String]
    var last: (World, Catalog, HttpRoutes, DirectRoutes) = null
    (1 to reps).foreach { i =>
      val s0 = System.nanoTime()
      val cat = warehouse(i.toString)
      val inputs = new Inputs
      val (world, http) =
        if (args.trace && i == reps) {
          val w = tracer.op("setup")(
            Analyst.populate(new DirectRoutes(spark, cat, tracer), args.seed, inputs, Analyst.sizes))
          (w, startHttp(cat))
        } else {
          val h = startHttp(cat)
          (Analyst.populate(h, args.seed, inputs, Analyst.sizes), h)
        }
      login(http)
      setupS += (System.nanoTime() - s0) / 1e9
      hashes += inputs.hash
      Main.info(f"setup $i: ${setupS.last}%.2f s, inputs ${inputs.bytes} bytes sha256 ${inputs.hash}")
      last = (world, cat, http, new DirectRoutes(spark, cat, tracer))
    }
    val (world, cat, http, direct) = last

    val rec = new Recorder
    val ctx = ctxFor(http, direct, rec, tracer)
    val m0 = System.nanoTime()
    ClosedLoop.run(Analyst.clients(args.seed, world, ctx), args.seconds)
    val elapsed = (System.nanoTime() - m0) / 1e9
    val entryCount = cat.entries.size
    val probed =
      if (!args.trace) Map.empty[String, Double]
      else {
        val reads = Churn.probe(ctx, args.seed, Analyst.ChurnSeconds)
        Map("race.reader_ops" -> reads.attempted.get.toDouble, "race.reader_failures" -> reads.failed.toDouble)
      }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    servers.foreach(_.stop())
    tracer.uninstall()

    // each set-up regenerates its inputs from the seed: they must be byte-identical
    val inputsOk = hashes.distinct.size == 1
    val detail = Seq(
      "session_start_s" -> f"$sessionS%.3f",
      "warmup_s" -> f"$warmupS%.3f",
      "warmup_failed" -> warmRec.failed.toString,
      "setup_s_each" -> setupS.map(x => f"$x%.3f").mkString(","),
      "inputs_sha256" -> hashes.head,
      "inputs_identical" -> inputsOk.toString,
      "measured_s" -> f"$elapsed%.3f",
      "catalog_entries" -> entryCount.toString) ++
      Seq("sql", "search", "fetch", "download", "ingest", "tag", "delete", "retype").flatMap { k =>
        Modes.all.map(m => s"$k@$m").filter(rec.count(_) > 0)
          .map(km => s"samples $km" -> f"n=${rec.count(km)} p50=${Stats.median(rec.times(km))}%.1f ms")
      }
    val (metrics, more) =
      if (!args.trace)
        (Metrics.endToEnd(Stats.median(setupS.toSeq), rec.opsPerSecond,
          Metrics.kinds(args.workload).map(k => rec.times(s"$k@${Modes.Http}"))),
         Metrics.details(rec))
      else Layers.catalogWorkload(args, tracer, rec, direct, entryCount, probed)
    whs.foreach(deleteTree)
    warmRec.notes.foreach(n => Main.info(s"warm-up failure: $n"))
    Main.Outcome(inputsOk && rec.failed == 0 && warmRec.failed == 0, rec, metrics, detail ++ more)
  }
}

/** The pipeline's input tables must hash to the value recorded in
  * `input_hashes.json`.
  */
object InputHashes {
  def check(args: Main.Args, workload: String, hash: String): Boolean = {
    val ok = Json.read(args.root.resolve("perfbench").resolve("input_hashes.json")).path(workload).asText == hash
    if (!ok) Main.info(s"inputs for $workload differ from input_hashes.json: $hash")
    ok
  }
}
