package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --root DIR`. Prints `# `-prefixed detail lines, then one JSON result
  * line last. Ends the JVM explicitly once the result is written: the
  * HTTP facade leaves a non-daemon thread pool behind after `stop()`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path) {
    /** Spark local cores: fixed per workload, so runs compare across
      * hosts. The pipeline runs on two: on a 4-core host it ran faster
      * there than on four, where tasks compete with the JIT, GC and
      * scheduler threads, and its times moved less with the host's load.
      */
    val cpus: Int = if (workload == "pipeline_batch") 2 else 4
  }
  /** Wall-clock limit of a run; the launcher kills the process at 170 s. */
  val LimitSeconds = 165

  final case class Outcome(
      correct: Boolean,
      rec: Recorder,
      metrics: Seq[(String, Metric)],
      detail: Seq[(String, String)])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath)
  }

  def info(s: String): Unit = {
    val up = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"# [$up%.1f] $s"); System.out.flush()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // wall-clock guard: a hung workload must not outlive its budget
    val watchdog = new Thread(() => {
      try {
        Thread.sleep(LimitSeconds * 1000L)
        System.err.println(s"perfbench: ${args.workload} exceeded ${LimitSeconds}s; halting")
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => () }
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val code =
      try {
        val out = args.workload match {
          case "analyst_sql" => Harness.run(args)
          case "pipeline_batch" => PipelineRun.run(args)
          case w => throw new IllegalArgumentException(s"unknown workload: $w")
        }
        val rec = out.rec
        info(s"attempted=${rec.attempted.get} failed=${rec.failed} " +
          rec.failCounts.map { case (k, v) => s"$k=$v" }.mkString(" "))
        rec.notes.foreach(n => info(s"failure: $n"))
        out.detail.foreach { case (k, v) => info(s"$k: $v") }
        println(Json.write(Json.obj(
          "correct" -> out.correct,
          "attempted" -> rec.attempted.get,
          "failed" -> rec.failed,
          "metrics" -> Json.metrics(out.metrics))))
        System.out.flush()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.out.flush(); System.err.flush()
    System.exit(code)
  }

  /** Writes a run artifact under `<root>/perfbench/out/`. */
  def writeOut(args: Args, suffix: String, content: String): Path = {
    val dir = args.root.resolve("perfbench").resolve("out")
    Files.createDirectories(dir)
    val p = dir.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}$suffix")
    Files.write(p, content.getBytes(UTF_8))
    p
  }
}
