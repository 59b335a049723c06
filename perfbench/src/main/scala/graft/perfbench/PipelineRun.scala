package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

/** `pipeline_batch`: one client runs the fixed query list in a closed
  * loop. A cold pass pays the JIT and codegen costs; set-up then loads
  * the input tables, and two more passes follow. All three passes are
  * checked but not timed.
  */
object PipelineRun {
  /** Untimed passes after the cold one. */
  val WarmPasses = 2
  /** Timed passes a run makes at least, whatever `--seconds` says. */
  val MinPasses = 4

  def dataDir(args: Main.Args): java.nio.file.Path =
    args.root.resolve("perfbench").resolve("data").resolve("sf0.01")

  /** SHA-256 over the input tables, in name order. */
  def inputHash(args: Main.Args): String = {
    val files = graft.Tables.all.map(t => dataDir(args).resolve(s"$t.parquet"))
    Util.sha256Hex(files.iterator.flatMap(f => Iterator(f.getFileName.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), Files.readAllBytes(f))))
  }

  def run(args: Main.Args): Main.Outcome = {
    val t0 = System.nanoTime()
    val spark = Session.build(args.cpus)
    val tracer = new Tracer(args.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val dir = dataDir(args).toString
    val expected = Pipeline.loadExpected(args.root.resolve("perfbench").resolve("expected_pipeline_sf0.01.json"))

    val hash = inputHash(args)
    val inputsOk = InputHashes.check(args, "pipeline_batch", hash)

    // warm-up: the cold pass pays JIT and codegen; the JIT is still
    // compiling through the next two passes (the first of them ran up to
    // 40 % slower than the third, and by more on a loaded host), so they
    // are untimed too. Set-up runs between them: after the cold pass, so
    // each repetition costs the same, and before the warm passes, which
    // absorb what it leaves behind.
    val w0 = System.nanoTime()
    val cold = Pipeline.pass(spark, dir, new Tracer(false))
    val coldS = (System.nanoTime() - w0) / 1e9

    // set-up: load every table into a fresh session scope (footer,
    // schema, one scan each); three times
    val setupS = (1 to 3).map { _ =>
      val s0 = System.nanoTime()
      val s = spark.newSession()
      graft.Tables.all.foreach(t => graft.Tables.load(s, dir, t).count())
      (System.nanoTime() - s0) / 1e9
    }

    val w1 = System.nanoTime()
    val warm = (1 to WarmPasses).flatMap(_ => Pipeline.pass(spark, dir, new Tracer(false)))
    val warmupS = coldS + (System.nanoTime() - w1) / 1e9
    val coldRec = new Recorder
    Pipeline.check(cold ++ warm, expected, coldRec)
    Main.info(s"answers: ${Main.writeOut(args, "-answers.json",
      Pipeline.renderExpected(cold.flatMap(r => r.answer.map(r.name -> _))))}")

    val rec = new Recorder
    val detail = mutable.ArrayBuffer(
      "session_start_s" -> f"$sessionS%.3f",
      "setup_s_each" -> setupS.map(x => f"$x%.3f").mkString(","),
      "inputs_sha256" -> hash,
      "inputs_identical" -> inputsOk.toString,
      "warmup_s" -> f"$warmupS%.3f",
      "warmup_failed" -> coldRec.failed.toString)
    coldRec.notes.foreach(n => detail += "warmup failure" -> n)

    val metrics =
      if (!args.trace) {
        // whole passes over the list until the window closes, at least
        // MinPasses, so every run times the same mix and each query's
        // median is over four or more samples
        val m0 = System.nanoTime()
        val deadline = m0 + (args.seconds * 1e9).toLong
        val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
        val passS = mutable.ArrayBuffer.empty[Double]
        val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        val cpu0 = os.getProcessCpuTime
        var i = 0
        var p0 = m0
        while (i < MinPasses * Pipeline.names.size || i % Pipeline.names.size != 0 ||
               System.nanoTime() < deadline) {
          val runs = Pipeline.run(spark, dir, tracer, Pipeline.names(i % Pipeline.names.size))
          if (Pipeline.check(Seq(runs), expected, rec))
            perQuery.getOrElseUpdate(runs.name, mutable.ArrayBuffer.empty) += runs.ms
          i += 1
          if (i % Pipeline.names.size == 0) {
            val now = System.nanoTime()
            passS += (now - p0) / 1e9
            p0 = now
          }
        }
        val passes = i.toDouble / Pipeline.names.size
        val elapsed = (System.nanoTime() - m0) / 1e9
        val listS = perQuery.values.map(xs => Stats.median(xs.toSeq)).sum / 1e3
        detail ++= Seq("measured_s" -> f"$elapsed%.3f", "passes" -> f"$passes%.2f",
          "pass_s_each" -> passS.map(x => f"$x%.3f").mkString(","),
          "cpu_s_per_pass" -> f"${(os.getProcessCpuTime - cpu0) / 1e9 / passes}%.3f",
          "query_p50_ms" -> perQuery.map { case (n, xs) => f"$n=${Stats.median(xs.toSeq)}%.0f" }.mkString(" "),
          "pipeline_s" -> f"$listS%.3f s (sum of per-query medians)")
        Metrics.endToEnd(Stats.median(setupS), rec.opsPerSecond, perQuery.values.map(_.toSeq).toSeq)
      } else {
        tracer.install(spark)
        // traced, untraced, traced: overhead from the first two, count
        // repeatability from the two traced passes
        val passes = Seq(true, false, true).map { traced =>
          val t = if (traced) tracer else new Tracer(false)
          val p0 = System.nanoTime()
          val runs = Pipeline.pass(spark, dir, t)
          Pipeline.check(runs, expected, rec)
          (runs, (System.nanoTime() - p0) / 1e9)
        }
        org.apache.spark.ListenerDrain(spark.sparkContext)
        tracer.uninstall()
        val (ms, more) = Layers.pipeline(args, tracer, rec, passes.map(_._2))
        detail ++= more
        ms
      }
    Main.Outcome(inputsOk && rec.failed == 0 && coldRec.failed == 0, rec, metrics, detail.toSeq)
  }
}
