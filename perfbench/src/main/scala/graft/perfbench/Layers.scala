package graft.perfbench

/** Per-layer metrics from a traced run. Every workload prints the same
  * list; a layer the workload never calls reads 0.
  */
object Layers {
  val groups: Seq[String] = Pipeline.groups

  /** Metric names and units, in print order. */
  val catalog: Seq[(String, String)] = Seq(
    "catalog.register_views_ms" -> "ms", "catalog.jobs_per_sql" -> "count",
    "catalog.entries_ms" -> "ms", "catalog.commit_ms" -> "ms", "catalog.ingest_ms" -> "ms",
    "catalog.retype_ms" -> "ms", "catalog.entry_count" -> "count",
    "ingest.parse_infer_ms_per_mb" -> "ms/MB", "ingest.jobs_per_upload" -> "count",
    "acl.save_ms" -> "ms",
    "sql.rewrite_ms" -> "ms", "sql.gate_ms" -> "ms", "sql.exec_ms" -> "ms",
    "search.ms" -> "ms", "search.jobs_per_op" -> "count",
    "export.mb_per_s" -> "MB/s",
    "server.self_ms_sql" -> "ms", "server.self_ms_search" -> "ms",
    "server.self_ms_fetch" -> "ms", "server.self_ms_ingest" -> "ms")
  val spark: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.executor_s" -> "s/op", "spark.parallel_eff" -> "ratio",
    "spark.shuffle_read_mb" -> "MB/op", "spark.shuffle_write_mb" -> "MB/op",
    "spark.spill_mb" -> "MB/op", "spark.gc_s" -> "s/op",
    "spark.widest_stage_tasks" -> "count", "spark.task_max_over_median" -> "ratio",
    "spark.catalyst_ms" -> "ms/op")
  val pipeline: Seq[(String, String)] =
    Seq("pipeline.list_s" -> "s") ++ groups.flatMap(g => Seq(
      s"pipeline.$g.s" -> "s", s"pipeline.$g.jobs" -> "count",
      s"pipeline.$g.shuffle_mb" -> "MB", s"pipeline.$g.parallel_eff" -> "ratio")) ++ Seq(
      "ops.guard_dropped_buckets" -> "count", "ops.loop_rounds" -> "count")
  val other: Seq[(String, String)] = Seq(
    "counts.repeat_mismatches" -> "count", "trace.overhead_pct" -> "%",
    "fail.5xx" -> "count", "fail.unexpected_4xx" -> "count",
    "fail.wrong_answer" -> "count", "fail.timeout" -> "count",
    "race.reader_ops" -> "count", "race.reader_failures" -> "count")
  val all: Seq[(String, String)] = catalog ++ spark ++ pipeline ++ other

  private val MB = 1024.0 * 1024.0

  /** Fills every metric: the given values, 0 for the rest. */
  def complete(values: Map[String, Double]): Seq[(String, Metric)] =
    all.map { case (n, u) => n -> Metric(values.getOrElse(n, 0.0), u) }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Spark totals over ops, reported per op. */
  def sparkPerOp(tracer: Tracer, ops: Seq[Span], kids: Map[Long, Seq[Span]], cpus: Int): Map[String, Double] =
    if (ops.isEmpty) Map.empty else {
      val w = new SparkWork
      ops.foreach(o => w.add(tracer.inclusiveWork(o.id, kids)))
      val n = ops.size.toDouble
      val wallS = ops.map(_.ms).sum / 1e3
      Map(
        "spark.jobs" -> w.jobs / n, "spark.stages" -> w.stages / n, "spark.tasks" -> w.tasks / n,
        "spark.executor_s" -> w.executorMs / 1e3 / n,
        "spark.parallel_eff" -> (if (wallS > 0) w.executorMs / 1e3 / (wallS * cpus) else 0.0),
        "spark.shuffle_read_mb" -> w.shuffleReadBytes / MB / n,
        "spark.shuffle_write_mb" -> w.shuffleWriteBytes / MB / n,
        "spark.spill_mb" -> w.spillBytes / MB / n, "spark.gc_s" -> w.gcMs / 1e3 / n,
        "spark.widest_stage_tasks" -> w.widestStageTasks.toDouble,
        "spark.task_max_over_median" -> w.taskMaxOverMedian,
        "spark.catalyst_ms" -> w.catalystMs / n)
    }

  def failures(rec: Recorder): Map[String, Double] =
    rec.failCounts.map { case (k, v) => s"fail.$k" -> v.toDouble }

  /** Writes the span trees: one JSON object per span, with self time and
    * the Spark work started directly under it.
    */
  def writeSpans(args: Main.Args, tracer: Tracer, spans: Seq[Span], kids: Map[Long, Seq[Span]]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(s => (s.op, s.startNs)).foreach { s =>
      val w = tracer.selfWork(s.id)
      sb.append(Json.write(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startNs / 1e6,
        "dur_ms" -> s.ms, "self_ms" -> Tracer.selfMs(s, kids.getOrElse(s.id, Nil)),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "executor_ms" -> w.executorMs, "shuffle_read_bytes" -> w.shuffleReadBytes,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "catalyst_ms" -> w.catalystMs)))
        .append('\n')
    }
    val p = Main.writeOut(args, "-spans.jsonl", sb.toString)
    Main.info(s"span trees: $p (${spans.size} spans)")
  }

  /** The catalog workload's traced run. */
  def catalogWorkload(args: Main.Args, tracer: Tracer, rec: Recorder, direct: DirectRoutes,
                      entries: Int, probed: Map[String, Double]): (Seq[(String, Metric)], Seq[(String, String)]) = {
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def rootOf(s: Span): Span = { var x = s; while (x.parent != 0) x = byId(x.parent); x }
    def inOps(n: String, op: String): Seq[Span] = named(n).filter(s => rootOf(s).name == op)
    val ops = spans.filter(s => s.parent == 0 && Metrics.kinds(args.workload).contains(s.name))
    def opsOf(k: String) = ops.filter(_.name == k)
    def jobs(ss: Seq[Span]) = ss.map(s => tracer.inclusiveWork(s.id, kids).jobs.toDouble)

    val sqlOps = opsOf("sql")
    val catalogJobsPerSql = sqlOps.map { o =>
      kids.getOrElse(o.id, Nil).filter(s => s.name == "Catalog.registerViews" || s.name == "Catalog.sqlNames")
        .map(s => tracer.inclusiveWork(s.id, kids).jobs).sum.toDouble
    }
    def perOpSum(op: String, names: Set[String]): Seq[Double] =
      opsOf(op).map(o => kids.getOrElse(o.id, Nil).filter(s => names(s.name)).map(_.ms).sum)
    val ingestSpans = named("Ingest.csv") ++ named("Ingest.json")
    val ingestMb = direct.ingestBytes.get / MB
    val exportSpans = inOps("Export.csvLines", "download")
    val exportS = exportSpans.map(_.ms).sum / 1e3
    def self(kind: String): Double = {
      val h = rec.times(s"$kind@${Modes.Http}"); val d = rec.times(s"$kind@${Modes.Direct}")
      if (h.isEmpty || d.isEmpty) 0.0 else Stats.median(h) - Stats.median(d)
    }
    val kinds = Metrics.kinds(args.workload)
    val both = kinds.filter(k => rec.count(s"$k@${Modes.Traced}") > 0 && rec.count(s"$k@${Modes.Direct}") > 0)
    val tracedSum = both.map(k => Stats.median(rec.times(s"$k@${Modes.Traced}"))).sum
    val directSum = both.map(k => Stats.median(rec.times(s"$k@${Modes.Direct}"))).sum

    val values = Map(
      "catalog.register_views_ms" -> p50(named("Catalog.registerViews").map(_.ms)),
      "catalog.jobs_per_sql" -> p50(catalogJobsPerSql),
      "catalog.entries_ms" -> p50(named("Catalog.entries").map(_.ms)),
      "catalog.commit_ms" -> p50(named("Catalog.tag").map(_.ms)),
      "catalog.ingest_ms" -> p50(named("Catalog.ingest").map(_.ms)),
      "catalog.retype_ms" -> p50((named("Catalog.setColumnType") ++ named("Catalog.makeTyped")).map(_.ms)),
      "catalog.entry_count" -> entries.toDouble,
      "ingest.parse_infer_ms_per_mb" -> (if (ingestMb > 0) ingestSpans.map(_.ms).sum / ingestMb else 0.0),
      "ingest.jobs_per_upload" -> p50(jobs(ingestSpans)),
      "acl.save_ms" -> p50(named("AclStore.save").map(_.ms)),
      "sql.rewrite_ms" -> p50(perOpSum("sql", Set("PgStrings.escape", "PgJson.rewrite", "PgSelect.rewrite"))),
      "sql.gate_ms" -> p50(named("SqlGate.execute").map(_.ms)),
      "sql.exec_ms" -> p50(inOps("Export.csvLines", "sql").map(_.ms)),
      "search.ms" -> p50(perOpSum("search", Set("Acl.canReadDf", "Search.count", "Search.apply"))),
      "search.jobs_per_op" -> p50(jobs(opsOf("search"))),
      "export.mb_per_s" -> (if (exportS > 0) direct.exportBytes.get / MB / exportS else 0.0),
      "server.self_ms_sql" -> self("sql"), "server.self_ms_search" -> self("search"),
      "server.self_ms_fetch" -> self("fetch"), "server.self_ms_ingest" -> self("ingest"),
      "counts.repeat_mismatches" -> (if (args.workload == "analyst_sql")
        math.max(0, catalogJobsPerSql.distinct.size - 1).toDouble else 0.0),
      "trace.overhead_pct" -> (if (directSum > 0) 100 * (tracedSum - directSum) / directSum else 0.0)
    ) ++ sparkPerOp(tracer, ops, kids, args.cpus) ++ failures(rec) ++ probed
    writeSpans(args, tracer, spans, kids)
    val detail = Seq(
      "traced_ops" -> ops.groupBy(_.name).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" "),
      "catalog_jobs_per_sql_values" -> catalogJobsPerSql.map(_.toLong).distinct.sorted.mkString(","),
      "untagged_spark_jobs" -> tracer.untaggedWork.jobs.toString)
    (complete(values), detail)
  }

  /** The pipeline workload's traced run: passes are (traced, untraced,
    * traced) wall times; spans come from the two traced passes.
    */
  def pipeline(args: Main.Args, tracer: Tracer, rec: Recorder,
               passS: Seq[Double]): (Seq[(String, Metric)], Seq[(String, String)]) = {
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    val ops = spans.filter(_.parent == 0).sortBy(_.startNs)
    val (first, second) = ops.groupBy(_.name).values.map(v => (v.head, v.lift(1))).unzip
    val passA = first.toSeq
    def name(s: Span) = s.name.stripPrefix("query:")
    val work = passA.map(s => s -> tracer.inclusiveWork(s.id, kids)).toMap
    val perGroup = groups.flatMap { g =>
      val qs = passA.filter(s => Pipeline.group(name(s)) == g)
      val w = new SparkWork
      qs.foreach(q => w.add(work(q)))
      val wallS = qs.map(_.ms).sum / 1e3
      Seq(
        s"pipeline.$g.s" -> wallS, s"pipeline.$g.jobs" -> w.jobs.toDouble,
        s"pipeline.$g.shuffle_mb" -> w.shuffleWriteBytes / MB,
        s"pipeline.$g.parallel_eff" -> (if (wallS > 0) w.executorMs / 1e3 / (wallS * args.cpus) else 0.0))
    }
    def counts(w: SparkWork) = (w.jobs, w.stages, w.shuffleReadBytes, w.shuffleWriteBytes)
    val mismatches = first.zip(second).collect { case (a, Some(c)) =>
      (name(a), counts(work(a)), counts(tracer.inclusiveWork(c.id, kids)))
    }.filter { case (_, x, y) => x != y }.toSeq.sortBy(_._1)
    val (drops, rounds) = Pipeline.opsCounters()
    val values = Map(
      "pipeline.list_s" -> passS.head,
      "ops.guard_dropped_buckets" -> drops, "ops.loop_rounds" -> rounds,
      "counts.repeat_mismatches" -> mismatches.size.toDouble,
      // traced passes either side of the untraced one cancel a warming trend
      "trace.overhead_pct" -> 100 * ((passS(0) + passS(2)) / 2 - passS(1)) / passS(1)
    ) ++ perGroup ++ sparkPerOp(tracer, passA, kids, args.cpus) ++ failures(rec)
    writeSpans(args, tracer, spans, kids)
    val detail = Seq(
      "pass_s (traced, untraced, traced)" -> passS.map(x => f"$x%.3f").mkString(","),
      "count_repeats" -> (if (mismatches.isEmpty) "all job, stage and shuffle-byte counts repeat"
        else mismatches.map { case (n, x, y) => s"$n (jobs, stages, shuffle read, shuffle write) $x vs $y" }
          .mkString("; ")))
    (complete(values), detail)
  }
}
