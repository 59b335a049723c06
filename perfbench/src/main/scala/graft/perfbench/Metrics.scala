package graft.perfbench

/** End-to-end metrics. Every workload reports the same three, so each
  * is a real, non-zero measurement on every workload:
  *
  *  - `setup_s`: median over the run's set-ups of the time from an empty
  *    warehouse to a populated one (`analyst_sql`), or of a fresh load of
  *    the input tables (`pipeline_batch`).
  *  - `op_p50_ms`: geometric mean, over the workload's op types, of each
  *    type's median latency. Types: /sql, search, fetch, download for
  *    `analyst_sql`; each named query for `pipeline_batch`.
  *  - `ops_per_s`: closed-loop throughput, all clients together: for
  *    each client, ops completed successfully per second spent waiting on them.
  *
  * The per-op-type medians (`sql_p50_ms`, ...) are
  * printed as detail lines beside them.
  */
object Metrics {
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Kinds timed on each workload, in report order. */
  def kinds(workload: String): Seq[String] = workload match {
    case "analyst_sql" => Seq("sql", "search", "fetch", "download")
    case _ => Seq("query")
  }

  def endToEnd(setupS: Double, opsPerS: Double, perType: Seq[Seq[Double]]): Seq[(String, Metric)] = {
    require(perType.forall(_.nonEmpty), "an op type has no successful sample: the window is too short")
    val medians = perType.map(Stats.median)
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(geomean(medians), "ms"),
      "ops_per_s" -> Metric(opsPerS, "ops/s"))
  }

  /** The per-op-type figures, printed as detail lines with their units. */
  def details(rec: Recorder): Seq[(String, String)] = {
    def t(k: String) = rec.times(s"$k@${Modes.Http}")
    def pct(k: String, p: Int) = {
      val xs = t(k)
      if (xs.isEmpty) None else Some(f"${Stats.pct(xs, p)}%.1f ms (n=${xs.size})")
    }
    Seq("sql", "search", "fetch", "download").flatMap(k =>
      pct(k, 50).map(v => s"${k}_p50_ms" -> v).toSeq ++ pct(k, 90).map(v => s"${k}_p90_ms" -> v)) ++
      Seq("failed_ratio" -> f"${rec.failed.toDouble / math.max(1L, rec.attempted.get)}%.4f ratio")
  }
}
