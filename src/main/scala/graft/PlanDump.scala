package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Measurement tooling (optimization rounds): dump the formatted
  * physical plan of each registered query to one file per query, so
  * plan-shape claims (Exchange count, join strategy, PushedFilters)
  * are checkable without running Spark. The session comes from
  * GraftSession, as Bench's does, so the dumped plans are the benched
  * plans.
  *
  * Usage: runMain graft.PlanDump <outDir> [names] [sfDir]
  *   names: comma-separated query names, or "headline"
  *   (`Bench.isHeadline`), or "all" (default: headline).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r19"
    val namesArg = if (args.length > 1) args(1) else "headline"
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val all = SparkEntry.queries
    val selected: Seq[String] = namesArg match {
      case "all" => all.keys.toSeq.sorted
      case "headline" => all.keys.filter(Bench.isHeadline).toSeq.sorted
      case csv => csv.split(',').toSeq
    }
    selected.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[plandump] UNKNOWN query: $name")
        case Some(fn) =>
          val txt =
            try fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case scala.util.control.NonFatal(e) =>
              s"ERROR building plan: ${e.getClass.getName}: ${e.getMessage}" }
          Files.write(Paths.get(outDir, s"$name.txt"),
            txt.getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          System.err.println(s"[plandump] wrote $name")
      }
    }
    spark.stop()
  }
}
