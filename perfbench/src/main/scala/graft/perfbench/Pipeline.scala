package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `pipeline_batch`: one client runs a fixed list of named queries from
  * `SparkEntry.queries` in a fixed order. Each query's single timed
  * action computes its row count and an order-independent digest of
  * every column, checked against values recorded with the benchmark.
  *
  * The list takes queries from every operator group of graft.Bench's
  * matched-baseline set, plus sd02, the slow class of many small jobs.
  * The other slow class, few fat tasks (gr04), does not show at this
  * scale and would cost a run about ten seconds; it is left out.
  */
object Pipeline {

  val names: Seq[String] = Seq(
    "dd01_exact_dedup", "mm01_binary_meta",
    "q05_join_inner", "q12_agg_group", "q16_window_rank", "q35_json_access",
    "sim01_cosine_topk",
    "st01_event_window", "tx01_token_stats", "sd02_semantic_clusters")

  def group(name: String): String =
    if (name.matches("q\\d\\d_.*")) "relational"
    else if (name.startsWith("dd") || name.startsWith("sim") || name.startsWith("mm")) "dedup_sim"
    else if (name.startsWith("tx") || name == "st01_event_window") "text_stream"
    else "multi_job"
  val groups: Seq[String] = Seq("relational", "dedup_sim", "text_stream", "multi_job")

  // most recent invocation's guard and loop counters (OpsMetrics)
  val guardMetrics: Seq[String] = Seq(
    "graft.cosine_dups.drops", "graft.fuzzy_pairs.drops", "graft.hamming.drops",
    "graft.hard_negatives.drops", "graft.incr_cosine.drops", "graft.incr_neardup.drops",
    "graft.ivf_topk.drops", "graft.ivfpq_topk.drops", "graft.jw_pairs.drops",
    "graft.linkage.drops", "graft.lsh_topk.drops", "graft.margin_mine.drops",
    "graft.minhash.drops", "graft.sem_dedup.drops", "graft.simhash.drops",
    "graft.basket_lift", "graft.item_cosine")
  val loopMetrics: Seq[String] = Seq("graft.cc.convergence", "graft.kcore", "graft.ktruss", "graft.bfs")

  final case class Answer(rows: Long, digest: String)

  /** Row count and order-independent digest in one action. Signed zeros
    * are canonicalized first, as graft.Verify does before its dump.
    */
  def answer(df: DataFrame): Answer = {
    val c = graft.Verify.canonicalizeZeros(df)
    val h = xxhash64(c.columns.toSeq.map(n => c.col(s"`$n`")): _*)
    val r = c.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect().head
    Answer(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def loadExpected(path: Path): Map[String, Answer] =
    Json.read(path).properties.asScala.map { e =>
      e.getKey -> Answer(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap

  def renderExpected(as: Seq[(String, Answer)]): String =
    Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      Json.obj(as.map { case (n, a) => n -> Json.obj("rows" -> a.rows, "digest" -> a.digest) }: _*))

  final case class QueryRun(name: String, ms: Double, answer: Option[Answer], error: Option[String])

  /** One pass over the list; each query is one op (a root span when traced). */
  def pass(spark: SparkSession, dir: String, tracer: Tracer): Seq[QueryRun] =
    names.map(run(spark, dir, tracer, _))

  /** One query: its answer action, timed; persisted leftovers dropped after. */
  def run(spark: SparkSession, dir: String, tracer: Tracer, n: String): QueryRun = {
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(s"query:$n")(answer(graft.SparkEntry.queries(n)(spark, dir))))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    Session.dropLeftoverBlocks(spark)
    QueryRun(n, ms, res.toOption, res.left.toOption)
  }

  /** Checks a pass; records one ok/failed op per query. True when every query passed. */
  def check(runs: Seq[QueryRun], expected: Map[String, Answer], rec: Recorder): Boolean =
    runs.map { r =>
      (r.answer, r.error) match {
        case (_, Some(e)) => rec.fail("query", Fail.ServerError, s"${r.name}: $e"); false
        case (Some(a), _) if expected.get(r.name).contains(a) => rec.ok("query", r.ms); true
        case (Some(a), _) =>
          rec.fail("query", Fail.WrongAnswer, s"${r.name}: got $a, expected ${expected.get(r.name)}"); false
        case _ => rec.fail("query", Fail.ServerError, s"${r.name}: no result"); false
      }
    }.forall(identity)

  def opsCounters(): (Double, Double) = {
    val drops = guardMetrics.flatMap(m => graft.ops.OpsMetrics.lastDrops(m)).map(_._1).sum
    val rounds = loopMetrics.flatMap(m => graft.ops.OpsMetrics.lastConvergence(m)).map(_._1).sum
    (drops.toDouble, rounds.toDouble)
  }
}
