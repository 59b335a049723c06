package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Registry-level lints (round-17 verdict items 2 and 8): every
  * registered NamedQuery is BUILT once at sf0.001 (flow gates run
  * their side effects — cheap there; plan-only gates just analyze),
  * then two contracts are enforced over the whole registry:
  *
  *  1. OUTPUT TYPES — the driver's correctness compare loads each
  *     gate's parquet into pandas and lexsorts all columns before
  *     hashing; an ARRAY/MAP/STRUCT cell is unhashable there
  *     (`TypeError: unhashable type: 'numpy.ndarray'`), so the gate
  *     ERRORS even when its semantics are right (r16 lost three rows
  *     to this: q65, q66, pp16). Project arrays through
  *     `array_to_string`/`array_join`, or pin content+order with
  *     `md5(array_join(...))` + a count column.
  *
  *  2. GLOBAL WINDOWS — an unpartitioned `Window.orderBy(...)`
  *     serializes its whole input through ONE task; over a
  *     corpus-derived frame that is the classic 100 TB scale-killer.
  *     Gates whose executed plan contains a partitionSpec-empty
  *     WindowExec must either use Curation.rankIds (distributed sort
  *     + zipWithIndex) or appear in the allowlist below with a
  *     documented bound on the frame size.
  */
class RegistrySchemaLintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Gates allowed to plan a global window, each over a frame bounded
    * by construction (NOT corpus-sized). Kept deliberately small —
    * a new entry needs the same justification comment.
    */
  private val boundedGlobalWindows: Map[String, String] = Map(
    // bin-/k-sized frames, each documented at the op site:
    "qs01_quantile_rollup" ->
      "nBins-row merged histogram (ops/Sketches.scala:130 'every window here is bin-cardinality')",
    "ev08_gains_chart" ->
      "<=nBins-row cumulative pass (ops/Stats.scala:633 'CONSTANT-size frame')",
    "ev19_rank_biased_overlap" ->
      "<=k-row take-ordered rankings (ops/Stats.scala:185 'never the corpus')",
    "psi01_distribution_drift" ->
      "nBins-row joined bin counts (ops/Profile.scala:566 'nBins rows total')")

  /** Columns whose type the driver compare cannot sort/hash. */
  private[graft] def offendingCols(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  /** Unpartitioned window operators anywhere in the executed plan. */
  private[graft] def globalWindows(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def walk(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(w.windowExpression.map(_.name).mkString("Window[", ",", "]"))
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq("WindowGroupLimit")
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case _ => p.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** One parallel build of the whole registry, shared by both lints.
    * A few gates require more data than sf0.001 carries (e.g. kmv01
    * needs >=64 distinct keys); they fall back to sf0.01.
    */
  private lazy val built: List[(String, Either[String, DataFrame])] = {
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(8)
    val par = SparkEntry.registry.par
    par.tasksupport =
      new scala.collection.parallel.ForkJoinTaskSupport(pool)
    val out = par.map { q =>
      val r =
        try Right(q.fn(spark, dir))
        catch {
          case _: Throwable =>
            try Right(q.fn(spark, "/root/testdata/sf0.01"))
            catch {
              case e: Throwable =>
                Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
        }
      q.name -> r
    }.toList
    pool.shutdown()
    out
  }

  test("lint helpers flag deliberately bad frames") {
    import org.apache.spark.sql.functions._
    val bad = spark.range(3).select(array(col("id")).as("a"),
      map(col("id"), col("id")).as("m"),
      struct(col("id")).as("st"), col("id"))
    assert(offendingCols(bad.schema).size == 3)
    val good = spark.range(3).select(col("id"),
      array_join(transform(array(col("id")), _.cast("string")), ",").as("a"))
    assert(offendingCols(good.schema).isEmpty)
    import org.apache.spark.sql.expressions.Window
    val gw = spark.range(10).withColumn("rn",
      row_number().over(Window.orderBy(col("id"))))
    assert(globalWindows(gw).nonEmpty)
    val pw = spark.range(10).withColumn("rn",
      row_number().over(Window.partitionBy(col("id") % 2).orderBy(col("id"))))
    assert(globalWindows(pw).isEmpty)
  }

  test("every name Bench keeps out of the headline is a registry query") {
    // a renamed query would otherwise quietly rejoin the headline
    val unknown = (Bench.nonHeadline -- SparkEntry.queries.keySet).toSeq.sorted
    assert(unknown.isEmpty, s"Bench.nonHeadline names no registry query: $unknown")
  }

  test("no registry gate declares an ARRAY/MAP/STRUCT output column") {
    val offenders = built.flatMap {
      case (name, Right(df)) =>
        val bad = offendingCols(df.schema)
        if (bad.nonEmpty) Seq(s"$name -> ${bad.mkString(", ")}") else Seq.empty
      case (name, Left(err)) => Seq(s"$name -> FAILED TO BUILD: $err")
    }.sorted
    assert(offenders.isEmpty,
      s"\ngates with driver-compare-unsafe output types (or broken builders):\n  ${offenders.mkString("\n  ")}")
  }

  test("no registry gate plans an unlisted global window") {
    val offenders = built.flatMap {
      case (name, Right(df)) if !boundedGlobalWindows.contains(name) =>
        val gw = try globalWindows(df) catch { case _: Throwable => Seq.empty }
        if (gw.nonEmpty) Seq(s"$name -> ${gw.mkString("; ")}") else Seq.empty
      case _ => Seq.empty
    }.sorted
    assert(offenders.isEmpty,
      "\ngates planning a single-partition window over a frame not in the " +
        s"documented-bounded allowlist:\n  ${offenders.mkString("\n  ")}")
  }

  test("the global-window allowlist carries no stale entries") {
    val byName = built.toMap
    val stale = boundedGlobalWindows.keys.filter { n =>
      byName.get(n) match {
        case Some(Right(df)) =>
          (try globalWindows(df) catch { case _: Throwable => Seq.empty }).isEmpty
        case _ => true
      }
    }.toSeq.sorted
    assert(stale.isEmpty,
      s"allowlist entries no longer planning a global window (remove them): $stale")
  }
}
