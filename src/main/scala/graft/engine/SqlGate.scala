package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier, UnresolvedExecuteImmediate, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ScriptTransformation, UnresolvedWith}

/** The `/sql` endpoint analog: run arbitrary user SQL over catalog
  * views, after plan-walk authorization (`run` is the whole flow).
  *
  * Reference: verifyUserQuery (src/backend/src/Lagoon/Verified.hs:794-855)
  * EXPLAINs the query and walks the Postgres plan tree, denying writes,
  * unknown plan nodes, function scans (QueryPlan.hs:339-340), and reads
  * of tables the user cannot access. Our analog walks Catalyst's PARSED
  * plan (the exact analog of Summary.summaryReads, before any inlining
  * hides the referenced view names).
  */
object SqlGate {

  final case class Denied(reason: String) extends RuntimeException(reason)

  final case class Summary(reads: Set[String])

  /** Collect read relations + reject write/DDL/function-scan plans.
    *
    * Subquery expressions (IN / EXISTS / scalar / lateral) carry their
    * own plans INSIDE expressions, and CTE definition bodies are
    * innerChildren — neither is walked by a plain plan traversal. Both
    * are part of the authorized surface (the reference EXPLAINs the
    * whole query; Postgres plans include subplans, Verified.hs:794-855),
    * so we expand to the transitive closure of all embedded plans
    * before collecting reads or applying denials. Without this,
    * `SELECT * FROM pub WHERE x IN (SELECT y FROM secret)` would report
    * reads={pub} and execute against `secret` unchecked.
    */
  def summarize(spark: SparkSession, sql: String): Summary = {
    val root: LogicalPlan = spark.sessionState.sqlParser.parsePlan(sql)
    val reads = scala.collection.mutable.Set.empty[String]

    def exprSubplans(p: LogicalPlan): Seq[LogicalPlan] =
      p.expressions.flatMap(_.collect { case se: SubqueryExpression => se.plan })

    // CTE-name discounting is LEXICAL: a name only masks relation
    // references in scopes where that CTE is actually visible. Spark's
    // CTESubstitution resolves definitions in order (a body sees only
    // earlier siblings; its own name only under WITH RECURSIVE), and a
    // CTE defined inside a subquery is invisible outside it — so
    // `SELECT * FROM secret WHERE EXISTS (WITH secret AS (SELECT 1) ...)`
    // must still report a read of the real `secret`.
    def walk(p: LogicalPlan, visible: Set[String]): Unit = {
      p match {
        case _: Command             => throw Denied("user SQL is read-only (ModifyTable denied)")
        case _: InsertIntoStatement => throw Denied("user SQL is read-only (ModifyTable denied)")
        case _: UnresolvedTableValuedFunction =>
          throw Denied("function scans are not authorized") // QueryPlan.hs:340
        // Dynamic-resolution nodes decide WHAT they read during
        // ANALYSIS, after this parsed-plan walk — authorizing them
        // here would let `EXECUTE IMMEDIATE '...'` or
        // `FROM IDENTIFIER('secret')` reach tables the read-set never
        // mentions. Deny, like the reference denies unknown plan
        // nodes (Verified.hs:794-855 fail-closed default).
        case _: ScriptTransformation =>
          // TRANSFORM ... USING '<cmd>' launches an ARBITRARY PROCESS
          // on the executors — it authorized cleanly (reads collect
          // fine) and executed a shell command in the repro. The
          // reference's authorizer denies any node it doesn't know;
          // this one is remote code execution, not a query operator.
          throw Denied("script transforms are not authorized (arbitrary process execution)")
        case _: UnresolvedExecuteImmediate =>
          throw Denied("EXECUTE IMMEDIATE is not authorized (dynamic SQL)")
        case _: PlanWithUnresolvedIdentifier =>
          throw Denied("IDENTIFIER() relations are not authorized (dynamic name)")
        case w: UnresolvedWith =>
          var vis = visible
          w.cteRelations.foreach { cte =>
            val name = cte._1.toLowerCase
            walk(cte._2, if (w.allowRecursion) vis + name else vis)
            vis += name
          }
          walk(w.child, vis)
          exprSubplans(w).foreach(walk(_, vis))
          return
        case r: UnresolvedRelation =>
          val name = r.multipartIdentifier.mkString(".").toLowerCase
          if (!visible.contains(name)) reads += name
        case _ => ()
      }
      p.children.foreach(walk(_, visible))
      exprSubplans(p).foreach(walk(_, visible))
    }

    walk(root, Set.empty)
    Summary(reads.toSet)
  }

  /** Every read relation must be a known table the user can read
    * (CanReadDataset ACL, Verified.hs:834-854); returns the reads.
    */
  private def authorize(
      spark: SparkSession,
      sql: String,
      knownTables: Set[String],
      canRead: String => Boolean): Set[String] = {
    val reads = summarize(spark, sql).reads
    reads.foreach { t =>
      if (!knownTables.contains(t)) throw Denied(s"unknown table: $t")
      if (!canRead(t)) throw Denied(s"permission denied: $t")
    }
    reads
  }

  /** Authorize + execute over views the caller has registered. */
  def execute(
      spark: SparkSession,
      sql: String,
      knownTables: Set[String],
      canRead: String => Boolean = _ => true): DataFrame = {
    authorize(spark, sql, knownTables, canRead)
    spark.sql(sql)
  }

  /** The `/sql` flow: Postgres-dialect `text` over one catalog read;
    * `canRead` takes the owning SOURCE name. PgStrings.escape runs
    * exactly once (doubling is not idempotent), and `DISTINCT ON (k) *`
    * expands from the stored column list, so nothing is analyzed before
    * authorization. Views are registered only for the tables read.
    *
    * The temp views live on the session every request shares, so
    * registering them and analyzing the query hold `viewLock`: without
    * it a concurrent request can replace a view between the two steps
    * and this query binds the other request's frame — another catalog's
    * table, or one this caller was not authorized for. Analysis is
    * eager, so the returned frame is bound before the lock is released;
    * frames are built, and the query runs, outside it.
    */
  def run(cat: Catalog, text: String, canRead: String => Boolean): DataFrame = {
    val tables = cat.sqlNames.map { case (n, e) => n.toLowerCase -> e }
    val schemaOf: String => Option[Seq[String]] =
      n => tables.get(n.toLowerCase).map("ix" +: _.friendlyNames)
    val sql = PgSelect.rewrite(PgJson.rewrite(PgStrings.escape(text)), schemaOf)
    val reads = authorize(cat.spark, sql, tables.keySet, t => canRead(tables(t).name))
    val views = reads.toSeq.map(t => t -> cat.view(tables(t)))
    viewLock.synchronized {
      views.foreach { case (t, df) => df.createOrReplaceTempView(t) }
      cat.spark.sql(sql)
    }
  }

  private val viewLock = new Object
}
