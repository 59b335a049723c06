package graft.engine

import org.apache.spark.sql.{DataFrame, PlanFrames, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier, UnresolvedExecuteImmediate, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ScriptTransformation, SubqueryAlias, UnresolvedWith}

/** The `/sql` endpoint analog: run arbitrary user SQL over catalog
  * views, after plan-walk authorization (`run` is the whole flow).
  *
  * Reference: verifyUserQuery (src/backend/src/Lagoon/Verified.hs:794-855)
  * EXPLAINs the query and walks the Postgres plan tree, denying writes,
  * unknown plan nodes, function scans (QueryPlan.hs:339-340), and reads
  * of tables the user cannot access. Our analog walks Catalyst's PARSED
  * plan (the exact analog of Summary.summaryReads, before any inlining
  * hides the referenced view names), and `run` binds the catalog's
  * frames into that same plan, so what runs is what was authorized.
  */
object SqlGate {

  final case class Denied(reason: String) extends RuntimeException(reason)

  final case class Summary(reads: Set[String])

  /** Collect read relations + reject write/DDL/function-scan plans. */
  def summarize(spark: SparkSession, sql: String): Summary =
    Summary(readsOf(spark.sessionState.sqlParser.parsePlan(sql)))

  private def readsOf(plan: LogicalPlan): Set[String] = {
    val reads = Set.newBuilder[String]
    bind(plan, (name, r) => { reads += name; r })
    reads.result()
  }

  /** The one walk over a parsed plan: it applies the denials and
    * replaces every real-table relation with `read(name, relation)`,
    * `name` being the lowercased identifier.
    *
    * Subquery expressions (IN / EXISTS / scalar / lateral) carry their
    * own plans INSIDE expressions, and CTE definition bodies are
    * innerChildren — neither is walked by a plain plan traversal. Both
    * are part of the authorized surface (the reference EXPLAINs the
    * whole query; Postgres plans include subplans, Verified.hs:794-855),
    * so the walk descends into every embedded plan. Without this,
    * `SELECT * FROM pub WHERE x IN (SELECT y FROM secret)` would report
    * reads={pub} and execute against `secret` unchecked.
    */
  private def bind(
      root: LogicalPlan,
      read: (String, UnresolvedRelation) => LogicalPlan): LogicalPlan = {
    def subqueries(p: LogicalPlan, visible: Set[String]): LogicalPlan =
      p.transformExpressions { case se: SubqueryExpression => se.withNewPlan(walk(se.plan, visible)) }

    // CTE-name discounting is LEXICAL: a name only masks relation
    // references in scopes where that CTE is actually visible. Spark's
    // CTESubstitution resolves definitions in order (a body sees only
    // earlier siblings; its own name only under WITH RECURSIVE), and a
    // CTE defined inside a subquery is invisible outside it — so
    // `SELECT * FROM secret WHERE EXISTS (WITH secret AS (SELECT 1) ...)`
    // must still report a read of the real `secret`.
    def walk(p: LogicalPlan, visible: Set[String]): LogicalPlan = p match {
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
        val ctes = w.cteRelations.map { case (name, body, depth) =>
          val inner = if (w.allowRecursion) vis + name.toLowerCase else vis
          vis += name.toLowerCase
          (name, body.copy(child = walk(body.child, inner)), depth)
        }
        subqueries(w.copy(child = walk(w.child, vis), cteRelations = ctes), vis)
      case r: UnresolvedRelation =>
        val name = r.multipartIdentifier.mkString(".").toLowerCase
        if (visible.contains(name)) r else read(name, r)
      case _ => subqueries(p.withNewChildren(p.children.map(walk(_, visible))), visible)
    }

    walk(root, Set.empty)
  }

  /** Every read relation must be a known table the user can read
    * (CanReadDataset ACL, Verified.hs:834-854).
    */
  private def authorize(reads: Set[String], known: Set[String], canRead: String => Boolean): Unit =
    reads.foreach { t =>
      if (!known.contains(t)) throw Denied(s"unknown table: $t")
      if (!canRead(t)) throw Denied(s"permission denied: $t")
    }

  /** Authorize + execute over views the caller has registered. */
  def execute(
      spark: SparkSession,
      sql: String,
      knownTables: Set[String],
      canRead: String => Boolean = _ => true): DataFrame = {
    authorize(summarize(spark, sql).reads, knownTables, canRead)
    spark.sql(sql)
  }

  /** The `/sql` flow: Postgres-dialect `text` over one catalog read;
    * `canRead` takes the owning SOURCE name. PgStrings.escape runs
    * exactly once (doubling is not idempotent), and `DISTINCT ON (k) *`
    * expands from the stored column list, so nothing is analyzed before
    * authorization. The text is parsed once; frames are built only for
    * the entries its authorized reads name, then bound into that plan
    * under the identifiers as written. No temp view is involved, so
    * concurrent requests share no session state.
    */
  def run(cat: Catalog, text: String, canRead: String => Boolean): DataFrame = {
    val tables = cat.sqlNames.map { case (n, e) => n.toLowerCase -> e }
    val schemaOf: String => Option[Seq[String]] =
      n => tables.get(n.toLowerCase).map("ix" +: _.friendlyNames)
    val sql = PgSelect.rewrite(PgJson.rewrite(PgStrings.escape(text)), schemaOf)
    val plan = cat.spark.sessionState.sqlParser.parsePlan(sql)
    val reads = readsOf(plan)
    authorize(reads, tables.keySet, t => canRead(tables(t).name))
    val views = reads.map(tables).map(e => e -> cat.view(e).queryExecution.analyzed).toMap
    PlanFrames.ofRows(cat.spark,
      bind(plan, (t, r) => SubqueryAlias(r.multipartIdentifier, views(tables(t)))))
  }
}
