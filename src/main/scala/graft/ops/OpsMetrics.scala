package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Observability for the dedup/ANN bucket guards.
  *
  * `maxBucket` bounds memory by DROPPING pathological buckets — which
  * used to be silent recall loss (round-3 What's-wrong #3: "bounded
  * memory, good; unobservable data loss, bad"). `guarded` applies the
  * same size filter as before, but through a tiny predicate that
  * feeds two named LongAccumulators counting the dropped buckets and
  * the member rows inside them.
  *
  * Why accumulators and not `Dataset.observe`: the natural
  * CollectMetrics node is DISCARDED by AQE's empty-relation
  * propagation — when a guard drops every bucket, the runtime replans
  * the downstream stages as EmptyRelation and the metric disappears
  * from the executed plan, i.e. the signal vanishes exactly when all
  * the data was dropped. Accumulators are updated by the stage that
  * actually ran and survive any replanning; they also surface in the
  * Spark UI under the metric name. The predicate runs once per BUCKET
  * (post group-collect), so the non-codegen UDF costs nothing next to
  * the shuffle it follows. Caveat inherent to accumulators in
  * transformations: a retried/speculated task can double-count — fine
  * for an observability signal (zero means zero; nonzero means real
  * drops happened).
  */
object OpsMetrics {

  private final case class Guard(buckets: LongAccumulator, rows: LongAccumulator)

  /** Newest guard per metric name (re-registered on each operator
    * invocation, so values are per-invocation, not cumulative).
    */
  private val guards = new ConcurrentHashMap[String, Guard]()
  private val warnedAt = new ConcurrentHashMap[String, java.lang.Long]()

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** (dropped buckets, rows inside them) for the metric's most recent
    * operator invocation, as of the actions run so far.
    */
  def lastDrops(metric: String): Option[(Long, Long)] =
    Option(guards.get(metric)).map(g => (g.buckets.value, g.rows.value))

  private val convergences =
    new ConcurrentHashMap[String, (Int, Long)]()

  /** (rounds executed, rows still changing in the last round) for the
    * named iterative operator's most recent invocation — 0 means clean
    * convergence. Pipelines chaining e.g. dup-cluster resolution can
    * assert this instead of trusting the loop. The second field is, per
    * metric:
    *  - "graft.kcore": edges peeled in the last round;
    *  - "graft.ktruss": edges peeled in the last round;
    *  - "graft.bfs": nodes first reached in the last round (the
    *    frontier it left);
    *  - "graft.cc.convergence": edges re-pointed in the last round.
    * Each is a count observed inside the round's checkpoint job
    * (`Flat.iterate`), which a retried task can double, so read it only
    * as zero versus nonzero.
    */
  def lastConvergence(metric: String): Option[(Int, Long)] =
    Option(convergences.get(metric))

  private[ops] def recordConvergence(metric: String, rounds: Int,
                                     stillChanging: Long): Unit =
    convergences.put(metric, (rounds, stillChanging))

  /** Logs a warning after any action during which a guard dropped
    * buckets (value changed since the last warning).
    */
  private def install(spark: SparkSession): Unit =
    if (installed.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          guards.forEach { (name, g) =>
            val b = g.buckets.value
            if (b > 0 && warnedAt.getOrDefault(name, 0L) != b) {
              warnedAt.put(name, b)
              System.err.println(
                s"[graft] WARN $name: dropped $b over-maxBucket bucket(s) " +
                s"holding ${g.rows.value} row(s) — near-dup recall is reduced; " +
                "run exact dedup first or raise maxBucket")
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  /** Row-level bucket guard for join-shaped operators (no
    * group-collect `m` array): drops every row of a (keys)-bucket
    * holding more than maxBucket rows, counting dropped buckets and
    * rows like `guarded`. Unlike `guarded` it KEEPS singleton buckets
    * — in a band-blocked join a lone member still pairs with rows
    * from other bands, so size-1 is not skippable there. One window
    * shuffle on the bucket keys, no collect.
    */
  private[ops] def rowGuarded(df: DataFrame, keys: Seq[String], maxBucket: Int,
                              metric: String): DataFrame = {
    val spark = df.sparkSession
    val g = Guard(
      spark.sparkContext.longAccumulator(s"$metric.dropped_buckets"),
      spark.sparkContext.longAccumulator(s"$metric.dropped_rows"))
    guards.put(metric, g)
    warnedAt.remove(metric)
    install(spark)
    // Shape matters more than it looks: the original form was a
    // window count over the full frame + a per-row UDF filter, which
    // (a) SORTS the whole relation inside the bucket exchange and
    // (b) hides statistics, so a join consuming the guarded side
    // degrades to a sort-merge join whose many-to-many buffered-pair
    // scan measured ~15× slower than the broadcast-hash plan on the
    // SAME pair count (1.1 s vs 16.9 s for 9M scored pairs,
    // BASELINE.md round 9, "guard-shape finding"). This form aggregates bucket SIZES (bucket-
    // cardinality rows, UDF evaluated once per bucket for the drop
    // accumulators) and semi-joins the keep set back — AQE broadcasts
    // the kept-keys frame when it fits, leaving the data side a pure
    // scan with its stats intact.
    val keep = udf { (n: Long) =>
      if (n > maxBucket) { g.buckets.add(1L); g.rows.add(n); false }
      else true
    }
    // Null-bucket semantics without the null-safe-join plan tax.
    // Round 10 wrote the semi-join as `col(k) <=> col(grd_k)` so the
    // NULL bucket (which groupBy forms and the guard must bound like
    // any other) would survive the join — and that one change was the
    // round-10 bench's "heavy tail regression": solo A/B at sf0.1
    // puts cf01 at 3.1 s with the plain equi semi-join vs 5.0 s
    // null-safe / 5.8 s struct-keyed, cf02 at 4.4 vs 7.6/8.0 s (both
    // forms trade the single-long-key broadcast hash relation and the
    // inferred IsNotNull scan pushdown for composite keys). So:
    // SPLIT. Rows with all keys non-null — the bulk — take exactly
    // the r9 equi-join plan; rows with a null key (usually zero of
    // them) form their buckets on a frame that is itself tiny, where
    // the null-safe join costs nothing. Each aggregate feeds exactly
    // one consumer, so the drop accumulators still count each dropped
    // bucket once.
    val nn = keys.map(col(_).isNotNull).reduce(_ && _)
    val bulk = df.filter(nn)
    val kept = bulk.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__g_n"))
      .filter(keep(col("__g_n")))
      .select(keys.map(col): _*)
    val fast = bulk.join(kept, keys, "left_semi")
    val nulls = df.filter(!nn)
    val keptNull = nulls.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__g_n"))
      .filter(keep(col("__g_n")))
      .select(keys.map(k => col(k).as(s"__grd_$k")): _*)
    val slow = nulls.join(keptNull,
      keys.map(k => col(k) <=> col(s"__grd_$k")).reduce(_ && _),
      "left_semi")
    fast.unionByName(slow)
  }

  /** Bucket-size guard over a group-collect result with an `m` array
    * column: keeps buckets of size 2..maxBucket (as before), counts
    * what the upper bound drops.
    */
  private[ops] def guarded(grouped: DataFrame, maxBucket: Int, metric: String): DataFrame =
    guardedBySize(grouped, size(col("m")), maxBucket, metric)

  /** Same guard over an explicit member-count column — for buckets whose
    * members are split across several collected arrays (e.g. the
    * two-sided incremental near-dup buckets), where the dropped-rows
    * count must still cover ALL members, not one array's.
    */
  private[ops] def guardedBySize(grouped: DataFrame, szCol: Column,
                                 maxBucket: Int, metric: String): DataFrame = {
    val spark = grouped.sparkSession
    val g = Guard(
      spark.sparkContext.longAccumulator(s"$metric.dropped_buckets"),
      spark.sparkContext.longAccumulator(s"$metric.dropped_rows"))
    guards.put(metric, g)
    warnedAt.remove(metric)
    install(spark)
    val keep = udf { (sz: Int) =>
      if (sz > maxBucket) { g.buckets.add(1L); g.rows.add(sz.toLong); false }
      else sz > 1
    }
    grouped.filter(keep(szCol))
  }
}
