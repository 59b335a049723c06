package graft.ops

import org.apache.spark.sql.DataFrame

/** Eager lineage truncation and the one round loop every iterative
  * operator runs on. `flat` checkpoints to the configured dir when one
  * exists (cluster-safe), localCheckpoint otherwise, and rebuilds from
  * the materialized RDD so downstream consumers reuse blocks instead
  * of re-running the chain, and so LogicalRDD's carried originStats
  * reset: a loop that joins its state with an aggregate of itself
  * otherwise squares sizeInBytes every round, until join-size
  * estimation burns whole seconds in BigInteger.multiply (measured on
  * an earlier connected-components loop: rounds 17→24 went 0.5 s →
  * 446 s total at sf0.1).
  */
object Flat {

  def flat(df: DataFrame): DataFrame = releasable(df)._1

  /** flat() plus a release handle that drops the materialized blocks.
    *
    * Call the handle only once every consumer of the returned frame
    * has finished: the lineage is truncated, so released blocks cannot
    * be recomputed. Without the release, every round's blocks stay
    * pinned until the driver-side RDD object is garbage-collected (the
    * ContextCleaner's contract), which in a multi-query session
    * accumulates storage and shows up as GC time for everything
    * downstream (r19 verdict #2: jvm_gc_ms 4 s → 57 s). Releasing a
    * reliable (dir-backed) checkpoint is a no-op beyond dropping any
    * cache of it — the files stay until context shutdown.
    */
  def releasable(df: DataFrame): (DataFrame, () => Unit) = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(true)
      else df.localCheckpoint(true)
    val out = df.sparkSession.createDataFrame(cp.rdd, cp.schema)
    val release: () => Unit = () => cp.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
    (out, release)
  }

  /** Runs `step` for at most `maxRounds` rounds from `init` and returns
    * (final state, rounds run, last observed count).
    *
    * Each round flat-checkpoints `step`'s next state, so round N's plan
    * never nests round N−1's, and releases the previous round's blocks
    * once the next one is materialized. `init` is read as-is by round 1
    * and never checkpointed, so a seed costs no job of its own.
    *
    * With `observed` empty the loop runs exactly `maxRounds` rounds and
    * the count is 0. Otherwise `step` tags each metric in `observed`
    * with `Dataset.observe`, its first field a count, and the loop
    * stops after the first round whose counts sum to 0. The counts are
    * collected by the round's own checkpoint job, so convergence costs
    * no extra job. A missing metric reads as 0: AQE drops a
    * CollectMetrics node when it prunes a subtree it found empty. That
    * is sound only where the counted rows themselves must be empty, so
    * observe above every join of the round: a join whose other side
    * comes back empty prunes this side too, counted rows and all. A
    * retried task can count twice: the count is exact only as zero
    * versus nonzero.
    */
  def iterate(init: DataFrame, maxRounds: Int, observed: Seq[String] = Nil)
             (step: DataFrame => DataFrame): (DataFrame, Int, Long) = {
    var (state, release) = (init, () => ())
    var (rounds, last) = (0, 0L)
    var converged = false
    while (rounds < maxRounds && !converged) {
      val round = step(state)
      val (next, releaseNext) = releasable(round)
      val metrics = round.queryExecution.observedMetrics
      last = observed.map(metrics.get(_).fold(0L)(_.getLong(0))).sum
      converged = observed.nonEmpty && last == 0L
      release() // next is materialized — the previous round is dead
      state = next; release = releaseNext
      rounds += 1
    }
    (state, rounds, last)
  }
}
