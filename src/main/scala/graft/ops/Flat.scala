package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared eager lineage-truncation helper (the Dedup/Graph/Profile
  * `flat` pattern, centralized in r20 so iterative loops can RELEASE a
  * superseded round's checkpoint blocks): checkpoint to the configured
  * dir when one exists (cluster-safe), localCheckpoint otherwise;
  * rebuild from the materialized RDD so downstream consumers reuse
  * blocks instead of re-running the chain, and so LogicalRDD's carried
  * originStats reset: a loop that joins its state with an aggregate of
  * itself otherwise squares sizeInBytes every round, until join-size
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
    * be recomputed. Iterative loops use it to free round N−1 the
    * moment round N is eagerly materialized — without the release,
    * every round's blocks stay pinned until the driver-side RDD object
    * is garbage-collected (the ContextCleaner's contract), which in a
    * multi-query session accumulates storage and shows up as GC time
    * for everything downstream (r19 verdict #2: jvm_gc_ms 4 s → 57 s).
    * Releasing a reliable (dir-backed) checkpoint is a no-op beyond
    * dropping any cache of it — the files stay until context shutdown.
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
}
