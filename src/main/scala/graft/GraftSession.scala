package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entry point (Bench, Verify,
  * PlanDump, Demo) and the test suites build their session
  * here, so the plans they run are the benched plans.
  * The native `graft_*` functions need no set-up: Spark loads
  * [[graft.functions.GraftExtensions]] from the classpath
  * (META-INF/services) into every session it builds.
  */
object GraftSession {
  /** Local cores and shuffle partitions (`SPARK_GRAFT_CPUS`, default 4). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.parquet's timestamps are naive micros (isAdjustedToUTC=
      // false); read them as LTZ, which Tables.load and the oracles expect
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // 16000, not the default 100: a two-pass registry run compiles
      // more than 8000 generated stages, and with a small janino cache
      // the heavyweight projections (LSH hyperplanes, minhash aggregates)
      // are evicted between passes and re-pay multi-second compiles, so
      // a pass measures the cache, not the query. A same-session A/B
      // read ~5% median per-query in favour of 16000 over 8000.
      .config("spark.sql.codegen.cache.maxEntries", "16000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
