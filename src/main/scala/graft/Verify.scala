package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, transform}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Canonicalize IEEE signed zero (`-0.0` → `+0.0`) in every float
    * column before the dump. The driver's compare hashes raw bytes,
    * where the two zeros differ; which one Spark emits for an
    * ulp-sized rounded residual is partition-order-dependent (the
    * round-9 ft02/ts02 red rows). `x + 0.0` is the IEEE-sanctioned
    * normalization and a no-op for every other value (NULL and NaN
    * propagate). Oracle SQL carries the mirrored `+ 0.0` wherever
    * DuckDB itself can emit `-0.0` (see ops/Portability.scala).
    */
  private[graft] def canonicalizeZeros(df: DataFrame): DataFrame = {
    val needsFix = df.schema.fields.exists(f => f.dataType match {
      case DoubleType | FloatType | ArrayType(DoubleType, _) |
           ArrayType(FloatType, _) => true
      case _ => false
    })
    if (!needsFix) df
    else df.select(df.schema.fields.map { f =>
      (f.dataType match {
        case DoubleType => col(f.name) + lit(0.0)
        case FloatType => (col(f.name) + lit(0.0f)).cast(FloatType)
        case ArrayType(DoubleType, _) =>
          transform(col(f.name), x => x + lit(0.0))
        case ArrayType(FloatType, _) =>
          transform(col(f.name), x => (x + lit(0.0f)).cast(FloatType))
        case _ => col(f.name)
      }).as(f.name)
    }.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (local iteration)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try canonicalizeZeros(fn(spark, sfDir)).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop persisted blocks a finished query left behind (inline-
      // unpersistable operator caches, flat()'s localCheckpoints):
      // 296 sequential gates in one JVM otherwise accumulate them and
      // starve later gates' execution memory (Bench has the same
      // hygiene, with the rationale). clearCache first so the
      // CacheManager entry dies with its blocks — a stale entry makes
      // the next identical .persist() a silent no-op (r11 ADVICE).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
