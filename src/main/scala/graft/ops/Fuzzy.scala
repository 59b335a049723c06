package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy string matching for entity resolution: pairs within a
  * bounded edit distance, found WITHOUT a cartesian product.
  *
  * Blocking: edit distance ≥ length difference, so a pair with
  * lev ≤ k always lies within a k-length band — replicating one side
  * into its 2k+1 candidate lengths turns the band into an EQUI-join
  * on length (the same trick as Temporal.rangeJoin's time buckets),
  * and the blocking is COMPLETE: no qualifying pair is missed. Within
  * a band the verifier is the exact levenshtein (codegen built-in).
  * At web scale, length bands alone leave hot bands (most strings are
  * average-length); compose with additional equi-blocks (first
  * q-gram, PassJoin-style segments) via `extraBlock` — completeness
  * then depends on the chosen block, which is the standard
  * recall/cost dial every ER system exposes.
  */
object Fuzzy {

  /** Distinct-value self-join: pairs (a < b) of `column` values with
    * levenshtein(a, b) <= maxDist. `extraBlock` optionally adds an
    * equi-block expression evaluated on the value (e.g.
    * `substring(_, 1, 1)`) to subdivide hot bands.
    *
    * `maxBucket` is the quadratic guard (same contract as the Dedup/
    * Similarity family): a (length[, block]) bucket holding more than
    * maxBucket distinct values on the UNBANDED side is dropped whole
    * — its pairs would cost O(bucket²) — and the drop is counted via
    * the `graft.fuzzy_pairs.drops` observed metric, never silent.
    * Only the unbanded side is filtered: the within-bucket pairs (the
    * quadratic cost) all verify against a b-row of the hot length, so
    * they are all eliminated, while a hot-bucket VALUE still pairs
    * across bands whenever its partner's length bucket is cold.
    */
  def fuzzyPairs(df: DataFrame, column: String, maxDist: Int,
                 extraBlock: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None,
                 maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val names = df.select(col(column).as("__fz_val")).filter(col("__fz_val").isNotNull).distinct()
    def blocked(side: String, banded: Boolean) = {
      val v = col("__fz_val").as(side)
      val base = names.select(v)
      val withLen =
        if (banded) base.withColumn("__fz_len",
          explode(sequence(length(col(side)) - maxDist, length(col(side)) + maxDist)))
        else base.withColumn("__fz_len", length(col(side)))
      extraBlock.foldLeft(withLen)((d, f) => d.withColumn("__fz_blk", f(col(side))))
    }
    val joinKeys = "__fz_len" +: extraBlock.map(_ => "__fz_blk").toSeq
    val a = blocked("name_a", banded = true)
    val b = OpsMetrics.rowGuarded(blocked("name_b", banded = false),
      joinKeys, maxBucket, "graft.fuzzy_pairs.drops")
    a.join(b, joinKeys)
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"))
  }

  /** Jaro-Winkler record-linkage pairs (fz02): candidate pairs from
    * PREFIX blocking (equal first `blockPrefix` characters — the
    * canonical JW blocking key, since the Winkler boost already says
    * prefix agreement is the signal; cross-prefix near-matches are the
    * documented recall trade, as with every blocked matcher here),
    * scored by the native codegen'd JaroWinkler expression and cut at
    * `minSim`. Block sizes are maxBucket-guarded with counted drops
    * (the fuzzyPairs discipline). The scorer is cross-checked against
    * DuckDB's independent jaro_winkler_similarity — bit-identical
    * doubles, not a tolerance.
    */
  def jaroWinklerPairs(df: DataFrame, column: String, minSim: Double,
                       blockPrefix: Int = 2,
                       maxBucket: Int = 10000): DataFrame = {
    require(minSim > 0 && minSim <= 1, s"minSim out of range: $minSim")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1: $blockPrefix")
    val names = df.select(col(column).as("__v"))
      .filter(col("__v").isNotNull).distinct()
      .withColumn("__blk", substring(col("__v"), 1, blockPrefix))
    val a = names.select(col("__v").as("name_a"), col("__blk"))
    val b = OpsMetrics.rowGuarded(
      names.select(col("__v").as("name_b"), col("__blk")),
      Seq("__blk"), maxBucket, "graft.jw_pairs.drops")
    a.join(b, Seq("__blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("sim", graft.functions.SimilarityFunctions
        .jaro_winkler(col("name_a"), col("name_b")))
      .filter(col("sim") >= minSim)
      .select(col("name_a"), col("name_b"), round(col("sim"), 6).as("sim"))
  }

  /** One field comparator for `fellegiSunter`: `agree` evaluates over
    * the joined pair frame (reference columns as `col("a_<f>")` /
    * `col("b_<f>")`); m = P(agree | match), u = P(agree | non-match)
    * are the published model's conditional probabilities — weights
    * derive from them as CONSTANT literals, never per-row floats.
    */
  final case class LinkField(name: String,
                             agree: org.apache.spark.sql.Column,
                             m: Double, u: Double) {
    require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
      s"need 0 < u < m < 1 for $name: m=$m u=$u")
    def agreeWeight: Double = math.log(m / u) / math.log(2.0)
    def disagreeWeight: Double = math.log((1 - m) / (1 - u)) / math.log(2.0)
  }

  /** Fellegi–Sunter probabilistic record linkage (er01) — the
    * published ER decision model (Fellegi & Sunter 1969; the engine
    * behind Splink/RecordLinkage): candidate pairs from an equi-BLOCK
    * join, a per-field agreement vector, and a total log₂-likelihood
    * score Σ_f (agree ? log₂(m/u) : log₂((1−m)/(1−u))); pairs at or
    * above `threshold` are links. Complements fuzzyPairs/jwPairs:
    * those find SIMILAR STRINGS, this classifies RECORD pairs from
    * multiple weighted fields.
    *
    * Scale shape: the pair generator is one equi-join on the blocking
    * key — maxBlock rowGuards the b-side (blocks over the cap dropped
    * and counted in `graft.linkage.drops`, the fuzzyPairs contract) —
    * and the score is a chain of literal-weighted CASEs at scan speed
    * on the joined frame. Both inputs are projected to (id, block,
    * fields) BEFORE the join so the shuffle never carries unused
    * columns. All weights are Scala-constant literals, so an oracle
    * replays the score bit-for-bit with the same double literals.
    *
    * Input columns are taken by NAME: both frames need `idCol`,
    * `blockCol`, and every field referenced by the comparators; the
    * joined frame exposes them as `a_<name>` / `b_<name>`.
    */
  def fellegiSunter(a: DataFrame, b: DataFrame, idCol: String,
                    blockCol: String, fields: Seq[LinkField],
                    fieldCols: Seq[String], threshold: Double,
                    maxBlock: Int = 10000): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter needs at least one field")
    def side(df: DataFrame, p: String) = df.select(
      (Seq(col(idCol).as(s"${p}_$idCol"), col(blockCol).as("__blk")) ++
        fieldCols.map(f => col(f).as(s"${p}_$f"))): _*)
    // Parallelism floor on the STREAMED side: when the probe relation
    // is a small-file scan (1-2 partitions), the broadcast pair join
    // runs its whole candidate loop on those few threads — measured
    // 18 s vs ~4 s at sf0.1 for the identical 10M-pair work. A huge
    // probe side already has enough partitions and skips the shuffle.
    val left0 = side(a, "a")
    val par = a.sparkSession.sparkContext.defaultParallelism
    val left =
      if (left0.rdd.getNumPartitions < par) left0.repartition(par) else left0
    val right = OpsMetrics.rowGuarded(side(b, "b"), Seq("__blk"),
      maxBlock, "graft.linkage.drops")
    val joined = left.join(right, Seq("__blk"))
    val flagged = fields.foldLeft(joined) { (df, f) =>
      df.withColumn(s"agree_${f.name}", f.agree)
    }
    val score = fields.map(f =>
      when(col(s"agree_${f.name}"), lit(f.agreeWeight))
        .otherwise(lit(f.disagreeWeight))).reduce(_ + _)
    flagged
      .withColumn("score", round(score, 4))
      .filter(col("score") >= threshold)
      .select((Seq(col(s"a_$idCol"), col(s"b_$idCol")) ++
        fields.map(f => col(s"agree_${f.name}")) :+
        col("score")): _*)
  }
}
