package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order statistics and model-evaluation metrics that classically ask
  * for a GLOBAL rank — AUC, Kolmogorov-Smirnov, weighted quantiles —
  * computed without the single-partition window Spark would otherwise
  * plan for `Window.orderBy(v)` (the scale-killer the url01 review
  * flagged: every row through ONE task).
  *
  * The shared trick is a two-level prefix sum over DETERMINISTIC
  * width_bucket bins: per-bucket subtotals are a bounded frame (≤
  * buckets+2 rows — collected to the driver like the k-means /
  * correlations bounded collects), exclusive bucket offsets come back
  * as a broadcast join, and the within-bucket cumulative runs as a
  * window PARTITIONED BY bucket — parallel across buckets, so no stage
  * sees more than one bucket's rows in one task. Exact counts in, exact
  * cumulative counts out; the only approximation anywhere is the bucket
  * WIDTH (load balance), never the statistic.
  */
object Stats {

  /** Exclusive global cumulative sums per distinct value of `valueCol`,
    * for each counter in `countCols`, added as `cum_<c>_below` columns.
    *
    * Input contract: `perValue` has ONE row per distinct value (the
    * caller's groupBy); counters are non-null longs. Values must be
    * non-null. Output keeps every input column.
    */
  def cumCountsByValue(perValue: DataFrame, valueCol: String,
                       countCols: Seq[String], buckets: Int = 1024): DataFrame = {
    require(countCols.nonEmpty, "cumCountsByValue needs at least one counter")
    // Bucketing casts the key to double (monotonic for numerics and
    // timestamps) and within-bucket ordering uses the native column —
    // both must agree. For string/date keys the cast is null or
    // lexicographic-vs-numeric inconsistent: the empty-input early
    // return below would then silently hand EVERY key cum=0 (dense_id
    // 1, file_id 0 for all rows in denseIds/packPlan). Fail fast.
    perValue.schema(valueCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case org.apache.spark.sql.types.TimestampType => ()
      case org.apache.spark.sql.types.BooleanType => ()
      case t => throw new IllegalArgumentException(
        s"cumCountsByValue needs a numeric/timestamp key whose double cast " +
        s"preserves order; '$valueCol' is $t — cast or map the key first " +
        s"(e.g. unix_micros for timestamps, a dictionary join for strings)")
    }
    val spark = perValue.sparkSession
    val mm = perValue.agg(
      min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi")).head
    if (mm.isNullAt(0)) return perValue.select(
      (perValue.columns.map(col) ++ countCols.map(c => lit(0L).as(s"cum_${c}_below"))).toSeq: _*)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    // width_bucket sends v==hi to buckets+1; fold it into the last bin
    val bucketed =
      if (lo == hi) perValue.withColumn("__bkt", lit(1L))
      else perValue.withColumn("__bkt",
        least(width_bucket(col(valueCol).cast("double"), lit(lo), lit(hi), lit(buckets)),
          lit(buckets.toLong)))
    // bounded frame: ≤ buckets rows → driver-side exclusive prefix scan
    val aggExprs = countCols.map(c => sum(col(c)).as(s"t_$c"))
    val subtotals = bucketed.groupBy(col("__bkt")).agg(aggExprs.head, aggExprs.tail: _*)
    val totals: Array[Row] = subtotals.collect().sortBy(_.getLong(0))
    val running = scala.collection.mutable.Map(countCols.map(_ -> 0L): _*)
    val offsetRows = totals.map { r =>
      val off = countCols.zipWithIndex.map { case (c, i) =>
        val v = running(c); running(c) += r.getLong(1 + i); v
      }
      Row.fromSeq(r.getLong(0) +: off)
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__bkt", org.apache.spark.sql.types.LongType) +:
      countCols.map(c => org.apache.spark.sql.types.StructField(
        s"off_$c", org.apache.spark.sql.types.LongType)))
    val offs = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows.toIndexedSeq, 1), offSchema)
    val w = Window.partitionBy(col("__bkt")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = countCols.foldLeft(bucketed) { (df, c) =>
      df.withColumn(s"__w_$c", coalesce(sum(col(c)).over(w), lit(0L)))
    }
    val joined = within.join(broadcast(offs), Seq("__bkt"))
    val out = countCols.foldLeft(joined) { (df, c) =>
      df.withColumn(s"cum_${c}_below", col(s"off_$c") + col(s"__w_$c"))
        .drop(s"off_$c", s"__w_$c")
    }
    out.drop("__bkt")
  }

  /** Exact ROC AUC of `score` against boolean `label`, with the
    * standard average-rank tie handling — via the closed form
    * AUC = Σ_s n_pos(s)·(N_neg_below(s) + n_neg(s)/2) / (P·N), which
    * needs only per-distinct-score counts plus the bucketed prefix
    * sum above (counts are integers, so the ratio is bit-exact across
    * engines). One row out: n_pos, n_neg, auc.
    */
  def auc(df: DataFrame, score: Column, label: Column,
          buckets: Int = 1024): DataFrame = {
    val perScore = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(score.cast("double").as("s"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(when(label, 0L).otherwise(1L)).as("n_neg"))
    val cum = cumCountsByValue(perScore, "s", Seq("n_pos", "n_neg"), buckets)
    cum.agg(
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos") * (col("cum_n_neg_below") + col("n_neg") / 2.0)).as("u"))
      .select(col("n_pos"), col("n_neg"),
        // cast before the product: P·N overflows long at ~3e9 rows/side
        round(col("u") / (col("n_pos").cast("double") * col("n_neg")), 6).as("auc"))
  }

  /** Exact average precision (ev16) — the area under the
    * precision-recall STEP function at every distinct-score
    * threshold: AP = Σ_s (ΔTP_s / P) · (TP_s / PP_s) over thresholds
    * descending, the same convention as the standard step-wise AP
    * (no interpolation). The PR-curve's scalar companion to ev01's
    * AUC: AUC ranks, AP weights the top of the ranking — the metric
    * of record for imbalanced retrieval.
    *
    * Same machinery as auc: per-distinct-score counts + the bucketed
    * prefix sum; totals fold back as literals (ksTest's pattern — no
    * unpartitioned window). One row out: n_pos, n_neg,
    * average_precision.
    */
  /** Krippendorff's alpha, nominal data (ev18): chance-corrected
    * agreement over any number of raters with missing ratings allowed
    * — the reliability statistic an RLHF / labeling pipeline reports
    * before trusting a batch of human (or LLM-judge) labels. ev10's
    * kappa handles exactly two fixed raters; alpha is the general
    * form, and α ≥ 0.8 is the conventional "publishable" bar.
    *
    * Computed from the coincidence-matrix identities, never pairs:
    * per item the disagreeing ordered pair count is nᵢ² − Σ_c m²_ic,
    * weighted 1/(nᵢ−1); margins n_c are plain value counts over
    * pairable items; α = 1 − (n−1)·Σᵢ[(nᵢ²−sqᵢ)/(nᵢ−1)] /
    * (n² − Σ_c n_c²). Scale shape: two keyed aggregates (item-value,
    * then item) plus one value-keyed aggregate — everything integer
    * until the final division.
    */
  def krippendorffAlpha(df: DataFrame, item: Column,
                        value: Column): DataFrame = {
    val m = df.select(item.as("i"), value.cast("string").as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("i"), col("c")).agg(count(lit(1)).as("m"))
    val byItem = m.groupBy(col("i"))
      .agg(sum(col("m")).as("ni"), sum(col("m") * col("m")).as("sq"))
      .filter(col("ni") >= 2)
    val dObs = byItem.agg(
      sum((col("ni") * col("ni") - col("sq")).cast("double") /
        (col("ni") - 1)).as("dsum"),
      sum(col("ni")).as("n"), count(lit(1)).as("n_items"))
    // category margins and the grand total square in DOUBLE (cast
    // BEFORE the long×long products — the auc/mannWhitneyU overflow
    // convention): nc and n scale with the corpus, so nc² / n² blow
    // past Long at billion-rating jobs under ANSI. Per-item ni/m stay
    // exact integers — raters per item is small by construction.
    val nc = m.join(byItem.select(col("i")), "i")
      .groupBy(col("c")).agg(sum(col("m")).as("nc"))
      .agg(sum(col("nc").cast("double") * col("nc")).as("sq_nc"),
        count(lit(1)).as("n_categories"))
    dObs.crossJoin(nc)
      .select(col("n_items"), col("n"), col("n_categories"),
        Portability.zround(lit(1.0) - col("dsum") * (col("n") - 1) /
          (col("n").cast("double") * col("n") - col("sq_nc")), 6).as("alpha"))
  }

  /** Rank-biased overlap at depth k (ev19, Webber et al. 2010): the
    * top-weighted similarity of two rankings — THE statistic for "did
    * swapping the quality scorer / retriever reorder what actually
    * matters?", where Kendall/Spearman (ev06/ev15) weight every
    * position equally and top-k set overlap ignores order. RBO@k =
    * (1−p)·Σ_{d≤k} p^{d−1}·|A_:d ∩ B_:d|/d; p = 0.9 puts ~86% of the
    * weight in the top 10.
    *
    * Scale shape: each side reduces to its top-k via distributed
    * take-ordered (never a global rank window over the corpus); all
    * downstream work — the rank join, the depth grid, the weighted
    * sum — happens on ≤k-row frames. Inputs: two (id, score) frames;
    * ties break to smaller id on both sides.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int = 50,
                        p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1: $k")
    require(p > 0 && p < 1, s"p out of (0,1): $p")
    def ranks(df: DataFrame, rc: String): DataFrame = {
      val top = df.select(col("id"), col("score").cast("double").as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(k)
      // the window runs on the ≤k-row take-ordered result, never the corpus
      top.withColumn(rc,
        row_number().over(Window.orderBy(col("s").desc, col("id").asc)))
        .select(col("id"), col(rc))
    }
    val joined = ranks(a, "ra").join(ranks(b, "rb"), "id")
      .select(col("id"), greatest(col("ra"), col("rb")).as("d_enter"))
    val depths = a.sparkSession.range(1, k + 1).select(col("id").as("d"))
    val agreement = broadcast(depths).join(joined,
        col("d_enter") <= col("d"), "left")
      .groupBy(col("d"))
      .agg(count(col("d_enter")).as("overlap"))
    agreement
      .agg(Portability.zround(sum(
          pow(lit(p), col("d") - 1) * col("overlap") / col("d")) * (1 - p), 6)
          .as("rbo"),
        max(when(col("d") === k, col("overlap"))).as("overlap_at_k"))
      .select(lit(k).as("k"), lit(p).as("p"), col("rbo"),
        col("overlap_at_k"))
  }

  def averagePrecision(df: DataFrame, score: Column, label: Column,
                       buckets: Int = 1024): DataFrame = {
    val perScore = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(score.cast("double").as("s"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(when(label, 0L).otherwise(1L)).as("n_neg"))
    val t = perScore.agg(sum(col("n_pos")).as("p"), sum(col("n_neg")).as("n")).head
    val (p, n) = (t.getLong(0), t.getLong(1))
    require(p > 0, s"averagePrecision needs at least one positive (got $p)")
    val cum = cumCountsByValue(perScore, "s", Seq("n_pos", "n_neg"), buckets)
    val tp = lit(p) - col("cum_n_pos_below")
    val pp = lit(p + n) - col("cum_n_pos_below") - col("cum_n_neg_below")
    cum.filter(col("n_pos") > 0)
      .agg(sum(col("n_pos").cast("double") / p *
        (tp.cast("double") / pp)).as("__ap"))
      .select(lit(p).as("n_pos"), lit(n).as("n_neg"),
        (round(col("__ap"), 6) + lit(0.0)).as("average_precision"))
  }

  /** Exact two-sample Kolmogorov-Smirnov distance between the `value`
    * distributions of rows where `isA` vs not. Both empirical CDFs are
    * step functions jumping only at observed values, so evaluating the
    * inclusive CDFs at every distinct value and taking the max gap is
    * the exact statistic. Output: n_a, n_b, ks_stat, ks_at (the
    * smallest value attaining the max — deterministic argmax).
    */
  def ksTest(df: DataFrame, value: Column, isA: Column,
             buckets: Int = 1024): DataFrame = {
    val perValue = df.filter(value.isNotNull)
      .groupBy(value.cast("double").as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA, 0L).otherwise(1L)).as("n_b"))
    val cum = cumCountsByValue(perValue, "v", Seq("n_a", "n_b"), buckets)
    // totals as a scalar aggregate folded back as literals — NOT an
    // unpartitioned `sum().over()` (the url01 lesson: that plan routes
    // every row through one task)
    val t = perValue.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb")).head
    val (ta, tb) = (t.getLong(0), t.getLong(1))
    require(ta > 0 && tb > 0, s"ksTest needs both samples non-empty (got $ta/$tb)")
    cum.select(col("v"),
        abs((col("cum_n_a_below") + col("n_a")).cast("double") / ta -
            (col("cum_n_b_below") + col("n_b")).cast("double") / tb).as("gap"))
      .agg(max(struct(round(col("gap"), 9).as("g"), (-col("v")).as("nv"))).as("m"))
      .select(lit(ta).as("n_a"), lit(tb).as("n_b"),
        round(col("m.g"), 6).as("ks_stat"),
        round(-col("m.nv"), 6).as("ks_at"))
  }

  /** Calibration audit: equal-width bins over the score range, each
    * bin reporting its mean normalized confidence vs the observed
    * positive rate. The bin index uses the EXPLICIT floor formula
    * (not width_bucket) so an oracle can reproduce it bit-for-bit;
    * range comes from one scalar aggregate folded back as literals.
    */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
                      bins: Int = 10): DataFrame = {
    val base = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("s"), when(label, 1L).otherwise(0L).as("y"))
    val mm = base.agg(min(col("s")).as("lo"), max(col("s")).as("hi")).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val bin =
      if (lo == hi) lit(1L)
      else least(floor((col("s") - lo) / (hi - lo) * bins) + 1, lit(bins.toLong))
        .cast("long")
    base.withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg((col("s") - lo) / (hi - lo)), 4).as("mean_conf"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6).as("pos_rate"))
      .orderBy(col("bin"))
  }

  /** Per-query NDCG@k over (query, item, score, graded relevance):
    * ranking by score desc / item asc (deterministic), ideal ranking
    * by relevance desc. Both DCG sums run over ≤k rows per query —
    * the windows are partitioned by query, so ranking a trillion-row
    * impression log shuffles once on the query key.
    */
  def ndcgAtK(df: DataFrame, query: Column, item: Column, score: Column,
              rel: Column, k: Int = 10): DataFrame = {
    val base = df.select(query.as("q"), item.as("it"),
      score.cast("double").as("sc"), rel.cast("double").as("rel"))
    val wS = Window.partitionBy(col("q")).orderBy(col("sc").desc, col("it").asc)
    val wI = Window.partitionBy(col("q")).orderBy(col("rel").desc, col("it").asc)
    val gain = (c: Column) => (pow(lit(2.0), col("rel")) - 1.0) / log(2.0, c + 1.0)
    val ranked = base
      .withColumn("rn", row_number().over(wS))
      .withColumn("irn", row_number().over(wI))
    val dcg = ranked.filter(col("rn") <= k).groupBy(col("q"))
      .agg(sum(gain(col("rn"))).as("dcg"))
    val idcg = ranked.filter(col("irn") <= k).groupBy(col("q"))
      .agg(sum(gain(col("irn"))).as("idcg"))
    dcg.join(idcg, Seq("q"))
      .select(col("q"), round(col("dcg"), 4).as("dcg"),
        round(col("idcg"), 4).as("idcg"),
        round(when(col("idcg") === 0.0, 0.0)
          .otherwise(col("dcg") / col("idcg")), 4).as("ndcg"))
  }

  /** Reciprocal-rank fusion (rrf01, Cormack et al. 2009): merge
    * per-query rankings from heterogeneous retrievers (BM25 lexical,
    * embedding ANN, ...) by summing 1/(k + rank) — the standard
    * hybrid-retrieval combiner in RAG stacks, robust because it needs
    * no score calibration across systems. Input frames carry
    * (q, item, rank); absent items simply contribute nothing from
    * that ranking. One union + one (q, item) aggregate + a per-query
    * top-N window — all keyed by query. Ties break on item ascending.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
              topN: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && topN >= 1, s"bad args: k=$k topN=$topN")
    val u = rankings.map(_.select(col("q"), col("item"), col("rank")))
      .reduce(_ unionByName _)
    val scored = u.groupBy(col("q"), col("item"))
      .agg(sum(lit(1.0) / (lit(k) + col("rank"))).as("rrf"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("rrf"), 9).desc, col("item").asc)
    scored.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topN)
      .select(col("q"), col("fused_rank"), col("item"), col("n_lists"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Deterministic Poisson-style bootstrap CI (ev07, the Google
    * "Poisson bootstrap" shape): per replicate r, every row gets an
    * md5-derived Binomial(16, 1/16) weight (mean 1, var ≈ 0.94 —
    * the streaming stand-in for Poisson(1) resampling, and exactly
    * replayable where an RNG draw is not), each replicate's weighted
    * mean aggregates in ONE pass over the (row × replicate) expand,
    * and the CI is an exact percentile over the `replicates`-row
    * means frame. This is how uncertainty comes out of a corpus-sized
    * metric without ever materializing resampled datasets.
    */
  def poissonBootstrap(df: DataFrame, key: Column, value: Column,
                       replicates: Int = 100, lo: Double = 0.05,
                       hi: Double = 0.95): DataFrame = {
    require(replicates >= 10 && replicates <= 10000,
      s"replicates out of range: $replicates")
    require(lo > 0 && hi < 1 && lo < hi, s"bad CI bounds: $lo/$hi")
    val base = df.filter(value.isNotNull)
      .select(key.cast("string").as("k"), value.cast("double").as("v"))
    val w = lit(16) - length(regexp_replace(
      substring(md5(concat(col("r").cast("string"), lit("#"), col("k"))), 1, 16),
      "[^0]", ""))
    val means = base
      .withColumn("r", explode(sequence(lit(1), lit(replicates))))
      .withColumn("w", w)
      .groupBy(col("r"))
      .agg((sum(col("w") * col("v")) / sum(col("w"))).as("m"))
    val overall = base.agg(count(lit(1)).as("n"), avg(col("v")).as("mean")).head
    means.agg(
        expr(s"percentile(m, $lo)").as("ci_lo"),
        expr(s"percentile(m, $hi)").as("ci_hi"),
        stddev_samp(col("m")).as("se"))
      .select(lit(overall.getLong(0)).as("n"),
        round(lit(overall.getDouble(1)), 4).as("mean"),
        round(col("ci_lo"), 4).as("ci_lo"),
        round(col("ci_hi"), 4).as("ci_hi"),
        round(col("se"), 6).as("se"))
  }

  /** Kendall rank correlation τ-a between two per-query rankings
    * (ev06): agreement of two retrievers beyond what RRF's fusion
    * hides — computed over the INTERSECTION of the lists (each side a
    * strict permutation via row_number, so no tie terms), concordant/
    * discordant from a within-query pair join bounded by list length².
    * τ = (C − D) / (n(n−1)/2).
    */
  def kendallTau(a: DataFrame, b: DataFrame): DataFrame = {
    val j = a.select(col("q"), col("item"), col("rank").as("ra"))
      .join(b.select(col("q"), col("item"), col("rank").as("rb")),
        Seq("q", "item"))
    val pairs = j.as("x").join(j.as("y"),
        col("x.q") === col("y.q") && col("x.item") < col("y.item"))
      .select(col("x.q").as("q"),
        (((col("x.ra") < col("y.ra")) === (col("x.rb") < col("y.rb")))
          .cast("long")).as("conc"))
    pairs.groupBy(col("q"))
      .agg(sum(col("conc")).as("concordant"),
        sum(lit(1L) - col("conc")).as("discordant"),
        count(lit(1)).as("n_pairs"))
      .join(j.groupBy(col("q")).agg(count(lit(1)).as("n_items")), Seq("q"))
      .select(col("q"), col("n_items"), col("concordant"), col("discordant"),
        round((col("concordant") - col("discordant")).cast("double") /
          col("n_pairs"), 6).as("tau"))
  }

  /** Benford first-digit audit (dp08): the share of leading digits
    * 1..9 against log₁₀(1 + 1/d) — the fraud/synthetic-data smell
    * test for naturally-spread magnitudes. One aggregate over the
    * scan; output is 9 rows with exact counts, observed shares, the
    * Benford expectation, and each digit's χ² term.
    */
  def benford(df: DataFrame, value: Column): DataFrame = {
    // numeric digit extraction (floor(v / 10^floor(log10 v))) — a
    // string cast would expose engine-specific double formatting
    val v = abs(value).cast("double")
    val digit = floor(v / pow(lit(10.0), floor(log(10.0, v))))
    val counts = df.filter(value.isNotNull && v > 0)
      .select(digit.cast("int").as("d"))
      .filter(col("d").between(1, 9))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n"))).head.getLong(0)
    require(total > 0, "benford: no leading digits found")
    val expected = log(10.0, lit(1.0) + lit(1.0) / col("d").cast("int"))
    counts
      .withColumn("share", col("n").cast("double") / total)
      .withColumn("expected", expected)
      .select(col("d").cast("int").as("digit"), col("n"),
        round(col("share"), 6).as("share"),
        round(col("expected"), 6).as("expected"),
        round(lit(total.toDouble) * (col("share") - col("expected")) *
          (col("share") - col("expected")) / col("expected"), 6).as("chi2_term"))
  }

  /** Ordinary least squares by distributed normal equations: a FIRST
    * pass for the means, a SECOND pass for centered co-moments (the
    * centering avoids the catastrophic cancellation of raw-sum
    * Σxy − n·x̄·ȳ at petabyte row counts), then a (d×d) Gaussian solve
    * on the driver — d is the feature count, never the row count.
    * Returns one row: n, intercept, one `coef_<name>` per feature, r2.
    */
  def linearFit(df: DataFrame, target: Column,
                features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "linearFit needs at least one feature")
    val spark = df.sparkSession
    import spark.implicits._
    val d = features.size
    val base = df.select(
      (target.cast("double").as("__y") +:
        features.zipWithIndex.map { case ((_, c), i) => c.cast("double").as(s"__x$i") }).toSeq: _*)
      .na.drop()
    val meanAggs = avg(col("__y")).as("my") +:
      (0 until d).map(i => avg(col(s"__x$i")).as(s"mx$i"))
    val meansRow = base.agg(count(lit(1)).as("n"), meanAggs: _*).head
    val n = meansRow.getLong(0)
    require(n > d, s"linearFit needs more rows ($n) than features ($d)")
    val my = meansRow.getDouble(1)
    val mx = (0 until d).map(i => meansRow.getDouble(2 + i)).toArray
    val crossAggs =
      (for (i <- 0 until d; j <- i until d) yield
        sum((col(s"__x$i") - mx(i)) * (col(s"__x$j") - mx(j))).as(s"sxx_${i}_$j")) ++
      (0 until d).map(i => sum((col(s"__x$i") - mx(i)) * (col("__y") - my)).as(s"sxy_$i")) :+
      sum((col("__y") - my) * (col("__y") - my)).as("syy")
    val cm = base.agg(crossAggs.head, crossAggs.tail: _*).head
    val sxx = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      sxx(i)(j) = cm.getDouble(k); sxx(j)(i) = cm.getDouble(k); k += 1
    }
    val sxy = (0 until d).map(i => cm.getDouble(k + i)).toArray
    val syy = cm.getDouble(k + d)
    val beta = solve(sxx.map(_.clone()), sxy.clone())
    val intercept = my - (0 until d).map(i => beta(i) * mx(i)).sum
    val sse = syy - (0 until d).map(i => beta(i) * sxy(i)).sum
    val r2 = if (syy == 0.0) 1.0 else 1.0 - sse / syy
    val row = (n, intercept, beta.toSeq, r2)
    Seq(row).toDF("n", "__b0", "__beta", "__r2").select(
      (col("n") +: Portability.zround(col("__b0"), 4).as("intercept") +:
        features.zipWithIndex.map { case ((name, _), i) =>
          Portability.zround(element_at(col("__beta"), i + 1), 4)
            .as(s"coef_$name") } :+
        round(col("__r2"), 6).as("r2")).toSeq: _*)
  }

  /** One-way ANOVA F statistic (sv01): does `value` differ across the
    * groups of `group` more than within them? Two passes for numerical
    * stability (linearFit's discipline): per-group means first, then
    * centered squared deviations — SSW = Σ(x−m_g)², SSB = Σn_g(m_g−m)²,
    * F = (SSB/(k−1)) / (SSW/(N−k)). The group frame is
    * group-cardinality-sized; the per-row pass joins means back on the
    * group key (one keyed shuffle — AQE broadcasts when it fits).
    */
  def anovaF(df: DataFrame, group: Column, value: Column): DataFrame = {
    val base = df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    val means = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), avg(col("v")).as("m_g"))
    val grand = base.agg(count(lit(1)).as("n"), avg(col("v")).as("m")).head
    val (n, m) = (grand.getLong(0), grand.getDouble(1))
    val k = means.count()
    require(k >= 2 && n > k, s"anovaF needs ≥2 groups and n>k (got k=$k n=$n)")
    val ssw = base.join(means, Seq("g"))
      .agg(sum((col("v") - col("m_g")) * (col("v") - col("m_g")))).head.getDouble(0)
    val ssb = means
      .agg(sum(col("n_g") * (col("m_g") - m) * (col("m_g") - m))).head.getDouble(0)
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((k, n, ssb, ssw, f)).toDF("k", "n", "__ssb", "__ssw", "__f")
      .select(col("k"), col("n"), round(col("__ssb"), 4).as("ss_between"),
        round(col("__ssw"), 4).as("ss_within"), round(col("__f"), 4).as("f_stat"))
  }

  /** Best decision-stump split (dt01) — the histogram-based split
    * finder at the heart of distributed GBDT (XGBoost/LightGBM approx
    * mode): bin the feature into `bins` equal-width candidates with
    * ev02's explicit floor formula, aggregate per-bin (n, n_pos) in
    * ONE pass, and pick the boundary maximizing Gini gain. The bin
    * frame (≤ bins rows) is collected — the candidate scan is driver
    * arithmetic on exact integer counts, so an oracle replays it
    * bit-for-bit. Ties: the LOWEST boundary wins.
    *
    * Output row: split_bin (last bin in the left child), threshold,
    * left/right sizes and positives, gain (round 6).
    */
  def stumpSplit(df: DataFrame, feature: Column, label: Column,
                 bins: Int = 32): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins out of range: $bins")
    val base = df.filter(feature.isNotNull && label.isNotNull)
      .select(feature.cast("double").as("x"), when(label, 1L).otherwise(0L).as("y"))
    val mm = base.agg(min(col("x")).as("lo"), max(col("x")).as("hi")).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    require(hi > lo, "stumpSplit needs a non-constant feature")
    val bin = least(floor((col("x") - lo) / (hi - lo) * bins) + 1, lit(bins.toLong))
    val cells = base.withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nTot = cells.map(_._2).sum
    val pTot = cells.map(_._3).sum
    def gini(n: Long, p: Long): Double = {
      val nd = n.toDouble
      1.0 - (p / nd) * (p / nd) - ((n - p) / nd) * ((n - p) / nd)
    }
    val parent = gini(nTot, pTot)
    var cumN = 0L; var cumP = 0L
    var bestBin = -1L; var bestGain = Double.NegativeInfinity
    var bestLeft = (0L, 0L)
    cells.dropRight(1).foreach { case (b, cn, cp) =>
      cumN += cn; cumP += cp
      if (cumN > 0 && cumN < nTot) {
        val gain = parent - cumN.toDouble / nTot * gini(cumN, cumP) -
          (nTot - cumN).toDouble / nTot * gini(nTot - cumN, pTot - cumP)
        // strict > keeps the lowest boundary on exact ties; gains are
        // deterministic doubles (identical integer inputs + IEEE ops),
        // so an oracle's ORDER BY gain DESC, bin ASC matches exactly
        if (gain > bestGain) {
          bestGain = gain; bestBin = b; bestLeft = (cumN, cumP)
        }
      }
    }
    require(bestBin > 0, "no valid split (all rows in one bin)")
    val threshold = lo + (hi - lo) * bestBin / bins
    val spark = df.sparkSession
    import spark.implicits._
    Seq((bestBin, threshold, bestLeft._1, bestLeft._2,
        nTot - bestLeft._1, pTot - bestLeft._2, bestGain))
      .toDF("split_bin", "__t", "n_left", "pos_left", "n_right", "pos_right", "__g")
      .select(col("split_bin"), round(col("__t"), 6).as("threshold"),
        col("n_left"), col("pos_left"), col("n_right"), col("pos_right"),
        round(col("__g"), 6).as("gain"))
  }

  /** Regression error metrics (ev05): RMSE / MAE / R² of a prediction
    * column against truth. Two passes (anovaF's discipline): the truth
    * mean first, then centered residual sums — raw-moment SST at
    * petabyte row counts loses the digits the ratio needs.
    */
  def regressionMetrics(df: DataFrame, truth: Column,
                        prediction: Column): DataFrame = {
    val base = df.select(truth.cast("double").as("y"),
        prediction.cast("double").as("p"))
      .filter(col("y").isNotNull && col("p").isNotNull)
    val my = base.agg(avg(col("y"))).head.getDouble(0)
    base.agg(count(lit(1)).as("n"),
        sum((col("y") - col("p")) * (col("y") - col("p"))).as("sse"),
        sum(abs(col("y") - col("p"))).as("sae"),
        sum((col("y") - my) * (col("y") - my)).as("sst"))
      .select(col("n"),
        round(sqrt(col("sse") / col("n")), 4).as("rmse"),
        round(col("sae") / col("n"), 4).as("mae"),
        round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
  }

  /** Exact precision-recall curve (pr02): one point per distinct
    * score threshold t — tp = positives with score ≥ t, fp = negatives
    * with score ≥ t, precision = tp/(tp+fp), recall = tp/P. Built on
    * `cumCountsByValue` (tp = P − cum_pos_below), so there is NO
    * global-rank window anywhere: the output is bounded by the
    * distinct-score count, the counts are exact integers, and totals
    * fold back as literals (ksTest's discipline).
    */
  def prCurve(df: DataFrame, score: Column, label: Column,
              buckets: Int = 1024): DataFrame = {
    val perScore = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(score.cast("double").as("threshold"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(when(label, 0L).otherwise(1L)).as("n_neg"))
    val t = perScore.agg(sum(col("n_pos")), sum(col("n_neg"))).head
    val (p, n) = (t.getLong(0), t.getLong(1))
    require(p > 0 && n > 0, s"prCurve needs both classes (got $p pos / $n neg)")
    val cum = cumCountsByValue(perScore, "threshold",
      Seq("n_pos", "n_neg"), buckets)
    cum.select(col("threshold"),
        (lit(p) - col("cum_n_pos_below")).as("tp"),
        (lit(n) - col("cum_n_neg_below")).as("fp"))
      .withColumn("precision",
        round(col("tp") / (col("tp") + col("fp")).cast("double"), 6))
      .withColumn("recall", round(col("tp") / lit(p.toDouble), 6))
  }

  /** Cumulative gains / lift chart (ev08): rows ranked by score DESC
    * are cut into `nBins` equal-width rank bins; each bin reports its
    * positives, the cumulative capture rate, and lift vs the base
    * rate — the "top decile catches X% of responders" readout.
    *
    * Determinism: a distinct score's rows land in the bin of their
    * LAST desc-rank position, bin = ceil(nBins·(N−cumBelow)/N) in pure
    * integer arithmetic — score ties never straddle bins by engine
    * whim (the standard ntile() is tie-nondeterministic, which is why
    * it is NOT used). Built on the bucketed prefix sum — no
    * global-rank window; the final cumulative pass runs over ≤ nBins
    * rows (a CONSTANT-size frame, not data-proportional, so its
    * single partition is the dq02 class of acceptable).
    */
  def gainsChart(df: DataFrame, score: Column, label: Column,
                 nBins: Int = 10, buckets: Int = 1024): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins out of range: $nBins")
    val perScore = df.filter(score.isNotNull && label.isNotNull)
      .groupBy(score.cast("double").as("s"))
      .agg(count(lit(1)).as("n"), sum(when(label, 1L).otherwise(0L)).as("n_pos"))
    val t = perScore.agg(sum(col("n")), sum(col("n_pos"))).head
    val (total, p) = (t.getLong(0), t.getLong(1))
    require(p > 0, "gainsChart needs at least one positive")
    val cum = cumCountsByValue(perScore, "s", Seq("n"), buckets)
    // `div` (integer division) keeps the ceil exact — a double
    // division could round x.9999… up across the bin boundary
    val binned = cum.withColumn("bin",
        expr(s"($nBins * (${total}L - cum_n_below) + ${total - 1}L) " +
          s"div ${total}L"))
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("cum_pos") / lit(p.toDouble), 6).as("capture"),
        round((col("n_pos") / col("n").cast("double")) /
          lit(p.toDouble / total), 6).as("lift"))
  }

  /** Exact percentile-rank table (ft05): for every distinct value,
    * SQL's percent_rank — (count of strictly smaller rows)/(N−1) —
    * without a global-rank window (the url01 scale-killer shape):
    * per-value counts then the bucketed prefix sum. Output is one row
    * per DISTINCT value (join back on the value for per-row features);
    * N folds back as a literal.
    */
  def percentileRank(df: DataFrame, value: Column,
                     buckets: Int = 1024): DataFrame = {
    val perValue = df.filter(value.isNotNull)
      .groupBy(value.cast("double").as("v"))
      .agg(count(lit(1)).as("n"))
    val total = perValue.agg(sum(col("n"))).head.getLong(0)
    require(total >= 2, s"percentileRank needs ≥2 rows (got $total)")
    cumCountsByValue(perValue, "v", Seq("n"), buckets)
      .select(col("v"), col("n"),
        round(col("cum_n_below") / lit((total - 1).toDouble), 6)
          .as("pct_rank"))
  }

  /** Per-group linear trend (ft04): slope/intercept/r² of y over x
    * within every group — the per-entity trend feature (is this
    * user's spend rising?). Two passes for numerical stability
    * (linearFit's centering argument, per GROUP): group means, join
    * back (one keyed shuffle; AQE broadcasts the mean frame when it
    * fits), centered co-moments, closed-form slope. Degenerate groups
    * (n < 2 or zero x-variance) yield null slope rather than NaN.
    */
  def groupTrend(df: DataFrame, group: Column, x: Column,
                 y: Column): DataFrame = {
    val base = df.select(group.as("k"), x.cast("double").as("x"),
        y.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val means = base.groupBy(col("k"))
      .agg(avg(col("x")).as("mx"), avg(col("y")).as("my"))
    val cm = base.join(means, Seq("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"),
        sum((col("y") - col("my")) * (col("y") - col("my"))).as("syy"),
        first(col("mx")).as("mx"), first(col("my")).as("my"))
    cm.select(col("k"), col("n"),
        when(col("n") >= 2 && col("sxx") > 0,
          round(col("sxy") / col("sxx"), 6)).as("slope"),
        when(col("n") >= 2 && col("sxx") > 0,
          round(col("my") - (col("sxy") / col("sxx")) * col("mx"), 4))
          .as("intercept"),
        when(col("n") >= 2 && col("sxx") > 0 && col("syy") > 0,
          round(col("sxy") * col("sxy") / (col("sxx") * col("syy")), 6))
          .as("r2"))
  }

  /** Unbiased pass@k (ev09, Chen et al. 2021 "Evaluating Large
    * Language Models Trained on Code", eq. 1): per task with n
    * samples and c correct, pass@k = 1 − C(n−c, k)/C(n, k), computed
    * as the stable product Π_{i<k} (n−c−i)/(n−i) — never a factorial.
    * Tasks with n−c < k pass with certainty. One (task, n, c)
    * aggregate then a scan-speed fold over the constant-length
    * product — counts are exact integers, the single float product
    * replays in order on any engine.
    */
  def passAtK(df: DataFrame, task: Column, correct: Column,
              k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val perTask = df.groupBy(task.as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(correct, 1L).otherwise(0L)).as("c"))
    perTask
      .withColumn("pass_at_k",
        when(col("n") < k, lit(null).cast("double"))
          .when(col("n") - col("c") < k, 1.0)
          .otherwise(round(lit(1.0) - aggregate(
            sequence(lit(0), lit(k - 1)), lit(1.0),
            (acc, i) => acc * (col("n") - col("c") - i) / (col("n") - i)),
            6)))
  }

  /** Cohen's kappa (ev10) — chance-corrected agreement between two
    * boolean raters: κ = (p_o − p_e)/(1 − p_e), observed vs expected
    * agreement from the marginals. ONE aggregate of four integer
    * cells; everything after is driver-free scalar algebra on the
    * single result row.
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df.filter(raterA.isNotNull && raterB.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(raterA && raterB, 1L).otherwise(0L)).as("n11"),
      sum(when(raterA && !raterB, 1L).otherwise(0L)).as("n10"),
      sum(when(!raterA && raterB, 1L).otherwise(0L)).as("n01"),
      sum(when(!raterA && !raterB, 1L).otherwise(0L)).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")) / nD
    val pe = ((col("n11") + col("n10")) / nD) * ((col("n11") + col("n01")) / nD) +
      ((col("n01") + col("n00")) / nD) * ((col("n10") + col("n00")) / nD)
    cells.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("p_observed"), round(pe, 6).as("p_expected"),
      when(pe =!= 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Quantile normalization (qn01) — map column A's values onto
    * reference distribution B: each value is replaced by B's quantile
    * at A's percentile rank (the batch-effect harmonization standard,
    * Bolstad et al. 2003 generalized to unequal sizes). A's ranks
    * come from the bucketed prefix sum (no global-rank window); B is
    * summarized as an exact interpolated quantile GRID of `grid`+1
    * points (one aggregate, broadcast back), and the mapping is a
    * scan-speed linear interpolation within the grid cell — error
    * bounded by one grid cell (qs01's histogram-quantile trade; raise
    * `grid` to tighten). Power-of-two grids keep the fraction
    * literals exact binary, so both engines floor the same doubles.
    *
    * Output: one row per DISTINCT A value — (v, n, pct_rank,
    * normalized); join back on v for per-row features.
    */
  def quantileNormalize(a: DataFrame, valueA: Column,
                        b: DataFrame, valueB: Column,
                        grid: Int = 256, buckets: Int = 1024): DataFrame = {
    require(grid >= 2 && grid <= 65536 && (grid & (grid - 1)) == 0,
      s"grid must be a power of two in [2, 65536]: $grid")
    val fracs = (0 to grid).map(i => i.toDouble / grid)
    val bq = b.filter(valueB.isNotNull)
      .select(valueB.cast("double").as("bv"))
      .agg(expr(s"percentile(bv, array(${fracs.mkString(",")}))").as("__bq"))
    val ranked = percentileRank(a, valueA, buckets)
    val h = col("pct_rank") * grid
    val i = least(floor(h).cast("int"), lit(grid - 1))
    val frac = h - i
    ranked.crossJoin(broadcast(bq))
      .select(col("v"), col("n"), col("pct_rank"),
        // round 4: magnitudes follow B's value scale, so 6 decimals
        // would demand ~11 significant digits — past the cross-engine
        // percentile agreement (the verify gotcha list's rule)
        round(element_at(col("__bq"), i + 1) +
          frac * (element_at(col("__bq"), i + 2) -
            element_at(col("__bq"), i + 1)), 4).as("normalized"))
  }

  /** Expected calibration error + Brier score (ev14) — the two
    * headline probability-quality numbers (Guo et al. 2017; Brier
    * 1950): ECE = Σ_b (n_b/N)·|acc_b − conf_b| over equal-width
    * confidence bins (the same explicit-floor binning as
    * calibrationBins, normalized confidences), Brier = mean
    * (conf − y)². One per-bin aggregate (bins-cardinality rows) plus
    * one scalar aggregate; range literals fold back like ev02.
    */
  def calibrationError(df: DataFrame, score: Column, label: Column,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins out of range: $bins")
    val base = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
    val mm = base.agg(min(col("s")), max(col("s"))).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    require(hi > lo, "calibrationError needs a non-constant score")
    val conf = (col("s") - lo) / (hi - lo)
    val bin = least(floor((col("s") - lo) / (hi - lo) * bins) + 1,
      lit(bins.toLong)).cast("long")
    val perBin = base.withColumn("conf", conf).withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("conf")).as("s_conf"),
        sum(col("y")).as("n_pos"),
        sum((col("conf") - col("y")) * (col("conf") - col("y"))).as("sq"))
    perBin.agg(sum(col("n")).as("n"),
        sum(abs(col("n_pos").cast("double") / col("n") -
          col("s_conf") / col("n")) * col("n")).as("__ece_num"),
        sum(col("sq")).as("__sq"))
      .select(col("n"),
        round(col("__ece_num") / col("n"), 6).as("ece"),
        round(col("__sq") / col("n"), 6).as("brier"))
  }

  /** Spearman rank correlation (ev15) — Pearson over AVERAGE ranks
    * (the standard tie handling), completing the correlation trio
    * next to dp03's Pearson and ev06's Kendall. Ranks come from the
    * bucketed prefix sum per column (avg rank of a distinct value =
    * strictly-below + (n+1)/2 — no global-rank window) joined back on
    * the value; the final coefficient is a centered two-pass
    * co-moment (linearFit's stability argument). One row out:
    * (n, spearman).
    */
  def spearman(df: DataFrame, x: Column, y: Column,
               buckets: Int = 1024): DataFrame = {
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.cast("double").as("xv"), y.cast("double").as("yv"))
    def avgRanks(valCol: String, out: String): DataFrame = {
      val perValue = base.groupBy(col(valCol).as("v"))
        .agg(count(lit(1)).as("n"))
      cumCountsByValue(perValue, "v", Seq("n"), buckets)
        .select(col("v").as(valCol),
          (col("cum_n_below") + (col("n") + 1) / lit(2.0)).as(out))
    }
    val ranked = base
      .join(avgRanks("xv", "rx"), "xv")
      .join(avgRanks("yv", "ry"), "yv")
    val m = ranked.agg(count(lit(1)).as("n"),
      avg(col("rx")).as("mx"), avg(col("ry")).as("my")).head
    val (n, mx, my) = (m.getLong(0), m.getDouble(1), m.getDouble(2))
    require(n >= 2, s"spearman needs ≥2 rows (got $n)")
    ranked.agg(
        sum((col("rx") - mx) * (col("ry") - my)).as("sxy"),
        sum((col("rx") - mx) * (col("rx") - mx)).as("sxx"),
        sum((col("ry") - my) * (col("ry") - my)).as("syy"))
      .select(lit(n).as("n"),
        when(col("sxx") > 0 && col("syy") > 0,
          Portability.zround(col("sxy") / sqrt(col("sxx") * col("syy")), 6))
          .as("spearman"))
  }

  /** McNemar's test (ev13) — are two classifiers' error patterns
    * different, judged on the DISAGREEMENT cells only: b = A right &
    * B wrong, c = A wrong & B right, continuity-corrected statistic
    * (|b−c|−1)²/(b+c) ~ χ²₁. The paired test is the published way to
    * compare classifiers on one test set (accuracy deltas ignore the
    * pairing). ONE aggregate of integer cells; b+c = 0 (identical
    * error patterns) yields a null statistic rather than 0/0.
    */
  def mcnemar(df: DataFrame, truth: Column, predA: Column,
              predB: Column): DataFrame = {
    val okA = predA === truth
    val okB = predB === truth
    val cells = df.filter(truth.isNotNull && predA.isNotNull && predB.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("b"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("c"),
        sum(when(okA, 1L).otherwise(0L)).as("n_ok_a"),
        sum(when(okB, 1L).otherwise(0L)).as("n_ok_b"))
    cells.select(col("n"), col("n_ok_a"), col("n_ok_b"), col("b"), col("c"),
      when(col("b") + col("c") > 0, round(
        (abs(col("b") - col("c")) - lit(1.0)) *
          (abs(col("b") - col("c")) - lit(1.0)) /
          (col("b") + col("c")).cast("double"), 6)).as("chi2_stat"))
  }

  /** Weight-of-evidence / information-value encoding (ft06) — the
    * credit-scoring standard (Siddiqi): per category,
    * WOE = ln((neg_i/negT)/(pos_i/posT)) with add-half smoothing so
    * empty cells stay finite, IV_i = (neg_i/negT − pos_i/posT)·WOE.
    * WOE is also a leakage-prone-free alternative categorical encoder
    * (pairs with enc01's leave-one-out). One groupBy; totals fold
    * back as literals (never an unpartitioned window).
    */
  def woeIv(df: DataFrame, category: Column, positive: Column): DataFrame = {
    val base = df.filter(positive.isNotNull)
      .select(category.as("category"), positive.as("y"))
    val t = base.agg(sum(when(col("y"), 1L).otherwise(0L)),
      sum(when(col("y"), 0L).otherwise(1L))).head
    val (posT, negT) = (t.getLong(0), t.getLong(1))
    require(posT > 0 && negT > 0,
      s"woeIv needs both classes (got $posT pos / $negT neg)")
    val per = base.groupBy(col("category"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"))
    val pShare = (col("n_pos") + 0.5) / lit(posT + 1.0)
    val nShare = (col("n_neg") + 0.5) / lit(negT + 1.0)
    per.select(col("category"), col("n_pos"), col("n_neg"),
      round(log(nShare / pShare), 6).as("woe"),
      round((nShare - pShare) * log(nShare / pShare), 6).as("iv"))
  }

  /** Distributed logistic regression by full-batch gradient descent
    * with a FIXED step count (lr02) — the classifier-fit companion to
    * linearFit's closed form (the logistic MLE has none). Weights
    * start at zero; each step folds the current weights into the plan
    * as LITERALS and runs ONE aggregate computing the mean gradient
    * g_j = avg((σ(w·x) − y)·x_j), so a step is a single scan-speed
    * pass with map-side partials and a d+1-double collect — pk02's
    * literal-folding discipline applied to an optimizer loop. No RNG,
    * no shuffle beyond the aggregate's, rows with nulls dropped once
    * up front. Fixed steps + a damped-contraction update mean
    * cross-engine float-sum reordering stays at machine epsilon
    * (pr01's argument), so an oracle can UNROLL the steps as chained
    * CTEs and match at 6 decimals. At 100 TB each step is one pass;
    * callers trade steps for precision exactly like pr01 trades
    * iterations.
    *
    * Returns one row per parameter: (param, weight) for "w0"
    * (intercept) and each feature name in order.
    */
  def logisticGD(df: DataFrame, target: Column,
                 features: Seq[(String, Column)],
                 steps: Int = 5, learningRate: Double = 1.0): DataFrame = {
    require(features.nonEmpty, "logisticGD needs at least one feature")
    require(steps >= 1 && steps <= 200, s"steps out of range: $steps")
    val spark = df.sparkSession
    import spark.implicits._
    val d = features.size
    val base = df.select(
      (target.cast("double").as("__y") +:
        features.zipWithIndex.map { case ((_, c), i) =>
          c.cast("double").as(s"__x$i") }).toSeq: _*)
      .na.drop().persist()
    val w = Array.fill(d + 1)(0.0) // w(0) = intercept
    for (_ <- 1 to steps) {
      val z = (0 until d).foldLeft(lit(w(0))) { (acc, i) =>
        acc + lit(w(i + 1)) * col(s"__x$i") }
      val s = lit(1.0) / (lit(1.0) + exp(-z))
      val gAggs = avg(s - col("__y")).as("g0") +:
        (0 until d).map(i => avg((s - col("__y")) * col(s"__x$i")).as(s"g$i"))
      val g = base.agg(gAggs.head, gAggs.tail: _*).head
      for (j <- 0 to d) w(j) -= learningRate * g.getDouble(j)
    }
    base.unpersist()
    val names = "w0" +: features.map { case (n, _) => s"w_$n" }
    names.zip(w.toSeq).toDF("param", "weight")
      .select(col("param"), Portability.zround(col("weight"), 6).as("weight"))
  }

  /** Deterministic k-fold cross-validation of the mean model (cv01):
    * fold assignment is the md5 draw on the row id (engine-portable,
    * zero RNG, stable under retries — the same derivation every
    * sampler in this repo uses), and the evaluated model is the
    * leave-fold-out MEAN — the baseline every regression CV report
    * starts from. Per fold: its size, the training mean computed from
    * the OTHER folds, and the fold's out-of-fold RMSE, in closed form
    * from per-fold (n, Σy, Σy²):
    *   mse_f = Σy²_f/n_f − 2·m·Σy_f/n_f + m², m = (ΣY−Σy_f)/(N−n_f).
    *
    * One groupBy over the fold key (k rows out) and a k-row broadcast
    * join against the totals — two scans, no per-row model state, the
    * identical plan at any corpus size.
    */
  def kfoldMeanModel(df: DataFrame, id: Column, target: Column,
                     k: Int = 5, seed: String = "cv1"): DataFrame = {
    require(k >= 2 && k <= 1000, s"k out of range: $k")
    val fold = pmod(conv(substring(md5(concat_ws("#", lit(seed),
      id.cast("string"))), 1, 8), 16, 10).cast("long"), lit(k)).as("fold")
    val perFold = df.filter(target.isNotNull)
      .select(fold, target.cast("double").as("__y"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sy"),
        sum(col("__y") * col("__y")).as("syy"))
    val tot = perFold.agg(sum(col("n")).as("tn"), sum(col("sy")).as("tsy"))
    val joined = perFold.join(broadcast(tot))
      .withColumn("m", (col("tsy") - col("sy")) / (col("tn") - col("n")))
    joined.select(col("fold"), col("n"),
        Portability.zround(col("m"), 6).as("train_mean"),
        Portability.zround(sqrt(col("syy") / col("n")
          - lit(2.0) * col("m") * col("sy") / col("n")
          + col("m") * col("m")), 6).as("oof_rmse"))
      .orderBy(col("fold"))
  }

  /** Mann–Whitney U rank-sum test (ev20): does `value` stochastically
    * dominate between the two cohorts split by boolean `isA`? The
    * distribution-free sibling of sv01's ANOVA F — the test an A/B
    * readout reaches for when the metric is skewed (latency, spend)
    * and a t-test's normality assumption is indefensible.
    *
    * Exact average-rank tie handling without a global row-level sort:
    * ranks come from per-distinct-value cohort counts plus the
    * bucketed prefix sum (cumCountsByValue), so rank(v) = cum_below(v)
    * + (t_v+1)/2 — every term an integer or half-integer, hence the
    * rank sum is BIT-EXACT across engines. One value-keyed aggregate,
    * one bounded prefix pass, one scalar aggregate; no single-
    * partition window anywhere. Output: one row with n_a, n_b, u_a,
    * u_b, the tie-corrected normal z (no continuity correction), and
    * the rank-biserial effect size 2·U_a/(n_a·n_b) − 1.
    */
  def mannWhitneyU(df: DataFrame, value: Column, isA: Column): DataFrame = {
    val perValue = df.filter(value.isNotNull)
      .groupBy(value.as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("na_v"),
        sum(when(isA, 0L).otherwise(1L)).as("nb_v"))
      .withColumn("t_v", col("na_v") + col("nb_v"))
    val cum = cumCountsByValue(perValue, "__v", Seq("t_v"))
    val s = cum.agg(
      sum(col("na_v")).as("n_a"),
      sum(col("nb_v")).as("n_b"),
      sum(col("na_v") * (col("cum_t_v_below") + (col("t_v") + 1) / lit(2.0))).as("r_a"),
      sum(pow(col("t_v"), 3) - col("t_v")).as("tie_sum"))
    // cast BEFORE every n_a·n_b / n_a·(n_a+1) / n·(n−1) product (the
    // auc convention): these are long×long cohort-count products — at
    // billions of rows per cohort the long product overflows (ANSI
    // mode throws). Double products are exact below 2^53 and the
    // statistics are double-valued anyway; the oracle mirrors.
    s.select(col("n_a"), col("n_b"),
        (col("r_a") - col("n_a").cast("double") * (col("n_a") + 1) / lit(2.0))
          .as("u_a"),
        col("tie_sum"))
      .withColumn("__nab", col("n_a").cast("double") * col("n_b"))
      .withColumn("u_b", col("__nab") - col("u_a"))
      .withColumn("__n", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("__var", col("__nab") / lit(12.0) *
        ((col("__n") + 1) - col("tie_sum") / (col("__n") * (col("__n") - 1))))
      .select(col("n_a"), col("n_b"), col("u_a"), col("u_b"),
        Portability.zround((col("u_a") - col("__nab") / lit(2.0)) /
          sqrt(col("__var")), 6).as("z"),
        Portability.zround(lit(2.0) * col("u_a") / col("__nab") - 1,
          6).as("rank_biserial"))
  }

  /** Murphy's Brier-score decomposition (ev21): the probabilistic-
    * forecast audit that splits the Brier score into what a reliability
    * diagram shows — REL (calibration error, lower better), RES
    * (discrimination, higher better), UNC (the base-rate entropy no
    * model controls): for `bins` equal-width probability bins,
    * REL = Σ nₖ(p̄ₖ − ōₖ)²/N, RES = Σ nₖ(ōₖ − ō)²/N, UNC = ō(1 − ō).
    * The exact Brier = mean((p − y)²) reports alongside (the binned
    * identity REL − RES + UNC holds only within-bin, so both matter).
    *
    * `score` must already be a probability in [0, 1]. One (bin)-keyed
    * aggregate collects n, Σp, Σp², Σpy, Σy per bin — the raw Brier
    * falls out of the same sums (Σp² − 2Σpy + Σy), so the data is
    * scanned ONCE and only a `bins`-row frame reaches the final
    * scalar aggregate. One row out.
    */
  def brierDecomposition(df: DataFrame, score: Column, label: Column,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins out of range: $bins")
    val base = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("__p"),
        label.cast("boolean").cast("int").cast("double").as("__y"))
    val perBin0 = base
      .withColumn("__bin",
        least(floor(col("__p") * bins), lit(bins - 1L)))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("n_k"),
        sum(col("__p")).as("sp"), sum(col("__p") * col("__p")).as("sp2"),
        sum(col("__p") * col("__y")).as("spy"), sum(col("__y")).as("sy"))
    // materialize the bins-row frame once: it feeds both the scalar
    // totals (a broadcast build) and the main aggregate, and without
    // the checkpoint each consumer re-scans the full input (r19 perf)
    val perBin = Flat.flat(perBin0)
    val tot = perBin.agg(sum(col("n_k")).as("n"), sum(col("sy")).as("ty"),
      sum(col("sp2") - lit(2.0) * col("spy") + col("sy")).as("sqerr"))
    perBin.crossJoin(broadcast(tot))
      .withColumn("__obar", col("ty") / col("n"))
      .groupBy(col("n"), col("__obar"),
        Portability.zround(col("sqerr") / col("n"), 6).as("brier"))
      .agg(
        sum(col("n_k") * pow(col("sp") / col("n_k") - col("sy") / col("n_k"), 2)).as("__rel"),
        sum(col("n_k") * pow(col("sy") / col("n_k") - col("__obar"), 2)).as("__res"))
      .select(col("n"), col("brier"),
        Portability.zround(col("__rel") / col("n"), 6).as("reliability"),
        Portability.zround(col("__res") / col("n"), 6).as("resolution"),
        Portability.zround(col("__obar") * (lit(1.0) - col("__obar")), 6)
          .as("uncertainty"))
  }

  /** Bradley–Terry preference strengths (el01) from raw pairwise
    * comparisons — the model behind RLHF reward-data audits and
    * chatbot-arena leaderboards: each row of `comparisons` is one
    * (winner, loser) outcome, and the fitted wᵢ are the maximum-
    * likelihood "strengths" with P(i beats j) = wᵢ/(wᵢ+wⱼ).
    *
    * Fitted by `iters` rounds of the classical MM update
    * wᵢ ← Wᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ), renormalized to Σw = 1 each round
    * (Hunter 2004's monotone algorithm — every step provably raises
    * the likelihood, and with a fixed iteration count the result is
    * deterministic, so an oracle can replay it as unrolled CTEs).
    *
    * Scale shape: the raw comparison stream collapses FIRST into the
    * item-pair win matrix (one groupBy — the only pass over the big
    * data); iterations then run on the matrix with item-keyed joins
    * and aggregates only, so a million-item catalog iterates without
    * any single point seeing more than one item's pairs. The Σw
    * normalizer folds in as a broadcast single-row frame. Items that
    * never win fit to strength 0 (the MLE boundary), never NaN.
    */
  def bradleyTerry(comparisons: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val cmp = comparisons.select(col("winner"), col("loser"))
      .filter(col("winner").isNotNull && col("loser").isNotNull &&
        col("winner") =!= col("loser"))
    // mirror by exploding a 2-element array, not pairs.union(pairs.swap):
    // sibling union branches each re-ran the pair aggregate on first
    // materialization (r19 perf — one pass, same rows, one persist)
    val dpairs = cmp
      .groupBy(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .agg(count(lit(1)).as("n"))
      .select(explode(array(
        struct(col("a").as("i"), col("b").as("j"), col("n")),
        struct(col("b").as("i"), col("a").as("j"), col("n")))).as("__p"))
      .select(col("__p.i").as("i"), col("__p.j").as("j"), col("__p.n").as("n"))
      .persist()
    val wins = cmp.groupBy(col("winner").as("item")).agg(count(lit(1)).as("wins"))
    val items = dpairs.groupBy(col("i").as("item"))
      .agg(sum(col("n")).as("n_comparisons"))
      .join(wins, Seq("item"), "left").na.fill(0L, Seq("wins"))
      .persist()
    // materialize items before the rounds fan out (labelPropagation's
    // r19 note)
    items.count()
    // the state is the UNNORMALIZED update __raw, not w: __raw feeds
    // both the Σ normalizer and the projection, so flat-checkpointing
    // it keeps the whole den chain (2 joins + agg) from running TWICE
    // per iteration — once under the broadcast build, once in the main
    // pass (r19 perf: 116 → 84 jobs, 1995 → 1180 tasks, identical
    // weights, el01 oracle-green). w derives from the checkpointed scan
    // + a broadcast scalar, so its lineage is already flat. The seed
    // __raw = 1 normalizes to exactly 1/k (k ones sum exactly).
    def normalized(raw: DataFrame): DataFrame =
      raw.crossJoin(broadcast(raw.agg(sum(col("__raw")).as("__tot"))))
        .select(col("item"), (col("__raw") / col("__tot")).as("wt"))
    val seed = items.select(col("item"), lit(1.0).as("__raw"))
    val (raw, _, _) = Flat.iterate(seed, iters) { raw =>
      val w = normalized(raw)
      val den = dpairs
        .join(w.select(col("item").as("i"), col("wt").as("__wi")), "i")
        .join(w.select(col("item").as("j"), col("wt").as("__wj")), "j")
        .groupBy(col("i").as("item"))
        .agg(sum(col("n") / (col("__wi") + col("__wj"))).as("__den"))
      items.select(col("item"), col("wins"))
        .join(den, "item")
        .select(col("item"), (col("wins") / col("__den")).as("__raw"))
    }
    val w = normalized(raw)
    val out = items.join(w, "item")
      .select(col("item"), col("wins"), col("n_comparisons"),
        Portability.zround(col("wt"), 6).as("strength"))
    dpairs.unpersist(); items.unpersist()
    out
  }

  /** In-place Gaussian elimination with partial pivoting (driver-side,
    * d×d where d = feature count).
    */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (p <- 0 until n) {
      var maxR = p
      for (r <- p + 1 until n) if (math.abs(a(r)(p)) > math.abs(a(maxR)(p))) maxR = r
      val tmp = a(p); a(p) = a(maxR); a(maxR) = tmp
      val tb = b(p); b(p) = b(maxR); b(maxR) = tb
      require(math.abs(a(p)(p)) > 1e-12, "linearFit: singular design matrix")
      for (r <- p + 1 until n) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until n) a(r)(c) -= f * a(p)(c)
        b(r) -= f * b(p)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (c <- r + 1 until n) s -= a(r)(c) * x(c)
      x(r) = s / a(r)(r)
    }
    x
  }
}
