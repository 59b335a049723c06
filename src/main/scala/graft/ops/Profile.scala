package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling — the ANALYZE/summary pass a catalog runs after
  * ingest: per-column row/null/distinct counts in ONE aggregate job.
  *
  * Scale shape: a single wide aggregation computes 3 counters per
  * column in one scan (count-distincts expand to Spark's internal
  * expand+partial-agg, still one shuffle); the per-column rows are
  * then unpivoted from the 1-row result ON THE DRIVER (it is one row
  * of longs — no second job, no per-column scans). Counts are exact;
  * for 100 TB profiling swap count_distinct for
  * approx_count_distinct at the call site (the engine's q15 HLL path)
  * — exact is the oracle-able default.
  */
object Profile {

  def columnStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
          count_distinct(col(c)).as(s"nd_$c"))
    }
    val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*).head
    val nRows = row.getLong(0)
    cols.zipWithIndex.map { case (c, i) =>
      val nonNull = row.getLong(1 + i * 2)
      val distinct = row.getLong(2 + i * 2)
      (c, nRows, nRows - nonNull, distinct)
    }.toDF("column", "n_rows", "n_nulls", "n_distinct")
  }

  /** Declarative data-quality checks (the Deequ-style expectation
    * pass a pipeline runs before publishing a table): each rule is a
    * named row-level predicate; the report counts violations per rule
    * in ONE aggregate scan (rules become sum-of-failures columns —
    * adding a rule adds a counter, never a pass). Uniqueness is not a
    * row predicate — express it as `columnStats` n_rows == n_distinct,
    * or a groupBy at the call site.
    */
  def qualityReport(df: DataFrame,
                    rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "qualityReport needs at least one rule")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = rules.map { case (name, pred) =>
      // null predicate result counts as a violation (fail closed)
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"viol_$name")
    }
    val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*).head
    val nRows = row.getLong(0)
    rules.zipWithIndex.map { case ((name, _), i) =>
      val v = row.getLong(1 + i)
      (name, nRows, v, v == 0L)
    }.toDF("rule", "n_rows", "n_violations", "passed")
  }

  /** Equal-width histogram of a numeric column: one min/max aggregate
    * fixes the range, then one groupBy over the computed bucket index
    * — two scans, one tiny shuffle of (bucket, count) pairs. Values at
    * the upper edge land in the last bucket (closed right edge, the
    * width_bucket convention clamped); constant columns collapse to
    * one bucket. Empty buckets are omitted (dense output would need a
    * grid join; callers wanting zeros can left-join a range).
    */
  def histogram(df: DataFrame, column: String, nBuckets: Int = 20): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val mm = df.agg(min(col(column)).as("lo"), max(col(column)).as("hi")).head
    val (lo, hi) = (mm.getAs[Number](0).doubleValue(), mm.getAs[Number](1).doubleValue())
    val width = (hi - lo) / nBuckets
    val bucket =
      if (width == 0) lit(0)
      else least(floor((col(column) - lo) / width).cast("int"), lit(nBuckets - 1))
    df.filter(col(column).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(lit(lo) + col("bucket") * width, 4).as("lo_edge"),
        round(lit(lo) + (col("bucket") + 1) * width, 4).as("hi_edge"),
        col("n"))
  }

  /** Pairwise Pearson correlations across numeric columns — the
    * profiling pass that finds redundant/derived columns before
    * feature selection. ALL pairs compute in ONE aggregate pass over
    * the data (n(n-1)/2 corr aggregates, map-side combined like
    * columnStats); the unpivot handles one driver-side row of
    * doubles. A constant column has no defined correlation → null:
    * built-in `corr` THROWS under ANSI mode (DIVIDE_BY_ZERO) on zero
    * variance, so Pearson is composed from the same co-moments with
    * try_divide — identical value where defined, null where not.
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      Portability.zround(try_divide(covar_samp(col(a), col(b)),
        stddev_samp(col(a)) * stddev_samp(col(b))), 4).as(s"${a}__$b") }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val spark = df.sparkSession
    import spark.implicits._
    pairs.zipWithIndex.map { case ((a, b), i) =>
      (a, b, if (row.isNullAt(i)) None else Some(row.getDouble(i)))
    }.toDF("col_a", "col_b", "pearson_r")
  }

  /** Tukey-fence outlier flags per group: a value outside
    * [q1 - k·IQR, q3 + k·IQR] of ITS GROUP is flagged — the standard
    * robust screen for corrupt numerics (truncated docs, unit errors)
    * before stats or training. One per-group exact-percentile
    * aggregate (group cardinality rows), broadcast back onto the
    * corpus: the data-proportional side sees one shuffle-free join +
    * a pure projection. The q43 docstring's caveat applies to the
    * AGGREGATE only: exact percentile buffers per GROUP-KEY, fine for
    * the usual few-thousand-group screen; swap approx_percentile for
    * millions of groups.
    */
  def iqrOutliers(df: DataFrame, value: Column, group: Column,
                  k: Double = 1.5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val bounds = df.groupBy(group.as("__iqr_g"))
      .agg(percentile(value, lit(0.25)).as("__q1"),
           percentile(value, lit(0.75)).as("__q3"))
      .select(col("__iqr_g"),
        (col("__q1") - (col("__q3") - col("__q1")) * k).as("__lo"),
        (col("__q3") + (col("__q3") - col("__q1")) * k).as("__hi"))
    df.join(broadcast(bounds), group === col("__iqr_g"))
      .withColumn("is_outlier", value < col("__lo") || value > col("__hi"))
      .drop("__iqr_g", "__lo", "__hi")
  }

  /** Snapshot drift report (dq03): schema changes and per-column null
    * movement between two versions of a table — the check a pipeline
    * runs before promoting a new snapshot (did an upstream rename a
    * column? did a field start arriving empty?).
    *
    * Output: one row per column in either snapshot, sorted — status in
    * {added, removed, retyped, kept}, the type on each side, and exact
    * null/row counts (all INTEGER, so the report is bit-reproducible).
    *
    * Scale shape: ONE wide aggregate per side computes every null
    * counter in a single scan (partial-agg combined map-side); the
    * driver handles one row of longs per side plus the schemas, then
    * emits the per-column report locally — no data-proportional
    * collect, no join.
    */
  def drift(before: DataFrame, after: DataFrame): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    def types(df: DataFrame): Map[String, String] =
      df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    def nullCounts(df: DataFrame): (Long, Map[String, Long]) = {
      val cols = df.columns
      val aggs = count(lit(1)).as("__rows") +:
        cols.zipWithIndex.map { case (c, i) =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n$i") }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      (row.getLong(0),
        cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
    }
    val (bT, aT) = (types(before), types(after))
    val (bRows, bNulls) = nullCounts(before)
    val (aRows, aNulls) = nullCounts(after)
    val rows = (bT.keySet ++ aT.keySet).toSeq.sorted.map { c =>
      val status = (bT.get(c), aT.get(c)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(x), Some(y)) if x != y => "retyped"
        case _ => "kept"
      }
      (c, status, bT.get(c), aT.get(c),
        bNulls.get(c), if (bT.contains(c)) Some(bRows) else None,
        aNulls.get(c), if (aT.contains(c)) Some(aRows) else None)
    }
    rows.toDF("column", "status", "type_before", "type_after",
      "nulls_before", "rows_before", "nulls_after", "rows_after")
  }

  /** One declared foreign-key edge: `child.fkCol` must reference
    * `parent.pkCol` (names are for the report; frames carry the data). */
  case class FkEdge(childName: String, child: DataFrame, fkCol: String,
                    parentName: String, parent: DataFrame, pkCol: String)

  /** Referential-integrity audit (dq04): for each declared FK edge,
    * count child rows whose non-null key has no matching parent —
    * the join-safety check a warehouse runs before publishing
    * (an orphaned l_orderkey silently drops rows from every inner
    * join downstream).
    *
    * Output: one row per edge — child/fk/parent/pk names, child row
    * count, null-key count, orphan count, and `ok` (no orphans).
    * All counters are exact longs, so the report is bit-reproducible.
    *
    * Scale shape: per edge, the child's key column (ONLY the key —
    * pruned scan) left-joins the parent's distinct keys; all three
    * counters come from ONE aggregate over that join, map-side
    * combined. The parent side is distinct keys, typically dimension-
    * sized — AQE broadcasts it when small, else it's a key-only
    * shuffle. Edges are independent single-row jobs unioned lazily;
    * nothing data-proportional reaches the driver.
    */
  def fkAudit(edges: Seq[FkEdge]): DataFrame = {
    require(edges.nonEmpty, "fkAudit needs at least one edge")
    edges.map { e =>
      val keys = e.parent.select(col(e.pkCol).as("__pk")).distinct()
      e.child.select(col(e.fkCol).as("__fk"))
        .join(keys, col("__fk") === col("__pk"), "left_outer")
        .agg(
          count(lit(1)).as("child_rows"),
          sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("null_keys"),
          sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
            .otherwise(0L)).as("orphans"))
        .select(
          lit(e.childName).as("child_table"), lit(e.fkCol).as("fk_column"),
          lit(e.parentName).as("parent_table"), lit(e.pkCol).as("pk_column"),
          col("child_rows"), col("null_keys"), col("orphans"),
          (col("orphans") === 0L).as("ok"))
    }.reduce(_ unionAll _)
  }

  /** Per-column Shannon entropy in bits (dp04): H = log₂N − (Σ n·log₂n)/N
    * over the column's exact value counts (nulls count as a category) —
    * the profiling signal that flags near-constant columns (H ≈ 0,
    * candidates for dropping or dictionary encoding) and
    * high-cardinality keys (H ≈ log₂N) before a pipeline treats them
    * as features. The algebraic form needs only (n, Σn·log₂n), so each
    * column is ONE count aggregate (map-side combined) plus a
    * two-value reduction — never a collected value list; the per-value
    * frame is distinct-cardinality-sized, not data-sized.
    */
  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns")
    cols.map { c =>
      df.groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).as("__total"),
          sum(col("__n") * log2(col("__n"))).as("__snlog"),
          count(lit(1)).as("n_distinct"))
        .select(lit(c).as("column"),
          col("__total").as("n_rows"), col("n_distinct"),
          round(log2(col("__total")) - col("__snlog") / col("__total"), 6)
            .as("entropy_bits"))
    }.reduce(_ unionAll _)
  }

  /** Duplicate-column detection (dp06): order-independent multiset
    * fingerprints per column — (non-null count, bounded hash sum,
    * min/max hash) — grouped so columns carrying identical data
    * surface as one `dup_group`. The wide-table hygiene check that
    * catches a join that duplicated a key or an export that aliased
    * the same field twice, WITHOUT comparing columns pairwise
    * (n columns → one scan each, not n²/2 pairwise compares).
    *
    * Hash components are md5-derived (engine-portable); nulls hash
    * through a shared sentinel. The sum term uses 28-bit pieces so a
    * 2³⁵-row table cannot overflow ANSI long addition. Equal columns
    * always fingerprint equal (no false negatives); a collision
    * between different columns must match count, sum, min, AND max —
    * vanishing in practice, and a flagged pair is cheap to confirm
    * exactly. One aggregate per column, driver handles one row each.
    */
  def duplicateColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to compare")
    val per = cols.map { c =>
      // one shared null sentinel: a null in column X must equal a
      // null in column Y (both engines agree md5 of the sentinel)
      val h = md5(coalesce(col(c).cast("string"), lit("__NULL__")))
      val h64 = conv(substring(h, 1, 15), 16, 10).cast("long")
      df.agg(
        count(col(c)).as("n_nonnull"),
        sum(h64 % lit(1L << 28)).as("sum_h"),
                min(h64).as("min_h"),
        max(h64).as("max_h"))
        .select(lit(c).as("column"), col("n_nonnull"), col("sum_h"),
          col("min_h"), col("max_h"))
    }.reduce(_ unionAll _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_nonnull"), col("sum_h"), col("min_h"), col("max_h"))
    per.withColumn("dup_group", min(col("column")).over(w))
      .withColumn("has_duplicate", count(lit(1)).over(w) > 1)
      .orderBy(col("column"))
  }

  /** k-anonymity suppression (pv01): drop every row whose
    * quasi-identifier combination is shared by fewer than `k` rows —
    * the release gate that keeps a published dataset from singling
    * out individuals by (zip, age, segment)-style attribute joins.
    * Suppression (not generalization) is the conservative variant: a
    * surviving row is guaranteed to hide in an anonymity set of ≥ k.
    *
    * One window count over the QI partition, then a pure filter —
    * single exchange, no join, no collect; the same shape at any
    * corpus size. Pair with pii01 (redaction) for the full
    * pre-export privacy pass.
    */
  def kAnonymize(df: DataFrame, qi: Seq[Column], k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2: $k")
    require(qi.nonEmpty, "no quasi-identifier columns")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(qi: _*)
    df.withColumn("__anon_n", count(lit(1)).over(w))
      .filter(col("__anon_n") >= k)
      .drop("__anon_n")
  }

  /** l-diversity audit (pv02): k-anonymity's required companion — a
    * QI group can be large (k-anonymous) yet expose its members anyway
    * when every row shares one SENSITIVE value (the homogeneity
    * attack: "all 50 patients in that (zip, age) cell have the same
    * diagnosis"). A group is l-diverse when its sensitive attribute
    * takes ≥ l distinct values. Output: one row per QI group with its
    * size, distinct-sensitive count, and the verdict — the release
    * auditor consumes this next to pv01's suppression.
    *
    * One groupBy with an exact count(DISTINCT sensitive) — a single
    * exchange on the QI key, partial-aggregated map-side; the same
    * shape at any corpus size.
    */
  def lDiversity(df: DataFrame, qi: Seq[Column], sensitive: Column,
                 l: Int): DataFrame = {
    require(l >= 2, s"l must be at least 2: $l")
    require(qi.nonEmpty, "no quasi-identifier columns")
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)
  }

  /** t-closeness audit (pv03): the third rung of the release-privacy
    * ladder after pv01/pv02 — an l-diverse QI group still leaks when
    * its sensitive DISTRIBUTION diverges from the table's (the
    * skewness attack: "that cell's salaries are diverse, but all in
    * the top decile"). A group is t-close when the ordered Earth
    * Mover's Distance between its sensitive distribution and the
    * global one is ≤ t. Sensitive values discretize into `bins`
    * equi-width bins (lo/hi folded back as literals — the sp07/psi01
    * convention), and for an ordinal attribute the EMD is the mean
    * |cumulative difference| across bins.
    *
    * One (QI, bin) aggregate over the table + one bin-sized global
    * aggregate; the per-group bin grid zero-fills via a crossJoin with
    * the bounded bin frame and the cumulative runs as a window
    * PARTITIONED BY the QI key over `bins` rows — parallel across
    * groups, nothing global. Output: one row per QI group with n,
    * emd, and the ≤ t verdict.
    */
  def tCloseness(df: DataFrame, qi: Seq[Column], sensitive: Column,
                 bins: Int = 10, t: Double = 0.2): DataFrame = {
    require(qi.nonEmpty, "no quasi-identifier columns")
    require(bins >= 2 && bins <= 10000, s"bins out of range: $bins")
    val spark = df.sparkSession
    val base = df.filter(sensitive.isNotNull)
      .select((qi :+ sensitive.cast("double").as("__s")): _*)
    val qiNames = base.columns.dropRight(1).toSeq
    val mm = base.agg(min(col("__s")).as("lo"), max(col("__s")).as("hi")).head
    if (mm.isNullAt(0))
      return base.groupBy(qiNames.map(col): _*).agg(count(lit(1)).as("n"))
        .withColumn("emd", lit(0.0)).withColumn("close", lit(true))
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val step = (hi - lo) / bins
    val binned = base.withColumn("__b",
      if (step == 0.0) lit(0L)
      else least(floor((col("__s") - lit(lo)) / lit(step)), lit(bins - 1L)))
    val cells = binned.groupBy((qiNames.map(col) :+ col("__b")): _*)
      .agg(count(lit(1)).as("__c"))
    val globalBins = binned.groupBy(col("__b")).agg(count(lit(1)).as("__g"))
    val totals = binned.groupBy(qiNames.map(col): _*).agg(count(lit(1)).as("n"))
    val nTotal = binned.agg(count(lit(1)).as("__nt"))
    val grid = totals
      .crossJoin(broadcast(spark.range(bins).select(col("id").as("__b"))))
      .join(cells, qiNames :+ "__b", "left").na.fill(0L, Seq("__c"))
      .join(broadcast(globalBins), Seq("__b"), "left").na.fill(0L, Seq("__g"))
      .crossJoin(broadcast(nTotal))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiNames.map(col): _*).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // standard ordinal-EMD normalizer is bins−1; the final cumulative
    // term is identically 0 (both sides sum to 1), so summing all bins
    // adds only float dust below the rounding
    grid
      .withColumn("__cum", sum(col("__c") / col("n") - col("__g") / col("__nt")).over(w))
      .groupBy((qiNames.map(col) :+ col("n")): _*)
      .agg(Portability.zround(sum(abs(col("__cum"))) / lit((bins - 1).toDouble), 6).as("emd"))
      .withColumn("close", col("emd") <= t)
  }

  /** Pairwise mutual information between categorical columns (dp10):
    * dp03's correlation matrix works for numerics; for categorical
    * schema audits ("does ship priority actually carry information
    * about status?", "are these two enum columns redundant?") the
    * right dependence measure is MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))),
    * reported per column pair with the min-entropy-normalized NMI
    * (1 = one column determines the other, 0 = independent).
    *
    * ONE pass over the table: a GROUPING SETS aggregate computes
    * every pair's joint contingency counts together (k·(k−1)/2 sets,
    * disambiguated by grouping_id), the joint frame persists at
    * category-cardinality size, and marginals/entropies/MI derive
    * from it per pair on bounded frames — the table is never
    * re-scanned per pair. Rows with a NULL in any audited column are
    * dropped (documented; count them with dp01 first).
    */
  def categoricalMI(df: DataFrame, dims: Seq[(String, Column)]): DataFrame = {
    require(dims.size >= 2 && dims.size <= 8,
      s"categoricalMI audits 2..8 columns, got ${dims.size}")
    val k = dims.size
    val base = df.select(dims.zipWithIndex.map {
      case ((_, c), i) => c.cast("string").as(s"__d$i") }: _*).na.drop()
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
    val joint = base.groupingSets(
        pairs.map { case (i, j) => Seq(col(s"__d$i"), col(s"__d$j")) },
        (0 until k).map(i => col(s"__d$i")): _*)
      .agg(count(lit(1)).as("n"), grouping_id().as("__gid"))
      .persist()
    val out = pairs.map { case (i, j) =>
      // grouping_id bit = 1 for columns ABSENT from the set; first
      // column = highest bit
      val gid = ((1 << k) - 1) & ~(1 << (k - 1 - i)) & ~(1 << (k - 1 - j))
      val cells = joint.filter(col("__gid") === gid)
        .select(col(s"__d$i").as("x"), col(s"__d$j").as("y"), col("n"))
      val nTot = cells.agg(sum(col("n")).as("nt"))
      val mx = cells.groupBy(col("x")).agg(sum(col("n")).as("nx"))
      val my = cells.groupBy(col("y")).agg(sum(col("n")).as("ny"))
      val hx = mx.crossJoin(broadcast(nTot))
        .agg(sum(-(col("nx") / col("nt")) * log(col("nx") / col("nt"))).as("hx"))
      val hy = my.crossJoin(broadcast(nTot))
        .agg(sum(-(col("ny") / col("nt")) * log(col("ny") / col("nt"))).as("hy"))
      cells.join(broadcast(mx), "x").join(broadcast(my), "y")
        .crossJoin(broadcast(nTot))
        .agg(count(lit(1)).as("n_cells"),
          // cast BEFORE the products (the auc convention): n·nt and
          // nx·ny are long×long counts — at 100 TB cell counts the
          // long product overflows (ANSI mode throws); the oracle's
          // nt/ny are already DOUBLE, so this also matches its math
          sum((col("n") / col("nt")) *
            log(col("n").cast("double") * col("nt") /
              (col("nx").cast("double") * col("ny")))).as("__mi"))
        .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(lit(dims(i)._1).as("col_a"), lit(dims(j)._1).as("col_b"),
          col("n_cells"),
          Portability.zround(col("__mi"), 6).as("mi"),
          Portability.zround(
            when(least(col("hx"), col("hy")) > 0,
              col("__mi") / least(col("hx"), col("hy"))).otherwise(0.0),
            6).as("nmi"))
    }.reduce(_ unionByName _)
    // the result is k·(k−1)/2 rows — materialize it eagerly so the
    // persisted joint frame can be released here rather than leaking
    // into the session (the mad01 lesson)
    val res = out.localCheckpoint(true)
    joint.unpersist(false)
    res
  }

  /** Median-absolute-deviation outliers (mad01): the robust-statistics
    * sibling of dq02's IQR fences — MAD tolerates up to 50% corrupted
    * values where quartiles start moving at 25%, which is why data-
    * quality monitors prefer it for columns that are ALREADY suspect.
    * Per group: median, MAD, and the count of rows with
    * |v − median| > k · 1.4826 · MAD (1.4826 ≈ 1/Φ⁻¹(3/4) rescales
    * MAD to σ under normality, so k reads as "k sigmas").
    *
    * Both medians reuse weightedMedian's per-group machinery (unit
    * weights): value-grouped partial counts, per-group cumulative
    * weight — no per-group value buffering (contrast q43's exact
    * percentile, which is gate-only for that reason). The deviation
    * pass recomputes |v − med| against the JOINED group median — two
    * keyed shuffles total.
    */
  def madOutliers(df: DataFrame, group: Column, value: Column,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // collapse to the VALUE-CARDINALITY frame, run the grouped
    // cumulative-weight chain ONCE, and checkpoint THAT (r10 shipped
    // two full weightedMedian chains behind two checkpoints — a
    // 7-job constant for a 3-row answer; this is the fused form).
    // Everything downstream — median #1, the deviation frame, median
    // #2's re-bucketing, the final counts — re-reads the one
    // materialized cum frame; the only remaining heavy work after
    // the checkpoint is chain #2 over the value-cardinality frame.
    val perValue = df.select(group.as("g"), value.as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).cast("double").as("w"))
    // persist, not checkpoint: the first consumer (the median agg)
    // materializes the chain while doing useful work — a checkpoint
    // spends a dedicated pass on it. Verify/Bench drop leftover
    // blocks between queries; long-lived callers should unpersist
    // via their own session hygiene.
    val c1 = cumWeights(perValue)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE aggregate over the cached frame yields the median AND the
    // bucketing bounds chain #2 needs (r12): adev = |v − med| is >= 0
    // (lo pins to 0) and <= max(max(v)−med, med−min(v)) — the exact
    // per-group hi — so chain #2 skips its own range aggregate + join
    // over the deviation frame (cumWeightsRanged below).
    val stats = c1.groupBy(col("g")).agg(
      min(when(col("cumw") * 2 >= col("totw"), col("v"))).as("med"),
      min(col("v")).cast("double").as("__mn"),
      max(col("v")).cast("double").as("__mx"))
    // dev is derived from cached blocks + a group-cardinality join —
    // cheap enough to recompute for each of its two consumers, so no
    // second materialization
    val dev = c1.select(col("g"), col("v"), col("w")).join(stats, "g")
      .withColumn("adev", abs(col("v") - col("med")))
    // NO re-group on adev before chain #2: cumWeights tolerates tied
    // values for median selection — the running cum reaches each tie
    // group's full weight by its last row, so the first VALUE whose
    // cumulative weight crosses half is tie-order-invariant, and
    // min(v) over crossing rows reads exactly that value. Skipping
    // the collapse saves a full shuffle over the deviation frame.
    val mad = cumWeightsRanged(dev.select(col("g"), col("adev").as("v"),
        col("w"), lit(0.0).as("__lo"),
        greatest(col("__mx") - col("med"), col("med") - col("__mn"))
          .cast("double").as("__hi")))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("g")).agg(min(col("v")).as("mad"))
    // eager-materialize the group-cardinality answer so the cached
    // value-cardinality frame can be dropped HERE — Dataset.persist
    // otherwise holds a strong CacheManager reference for the session
    // (r11 ADVICE: a long-lived caller leaked one cached frame per
    // call). localCheckpoint blocks die with the RDD via the
    // ContextCleaner instead.
    val out = dev.join(mad, "g")
      .groupBy(col("g"))
      .agg(sum(col("w")).cast("long").as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("adev") > lit(k * 1.4826) * col("mad"), col("w"))
          .otherwise(0.0)).cast("long").as("n_outliers"))
      .localCheckpoint(true)
    c1.unpersist(false)
    out
  }

  /** Population Stability Index (psi01): distribution drift of a
    * numeric column between a baseline snapshot and a current one —
    * the ML-monitoring standard for "has the feature shifted enough
    * to retrain". Bins are the BASELINE's exact `nBins`-quantiles, so
    * baseline mass is uniform by construction and the index reads on
    * the usual scale (<0.1 stable, >0.25 shifted).
    *
    * The cut points are one exact-percentile aggregate collapsed to
    * nBins−1 doubles and folded back as LITERALS (pk02's pattern) —
    * the corpus-proportional work is two scan-speed binning passes
    * and two nBins-row aggregates. Counts are exact integers;
    * add-half smoothing keeps empty current-side bins finite.
    */
  def psiDrift(baseline: DataFrame, current: DataFrame, value: Column,
               nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins out of range: $nBins")
    val fracs = (1 until nBins).map(_.toDouble / nBins)
    val cuts: Seq[Double] = baseline
      .agg(percentile(value, typedlit(fracs)).as("c"))
      .head.getSeq[Double](0)
    def binOf(v: Column): Column =
      cuts.map(c => when(v >= lit(c), 1).otherwise(0))
        .reduce(_ + _).as("bin")
    def counts(df: DataFrame, alias: String): DataFrame =
      df.select(binOf(value)).groupBy("bin")
        .agg(count(lit(1)).as(alias))
    val b = counts(baseline, "n_base")
    val c = counts(current, "n_cur")
    val joined = b.join(c, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totB = sum(col("n_base")).over()
    val totC = sum(col("n_cur")).over()
    // nBins rows total — the unpartitioned windows run on a frame the
    // size of the bin count, never the corpus (url01's caveat doesn't
    // apply at this cardinality)
    val p = (col("n_base") + 0.5) / (totB + 0.5 * nBins)
    val q = (col("n_cur") + 0.5) / (totC + 0.5 * nBins)
    joined.select(col("bin"), col("n_base"), col("n_cur"),
        round((p - q) * log(p / q), 6).as("psi_term"))
      .orderBy("bin")
  }

  /** Functional-dependency audit (dp07): does A determine B? For each
    * candidate pair, one groupBy-A count-distinct-B pass; the pair
    * HOLDS iff no A value maps to two B values, and the violation
    * count says how broken a near-dependency is — the profiling step
    * that discovers natural keys, denormalization errors, and
    * candidate join columns. Each pair is an independent aggregate;
    * the per-pair result is one row.
    */
  def functionalDeps(df: DataFrame,
                     pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "functionalDeps needs at least one candidate pair")
    pairs.map { case (lhs, rhs) =>
      df.groupBy(col(lhs)).agg(count_distinct(col(rhs)).as("__nd"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("__nd")).as("__mx"))
        .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_lhs"), col("n_violating"),
          (col("__mx") <= 1L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Exact weighted median per group (wq01): the smallest value whose
    * cumulative weight reaches half the group total — the
    * size-weighted "typical value" statistic (e.g. bytes-weighted
    * median latency). With integer-valued weights the reach test
    * `2·cumw ≥ totw` is pure integer/exactly-representable arithmetic,
    * so the result is deterministic across engines and indifferent to
    * how the cumulative sum is parenthesized (which the bucketed
    * layout below changes relative to a sequential scan — fractional
    * weights would see ulp-level regrouping there).
    *
    * Scale shape: duplicate values collapse first (one groupBy), then
    * the per-group cumulative weight is a GROUPED bucketed prefix sum
    * (the Stats.cumCountsByValue idea, per group): width_bucket over
    * the group's [min, max] value range splits each group into ≤1024
    * ranges, per-(group, bucket) subtotals prefix-scan in a window
    * over that ≤1024-row-per-group SUBTOTAL frame, and the residual
    * within-bucket windows partition by (group, bucket). No window
    * ever sorts a whole group: the old partitionBy(g) form planned
    * ONE task per group — a parallelism floor with few groups (3
    * tasks on sf0.1 lineitem, measured 2.0 s → 0.9 s here) and a
    * single-task sort of a giant group's distinct values at 100 TB.
    */
  def weightedMedian(df: DataFrame, group: Column, value: Column,
                     weight: Column, buckets: Int = 1024): DataFrame = {
    val perValue = df.select(group.as("g"), value.as("v"), weight.as("w"))
      .filter(col("v").isNotNull && col("w").isNotNull)
      .groupBy(col("g"), col("v")).agg(sum(col("w")).cast("double").as("w"))
    cumWeights(perValue, buckets)
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("g"))
      .agg(min(col("v")).as("wmedian"), max(col("totw")).as("tot_weight"))
  }

  /** The grouped bucketed prefix-sum core shared by weightedMedian
    * and madOutliers: from a value-collapsed `(g, v, w)` frame,
    * produce `(g, v, w, cumw, totw)` with cumw = inclusive cumulative
    * weight in per-group value order. width_bucket over each group's
    * [min, max] splits the group into ≤`buckets` ranges; subtotals
    * prefix-scan in a window over the ≤buckets-row-per-group SUBTOTAL
    * frame; residual windows partition by (group, bucket) — no window
    * ever sorts a whole group.
    */
  private[ops] def cumWeights(perValue: DataFrame,
                              buckets: Int = 1024): DataFrame = {
    val rng = perValue.groupBy(col("g")).agg(
      min(col("v")).cast("double").as("__lo"),
      max(col("v")).cast("double").as("__hi"))
    cumWeightsRanged(perValue.join(rng, "g"), buckets)
  }

  /** cumWeights body for inputs already carrying per-group `__lo` /
    * `__hi` bucketing bounds. The bounds need only COVER each group's
    * [min(v), max(v)] — a loose lower bound just leaves leading
    * buckets empty. madOutliers derives chain #2's bounds from chain
    * #1's cached frame and skips a fresh range aggregate + join over
    * the deviation frame.
    */
  private[ops] def cumWeightsRanged(withRange: DataFrame,
                                    buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bkt = withRange.withColumn("__bkt",
      when(col("__lo") === col("__hi"), lit(1L)).otherwise(
        least(width_bucket(col("v").cast("double"), col("__lo"), col("__hi"),
          lit(buckets)), lit(buckets.toLong))))
      .drop("__lo", "__hi")
    val sub = bkt.groupBy(col("g"), col("__bkt")).agg(sum(col("w")).as("__bw"))
    val wOff = Window.partitionBy(col("g")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sub
      .withColumn("__off", coalesce(sum(col("__bw")).over(wOff), lit(0.0)))
      .withColumn("totw", sum(col("__bw")).over(Window.partitionBy(col("g"))))
      .drop("__bw")
    val wIn = Window.partitionBy(col("g"), col("__bkt")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bkt.join(offs, Seq("g", "__bkt"))
      .withColumn("cumw", col("__off") + sum(col("w")).over(wIn))
      .drop("__bkt", "__off")
  }

  /** One-pass table profile (dp09) — the "dataset card" row every
    * pipeline writes next to a published table: per column, row
    * count, nulls, EXACT distinct count, and min/max (stringified so
    * heterogeneous columns stack into one frame). All statistics come
    * from a SINGLE wide aggregate — one job, one scan — then a
    * `stack` unpivot of the one result row into long format.
    *
    * Scale note: multiple exact count(DISTINCT) in one aggregate plan
    * via Spark's Expand (the scan is read once, the shuffle carries
    * one stream per distinct column). For 100 TB audits where ±2% is
    * fine, swap count_distinct for approx_count_distinct and the plan
    * loses the Expand entirely — the exact form is the AUDIT side,
    * same trade as dq02/q43 documents.
    */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c => Seq(
      (count(lit(1)) - count(col(c))).as(s"__null_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val tuples = cols.map(c =>
      s"'$c', `__null_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`").mkString(", ")
    one.select(col("__n").as("n"), expr(
        s"stack(${cols.size}, $tuples) AS (column, n_null, n_distinct, min_val, max_val)"))
      .select(col("column"), col("n"), col("n_null"), col("n_distinct"),
        col("min_val"), col("max_val"))
  }
}
