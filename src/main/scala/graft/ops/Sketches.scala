package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches. The existing approx family covers
  * cardinality (q15 HLL, hll01 sketch rollup) and quantiles (q44
  * t-digest-style); this adds frequency — "which values dominate the
  * stream" — the signal that finds spam domains, hot keys, and
  * runaway event types before they melt a shuffle.
  */
object Sketches {

  /** Heavy hitters via per-partition Misra–Gries + exact verification
    * (hh01). Pass 1 runs a `cap`-counter Misra–Gries summary inside
    * each partition (bounded memory regardless of key cardinality,
    * amortized O(1) per row) and merges the per-partition summaries by
    * key — the shuffle carries at most partitions×cap rows, NEVER the
    * raw keys. The merged survivors are candidates; the top `cap` by
    * summary weight get their TRUE counts in pass 2 via a
    * broadcast-candidate semi-join + one exact aggregate.
    *
    * Guarantee (the reason this is the 100 TB shape): any value with
    * true frequency > N/(cap+1) is mathematically guaranteed to
    * survive both the partition summaries and the merge (each MG
    * decrement retires cap+1 distinct occurrences, so a value must be
    * decremented more than N/(cap+1) times to die — more occurrences
    * than it has). Rows carry `guaranteed` = cap+1 exact-count > N,
    * computed in integer arithmetic so no engine disagrees on the
    * boundary. Values below the threshold MAY appear (with exact
    * counts) but carry guaranteed = false.
    */
  def heavyHitters(df: DataFrame, key: Column, cap: Int = 16): DataFrame = {
    require(cap >= 1 && cap <= 100000, s"cap out of range: $cap")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(key.cast("string").as("k")).as[String]
    val summaries = keys.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { x =>
        val cur = m.getOrElse(x, -1L)
        if (cur >= 0L) m.update(x, cur + 1)
        else if (m.size < cap) m.update(x, 1L)
        else {
          // decrement-all: retires one occurrence of cap+1 distinct
          // values (this x plus the cap counters) per overflow
          val dead = m.iterator.collect { case (k, 1L) => k }.toList
          m.mapValuesInPlace((_, v) => v - 1)
          dead.foreach(m.remove)
        }
      }
      m.iterator
    }.toDF("k", "w")
    val candidates = summaries.groupBy(col("k"))
      .agg(sum(col("w")).as("w"))
      .orderBy(col("w").desc, col("k").asc)
      .limit(cap)
      .select(col("k"))
    val total = df.count()
    keys.toDF("k")
      .join(broadcast(candidates), Seq("k"), "left_semi")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_exact"))
      .select(col("k").as("value"), col("n_exact"),
        (lit(cap + 1L) * col("n_exact") > lit(total)).as("guaranteed"))
      .orderBy(col("n_exact").desc, col("value").asc)
  }

  /** Count-Min frequency sketch (cm01): `depth` hash rows × `width`
    * counters, estimate(k) = min over rows of cell[h_r(k)]. The cell
    * array is (depth·width) COUNTERS regardless of stream size — at
    * 100 TB the build is one partial-aggregated shuffle of at most
    * depth·width rows per partition, the sketch itself broadcasts in
    * a few KB, and cells from different days/shards MERGE by cell-wise
    * addition (same rollup contract as hll01).
    *
    * Hashing is md5-derived ("r:key" → first 8 hex digits → bucket),
    * so the sketch is deterministic across engines/runs — the oracle
    * replays it cell-for-cell in SQL. The one-sided CM guarantee
    * (estimate ≥ true count, always; overshoot ≤ εN with probability
    * 1−δ) is returned per key as `lower_ok` for the gate to assert.
    *
    * Returns one row per distinct key: (value, n_exact, n_est,
    * lower_ok). The exact counts are for the AUDIT — production use
    * keeps only the cells and never touches raw keys again.
    */
  def countMin(df: DataFrame, key: Column, depth: Int = 4,
               width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth out of range: $depth")
    require(width >= 2 && width <= (1 << 20), s"width out of range: $width")
    val keyed = df.select(key.cast("string").as("k"))
    def bucket(r: Column, k: Column): Column =
      conv(substring(md5(concat_ws(":", r, k)), 1, 8), 16, 10)
        .cast("long") % width
    val cells = keyed
      .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("b", bucket(col("r"), col("k")))
      .groupBy("r", "b").agg(count(lit(1)).as("n"))
    val keys = keyed.groupBy("k").agg(count(lit(1)).as("n_exact"))
    keys
      .select(col("k"), col("n_exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("b", bucket(col("r"), col("k")))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("k", "n_exact").agg(min(col("n")).as("n_est"))
      .select(col("k").as("value"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("lower_ok"))
      .orderBy(col("value"))
  }

  /** Fixed-edge histogram per key group (qs01 building block): bin
    * counts over `nBins` equal-width bins on [lo, hi], clamped at the
    * edges. Fixed edges (not data-derived) are what make per-shard
    * histograms MERGEABLE by bin-wise addition — the quantile leg of
    * the mergeable-sketch trio (hll01 cardinality, cm01 frequency).
    */
  def binnedHistogram(df: DataFrame, value: Column, lo: Double, hi: Double,
                      nBins: Int, keys: Seq[Column] = Nil): DataFrame = {
    require(hi > lo, s"empty range: [$lo, $hi]")
    require(nBins >= 2 && nBins <= 100000, s"nBins out of range: $nBins")
    val width = (hi - lo) / nBins
    val bin = least(greatest(
      floor((value - lo) / width).cast("int"), lit(0)), lit(nBins - 1))
    df.filter(value.isNotNull)
      .groupBy((keys :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile estimates from a merged fixed-edge histogram (qs01):
    * rank the cumulative bin counts, linearly interpolate inside the
    * bin holding each target rank. Error is bounded by ONE BIN WIDTH
    * whenever [lo, hi] covers the data — the trade every serving
    * system makes to answer "p99 this month" by adding 30 daily
    * 32-row histograms instead of rescanning a month of raw data.
    *
    * Quantiles are RATIONALS (num, den): the target rank
    * ceil(num·N/den) is computed in integer arithmetic, because e.g.
    * 0.9·N in doubles can land on 9000.000000000002 and ceil to the
    * wrong rank on one engine but not the other. The histogram side
    * is nBins rows — every window here is bin-cardinality, never
    * data-cardinality.
    */
  def quantilesFromHistogram(hist: DataFrame, lo: Double, hi: Double,
                             nBins: Int,
                             quantiles: Seq[(Int, Int)]): DataFrame = {
    require(quantiles.nonEmpty, "no quantiles requested")
    quantiles.foreach { case (num, den) =>
      require(num > 0 && num <= den, s"quantile out of (0,1]: $num/$den") }
    val width = (hi - lo) / nBins
    val merged = hist.groupBy(col("bin")).agg(sum(col("n")).as("n"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = merged
      .withColumn("cum_before", coalesce(sum(col("n")).over(wCum), lit(0L)))
      .withColumn("total", sum(col("n")).over())
    quantiles.map { case (num, den) =>
      val target = (lit(num.toLong) * col("total") + lit(den.toLong - 1))
        .divide(lit(den.toLong)).cast("long")
      cum.filter(col("cum_before") < target &&
          target <= col("cum_before") + col("n"))
        .select(lit(s"$num/$den").as("q"),
          round(lit(lo) + lit(width) *
            (col("bin") + (target - col("cum_before")) /
              col("n").cast("double")), 6).as("estimate"),
          round(lit(width), 6).as("max_error"))
    }.reduce(_ unionAll _)
  }

  private val kmvOrd: Ordering[(Double, String)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)

  /** Mergeable KMV core shared by kmv01/kmv02: the k smallest
    * DISTINCT (u = md5-draw, key) pairs of one side, built per
    * PARTITION with a capped ≤k-entry ordered set (the codegen'd md5
    * projection feeds a typed mapPartitions) and merged driver-side
    * from ≤ partitions·k rows. No wide shuffle and no distinct of the
    * full key set — duplicates collapse inside the per-partition set
    * because equal keys carry equal hashes. Ties in the 32-bit prefix
    * break on the key itself, so a boundary-straddling sketch is
    * engine-portable.
    */
  // package-private pre-collect form so PlanQualitySpec can assert the
  // sketch plan carries no Exchange (the r9 full-cardinality dedup
  // shuffle must never come back)
  private[graft] def kmvSketchDS(df: DataFrame, key: Column,
                                 k: Int): org.apache.spark.sql.Dataset[(Double, String)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val u = conv(substring(md5(col("_2")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    df.select(key.cast("string").as("_2")).filter(col("_2").isNotNull)
      .select(u.as("_1"), col("_2"))
      .as[(Double, String)]
      .mapPartitions { it =>
        val set = scala.collection.mutable.TreeSet.empty[(Double, String)](kmvOrd)
        it.foreach { t =>
          if (set.size < k) set += t
          else if (kmvOrd.lt(t, set.last) && set.add(t)) set.remove(set.last)
        }
        set.iterator
      }
  }

  private def kmvSketch(df: DataFrame, key: Column,
                        k: Int): Array[(Double, String)] =
    kmvSketchDS(df, key, k).collect().sorted(kmvOrd).distinct.take(k)

  /** KMV (k-minimum-values) distinct-count sketch (kmv01): hash every
    * key to u ∈ [0,1), keep the k smallest — the estimator
    * (k−1)/u₍k₎ is unbiased, the sketch is k values regardless of
    * stream size, and two sketches MERGE by keeping the k smallest of
    * their union (hll01's rollup contract, but — unlike HLL — every
    * step is md5-deterministic and an oracle replays the estimate
    * EXACTLY, not as a tolerance bound). Built by [[kmvSketch]]: two
    * narrow scans, no full-cardinality distinct shuffle.
    */
  def kmvDistinct(df: DataFrame, key: Column, k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be ≥ 2: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val mins = kmvSketch(df, key, k).map(_._1)
    require(mins.length == k,
      s"kmvDistinct: fewer than k=$k distinct keys (${mins.length}) — use an exact count")
    val uk = mins.last
    Seq((k.toLong, uk, (k - 1) / uk)).toDF("k", "u_k", "estimate")
      .select(col("k"), round(col("u_k"), 9).as("u_k"),
        round(col("estimate"), 4).as("estimate"))
  }

  /** KMV set-overlap estimate (kmv02) — Jaccard / intersection size
    * between two key sets WITHOUT joining them (Beyer et al. 2007):
    * take the k minimum hash values of the DISTINCT union with
    * membership flags; Ĵ = |{v ∈ K_k : v ∈ A ∧ v ∈ B}| / k, the
    * union size from kmv01's (k−1)/u₍k₎, intersection = Ĵ·union. The
    * 100 TB pre-join audit: "how much do these two 10¹⁰-key sets
    * overlap" from two narrow scans — NO wide shuffle, NO distinct of
    * the full key sets — md5-deterministic so an oracle replays the
    * ESTIMATE exactly (vs HLL's tolerance bound).
    *
    * K-min sketches are MERGEABLE: the k smallest of A∪B are a subset
    * of (k smallest of A) ∪ (k smallest of B), and since fewer than k
    * union values hash below any union-sketch member, a member that
    * belongs to A is necessarily among A's own k smallest — so the
    * membership flags fall out of the merge exactly: each side builds
    * a [[kmvSketch]] and the driver merges 2·k rows.
    */
  def kmvOverlap(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                 k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be ≥ 2: $k")
    val spark = a.sparkSession
    import spark.implicits._
    val sa = kmvSketch(a, keyA, k)
    val sb = kmvSketch(b, keyB, k)
    val merged = (sa ++ sb).distinct.sorted(kmvOrd).take(k)
    require(merged.length == k,
      s"kmvOverlap: fewer than k=$k distinct union keys (${merged.length}) — join exactly")
    val inA = sa.toSet
    val inB = sb.toSet
    val nBoth = merged.count(t => inA.contains(t) && inB.contains(t)).toLong
    val uk = merged.last._1
    val jac = nBoth.toDouble / k
    val unionEst = (k - 1) / uk
    Seq((k.toLong, nBoth, jac, unionEst, jac * unionEst))
      .toDF("k", "n_both", "jaccard_est", "union_est", "intersection_est")
      .select(col("k"), col("n_both"),
        round(col("jaccard_est"), 6).as("jaccard_est"),
        round(col("union_est"), 4).as("union_est"),
        round(col("intersection_est"), 4).as("intersection_est"))
  }

  /** Bloom-filter membership audit (bf02) — build a Bloom filter over
    * a build-side key set (Spark's native `bloom_filter_agg`, the
    * same sketch the engine injects for runtime join filtering) and
    * probe it with a present set and an absent set. Output is one row
    * per probe set pinning the STRUCTURAL guarantees rather than the
    * bit pattern (which no other engine can replay):
    *
    *   - `no_false_negatives`: every probe that IS in the build set
    *     must hit — a miss is a broken filter, never sampling noise;
    *   - `fp_below_bound`: false-positive hits on the absent set stay
    *     under `fpBound` (set it ≳3× the configured fpp — a
    *     deterministic property of the fixed hash family).
    *
    * Scale shape: the filter build is Spark's `stat.bloomFilter`
    * treeAggregate — map-side partial OR-merge of bit arrays, the
    * driver holds only the sketch (numBits/8 bytes, the kmeans-sample
    * bound) — and the probe pass is the repo's native
    * `graft_bloom_contains` codegen expression over the sketch as a
    * binary LITERAL: scan-speed, zero shuffle, zero joins. This is
    * the 100 TB pre-join existence check: probe 10¹¹ rows against a
    * 10⁸-key dimension in one scan.
    */
  def bloomMembership(build: DataFrame, key: Column,
                      present: DataFrame, presentKey: Column,
                      absent: DataFrame, absentKey: Column,
                      expectedItems: Long, numBits: Long,
                      fpBound: Double): DataFrame = {
    val filt = build.stat.bloomFilter(key.cast("long"), expectedItems, numBits)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      filt.writeTo(bos); bos.toByteArray
    }
    // NO dedup here: the probe pass must stay a pure scan (callers
    // pre-distinct if their probe multiset shouldn't double-count)
    def probe(df: DataFrame, k: Column, label: String) =
      df.select(k.cast("long").as("pk")).filter(col("pk").isNotNull)
        .agg(count(lit(1)).as("n_probes"),
          sum(when(graft.functions.SketchFunctions
            .bloom_contains(bytes, col("pk")), 1L).otherwise(0L))
            .as("n_hits"))
        .select(lit(label).as("probe_set"), col("n_probes"),
          (col("n_hits") === col("n_probes")).as("no_false_negatives"),
          // pure bound — no all-hits escape hatch: a SATURATED filter
          // (100% FP on the absent set) is exactly the failure this
          // audit exists to catch and must report false here
          (col("n_hits") <= ceil(col("n_probes") * fpBound))
            .as("fp_below_bound"))
    // present: all must hit (subset guarantee); the fp bound is vacuous
    // there (pinned true). absent: misses are expected, the FN
    // guarantee is vacuous (pinned true); pin the fp bound.
    probe(present, presentKey, "present").select(
        col("probe_set"), col("n_probes"), col("no_false_negatives"),
        lit(true).as("fp_below_bound"))
      .union(probe(absent, absentKey, "absent").select(
        col("probe_set"), col("n_probes"),
        lit(true).as("no_false_negatives"), col("fp_below_bound")))
  }
}
