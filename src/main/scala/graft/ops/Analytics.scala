package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-analytics operators over (key, event-time, value) streams:
  * regular-grid resampling, funnel conversion, cohort retention — the
  * OLAP workloads a product/metrics team runs daily, each shaped so
  * the only shuffles are keyed aggregations.
  */
object Analytics {

  /** Resample an irregular per-key time series onto a regular
    * `stepSec` grid with forward-fill (last observation carried
    * forward): per key, a row for every grid instant between its first
    * and last event, carrying the latest value at or before it.
    *
    * Composition, not a new primitive: the grid is one
    * sequence+explode per key (a map-side expand — no shuffle), and
    * the fill is exactly Temporal.asofJoin (union+window, one
    * exchange, zero join nodes). Grid instants align to multiples of
    * `stepSec` (floor), so buckets are engine-portable.
    */
  def resample(df: DataFrame, key: String, timeCol: String,
               valueCol: String, stepSec: Long): DataFrame = {
    require(stepSec > 0, s"stepSec must be positive: $stepSec")
    val obs = df.select(col(key), col(timeCol), col(valueCol))
    val grid = df.groupBy(col(key))
      .agg(min(unix_seconds(col(timeCol))).as("t0"),
           max(unix_seconds(col(timeCol))).as("t1"))
      .select(col(key), explode(sequence(
        floor(col("t0") / stepSec) * stepSec,
        floor(col("t1") / stepSec) * stepSec,
        lit(stepSec))).as("grid_s"))
      .select(col(key), timestamp_seconds(col("grid_s")).as(timeCol))
    Temporal.asofJoin(grid, obs, keys = Seq(key), timeCol = timeCol,
      payload = Seq(valueCol), prefix = "filled_")
  }

  /** Funnel conversion: per key, how many `first` events were followed
    * by a `second` event within `windowSec`. A converted first-event
    * is decided by a LEFT SEMI range join (exists-within-window — the
    * probe side never duplicates, so a first event with ten follow-ups
    * counts once), then one keyed count aggregate.
    */
  def funnel(first: DataFrame, second: DataFrame, key: String,
             timeCol: String, windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val f = first.select(col(key), col(timeCol))
    val s = second.select(col(key).as("__fn_key"), col(timeCol).as("__fn_ts"))
    val converted = f.join(s,
        f(key) === s("__fn_key") &&
        s("__fn_ts") >= f(timeCol) &&
        unix_micros(s("__fn_ts")) <= unix_micros(f(timeCol)) + windowSec * 1000000L,
        "left_semi")
      .groupBy(col(key)).agg(count(lit(1)).as("n_converted"))
    f.groupBy(col(key)).agg(count(lit(1)).as("n_first"))
      .join(converted, Seq(key), "left")
      .select(col(key), col("n_first"),
        coalesce(col("n_converted"), lit(0L)).as("n_converted"))
  }

  /** N-step ordered funnel (an02): per key, how many step-1 events
    * complete the whole `steps` sequence in order within `windowSec`
    * of the step-1 timestamp. Matching is GREEDY-EARLIEST (each step
    * advances to the first occurrence of the next step at-or-after
    * the current time — the standard funnel semantics), expressed as
    * a CHAIN of forward as-of joins: step i's anchor time is the
    * matched step-(i-1) time. An equal timestamp satisfies the order
    * (at-or-after), matching tp03's forward semantics.
    *
    * Scale shape: each chained step is one `Temporal.asofJoin` —
    * union + per-key window, ZERO join nodes (tp01/tp03's design), so
    * an N-step funnel is N-1 keyed window passes over step-filtered
    * (pushed-down) event subsets, then one count aggregate. No
    * range self-join, no per-user collect.
    */
  def orderedFunnel(events: DataFrame, key: String, timeCol: String,
                    steps: Seq[String], windowSec: Long,
                    typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, s"need at least 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val t1 = "__funnel_t1"
    require(!events.columns.contains(t1), s"column $t1 would be clobbered")
    var cur = events.filter(col(typeCol) === steps.head)
      .select(col(key), col(timeCol), col(timeCol).as(t1))
    for ((st, i) <- steps.tail.zipWithIndex) {
      val nxt = events.filter(col(typeCol) === st)
        .select(col(key), col(timeCol))
      val p = s"__s${i + 2}_"
      cur = Temporal.asofJoin(cur, nxt, Seq(key), timeCol,
          payload = Seq.empty, prefix = p, direction = "forward")
        .withColumn(timeCol, col(p + timeCol))
        .drop(p + timeCol)
    }
    val completed = col(timeCol).isNotNull &&
      unix_micros(col(timeCol)) <= unix_micros(col(t1)) + windowSec * 1000000L
    cur.groupBy(col(key))
      .agg(count(lit(1)).as("n_started"),
        sum(when(completed, 1L).otherwise(0L)).as("n_completed"))
  }

  /** A/B experiment readout with DETERMINISTIC assignment: users land
    * in variants by an md5 draw on (salt # user) — the same no-RNG
    * discipline as Curation.hashSample, so assignment is reproducible
    * across runs, engines, and retries, and a user never flips
    * variants mid-experiment. Conversion = at least one `second`
    * event within `windowSec` after a `first` event (the funnel
    * predicate). Returns per-variant user/conversion counts and rate.
    */
  def abReadout(first: DataFrame, second: DataFrame, key: String,
                timeCol: String, windowSec: Long,
                salt: String = "exp1"): DataFrame = {
    val assigned = funnel(first, second, key, timeCol, windowSec)
      .withColumn("variant",
        when(substring(md5(concat_ws("#", lit(salt), col(key).cast("string"))), 1, 8)
          < lit(Curation.hexThreshold(0.5)), "A").otherwise("B"))
    assigned.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum((col("n_converted") > 0).cast("long")).as("n_converted_users"),
        round(sum((col("n_converted") > 0).cast("long")) /
          count(lit(1)).cast("double"), 4).as("conv_rate"))
  }

  /** Cohort retention matrix: users grouped by the week of their first
    * event; for each (cohort_week, activity_week), the distinct users
    * active. Two keyed aggregations (first-event per key; distinct
    * key-week activity) and one equi-join — no window over the whole
    * table, no driver-side pivot.
    */
  def cohorts(df: DataFrame, key: String, timeCol: String): DataFrame = {
    val weeks = df.select(col(key),
      date_trunc("week", col(timeCol)).as("activity_week")).distinct()
    val firstWeek = weeks.groupBy(col(key))
      .agg(min(col("activity_week")).as("cohort_week"))
    weeks.join(firstWeek, key)
      .groupBy(col("cohort_week"), col("activity_week"))
      .agg(count_distinct(col(key)).as("n_active"))
  }

  /** Batch sessionization: events more than `gapSec` apart start a new
    * session; session_id numbers a user's sessions 1..k in time order.
    * The lag + running-sum pair runs inside ONE window partitioning
    * (a single shuffle on the user key, like the streaming st02
    * operator's state keying); `tieBreak` makes the in-user order
    * total when timestamps collide (events carry a unique event_id).
    */
  /** Chained debounce: keep an event only when the previous event of
    * the SAME key is more than `gapSec` older — duplicate-click /
    * retry-storm suppression. Chained semantics (each kept event
    * resets the clock for what follows, so a burst t=0,5,9,14 at
    * gap 10 keeps ONLY t=0) fall out of sessionize directly: a burst
    * IS a session, and debouncing keeps its first event. Same single
    * window shuffle; `key` may be any expression (e.g. a
    * struct(user, event_type) composite).
    */
  def debounce(df: DataFrame, key: Column, ts: Column, gapSec: Long,
               tieBreak: Column): DataFrame = {
    // sessionize checks "session_id"; __db_rn is ours alone to clobber
    require(!df.columns.contains("__db_rn"),
      "input column __db_rn would be clobbered")
    val s = sessionize(df, key, ts, gapSec, tieBreak)
    val w = Window.partitionBy(key, col("session_id")).orderBy(ts, tieBreak)
    s.withColumn("__db_rn", row_number().over(w))
      .filter(col("__db_rn") === 1)
      .drop("__db_rn", "session_id")
  }

  def sessionize(df: DataFrame, user: Column, ts: Column, gapSec: Long,
                 tieBreak: Column): DataFrame = {
    require(gapSec > 0, s"gapSec must be positive: $gapSec")
    // withColumn would silently OVERWRITE a user's session_id column
    // (and debounce would then drop it); fail loud like the sibling
    // curation operators' clobber guards
    require(!df.columns.contains("session_id"),
      "input column session_id would be clobbered")
    val w = Window.partitionBy(user).orderBy(ts, tieBreak)
    val prev = lag(ts, 1).over(w)
    // gap compared in exact integer MICROseconds: a seconds-floor cast
    // flips borderline gaps and diverges from any exact-epoch engine
    val isNew = when(prev.isNull ||
      unix_micros(ts) - unix_micros(prev) > gapSec * 1000000L, 1L).otherwise(0L)
    df.withColumn("session_id", sum(isNew).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** RFM segmentation (an06): per-customer Recency / Frequency /
    * Monetary quartile codes — the classic customer-value cube.
    * Recency is measured against the CORPUS max timestamp (never the
    * wall clock — determinism) in whole days; each metric scores 1-4
    * by its quartile cuts, recency inverted (most recent = 4). The
    * cuts come from ONE exact-percentile aggregate (nine doubles to
    * the driver) and fold back as literals, so assignment is a pure
    * scan over the per-customer frame. Exact percentile buffers the
    * per-customer metric values in one aggregation buffer — fine to
    * ~1e8 customers; swap `percentile` for `approx_percentile` beyond
    * that (dq02's documented trade) at the cost of oracle exactness.
    */
  def rfm(orders: DataFrame, customer: Column, ts: Column,
          amount: Column): DataFrame = {
    // materialize the customer-cardinality frame once: it feeds the
    // max-recency broadcast, the assignment scan, AND the percentile
    // cut aggregate — three consumers that each re-ran the full orders
    // aggregate without the checkpoint (r19 perf). Cardinality
    // qualification (r20 probe, BASELINE.md): the frame is the
    // AGGREGATE — one 32 B row per distinct customer, ~10% of input
    // rows at every SF — so the one-time checkpoint write stays orders
    // of magnitude under the two full input re-scans it saves
    // (MEMORY_AND_DISK spills past memory at 10^9+ customers).
    val per = Flat.flat(orders.groupBy(customer.as("customer"))
      .agg(max(unix_micros(ts)).as("__last_us"),
        count(lit(1)).as("frequency"),
        round(sum(amount), 2).as("monetary")))
    val withR = per
      .crossJoin(broadcast(per.agg(max(col("__last_us")).as("__max_us"))))
      .withColumn("recency_days",
        ((col("__max_us") - col("__last_us")) / lit(86400000000L)).cast("long"))
      .drop("__last_us", "__max_us")
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val cuts = withR.agg(
      percentile(col("recency_days"), qs).as("r"),
      percentile(col("frequency"), qs).as("f"),
      percentile(col("monetary"), qs).as("m")).head()
    def score(v: Column, c: Seq[Double]): Column =
      lit(1) + (v > lit(c(0))).cast("int") + (v > lit(c(1))).cast("int") +
        (v > lit(c(2))).cast("int")
    val (rc, fc, mc) = (cuts.getSeq[Double](0), cuts.getSeq[Double](1),
      cuts.getSeq[Double](2))
    withR.select(col("customer"), col("recency_days"), col("frequency"),
        col("monetary"),
        (lit(5) - score(col("recency_days"), rc)).as("r_score"),
        score(col("frequency"), fc).as("f_score"),
        score(col("monetary"), mc).as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Session path transitions (an05): the top event-type bigrams
    * inside gap-sessions — "what do users do next" — the path-analysis
    * report product teams read next to funnels. Composes sessionize
    * (one keyed window) with a lead() over the SAME
    * (user, session) partitioning, so Catalyst reuses the single
    * exchange; transition counting is one keyed aggregate. Determinism:
    * the in-session order is (ts micros, tieBreak) — total — and ties
    * in the final ranking break on the pair itself.
    */
  def pathTransitions(df: DataFrame, user: Column, ts: Column,
                      typeCol: Column, gapSec: Long, tieBreak: Column,
                      topK: Int = 20): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val s = sessionize(df, user, ts, gapSec, tieBreak)
    val w = Window.partitionBy(user, col("session_id"))
      .orderBy(ts, tieBreak)
    s.withColumn("__next", lead(typeCol, 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(typeCol.as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
      .limit(topK)
  }

  /** First/last-touch attribution (an03): credit each conversion's
    * value to a touch channel — last-touch goes to the most recent
    * touch within `lookbackSec` before (or at) the conversion,
    * first-touch to the user's earliest touch at or before it (no
    * lookback — the classic "how did they originally arrive" model);
    * conversions with no qualifying touch land in channel 'none'.
    * Output: one row per (model, channel) with conversion count and
    * summed value.
    *
    * Both models are running scans inside ONE keyed window — the
    * union+window as-of shape (Temporal.asofJoin), not a range join:
    * touches and conversions share the partition ordered by exact
    * microseconds with conversions AFTER same-instant touches
    * (is_conv sorts second) and event_id as the total tie-break, so
    * `last`/`first`(ignoreNulls) pick the attributed touch
    * deterministically on any engine. One exchange on the user key,
    * zero join nodes, then a channel-cardinality aggregate.
    */
  def attribution(events: DataFrame, key: String, timeCol: String,
                  touchTypes: Seq[String], convType: String,
                  lookbackSec: Long, typeCol: String = "event_type",
                  valueCol: String = "value",
                  tieBreak: String = "event_id"): DataFrame = {
    require(lookbackSec > 0, s"lookbackSec must be positive: $lookbackSec")
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touch types must be non-empty and exclude the conversion type")
    val t = col(typeCol)
    val base = events.filter(t.isin(touchTypes :+ convType: _*))
      .select(col(key).as("__k"), unix_micros(col(timeCol)).as("__tu"),
        col(tieBreak).as("__tb"),
        when(t =!= convType, t).as("__touch"),
        (t === convType).cast("int").as("__is_conv"),
        col(valueCol).as("__value"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__tu"), col("__is_conv"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conv = base
      .withColumn("__last", last(col("__touch"), ignoreNulls = true).over(w))
      .withColumn("__last_tu",
        max(when(col("__touch").isNotNull, col("__tu"))).over(w))
      .withColumn("__first", first(col("__touch"), ignoreNulls = true).over(w))
      .filter(col("__is_conv") === 1)
      .select(
        when(col("__last_tu") >= col("__tu") - lit(lookbackSec * 1000000L),
          col("__last")).otherwise(lit("none")).as("last_ch"),
        coalesce(col("__first"), lit("none")).as("first_ch"),
        col("__value"))
    val byFirst = conv.groupBy(col("first_ch").as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("__value")), 4).as("sum_value"))
      .select(lit("first_touch").as("model"), col("channel"),
        col("n_conversions"), col("sum_value"))
    val byLast = conv.groupBy(col("last_ch").as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("__value")), 4).as("sum_value"))
      .select(lit("last_touch").as("model"), col("channel"),
        col("n_conversions"), col("sum_value"))
    byFirst.unionAll(byLast)
  }

  /** Trailing-window z-score anomaly flags (ts01): for each event, the
    * mean/stddev of the PRIOR `windowSec` seconds of its key's stream
    * (current row excluded — an outlier must not mask itself), and an
    * anomaly flag when the z-score clears `zThreshold` with at least
    * `minPrior` supporting observations.
    *
    * One keyed RANGE-frame window (rw01's shape) computes inclusive
    * count/sum/sum-of-squares; the exclusive statistics are recovered
    * algebraically (n−1, Σ−x, Σx²−x²) instead of an EXCLUDE CURRENT
    * ROW frame Spark doesn't have. The z-score is ROUNDED before the
    * threshold compare so the flag is stable across engines that
    * associate the window sums differently (segment tree vs running).
    */
  def rollingAnomaly(df: DataFrame, key: Column, ts: Column, value: Column,
                     tieBreak: Column, windowSec: Long, minPrior: Int = 30,
                     zThreshold: Double = 3.0): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    require(minPrior >= 2, s"minPrior must be at least 2: $minPrior")
    val w = Window.partitionBy(key).orderBy(unix_seconds(ts))
      .rangeBetween(-(windowSec - 1), Window.currentRow)
    val inc = df
      .withColumn("__n_inc", count(value).over(w))
      .withColumn("__s_inc", sum(value).over(w))
      .withColumn("__q_inc", sum(value * value).over(w))
    val nEx = col("__n_inc") - 1
    val sEx = col("__s_inc") - value
    val qEx = col("__q_inc") - value * value
    // try_divide: the first row of a key has an empty prior window
    // (n=0) and ANSI mode makes plain / throw there
    val mean = try_divide(sEx, nEx)
    // sample variance of the prior window; clamp tiny negative FP dust
    val variance = greatest(
      try_divide(qEx - try_divide(sEx * sEx, nEx), nEx - 1), lit(0.0))
    // variance 0 (constant prior window) → z undefined, never anomalous
    val z = when(variance > 0,
      Portability.zround((value - mean) / sqrt(variance), 3))
    inc.select(tieBreak.as("tb"), key.as("k"),
        value.as("v"), nEx.cast("long").as("n_prior"),
        Portability.zround(mean, 4).as("prior_mean"),
        when(nEx >= minPrior, z).as("z"),
        coalesce(nEx >= minPrior && abs(z) > zThreshold, lit(false))
          .as("is_anomaly"))
      .orderBy(col("tb"))
  }

  /** Seasonal-profile anomaly flags (ts02): score each event against
    * the corpus baseline for its (key, hour-of-day) cell instead of a
    * trailing window — the monitoring model for strongly diurnal
    * metrics, complementing ts01 (which a daily traffic peak would
    * fool and a slow drift would not). A cell needs `minN`
    * observations before it can flag.
    *
    * One (key, hour) aggregate at cell cardinality (24 × keys),
    * broadcast back onto the corpus — the data-proportional side is a
    * shuffle-free join + projection. The z-score is rounded before
    * the threshold compare (ts01's engine-portability discipline).
    */
  def seasonalAnomaly(df: DataFrame, key: Column, ts: Column, value: Column,
                      tieBreak: Column, minN: Int = 30,
                      zThreshold: Double = 3.0): DataFrame = {
    require(minN >= 2, s"minN must be at least 2: $minN")
    val cells = df
      .groupBy(key.as("__sa_k"), hour(ts).as("__sa_h"))
      .agg(count(value).as("__n"), avg(value).as("__m"),
        stddev_samp(value).as("__sd"))
    val z = when(col("__sd") > 0,
      Portability.zround((value - col("__m")) / col("__sd"), 3))
    df.join(broadcast(cells),
        key === col("__sa_k") && hour(ts) === col("__sa_h"))
      .select(tieBreak.as("tb"), key.as("k"), hour(ts).as("hour_of_day"),
        value.as("v"), col("__n").as("cell_n"),
        // scale 6, not 4: a cell mean of few-decimal values lands on a
        // genuine .xxxx5 tie at 4 (sf0.001 caught 54.77875 — Spark's
        // shortest-repr HALF_UP vs DuckDB's binary nearbyint disagree
        // on true ties); at 6 the tie needs a 7-decimal shortest repr
        Portability.zround(col("__m"), 6).as("cell_mean"),
        when(col("__n") >= minN, z).as("z"),
        coalesce(col("__n") >= minN && abs(z) > zThreshold, lit(false))
          .as("is_anomaly"))
      .orderBy(col("tb"))
  }

  /** Market-basket pair affinity (cf01): support / confidence / lift
    * for item pairs co-occurring in a basket — the co-occurrence
    * signal behind "bought together" and feature co-selection.
    *
    * The pair generator is an equi-SELF-JOIN on the basket key with
    * `item_a < item_b`, so work per basket is bounded by its item
    * count squared — never a corpus cross product. Baskets with more
    * than `maxBasket` distinct items are dropped THROUGH the observed
    * metric guard (`graft.basket_lift.drops`), the same auditable
    * bound fuzzyPairs uses: a pathological 10⁵-item basket would
    * otherwise contribute 10¹⁰ pairs on its own. Statistics are exact
    * integer counts; lift's single division happens once per surviving
    * pair.
    */
  /** DAU/MAU stickiness (an07): for each active day, the distinct
    * users that day, the distinct users over the trailing
    * `windowDays`, and their ratio — the engagement metric product
    * teams watch daily.
    *
    * Trailing COUNT(DISTINCT) does not decompose into a window frame,
    * so the scale shape is: dedupe to (day, user) once (the only
    * corpus-sized shuffle), then each active user-day CONTRIBUTES
    * ITSELF to the `windowDays` forward grid days via a map-side
    * sequence+explode (×window fan-out of the already-deduped frame,
    * not the raw events), and one distinct-count per grid day. No
    * per-day rescan, no day×day self-join of raw data.
    */
  def stickiness(df: DataFrame, user: Column, ts: Column,
                 windowDays: Int = 30): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays out of range: $windowDays")
    val du = df.select(to_date(ts).as("day"), user.as("u")).distinct()
    val dau = du.groupBy(col("day")).agg(countDistinct(col("u")).as("dau"))
    val mau = du
      .select(col("u"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("day"))
      .groupBy(col("day")).agg(countDistinct(col("u")).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau") / col("mau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  def basketLift(df: DataFrame, basket: Column, item: Column,
                 minPairCount: Int = 2, maxBasket: Int = 1000): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be positive: $minPairCount")
    // hash-partition on the basket key BEFORE distinct (the lp trick):
    // bk-partitioning satisfies the (bk, it) dedup clustering, the
    // guard's bucket-size aggregate, the basket-count distinct, AND
    // the pair group-collect — so the frame crosses the network once
    // instead of three times (r19 perf: 16 → 14 stages, 33 → 29 MB
    // shuffled at sf0.1; the bigger win is at scale, where the two
    // removed exchanges carry the full frame, not local partials)
    val bi0 = df.select(basket.as("bk"), item.as("it"))
      .repartition(col("bk")).distinct()
    // persist the guarded pair set: it feeds FOUR consumers (the
    // basket count, both sides of the self-join, and the item counts)
    // — caching makes the distinct+guard run once, and keeps the drop
    // accumulators counting each dropped basket exactly once
    val bi = OpsMetrics.rowGuarded(bi0, Seq("bk"), maxBasket, "graft.basket_lift")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBaskets = bi.select(col("bk")).distinct().count()
    val itemN = bi.groupBy(col("it")).agg(count(lit(1)).as("n_item"))
    // pairs via group-collect + the NATIVE pair-combination codegen
    // expression (sorted set ⇒ index order == a < b order): one (bk)
    // aggregate with map-side partial collects, pairs materialize
    // map-side straight into the (item_a, item_b) partial agg — no
    // self-join, no buffered many-to-many merge scan, and no
    // interpreted HOF lambdas in the hot loop
    val pairs = bi.groupBy(col("bk"))
      .agg(array_sort(collect_set(col("it"))).as("__m"))
      .select(explode(graft.functions.ArrayFunctions.pair_combos(col("__m")))
        .as("__p"))
      .groupBy(col("__p.a").as("item_a"), col("__p.b").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
    // item-count join-back: no broadcast hint — the item table is
    // catalog-sized, AQE broadcasts it when it fits and shuffles on
    // the item key when it doesn't
    pairs
      .join(itemN.withColumnRenamed("it", "item_a")
        .withColumnRenamed("n_item", "n_a"), Seq("item_a"))
      .join(itemN.withColumnRenamed("it", "item_b")
        .withColumnRenamed("n_item", "n_b"), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        // cast BEFORE the long×long products (the auc overflow
        // convention): item counts scale with the corpus, so
        // n_a·n_b / n_pair·nBaskets blow past Long at billion-basket
        // catalogs under ANSI
        round(col("n_pair").cast("double") * lit(nBaskets) /
            (col("n_a").cast("double") * col("n_b")), 6)
          .as("lift"),
        round(col("n_pair") / col("n_a").cast("double"), 6).as("confidence"))
      .orderBy(col("n_pair").desc, col("item_a"), col("item_b"))
  }

  /** Item-item cosine collaborative filtering (cf02) — the classic
    * neighborhood recommender (Sarwar et al. 2001) over a binary
    * user×item incidence: sim(i,j) = |U_i ∩ U_j| / √(|U_i|·|U_j|),
    * top-k neighbors per item. Complements basketLift: lift ranks
    * PAIRS by statistical surprise; this builds each item's ranked
    * neighbor LIST, the item-to-item serving table.
    *
    * Scale shape: the co-occurrence join is keyed on the USER — a
    * user's pair fan-out is quadratic in their own item count, so the
    * same `maxItemsPerUser` guard as basketLift's maxBasket (dropped
    * users counted in `graft.item_cosine` accumulators) bounds it;
    * everything downstream carries (item, item) keys. The top-k is a
    * row_number window PARTITIONED by item. All-integer counts until
    * the one final √ — the oracle replays it exactly.
    */
  def itemCosine(df: DataFrame, user: Column, item: Column, topK: Int = 5,
                 minCommon: Int = 2, maxItemsPerUser: Int = 1000): DataFrame = {
    require(topK >= 1, s"topK must be positive: $topK")
    // user-key partition before distinct: one exchange serves the
    // dedup, the guard aggregate, and the per-user group-collect
    // (basketLift's r19 shape)
    val ui0 = df.select(user.as("u"), item.as("it"))
      .repartition(col("u")).distinct()
    val ui = OpsMetrics.rowGuarded(ui0, Seq("u"), maxItemsPerUser,
        "graft.item_cosine")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val itemN = ui.groupBy(col("it")).agg(count(lit(1)).as("n_users"))
    // group-collect + native pair-combination codegen (basketLift's
    // rationale): the per-user item set is guard-bounded, so the
    // explode is ≤ maxItemsPerUser²/2 per user, map-side, tight loop
    val co0 = ui.groupBy(col("u"))
      .agg(array_sort(collect_set(col("it"))).as("__m"))
      .select(explode(graft.functions.ArrayFunctions.pair_combos(col("__m")))
        .as("__p"))
      .groupBy(col("__p.a").as("i"), col("__p.b").as("j"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    // materialize the aggregated pair frame ONCE before mirroring: the
    // two union branches are sibling subtrees inside one job, so a
    // lazy cache races itself and BOTH branches recompute the whole
    // quadratic pair explode + count (r19 perf: the 8M-row pair
    // exchange ran twice, 2×89 MB; post-agg co is item-pair-bounded,
    // so the checkpoint is tiny). A checkpoint, not persist: blocks
    // die with the RDD via the ContextCleaner.
    val co = Flat.flat(co0)
    // mirror so every item sees its full neighbor list
    val sym = co.union(co.select(col("j").as("i"), col("i").as("j"),
      col("n_common")))
    val scored = sym
      .join(itemN.withColumnRenamed("it", "i")
        .withColumnRenamed("n_users", "n_i"), Seq("i"))
      .join(itemN.withColumnRenamed("it", "j")
        .withColumnRenamed("n_users", "n_j"), Seq("j"))
      .select(col("i").as("item"), col("j").as("neighbor"),
        col("n_common"), col("n_i"), col("n_j"),
        // n_i·n_j in double BEFORE the product (auc convention) —
        // per-item user counts scale with the corpus
        round(col("n_common") / sqrt(col("n_i").cast("double") * col("n_j")), 6)
          .as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("item"))
          .orderBy(col("cosine").desc, col("neighbor"))))
      .filter(col("rank") <= topK)
  }

  /** Changepoint scan (cp01): per key, the instant where the mean of
    * the next `w` observations moves furthest from the mean of the
    * previous `w` — the two-window mean-shift detector (a windowed
    * CUSUM stand-in whose statistic IS replayable in SQL, unlike the
    * max-recursion of true CUSUM). Only rows with BOTH windows full
    * are candidates; the per-key argmax ranks on the shift rounded at
    * 9 (so cross-engine last-bit noise can't flip it), then time/tie
    * ascending.
    *
    * Scale shape: one exchange on the key; both frames and the
    * ranking share it. Output is one row per key.
    */
  def meanShift(df: DataFrame, key: Column, ts: Column, value: Column,
                tie: Column, w: Int = 50): DataFrame = {
    require(w >= 2, s"window too small: $w")
    val base = df.select(key.as("k"), ts.as("t"), value.as("v"), tie.as("tb"))
    val order = Window.partitionBy(col("k")).orderBy(col("t"), col("tb"))
    val before = order.rowsBetween(-w, -1)
    val after = order.rowsBetween(1, w)
    val cand = base
      .withColumn("n_before", count(col("v")).over(before))
      .withColumn("n_after", count(col("v")).over(after))
      .withColumn("mean_before", avg(col("v")).over(before))
      .withColumn("mean_after", avg(col("v")).over(after))
      .filter(col("n_before") === w && col("n_after") === w)
      .withColumn("shift", abs(col("mean_after") - col("mean_before")))
    val rank = Window.partitionBy(col("k"))
      .orderBy(round(col("shift"), 9).desc, col("t"), col("tb"))
    cand.withColumn("__rn", row_number().over(rank)).filter(col("__rn") === 1)
      .select(col("k"), col("t"), col("tb"),
        round(col("mean_before"), 4).as("mean_before"),
        round(col("mean_after"), 4).as("mean_after"),
        round(col("shift"), 4).as("shift"))
  }

  /** Kaplan-Meier survival curve per group (km01): at each distinct
    * duration t, S(t) = Π_{t'≤t} (1 − d(t')/n(t')) with d = observed
    * events and n = subjects still at risk — the censoring-aware churn/
    * retention estimator (a plain "fraction still alive" is biased the
    * moment observation windows differ). The running product is
    * exp(Σ ln(·)) over the per-group time order, with an explicit
    * zero flag once the at-risk set dies out (ln(0) is engine-
    * dependent; a max-window boolean is not).
    *
    * Scale shape: durations collapse to per-(group, t) counts first,
    * then ONE keyed exchange serves the at-risk cumulative, the log
    * sum, and the zero flag. Output is one row per (group, t).
    */
  def kaplanMeier(df: DataFrame, group: Column, duration: Column,
                  observed: Column): DataFrame = {
    val base = df.select(group.as("g"), duration.cast("double").as("t"),
        when(observed, 1L).otherwise(0L).as("ev"))
      .filter(col("t").isNotNull)
    val perT = base.groupBy(col("g"), col("t"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("c"))
    val order = Window.partitionBy(col("g")).orderBy(col("t"))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("g"))
    perT
      .withColumn("n_risk",
        sum(col("c")).over(tot) - coalesce(sum(col("c")).over(before), lit(0L)))
      .withColumn("__dead", max((col("d") === col("n_risk")).cast("int")).over(upTo))
      .withColumn("__lnsum",
        sum(when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d") / col("n_risk").cast("double")))
          .otherwise(lit(0.0))).over(upTo))
      .select(col("g"), col("t"), col("d"), col("c").as("n_at_t"), col("n_risk"),
        round(when(col("__dead") === 1, 0.0)
          .otherwise(exp(col("__lnsum"))), 6).as("survival"))
  }

  /** CUPED variance-reduced experiment readout (ab02, Deng et al.
    * 2013): the industry-standard A/B trick — regress the experiment
    * metric on its PRE-experiment value and analyze the residual,
    * cutting variance by the pre/post correlation² without biasing the
    * treatment delta. θ = cov(pre, post)/var(pre) is pooled across
    * variants (the standard choice: computed under the null, no
    * per-variant fishing); both moments come from two-pass centered
    * sums (linearFit's discipline). Per variant: n, raw mean, adjusted
    * mean, raw/adjusted sample variance.
    */
  def cuped(df: DataFrame, unit: Column, variant: Column,
            pre: Column, post: Column): DataFrame = {
    val base = df.select(unit.as("u"), variant.as("variant"),
        pre.cast("double").as("pre"), post.cast("double").as("post"))
      .filter(col("pre").isNotNull && col("post").isNotNull)
    val m = base.agg(count(lit(1)).as("n"), avg(col("pre")).as("mp"),
      avg(col("post")).as("mo")).head
    val (n, mp) = (m.getLong(0), m.getDouble(1))
    require(n >= 2, s"cuped needs ≥2 units: $n")
    val mo = m.getDouble(2)
    val cv = base.agg(
      sum((col("pre") - mp) * (col("post") - mo)).as("sxy"),
      sum((col("pre") - mp) * (col("pre") - mp)).as("sxx")).head
    val theta = cv.getDouble(0) / cv.getDouble(1)
    val adj = base.withColumn("adj",
      col("post") - lit(theta) * (col("pre") - mp))
    adj.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("post")), 4).as("mean_post"),
        round(avg(col("adj")), 4).as("mean_adj"),
        round(var_samp(col("post")), 4).as("var_post"),
        round(var_samp(col("adj")), 4).as("var_adj"))
  }

  /** STL-lite seasonal decomposition (ts05): value = trend + seasonal
    * + residual over a DENSE per-key bucket series (run gapFill
    * upstream) — trend from a centered (2w+1)-bucket moving average
    * (null until the window is full: a shrinking edge window would
    * fake a trend), seasonal as the per-(key, period-phase) mean of
    * the detrended series, residual as what's left. The residual is
    * where ts01/ts02 anomalies get cleaner: level and season are
    * already explained. One keyed window + one phase aggregate
    * joined back.
    */
  def seasonalDecompose(df: DataFrame, key: Column, bucketTs: Column,
                        value: Column, periodBuckets: Int = 24,
                        trendW: Int = 12, stepSec: Long = 3600L): DataFrame = {
    require(periodBuckets >= 2 && trendW >= 1 && stepSec > 0,
      s"bad args: period=$periodBuckets w=$trendW step=$stepSec")
    val base = df.select(key.as("k"), bucketTs.as("bt"),
      value.cast("double").as("v"))
    val order = Window.partitionBy(col("k")).orderBy(col("bt"))
    val frame = order.rowsBetween(-trendW, trendW)
    val withTrend = base
      .withColumn("__nw", count(col("v")).over(frame))
      .withColumn("trend",
        when(col("__nw") === 2 * trendW + 1, avg(col("v")).over(frame)))
      .withColumn("detrended", col("v") - col("trend"))
      .withColumn("phase",
        pmod(floor(unix_micros(col("bt")) / (stepSec * 1000000L)),
          lit(periodBuckets)))
    val seasonal = withTrend.filter(col("detrended").isNotNull)
      .groupBy(col("k"), col("phase"))
      .agg(avg(col("detrended")).as("seasonal"))
    withTrend.join(seasonal, Seq("k", "phase"), "left")
      .select(col("k"), col("bt"), col("v"), col("phase").cast("int").as("phase"),
        Portability.zround(col("trend"), 4).as("trend"),
        Portability.zround(col("seasonal"), 4).as("seasonal"),
        Portability.zround(col("v") - col("trend") - col("seasonal"), 4)
          .as("residual"))
  }

  /** Autocorrelation function per series (ts03): r_k for lags 1..K
    * against the per-series mean — the seasonality/trend detector
    * (r_24h spikes on diurnal series). One keyed window pass produces
    * all K lag columns; the normalizing Σ(x−m)² and the co-moments
    * aggregate together. Rows are ordered (ts, tie); means come from
    * one group pass joined back (bounded by series count).
    */
  def acf(df: DataFrame, key: Column, ts: Column, value: Column,
          tie: Column, maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"maxLag out of range: $maxLag")
    val base = df.select(key.as("k"), ts.as("t"), tie.as("tb"),
        value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    val means = base.groupBy(col("k")).agg(avg(col("v")).as("m"))
    val order = Window.partitionBy(col("k")).orderBy(col("t"), col("tb"))
    val lagged = (1 to maxLag).foldLeft(base.join(means, Seq("k"))) {
      (d, l) => d.withColumn(s"__lag$l", lag(col("v"), l).over(order))
    }
    val aggs = sum((col("v") - col("m")) * (col("v") - col("m"))).as("s0") +:
      (1 to maxLag).map(l =>
        sum((col("v") - col("m")) * (col(s"__lag$l") - col("m"))).as(s"s$l"))
    val perKey = lagged.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
    val out = (1 to maxLag).map(l => perKey.select(col("k"), lit(l).as("lag"),
      round(col(s"s$l") / col("s0"), 4).as("acf")))
    out.reduce(_ union _)
  }
  /** A/B power readout (ab03) — the minimum detectable effect for a
    * two-sample mean comparison at significance `alpha` (two-sided)
    * and target `power`: MDE = (z_{1−α/2} + z_{power}) ·
    * √(s_A²/n_A + s_B²/n_B), plus the relative MDE against the
    * control mean — the "how long must this experiment run" number
    * every experimentation platform reports. Variant assignment is
    * the caller's (typically the md5 split abReadout uses). ONE
    * two-group aggregate; z constants are fixed literals, so the
    * whole readout replays exactly.
    */
  def minDetectableEffect(df: DataFrame, isTreatment: Column,
                          value: Column, zAlpha: Double = 1.959963984540054,
                          zPower: Double = 0.8416212335729143): DataFrame = {
    val base = df.filter(value.isNotNull)
      .select(isTreatment.as("t"), value.cast("double").as("v"))
    val g = base.agg(
      sum(when(!col("t"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("t"), 1L).otherwise(0L)).as("n_b"),
      avg(when(!col("t"), col("v"))).as("mean_a"),
      avg(when(col("t"), col("v"))).as("mean_b"),
      variance(when(!col("t"), col("v"))).as("var_a"),
      variance(when(col("t"), col("v"))).as("var_b"))
    val mde = lit(zAlpha + zPower) *
      sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b"))
    g.select(col("n_a"), col("n_b"),
      round(col("mean_a"), 4).as("mean_a"),
      round(col("mean_b"), 4).as("mean_b"),
      round(mde, 6).as("mde_abs"),
      round(mde / col("mean_a"), 6).as("mde_rel"))
  }

  /** Bounded-horizon EWMA smoothing (ts05) — the exponentially-
    * weighted moving average as a per-row FEATURE (rollingAnomaly's
    * uniform window, but recency-weighted). True EWMA is a sequential
    * recursion (s_t = αx_t + (1−α)s_{t−1}), which no distributed
    * engine evaluates as such; the standard production form truncates
    * the geometric tail at `horizon` K lags — the dropped mass is
    * (1−α)^K of the weight (<0.6% at α=0.3, K=16) — and renormalizes
    * over the lags actually present, which also makes the series
    * start exact instead of biased toward zero.
    *
    * Scale shape: ONE keyed window pass; the K lag() calls share the
    * single (key, order) exchange and sort — K is a constant, so this
    * stays a linear scan at any corpus size. Deterministic total
    * order via the tie column; the algebra is replayable lag-for-lag
    * in SQL.
    */
  def ewmaSmooth(df: DataFrame, key: Column, ts: Column, tie: Column,
                 value: Column, alpha: Double = 0.3,
                 horizon: Int = 16): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(horizon >= 1 && horizon <= 64, s"horizon out of range: $horizon")
    val base = df.select(key.as("k"), ts.as("t"), tie.as("tb"),
      value.cast("double").as("v"))
    val order = Window.partitionBy(col("k")).orderBy(col("t"), col("tb"))
    val terms = (0 until horizon).map { j =>
      val lv = if (j == 0) col("v") else lag(col("v"), j).over(order)
      val w = math.pow(1.0 - alpha, j)
      (when(lv.isNotNull, lv * w).otherwise(0.0),
        when(lv.isNotNull, w).otherwise(0.0))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    base.select(col("k"), col("t"), col("tb"), col("v"),
      round(num / den, 6).as("ewma"))
  }

  /** Offline CUSUM changepoint detection (ts06, Page 1954 / the
    * classic cumulative-sum estimator): per series, C_i = S_i −
    * i·(S_n/n) over the time-ordered values; the changepoint estimate
    * is argmax |C_i|, and the series "changed" when the normalized
    * exceedance max|C| / (σ·√n) clears `h`. One row per series with
    * the change time, the level before/after, and the shift.
    *
    * Determinism across engines is the design: EVERY statistic —
    * including the mean and σ — derives from the two ORDERED prefix
    * sums (Σv, Σv²), which both Spark and DuckDB evaluate row-by-row
    * in the same (ts, tie) total order, so the doubles are
    * bit-identical and no rounding tie can flip the argmax or the
    * verdict (an avg()/stddev() formulation would differ in final-ulp
    * summation order and CUSUM amplifies that by i).
    *
    * Scale shape: ONE keyed window exchange (all five window columns
    * share it) then a map-side max(struct) argmax per key — series
    * parallelism; a single series longer than a partition serializes
    * its own window, the accepted ts-family caveat.
    */
  def cusumChangepoint(df: DataFrame, key: Column, ts: Column, tie: Column,
                       value: Column, h: Double = 1.0): DataFrame = {
    require(h > 0, s"h must be positive: $h")
    val base = df.select(key.as("k"), unix_micros(ts).as("us"), tie.as("tb"),
        value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    val ord = Window.partitionBy(col("k")).orderBy(col("us"), col("tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy(col("k")).orderBy(col("us"), col("tb"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withC = base
      .withColumn("s", sum(col("v")).over(ord))
      .withColumn("q", sum(col("v") * col("v")).over(ord))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("us"), col("tb"))))
      // ordered totals: LAST value of the ordered prefixes — identical
      // in both engines, unlike an unordered whole-partition sum
      .withColumn("tot", last(col("s")).over(full))
      .withColumn("qtot", last(col("q")).over(full))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("c", col("s") - col("i") * col("tot") / col("n"))
    val best = withC.groupBy(col("k")).agg(
      max(struct(abs(col("c")).as("ac"), (-col("us")).as("nus"),
        col("s"), col("i"), col("tot"), col("qtot"), col("n"))).as("b"))
    best.select(col("k"), col("b.n").as("n"),
        (-col("b.nus")).as("change_us"),
        col("b.ac").as("__maxc"), col("b.s").as("__s"), col("b.i").as("__i"),
        col("b.tot").as("__tot"), col("b.qtot").as("__qtot"))
      .withColumn("__var", greatest(
        (col("__qtot") - col("__tot") * col("__tot") / col("n")) /
          (col("n") - 1), lit(0.0)))
      .withColumn("__stat", when(col("__var") > 0,
        col("__maxc") / sqrt(col("__var") * col("n"))))
      .select(col("k"), col("n"), col("change_us"),
        Portability.zround(col("__maxc"), 4).as("max_cusum"),
        Portability.zround(col("__stat"), 4).as("norm_stat"),
        coalesce(col("__stat") > h, lit(false)).as("changed"),
        Portability.zround(col("__s") / col("__i"), 4).as("mean_before"),
        when(col("n") > col("__i"), Portability.zround(
          (col("__tot") - col("__s")) / (col("n") - col("__i")), 4))
          .as("mean_after"))
  }

  /** Time-to-convert (fn02): per entity, the delay between its FIRST
    * `from` event and its first `to` event at-or-after it — the
    * latency companion to fn01's ordered funnel (fn01 counts who
    * converts; this measures how long conversion takes, the input to
    * activation-latency SLAs and cohort latency curves). Entities
    * whose only `to` events precede their first `from` are
    * non-conversions, not negative latencies. Output: one row per
    * converting entity (id, from_us, to_us, delta_us — exact
    * microsecond integers, no float time math).
    *
    * Two keyed aggregates over the same entity key — min(ts | from)
    * per id, joined back to bound the min(ts | to) — both shuffles
    * hash on id, the join is id-co-partitioned, and only (id, two
    * longs) ever cross the wire. No window, no per-entity buffering.
    */
  /** Inter-arrival statistics (ia01): per key, the distribution of
    * gaps between consecutive events — the burstiness readout rate
    * limiting, capacity planning, and bot detection all start from
    * (a bot's median gap is machine-regular; a human's is heavy-
    * tailed). Exact microsecond integers end to end: count, min,
    * max, sum of gaps, and the EXACT median gap via the grouped
    * bucketed-prefix-sum weighted median (no whole-group sorts).
    *
    * One keyed window pass for the lag (the ts05 shape — a single
    * (key, order) exchange), then value-cardinality frames only.
    */
  def interArrival(df: DataFrame, key: Column, ts: Column,
                   tie: Column): DataFrame = {
    val base = df.select(key.as("k"), unix_micros(ts).as("us"), tie.as("tb"))
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("tb"))
    val gaps = base
      .withColumn("__prev", lag(col("us"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("k"), (col("us") - col("__prev")).as("gap"))
    val med = Profile.weightedMedian(gaps, col("k"), col("gap"), lit(1L))
      .select(col("g").as("k"), col("wmedian").cast("long").as("median_gap_us"))
    gaps.groupBy(col("k"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"), sum(col("gap")).as("sum_gap_us"))
      .join(med, "k")
  }

  /** Min/max downsampling (ds01): per (series, time bucket) keep the
    * POINTS attaining the bucket's minimum and maximum — the shape-
    * preserving reduction monitoring UIs run before plotting billions
    * of samples (a plain per-bucket avg flattens every spike; keeping
    * argmin/argmax preserves the envelope exactly). Tie-break is
    * deterministic — struct ordering (value, ts, tie): min takes the
    * EARLIEST occurrence of the lowest value, max the LATEST of the
    * highest — so the output replays bit-for-bit across engines.
    *
    * One partial-aggregated groupBy on (series, bucket) — min/max of
    * a packed struct, no window, no sort of the raw points; the same
    * plan at any density. Bucket ids use integral division of exact
    * microseconds (no float time math).
    */
  def minmaxDownsample(df: DataFrame, key: Column, ts: Column, tie: Column,
                       value: Column, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive: $bucketSeconds")
    val bucketUs = bucketSeconds * 1000000L
    val base = df.select(key.as("k"), unix_micros(ts).as("us"),
        tie.as("tb"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      // FLOOR division, not DIV (truncate-toward-zero): pre-1970
      // timestamps have negative micros and must land in the bucket
      // BELOW zero, matching the oracle's `//`. pmod is non-negative,
      // so (us - pmod) is an exact multiple and the DIV is exact.
      .withColumn("bucket",
        expr(s"(us - pmod(us, ${bucketUs}L)) DIV ${bucketUs}L"))
    base.groupBy(col("k"), col("bucket"))
      .agg(min(struct(col("v"), col("us"), col("tb"))).as("lo"),
        max(struct(col("v"), col("us"), col("tb"))).as("hi"),
        count(lit(1)).as("n_in_bucket"))
      .select(col("k"), col("bucket"),
        col("lo.v").as("v_min"), col("lo.us").as("min_us"),
        col("hi.v").as("v_max"), col("hi.us").as("max_us"),
        col("n_in_bucket"))
  }

  def timeToConvert(df: DataFrame, id: Column, ts: Column, eventType: Column,
                    from: String, to: String): DataFrame = {
    val base = df.select(id.as("id"), unix_micros(ts).as("us"),
      eventType.as("et"))
    // two-phase: first-from per id (cheap partial agg), then the
    // conditional min for `to` needs first-from as a per-row bound —
    // a broadcast-sized frame would be wrong at scale (one row per
    // entity), so re-aggregate with the bound JOINED back by key:
    // both shuffles hash on the same id key and AQE coalesces them.
    val firstFrom = base.filter(col("et") === from)
      .groupBy(col("id")).agg(min(col("us")).as("from_us"))
    base.filter(col("et") === to)
      .join(firstFrom, "id")
      .filter(col("us") >= col("from_us"))
      .groupBy(col("id"), col("from_us"))
      .agg(min(col("us")).as("to_us"))
      .select(col("id"), col("from_us"), col("to_us"),
        (col("to_us") - col("from_us")).as("delta_us"))
  }
}
