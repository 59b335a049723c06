package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality guards: these assert the SHAPE of the plans
  * (pushdown, pruning, partial aggregation, join strategy, exchange
  * reuse) so a future refactor that silently degrades a plan — e.g.
  * loses filter pushdown or recomputes a self-join side — fails CI,
  * not the 100 TB run.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filters pushed to the parquet scan, columns pruned") {
    val p = planOf("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(500))
    // 4 of 11 lineitem columns read
    val readSchema = p.split("ReadSchema: ").last.split("\n").head
    assert(readSchema.count(_ == ',') <= 3, s"scan reads too many columns: $readSchema")
  }

  test("q12: aggregation is two-phase (map-side partial before shuffle)") {
    val p = planOf("q12_agg_group")
    assert(p.contains("partial_sum"), "no partial aggregation found")
  }

  test("q44 scale path: approx_percentile plans ObjectHashAggregate with a partial sketch") {
    // the q43 docstring promises this as the 100 TB percentile form:
    // a mergeable t-digest-style sketch, combined map-side BEFORE the
    // shuffle (constant memory per group, no per-group value buffers).
    // The q44 GATE query adds the exact percentile alongside for its
    // oracle bound, so assert on the pure scale-path aggregate.
    import org.apache.spark.sql.functions.{col, expr}
    val p = graft.Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(600))
    assert(p.contains("partial_approx_percentile"),
      s"no map-side partial sketch: ${p.take(600)}")
  }

  test("q41: MERGE hint plans a sort-merge join") {
    val p = planOf("q41_merge_join")
    assert(p.contains("SortMergeJoin"), p.take(400))
  }

  test("q09: semi join planned as hash join, not nested loop") {
    val p = planOf("q09_semi_join")
    assert(p.contains("LeftSemi"), p.take(300))
    assert(!p.contains("CartesianProduct"))
  }

  test("q19: top-k plans TakeOrderedAndProject (no full sort)") {
    val p = planOf("q19_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(300))
  }

  test("q45: six-way join broadcasts the small dims, no cartesian product") {
    val p = planOf("q45_join_six_way")
    assert(p.contains("BroadcastHashJoin"), "small dims should broadcast")
    assert(!p.contains("CartesianProduct"), "six-way join produced a cartesian")
    // the date filter must reach the orders scan, not sit above a join
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
           p.contains("GreaterThanOrEqual(o_orderdate"), p.take(800))
  }

  test("q47: salted join actually shuffles on (key, salt), not key alone") {
    val p = planOf("q47_salted_join")
    // the salt must be part of the join keys — that IS the skew spread;
    // a regression that drops it would still return correct results
    // (the gate can't see it) but put every hot-key row on one reducer
    assert(p.contains("_salt"), p.take(600))
  }

  test("dd04: group-collect pair generation — no self-join, shingles computed once") {
    val df = ops.Dedup.ngramJaccard(Tables.load(spark, dir, "documents"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "expected join-free bucket pair generation")
    // exactly one shingle explode in the whole plan
    assert("Generate explode\\(sh".r.findAllIn(p).length == 1, "shingle explode duplicated")
  }

  test("dd02/dd03: group-collect pair generation — join-free, documents scanned once") {
    for (df <- Seq(
        ops.Dedup.minhashLsh(Tables.load(spark, dir, "documents")),
        ops.Dedup.simhashPairs(Tables.load(spark, dir, "documents")))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), "expected join-free bucket pair generation")
      assert("Scan parquet".r.findAllIn(p).length == 1,
        "documents scanned more than once — signature stage recomputed")
    }
  }

  test("pii01/sp04: redaction is scan-speed; per-group sample is one exchange") {
    // PII redaction is a pure projection — regex count + replace must
    // never induce a shuffle
    val red = ops.Curation.redactPii(Tables.load(spark, dir, "documents"))
    val pr = red.queryExecution.executedPlan.toString
    assert(!pr.contains("Exchange") && !pr.contains("Join"),
      s"redaction should be a projection:\n${pr.take(600)}")
    // per-group sampling is exactly the one window shuffle on the group
    val sp = ops.Curation.samplePerGroup(Tables.load(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("lang"),
      org.apache.spark.sql.functions.col("doc_id"), 5)
    val ps = sp.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(ps).length == 1, ps.take(800))
  }

  test("se01: batch sessionize is one exchange; lag and running sum share it") {
    import org.apache.spark.sql.functions.col
    val df = ops.Analytics.sessionize(Tables.load(spark, dir, "events"),
      col("user_id"), col("ts"), 900, col("event_id"))
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1,
      s"lag + running sum must share the user_id partitioning:\n${p.take(1000)}")
  }

  test("dd08/ln01: incremental near-dup and boilerplate removal stay join-light") {
    import org.apache.spark.sql.functions.col
    val all = Tables.load(spark, dir, "documents")
    val nd = ops.Dedup.incrementalNearDup(
      all.filter(col("doc_id") >= 400), all.filter(col("doc_id") < 400))
    val pn = nd.queryExecution.executedPlan.toString
    assert(!pn.contains("CartesianProduct"), "near-dup produced a cartesian")
    // the only join is the final hash-key anti-join of the batch
    assert("LeftAnti".r.findAllIn(pn).length == 1, pn.take(1000))
    val bl = ops.Dedup.dropBoilerplateLines(all, maxDf = 100)
    val pb = bl.queryExecution.executedPlan.toString
    assert(!pb.contains("CartesianProduct"))
    assert(pb.contains("LeftAnti"), "hot-line removal should be an anti-join")
  }

  test("pp02 composed: staged pipeline scans documents exactly once downstream") {
    // dedup → exact-substring cut → decontaminate → sample → split →
    // stats, composed WITH stage boundaries: the deduped corpus and
    // the cut corpus are materialized (localCheckpoint — the
    // in-process analog of a landing write), so the final plan reads
    // the raw table exactly ONCE (the eval-set grams; everything else
    // reads the staged intermediates). Before staging, the cut's
    // multi-reference lineage re-ran the dedup join per consumer —
    // 21 full-table scans in one plan, the recompute that would
    // dominate a 100 TB run. Its ×4 wall read flat (BASELINE.md
    // round-16 scale probes).
    val df = queries.CurationOps.pp02From(Tables.load(spark, dir, "documents"))
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"pp02 downstream plan scans the raw table $scans times (want 1: " +
        "eval grams only — staged intermediates must serve the rest)")
    assert(p.contains("Scan ExistingRDD"),
      "the staged (checkpointed) intermediates are missing from the plan")
  }

  test("pp10 shard plan: no single-partition exchange anywhere") {
    // the global prefix sum must stay the bucketed two-level shape —
    // a naive global running-sum window would plan
    // Exchange SinglePartition and serialize the corpus through one
    // task (the exact failure mode shardPlan exists to avoid)
    val df = ops.Curation.shardPlan(Tables.load(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id"), "guard", 8000L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "shard plan serializes through a single partition")
  }

  test("tx12: bigram counting aggregates partially before the shuffle") {
    val p = ops.TextAnalysis.bigramLogppl(Tables.load(spark, dir, "documents"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), "bigram counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("st02: sessionize reuses the user_id partitioning (one exchange)") {
    val df = streaming.EventStream.sessionizeBatch(Tables.load(spark, dir, "events"))
    val p = df.queryExecution.executedPlan.toString
    // window partitions by user_id; the (user_id, session_no) groupBy
    // is satisfied by that clustering — a second exchange would mean
    // the whole events table reshuffles for nothing
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one exchange:\n${p.take(1200)}")
  }

  test("sim02/dd05: group-collect LSH — no self-join, embeddings scanned once") {
    for (df <- Seq(
        ops.Similarity.lshTopK(Tables.load(spark, dir, "embeddings"), dim = 64, k = 3, nBits = 4),
        ops.Similarity.cosineDups(Tables.load(spark, dir, "embeddings"), dim = 64,
          threshold = 0.3, nBits = 4))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), "expected join-free bucket candidate generation")
      assert("Scan parquet".r.findAllIn(p).length == 1,
        "embeddings scanned more than once — bucketing/norms recomputed")
    }
  }

  test("sim01: query side broadcast, no shuffle of the corpus") {
    val df = ops.Similarity.bruteForceTopK(
      Tables.load(spark, dir, "embeddings"),
      Tables.load(spark, dir, "embeddings").limit(5), 3)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(400))
  }

  test("tx06/em01/sp02: scan-speed column ops — zero exchanges, zero joins") {
    // repetition metrics, int8 quantization, and group split are pure
    // per-row projections; any Exchange appearing here means someone
    // turned a scan-speed op into a shuffle
    for (df <- Seq(
        ops.TextAnalysis.repetition(Tables.load(spark, dir, "documents")),
        ops.Embeddings.quantizeInt8(Tables.load(spark, dir, "embeddings")),
        ops.Curation.groupSplit(Tables.load(spark, dir, "documents"),
          org.apache.spark.sql.functions.col("source"), 0.6, 0.2),
        // winsorize's RETURNED plan: the quantile pass already ran at
        // construction; the clip itself must stay a pure projection
        ops.Embeddings.winsorize(Tables.load(spark, dir, "embeddings")))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n${p.take(600)}")
      assert(!p.contains("Join"), s"unexpected join:\n${p.take(600)}")
    }
  }

  test("bb01: same-bucketed tables join with ZERO exchanges (co-located SMJ)") {
    val tmp = java.nio.file.Files.createTempDirectory("bb01-plan").toString
    ops.Layout.writeBucketed(Tables.load(spark, dir, "lineitem")
        .select(org.apache.spark.sql.functions.col("l_orderkey"),
          org.apache.spark.sql.functions.col("l_quantity")),
      s"$tmp/li", "bb01_plan_li", "l_orderkey", buckets = 4)
    ops.Layout.writeBucketed(Tables.load(spark, dir, "orders")
        .select(org.apache.spark.sql.functions.col("o_orderkey")),
      s"$tmp/ord", "bb01_plan_ord", "o_orderkey", buckets = 4)
    // force the SMJ path (broadcast would hide the bucketing win)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = ops.Layout.bucketedJoin(spark, "bb01_plan_li", "bb01_plan_ord",
          "l_orderkey", "o_orderkey")
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(500))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle:\n${p.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("tp01: asof join plans as union+window — zero join nodes, one exchange") {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val purch = ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    for (dir <- Seq("backward", "forward")) {
      val df = ops.Temporal.asofJoin(clicks, purch, Seq("user_id"), "ts", Seq("value"),
        prefix = "p_", direction = dir,
        toleranceSec = if (dir == "forward") Some(3600L) else None)
      val p = df.queryExecution.executedPlan.toString
      // a theta-join formulation would appear as BroadcastNestedLoopJoin
      // (per-key cross product — 100 TB death); the union+window form has
      // NO join at all and exactly one hash exchange on the keys,
      // in BOTH directions, tolerance or not
      assert(!p.contains("Join"), s"$dir asof join must be join-free:\n${p.take(800)}")
      assert("Exchange".r.findAllIn(p).length == 1,
        s"$dir: expected exactly one exchange:\n${p.take(1200)}")
    }
  }

  test("dc01: eval grams broadcast — the train side is never shuffled for the join") {
    val train = Tables.load(spark, dir, "documents")
    val eval = train.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
    val p = ops.Curation.contamination(train, eval)
      .queryExecution.executedPlan.toString
    // a SortMergeJoin here would shuffle every train gram (100 TB of
    // exploded 13-grams) to match KBs of eval grams
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "train grams got shuffled for the join")
  }

  test("sp01: deterministic sampling is a pure filter — zero exchanges") {
    val p = ops.Curation.stratifiedSample(Tables.load(spark, dir, "documents"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("doc_id"), Map("en" -> 0.25))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n${p.take(600)}")
  }

  test("pk01: packing windows run per shard, partitioned on the shard key") {
    val p = ops.Curation.packSequences(Tables.load(spark, dir, "documents"),
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(8)), window = 256)
      .queryExecution.executedPlan.toString
    // exactly one exchange (hash by shard) and a partitioned window —
    // a global (unpartitioned) window would single-thread the corpus
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(800))
    assert(p.contains("Window"), p.take(400))
  }

  test("url01: share denominator broadcast — no global window over the domain frame") {
    val p = planOf("url01_domains")
    // the r8 hazard: sum().over() planned `Window` under an
    // `Exchange SinglePartition` carrying EVERY per-domain row (~10^8
    // at web scale). The fix broadcasts a scalar total instead; the
    // only single-partition exchange left is the scalar aggregate's,
    // which carries one PARTIALLY-AGGREGATED row per upstream
    // partition, never the domain frame itself.
    assert(!p.contains("Window"), s"global window reappeared: ${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"share denominator not broadcast: ${p.take(600)}")
    assert(p.contains("partial_sum"),
      s"scalar total lost map-side partial aggregation: ${p.take(600)}")
  }

  test("dd09: paragraph dedup is one hash shuffle + one doc regroup, no joins of data") {
    val p = planOf("dd09_paragraph_dedup")
    // window partitioned by the paragraph hash, then regroup by doc —
    // the only join is the left join back to the doc-id spine
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("tx13/uc01: quality rules and URL canonicalization are pure scan-speed") {
    import org.apache.spark.sql.functions.col
    val raw = graft.Tables.load(spark, dir, "documents")
    val plans = Seq(
      "tx13" -> ops.QualityRules.gopherQuality(raw),
      "uc01" -> ops.Curation.canonicalizeUrl(
        raw.withColumn("url", col("text")), col("url")))
    for ((name, df) <- plans) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$name shuffles: ${p.take(400)}")
      assert(!p.contains("Join"), s"$name has a join: ${p.take(400)}")
    }
  }

  test("em05: random projection is pure scan-speed — zero exchanges, zero joins") {
    import org.apache.spark.sql.functions.col
    val raw = graft.Tables.load(spark, dir, "embeddings")
    val p = ops.Embeddings.randomProjection(raw, inDim = 64, outDim = 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"em05 shuffles: ${p.take(400)}")
    assert(!p.contains("Join"), s"em05 has a join: ${p.take(400)}")
  }

  test("dq04: FK audit joins on key columns only — pruned scans, no cartesian") {
    val p = planOf("dq04_fk_audit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    // child side reads just the FK column
    val schemas = p.split("ReadSchema: ").drop(1).map(_.split("\n").head)
    assert(schemas.exists(s => s.contains("l_orderkey") && !s.contains("l_quantity")),
      s"lineitem scan not pruned to the key: ${schemas.mkString(" | ")}")
  }

  test("sd01/sim05: cell machinery broadcasts centroids; pairs are group-collect (no self-join)") {
    for (name <- Seq("sd01_sem_dedup", "sim05_ivfpq_recall")) {
      // sim05's gate computes recall eagerly; build the operators directly
      val df =
        if (name == "sd01_sem_dedup")
          ops.Similarity.semDedup(Tables.load(spark, dir, "embeddings"),
            dim = 64, eps = 0.3, numCells = 16)
        else
          ops.Similarity.ivfPqTopK(Tables.load(spark, dir, "embeddings"),
            dim = 64, k = 3, numCells = 8, m = 16, codebookK = 8)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastExchange"), s"$name: centroids not broadcast")
      assert(!p.contains("CartesianProduct"),
        s"$name: cartesian product: ${p.take(400)}")
    }
  }

  test("dd10: window dedup groups on md5 keys with partial aggregation, no self-join") {
    val df = ops.Dedup.dropDuplicateWindows(
      Tables.load(spark, dir, "documents"), w = 8, minDf = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), "df count not partially aggregated")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("bl01: blocklist filter is pure scan-speed — zero exchanges, zero joins") {
    val raw = graft.Tables.load(spark, dir, "documents")
    val p = ops.Curation.blocklistFilter(raw, Seq("the", "and"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bl01 shuffles: ${p.take(400)}")
    assert(!p.contains("Join"), s"bl01 has a join: ${p.take(400)}")
  }

  test("an02: ordered funnel chains as-of passes — zero join nodes") {
    val ev = graft.Tables.load(spark, dir, "events")
    val p = ops.Analytics.orderedFunnel(ev, "user_id", "ts",
        steps = Seq("view", "click", "purchase"), windowSec = 3600L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"an02 planned a join: ${p.take(600)}")
    assert(p.contains("Window"), p.take(300))
  }

  test("dd11: containment pairs are group-collect, no self-join of the corpus") {
    val df = ops.Dedup.containmentPairs(
      graft.Tables.load(spark, dir, "documents"), threshold = 0.5)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
           !p.contains("BroadcastHashJoin"),
      s"dd11 joined instead of group-collect: ${p.take(600)}")
    assert(p.contains("partial_count"), "intersection count not partial-aggregated")
  }

  test("ck01: doc chunking is a pure map-side expand — zero exchanges, zero joins") {
    val raw = graft.Tables.load(spark, dir, "documents")
    val p = ops.Curation.chunkDocs(raw, window = 32, overlap = 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"ck01 shuffles: ${p.take(400)}")
    assert(!p.contains("Join"), s"ck01 has a join: ${p.take(400)}")
  }

  test("an03: attribution is union+window — zero join nodes, no single-partition exchange") {
    val ev = graft.Tables.load(spark, dir, "events")
    val p = ops.Analytics.attribution(ev, "user_id", "ts",
        touchTypes = Seq("view", "click", "signup"), convType = "purchase",
        lookbackSec = 604800L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"an03 planned a join: ${p.take(600)}")
    assert(p.contains("Window"), p.take(300))
    assert(!p.contains("SinglePartition"), s"an03 single-partition: ${p.take(600)}")
  }

  test("tc01: triangle wedge-join is keyed — no cartesian, no nested loop") {
    import org.apache.spark.sql.functions.col
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_partkey") % 97 === 0 && col("l_suppkey") % 3 === 0)
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .distinct()
    val e = li.as("p1").join(li.as("p2"),
        col("p1.part") === col("p2.part") && col("p1.supp") < col("p2.supp"))
      .select(col("p1.supp").as("src"), col("p2.supp").as("dst"))
    val p = ops.Graph.triangleCount(e).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tc01 unkeyed join: ${p.take(600)}")
  }

  test("tk03: oov vocab is broadcast and the top-k never global-sorts the corpus") {
    val raw = graft.Tables.load(spark, dir, "documents")
    val df = ops.TextAnalysis.oovRate(raw, k = 16)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"tk03 vocab not broadcast: ${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"tk03 vocab rank is not a bounded top-k: ${p.take(600)}")
  }

  test("em08: sign-pack is scan-speed; hamming top-k broadcasts the query sketches") {
    val raw = graft.Tables.load(spark, dir, "embeddings")
    val pp = ops.Embeddings.signPack(raw, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("Exchange") && !pp.contains("Join"),
      s"signPack should be a projection: ${pp.take(400)}")
    val ph = ops.Embeddings.hammingTopK(raw, queryIds = Seq(1L, 7L), dim = 64, k = 3)
      .queryExecution.executedPlan.toString
    assert(ph.contains("BroadcastNestedLoopJoin") || ph.contains("BroadcastHashJoin"),
      s"query sketches not broadcast: ${ph.take(600)}")
  }

  test("native dot product appears in similarity plans (no interpreted HOF)") {
    val df = ops.Similarity.cosineDups(
      Tables.load(spark, dir, "embeddings"), dim = 64, threshold = 0.3, nBits = 2)
    val p = df.queryExecution.analyzed.toString
    assert(p.contains("floatdotproduct") || p.contains("FloatDotProduct") ||
           p.toLowerCase.contains("float_dot"), p.take(400))
  }

  test("kmv01/kmv02: per-side sketch plan is one narrow scan — zero Exchange") {
    // the r9 form ran a full-cardinality distinct-union groupBy before
    // the k-row cut (×9.3 wall at ×4 keys, with spill); the mergeable
    // per-partition rewrite must never reintroduce a shuffle or a
    // hash aggregate into the sketch path
    import org.apache.spark.sql.functions.col
    val p = ops.Sketches.kmvSketchDS(
        Tables.load(spark, dir, "orders"), col("o_custkey"), 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"kmv sketch must not shuffle: ${p.take(600)}")
    assert(!p.contains("HashAggregate"),
      s"kmv sketch must not aggregate the key set: ${p.take(600)}")
  }

  test("cm01: sketch cells broadcast to the probe side; no cartesian") {
    import org.apache.spark.sql.functions.col
    val p = ops.Sketches.countMin(
        Tables.load(spark, dir, "events"), col("user_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"cells (depth×width rows) must broadcast: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("tp06: OHLC is ONE two-phase hash aggregate — no window, no join") {
    import org.apache.spark.sql.functions.col
    val p = ops.Temporal.ohlcBars(
        Tables.load(spark, dir, "events"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"),
      s"ohlc must be a plain aggregate: ${p.take(600)}")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"no map-side partials: ${p.take(600)}")
  }

  test("pv01: k-anonymity is one exchange (QI window) and zero joins") {
    import org.apache.spark.sql.functions.col
    val p = ops.Profile.kAnonymize(
        Tables.load(spark, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")), k = 10)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1, p.take(600))
    assert(!p.contains("Join"), s"suppression must not join: ${p.take(600)}")
  }

  test("enc01: encoding is one category exchange + broadcast scalar mean") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.load(spark, dir, "events")
    val p = ops.Features.targetEncode(ev, col("user_id"), col("value"),
        col("event_id"))
      .queryExecution.executedPlan.toString
    // the global mean joins as a broadcast nested loop over ONE row;
    // the category stats must come from a window, not a join-back
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the category exchange: ${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("psi01: binning passes are literal-folded scans — no join on the corpus side") {
    import org.apache.spark.sql.functions.col
    val o = Tables.load(spark, dir, "orders")
    val cutoff = org.apache.spark.sql.functions.lit("1998-01-01").cast("timestamp")
    val p = ops.Profile.psiDrift(
        o.filter(col("o_orderdate") < cutoff),
        o.filter(col("o_orderdate") >= cutoff),
        col("o_totalprice"), nBins = 10)
      .queryExecution.executedPlan.toString
    // the only join is the 10-row bin full-outer; the corpus never
    // joins against the cut points (they are folded literals)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cut points must be literals, not a joined frame: ${p.take(600)}")
  }

  test("ev01/ks01: prefix-sum window is bucket-partitioned, zero single-partition exchanges") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the primitive behind auc/ksTest: the classic failure mode here
    // is rank().over(orderBy(v)) — an Exchange SinglePartition carrying
    // every distinct score through ONE task. The bucketed design must
    // plan a hash exchange on the bucket + broadcast offsets instead.
    val perValue = Tables.load(spark, dir, "events")
      .groupBy(col("value").as("v")).agg(count(lit(1)).as("c"))
    val p = ops.Stats.cumCountsByValue(perValue, "v", Seq("c"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange on the score frame: ${p.take(800)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast: ${p.take(600)}")
  }

  test("nb01: scoring join broadcasts the model; training aggregate is two-phase") {
    val p = planOf("nb01_naive_bayes")
    // the (token, class) model and the vocab are broadcast into the
    // token stream (vocab-capped ⇒ bounded); the only nested-loop join
    // is the doc × classes grid whose right side is the #classes frame
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("partial_count"), s"training count not partial-agged: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the one shuffle join allowed is grid ⋈ per-(doc,class) sums,
    // keyed by (__id, cls) — both sides are ≤ docs×#classes rows; any
    // OTHER SMJ (e.g. the model joining by shuffle instead of
    // broadcast) would key on `tok`
    assert(!p.contains("SortMergeJoin [tok"),
      s"model join lost its broadcast: ${p.take(800)}")
  }

  test("cp01: both frames and the argmax rank share ONE keyed exchange") {
    import org.apache.spark.sql.functions.col
    val p = ops.Analytics.meanShift(Tables.load(spark, dir, "events"),
        col("event_type"), col("ts"), col("value"), col("event_id"), w = 50)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"frames/rank must share the key exchange: ${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
  }

  test("wq01: no window sorts a whole group — cumw is the grouped bucketed prefix sum") {
    import org.apache.spark.sql.functions.col
    val p = ops.Profile.weightedMedian(Tables.load(spark, dir, "lineitem"),
        col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
    // the data-proportional window must partition by (g, bucket) —
    // a bare partitionBy(g) window is one task per group: a
    // parallelism floor locally and a single-task sort of a giant
    // group's distinct values at scale
    assert(p.contains("windowspecdefinition(g#") ||
      "partitionBy.*__bkt".r.findFirstIn(p).isDefined ||
      p.contains("__bkt"),
      s"bucketed window layout missing from the plan: ${p.take(800)}")
    // 8 static exchanges (rng/sub/offs/join/window/final over the
    // value-cardinality frames); AQE reuses the repeated (g, v) and
    // (g) partitionings at runtime — the guard bounds growth, the
    // SinglePartition assert above is the load-bearing one
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 8,
      s"extra shuffle crept in: ${p.take(800)}")
  }

  test("ch01: presence dedup partial-agged; class frame broadcast into the grid") {
    val p = planOf("ch01_chi2_tokens")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(600))
    assert(p.contains("BroadcastExchange"), s"class frame not broadcast: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("tx16: C4 cleaning is one doc_id exchange — no joins, no second text pass") {
    import org.apache.spark.sql.functions.col
    val p = ops.QualityRules.c4Rules(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"line flags + reassembly must share the doc exchange: ${p.take(800)}")
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
  }

  test("ii01: postings aggregate is two-phase; stats join-back is keyed (no sort-the-corpus window)") {
    import org.apache.spark.sql.functions.col
    val p = ops.TextAnalysis.invertedIndex(
        Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"no map-side partial tf: ${p.take(600)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
    assert(!p.contains("Window"), s"df/cf must come from the stats " +
      s"aggregate, not a per-term window sort: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("bf02: probe pass is scan-speed — filter rides as a literal, zero joins/shuffles beyond the count") {
    import org.apache.spark.sql.functions.col
    val cust = Tables.load(spark, dir, "customer")
    val p = ops.Sketches.bloomMembership(cust, col("c_custkey"),
        Tables.load(spark, dir, "orders"), col("o_custkey"),
        cust, col("c_custkey") + 5000000L,
        expectedItems = 1000L, numBits = 16384L, fpBound = 0.05)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("bloomcontainslong"),
      s"native probe expression missing: ${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(600))
  }

  test("cf02: co-occurrence join keyed on user; top-k window partitioned by item") {
    val p = planOf("cf02_item_cosine")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("Exchange SinglePartition"),
      s"neighbor ranking must never single-partition: ${p.take(800)}")
  }

  test("cf01: the bucket guard's bulk semi-join keeps plain single-column hash keys") {
    // the round-10 null-safe (<=>) form compiled its keys to
    // [coalesce(k, 0), isnull(k)] — composite keys that lose the
    // single-long broadcast relation and cost cf01/cf02 ~60% wall
    // (BASELINE.md round-11 A/B). The split form must keep at least
    // one LeftSemi join on raw keys for the non-null bulk.
    val p = planOf("cf01_basket_lift")
    val semiKeys = "BroadcastHashJoin \\[([^\\]]*)\\], \\[([^\\]]*)\\], LeftSemi".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(semiKeys.nonEmpty, s"guard semi-join missing: ${p.take(600)}")
    assert(semiKeys.exists(k => !k.contains("coalesce") && !k.contains("isnull")),
      s"no plain-key bulk semi-join — the null-safe plan tax is back: $semiKeys")
  }

  test("gr02: sufficient-statistics aggregate — no cartesian, bounded exchanges") {
    import org.apache.spark.sql.functions.col
    val edges = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
    val stats = ops.Graph.assortativityStats(edges)
    stats.collect() // finalize the adaptive plan so exchange REUSE shows
    // AdaptiveSparkPlan.toString prints the FINAL plan then the
    // initial one — count only the final section
    val p = stats.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(600))
    // expected: e-for-join + e-for-degrees (differing pushed filters
    // block reuse there) + the reused degree agg + pair-count agg;
    // a rewrite that shuffles the edge frame per PASS fails this
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size -
      "ReusedExchange".r.findAllIn(p).size
    assert(exchanges <= 5, s"edge-frame exchanges crept back: $exchanges\n${p.take(800)}")
  }

  test("bs01: the budget prefix never plans a single-partition exchange or window") {
    val p = planOf("bs01_budget_select")
    assert(!p.contains("Exchange SinglePartition") ||
      // the one allowed SinglePartition is cumCountsByValue's ≤1024-row
      // subtotal collect path; the corpus-sized frames must never hit it
      !p.split("Exchange SinglePartition").head.contains("Window"),
      s"budget cumsum must stay bucketed-parallel: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("nv01: nothing FORCES the base gram set to broadcast — it shuffles when big") {
    import org.apache.spark.sql.functions.col
    // at gate scale AQE rightly auto-broadcasts the tiny base; the
    // 100 TB invariant is that no HINT forces it — with size-based
    // broadcast off, the semi-join must degrade to a shuffle join,
    // proving the plan survives a base that doesn't fit an executor
    val conf = spark.conf
    val saved = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val all = Tables.load(spark, dir, "documents")
      val p = ops.Curation.ngramNovelty(all.filter(col("doc_id") % 5 =!= 0),
          all.filter(col("doc_id") % 5 === 0), n = 13)
        .queryExecution.executedPlan.toString
      val semiJoins = p.split("\n").filter(l =>
        l.contains("Join") && l.contains("LeftSemi"))
      assert(semiJoins.nonEmpty, p.take(600))
      assert(!semiJoins.exists(_.contains("BroadcastHashJoin")),
        s"a hint forces the base to broadcast: ${semiJoins.mkString("; ")}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved._1)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved._2)
    }
  }

  test("mx04: domain rates broadcast back; the corpus side is a pure scan") {
    import org.apache.spark.sql.functions.col
    val d0 = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), "\\s+"))
          .cast("long").as("tok"))
    val p = ops.Curation.domainCap(d0, col("doc_id"), col("source"),
        col("tok"), capFrac = 0.05)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      s"domain rate frame must broadcast: ${p.take(600)}")
    // the only hash exchange allowed is the domain AGGREGATE —
    // domain-cardinality, not corpus-cardinality
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"corpus-side shuffle crept in: $exchanges\n${p.take(800)}")
  }

  test("ft03: stats broadcast back; the scaling pass never shuffles the data") {
    import org.apache.spark.sql.functions.col
    val p = ops.Features.scaleFeatures(Tables.load(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"), col("l_extendedprice"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"stats row not broadcast: ${p.take(600)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"data-side shuffle crept into a scan-speed op: ${p.take(800)}")
  }

  test("er01: pair generation is an equi-join on the block key — no cartesian, score at scan speed") {
    val p = planOf("er01_record_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"linkage must block-join, never cross: ${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
  }

  test("dc02: corpus pass probes the Bloom inside the projection; verify side is broadcast") {
    val p = planOf("dc02_bloom_decontaminate")
    assert(p.toLowerCase.contains("bloomcontainslong"),
      s"native Bloom probe missing from the scan: ${p.take(600)}")
    assert(p.contains("BroadcastExchange"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("sim07: the metadata predicate reaches the corpus parquet scan") {
    val p = planOf("sim07_filtered_topk")
    assert(p.contains("PushedFilters") &&
      p.split("PushedFilters").exists(s => s.take(200).contains("label")),
      s"filter not pushed to the corpus scan: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("ts05: the K lag terms share ONE keyed window exchange") {
    import org.apache.spark.sql.functions.col
    val p = ops.Analytics.ewmaSmooth(Tables.load(spark, dir, "events"),
        col("event_type"), col("ts"), col("event_id"), col("value"),
        alpha = 0.3, horizon = 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"lags must share the window exchange: ${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
  }

  test("dedup/ANN bucket pairs run the native generator, not interpreted HOF lambdas") {
    // the round-10 rewire: every bucketed pair stage must plan the
    // codegen'd PairCombinations/CrossPairs expression; the composed
    // flatten∘transform∘filter chain (three CodegenFallback lambdas
    // per combination) failing back in would be a silent ~2-3x
    // regression that correctness gates cannot see
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val lsh = ops.Dedup.minhashLsh(docs).queryExecution.optimizedPlan.toString
    assert(lsh.contains("paircombinations") || lsh.contains("PairCombinations"),
      s"dd02 lost the native pair generator: ${lsh.take(400)}")
    assert(!lsh.contains("transform("),
      s"dd02 reintroduced interpreted HOF lambdas: ${lsh.take(400)}")
    val incr = ops.Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0), docs)
      .queryExecution.optimizedPlan.toString
    assert(incr.contains("crosspairs") || incr.contains("CrossPairs"),
      s"dd08 lost the native cross-side generator: ${incr.take(400)}")
  }

  test("fp01: the pack-plan cumsum never plans a single-partition window") {
    import org.apache.spark.sql.functions.{col, length}
    val p = ops.Layout.packPlan(Tables.load(spark, dir, "documents"),
        col("doc_id"), length(col("text")).cast("long"), 65536L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum serialized onto one partition: ${p.take(600)}")
  }

  test("cu01: curriculum ranks never plan a single-partition exchange") {
    import org.apache.spark.sql.functions.{col, length}
    val p = ops.Curation.curriculumOrder(Tables.load(spark, dir, "documents"),
        col("doc_id"), col("source"), length(col("text")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"a global rank serialized onto one partition: ${p.take(600)}")
  }

  test("tx18: the Zipf fit plans no per-type window and no global sort") {
    import org.apache.spark.sql.functions.col
    val p = ops.TextAnalysis.zipfFit(Tables.load(spark, dir, "documents"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"vocab ranking serialized onto one partition: ${p.take(600)}")
  }

  test("bt01: the mining query side broadcasts (batch-vs-corpus shape)") {
    import org.apache.spark.sql.functions.col
    val all = Tables.load(spark, dir, "embeddings")
    val p = ops.Similarity.marginMine(all.filter(col("vec_id") % 5 === 0),
        all.filter(col("vec_id") % 5 =!= 0), k = 4, threshold = 0.0)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the query batch must broadcast against the corpus scan: ${p.take(600)}")
  }

  test("bt02: the ANN path plans no cross join and no corpus broadcast") {
    import org.apache.spark.sql.functions.col
    val all = Tables.load(spark, dir, "embeddings")
    val p = ops.Similarity.marginMine(all.filter(col("vec_id") % 5 === 0),
        all.filter(col("vec_id") % 5 =!= 0), k = 4, threshold = 0.0,
        annThreshold = 0, nBits = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"ANN candidates must come from LSH buckets, not a cross join: ${p.take(600)}")
  }

  test("gr04: both modularity statistics come off one label-keyed partial aggregate") {
    val p = planOf("gr04_modularity")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"modularity aggregate not two-phase: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"),
      s"the 2m scalar must broadcast, not cartesian: ${p.take(600)}")
  }

  /** Every window in `plan` must PARTITION BY a column containing
    * `key` — the direct check that no cumulative/rank serialized onto
    * one task (benign 1-row scalar-aggregate exchanges stay allowed).
    */
  private def windowsPartitionedBy(plan: String, key: String): Boolean =
    plan.split("windowspecdefinition\\(").drop(1)
      .forall(_.take(80).contains(key))

  test("q54: the DISTINCT ON lowering windows per key, never globally") {
    // PgSelect lowers DISTINCT ON (l_orderkey) to a row_number window —
    // it must PARTITION BY the key (a global window would serialize the
    // whole lineitem scan through one task)
    val p = planOf("q54_distinct_on")
    assert(p.contains("windowspecdefinition"), p.take(400))
    assert(windowsPartitionedBy(p, "l_orderkey"),
      s"the DISTINCT ON window lost its key partitioning: ${p.take(800)}")
  }

  test("ev20: rank sums never plan a global row-level window") {
    // the classic failure mode is rank().over(orderBy(v)) — every
    // distinct value through ONE task; the bucketed prefix sum must
    // keep every window PARTITIONED BY the bucket key
    val p = planOf("ev20_mann_whitney")
    assert(p.contains("windowspecdefinition"), p.take(400))
    assert(windowsPartitionedBy(p, "__bkt"),
      s"a window lost its bucket partitioning: ${p.take(800)}")
  }

  test("mx05: the frontier scan is bucket-partitioned; the final alpha broadcasts") {
    val p = planOf("mx05_epoch_allocation")
    assert(windowsPartitionedBy(p, "__bkt"),
      s"the frontier prefix lost its bucket partitioning: ${p.take(800)}")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"per-source membership must read alpha off a broadcast: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("em13: CKA moments are one wide partial aggregate over a single scan") {
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, dir, "embeddings")
    val p = ops.Embeddings.ckaMoments(
        ops.Embeddings.randomProjection(e, inDim = 64, outDim = 8),
        col("embedding"), col("rp_embedding"), dx = 16, dy = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      s"moment aggregate not two-phase: ${p.take(600)}")
    val scans = "Scan parquet".r.findAllIn(p).length +
      "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"CKA re-scans the embeddings ($scans scans): ${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no join belongs in a single-pass moment aggregate: ${p.take(600)}")
  }

  test("el01: MM iterations stay item-keyed — no cartesian, normalizer broadcasts") {
    val p = planOf("el01_bradley_terry")
    assert(!p.contains("CartesianProduct"),
      s"the Σw normalizer must broadcast: ${p.take(600)}")
  }

  test("ev21: Brier moments are one bin-keyed two-phase aggregate, no joins on rows") {
    import org.apache.spark.sql.functions.{col, element_at}
    val p = ops.Stats.brierDecomposition(
        Tables.load(spark, dir, "embeddings"),
        element_at(col("embedding"), 1).cast("double") / 10.0,
        col("label") < 5, bins = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), s"bin aggregate not two-phase: ${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"row-sized join in a moment pass: ${p.take(600)}")
  }

  test("sp08: the fold grid broadcasts; role assignment is scan-speed") {
    import org.apache.spark.sql.functions.col
    val p = ops.Curation.rollingOriginSplits(
        Tables.load(spark, dir, "events"), col("event_id"), col("ts"),
        folds = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the folds-row grid must broadcast: ${p.take(600)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"role assignment shuffled the event rows: ${p.take(600)}")
  }

  test("pv03: bin grids broadcast; the cumulative runs partitioned by the QI key") {
    val p = planOf("pv03_t_closeness")
    assert(p.contains("windowspecdefinition"), p.take(400))
    assert(windowsPartitionedBy(p, "c_nationkey"),
      s"the EMD cumulative lost its QI partitioning: ${p.take(800)}")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 10-bin grid must broadcast: ${p.take(600)}")
  }

  test("pp07: LM counts map-side combine; tercile bounds broadcast; window rides the value frame") {
    import org.apache.spark.sql.functions.col
    val p = ops.Curation.perplexityBuckets(
        Tables.load(spark, dir, "documents"))
      .queryExecution.executedPlan.toString
    // the per-lang bigram LM fit must partial-aggregate (the corpus-
    // sized shuffle carries combined counts, not raw bigrams)
    assert(p.contains("partial_count"), "LM counts must map-side combine")
    // the lang-cardinality boundary frame joins back by broadcast —
    // the corpus never shuffles for the bucket CASE
    assert(p.contains("BroadcastExchange"),
      s"tercile bounds must broadcast: ${p.take(600)}")
    // the only window is the running count over the distinct
    // (lang, score) VALUE frame — partitioned by lang, never a
    // whole-corpus global sort
    assert(windowsPartitionedBy(p, "lang"),
      s"the boundary window must partition by lang: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd16: duplication decided by a count on the gram hash — no self-join, no cartesian") {
    import org.apache.spark.sql.functions.col
    val p = ops.Dedup.exactSubstringSpans(
        Tables.load(spark, dir, "documents"), minSpan = 12)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "exact-substring pass went quadratic")
    // the duplicated-gram set joins back on the 32-byte hash key, and
    // the occurrence count partial-aggregates map-side
    assert(p.contains("partial_count"), "gram counts must map-side combine")
    // island merge runs per doc, never a corpus-wide window
    assert(windowsPartitionedBy(p, "doc_id"),
      s"the island window must partition by doc: ${p.take(800)}")
  }

  test("mm12 pair stage: slice blocking generates pairs in buckets, no self-join") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val hashed = Seq((1L, 42L), (2L, 43L), (3L, 1L << 40)).toDF("doc_id", "h")
    val p = ops.Dedup.hammingPairs64(hashed, col("h"), maxHamming = 8,
        numSlices = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "hamming pass went quadratic")
    assert(!p.contains("SortMergeJoin"),
      "pairs must form inside slice buckets (group-collect), not a join")
    assert(p.contains("collect_set"),
      s"bucket group-collect missing — pairs are not forming in-bucket: ${p.take(600)}")
  }

  test("pp19: the window index broadcasts back; payload filter is seq_id-pushable") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("pq-pp19").toString
    val docs = spark.range(0, 64).select(col("id").as("doc_id"),
      transform(sequence(lit(1), lit(16)), x => x.cast("int")).as("ids"))
    ops.Curation.tokenizedLanding(docs, tmp, pmod(col("doc_id"), lit(2)),
      col("ids"), seqLen = 16).count()
    val p = ops.Curation.epochShuffledBatches(spark, tmp, "e1", 0L, 8L)
      .queryExecution.executedPlan.toString
    // the ≤nSteps window index must join back as a broadcast — a
    // shuffle join here would move the payload for an 8-row window
    assert(p.contains("BroadcastHashJoin"),
      s"window index must broadcast: ${p.take(600)}")
    // the seq_id membership predicate reaches the parquet scan where
    // row-group stats can prune
    assert(p.contains("PushedFilters: ") && p.contains("In(seq_id"),
      s"seq_id filter not pushed to the scan: ${p.take(900)}")
  }

  test("pp20: the incremental recount scans only the changed shard partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pq-pp20").toString
    val docs = (1 to 30).map(i =>
      (i.toLong, Seq.fill(i % 5 + 2)("w").mkString(" "))).toDF("doc_id", "text")
    ops.Curation.shardMaterialize(docs, tmp, col("doc_id"),
      seed = "s", budgetTokens = 20L).count()
    ops.Curation.writeLandingManifest(spark, tmp).count()
    ops.Curation.shardAppend((31 to 40).map(i =>
      (i.toLong, "a b c")).toDF("doc_id", "text"), tmp, col("doc_id"),
      seed = "s", budgetTokens = 20L).count()
    // the rescan path: text read behind a shard partition filter —
    // partition pruning keeps unchanged history off the scan
    val changed = spark.read.parquet(tmp + "_manifest_shards")
      .agg(max(col("shard"))).head.getLong(0) + 1
    val rescan = spark.read.parquet(tmp)
      .filter(col("shard").cast("long") >= changed)
      .filter(col("n_tokens") =!= size(split(col("text"), " ")).cast("long"))
    val p = rescan.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      p.split("PartitionFilters: ").last.split("]").head.contains("shard"),
      s"shard partition filter not applied: ${p.take(900)}")
  }
}
