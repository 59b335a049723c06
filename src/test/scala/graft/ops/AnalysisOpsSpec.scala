package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantics tests for the round-9d batch-2 family (weighted order
  * statistics, decay features, changepoint scan, PMI mining, BFS,
  * image resize) on planted data with hand-computable answers.
  */
class AnalysisOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("weighted median: weight mass, not row count, decides") {
    // g1: value 10 carries 9 of 12 weight units → median 10 even
    // though 2 of 3 ROWS are larger; g2: exact half boundary picks the
    // lower value (2·cumw ≥ totw at the first row)
    val df = Seq(
      ("g1", 10.0, 9.0), ("g1", 20.0, 2.0), ("g1", 30.0, 1.0),
      ("g2", 1.0, 5.0), ("g2", 2.0, 5.0)).toDF("g", "v", "w")
    val r = Profile.weightedMedian(df, col("g"), col("v"), col("w"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r("g1") == (10.0, 12.0))
    assert(r("g2") == (1.0, 10.0), "exact half reaches at the lower value")
  }

  test("weighted median: duplicate values pool their weight first") {
    val df = Seq(("g", 5.0, 1.0), ("g", 5.0, 1.0), ("g", 5.0, 1.0),
      ("g", 9.0, 2.0)).toDF("g", "v", "w")
    val r = Profile.weightedMedian(df, col("g"), col("v"), col("w")).head
    assert(r.getDouble(1) == 5.0 && r.getDouble(2) == 5.0)
  }

  test("decay score: one half-life halves, the reference event counts full") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val t7 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00") // 7 days older
    val df = Seq((1L, t0, 10.0), (1L, t7, 10.0)).toDF("id", "ts", "v")
    val r = Features.decayScore(df, col("id"), col("ts"), col("v"),
      halfLifeDays = 7.0).head
    assert(r.getLong(1) == 2L)
    assert(r.getDouble(2) == 15.0, "10 at asOf + 10·2^-1")
    assert(r.getDouble(3) == 20.0)
  }

  test("mean shift: planted step found at the boundary, short keys drop") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(i: Int) = new java.sql.Timestamp(t0.getTime + i * 1000L)
    // 20 points at 1.0 then 20 at 9.0: with w=5 the max before/after
    // contrast sits exactly at the last low point (mean 1 vs mean 9)
    val step = (0 until 20).map(i => ("s", t(i), i.toLong, 1.0)) ++
      (20 until 40).map(i => ("s", t(i), i.toLong, 9.0))
    val short = (0 until 8).map(i => ("tiny", t(i), 100L + i, 5.0))
    val r = Analytics.meanShift((step ++ short).toDF("k", "ts", "v0", "v")
        .select(col("k"), col("ts"), col("v"), col("v0")),
      col("k"), col("ts"), col("v"), col("v0"), w = 5)
    val rows = r.collect()
    assert(rows.length == 1, "the 8-row key cannot fill both windows")
    val s = rows.head
    assert(s.getLong(2) == 19L, s"shift should anchor at the last low point: $s")
    assert(s.getDouble(3) == 1.0 && s.getDouble(4) == 9.0 && s.getDouble(5) == 8.0)
  }

  test("pmi: a planted collocation outranks frequent-but-independent pairs") {
    // 'new york' always together (10×); 'the' pairs with everything
    val docs = ((1 to 10).map(i => (i.toLong, "new york")) ++
      (11 to 20).map(i => (i.toLong, s"the w$i")) ++
      (21 to 30).map(i => (i.toLong, "the cat"))).toDF("doc_id", "text")
    val top = TextAnalysis.pmiCollocations(docs, minCount = 5, topK = 3)
      .select("w1", "w2").as[(String, String)].collect()
    assert(top.head == ("new", "york"))
    // c12 ≥ 5 filter: each 'the wN' pair is a hapax and must be absent,
    // leaving only (new, york) and (the, cat)
    assert(top.length == 2 && top(1) == ("the", "cat"))
  }

  test("hop distance: chain distances, unreachable absent, early exit") {
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("x", "y"), ("y", "x")).toDF("src", "dst")
    val r = Graph.hopDistance(edges, Seq("a").toDF("node"), maxHops = 5)
      .as[(String, Int)].collect().toMap
    assert(r == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    val (rounds, frontier) = OpsMetrics.lastConvergence("graft.bfs").get
    assert(frontier == 0L, "frontier must drain")
    assert(rounds <= 5)
  }

  test("hop distance: min distance wins when sources overlap a path") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = Graph.hopDistance(edges, Seq("a", "c").toDF("node"), maxHops = 3)
      .as[(String, Int)].collect().toMap
    assert(r == Map("a" -> 0, "c" -> 0, "b" -> 1))
  }

  test("kaplan-meier: hand case with censoring and extinction") {
    // t=1 event (risk 3 → S=2/3), t=2 censored (S unchanged),
    // t=3 event with risk 1 → extinction → S=0
    val df = Seq(("g", 1.0, true), ("g", 2.0, false), ("g", 3.0, true))
      .toDF("g", "t", "ev")
    val r = Analytics.kaplanMeier(df, col("g"), col("t"), col("ev"))
      .orderBy("t").collect()
    assert(r.map(_.getLong(4)).toSeq == Seq(3L, 2L, 1L), "at-risk counts")
    assert(r(0).getDouble(5) == 0.666667)
    assert(r(1).getDouble(5) == 0.666667, "censoring leaves S unchanged")
    assert(r(2).getDouble(5) == 0.0, "last event extinguishes the curve")
  }

  test("cuped: a perfect pre/post correlation collapses variance, keeps the delta") {
    // post = pre + 10·variant with variant balanced WITHIN each pre
    // value (cov(pre, variant) = 0 ⇒ θ = 1 exactly): adjusted
    // variance ~0, delta exactly 10
    val units = (0 until 100).map { i =>
      val pre = (i / 2 % 17).toDouble
      (i.toLong, i % 2, pre, pre + 10.0 * (i % 2))
    }.toDF("u", "variant", "pre", "post")
    val r = Analytics.cuped(units, col("u"), col("variant"),
        col("pre"), col("post"))
      .orderBy("variant").collect()
    assert(r(0).getDouble(5) < 1e-6 && r(1).getDouble(5) < 1e-6,
      s"adjusted variance must collapse: ${r.toSeq}")
    assert(r(0).getDouble(4) > 1.0, "raw variance was non-trivial")
    assert(r(1).getDouble(3) - r(0).getDouble(3) == 10.0,
      "treatment delta survives the adjustment exactly")
    assert(r(0).getDouble(2) < r(1).getDouble(2), "raw means differ by arm")
  }

  test("rendezvous: balanced, deterministic, and minimal-movement on grow") {
    val keys = (1L to 1000L).toDF("k")
    val s4 = Layout.rendezvousShard(keys, col("k"), 4)
      .select("k", "shard").as[(Long, Int)].collect().toMap
    val s5 = Layout.rendezvousShard(keys, col("k"), 5)
      .select("k", "shard").as[(Long, Int)].collect().toMap
    assert(s4.values.toSet.subsetOf((0 until 4).toSet))
    val counts = s4.values.groupBy(identity).view.mapValues(_.size)
    assert(counts.values.min > 100, s"imbalanced: $counts")
    // HRW: growing 4→5 only moves keys TO the new shard
    val moved = (1L to 1000L).filter(k => s4(k) != s5(k))
    assert(moved.nonEmpty && moved.forall(k => s5(k) == 4),
      "every moved key must land on the NEW shard")
    assert(moved.size < 400, s"movement should be ≈1/5: ${moved.size}")
  }

  test("acf: exact alternation gives -(n-1)/n at lag 1, (n-2)/n at lag 2") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 40).map(i =>
      ("s", new java.sql.Timestamp(t0.getTime + i * 1000L), i.toLong,
        if (i % 2 == 0) 1.0 else 3.0))
    val r = Analytics.acf(rows.toDF("k", "ts", "tb", "v"),
        col("k"), col("ts"), col("v"), col("tb"), maxLag = 2)
      .orderBy("lag").collect()
    assert(r(0).getDouble(2) == -0.975, "lag 1 = -(n-1)/n")
    assert(r(1).getDouble(2) == 0.95, "lag 2 = (n-2)/n")
  }

  test("snapshot diff: null transitions counted correctly") {
    val cur = Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (5L, Some("e")))
      .toDF("k", "v")
    val prev = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("k", "v")
    val r = Cdc.snapshotDiff(cur, prev, Seq("k"))
      .as[(Long, String)].collect().toMap
    // 1: identical (absent); 2: value→NULL changed; 3: NULL→value
    // changed; 4: removed; 5: added
    assert(r == Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("neyman: zero-variance strata get no budget but stay visible; draws deterministic") {
    val rows = (1 to 100).map(i => ("vary", (i % 25).toDouble, i.toLong)) ++
      (101 to 200).map(i => ("flat", 7.0, i.toLong))
    val df = rows.toDF("h", "v", "k")
    def run() = Curation.neymanSample(df, col("h"), col("v"), col("k"), totalN = 50L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    val r = run()
    assert(r("flat")._2 == 0L && r("flat")._3 == 0L,
      "zero-variance stratum gets zero allocation yet appears in the audit")
    assert(r("vary")._2 == 50L && r("vary")._3 == 50L,
      "all budget flows to the informative stratum")
    assert(r == run(), "md5 membership is draw-for-draw deterministic")
  }

  test("centroid drift: identical snapshots are exactly zero-shift, cosine 1") {
    val e = (1 to 30).map(i =>
      (i.toLong, i % 3, Seq(i * 0.1, 1.0, -i * 0.05))).toDF("vec_id", "label", "embedding")
    val same = Embeddings.centroidDrift(e, e).collect()
    assert(same.forall(r => r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0))
    // shifting every vector by +2 on dim 0 moves each centroid exactly 2
    val shifted = e.select(col("vec_id"), col("label"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + 2.0).otherwise(x)).as("embedding"))
    val d = Embeddings.centroidDrift(shifted, e).collect()
    assert(d.forall(_.getDouble(3) == 2.0), s"planted shift: ${d.toSeq}")
  }

  test("decimate: factor 1 is the identity on counts and moments") {
    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(v =>
        Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)).toArray
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort)
        .putShort(1.toShort).putInt(8000).putInt(16000).putShort(2.toShort)
        .putShort(16.toShort)
      bb.put("data".getBytes).putInt(data.length).put(data)
      bb.array()
    }
    val df = Seq((1L, wav(Seq(100, -100, 100, -100)))).toDF("doc_id", "payload")
    val r = Multimodal.decimateWav(df, factor = 1).head
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 100.0)
  }

  test("jaro-winkler: bit-identical to DuckDB's independent implementation") {
    // constants fetched from duckdb jaro_winkler_similarity — exact
    // doubles, not approximations; covers transpositions, the prefix
    // boost, the 0.7 threshold gating it, zero-match, and empties
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("abcdef", "abczzz", 0.6666666666666666), // prefix 3 but jaro ≤ 0.7
      ("ab", "ba", 0.0),                         // window 0: no matches
      ("", "", 0.0), ("a", "", 0.0),
      ("abc", "abc", 1.0))
    val expr = graft.functions.JaroWinkler(null, null)
    pinned.foreach { case (a, b, want) =>
      val got = expr.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == want, s"$a/$b: got $got want $want")
    }
    // and through the registered codegen path on a DataFrame
    val viaDf = Seq(("martha", "marhta")).toDF("a", "b")
      .select(graft.functions.SimilarityFunctions.jaro_winkler(col("a"), col("b")))
      .head.getDouble(0)
    assert(viaDf == 0.9611111111111111)
  }

  test("kmv: estimate lands near truth and rejects undersized key sets") {
    val keys = (1 to 1000).map(i => s"key$i").toDF("k")
    val r = Sketches.kmvDistinct(keys, col("k"), k = 128).head
    val est = r.getDouble(2)
    assert(est > 700 && est < 1300, s"KMV estimate off: $est for 1000 distinct")
    val tiny = (1 to 10).map(i => s"k$i").toDF("k")
    val e = intercept[Exception] {
      Sketches.kmvDistinct(tiny, col("k"), k = 64).head
    }
    assert(e.getMessage.contains("fewer than k"))
  }

  test("time features: the cyclical encoding closes the midnight seam") {
    def enc(h: Int): (Double, Double) = {
      val t = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
      val r = Features.timeFeatures(Seq((1L, t)).toDF("id", "ts"),
        col("id"), col("ts")).head
      (r.getDouble(4), r.getDouble(5))
    }
    def dist(a: (Double, Double), b: (Double, Double)): Double =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val (h0, h12, h23) = (enc(0), enc(12), enc(23))
    assert(h0 == ((0.0, 1.0)), "hour 0 sits at angle 0")
    assert(dist(h23, h0) < dist(h12, h0),
      "23:00 must be nearer midnight than noon is")
  }

  test("incremental join delta: maintained view equals the full recompute") {
    val aOld = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val aNew = Seq((2, "a3"), (3, "a4")).toDF("k", "av")
    val bOld = Seq((1, "b1"), (3, "b2")).toDF("k", "bv")
    val bNew = Seq((2, "b3"), (3, "b4")).toDF("k", "bv")
    val incr = aOld.join(bOld, "k")
      .unionByName(Cdc.incrementalJoinDelta(aOld, aNew, bOld, bNew, "k"))
      .select("k", "av", "bv").as[(Int, String, String)].collect().sorted
    val full = aOld.unionByName(aNew).join(bOld.unionByName(bNew), "k")
      .select("k", "av", "bv").as[(Int, String, String)].collect().sorted
    assert(incr.toSeq == full.toSeq,
      "V_old ∪ ΔV must equal the join of the unioned snapshots")
    // the delta-delta term is present exactly once: (3, a4, b4)
    assert(incr.count(_ == ((3, "a4", "b4"))) == 1)
  }

  test("point-in-time: facts see the version valid at their own instant") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val facts = Seq(
      (1L, 10L, t("2024-01-05 00:00:00")),  // before any version → null
      (2L, 10L, t("2024-01-10 00:00:00")),  // inside v1
      (3L, 10L, t("2024-01-16 00:00:00")),  // exactly at v2 open → v2
      (4L, 99L, t("2024-01-20 00:00:00"))   // key with no history → null
    ).toDF("event_id", "k", "ts")
    val dim = Seq((10L, t("2024-01-08 00:00:00"), "v1"),
      (10L, t("2024-01-16 00:00:00"), "v2")).toDF("k", "valid_from", "version")
    val r = Temporal.pointInTimeJoin(facts, dim, Seq("k"), "ts",
        "valid_from", Seq("version"))
      .select("event_id", "pit_version")
      .as[(Long, Option[String])].collect().toMap
    assert(r == Map(1L -> None, 2L -> Some("v1"), 3L -> Some("v2"), 4L -> None))
  }

  test("functional deps: exact violation counts") {
    val df = Seq((1, "x", "p"), (2, "x", "q"), (3, "y", "p"), (4, "y", "p"))
      .toDF("id", "a", "b")
    val r = Profile.functionalDeps(df, Seq(("id", "a"), ("a", "b")))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4))).toMap
    assert(r(("id", "a")) == ((4L, 0L, true)), "key determines everything")
    // a=x maps to {p,q} → one violating lhs value; a=y maps to {p} only
    assert(r(("a", "b")) == ((2L, 1L, false)))
  }

  test("erasure audit: per-table counts on a hand case") {
    val subjects = Seq(1L, 3L).toDF("s")
    val t1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "d")).toDF("uid", "v")
    val t2 = Seq((5L, "e")).toDF("uid", "v")
    val r = Curation.erasureAudit(subjects,
        Seq(("t1", t1, "uid"), ("t2", t2, "uid")))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r("t1") == ((4L, 3L, 1L)))
    assert(r("t2") == ((1L, 0L, 1L)))
  }

  test("rrf: consensus across lists beats a single first place") {
    val a = Seq(("q", 100L, 1), ("q", 101L, 2), ("q", 102L, 3)).toDF("q", "item", "rank")
    val b = Seq(("q", 101L, 1), ("q", 102L, 2), ("q", 103L, 3)).toDF("q", "item", "rank")
    val r = Stats.rrfFuse(Seq(a, b), k = 60, topN = 4).orderBy("fused_rank")
      .select("item", "n_lists", "rrf").as[(Long, Long, Double)].collect()
    // 101 appears rank 2+1 → 1/62+1/61 > 100's solo 1/61
    assert(r.head._1 == 101L && r.head._2 == 2L)
    assert(r.head._3 == round6(1.0 / 62 + 1.0 / 61))
    assert(r.map(_._1).contains(100L) && r.length == 4)
  }

  test("gap fill: zero-filled gaps, forward-filled sums, span cap") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600 * 1000L)
    val df = Seq(("k", t(0), 5.0), ("k", t(3), 7.0)).toDF("g", "ts", "v")
    val r = Temporal.gapFill(df, col("g"), col("ts"), col("v"), stepSec = 3600L)
      .orderBy("bucket_ts").collect()
    assert(r.length == 4, "grid densifies hours 0..3")
    assert(r.map(_.getLong(2)).toSeq == Seq(1L, 0L, 0L, 1L))
    assert(r.map(_.getDouble(3)).toSeq == Seq(5.0, 0.0, 0.0, 7.0))
    assert(r.map(_.getDouble(4)).toSeq == Seq(5.0, 5.0, 5.0, 7.0),
      "forward fill carries the last observation across the gap")
    val e = intercept[Exception] {
      Temporal.gapFill(df, col("g"), col("ts"), col("v"), stepSec = 3600L,
        maxBuckets = 2).collect()
    }
    assert(e.getMessage.contains("buckets"))
  }

  test("benford: digit shares and chi-square terms are exact") {
    val df = ((1 to 60).map(_ => 123.0) ++ (1 to 40).map(_ => 987.0)).toDF("v")
    val r = Stats.benford(df, col("v")).collect()
      .map(x => x.getInt(0) -> x).toMap
    assert(r.keySet == Set(1, 9))
    assert(r(1).getLong(1) == 60L && r(1).getDouble(2) == 0.6)
    assert(r(9).getDouble(2) == 0.4)
    val exp1 = math.log(2.0) / math.log(10.0)
    assert(math.abs(r(1).getDouble(3) - round6(exp1)) < 1e-9)
    val chi1 = 100.0 * (0.6 - exp1) * (0.6 - exp1) / exp1
    assert(math.abs(r(1).getDouble(4) - chi1) < 1e-4)
  }

  test("resize: identity keeps pixels, downsample picks the floor grid, non-netpbm None") {
    def p6(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      head ++ (0 until h).flatMap(y => (0 until w).flatMap { x =>
        val v = f(x, y); Seq(v.toByte, v.toByte, v.toByte) })
    }
    val img = p6(4, 2, (x, y) => x * 10 + y)
    val id = Multimodal.resizePpmPixels(img, 4, 2).get
    assert(id.size == 8)
    assert(id.forall { case (x, y, r, _, _) => r == x * 10 + y })
    val half = Multimodal.resizePpmPixels(img, 2, 1).get
    assert(half.toSet == Set((0, 0, 0, 0, 0), (1, 0, 20, 20, 20)),
      "2x downsample samples even columns of row 0")
    assert(Multimodal.resizePpmPixels(Array[Byte](0xFF.toByte, 0xD8.toByte), 2, 2).isEmpty)
  }

  test("knn classify: separated clusters predict perfectly; vote ties take the lower label") {
    // two tight clusters along orthogonal axes
    val vecs = ((1 to 10).map(i => (i.toLong, 0, Seq(1.0f, 0.001f * i, 0.0f))) ++
      (11 to 20).map(i => (i.toLong, 1, Seq(0.001f * i, 1.0f, 0.0f))))
      .toDF("vec_id", "label", "embedding")
    val r = Similarity.knnClassify(vecs, vecs, k = 3)
      .select("vec_id", "correct").as[(Long, Boolean)].collect()
    assert(r.length == 20 && r.forall(_._2), "clean clusters classify perfectly")
    // 4 neighbors, 2 votes each for labels 5 and 7 → tie → pred 5
    val tie = Seq(
      (1L, 9, Seq(1.0f, 0.0f)), (2L, 7, Seq(0.9f, 0.1f)), (3L, 7, Seq(0.9f, -0.1f)),
      (4L, 5, Seq(0.8f, 0.05f)), (5L, 5, Seq(0.8f, -0.05f)))
      .toDF("vec_id", "label", "embedding")
    val pred = Similarity.knnClassify(tie, tie.filter(col("vec_id") === 1), k = 4)
      .head.getInt(2)
    assert(pred == 5, "2-2 vote tie breaks to the lower label")
  }

  test("kendall tau: identity +1, reversal -1, hand case") {
    val base = Seq(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3), ("q", 4L, 4))
      .toDF("q", "item", "rank")
    val rev = Seq(("q", 1L, 4), ("q", 2L, 3), ("q", 3L, 2), ("q", 4L, 1))
      .toDF("q", "item", "rank")
    assert(Stats.kendallTau(base, base).head.getDouble(4) == 1.0)
    assert(Stats.kendallTau(base, rev).head.getDouble(4) == -1.0)
    // swap one adjacent pair: 5 concordant, 1 discordant → 4/6
    val swap = Seq(("q", 1L, 2), ("q", 2L, 1), ("q", 3L, 3), ("q", 4L, 4))
      .toDF("q", "item", "rank")
    val h = Stats.kendallTau(base, swap).head
    assert(h.getLong(2) == 5L && h.getLong(3) == 1L)
    assert(h.getDouble(4) == round6(4.0 / 6))
  }

  test("frequency encode: exact counts, shares, and the clobber guard") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "cat")
    val r = Features.frequencyEncode(df, col("cat"))
      .select("id", "freq", "freq_share").as[(Long, Long, Double)]
      .collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(1L) == ((2L, round6(2.0 / 3))) && r(3L) == ((1L, round6(1.0 / 3))))
    val clob = df.withColumnRenamed("id", "freq")
    val e = intercept[IllegalArgumentException] {
      Features.frequencyEncode(clob, col("cat"))
    }
    assert(e.getMessage.contains("clobber"))
  }

  test("seasonal decompose: a pure periodic signal separates exactly") {
    // v = 10 + (phase − 2), period 5, trend window 5 (one full period)
    // → trend ≡ 10, seasonal(phase) = phase − 2, residual ≡ 0
    val rows = (0 until 30).map { h =>
      ("s", new java.sql.Timestamp(h * 3600L * 1000L),
        10.0 + (h % 5 - 2).toDouble)
    }.toDF("k", "bt", "v")
    val r = Analytics.seasonalDecompose(rows, col("k"), col("bt"), col("v"),
        periodBuckets = 5, trendW = 2)
      .orderBy("bt").collect()
    val mid = r.filter(!_.isNullAt(4))
    assert(mid.length == 26, "trend defined only where the window is full")
    assert(mid.forall(_.getDouble(4) == 10.0), "flat trend")
    assert(mid.forall(x => x.getDouble(5) == (x.getInt(3) - 2).toDouble),
      "seasonal equals the planted phase pattern")
    assert(mid.forall(_.getDouble(6) == 0.0), "zero residual")
  }

  test("bootstrap CI: brackets the mean, deterministic draw-for-draw") {
    val df = (1 to 2000).map(i => (i.toLong, 50.0 + (i % 21 - 10)))
      .toDF("id", "v")
    def run() = Stats.poissonBootstrap(df, col("id"), col("v"),
      replicates = 50).head
    val r = run()
    assert(r.getLong(0) == 2000L)
    val (mean, lo, hi, se) = (r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
    assert(lo < mean && mean < hi, s"CI must bracket the mean: $lo $mean $hi")
    assert(hi - lo < 2.0, s"CI too wide for n=2000: ${hi - lo}")
    assert(se > 0.0)
    assert(r == run(), "md5 weights make the bootstrap reproducible")
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
