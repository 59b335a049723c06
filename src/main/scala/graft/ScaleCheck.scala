package graft

import org.apache.spark.sql.SparkSession
import graft.engine._

/** Ingest-side scale validation against the reference's own commitments
  * (BASELINE.md: 2M-row CSV and 1M-value JSON ingest under bounded
  * memory — runtests.sh:64-67,85). Run: sbt "runMain graft.ScaleCheck <csvPath>".
  * Prints rows/sec for ingest+inference and the typed materialization.
  */
object ScaleCheck {

  /** Dedup scaling probe (`runMain graft.ScaleCheck dedup`): grow the
    * sf0.1 documents corpus ×5 and ×20 (25k / 100k docs) with
    * replica-DISTINCT text (a replica token woven between words shifts
    * every shingle), so the dup structure per replica stays constant
    * and the probe measures the SLOPE: candidate generation must grow
    * ~linearly with corpus size — bucket-local pairs, no N² anywhere.
    * (Replicating the text verbatim instead makes every doc a 20-way
    * exact-dup clone, where quadratic OUTPUT is inherent — that shape
    * is what exact dedup removes first, per the operator docs.)
    */
  private def dedupScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scale] dedup x$mult ($n%d docs) $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      }
      // shingle-based ops only: the woven replica token isolates
      // replicas at the SHINGLE level, but makes their token
      // DISTRIBUTIONS near-identical, which is adversarial input for
      // simhash (whose guard against that shape is maxBucket, already
      // spec-covered) — including it here would measure the probe's
      // artifact, not the slope
      time("exact")(graft.ops.Dedup.exact(docs).count())
      time("minhashLsh")(graft.ops.Dedup.minhashLsh(docs).count())
      time("ngramJaccard")(graft.ops.Dedup.ngramJaccard(docs).count())
      // incremental near-dup at the same scale: first replica as the
      // incoming batch, the rest as the base — the daily-ingest shape
      time("incrementalNearDup")(graft.ops.Dedup.incrementalNearDup(
        docs.filter(col("doc_id") < 10000000L),
        docs.filter(col("doc_id") >= 10000000L)).count())
      docs.unpersist()
    }
  }

  /** Connected-components scaling probe (`runMain graft.ScaleCheck cc`):
    * a 1M-node CHAIN is the worst case for label propagation (diameter
    * 10⁶ — plain 1-hop propagation would need 10⁶ rounds); two-phase
    * star contraction must close it in O(log² n) rounds. Also probes a
    * 1M-node forest of 100k 10-cliques (the realistic dedup shape).
    */
  private def ccScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def probe(label: String, pairs: org.apache.spark.sql.DataFrame,
              expectClusters: Long): Unit = {
      val t0 = System.nanoTime()
      val cc = graft.ops.Dedup.connectedComponents(pairs, maxIter = 50)
      val clusters = cc.select("cluster_id").distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (rounds, changing) =
        graft.ops.OpsMetrics.lastConvergence("graft.cc.convergence").get
      println(f"[scale] cc $label clusters=$clusters%d (expect $expectClusters%d) " +
        f"rounds=$rounds%d stillChanging=$changing%d sec=$sec%.1f")
      assert(clusters == expectClusters && changing == 0L)
    }
    val n = 1000000L
    probe("chain-1M",
      spark.range(1, n).select(col("id").as("id_a"), (col("id") + 1).as("id_b")),
      expectClusters = 1L)
    probe("cliques-100kx10",
      spark.range(n).select((col("id") - col("id") % 10).as("id_a"), col("id").as("id_b"))
        .filter(col("id_a") =!= col("id_b")),
      expectClusters = n / 10)
    // the sd02 shape: a REAL similarity graph (sf0.1 embedding cosine
    // pairs — high-eccentricity threshold chains, the graph that made
    // the pre-round-9 label-propagation loop trickle for 24 rounds)
    val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val pairs = graft.ops.Similarity.cosineDups(emb, dim = 64, threshold = 0.3)
      .select(col("id_a"), col("id_b")).cache()
    val nodes = pairs.select(col("id_a").as("n"))
      .union(pairs.select(col("id_b").as("n"))).distinct().count()
    val t0 = System.nanoTime()
    val cc = graft.ops.Dedup.connectedComponents(pairs, maxIter = 50)
    val got = cc.count()
    val (rounds, changing) =
      graft.ops.OpsMetrics.lastConvergence("graft.cc.convergence").get
    println(f"[scale] cc sim-sf0.1 rows=$got%d (expect $nodes%d) " +
      f"rounds=$rounds%d stillChanging=$changing%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    assert(got == nodes && changing == 0L)
    pairs.unpersist()
  }

  /** PQ scaling probe (`runMain graft.ScaleCheck pq`): grow the sf0.1
    * embeddings ×25 and ×100 (50k / 200k vectors, jittered so replicas
    * are distinct points) and measure encode + ADC-search wall time.
    * Codebook training stays CONSTANT (bounded sample); encode must
    * grow ~linearly (broadcast codebook, per-row argmin, shuffle of
    * id/code tuples only); ADC search is a scan of the codes.
    */
  private def pqScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    for (mult <- Seq(25, 100)) {
      val corpus = (0 until mult).map(i =>
          base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            transform(col("embedding"),
              x => (x + lit(i * 0.001f)).cast("float")).as("embedding")))
        .reduce(_ union _).repartition(32).cache()
      val n = corpus.count()
      var t0 = System.nanoTime()
      val cb = graft.ops.Embeddings.pqCodebooks(corpus, m = 16, k = 16)
      val trainSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val enc = graft.ops.Embeddings.pqEncode(corpus, cb).cache()
      val nEnc = enc.count()
      val encodeSec = (System.nanoTime() - t0) / 1e9
      val queries = base.orderBy("vec_id").limit(10).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      t0 = System.nanoTime()
      val found = graft.ops.Embeddings.pqAdcTopK(enc, cb, queries, k = 10).count()
      val searchSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] pq x$mult n=$n%d encoded=$nEnc%d train=$trainSec%.1fs " +
        f"encode=$encodeSec%.1fs (${n / encodeSec}%.0f vec/s) " +
        f"adc-top10x10=$searchSec%.1fs found=$found%d")
      assert(nEnc == n && found == 100)
      corpus.unpersist(); enc.unpersist()
    }
  }

  /** ml01 ANN scaling probe (`runMain graft.ScaleCheck ml`): grow the
    * sf0.1 embeddings ×5 and ×20 (jittered replicas, labels kept) and
    * run full-corpus labelAgreement with annThreshold = 0, forcing the
    * LSH candidate path. The brute-force default this replaced is
    * O(N²) — ×4 corpus → ×16 work; the bucketed path must show ~linear
    * slope (bitsFor scales the bucket count with the corpus, so
    * expected bucket population — and pairs per vector — stays
    * constant).
    */
  private def mlScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    for (mult <- Seq(5, 20)) {
      val corpus = (0 until mult).map(i =>
          base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            transform(col("embedding"),
              x => (x + lit(i * 0.001f)).cast("float")).as("embedding"),
            col("label")))
        .reduce(_ union _).repartition(32).cache()
      val n = corpus.count()
      val t0 = System.nanoTime()
      val rows = graft.ops.Similarity
        .labelAgreement(corpus, k = 5, annThreshold = 0).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] ml x$mult n=$n%d agreementRows=$rows%d sec=$sec%.1f " +
        f"(${n / sec}%.0f vec/s)")
      corpus.unpersist()
    }
  }

  /** ln01/tx12 scaling probe (`runMain graft.ScaleCheck text`): grow
    * the sf0.1 documents ×5 and ×20 with replica-distinct text and
    * measure the two round-8 text operators whose cost centers are
    * DF-count joins:
    *  - dropBoilerplateLines: the line-DF frame grows with total line
    *    count; the hot-line anti-join carries 32-byte keys only
    *  - bigramLogppl: the (w1,w2) count frame grows with distinct
    *    bigrams (sublinearly once the vocab saturates); the join is
    *    shuffle-by-design with map-side partial agg
    * Both must show ~linear wall-clock slope in corpus size.
    */
  private def textScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scale] text x$mult ($n%d docs) $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      }
      // newline-less corpus: give boilerplate a real line structure by
      // splitting on the period (sentences as "lines")
      time("boilerplateLines")(graft.ops.Dedup.dropBoilerplateLines(
        docs, maxDf = 100, sep = ".").count())
      time("bigramLogppl")(
        graft.ops.TextAnalysis.bigramLogppl(docs).count())
      // aggregate over the OUTPUT column: a bare count() lets the
      // optimizer eliminate the keep-first join entirely
      time("paragraphDedup")(graft.ops.Dedup.dropDuplicateParagraphs(
          docs, sep = ".")
        .agg(sum(length(col("clean_text")))).collect()(0).getLong(0))
      docs.unpersist()
    }
  }

  /** Round-9 operator probes (`runMain graft.ScaleCheck r9`):
    * dd10 window dedup over the grown document corpus (its cost
    * center is the window-hash DF shuffle — one row per token),
    * sd01 semDedup over a grown embedding corpus (rotated replicas
    * keep per-replica geometry while shifting cells), and pr01
    * PageRank over a synthetic ring+chord graph (each round = one
    * edge join + one aggregate; wall should grow ~linearly in edges
    * and exactly linearly in rounds).
    */
  private def r9Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      val t0 = System.nanoTime()
      val out = graft.ops.Dedup.dropDuplicateWindows(docs, w = 8, minDf = 2)
        .agg(sum(col("n_dup_tokens"))).collect()(0).getLong(0)
      println(f"[scale] r9 x$mult ($n%d docs) windowDedup dupTokens=$out%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      docs.unpersist()
    }
    val embBase = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    for (mult <- Seq(5, 20)) {
      val embs = (0 until mult).map(i =>
          embBase.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            concat(slice(col("embedding"), i + 1, 64 - i),
              slice(col("embedding"), 1, i)).as("embedding")))
        .reduce(_ union _).repartition(32).cache()
      val n = embs.count()
      val t0 = System.nanoTime()
      val kept = graft.ops.Similarity.semDedup(embs, dim = 64, eps = 0.3,
          numCells = 64)
        .filter(col("keep")).count()
      println(f"[scale] r9 x$mult ($n%d vecs) semDedup kept=$kept%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      embs.unpersist()
    }
    for (nodes <- Seq(100000, 400000)) {
      import spark.implicits._
      // ring + md5-derived chord per node: connected, degree ~4
      val ring = spark.range(nodes).select(col("id").as("src"),
        ((col("id") + 1) % nodes).as("dst"))
      val chord = spark.range(nodes).select(col("id").as("src"),
        (conv(substring(md5(concat(lit("pr"), col("id"))), 1, 8), 16, 10)
          .cast("long") % nodes).as("dst"))
        .filter(col("src") =!= col("dst"))
      val e0 = ring.union(chord)
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(32).cache()
      val ne = edges.count()
      val t0 = System.nanoTime()
      val top = graft.ops.Graph.pageRank(edges, iters = 10)
        .agg(max(col("rank"))).collect()(0).getDouble(0)
      println(f"[scale] r9 pagerank nodes=$nodes%d edges=$ne%d maxRank=$top%.2e sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      edges.unpersist()
    }
  }

  /** Second round-9 probe family (`runMain graft.ScaleCheck r9b`):
    * tc01 triangles over circulant graphs (each node linked to its 4
    * successors: constant degree 8, so wedge count grows LINEARLY in
    * nodes — any superlinear wall means the wedge join degenerated),
    * an03 attribution over the events table replicated with disjoint
    * user id ranges (one keyed window: wall should track rows), and
    * ck01 chunking over the grown document corpus (map-side expand:
    * wall should track bytes scanned).
    */
  private def r9bScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    for (nodes <- Seq(200000, 800000)) {
      val e = spark.range(nodes).select(col("id").as("src"),
          explode(array((1 to 4).map(k => (col("id") + k) % nodes): _*)).as("dst"))
        .repartition(32).cache()
      val ne = e.count()
      val t0 = System.nanoTime()
      val tris = graft.ops.Graph.triangleCount(e)
        .agg(sum(col("n_triangles"))).collect()(0).getLong(0)
      println(f"[scale] r9b triangles nodes=$nodes%d edges=$ne%d tri3x=$tris%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      e.unpersist()
    }
    val ev = Tables.load(spark, "/root/testdata/sf0.1", "events")
    for (mult <- Seq(5, 20)) {
      val big = (0 until mult).map(i => ev.select(
          (col("user_id") + lit(i * 10000000L)).as("user_id"), col("ts"),
          col("event_type"), col("value"),
          (col("event_id") + lit(i * 1000000000L)).as("event_id")))
        .reduce(_ union _).repartition(32).cache()
      val n = big.count()
      val t0 = System.nanoTime()
      val rows = graft.ops.Analytics.attribution(big, "user_id", "ts",
          touchTypes = Seq("view", "click", "signup"), convType = "purchase",
          lookbackSec = 604800L)
        .collect()
      println(f"[scale] r9b x$mult ($n%d events) attribution channels=${rows.length}%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      big.unpersist()
    }
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            col("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      val t0 = System.nanoTime()
      val chunks = graft.ops.Curation.chunkDocs(docs, window = 32, overlap = 8)
        .count()
      println(f"[scale] r9b x$mult ($n%d docs) chunkDocs chunks=$chunks%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      docs.unpersist()
    }
  }

  /** Heavy-hitters probe (`runMain graft.ScaleCheck hh`): 40% of
    * traffic on 2 hot keys, the rest spread over 1M distinct tail keys
    * — the cardinality regime where a naive groupBy-count ships a
    * million-row shuffle while Misra–Gries ships partitions×cap rows.
    * Wall should track rows (the sketch is one pass); the guarantee
    * must find exactly the two hot keys at every size.
    */
  private def hhScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    for (n <- Seq(10000000L, 40000000L)) {
      val df = spark.range(n).select(
        when(col("id") % 5 < 2, concat(lit("hot"), col("id") % 2))
          .otherwise(concat(lit("t"), col("id") % 1000000)).as("k"))
        .repartition(32)
      val t0 = System.nanoTime()
      val out = graft.ops.Sketches.heavyHitters(df, col("k"), cap = 16)
        .collect()
      val guaranteed = out.filter(_.getBoolean(2)).map(_.getString(0)).sorted
      println(f"[scale] hh n=$n%d candidates=${out.length}%d guaranteed=${guaranteed.mkString(",")} top=${out.head.getString(0)}:${out.head.getLong(1)}%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
  }

  /** Embedding-sketch probe (`runMain graft.ScaleCheck em`):
    * em08 signPack + hammingTopK over deterministic synthetic vectors
    * (integer-mix pseudo-floats — no RNG) at 1M/4M vectors, and em07's
    * co-moment pass at 100k/400k. signPack is scan-speed; hammingTopK's
    * cost center is the per-query top-k sort; the co-moment pass pays
    * the d²·N multiply floor with only d² shuffle rows.
    */
  private def emScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def vecs(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), d =>
        ((pmod(col("id") * lit(2654435761L) + d.cast("long") * lit(40503L),
          lit(1000L))) - lit(500L)).cast("float") / lit(500.0f)).as("embedding"))
      .repartition(32)
    for (n <- Seq(1000000L, 4000000L)) {
      val v = vecs(n).cache(); v.count()
      var t0 = System.nanoTime()
      val packed = graft.ops.Embeddings.signPack(v, dim = 64).count()
      val packSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val topk = graft.ops.Embeddings.hammingTopK(v,
        queryIds = Seq(1L, 2L, 3L, 4L), dim = 64, k = 10).count()
      println(f"[scale] em n=$n%d signPack=$packed%d rows ${packSec}%.1fs hammingTopK(4q)=$topk%d rows ${(System.nanoTime() - t0) / 1e9}%.1fs")
      v.unpersist()
    }
    for (n <- Seq(100000L, 400000L)) {
      val v = vecs(n).cache(); v.count()
      val t0 = System.nanoTime()
      val w = graft.ops.Embeddings.zcaWhiten(v, dim = 64, eps = 1e-9)
        .select(element_at(col("zca_embedding"), 1)).agg(sum(col("element_at(zca_embedding, 1)"))).collect()
      println(f"[scale] em n=$n%d zcaWhiten ${(System.nanoTime() - t0) / 1e9}%.1fs")
      v.unpersist()
    }
  }

  /** Round-9 feature-family probes (`runMain graft.ScaleCheck r9c`):
    *  - cm01 Count-Min build over 10M/40M synthetic rows (Zipf-ish 2
    *    hot + 1M-key tail): the cell aggregate must stay ~linear and
    *    the shuffle bounded at depth×width cells per partition.
    *  - cf01 basket pairs over ×1/×4 baskets of constant size: the
    *    pair join grows with basket COUNT, never baskets².
    *  - an07 stickiness over ×1/×4 user-day grids: dedup + ×30
    *    fan-out is flat per input row.
    *  - jc01 link prediction over constant-degree circulant graphs
    *    ×4 edges: wedge work per node is degree², so total grows
    *    ~linearly in nodes at fixed degree.
    */
  private def r9cScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    for (m <- Seq(10000000L, 40000000L)) {
      val keys = spark.range(m).select(
        when(col("id") % 10 < 3, lit("hot1"))
          .when(col("id") % 10 < 5, lit("hot2"))
          .otherwise((col("id") % 1000000).cast("string")).as("k"))
      time(s"cm01 build n=$m")(
        graft.ops.Sketches.countMin(keys, col("k")).count())
    }
    for (m <- Seq(1, 4)) {
      val baskets = spark.range(200000L * m).select(
        col("id").as("bk"), explode(sequence(lit(0), lit(9))).as("j"))
        .select(col("bk"), ((col("bk") * 7 + col("j") * 13) % 5000).as("it"))
      time(s"cf01 x$m baskets")(
        graft.ops.Analytics.basketLift(baskets, col("bk"), col("it"),
          minPairCount = 2).count())
      val events = spark.range(1000000L * m).select(
        (col("id") % 50000).as("u"),
        timestamp_seconds(lit(1700000000L) + (col("id") % 60) * 86400).as("ts"))
      time(s"an07 x$m events")(
        graft.ops.Analytics.stickiness(events, col("u"), col("ts")).count())
    }
    for (m <- Seq(1, 4)) {
      val n = 100000L * m
      // circulant: node i connects to i+1..i+8 (mod n) — degree 16
      val e = spark.range(n).select(col("id").as("src"),
          explode(sequence(lit(1), lit(8))).as("d"))
        .select(col("src"), ((col("src") + col("d")) % n).as("dst"))
      time(s"jc01 x$m nodes=$n")(
        graft.ops.Graph.linkPrediction(e, topK = 100).count())
    }
  }

  /** Round-9d probes (`runMain graft.ScaleCheck r9d`):
    *  - ev01 AUC over ×1/×4 rows with ~1M distinct scores: the
    *    bucketed prefix sum must stay ~linear — the naive global-rank
    *    form would single-thread the distinct-score frame.
    *  - nb01 Naive Bayes train+score over ×1/×4 synthetic labeled
    *    corpora: one token groupBy + broadcast model joins.
    *  - bfs01 over a 1M-node degree-16 circulant from 10 sources:
    *    frontier saturates in a handful of rounds; wall is dominated
    *    by edge-join rounds, not node count.
    *  - wq01 weighted median over ×1/×4 rows in 10 groups.
    */
  private def r9dScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    for (m <- Seq(10000000L, 40000000L)) {
      val scored = spark.range(m).select(
        ((col("id") * 37) % 1000000).cast("double").as("s"),
        (col("id") % 3 === 0).as("y"))
      time(s"ev01 auc n=$m")(graft.ops.Stats.auc(scored, col("s"), col("y")).count())
      val rows = spark.range(m).select((col("id") % 10).as("g"),
        ((col("id") * 13) % 100000).cast("double").as("v"),
        (col("id") % 7 + 1).cast("double").as("w"))
      time(s"wq01 median n=$m")(graft.ops.Profile.weightedMedian(
        rows, col("g"), col("v"), col("w")).count())
    }
    for (m <- Seq(1, 4)) {
      val n = 100000L * m
      // synthetic labeled corpus: 4 classes, class-biased vocab of
      // ~4000 tokens, 20 tokens/doc
      val docs = spark.range(n).select(col("id"),
        (col("id") % 4).cast("string").as("cls"),
        concat_ws(" ", (0 until 20).map(j =>
          concat(lit("w"), ((col("id") * 31 + j * 7) % 1000 +
            (col("id") % 4) * 1000).cast("string"))): _*).as("text"))
      time(s"nb01 x$m docs=$n")(graft.ops.Classify.naiveBayesScore(
        docs, col("id"), col("text"), col("cls")).count())
    }
    val n = 1000000L
    val e = spark.range(n).select(col("id").as("s0"),
        explode(sequence(lit(1), lit(8))).as("d"))
      .select(col("s0").as("src"), ((col("s0") + col("d")) % n).as("dst"))
    val e2 = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val srcs = spark.range(10).select((col("id") * 100000L).as("node"))
    val t0 = System.nanoTime()
    val reached = graft.ops.Graph.hopDistance(e2, srcs, maxHops = 8).count()
    val (rounds, frontier) =
      graft.ops.OpsMetrics.lastConvergence("graft.bfs").get
    println(f"[scale] bfs01 circulant-1M reached=$reached%d rounds=$rounds%d " +
      f"frontier=$frontier%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
  }

  /** Round-9e probes (`runMain graft.ScaleCheck r9e`):
    *  - tp07 gap fill over sparse 10-key series ×1/×4 rows: grid +
    *    fill stay ~linear in buckets.
    *  - ev07 bootstrap (100 replicates) over 1M/4M rows: the ×100
    *    expand partial-aggregates map-side, so the shuffle carries
    *    100 replicate partials per task, not 100×rows.
    *  - rrf01 fusion of two 1M-item rankings across 1k queries.
    */
  private def r9eScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      val ev = spark.range(n).select((col("id") % 10).cast("string").as("k"),
        timestamp_seconds(lit(1700000000L) + (col("id") % 500000) * 60).as("ts"),
        (col("id") % 97).cast("double").as("v"))
      time(s"tp07 x$m rows=$n")(graft.ops.Temporal.gapFill(
        ev, col("k"), col("ts"), col("v"), stepSec = 3600L,
        maxBuckets = 200000).count())
      // collect, not count: a global aggregate is KNOWN to be one row,
      // so count() is optimizer-folded without touching the data
      time(s"ev07 x$m rows=$n")(graft.ops.Stats.poissonBootstrap(
        ev, col("ts").cast("long"), col("v"), replicates = 100)
        .collect().length.toLong)
    }
    val rank = spark.range(1000000L).select(
      (col("id") % 1000).cast("string").as("q"), col("id").as("item"),
      (col("id") / 1000 + 1).cast("int").as("rank"))
    time("rrf01 1M ranks x2")(
      graft.ops.Stats.rrfFuse(Seq(rank, rank), topN = 10).count())
  }

  /** Session-5 probes: inverted index growth, item-item CF at fixed
    * per-user cardinality, label propagation on a large circulant,
    * Bloom probe throughput, and EWMA window growth.
    */
  private def r9fScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // ii01: docs of 50 tokens over a 10k-term vocab; ×4 docs
    for (m <- Seq(1, 4)) {
      val n = 100000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => concat(lit("w"), pmod(col("id") * 53 + i * 17, lit(10000))))
        ).as("text"))
      time(s"ii01 x$m docs=$n")(
        graft.ops.TextAnalysis.invertedIndex(docs, minDf = 2L).count())
    }
    // cf02: ×4 users at fixed 20 items/user over a 2k-item catalog —
    // pair work per user is constant, so wall should be ~linear
    for (m <- Seq(1, 4)) {
      val n = 50000L * m
      val ui = spark.range(n * 20).select(
        (col("id") / 20).cast("long").as("u"),
        concat(lit("i"), pmod(col("id") * 31 + col("id") / 20, lit(2000)))
          .as("it"))
      time(s"cf02 x$m users=$n")(graft.ops.Analytics.itemCosine(
        ui, col("u"), col("it"), topK = 10, minCommon = 5,
        maxItemsPerUser = 64).count())
    }
    // lp01: 4 rounds over a 1M-node degree-8 circulant — per-round
    // cost is one edge join + count + window; wall ∝ rounds × E
    val nodes = 1000000L
    val e = spark.range(nodes).select(col("id")).crossJoin(
        spark.range(4).select(col("id").as("k")))
      .select(concat(lit("n"), col("id")).as("src"),
        concat(lit("n"), pmod(col("id") + col("k") * 7 + 1, lit(nodes))).as("dst"))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    time("lp01 1M-node deg8 circulant, 4 rounds")(
      graft.ops.Graph.labelPropagation(sym, rounds = 4).count())
    // bf02: build over 1M keys, probe 10M/40M rows scan-speed
    for (m <- Seq(1, 4)) {
      val n = 10000000L * m
      val build = spark.range(1000000L).toDF("k")
      val probeP = spark.range(n).select(pmod(col("id"), lit(1000000L)).as("p"))
      val probeA = spark.range(n).select((col("id") % 1000000L + 5000000L).as("p"))
      time(s"bf02 x$m probes=$n")(graft.ops.Sketches.bloomMembership(
        build, col("k"), probeP, col("p"), probeA, col("p"),
        expectedItems = 2000000L, numBits = 1L << 24, fpBound = 0.05).count())
    }
    // ts05: ×4 events, 100 keys, K=16 lags — one window pass
    for (m <- Seq(1, 4)) {
      val n = 5000000L * m
      val ev = spark.range(n).select((col("id") % 100).cast("string").as("k"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        col("id").as("tb"), (col("id") % 97).cast("double").as("v"))
      time(s"ts05 x$m rows=$n")(graft.ops.Analytics.ewmaSmooth(
        ev, col("k"), col("ts"), col("tb"), col("v"),
        alpha = 0.3, horizon = 16).count())
    }
  }

  /** Round-10 probes: the mergeable per-partition KMV rewrite (kmv01/
    * kmv02) that replaced the full-cardinality distinct-union shuffle
    * — r9g recorded 10M keys/side 6.6 s → 40M 61.6 s (×9.3 at ×4,
    * with spill); the rewrite must be ~flat.
    */
  private def r10Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    for (m <- Seq(1, 4)) {
      val n = 10000000L * m
      val a = spark.range(n).toDF("v")
      val b = spark.range(n / 2, n + n / 2).toDF("v")
      time(s"kmv02 x$m keys=$n")(graft.ops.Sketches.kmvOverlap(
        a, col("v"), b, col("v"), k = 64).count())
      time(s"kmv01 x$m keys=$n")(graft.ops.Sketches.kmvDistinct(
        a, col("v"), k = 64).count())
    }
    // streaming throughput: drive windowedCounts (watermark + windowed
    // agg, the st01 operator) from a rate source for a fixed event
    // budget and report rows/s end-to-end through the stateful
    // aggregation — the one family the batch probes can't cover
    {
      import org.apache.spark.sql.functions._
      val rate = spark.readStream.format("rate")
        .option("rowsPerSecond", 2000000).option("numPartitions", 8).load()
        .select(col("timestamp").as("ts"),
          (col("value") % 5).cast("string").as("event_type"),
          (col("value") % 1000).cast("double").as("value"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-probe")
      // Steady-state measurement via a listener, not recentProgress:
      // recentProgress is capped (default 100 entries, undercounts on
      // fast triggers) and a wall clock spanning stream START folds
      // the multi-second cold-start into the denominator. The listener
      // sums numInputRows only while the counting flag is up — a 5 s
      // warm-up, then a 10 s steady window.
      val rowsSeen = new java.util.concurrent.atomic.AtomicLong(0)
      @volatile var counting = false
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (counting) rowsSeen.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val q = graft.streaming.EventStream
        .windowedCounts(rate, window_ = "1 minute", watermark = "2 minutes")
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        Thread.sleep(5000) // cold-start + state-store warm-up, not measured
        counting = true
        val t0 = System.nanoTime()
        Thread.sleep(10000)
        counting = false
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop(); q.awaitTermination()
        val rows = rowsSeen.get()
        println(f"[scale] streaming windowedCounts rows=$rows%d sec=$secs%.1f rate=${rows / secs / 1e6}%.2f M rows/s (steady-state window)")
      } finally {
        spark.streams.removeListener(listener)
        // the probe's checkpoint is throwaway state — clean it up
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      }
    }
    // grouped weighted median: ONE group with millions of DISTINCT
    // values — the shape where the old partitionBy(g) window was a
    // single task sorting the whole group; the grouped bucketed
    // prefix sum must stay ~flat and parallel
    for (m <- Seq(1, 4)) {
      val n = 4000000L * m
      val df = spark.range(n).select(
        (col("id") % 4).cast("string").as("g"),
        (col("id") * 7919L % 104729L * 1000000L + col("id")).cast("double").as("v"))
      time(s"wqmedian x$m rows=$n")(graft.ops.Profile.weightedMedian(
        df, col("g"), col("v"), lit(1L)).count())
    }
  }

  /** Round-11 probes: the rowGuarded split (bulk equi + tiny
    * null-safe side) at tens of millions of rows, the gr02
    * sufficient-statistics rewrite on a synthetic power-law graph,
    * and budgetSelect's double-prefix-sum at corpus scale — each ×1
    * vs ×4 so the slope is on record, not just the constant.
    */
  private def r11Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // basketLift shape at scale: n rows over n/20 baskets (~20 items
    // each, fan-out 190 pairs/basket) — the guard's semi-join is the
    // round-11 split; this is the plan the 100 TB run would execute
    for (m <- Seq(1, 4)) {
      val n = 2500000L * m
      val df = spark.range(n).select(
        (col("id") / 20).cast("long").as("bk"),
        (col("id") * 7919 % 50021).as("it"))
      time(s"cf01-shape x$m rows=$n")(graft.ops.Analytics.basketLift(
        df, col("bk"), col("it"), minPairCount = 3, maxBasket = 64).count())
    }
    // gr02 on a synthetic multi-scale graph: ring edges + hub spokes
    // (every node -> hub h = id%97) gives skewed degrees; the
    // statistic must stay one action with bounded exchanges
    for (m <- Seq(1, 4)) {
      val n = 2000000L * m
      val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      val spokes = spark.range(n).select(col("id").as("src"),
        (col("id") % 97).as("dst"))
      time(s"gr02 x$m edges=${2 * n}")(
        graft.ops.Graph.assortativity(ring.union(spokes)).count())
    }
    // budgetSelect: 10M docs, integer-ish densities with heavy ties —
    // the two-prefix-sum plan must hold its slope under tie skew
    for (m <- Seq(1, 4)) {
      val n = 2500000L * m
      val df = spark.range(n).select(col("id"),
        (col("id") % 997 + 10).as("tok"),
        (col("id") % 89 + 1).cast("double").as("score"))
      time(s"bs01 x$m rows=$n")(graft.ops.Curation.budgetSelect(
        df, col("id"), col("tok"), col("score"),
        budgetTokens = n * 100).count())
    }
  }

  /** Round-11b probes: the new-operator family at synthetic scale —
    * nv01's gram-keyed join (nothing broadcast), ts06's many-series
    * ordered windows, and st09's stateful streaming throughput.
    */
  private def r11bScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // nv01 shape: n docs × ~18 word-3-grams each; base = 20% of ids.
    // Vocabulary 50k words → heavy gram collisions, a real join load
    for (m <- Seq(1, 4)) {
      val n = 250000L * m
      val mkText = expr(
        "concat_ws(' ', transform(sequence(0, 19), " +
          "j -> concat('w', (id * 31 + j * 7919) % 50021)))")
      val all = spark.range(n).select(col("id").as("doc_id"),
        mkText.as("text"))
      time(s"nv01 x$m docs=$n")(graft.ops.Curation.ngramNovelty(
        all.filter(col("doc_id") % 5 =!= 0),
        all.filter(col("doc_id") % 5 === 0), n = 3).count())
    }
    // ts06: 10k series × 1k points (×4: × 4k points) — series-keyed
    // window parallelism with five window columns on one exchange
    for (m <- Seq(1, 4)) {
      val pts = 1000L * m
      val n = 10000L * pts
      val df = spark.range(n).select(
        (col("id") % 10000L).cast("string").as("k"),
        timestamp_micros(col("id") * 1000L).as("ts"),
        col("id").as("tb"),
        ((col("id") * 7919) % 997).cast("double").as("v"))
      time(s"ts06 x$m rows=$n")(graft.ops.Analytics.cusumChangepoint(
        df, col("k"), col("ts"), col("tb"), col("v")).count())
    }
    // st09 streaming throughput: rate source → cusumMonitor → noop,
    // steady-state listener window (the r10 probe's protocol)
    {
      import spark.implicits._
      val rate = spark.readStream.format("rate")
        .option("rowsPerSecond", 2000000).option("numPartitions", 8).load()
        .select((col("value") % 1000).cast("string").as("k"),
          col("value").as("us"), col("value").as("tb"),
          (col("value") % 97).cast("double").as("v"))
        .as[graft.streaming.EventStream.CusumEvent]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-st09-probe")
      val rowsSeen = new java.util.concurrent.atomic.AtomicLong(0)
      @volatile var counting = false
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (counting) rowsSeen.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val q = graft.streaming.EventStream
        .cusumMonitor(rate, mu0 = 48.0, slack = 0.5, h = 1e7)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        Thread.sleep(5000)
        counting = true
        val t0 = System.nanoTime()
        Thread.sleep(10000)
        counting = false
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop(); q.awaitTermination()
        val rows = rowsSeen.get()
        println(f"[scale] st09 streaming cusum rows=$rows%d sec=$secs%.1f rate=${rows / secs / 1e6}%.2f M rows/s (steady-state)")
      } finally {
        spark.streams.removeListener(listener)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      }
    }
  }

  /** Round-12 probes: the new-operator family — curriculum ordering
    * under stratum skew, Zipf fit over a corpus-sized vocabulary,
    * linear MMD at millions of vectors, and margin mining's
    * broadcast×scan growth. Each ×1 vs ×4 so the slope is on record.
    */
  private def r12Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // cu01: 50 strata with power-law sizes and heavy difficulty ties —
    // the two-prefix-sum ranks must hold their slope where a
    // whole-stratum window would serialize the largest stratum
    for (m <- Seq(1, 4)) {
      val n = 2500000L * m
      val df = spark.range(n).select(col("id"),
        concat(lit("s"), (col("id") % 50)).as("st"),
        ((col("id") * 7919) % 997).cast("double").as("diff"))
      time(s"cu01 x$m rows=$n")(graft.ops.Curation.curriculumOrder(
        df, col("id"), col("st"), col("diff")).count())
    }
    // tx18: n docs × 20 words from a 50k vocab with power-law word
    // choice — the count-cardinality construction must stay flat
    // while per-type vocab grows into the tens of thousands
    for (m <- Seq(1, 4)) {
      val n = 250000L * m
      val mkText = expr(
        "concat_ws(' ', transform(sequence(0, 19), " +
          "j -> concat('w', CAST(pow(id * 31 + j * 7919, 0.5) AS BIGINT) % 50021)))")
      val df = spark.range(n).select(lit("en").as("lang"), mkText.as("text"))
      time(s"tx18 x$m docs=$n")(
        graft.ops.TextAnalysis.zipfFit(df).count())
    }
    // em12: linear MMD — 1M then 4M synthetic 16-dim vectors per side;
    // the two-scan estimator's slope must be ~linear, nothing pairwise
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      def side(shift: Double) = spark.range(n).select(expr(
        s"transform(sequence(0, 15), j -> CAST(sin(id * 0.37 + j) + $shift AS FLOAT))")
        .as("embedding"))
      time(s"em12 x$m vecs=$n")(graft.ops.Embeddings.mmdRff(
        side(0.0), side(0.5), dim = 16, d = 8).count())
    }
    // bt01: 100 queries broadcast against a growing corpus — the
    // brute mining-batch shape (forced via annThreshold); wall grows
    // ~linearly with the scan. This is the control line for bt02.
    for (m <- Seq(1, 4)) {
      val n = 250000L * m
      def vecs(lim: Long) = spark.range(lim).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), j -> CAST(sin(id * 0.91 + j) AS FLOAT))")
          .as("embedding"))
      time(s"bt01 x$m corpus=$n")(graft.ops.Similarity.marginMine(
        vecs(100), vecs(n).filter(col("vec_id") >= 100), k = 4,
        threshold = 0.0, annThreshold = Long.MaxValue).count())
    }
    // bt02: same mining batch, DEFAULT auto-switch (corpus >> 50k →
    // LSH candidates). Wall must grow SUBLINEARLY vs bt01's brute
    // line — candidate counts track bucket population, not the corpus
    for (m <- Seq(1, 4)) {
      val n = 250000L * m
      def vecs(lim: Long) = spark.range(lim).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), j -> CAST(sin(id * 0.91 + j) AS FLOAT))")
          .as("embedding"))
      time(s"bt02 x$m corpus=$n")(graft.ops.Similarity.marginMine(
        vecs(100), vecs(n).filter(col("vec_id") >= 100), k = 4,
        threshold = 0.0).count())
    }
  }

  /** Round-14 probes: the knnClassify/hardNegatives ANN auto-switch
    * in its intended regime — the FULL-CORPUS screen (queries =
    * corpus) where the brute broadcast×scan is O(N²) by construction
    * (analytic control, mlScale's convention: the quadratic line is
    * unaffordable to probe at ×4 — that is exactly the point). The
    * ANN walls must grow ~linearly: bucket pair counts track bucket
    * population (bitsFor-scaled), never N².
    */
  private def r14Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // replicated REAL embeddings (mlScale's convention): synthetic
    // closed-form vectors live on a 1-D manifold, which collapses
    // random-hyperplane sign patterns into a handful of mega-buckets
    // and turns a SELF-join LSH probe into an n² pair explosion — the
    // exact pathology the maxBucket guard exists for, but useless as
    // a slope measurement. Replicas with ulp-shifts spread like the
    // real corpus.
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    for (mult <- Seq(5, 20)) {
      val corpus = (0 until mult).map(i =>
          base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            transform(col("embedding"),
              x => (x + lit(i * 0.001f)).cast("float")).as("embedding"),
            col("label")))
        .reduce(_ union _).repartition(32).cache()
      val n = corpus.count()
      time(s"ml04-ann-full x$mult n=$n")(graft.ops.Similarity.knnClassify(
        corpus, corpus, k = 5, annThreshold = 0, annTables = 2).count())
      time(s"hn02-ann-full x$mult n=$n")(graft.ops.Similarity.hardNegatives(
        corpus, corpus, k = 5, annThreshold = 0, annTables = 2).count())
      corpus.unpersist()
    }
  }

  /** Round-12 batch-2 probes: modularity over growing edge sets,
    * Bradley–Terry with a large item catalog, water-filling over a
    * million-source manifest, Mann–Whitney at tens of millions of
    * values, CKA moments over millions of vectors.
    */
  private def r12bScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // gr04: labels + modularity over a ×1/×4 power-law edge set —
    // one label-keyed aggregate; slope must track the edge scan
    for (m <- Seq(1, 4)) {
      val n = 2000000L * m
      val e0 = spark.range(n).select(
        concat(lit("n"), (col("id") * 7919) % (n / 10)).as("src"),
        concat(lit("n"), (col("id") * 104729) % (n / 10)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), concat(lit("c"),
          abs(hash(col("node"))) % 100).as("label"))
      time(s"gr04 x$m directed_edges=${2 * n}")(
        graft.ops.Graph.modularity(edges, labels).count())
    }
    // el01: 100k items, ×1/×4 comparisons — the raw stream collapses
    // into the pair matrix once; iterations stay item-keyed
    for (m <- Seq(1, 4)) {
      val n = 2500000L * m
      val cmp = spark.range(n).select(
        concat(lit("i"), (col("id") * 7919) % 100000).as("winner"),
        concat(lit("i"), (col("id") * 104729) % 100000).as("loser"))
        .filter(col("winner") =!= col("loser"))
      time(s"el01 x$m comparisons=$n items=100k")(
        graft.ops.Stats.bradleyTerry(cmp, iters = 4).count())
    }
    // mx05: a million-source manifest with power-law sizes — the
    // distinct-r frontier must come off the bucketed prefix sum, not
    // a driver-sized collect or a single-partition window
    for (m <- Seq(1, 4)) {
      val n = 250000L * m
      val ps = spark.range(n).select(concat(lit("s"), col("id")).as("source"),
        (pmod(col("id") * 7919, lit(9973)) + 1).as("tokens"))
      time(s"mx05 x$m sources=$n")(graft.ops.Curation.epochAllocation(
        ps, budgetRatio = 1.5, maxEpochs = 3.0).count())
    }
    // ev20: ×1/×4 tens-of-millions of 2-decimal values (heavy ties) —
    // the rank sums ride the bucketed prefix machinery
    for (m <- Seq(1, 4)) {
      val n = 10000000L * m
      val df = spark.range(n).select(
        (pmod(col("id") * 31, lit(10000)) / 100.0).as("v"),
        (col("id") % 2 === 0).as("a"))
      time(s"ev20 x$m values=$n")(
        graft.ops.Stats.mannWhitneyU(df, col("v"), col("a")).count())
    }
    // em13: CKA moments over ×1/×4 millions of 16+8-dim vectors —
    // ONE wide aggregate; wall must track the scan
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      val df = spark.range(n).select(
        expr("transform(sequence(0, 15), j -> CAST(sin(id * 0.37 + j) AS FLOAT))")
          .as("x"),
        expr("transform(sequence(0, 7), j -> CAST(sin(id * 0.91 + j) AS FLOAT))")
          .as("y"))
      time(s"em13 x$m vecs=$n")(graft.ops.Embeddings.linearCKA(
        df, col("x"), col("y"), dx = 16, dy = 8).count())
    }
  }

  /** Late session-5 probes: post-fix linkage scale, Bloom
    * decontamination growth, KMV overlap over large key sets.
    */
  private def r9gScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // er01 shape ×1/×4: n records over n/600 blocks (fixed 600-member
    // blocks ⇒ pair work ∝ records) with the dirtied-copy comparators
    for (m <- Seq(1, 4)) {
      val n = 15000L * m
      def side(dirty: Boolean) = {
        val base = spark.range(n).select(col("id"),
          (col("id") % (n / 600)).as("blk"),
          concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
            .as("name0"),
          (col("id") % 1000).cast("double").as("bal0"),
          (col("id") % 5).cast("string").as("seg0"))
        base.select(col("id"), col("blk"),
          (if (dirty) when(col("id") % 13 === 0, reverse(col("name0")))
            .when(col("id") % 7 === 0, concat(col("name0"), lit("x")))
            .otherwise(col("name0")) else col("name0")).as("name"),
          (if (dirty) when(col("id") % 11 === 0, col("bal0") + 1000.0)
            .otherwise(col("bal0")) else col("bal0")).as("bal"),
          (if (dirty) when(col("id") % 5 === 0, lit("OTHER"))
            .otherwise(col("seg0")) else col("seg0")).as("seg"))
      }
      time(s"er01 x$m records=$n")(graft.ops.Fuzzy.fellegiSunter(
        side(false), side(true), "id", "blk",
        Seq(graft.ops.Fuzzy.LinkField("name",
            levenshtein(col("a_name"), col("b_name"), 2) >= 0, 0.9, 0.001),
          graft.ops.Fuzzy.LinkField("bal",
            col("a_bal") === col("b_bal"), 0.95, 0.0005),
          graft.ops.Fuzzy.LinkField("seg",
            col("a_seg") === col("b_seg"), 0.9, 0.2)),
        Seq("name", "bal", "seg"), threshold = 5.0, maxBlock = 1000).count())
    }
    // dc02 ×1/×4: corpus of 200-token docs vs a 100-doc eval set;
    // the clean bulk must stay scan-speed
    for (m <- Seq(1, 4)) {
      val n = 50000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(199)),
          i => concat(lit("w"), pmod(col("id") * 101 + i * 13, lit(50000)))))
          .as("text"))
      val eval = docs.filter(col("doc_id") % (n / 100) === 0)
      time(s"dc02 x$m docs=$n")(graft.ops.Curation.bloomDecontaminate(
        docs, eval, n = 13).filter(col("contaminated")).count())
    }
    // kmv02 over 10M/40M-key sets (50% overlap by construction)
    for (m <- Seq(1, 4)) {
      val n = 10000000L * m
      val a = spark.range(n).toDF("v")
      val b = spark.range(n / 2, n + n / 2).toDF("v")
      time(s"kmv02 x$m keys=$n")(graft.ops.Sketches.kmvOverlap(
        a, col("v"), b, col("v"), k = 64).count())
    }
  }

  /** er01 cost attribution: join fan-out vs guard vs comparators. */
  private def erScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    val n = 15000L
    val side = spark.range(n).select(col("id"),
      (col("id") % 25).as("blk"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("name"))
    val a = side.select(col("id").as("a_id"), col("blk"), col("name").as("a_name"))
    val b = side.select(col("id").as("b_id"), col("blk"), col("name").as("b_name"))
    val j = a.join(b, "blk")
    time("join+count only")(j.count())
    time("join+equals")(j.filter(col("a_name") === col("b_name")).count())
    time("join+lev plain")(
      j.filter(levenshtein(col("a_name"), col("b_name")) <= 2).count())
    time("join+lev thresh")(
      j.filter(levenshtein(col("a_name"), col("b_name"), 2) >= 0).count())
    // rowGuarded is ops-private; approximate its shape with the same
    // window count + filter to attribute its cost
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))
    val g = b.withColumn("__bn", count(lit(1)).over(cnt))
      .filter(col("__bn") <= 1000).drop("__bn")
    time("guarded join+lev thresh")(a.join(g, "blk")
      .filter(levenshtein(col("a_name"), col("b_name"), 2) >= 0).count())
    time("guarded SHJ join+lev thresh")(a.join(g.hint("shuffle_hash"), "blk")
      .filter(levenshtein(col("a_name"), col("b_name"), 2) >= 0).count())
    val gm = g.localCheckpoint(true)
    time("guarded(materialized) join+lev thresh")(a.join(gm, "blk")
      .filter(levenshtein(col("a_name"), col("b_name"), 2) >= 0).count())
    time("guarded join only")(a.join(g, "blk").count())
    time("guarded join+equals")(a.join(g, "blk")
      .filter(col("a_name") === col("b_name")).count())
  }

  /** Focused registry-query timer (`runMain graft.ScaleCheck quick
    * <sfDir> <name,name,…>`): two passes per named SparkEntry query,
    * prints cold/warm/min seconds — for before/after deltas on a
    * targeted rewrite without paying for the full Bench sweep.
    */
  private def quickBench(spark: SparkSession, sfDir: String,
                         names: Seq[String]): Unit = {
    val qs = names.map(n => n -> SparkEntry.queries(n))
    for ((name, fn) <- qs) {
      def pass(): Double = {
        val t0 = System.nanoTime(); fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val c = pass(); val w = pass()
      println(f"[quick] $name cold=$c%.2f warm=$w%.2f min=${math.min(c, w)}%.2f")
    }
  }

  /** Round-15 probes (`runMain graft.ScaleCheck r15`):
    * gr06's composed community pipeline (label propagation once →
    * per-label stats → mixing scalar off the SAME frame) on the gr02
    * synthetic ring+hub-spokes graph, and tk05's BPE
    * fertility/compression aggregate over the grown document corpus —
    * each ×1 vs ×4 so the slope is on record, not just the constant.
    */
  private def r15Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    // gr06: ring + hub spokes (skewed degrees, 97 hubs). The pipeline
    // is 4 label-propagation rounds + communityStructure's ONE edge
    // scan; wall must stay ~linear in edges
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      val spokes = spark.range(n).select(col("id").as("src"),
        (col("id") % 97).as("dst"))
      val edges = ring.union(spokes)
      time(s"gr06 x$m edges=${2 * n}")(
        graft.ops.Graph.communityStructure(edges,
          graft.ops.Graph.labelPropagation(edges, rounds = 4)).count())
    }
    // tk05: merges trained ONCE on the base corpus (training is tk02's
    // own probe subject); the measured pass is the codegen'd encode +
    // one partial-aggregated groupBy whose shuffle carries only the
    // per-(lang, source) partials — slope must be scan-bound ~linear
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val merges = graft.ops.TextAnalysis.bpeTrain(base, numMerges = 12)
      .map(mg => (mg._2, mg._3))
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select(col("lang"), col("source"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"tk05 x$mult docs=$n")(
        graft.ops.TextAnalysis.bpeFertility(docs, merges).count())
      docs.unpersist()
    }
    // pp07: per-lang bigram LM fit + per-doc score + value-cardinality
    // terciles. The (lang, w1, w2) count shuffle dominates; the word
    // perturbation (z$i interleave) grows the bigram vocabulary with
    // the corpus like real text would. Slope must stay ~linear — the
    // boundary step rides the tiny distinct-(lang, score) frame and
    // must not show in the wall at all.
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"pp07 x$mult docs=$n")(
        graft.ops.Curation.perplexityBuckets(docs).count())
      docs.unpersist()
    }
    // tx19: KN perplexity — tx12's probed shape plus the two
    // continuation-count aggregates and one extra same-key join, all
    // riding the persisted (w1,w2) frame; slope must match tx12's
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + i * 10000000L).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"tx19 x$mult docs=$n")(
        graft.ops.TextAnalysis.knBigramLogppl(docs).count())
      docs.unpersist()
    }
    // pp09's NEW cost beyond the probed CC (dd06/cc probes): the
    // per-cluster running-offset window. 1000-doc clusters — far
    // larger than any real near-dup component — so the window sort is
    // stress-bounded; cluster count scales with the corpus. Must stay
    // ~linear: the window partitions by cluster, never the corpus.
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % (n / 1000L)).as("cluster"),
        (col("id") % 97 + 20).as("tok"))
      // aggregate OVER the window's outputs — a bare count() would let
      // Catalyst prune the running-offset window entirely
      time(s"pp09-pack x$m docs=$n")(
        graft.ops.Curation.packSequences(
          docs.withColumn("text", lit("")), col("cluster"),
          window = 2048, tokens = col("tok"))
          .agg(sum(col("pack_id") + col("offset_in_pack"))).head.getLong(0))
    }
  }

  /** Round-17 probes (`runMain graft.ScaleCheck r17`):
    *
    * 1. pp17's learned-tokenizer landing tail: vocab trained ONCE on
    *    the base corpus (training slope is tk06's own r16 probe), the
    *    measured pass is unigram ENCODE (native Viterbi expression at
    *    scan speed) -> broadcast-map id lookup -> the pp16 packer —
    *    must stay ~linear in total tokens at x4.
    * 2. Curation.rankIds — the global-ordinal helper that replaced
    *    unpartitioned windows: one range-partitioned sort +
    *    zipWithIndex; slope must be the sort's ~n log n, never a
    *    single-task serialization (which would show superlinear wall
    *    and one straggler).
    */
  private def r17Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val vocab = graft.ops.TextAnalysis.unigramTrain(base, vocabSize = 48,
      rounds = 2, maxPieceLen = 4).map(v => (v._2, v._4))
    val pieceId = vocab.map(_._1).sorted.zipWithIndex
      .map { case (pc, i) => (pc, i + 1) }.toMap
    for (m <- Seq(1, 4)) {
      val docs = (0 until m).map(i => base.select(
          (col("doc_id") * m + i).as("doc_id"), col("text")))
        .reduce(_ union _)
      val mlit = typedLit(pieceId)
      val ids = docs.select(col("doc_id"),
        transform(graft.functions.TextFunctions.unigram_encode(
          col("text"), vocab), pc => element_at(mlit, pc)).as("ids"))
      time(s"pp17-encode-pack x$m")(
        graft.ops.Curation.packTokenSequences(ids,
            pmod(col("doc_id"), lit(16)), col("ids"), seqLen = 2048)
          .agg(sum(col("n_ids"))).head.getLong(0))
    }
    for (m <- Seq(1, 4)) {
      val n = 2000000L * m
      val df = spark.range(n).select(
        md5(col("id").cast("string")).as("k"), col("id").as("v"))
      time(s"rankIds x$m n=$n")(
        graft.ops.Curation.rankIds(df, "rank", col("k").asc)
          .agg(max(col("rank"))).head.getLong(0))
    }
    // bl02's MultiMatch: the wall must be ~flat in PHRASE COUNT (one
    // automaton pass either way) — the whole point vs the per-phrase
    // form whose cost is O(phrases x text)
    for (nPhrases <- Seq(1000, 100000)) {
      val phrases = (1 to nPhrases).map(i => s"needle$i haystack$i")
      time(s"multi-match phrases=$nPhrases")(
        graft.ops.Curation.blocklistFilterLarge(base, phrases, maxHits = 0)
          .filter(col("keep")).count())
    }
  }

  /** Round-16 probes (`runMain graft.ScaleCheck r16`):
    * 1. the WHOLE pp02 training-prep composition (exact dedup →
    *    13-gram decontamination → stratified sample → leakage-safe
    *    split → stats) at ×1/×4 replicas — the per-stage probes are
    *    on record (dd01/dc01/sp01/sp02); this is the cross-stage
    *    number: does the full path hold its slope, with no stage
    *    recomputed (the companion plan assertion lives in
    *    PlanQualitySpec "pp02 composed").
    * 2. tk06's unigram-LM EM training — the seed substring pass and
    *    the Viterbi E-step both ride the DISTINCT-WORDS frame, so the
    *    wall must grow with the vocabulary (sublinear in docs), while
    *    the one corpus-sized pass (word counting) stays scan-bound.
    * 3. pp10's shard plan — a distributed range sort + the bucketed
    *    prefix sum + integer boundary math; must track Spark's native
    *    sort slope (~linear).
    */
  private def r16Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    // pp02 composed: replicas shift doc_id (new md5 draws, new eval
    // membership) and perturb text (new grams/dedup keys) — each
    // replica behaves like genuinely new corpus, so candidate sets
    // and gram tables grow with the input like real data
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"), col("source"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"pp02-composed x$mult docs=$n")(
        graft.queries.CurationOps.pp02From(docs).count())
      docs.unpersist()
    }
    // tk06: unigram EM — distinct words grow with the z$i interleave,
    // so the vocab-frame passes are exercised, not just the scan
    for (mult <- Seq(5, 20)) {
      val docs = (0 until mult).map(i =>
          base.select((col("doc_id") + i * 10000000L).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"tk06 x$mult docs=$n")(
        graft.ops.TextAnalysis.unigramTrain(docs, vocabSize = 48,
          rounds = 2, maxPieceLen = 4).size.toLong)
      docs.unpersist()
    }
    // pp10: synthetic corpus so the doc count is the only variable;
    // aggregate over the plan's outputs so nothing prunes away
    for (m <- Seq(1, 4)) {
      val n = 1000000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % 97 + 20).as("tok"), lit("").as("text"))
      time(s"pp10-plan x$m docs=$n")(
        graft.ops.Curation.shardPlan(docs, col("doc_id"), "probe",
            budgetTokens = 1L << 20, tokens = col("tok"))
          .agg(sum(col("shard") + col("start_tok") % 7)).head.getLong(0))
    }
    // st12: per-TRIGGER cost of the streaming shard landing must be
    // independent of how much has already landed (the guard file
    // carries the watermarks; nothing rescans history) — four equal
    // 500k-doc triggers, walls must stay flat across batch index
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("st12probe").toString
      for (b <- 0 to 3) {
        val docs = spark.range(500000L).select(
          (col("id") + b * 1000000L).as("doc_id"),
          lit("a b c d e f g h").as("text"))
        time(s"st12-trigger b$b docs=500000") {
          graft.streaming.CorpusStream.landShardBatch(docs, b.toLong,
            s"$tmp/landing", col("doc_id"), "probe", 1L << 16)
          500000L
        }
      }
    }
    // pp16: the sequence packer is a token-level explode + ONE
    // (shard, seq_id) shuffle — must be ~linear in total tokens
    for (m <- Seq(1, 4)) {
      val n = 200000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % 16).as("sh"),
        transform(sequence(lit(1), lit(64)),
          x => (x % 97).cast("int")).as("ids"))
      time(s"pp16-pack x$m docs=$n toks=${64 * n}")(
        graft.ops.Curation.packTokenSequences(docs, col("sh"),
            col("ids"), seqLen = 2048)
          .agg(sum(col("n_ids"))).head.getLong(0))
    }
    // pp14: erasure = one 2-column discovery scan (linear in landing)
    // + per-affected-shard rewrites (flat in landing size) — the
    // two-term cost: erase the SAME 10 docs from a ×1 vs ×4 landing
    for (m <- Seq(1, 4)) {
      val n = 200000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", lit("a"), lit("b"), lit("c")).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory(s"pp14x$m").toString
      graft.ops.Curation.shardMaterialize(docs, tmp,
        col("doc_id"), "probe", budgetTokens = 1L << 14).count()
      import spark.implicits._
      val victims = (1L to 10L).map(_ * 1000L).toDF("doc_id")
      time(s"pp14-erase x$m landing=$n")(
        graft.ops.Curation.eraseFromLanding(spark, tmp, victims).count())
    }
    // pp13: compaction = one (shard, slot) repartition + rewrite —
    // must track the shuffle+write slope (~linear). The landing is
    // materialized once per size (its cost excluded from the timing).
    for (m <- Seq(1, 4)) {
      val n = 200000L * m
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", lit("a"), lit("b"), lit("c")).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory(s"pp13x$m").toString
      graft.ops.Curation.shardMaterialize(docs, s"$tmp/landing",
        col("doc_id"), "probe", budgetTokens = 1L << 14).count()
      time(s"pp13-compact x$m docs=$n")(
        graft.ops.Curation.compactLanding(spark, s"$tmp/landing",
          s"$tmp/compact", filesPerShard = 1).count())
    }
  }

  /** Round-18 probes (`runMain graft.ScaleCheck r18`):
    * 1. dd16 exactSubstringSpans + dd17 dropExactSubstrings at ×1/×4
    *    doc replicas — the cost center is the per-token gram-hash
    *    shuffle (one 32-byte row per token), so both walls must track
    *    token count ~linearly; replicas are woven (z<i> tokens) so
    *    their grams stay distinct. One cached corpus times both.
    * 2. pp19 epochShuffledBatches — the id-only rank scan grows with
    *    the landing but the payload read is window-bounded: a 64-step
    *    window over a ×8 landing must cost far less than 8× the ×1
    *    window (the broadcast-index + isin-pushdown contract).
    * 3. pp21 writeEpochIndex/readEpochWindow over the ×8 landing —
    *    one index write, then 8 window reads via the index vs 8
    *    one-shot rank reads: the index path must win (and the gap
    *    widens with landing size — one-shot re-ranks per read).
    * 4. st13 landTokenizedBatch — per-trigger cost must be
    *    batch-sized, independent of how many batches already landed
    *    (the guard carries the state; nothing rescans history).
    */
  private def r18Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label rows=$r%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    for (m <- Seq(1, 4)) {
      val docs = (0 until m).map(i =>
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            regexp_replace(col("text"), " ", s" z$i ").as("text")))
        .reduce(_ union _).repartition(32).cache()
      val n = docs.count()
      time(s"dd16 x$m ($n docs) exactSubstringSpans")(
        graft.ops.Dedup.exactSubstringSpans(docs, minSpan = 16)
          .count())
      time(s"dd17 x$m ($n docs) dropExactSubstrings")(
        graft.ops.Dedup.dropExactSubstrings(docs, minSpan = 16)
          .agg(sum(length(col("clean_text")))).head.getLong(0))
      docs.unpersist()
    }
    var landing8 = ""
    for (m <- Seq(1, 8)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"r18-pp19-$m").toString
      if (m == 8) landing8 = tmp
      val docs = spark.range(0, 20000L * m).select(col("id").as("doc_id"),
        transform(sequence(lit(1), lit(64)),
          x => pmod(x.cast("bigint") * (col("id") + 1L) * 48271L,
            lit(999983L)).cast("int")).as("ids"))
      graft.ops.Curation.tokenizedLanding(docs, tmp,
        pmod(col("doc_id"), lit(16)), col("ids"), seqLen = 64).count()
      time(s"pp19 x$m window-read 64 steps")(
        graft.ops.Curation.epochShuffledBatches(spark, tmp, "e1",
          fromStep = 100L, nSteps = 64L).count())
    }
    // pp21 amortization over the ×8 landing just written: after ONE
    // index write, a window read through the index must beat the
    // one-shot reader (which re-ranks the landing per call) — the
    // contract that matters at thousands of window reads per epoch
    locally {
      val idxDir = java.nio.file.Files.createTempDirectory("r18-pp21").toString
      var t0 = System.nanoTime()
      val n = graft.ops.Curation.writeEpochIndex(spark, landing8,
        "e1", s"$idxDir/idx")
      println(f"[scale] pp21 index-write n=$n%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      t0 = System.nanoTime()
      for (w <- 0 until 8)
        graft.ops.Curation.readEpochWindow(spark, landing8,
          s"$idxDir/idx", w * 1000L, 64L).count()
      val idxSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      for (w <- 0 until 8)
        graft.ops.Curation.epochShuffledBatches(spark, landing8,
          "e1", w * 1000L, 64L).count()
      val oneShotSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] pp21 8 window-reads: via-index=${idxSec}%.1f s " +
        f"one-shot=${oneShotSec}%.1f s")
    }
    val dir = java.nio.file.Files.createTempDirectory("r18-st13").toString + "/landing"
    val batchDocs = spark.range(0, 20000L).select(col("id").as("doc_id"),
      transform(sequence(lit(1), lit(64)), x => x.cast("int")).as("ids"))
      .cache()
    batchDocs.count()
    for (b <- 0 to 4) {
      val t0 = System.nanoTime()
      graft.streaming.CorpusStream.landTokenizedBatch(batchDocs
          .select((col("doc_id") + lit(b * 1000000L)).as("doc_id"), col("ids")),
        b.toLong, dir, pmod(col("doc_id"), lit(16)), col("ids"), seqLen = 64)
      println(f"[scale] st13 batch=$b sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    batchDocs.unpersist()
  }

  /** r19 probes: (1) Hamming-blocking bucket-population histograms
    * across the (numSlices, sliceArity) config ladder — the judge's
    * r18 ask #3: arity > 1 exercised at a scale where arity 1's
    * bucket universe is hopeless; (2) dd17's gram-hash shuffle at ×20
    * with SHUFFLE BYTES recorded alongside wall (ask #7) — the
    * join-back's intermediate is the thing that must stay linear.
    */
  private def r19Scale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._

    // ---- (1) hamming blocking: histogram + the config that works ----
    // corpus shape mirrors a real near-dup population: ~99% singleton
    // docs (uniform 64-bit signatures), 1% in planted 4-member
    // clusters whose members flip 0–3 random bits (pair hamming ≤ 6)
    def sigCorpus(n: Long): org.apache.spark.sql.DataFrame = {
      val nClusters = n / 100 / 4 // 1% of docs, 4 members each
      val sigExpr = (0 until 3).foldLeft(
        // cluster members share a base; singletons are their own base
        s"xxhash64(cast(case when id < ${nClusters * 4} then floor(id/4) " +
          s"else id + 1000000000 end as bigint))") { (acc, j) =>
        s"(case when id < ${nClusters * 4} and id % 4 > $j then ($acc) ^ " +
          s"shiftleft(cast(1 as bigint), " +
          s"cast(pmod(xxhash64(id, $j), 64) as int)) else ($acc) end)"
      }
      spark.range(n).select(col("id").as("doc_id"),
        expr(sigExpr).as("sig")).repartition(32)
    }
    for (n <- Seq(60000L, 240000L)) {
      val sigs = sigCorpus(n).cache()
      sigs.count()
      for ((slices, arity) <- Seq((16, 1), (16, 2), (8, 2))) {
        val w = 64 / slices
        val mask = (1L << w) - 1
        val combos = (0 until slices).combinations(arity).toSeq
        val keys = combos.map(c => concat((lit(c.mkString("_") + "|") +:
          c.flatMap(i => Seq(shiftright(col("sig"), i * w)
            .bitwiseAND(lit(mask)).cast("string"), lit(".")))): _*))
        val h = sigs.select(explode(array(keys: _*)).as("k"))
          .groupBy("k").count()
          .agg(count(lit(1)).as("buckets"), avg("count").as("avg"),
            expr("percentile_approx(count, 0.99)").as("p99"),
            max("count").as("max"),
            sum(when(col("count") > 10000, 1).otherwise(0)).as("over_default_cap"))
          .head
        println(f"[scale] hamming n=$n%d slices=$slices arity=$arity " +
          f"buckets=${h.getLong(0)}%d avg=${h.getDouble(1)}%.1f " +
          f"p99=${h.getLong(2)}%d max=${h.getLong(3)}%d " +
          f"buckets_over_10k=${h.getLong(4)}%d")
      }
      // the config the ladder selects at this n: 8×8-bit slices,
      // arity 2 (exact at radius 6 by pigeonhole) — run it for real
      val t0 = System.nanoTime()
      val found = graft.ops.Dedup.hammingPairs64(sigs, col("sig"),
        maxHamming = 6, maxBucket = 10000, numSlices = 8,
        sliceArity = 2).count()
      val drops = graft.ops.OpsMetrics.lastDrops("graft.hamming.drops")
        .map(_._1).getOrElse(-1L)
      val planted = n / 100 / 4 * 6 // C(4,2) pairs per planted cluster
      println(f"[scale] hamming n=$n%d slices=8 arity=2 pairs=$found%d " +
        f"(planted=$planted%d) dropped_buckets=$drops%d " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      sigs.unpersist()
    }

    // ---- (1b) pk03 doc-span sidecar: cheaper than the packing ----
    for (m <- Seq(1, 8)) {
      val docs = spark.range(0, 20000L * m).select(col("id").as("doc_id"),
        transform(sequence(lit(1), pmod(col("id"), lit(200)) + 8),
          x => x.cast("int")).as("ids"))
      val t0 = System.nanoTime()
      val packed = graft.ops.Curation.packTokenSequences(docs,
        pmod(col("doc_id"), lit(16)), col("ids"), seqLen = 128).count()
      val packSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val spans = graft.ops.Curation.packDocSpans(docs,
        pmod(col("doc_id"), lit(16)), col("ids"), seqLen = 128).count()
      val spanSec = (System.nanoTime() - t1) / 1e9
      println(f"[scale] pk03 x$m pack=$packed%d seqs ${packSec}%.1f s, " +
        f"spans=$spans%d rows ${spanSec}%.1f s (doc-granular sidecar)")
    }

    // ---- (2) dd17 ×20 with shuffle-bytes slope ----
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      for (m <- Seq(1, 4, 20)) {
        val docs = (0 until m).map(i =>
            base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
              regexp_replace(col("text"), " ", s" z$i ").as("text")))
          .reduce(_ union _).repartition(32).cache()
        val n = docs.count()
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        val out = graft.ops.Dedup.dropExactSubstrings(docs, minSpan = 16)
          .agg(sum(length(col("clean_text")))).head.getLong(0)
        // listener events are async; let the bus drain (counter is
        // stable once no stage has completed for a beat)
        var prev = -1L
        while (shuffleBytes.get() != prev) {
          prev = shuffleBytes.get(); Thread.sleep(300)
        }
        // diagnose the join strategy the hits join-back picked: the
        // dup-hash side outgrows autoBroadcastJoinThreshold somewhere
        // between ×4 and ×20 and the plan flips BHJ → SMJ (one extra
        // full gram-stream shuffle, a one-time ×~2 step in bytes, NOT
        // a slope change)
        val spanPlan = graft.ops.Dedup
          .exactSubstringSpans(docs, minSpan = 16)
          .queryExecution.executedPlan.toString
        val joinKind =
          if (spanPlan.contains("SortMergeJoin")) "SMJ"
          else if (spanPlan.contains("BroadcastHashJoin")) "BHJ"
          else "other"
        println(f"[scale] dd17 x$m ($n%d docs) chars=$out%d " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
          f"shuffleMB=${shuffleBytes.get() / 1e6}%.1f hitsJoin=$joinKind")
        docs.unpersist()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/many_rows.csv")
    val spark = GraftSession.build()

    if (path == "quick") {
      quickBench(spark, args(1), args(2).split(',').toSeq)
      spark.stop()
      return
    }
    if (path == "dedup") {
      dedupScale(spark)
      spark.stop()
      return
    }
    if (path == "cc") {
      ccScale(spark)
      spark.stop()
      return
    }
    if (path == "pq") {
      pqScale(spark)
      spark.stop()
      return
    }
    if (path == "ml") {
      mlScale(spark)
      spark.stop()
      return
    }
    if (path == "text") {
      textScale(spark)
      spark.stop()
      return
    }
    if (path == "r9") {
      r9Scale(spark)
      spark.stop()
      return
    }
    if (path == "r9b") {
      r9bScale(spark)
      spark.stop()
      return
    }
    if (path == "hh") {
      hhScale(spark)
      spark.stop()
      return
    }
    if (path == "em") {
      emScale(spark)
      spark.stop()
      return
    }
    if (path == "r9c") {
      r9cScale(spark)
      spark.stop()
      return
    }
    if (path == "r9d") {
      r9dScale(spark)
      spark.stop()
      return
    }
    if (path == "r9e") {
      r9eScale(spark)
      spark.stop()
      return
    }
    if (path == "r9f") {
      r9fScale(spark)
      spark.stop()
      return
    }
    if (path == "er") {
      erScale(spark)
      spark.stop()
      return
    }
    if (path == "r9g") {
      r9gScale(spark)
      spark.stop()
      return
    }
    if (path == "r10") {
      r10Scale(spark)
      spark.stop()
      return
    }
    if (path == "r11") {
      r11Scale(spark)
      spark.stop()
      return
    }
    if (path == "r11b") {
      r11bScale(spark)
      spark.stop()
      return
    }
    if (path == "r12") {
      r12Scale(spark)
      spark.stop()
      return
    }
    if (path == "r14") {
      r14Scale(spark)
      spark.stop()
      return
    }
    if (path == "r12b") {
      r12bScale(spark)
      spark.stop()
      return
    }
    if (path == "r15") {
      r15Scale(spark)
      spark.stop()
      return
    }
    if (path == "r16") {
      r16Scale(spark)
      spark.stop()
      return
    }
    if (path == "r17") {
      r17Scale(spark)
      spark.stop()
      return
    }
    if (path == "r18") {
      r18Scale(spark)
      spark.stop()
      return
    }
    if (path == "r19") {
      r19Scale(spark)
      spark.stop()
      return
    }

    var t0 = System.nanoTime()
    val ing = Ingest.csv(spark, path)
    val inferSec = (System.nanoTime() - t0) / 1e9
    println(f"[scale] inferred ${ing.colTypes.map(_.displayName).mkString(",")} in $inferSec%.1f s")

    t0 = System.nanoTime()
    val n = ing.untyped.count()
    val countSec = (System.nanoTime() - t0) / 1e9

    t0 = System.nanoTime()
    val out = java.nio.file.Files.createTempDirectory("scale").toString
    ing.typed.write.mode("overwrite").parquet(out)
    val typedSec = (System.nanoTime() - t0) / 1e9

    println(f"[scale] rows=$n%d infer=$inferSec%.1fs count=$countSec%.1fs typed-write=$typedSec%.1fs")
    println(f"[scale] ingest+infer throughput ${n / inferSec}%.0f rows/s, typed ${n / typedSec}%.0f rows/s")

    // JSON scale commitment: 1M top-level values (many-json-numbers shape)
    args.drop(1).headOption.foreach { jsonPath =>
      t0 = System.nanoTime()
      val jing = Ingest.json(spark, jsonPath)
      val jn = jing.untyped.count()
      val jSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] json values=$jn%d in $jSec%.1fs (${jn / jSec}%.0f values/s), type=${jing.colTypes.head.displayName}")
    }
    spark.stop()
  }
}
