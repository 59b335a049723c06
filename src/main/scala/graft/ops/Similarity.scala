package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (Array[Float]).
  *
  * - Brute-force cosine top-k: the exact baseline — a broadcast of the
  *   (small) query set against the full corpus; one pass, no N² when
  *   |queries| ≪ |corpus|. Dot products are pure column expressions
  *   (zip_with + aggregate → whole-stage codegen, no UDFs).
  * - LSH ANN (random-hyperplane sign bits): the scale path. The bit
  *   count is derived from the corpus size (`bitsFor`) so expected
  *   bucket population stays ~constant as the corpus grows — a FIXED
  *   bit count is a quadratic trap (16 buckets over a billion vectors
  *   degenerates to all-pairs/16). Multiple independent hash tables
  *   recover the recall that more bits cost. Candidates are generated
  *   with the same group-collect pattern Dedup uses: one shuffle on
  *   (table, bucket), pairs exploded inside each bounded bucket —
  *   bucketing and norms are computed ONCE (a self-join would recompute
  *   both sides; Spark's exchange reuse does not fire across AQE
  *   stages).
  */
object Similarity {

  /** Dot product of two float-array columns (float products, double
    * accumulation, array order — matched exactly by the oracles).
    * Uses the native codegen FloatDotProduct expression. The composed
    * zip_with/aggregate fallback computes the identical value.
    */
  def dot(x: Column, y: Column): Column =
    graft.functions.VectorFunctions.float_dot(x, y)

  /** Composed higher-order-function form (no custom expression). */
  def dotHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)

  /** cos(a, b) as a column expression over two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))

  /** Cosine with precomputed norms: one dot per pair instead of three
    * (the per-vector norms are computed once per ROW, not once per
    * PAIR — same arithmetic, so results are bit-identical).
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / normA / normB

  /** Scale-safe hyperplane count: enough bits that the EXPECTED bucket
    * population is ~targetBucket (2^bits ≈ n / targetBucket), clamped
    * to [4, 24]. At n=500 this is 4 bits; at 10⁹ vectors it is 24 —
    * the in-bucket pair count stays bounded instead of growing O(n²).
    */
  def bitsFor(n: Long, targetBucket: Int = 32): Int =
    math.min(24, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt))

  /** Metadata-filtered exact vector search (sim07) — the production
    * serving pattern (pgvector / vector-DB "filtered ANN"): apply the
    * metadata predicate BEFORE scoring, so top-k is computed over the
    * eligible subset only. PRE-filtering is the correct semantics —
    * post-filtering an unfiltered top-k silently returns < k (or
    * zero) results whenever the filter is selective, the classic
    * serving bug. Because the predicate lands on the corpus scan
    * (pushed to parquet — plan-guarded), selectivity REDUCES work
    * instead of adding a pass; at 100 TB this is the difference
    * between scanning a partition-pruned slice and scoring the world.
    */
  def filteredTopK(corpus: DataFrame, predicate: org.apache.spark.sql.Column,
                   queries: DataFrame, k: Int): DataFrame =
    bruteForceTopK(corpus.filter(predicate), queries, k)

  /** Exact top-k neighbors for each query vector (excluding itself).
    * Ranking happens on the ROUNDED similarity with id tie-breaks so
    * results are stable across engines and runs.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      sqrt(dot(col("embedding"), col("embedding"))).as("q_norm")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("n_norm"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosinePre(col("q_emb"), col("embedding"), col("q_norm"), col("n_norm")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Margin-based candidate mining (bt01): for each query vector, the
    * best corpus match by the MARGIN criterion — cos(x,y) divided by
    * the mean of the two sides' average top-k similarities
    * (Artetxe & Schwenk 2019's ratio margin, the standard for bitext
    * mining and cross-corpus pair harvesting). Absolute-cosine
    * thresholds fail on hubs (vectors similar to everything) and
    * sparse regions (nothing is close, but the best match is still
    * right); the margin normalizes by each vector's own neighborhood
    * density, so "1.2" means the same thing everywhere in the space.
    * Emits one row per query whose best margin clears `threshold`.
    *
    * Scale shape: with a small mining batch the broadcast×scan GATE
    * form runs (pairs = queries × corpus, query side broadcast —
    * sim01's shape). Above `annThreshold` corpus rows the pair
    * generation auto-switches to LSH-bucketed cross-side candidates
    * (the labelAgreement idiom): both sides bucket under the SAME
    * random hyperplanes, pairs are generated only ACROSS sides with
    * the native CrossPairs loop behind the maxBucket guard, so a
    * full-corpus mining run never scans queries × corpus. The margin
    * math from `scored` down is identical on both paths — top-k
    * averages are then over the CANDIDATE neighborhood (standard for
    * ANN margin mining: the margin denominator needs neighborhood
    * STATISTICS, and the top of each list is exactly what LSH
    * preserves). Every window partitions per query/candidate id —
    * bounded by the candidate-list size, never the corpus. Cosines
    * round at 6 and margins at 4 BEFORE the argmax, so the pick
    * replays bit-identically across engines. Force either path in
    * tests via annThreshold = Long.MaxValue / 0.
    */
  def marginMine(queries: DataFrame, corpus: DataFrame, k: Int = 4,
                 threshold: Double = 1.0, annThreshold: Long = 50000,
                 annTables: Int = 2, nBits: Int = 0,
                 maxBucket: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val corpusN = corpus.count()
    val scored =
      if (corpusN <= annThreshold) {
        val qa = broadcast(queries.select(col("vec_id").as("id_a"),
          col("embedding").as("ea"),
          sqrt(dot(col("embedding"), col("embedding"))).as("na")))
        corpus.select(col("vec_id").as("id_b"),
            col("embedding").as("eb"),
            sqrt(dot(col("embedding"), col("embedding"))).as("nb"))
          .crossJoin(qa)
          .select(col("id_a"), col("id_b"),
            round(cosinePre(col("ea"), col("eb"), col("na"), col("nb")), 6)
              .as("cos"))
      } else annMarginCandidates(queries, corpus, nBits, annTables,
        maxBucket, corpusN)
    marginFrom(scored, k, threshold)
  }

  /** LSH cross-side candidates for marginMine's ANN path: queries and
    * corpus bucket under the same hyperplanes (bit count scaled to the
    * corpus when nBits = 0); pairs come only from shared buckets via
    * the native CrossPairs loop — in-bucket query-query and corpus-
    * corpus members pay no pair cost. Multi-table duplicates collapse
    * on distinct (the rounded cosine is deterministic). Pathological
    * buckets drop behind maxBucket, counted at graft.margin_mine.drops.
    * Cosine operand order matches the brute path exactly (query side
    * first) — division is not bit-commutative and the oracle replays it.
    */
  private def annMarginCandidates(queries: DataFrame, corpus: DataFrame,
                                  nBits: Int, tables: Int,
                                  maxBucket: Int, corpusN: Long): DataFrame = {
    // corpusN threaded from marginMine's auto-switch count — one job
    val bits = if (nBits > 0) nBits else bitsFor(corpusN)
    val dim = corpus.select(size(col("embedding"))).head.getInt(0)
    val side = "__mm_q"
    require(!queries.columns.contains(side), s"column $side would be clobbered")
    val tagged = queries.select(col("vec_id"), col("embedding"), lit(1).as(side))
      .unionByName(corpus.select(col("vec_id"), col("embedding"), lit(0).as(side)))
    val bucketed = tagged.select(col("vec_id"), col(side), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("embedding"), dim, bits, t)): _*)).as(Seq("tbl", "bucket")))
    val buckets = OpsMetrics.guardedBySize(
      bucketed.groupBy(col("tbl"), col("bucket"))
        .agg(
          collect_set(when(col(side) === 1,
            struct(col("vec_id"), col("embedding"), col("norm")))).as("ma"),
          collect_set(when(col(side) === 0,
            struct(col("vec_id"), col("embedding"), col("norm")))).as("mb")),
      size(col("ma")) + size(col("mb")),
      maxBucket, "graft.margin_mine.drops")
      .filter(size(col("ma")) > 0 && size(col("mb")) > 0)
    val cand = buckets
      .select(explode(graft.functions.ArrayFunctions.cross_pairs(
        col("ma"), col("mb"))).as("p"))
      .select(col("p.a.vec_id").as("id_a"), col("p.b.vec_id").as("id_b"),
        round(cosinePre(col("p.a.embedding"), col("p.b.embedding"),
          col("p.a.norm"), col("p.b.norm")), 6).as("cos"))
    if (tables > 1) cand.distinct() else cand
  }

  /** The ratio-margin argmax over a candidate frame (id_a, id_b, cos):
    * avg top-k per side, margin = cos / mean(ma, mb) rounded at 4,
    * best candidate per id_a clearing `threshold`. Shared verbatim by
    * the brute and ANN paths — windows partition per id, bounded by
    * candidate-list sizes.
    */
  private def marginFrom(scored0: DataFrame, k: Int,
                         threshold: Double): DataFrame = {
    // persisted: the candidate frame feeds BOTH per-side top-k
    // averages AND the margin join — unpersisted, the candidate
    // generation (brute crossJoin or LSH bucketing) executes three
    // times. The result plan still depends on it, so it cannot be
    // unpersisted inline (basketLift's convention — the bench/caller
    // cleans between queries).
    val scored = scored0.persist()
    val wA = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b").asc)
    val wB = Window.partitionBy(col("id_b"))
      .orderBy(col("cos").desc, col("id_a").asc)
    val mA = scored.withColumn("r", row_number().over(wA))
      .filter(col("r") <= k).groupBy(col("id_a")).agg(avg(col("cos")).as("ma"))
    val mB = scored.withColumn("r", row_number().over(wB))
      .filter(col("r") <= k).groupBy(col("id_b")).agg(avg(col("cos")).as("mb"))
    val marg = scored.join(mA, "id_a").join(mB, "id_b")
      .withColumn("margin",
        round(col("cos") / ((col("ma") + col("mb")) / 2), 4))
    val wBest = Window.partitionBy(col("id_a"))
      .orderBy(col("margin").desc, col("id_b").asc)
    marg.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1 && col("margin") >= threshold)
      .select(col("id_a").as("query_id"), col("id_b").as("pair_id"),
        col("cos").as("cos_sim"), col("margin"))
  }

  /** kNN majority-vote classifier (ml03/ml04): predict each query's
    * label from its k nearest corpus vectors — the companion to ml01's
    * agreement SCREEN (that one flags suspicious labels; this one
    * actually predicts, which is what a semi-supervised labeling pass
    * or a retrieval-based baseline wants). Vote ties break on label
    * ascending.
    *
    * Scale shape (labelAgreement's auto-switch, implemented not just
    * promised): the broadcast×scan exact ranking (bruteForceTopK) is
    * O(Q·N) with Q broadcast, so the trigger is the PRODUCT form —
    * ANN when Q·N > annThreshold² (labelAgreement's N² trigger at
    * Q = N) or when Q alone exceeds annThreshold (an unbroadcastable
    * query side). On the ANN path the neighbor lists come from
    * lshTopK's bucketed candidates (corpus-scaled bit count,
    * maxBucket-guarded, never all-pairs), semi-joined to the query
    * ids — the intended regime is the full-corpus screen (Q ≈ N),
    * where every bucket pair serves a query; queries must be corpus
    * members (they must be anyway: the reported `label`/`correct`
    * join on the corpus label frame). Approximate the same two ways
    * as ml02: neighbors come from shared buckets only, and a query
    * alone in its buckets gets no row. The vote below is identical on
    * both paths. Force either path in tests via annThreshold =
    * Long.MaxValue / 0.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame,
                  k: Int = 5, annThreshold: Long = 50000,
                  annTables: Int = 4): DataFrame = {
    val labels = corpus.select(col("vec_id"), col("label"))
    val (corpusN, queriesN) = (corpus.count(), queries.count())
    val useAnn = queriesN > annThreshold ||
      (corpusN > annThreshold &&
        corpusN.toDouble * queriesN > annThreshold.toDouble * annThreshold)
    val topk =
      if (!useAnn) bruteForceTopK(corpus, queries, k)
      else {
        // dim from one row — bounded driver action, same as count;
        // nBits from the already-materialized corpusN so the switch's
        // count is the only full-corpus count (lshTopK with nBits=0
        // would re-run corpus.count())
        val dim = corpus.select(size(col("embedding"))).head.getInt(0)
        lshTopK(corpus, dim, k, nBits = bitsFor(corpusN), tables = annTables)
          .join(queries.select(col("vec_id").as("query_id")), "query_id")
      }
    val votes = topk
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    votes.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("label")), "query_id")
      .select(col("query_id").as("vec_id"), col("label"),
        col("n_label").as("pred"), col("votes"),
        (col("n_label") === col("label")).as("correct"))
  }

  /** Hard-negative mining for contrastive/metric-learning pipelines:
    * each query's top-k most-similar corpus vectors whose `label`
    * DIFFERS from the query's — the near-miss negatives that make
    * triplet/InfoNCE training converge (easy random negatives carry
    * no gradient). The broadcast×scan shape is O(Q·N) with Q
    * broadcast, so the auto-switch is the PRODUCT form (ml04's
    * trigger): ANN when Q·N > annThreshold² or Q alone exceeds
    * annThreshold. On the ANN path (full-corpus mining, Q ≈ N)
    * candidates come from the shared LSH buckets (corpus-scaled bit
    * count, maxBucket-guarded, never all-pairs), the label-differs
    * filter lands on the candidate set BEFORE ranking, and queries
    * must be corpus members. Approximate the ml02/ml04 two ways:
    * bucket-local neighbors only, and a query alone in its buckets
    * yields no row. Force either path in tests via annThreshold =
    * Long.MaxValue / 0.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    annThreshold: Long = 50000,
                    annTables: Int = 4): DataFrame = {
    val (corpusN, queriesN) = (corpus.count(), queries.count())
    val useAnn = queriesN > annThreshold ||
      (corpusN > annThreshold &&
        corpusN.toDouble * queriesN > annThreshold.toDouble * annThreshold)
    val scored =
      if (!useAnn) {
        val q = broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").as("q_label"), col("embedding").as("q_emb"),
          sqrt(dot(col("embedding"), col("embedding"))).as("q_norm")))
        corpus.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label"), col("embedding"),
            sqrt(dot(col("embedding"), col("embedding"))).as("n_norm"))
          .join(q, col("neighbor_id") =!= col("query_id") &&
            col("n_label") =!= col("q_label"))
          .select(col("query_id"), col("neighbor_id"), col("n_label"),
            round(cosinePre(col("q_emb"), col("embedding"),
              col("q_norm"), col("n_norm")), 4).as("cos_sim"))
      } else {
        val dim = corpus.select(size(col("embedding"))).head.getInt(0)
        val cand0 = bucketCandidates(
          bucketized(corpus, dim, bitsFor(corpusN), annTables), 10000,
          (a, b) => when(a("vec_id") =!= b("vec_id"),
            struct(a("vec_id").as("query_id"), b("vec_id").as("neighbor_id"),
              round(cosinePre(a("embedding"), b("embedding"),
                a("norm"), b("norm")), 4).as("cos_sim"))),
          "graft.hard_negatives.drops")
        val cand = if (annTables > 1) cand0.distinct() else cand0
        cand
          .join(queries.select(col("vec_id").as("query_id"),
            col("label").as("q_label")), "query_id")
          .join(corpus.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label")), "neighbor_id")
          .filter(col("n_label") =!= col("q_label"))
          .select(col("query_id"), col("neighbor_id"), col("n_label"),
            col("cos_sim"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("n_label"), col("cos_sim"))
  }

  /** kNN label-agreement — mislabeled-sample detection: for every
    * vector, the fraction of its k nearest neighbors (cosine,
    * self-excluded) that share its label. Agreement near 0 flags
    * probable label noise (confident-learning style); per-class mean
    * agreement measures class separability before training.
    *
    * Scale shape: with an explicit (small) `queries` set the exact
    * broadcast ranking runs. In full-corpus mode (`queries = None`)
    * the query side IS the corpus, and broadcasting it is O(N²) — so
    * above `annThreshold` rows the ranking automatically switches to
    * LSH candidates (lshTopK: bucketed, corpus-scaled bit count,
    * maxBucket-guarded — never all-pairs) and keeps the same label
    * join + aggregate, which shuffle only (vec_id, label) pairs.
    * The ANN path is approximate two ways: neighbors come from shared
    * buckets only, and a vector whose buckets hold no other member
    * gets no row (no neighbors to agree with) — both standard for
    * confident-learning screens, which need agreement STATISTICS, not
    * exact neighbor sets. Keep `annThreshold` at the largest size the
    * exact path can afford; force either path in tests by setting it
    * to 0 / Long.MaxValue.
    */
  def labelAgreement(corpus: DataFrame, k: Int = 5,
                     queries: Option[DataFrame] = None,
                     annThreshold: Long = 50000,
                     annTables: Int = 4): DataFrame = {
    val labels = corpus.select(col("vec_id"), col("label"))
    val topk = queries match {
      case Some(q) => bruteForceTopK(corpus, q, k)
      case None =>
        val n = corpus.count()
        if (n <= annThreshold) bruteForceTopK(corpus, corpus, k)
        else {
          // dim from one row — bounded driver action, same as count
          val dim = corpus.select(size(col("embedding"))).head.getInt(0)
          lshTopK(corpus, dim, k, tables = annTables)
        }
    }
    topk
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")),
        "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .groupBy(col("query_id").as("vec_id"), col("q_label").as("label"))
      .agg(round(sum((col("q_label") === col("n_label")).cast("int")) /
        count(lit(1)).cast("double"), 4).as("agreement"))
  }

  /** Random-hyperplane bucket key for one hash table: the sign bits of
    * `nBits` fixed pseudo-random hyperplanes. Hyperplane h's
    * coefficient for dimension d in table t is derived from
    * md5("t:h:d") — deterministic, engine-portable, no stored model.
    */
  def lshBucket(emb: Column, dim: Int, nBits: Int, table: Int = 0): Column = {
    val bits = (0 until nBits).map { h =>
      val coefs = (0 until dim).map { d =>
        // coefficient in [-0.5, 0.5): first 6 hex chars of md5("t:h:d")
        (java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$table:$h:$d").substring(0, 6), 16)
          .toDouble / 0xFFFFFF.toDouble) - 0.5
      }
      // zip_with against ONE array literal (typedlit): a single constant
      // ArrayData the generated code references by handle. Building it
      // as array(lit, lit, ...) instead unrolls `dim` literal children
      // into every generated projection — with tables × nBits
      // hyperplanes that is thousands of statements and ~10 s of janino
      // compile per fresh plan (re-paid whenever the 100-entry codegen
      // cache evicts it).
      val proj = aggregate(
        zip_with(emb, typedlit(coefs), (a, c) => a * c),
        lit(0.0d), (acc, v) => acc + v)
      (proj >= 0).cast("int").cast("string")
    }
    concat(bits: _*)
  }

  /** One row per (vector, hash table): vec_id, embedding, norm, tbl,
    * bucket. Norms and bucket keys are computed in this single
    * projection — everything downstream reuses them.
    */
  private def bucketized(corpus: DataFrame, dim: Int, bits: Int, tables: Int): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("embedding"), dim, bits, t)): _*)).as(Seq("tbl", "bucket")))

  /** Group-collect candidate scoring: one shuffle on (tbl, bucket),
    * pairs generated and scored inside each bucket. `pair` builds the
    * output struct for an (a, b) member pair or null to skip it.
    * bitsFor keeps EXPECTED bucket sizes constant; `maxBucket` is the
    * hard guard against a pathological bucket (e.g. a giant cluster of
    * identical embeddings), which is dropped rather than exploded
    * quadratically — exact dedup should run before near-dup search.
    * Drops are counted via the `metric` observed metric (OpsMetrics).
    */
  private def bucketCandidates(bucketed: DataFrame, maxBucket: Int,
                               pair: (Column, Column) => Column,
                               metric: String): DataFrame = {
    // native pair generation (PairCombinations — the cf01/cf02 rewrite):
    // vec_id leads the member struct, so array_sort + index-ordered
    // pairs = the a.vec_id < b.vec_id unordered-pair set, one codegen'd
    // loop instead of three interpreted lambdas per combination. `pair`
    // is applied to BOTH orientations of each unordered pair — callers
    // wanting ordered output (top-k per query) accept both, callers
    // wanting a<b pairs null the reversed one — and stays a codegen'd
    // projection expression rather than a lambda body. Scores are
    // computed per ORIENTATION, never reused across the swap: cosine
    // division order (dot/normA/normB) is not bit-commutative and the
    // oracles replay each orientation's exact arithmetic.
    OpsMetrics.guarded(
      bucketed
        .groupBy(col("tbl"), col("bucket"))
        .agg(collect_list(struct(col("vec_id"), col("embedding"), col("norm"))).as("m")),
      maxBucket, metric)
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("q"))
      .select(explode(array(pair(col("q.a"), col("q.b")),
        pair(col("q.b"), col("q.a")))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.*"))
  }

  /** ANN via LSH buckets: candidates searched only within the query's
    * buckets (`tables` independent hash tables for recall), exact
    * cosine re-ranking on the candidates. nBits = 0 (default) derives
    * the bucket count from the corpus size.
    */
  def lshTopK(corpus: DataFrame, dim: Int, k: Int, nBits: Int = 0,
              tables: Int = 2, maxBucket: Int = 10000): DataFrame = {
    val bits = if (nBits > 0) nBits else bitsFor(corpus.count())
    val cand0 = bucketCandidates(bucketized(corpus, dim, bits, tables), maxBucket,
      (a, b) => when(a("vec_id") =!= b("vec_id"),
        struct(a("vec_id").as("query_id"), b("vec_id").as("neighbor_id"),
          round(cosinePre(a("embedding"), b("embedding"), a("norm"), b("norm")), 4).as("cos_sim"))),
      "graft.lsh_topk.drops")
    // the same pair can surface from several hash tables; its rounded
    // cosine is deterministic, so distinct collapses the duplicates
    val cand = if (tables > 1) cand0.distinct() else cand0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Deterministic k-means (Lloyd) centroids over a rank-ordered
    * driver-side sample: init = `k` evenly-spaced vectors of the first
    * `sampleN` (vec_id order), fixed iteration count, cosine
    * assignment with lowest-cell tie-break — no RNG anywhere, so runs
    * (and oracles/recall specs) reproduce exactly. The sample is a few
    * thousand vectors regardless of corpus size (k-means quality needs
    * a representative sample, not the population), so the driver-side
    * cost is O(sampleN × k × dim × iters) and constant at 100 TB.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 2,
                      sampleN: Int = 0): Array[Array[Float]] = {
    val n = if (sampleN > 0) sampleN else math.min(4096, math.max(k * 32, 256))
    val sample: Array[Array[Float]] = corpus.orderBy(col("vec_id")).limit(n)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    val kk = math.min(k, sample.length)
    val dim = sample(0).length
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) -2.0 else d / math.sqrt(na) / math.sqrt(nb)
    }
    var cents = Array.tabulate(kk)(i => sample(i * sample.length / kk).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      sample.foreach { v =>
        var best = 0; var bestSim = cos(v, cents(0)); var c = 1
        while (c < kk) {
          val s = cos(v, cents(c))
          if (s > bestSim) { best = c; bestSim = s }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat))
    }
    cents
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its
    * nearest centroid cell; neighbors are searched only within the
    * cell, with exact cosine re-ranking (probe=1 flat IVF). Centroids
    * default to the deterministic first `numCells` corpus vectors
    * (engine-portable: the DuckDB oracle reproduces them); pass
    * `kmeansIters > 0` for Lloyd centroids (kmeansCentroids), which
    * place cell boundaries where the data is — better recall on
    * clustered corpora (gated by the sim04 recall bound + the
    * clustered-corpus spec). Scale design: the N×C scoring
    * broadcast-joins the (small) centroid set and shuffles only
    * (vec_id, cent_id, sim) — the embedding payload is joined back
    * AFTER the argmin, so it never travels C times; cell pair
    * generation reuses the group-collect machinery with the maxBucket
    * guard.
    */
  /** Nearest-centroid cell per vector: (vec_id, cell, sim) with sim
    * the RAW cosine to the assigned centroid. Centroids are the first
    * `numCells` vectors in vec_id order (rank-based pick — ids may be
    * sparse or not start at 0) or Lloyd k-means when kmeansIters > 0.
    * Broadcast scoring; the argmin is one per-vector window on
    * (sim desc, cent_id asc). Shared by ivfTopK / semDedup /
    * ivfPqTopK so their cell geometry is identical by construction.
    */
  private def coarseCells(corpus: DataFrame, base: DataFrame,
                          numCells: Int, kmeansIters: Int): DataFrame = {
    val spark = corpus.sparkSession
    val rawCents =
      if (kmeansIters > 0) {
        import spark.implicits._
        kmeansCentroids(corpus, numCells, kmeansIters).zipWithIndex.toSeq
          .map { case (emb, i) => (i.toLong, emb) }
          .toDF("cent_id", "cent_emb")
          .select(col("cent_id"), col("cent_emb"),
            sqrt(dot(col("cent_emb"), col("cent_emb"))).as("cent_norm"))
      } else
        base.orderBy(col("vec_id")).limit(numCells).select(
          col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
          col("norm").as("cent_norm"))
    val scored = base.crossJoin(broadcast(rawCents))
      .select(col("vec_id"), col("cent_id"),
        cosinePre(col("embedding"), col("cent_emb"),
          col("norm"), col("cent_norm")).as("sim"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id").asc)
    scored.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"), col("sim"))
  }

  def ivfTopK(corpus: DataFrame, dim: Int, k: Int, numCells: Int = 64,
              maxBucket: Int = 10000, kmeansIters: Int = 0): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val cells = coarseCells(corpus, base, numCells, kmeansIters)
      .select(col("vec_id"), col("cell"))
    val bucketed = base.join(cells, "vec_id")
      .select(col("vec_id"), col("embedding"), col("norm"),
        lit(0).as("tbl"), col("cell").cast("string").as("bucket"))
    val cand = bucketCandidates(bucketed, maxBucket,
      (a, b) => when(a("vec_id") =!= b("vec_id"),
        struct(a("vec_id").as("query_id"), b("vec_id").as("neighbor_id"),
          round(cosinePre(a("embedding"), b("embedding"), a("norm"), b("norm")), 4).as("cos_sim"))),
      "graft.ivf_topk.drops")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos_sim"))
  }

  /** IVF-PQ ANN (the billion-vector serving shape — FAISS IVFPQ,
    * probe = 1): a coarse quantizer restricts search to the query's
    * cell; in-cell candidates are scored by ASYMMETRIC distance — the
    * query's full vector against the neighbor DECODED from its m PQ
    * codes via the constant (typedlit) codebook, i.e. ADC on L2².
    * Exact re-ranking of the short list composes downstream via a
    * join back to embeddings (standard practice, em02's pqAdcTopK
    * shows the LUT form for external query sets).
    *
    * Why this is the 100 TB path: the in-cell pair generation carries
    * each member once as a query (full vector) and once as a
    * neighbor represented by m SMALL INTS — for an external query
    * workload the corpus side of the shuffle is codes only, a
    * dim·4/m-fold payload reduction (64 floats → 16 bytes here), and
    * decode happens inside the pair expression against a broadcast-
    * constant codebook, never materialized per row. Cells bound the
    * candidate count; maxBucket guards the pathological cell
    * (observable at graft.ivfpq_topk.drops).
    */
  def ivfPqTopK(corpus: DataFrame, dim: Int, k: Int, numCells: Int = 64,
                m: Int = 8, codebookK: Int = 16, kmeansIters: Int = 0,
                maxBucket: Int = 10000): DataFrame = {
    val cbs = Embeddings.pqCodebooks(corpus, m, codebookK)
    val enc = Embeddings.pqEncode(corpus, cbs)
    val base = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val cells = coarseCells(corpus, base, numCells, kmeansIters)
      .select(col("vec_id"), col("cell"))
    val members = corpus.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id").join(enc, "vec_id")
    val cbLit = typedlit(cbs.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq)
    val subIdx = typedlit(Seq.range(1, m + 1))
    def decoded(codes: Column): Column =
      flatten(zip_with(codes, subIdx, (code, s) =>
        element_at(element_at(cbLit, s), code + 1)))
    def l2sq(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) =>
        (p.cast("double") - q) * (p.cast("double") - q)),
        lit(0.0d), (acc, v) => acc + v)
    val grouped = members.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"),
        col("codes"))).as("m"))
    // native pair generation + both orientations (see bucketCandidates):
    // ADC is asymmetric (exact query embedding vs decoded neighbor
    // codes), so each unordered pair scores twice — the same work the
    // HOF form did, minus its interpreted per-combination lambdas.
    val cand = OpsMetrics.guarded(grouped, maxBucket, "graft.ivfpq_topk.drops")
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("q"))
      .select(explode(array(
        struct(col("q.a").as("a"), col("q.b").as("b")),
        struct(col("q.b").as("a"), col("q.a").as("b")))).as("qq"))
      .select(col("qq.a.vec_id").as("query_id"),
        col("qq.b.vec_id").as("neighbor_id"),
        round(l2sq(col("qq.a.embedding"), decoded(col("qq.b.codes"))), 6)
          .as("adc_dist"))
      // the old HOF form's vec_id =!= predicate: a duplicated vec_id
      // in a cell must not rank as its own neighbor
      .filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** SemDeDup-style semantic dedup (the embedding-space analog of the
    * MinHash near-dup pass; after Abbas et al. 2023, arXiv:2303.09540):
    * a coarse quantizer assigns every vector to its nearest centroid
    * cell; within each cell a vector is DROPPED when some cell-mate
    * ranked above it — closer to the shared centroid by ROUNDED
    * cosine, vec_id tie-break — is ε-similar to it. The dominance rule
    * is one-pass and order-free (no sequential greedy scan), so it
    * distributes; it is slightly more aggressive than the paper's
    * greedy maximal-independent-set on ε-chains (a dropped middle link
    * still suppresses its own ε-neighbors), which is the conservative
    * direction for dedup.
    *
    * Output: (vec_id, cell, cent_sim, keep) for every corpus vector.
    *
    * Scale shape: identical machinery to ivfTopK — broadcast-centroid
    * scoring shuffles only (vec_id, cent_id, sim), argmin is one
    * per-vector window, and the ε-compare happens bucket-locally
    * behind the maxBucket guard (drops observable at
    * graft.sem_dedup.drops) so the corpus never self-joins. Centroids:
    * first `numCells` vectors in vec_id order when kmeansIters = 0
    * (engine-portable — the DuckDB oracle replays them exactly), Lloyd
    * k-means otherwise.
    */
  def semDedup(corpus: DataFrame, dim: Int, eps: Double, numCells: Int = 64,
               maxBucket: Int = 10000, kmeansIters: Int = 0): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val cells = coarseCells(corpus, base, numCells, kmeansIters)
      .select(col("vec_id"), col("cell"), round(col("sim"), 4).as("cent_sim"))
    val members = base.join(cells, "vec_id")
    // a ranks BELOW b on (cent_sim desc, vec_id asc) and is ε-similar
    // to b → a is the duplicate to drop. Native pair generation: the
    // member struct LEADS with the dominance rank key (negated
    // cent_sim, signed zero normalized by + 0.0 so ±0.0 stay the tie
    // they are under the old `>` comparison, then vec_id), so after
    // array_sort the index-ordered pairs are exactly (dominator,
    // dominated) — one codegen'd loop instead of three interpreted
    // lambdas per combination. The ε-cosine keeps the OLD operand
    // order (dropped first) — division order is not bit-commutative
    // and the oracle replays it exactly.
    // NaN cent_sim (zero-norm embedding): under the old dominance
    // ordering (cent_sim DESC, Spark NaN-greatest) a NaN row ranked
    // FIRST; negation would flip it to last (NaN sorts greatest both
    // ways). nanvl pins it back to the ascending front — cent_sim is
    // a rounded cosine in [-1,1], so -Infinity is a free sentinel.
    val grouped = members.groupBy(col("cell"))
      .agg(collect_list(struct(
        nanvl((-col("cent_sim")) + lit(0.0),
          lit(Double.NegativeInfinity)).as("rank_key"),
        col("vec_id"), col("embedding"), col("norm"))).as("m"))
    val dropped = OpsMetrics.guarded(grouped, maxBucket, "graft.sem_dedup.drops")
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("q"))
      // parity with the old STRICT dominance predicate: a duplicated
      // vec_id at the same rank produced no pair there; sorted index
      // order would emit it, so exclude the fully-tied case
      .filter(col("q.a.rank_key") =!= col("q.b.rank_key") ||
        col("q.a.vec_id") =!= col("q.b.vec_id"))
      .filter(round(cosinePre(col("q.b.embedding"), col("q.a.embedding"),
        col("q.b.norm"), col("q.a.norm")), 4) >= eps)
      .select(col("q.b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("__dup", lit(true))
    members.select(col("vec_id"), col("cell"), col("cent_sim"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        col("__dup").isNull.as("keep"))
  }

  /** Maximal-Marginal-Relevance diverse top-k (sim06, Carbonell &
    * Goldstein 1998): greedily pick k results maximizing
    * λ·sim(query, d) − (1−λ)·max over already-selected sim(d, s) —
    * the retrieval re-ranker that keeps the result page from being k
    * near-copies of the best hit (for training data: diverse
    * exemplars, not one cluster).
    *
    * Scale shape: query relevance is ONE scan with the query vector
    * broadcast as a literal; each of the k rounds updates the running
    * max-similarity-to-selected against the SINGLE newly selected
    * vector (again a broadcast literal) and takes a 1-row argmax —
    * never a pairwise candidate matrix. k driver collects of one row
    * each; determinism from 6-dec rounding + vec_id tie-breaks (the
    * ws01 convention), so an oracle replays the greedy trace exactly.
    * For production, pre-filter candidates with an ANN pass (sim02/
    * sim03) — MMR then re-ranks a bounded candidate set.
    */
  def mmrTopK(corpus: DataFrame, queryId: Long, k: Int,
              lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    require(lambda > 0 && lambda <= 1, s"lambda out of (0,1]: $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qEmb = corpus.filter(col("vec_id") === queryId)
      .select(col("embedding")).as[Seq[Float]].head()
    // cosines rounded at 4 (the dd05 cross-engine convention: the
    // native float-dot's per-term float rounding agrees with a
    // replayed float product only to ~1e-7)
    var cands = corpus.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"),
        round(cosine(col("embedding"), typedlit(qEmb)), 4).as("simq"))
      // cosine lower bound: round 1's argmax is then pure relevance
      .withColumn("max_sel_sim", lit(-1.0))
      .persist()
    cands.count()
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    for (rank <- 1 to k) {
      val scored = cands.withColumn("score",
        round(lit(lambda) * col("simq")
          - lit(1 - lambda) * col("max_sel_sim"), 6))
      val headOpt = scored
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1).collect().headOption
      headOpt.foreach { top =>
        val id = top.getLong(0)
        val emb = top.getSeq[Float](1)
        picked += ((rank, id, top.getDouble(2), top.getDouble(4)))
        val next = cands.filter(col("vec_id") =!= id)
          .withColumn("max_sel_sim", greatest(col("max_sel_sim"),
            round(cosine(col("embedding"), typedlit(emb)), 4)))
          .persist()
        next.count()
        cands.unpersist()
        cands = next
      }
    }
    cands.unpersist()
    picked.toSeq.toDF("rank", "vec_id", "simq", "mmr_score")
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ τ),
    * LSH-blocked with corpus-scaled bucket counts (nBits = 0 → auto)
    * and multi-table probing for recall.
    */
  def cosineDups(corpus: DataFrame, dim: Int, threshold: Double,
                 nBits: Int = 0, tables: Int = 2, maxBucket: Int = 10000): DataFrame = {
    val bits = if (nBits > 0) nBits else bitsFor(corpus.count())
    val pairs = bucketCandidates(bucketized(corpus, dim, bits, tables), maxBucket,
      (a, b) => when(a("vec_id") < b("vec_id"),
        struct(a("vec_id").as("id_a"), b("vec_id").as("id_b"),
          round(cosinePre(a("embedding"), b("embedding"), a("norm"), b("norm")), 4).as("cos_sim"))),
      "graft.cosine_dups.drops")
      .filter(col("cos_sim") >= threshold)
    if (tables > 1) pairs.distinct() else pairs
  }

  /** Incremental embedding-space dedup (dd13) — dd08's sibling one
    * representation up: drop rows of `newBatch` whose cosine against
    * ANY base vector clears `threshold` (re-embedded re-crawls,
    * paraphrases, near-identical augmentations — what the text-level
    * hashes miss once content is re-worded). Both sides bucket under
    * the SAME LSH hyperplanes; pairs are generated ONLY across sides
    * with the native CrossPairs loop (in-bucket batch-batch and
    * base-base members pay no pair cost), then one anti-join of the
    * batch on the matched ids.
    *
    * Scale shape: identical to cosineDups — broadcast-free bucketing
    * at scan speed, group-collect per (table, bucket) behind the
    * maxBucket guard (drops counted under `graft.incr_cosine.drops`,
    * sized over BOTH sides), and only vec_ids cross the final
    * anti-join. The base corpus is never collected or broadcast.
    */
  def incrementalCosineDedup(newBatch: DataFrame, base: DataFrame, dim: Int,
                             threshold: Double, nBits: Int = 0,
                             tables: Int = 2,
                             maxBucket: Int = 10000): DataFrame = {
    val bits = if (nBits > 0) nBits else bitsFor(base.count())
    val side = "__icd_new"
    require(!newBatch.columns.contains(side), s"column $side would be clobbered")
    val tagged = newBatch.select(col("vec_id"), col("embedding"), lit(1).as(side))
      .unionByName(base.select(col("vec_id"), col("embedding"), lit(0).as(side)))
    val bucketed = tagged.select(col("vec_id"), col(side), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col("embedding"), dim, bits, t)): _*)).as(Seq("tbl", "bucket")))
    val buckets = OpsMetrics.guardedBySize(
      bucketed.groupBy(col("tbl"), col("bucket"))
        .agg(
          collect_set(when(col(side) === 1,
            struct(col("vec_id"), col("embedding"), col("norm")))).as("ma"),
          collect_set(when(col(side) === 0,
            struct(col("vec_id"), col("embedding"), col("norm")))).as("mb")),
      size(col("ma")) + size(col("mb")),
      maxBucket, "graft.incr_cosine.drops")
      .filter(size(col("ma")) > 0 && size(col("mb")) > 0)
    val dupIds = buckets
      .select(explode(graft.functions.ArrayFunctions.cross_pairs(
        col("ma"), col("mb"))).as("p"))
      .filter(round(cosinePre(col("p.a.embedding"), col("p.b.embedding"),
        col("p.a.norm"), col("p.b.norm")), 4) >= threshold)
      .select(col("p.a.vec_id").as("vec_id"))
      .distinct()
    newBatch.join(dupIds, Seq("vec_id"), "left_anti")
  }
}
