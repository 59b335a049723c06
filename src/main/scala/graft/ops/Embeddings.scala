package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding storage/compression operators. At 100 TB an embedding
  * column is often the single largest column in the table (a 768-dim
  * float32 vector is 3 KB/row — bigger than most document texts);
  * int8 quantization cuts that 4× and is the standard first step
  * toward product-quantized ANN indexes (IVF-PQ). Everything here is
  * pure higher-order column expressions — per-row, no shuffle, no
  * UDFs — so quantization runs at scan speed and parallelizes
  * trivially across any number of executors.
  */
object Embeddings {

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_i = round(x_i / scale) ∈ [-127, 127], reconstruction
    * x̂_i = q_i * scale. Per-vector (not per-corpus) scaling needs no
    * global pass and is robust to outlier vectors — the trade every
    * serving stack (faiss scalar quantizer et al.) makes first.
    *
    * Returns the quantized vector plus audit columns: the scale, the
    * max absolute reconstruction error (bounded by scale/2 ≈
    * max|x|/254 — asserted in OpsSpec), and the exact integer
    * L2² of the quantized vector (int math survives hash comparison
    * across engines, unlike float sums). Zero vectors quantize to
    * zeros with scale 0 rather than dividing by it.
    */
  def quantizeInt8(df: DataFrame, emb: Column = col("embedding"),
                   out: String = "q_embedding"): DataFrame = {
    val v = transform(emb, x => x.cast("double"))
    val scale = array_max(transform(v, x => abs(x))) / 127.0
    val q = when(scale > 0,
        transform(v, x => round(x / scale).cast("int")))
      .otherwise(transform(v, _ => lit(0)))
    val err = when(scale > 0,
        array_max(zip_with(v, q, (x, qi) => abs(x - qi.cast("double") * scale))))
      .otherwise(lit(0.0))
    val l2sq = aggregate(q, lit(0L), (acc, qi) =>
      acc + qi.cast("long") * qi.cast("long"))
    df.withColumn(out, q)
      .withColumn("q_scale", scale)
      .withColumn("q_max_err", err)
      .withColumn("q_l2sq", l2sq)
  }

  /** Per-label centroids (class prototypes): the element-wise mean
    * embedding of every label — prototype classifiers, cluster
    * drift monitoring, and the init for supervised coarse quantizers.
    * One posexplode + (label, dim) average (partial-combined, so the
    * shuffle carries one partial sum per (label, dim) per task — at
    * 100 TB the shuffle is labels × dims rows, not corpus-sized),
    * then per-label assembly via sorted collect_list of the dim-sized
    * group. Means are rounded to `roundAt` decimals so the result is
    * stable under float-sum reordering across partitionings/engines.
    */
  def labelCentroids(df: DataFrame, roundAt: Int = 4,
                     label: Column = col("label"),
                     emb: Column = col("embedding")): DataFrame = {
    val dims = df.select(label.as("label"), posexplode(emb).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      // zround: a centered dimension's mean is an ulp-signed near-zero
      // (the sf0.001 sweep caught a -0.0 here)
      .agg(Portability.zround(avg(col("v")), roundAt).as("m"),
        count(lit(1)).as("n"))
    dims.groupBy(col("label"))
      .agg(
        first(col("n")).as("n_vectors"), // every dim counts the same rows
        transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x.getField("m")).as("centroid"))
  }

  /** Per-dimension winsorization: clip every embedding coordinate to
    * its corpus-wide [lo, hi] quantile band — the standard guard
    * against corrupt/outlier vectors (a single 1e30 coordinate
    * poisons every dot product it touches) before indexing or
    * distance math.
    *
    * Two-pass shape that holds at 100 TB: pass 1 computes the 2·dim
    * exact quantiles via ONE posexplode + per-dimension aggregate
    * (shuffles (dim, value) pairs, partial-combined); the dim-sized
    * bound table is collected (bounded: 2 doubles per dimension) and
    * folded back as literal arrays, so pass 2 is a pure scan-speed
    * projection with no join. Returns the input plus the clipped
    * vector and the exact count of clipped coordinates.
    */
  def winsorize(df: DataFrame, lo: Double = 0.01, hi: Double = 0.99,
                emb: Column = col("embedding"),
                out: String = "w_embedding"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1: $lo, $hi")
    val bounds = df
      .select(posexplode(emb).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(percentile(col("v"), lit(lo)).as("lo"),
           percentile(col("v"), lit(hi)).as("hi"))
      .orderBy("d")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val loArr = array(bounds.map(b => lit(b._1.toFloat)): _*)
    val hiArr = array(bounds.map(b => lit(b._2.toFloat)): _*)
    val clipped = zip_with(emb, sequence(lit(0), lit(bounds.length - 1)),
      (x, i) => least(greatest(x, element_at(loArr, i + 1)),
        element_at(hiArr, i + 1)))
    val nClipped = aggregate(
      zip_with(emb, sequence(lit(0), lit(bounds.length - 1)),
        (x, i) => (x < element_at(loArr, i + 1) ||
                   x > element_at(hiArr, i + 1)).cast("int")),
      lit(0), (acc, c) => acc + c)
    df.withColumn(out, clipped).withColumn("n_clipped", nClipped)
  }

  // ---------------- product quantization (Jégou et al., TPAMI 2011) ----------------

  /** Train product-quantization codebooks: the vector is split into
    * `m` contiguous subvectors and each subspace gets its own `k`-way
    * codebook via deterministic Lloyd iterations (L2 metric — the PQ
    * standard) on a bounded corpus sample. Like kmeansCentroids, the
    * sample is a few thousand vectors REGARDLESS of corpus size
    * (codebook quality needs representativeness, not population), the
    * init is evenly-spaced sample points, assignment ties break on the
    * lowest code — no RNG, so codebooks reproduce bit-for-bit across
    * runs and engines. Returns codebooks(subspace)(code) = centroid.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int = 3,
                  sampleN: Int = 0): Array[Array[Array[Float]]] = {
    require(m > 0 && k > 0 && k <= 256, s"need 0 < k <= 256 codes (one byte), got m=$m k=$k")
    val n = if (sampleN > 0) sampleN else math.min(4096, math.max(k * 32, 256))
    // Deterministic but decorrelated from storage order: ranking by a
    // hash of vec_id is a repeatable pseudo-random draw (the
    // hashSample/hexDraw pattern), so a corpus sorted by label/source/
    // time still yields representative codebooks — taking the first n
    // by raw vec_id would train on one biased slice. The DRAW picks
    // which rows; the drawn sample is then re-sorted by vec_id so the
    // evenly-spaced init is stable under the draw's arbitrary order
    // (and identical to the pre-draw behavior when n covers the
    // corpus).
    val sample: Array[Array[Float]] = corpus
      .orderBy(md5(concat_ws("#", lit("pqsample"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(n)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val slice = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      val kk = math.min(k, slice.length)
      def l2sq(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var i = 0
        while (i < sub) { val t = a(i).toDouble - b(i); d += t * t; i += 1 }
        d
      }
      var cents = Array.tabulate(kk)(i => slice(i * slice.length / kk).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(kk)(new Array[Double](sub))
        val counts = new Array[Long](kk)
        slice.foreach { v =>
          var best = 0; var bestD = l2sq(v, cents(0)); var c = 1
          while (c < kk) {
            val d = l2sq(v, cents(c))
            if (d < bestD) { best = c; bestD = d }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(kk)(c =>
          if (counts(c) == 0) cents(c) // empty cell keeps its centroid
          else Array.tabulate(sub)(i => (sums(c)(i) / counts(c)).toFloat))
      }
      cents
    }
  }

  /** Encode every vector into `m` codes (its nearest centroid per
    * subspace): a 768-dim float32 embedding becomes m bytes — a
    * 96–384× compression, the representation IVF-PQ indexes serve ANN
    * from at billion-vector scale.
    *
    * Scale shape: the codebook (m·k tiny subvectors) is BROADCAST
    * against the corpus; the per-subspace argmin shuffles only
    * (vec_id, subspace, dist, code) tuples with map-side min combine,
    * and the final per-vector assembly shuffles (vec_id, subspace,
    * code) — the embedding payload itself never travels. Same design
    * as ivfTopK's N×C scoring.
    */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
               out: String = "codes"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    // centroid self-products ride the broadcast precomputed; the
    // query-side a·a is constant across a subspace's candidates, so
    // argmin(||a-b||²) == argmin(b·b - 2a·b) — one codegen dot per
    // candidate instead of three (ties unchanged: constant shift)
    val cb = broadcast(
      (for (s <- 0 until m; c <- codebooks(s).indices) yield {
        val cent = codebooks(s)(c)
        var sq = 0.0; var i = 0
        while (i < sub) { sq += cent(i).toDouble * cent(i); i += 1 }
        (s, c, cent.toSeq, sq)
      }).toDF("sub_id", "code", "cent", "cent_sq"))
    // subvectors via posexplode of the m slices (slice is 1-indexed)
    val subs = corpus.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * sub + 1, sub)): _*)).as(Seq("sub_id", "subvec")))
    val dist =
      col("cent_sq") - lit(2.0) * graft.ops.Similarity.dot(col("subvec"), col("cent"))
    val assigned = subs.join(cb, "sub_id")
      .select(col("vec_id"), col("sub_id"), struct(dist.as("d"), col("code")).as("dc"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(col("dc")).getField("code").as("code")) // ties → lowest code
    assigned.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as(out))
  }

  /** Asymmetric-distance (ADC) top-k: for each query, a lookup table
    * LUT[s][c] = ||query_sub_s - codebook_s_c||² is computed driver-
    * side (queries are few, the LUT is m·k doubles) and broadcast; a
    * row's approximate distance is then m array lookups summed —
    * no float arithmetic against the original embeddings at all,
    * which is the point: search runs on the m-byte codes. Exact
    * re-ranking of the short ADC candidate list (standard IVF-PQ
    * practice) composes downstream via a join back to the embeddings.
    */
  /** Matryoshka truncation (em06, after Kusupati et al. 2022):
    * keep the first `k` dimensions and L2-renormalize. MRL-trained
    * embeddings pack coarse-to-fine information, so a prefix is a
    * valid lower-cost embedding — the standard serving trick for
    * tiered ANN (search the 64-dim prefix, re-rank with the full
    * vector); the renorm restores unit length for cosine. Zero-norm
    * prefixes return the zero vector rather than dividing by it.
    * Pure scan-speed: slice + one fold + one transform, no shuffles.
    */
  def matryoshka(df: DataFrame, k: Int, emb: Column = col("embedding"),
                 out: String = "mrl_embedding"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(!df.columns.contains(out), s"output column $out would clobber")
    val pre = slice(emb, 1, k)
    val nrm = sqrt(aggregate(pre, lit(0.0d),
      (acc, x) => acc + x.cast("double") * x))
    df.withColumn(out,
      when(nrm > 0, transform(pre, x => x.cast("double") / nrm))
        .otherwise(transform(pre, _ => lit(0.0d))))
  }

  /** Deterministic sign random projection (the dense ±1 variant of
    * Achlioptas 2003): out[d] = Σ_j sign(d,j)·x[j] / √inDim, with
    * sign(d,j) = +1 when the first hex char of md5("rp:d:j") is even,
    * else -1. Johnson–Lindenstrauss: pairwise distances survive
    * within (1±ε) for outDim = O(log n / ε²) — the standard cheap
    * shrink before ANN indexing or clustering when 64–1024 input dims
    * are gratuitous. No stored matrix, no RNG: any engine (and the
    * DuckDB oracle) re-derives the signs from the same md5 — the
    * projection IS the formula.
    *
    * Scale shape: pure scan-speed projection — zero shuffles, zero
    * collects. Each output dim is one zip_with/aggregate against a
    * CONSTANT sign array (typedlit: one ArrayData handle per output
    * dim, not dim² unrolled literals — see lshBucket's codegen note).
    */
  def randomProjection(df: DataFrame, inDim: Int, outDim: Int,
                       emb: Column = col("embedding"),
                       out: String = "rp_embedding"): DataFrame = {
    require(outDim > 0, s"outDim must be positive: $outDim")
    require(!df.columns.contains(out), s"output column $out would clobber")
    val norm = math.sqrt(inDim.toDouble)
    val dims = (0 until outDim).map { d =>
      val signs: Seq[Double] = (0 until inDim).map { j =>
        val h = org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"rp:$d:$j").charAt(0)
        if ("02468ace".indexOf(h.toInt) >= 0) 1.0 else -1.0
      }
      aggregate(zip_with(emb, typedlit(signs), (a, c) => a * c),
        lit(0.0d), (acc, v) => acc + v) / norm
    }
    df.withColumn(out, array(dims: _*))
  }

  /** Deterministic random-Fourier-feature basis for mmdRff: w(j)(k) ~
    * N(0, 1/σ²) via Box–Muller on md5-derived uniforms (the repo's
    * zero-RNG convention — any run, engine, or retry derives the same
    * basis), b(j) ~ U[0, 2π). Driver-side constants: the basis is
    * FOLDED into both the engine expressions and the oracle SQL as
    * literals, so no cross-engine math touches it.
    */
  def rffBasis(dim: Int, d: Int,
               sigma: Double): (Seq[Seq[Double]], Seq[Double]) = {
    def u(s: String): Double = {
      val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
        .substring(0, 8)
      (java.lang.Long.parseLong(h, 16).toDouble + 1.0) / 4294967296.0
    }
    val w = (0 until d).map { j =>
      (0 until dim).map { k =>
        math.sqrt(-2.0 * math.log(u(s"rff:w:$j:$k:1"))) *
          math.cos(2.0 * math.Pi * u(s"rff:w:$j:$k:2")) / sigma
      }
    }
    val b = (0 until d).map(j => 2.0 * math.Pi * u(s"rff:b:$j"))
    (w, b)
  }

  /** MMD² between two embedding sets via random Fourier features
    * (em12): the distribution-level drift statistic — "is this batch
    * of embeddings drawn from the same distribution as the corpus?"
    * — used to catch encoder version skew, synthetic-data drift, or a
    * crawl whose content shifted, BEFORE any per-vector dedup would
    * notice. Rahimi–Recht: E[z(x)ᵀz(y)] ≈ exp(−‖x−y‖²/2σ²), so
    * ‖mean_A z − mean_B z‖² estimates the Gaussian-kernel MMD² that
    * a quadratic-time estimator would pay n² kernel evaluations for.
    *
    * Scale shape: LINEAR — one aggregate pass per side computing d
    * feature means (each a literal-folded dot + cos at scan speed,
    * randomProjection's codegen shape), then a 1-row × 1-row cross
    * join. Nothing pairwise ever materializes; at 100 TB this is two
    * scans where exact MMD is n² kernel evaluations.
    */
  def mmdRff(a: DataFrame, b: DataFrame, dim: Int, d: Int = 8,
             sigma: Double = 1.0,
             emb: Column = col("embedding")): DataFrame = {
    require(d >= 1 && dim >= 1, s"bad dims: dim=$dim d=$d")
    require(sigma > 0, s"sigma must be positive: $sigma")
    val (w, bias) = rffBasis(dim, d, sigma)
    val scale = math.sqrt(2.0 / d)
    def feats(df: DataFrame, pre: String, n: String) = {
      val aggs = count(lit(1)).as(n) +: (0 until d).map { j =>
        val dot = aggregate(zip_with(emb, typedlit(w(j)),
          (x, c) => x * c), lit(0.0d), (acc, v) => acc + v)
        avg(cos(dot + lit(bias(j))) * lit(scale)).as(s"$pre$j")
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    val mmd2 = (0 until d).map(j =>
        (col(s"a$j") - col(s"b$j")) * (col(s"a$j") - col(s"b$j")))
      .reduce(_ + _)
    feats(a, "a", "n_a").crossJoin(feats(b, "b", "n_b"))
      .select(col("n_a"), col("n_b"), lit(d).as("d"),
        graft.ops.Portability.zround(mmd2, 8).as("mmd2"))
  }

  /** ZCA whitening (em07): y = W·(x − μ) with W = U·diag(1/√(λ+ε))·Uᵀ
    * from the eigendecomposition of the corpus covariance — the
    * decorrelation pass that makes cosine/L2 geometry honest when
    * embedding dims are correlated (anisotropy is the norm for LM
    * embeddings; whitening is the standard fix before retrieval or
    * clustering). ZCA (vs PCA) keeps the result in the ORIGINAL basis
    * — W is symmetric — so whitened dims stay interpretable.
    *
    * Scale shape, in three strictly-bounded stages:
    *  1. moments: ONE distributed pass — posexplode to (i, xᵢ) then a
    *     second generator to (i, j, xᵢ·xⱼ), aggregated by (i, j).
    *     The d²·N multiply count is the covariance FLOP floor any
    *     algorithm pays; map-side partial aggregation means the
    *     SHUFFLE carries only d² partials per task, never data rows.
    *  2. eigen: a d×d cyclic Jacobi on the DRIVER — d² doubles in,
    *     d² out, microseconds for embedding-sized d; nothing
    *     data-proportional ever reaches the driver.
    *  3. project: W folds back as d constant rows (typedlit) — pure
    *     scan-speed zip_with/aggregate per output dim, zero shuffles,
    *     exactly randomProjection's codegen shape.
    */
  def zcaWhiten(df: DataFrame, dim: Int, eps: Double = 1e-6,
                emb: Column = col("embedding"),
                out: String = "zca_embedding"): DataFrame = {
    require(dim > 0 && dim <= 4096, s"dim out of range: $dim")
    require(eps > 0, s"eps must be positive: $eps")
    require(!df.columns.contains(out), s"output column $out would clobber")
    val (n, mean, cov) = covMoments(df, dim, emb)
    val (lambda, u) = jacobiEigSym(cov)
    // W = U diag(1/sqrt(l+eps)) U^T  (symmetric)
    val w = Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < dim) { s += u(i)(k) * u(j)(k) / math.sqrt(lambda(k) + eps); k += 1 }
      s
    }
    val centered = zip_with(emb, typedlit(mean.toSeq),
      (a, m) => a.cast("double") - m)
    val dims = (0 until dim).map { d =>
      aggregate(zip_with(centered, typedlit(w(d).toSeq), (a, c) => a * c),
        lit(0.0d), (acc, v) => acc + v)
    }
    df.withColumn(out, array(dims: _*))
  }

  /** Sign-bit binary embedding (em08): each dimension collapses to
    * sign(x) and 32 dims pack into one long (two longs for d = 64) —
    * 32× smaller than float32, and Hamming distance between packed
    * signs approximates angular distance (Charikar 2002: P[bit
    * differs] = θ/π). The standard binary prefilter for web-scale
    * retrieval: scan the 16-byte sketches with xor+popcount, then
    * re-rank survivors with true vectors.
    *
    * Packing is big-endian per 32-dim half via `aggregate(acc*2+bit)`
    * — 32 bits keeps the accumulator far from signed overflow, which
    * engines disagree about (DuckDB throws, Java wraps); the identical
    * fold replays in SQL. Pure scan-speed projection, zero shuffles.
    */
  def signPack(df: DataFrame, dim: Int,
               emb: Column = col("embedding")): DataFrame = {
    require(dim % 32 == 0 && dim > 0, s"dim must be a positive multiple of 32: $dim")
    def packHalf(lo: Int): Column =
      aggregate(slice(emb, lo, 32), lit(0L),
        (acc, x) => acc * 2 + when(x > 0f, 1L).otherwise(0L))
    val halves = (0 until dim / 32).map(h => packHalf(h * 32 + 1).as(s"sig$h"))
    df.select(col("vec_id") +: halves: _*)
  }

  /** Hamming top-k over sign-packed embeddings: for each query in the
    * (small, broadcast) query set, the k corpus vectors with fewest
    * differing sign bits, ties broken by neighbor id. The per-pair
    * cost is `dim/32` xor+popcount word ops — two orders of magnitude
    * cheaper than a float dot product, which is what makes a full
    * corpus scan per query viable as the ANN prefilter at 100 TB
    * (the broadcast×scan shape of sim01/hn01, minus the FLOPs).
    */
  def hammingTopK(corpus: DataFrame, queryIds: Seq[Long], dim: Int,
                  k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val packed = signPack(corpus, dim)
    val sigCols = (0 until dim / 32).map(h => s"sig$h")
    val q = broadcast(packed
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id") +:
        sigCols.map(c => col(c).as(s"q_$c")): _*))
    val ham = sigCols.map(c =>
      bit_count(col(c).bitwiseXOR(col(s"q_$c")))).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    packed.withColumnRenamed("vec_id", "neighbor_id")
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming", ham)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Embedding snapshot drift per label (em10): after a re-embed or
    * corpus refresh, how far did each label's centroid move? Reports
    * the L2 shift and the cosine between old and new centroids — the
    * "did the encoder change under us" canary an ANN serving stack
    * wants before swapping indexes. Both sides reduce to (label, dim)
    * means via one posexplode aggregate each (the em04 shape), so the
    * join is #labels×dim rows — never data-sized.
    */
  def centroidDrift(cur: DataFrame, prev: DataFrame,
                    label: Column = col("label"),
                    emb: Column = col("embedding")): DataFrame = {
    def centroids(df: DataFrame, side: String): DataFrame =
      df.select(label.as("lbl"), posexplode(emb).as(Seq("d", "x")))
        .groupBy(col("lbl"), col("d"))
        .agg(avg(col("x").cast("double")).as(s"m_$side"),
          count(lit(1)).as(s"cnt_$side"))
    centroids(cur, "cur").join(centroids(prev, "prev"), Seq("lbl", "d"))
      .groupBy(col("lbl"))
      .agg((max(col("cnt_cur")).cast("long")).as("n_cur"),
        (max(col("cnt_prev")).cast("long")).as("n_prev"),
        round(sqrt(sum((col("m_cur") - col("m_prev")) *
          (col("m_cur") - col("m_prev")))), 6).as("l2_shift"),
        round(sum(col("m_cur") * col("m_prev")) /
          (sqrt(sum(col("m_cur") * col("m_cur"))) *
           sqrt(sum(col("m_prev") * col("m_prev")))), 6).as("cosine"))
  }

  /** Distributed covariance moments shared by zcaWhiten/pcaProject:
    * one posexplode² pass aggregated by (i, j) upper triangle — the
    * shuffle carries d² partials per task, never data rows; the d×d
    * result (and nothing data-proportional) lands on the driver.
    */
  private[ops] def covMoments(df: DataFrame, dim: Int, emb: Column)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val ex = df.select(emb.as("__e"))
      .select(posexplode(col("__e")).as(Seq("i", "xi")), col("__e"))
      .select(col("i"), col("xi").cast("double").as("xi"),
        posexplode(col("__e")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i")) // symmetric: upper triangle only
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj").cast("double")).as("sxx"),
        count(lit(1)).as("n"))
      .collect()
    require(ex.nonEmpty, "empty corpus")
    val n = ex.head.getLong(3)
    val sums = df.select(posexplode(emb).as(Seq("i", "xi")))
      .groupBy(col("i")).agg(sum(col("xi").cast("double")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mean = Array.tabulate(dim)(i => sums(i) / n)
    val cov = Array.ofDim[Double](dim, dim)
    ex.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val c = r.getDouble(2) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    (n, mean, cov)
  }

  /** PCA projection to the top-k principal components (em09): the
    * dimensionality-reduction serving trick PQ/Matryoshka sit next to
    * — keep the k directions carrying the most variance, report how
    * much each explains. Same three bounded stages as zcaWhiten
    * (shared covMoments pass → driver Jacobi → typedlit scan-speed
    * projection); component SIGN is pinned (largest-|loading|
    * coordinate made positive, ties to the lower index) so results
    * are deterministic across runs and platforms.
    *
    * Returns (projected frame with `out` = k-dim array,
    * explained-variance ratios per component, eigenvalues).
    */
  def pcaProject(df: DataFrame, dim: Int, k: Int,
                 emb: Column = col("embedding"),
                 out: String = "pca_embedding")
      : (DataFrame, Array[Double], Array[Double]) = {
    require(k > 0 && k <= dim && dim <= 4096, s"bad dims: k=$k dim=$dim")
    require(!df.columns.contains(out), s"output column $out would clobber")
    val (_, mean, cov) = covMoments(df, dim, emb)
    val (lambda, u) = jacobiEigSym(cov)
    val order = (0 until dim).sortBy(i => (-lambda(i), i)).take(k)
    val total = lambda.sum
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(i => u(i)(c))
      // sign pin: the largest-|loading| coordinate points positive
      var best = 0
      for (i <- 1 until dim if math.abs(v(i)) > math.abs(v(best))) best = i
      if (v(best) < 0) v.map(x => -x) else v
    }
    val centered = zip_with(emb, typedlit(mean.toSeq),
      (a, m) => a.cast("double") - m)
    val dims = comps.map { v =>
      aggregate(zip_with(centered, typedlit(v.toSeq), (a, c) => a * c),
        lit(0.0d), (acc, x) => acc + x)
    }
    val projected = df.withColumn(out, array(dims: _*))
    val evr = order.map(c => lambda(c) / total).toArray
    (projected, evr, order.map(lambda).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors as COLUMNS of the returned matrix,
    * i.e. v(i)(k) is component i of eigenvector k). Driver-side only
    * — O(d³) per sweep on a d×d matrix, used for embedding-sized d
    * where a sweep is microseconds; converges quadratically (offdiag
    * Frobenius mass is strictly annihilated per rotation).
    */
  private[ops] def jacobiEigSym(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-22) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // sign(0) must be +1 here: equal diagonal entries mean a
            // full 45-degree rotation, not none
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  def pqAdcTopK(encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
                queries: Seq[(Long, Array[Float])], k: Int,
                codesCol: String = "codes"): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val lut: Seq[(Long, Seq[Seq[Double]])] = queries.map { case (qid, q) =>
      qid -> (0 until m).map { s =>
        codebooks(s).toSeq.map { cent =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = q(s * sub + i).toDouble - cent(i); d += t * t; i += 1 }
          d
        }
      }
    }
    val qdf = broadcast(lut.toDF("query_id", "lut"))
    val adc = aggregate(
      zip_with(col(codesCol), col("lut"), (code, row) => element_at(row, code + 1)),
      lit(0.0d), (acc, v) => acc + v)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    encoded.crossJoin(qdf)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adc, 6).as("adc_dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Embedding isotropy diagnostic (em11) — the collapse canary every
    * embedding pipeline monitors: when an encoder degenerates, its
    * vectors bunch into a narrow cone and retrieval quality dies
    * while the pipeline keeps "working". Two closed-form readouts
    * over the UNIT-normalized vectors:
    *   - mean resultant length R = ‖Σv̂‖/n (1 = total collapse,
    *     →0 = directions spread out),
    *   - average pairwise cosine = (‖Σv̂‖² − n)/(n(n−1)) — exact via
    *     the Gram identity, NO pairwise pass.
    * One row out. Scale shape: a posexplode → per-vector norm → per-
    * dim sums (dim-bounded frame) → one scalar aggregate; nothing
    * pairwise, nothing data-sized past the first aggregate.
    */
  def isotropy(df: DataFrame, emb: Column = col("embedding")): DataFrame = {
    val ex = df.select(col("vec_id"), posexplode(emb).as(Seq("d", "x")))
      .withColumn("x", col("x").cast("double"))
    val norms = ex.groupBy(col("vec_id"))
      .agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
      .filter(col("nrm") > 0)
    val dimSums = ex.join(norms, "vec_id")
      .groupBy(col("d")).agg(sum(col("x") / col("nrm")).as("s"))
    val nRow = norms.agg(count(lit(1)).as("n"))
    dimSums.agg(sum(col("s") * col("s")).as("ss")).crossJoin(nRow)
      .select(col("n"),
        Portability.zround(sqrt(col("ss")) / col("n"), 6).as("r_mean"),
        Portability.zround((col("ss") - col("n")) /
          (col("n") * (col("n") - lit(1.0))), 6).as("avg_pairwise_cos"))
  }

  /** Linear CKA (em13) between two per-row representations — the
    * standard "did the projection/quantization/distillation keep the
    * geometry" readout (Kornblith et al. 2019): for row-aligned
    * matrices X (n×dx) and Y (n×dy),
    * CKA = ‖Yᶜᵀ Xᶜ‖²_F / (‖Xᶜᵀ Xᶜ‖_F · ‖Yᶜᵀ Yᶜ‖_F) with ᶜ the
    * column-centered versions. 1.0 = same geometry up to rotation and
    * isotropic scale; the number an embedding-compression pipeline
    * checks before swapping em05/em06/em01's cheaper vectors in.
    *
    * Everything reduces to column moments: ONE wide aggregate over a
    * single scan collects n, Σxᵢ, Σyⱼ, and all raw second moments
    * Σxᵢxᵢ', Σxᵢyⱼ, Σyⱼyⱼ' (dx(dx+1)/2 + dx·dy + dy(dy+1)/2 sums —
    * d²-bounded, the em07/ZCA convention), centering and the three
    * Frobenius norms fold on the driver from that one row. No
    * pairwise row work, no shuffle beyond the aggregate; row count
    * never appears in any frame size.
    */
  /** The one-scan moment frame behind [[linearCKA]] (n, Σx, Σy, and
    * all raw second moments as a single wide aggregate) — exposed so
    * the plan guard can assert its shape; `linearCKA` collects its
    * single row.
    */
  private[graft] def ckaMoments(df: DataFrame, x: Column, y: Column,
                                dx: Int, dy: Int): DataFrame = {
    val xi = (0 until dx).map(i => element_at(x, i + 1).cast("double"))
    val yj = (0 until dy).map(j => element_at(y, j + 1).cast("double"))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).cast("double").as("n")) ++
      (0 until dx).map(i => sum(xi(i)).as(s"sx_$i")) ++
      (0 until dy).map(j => sum(yj(j)).as(s"sy_$j")) ++
      (for (i <- 0 until dx; j <- 0 until dy)
        yield sum(xi(i) * yj(j)).as(s"sxy_${i}_$j")) ++
      (for (i <- 0 until dx; i2 <- i until dx)
        yield sum(xi(i) * xi(i2)).as(s"sxx_${i}_$i2")) ++
      (for (j <- 0 until dy; j2 <- j until dy)
        yield sum(yj(j) * yj(j2)).as(s"syy_${j}_$j2"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  def linearCKA(df: DataFrame, x: Column, y: Column,
                dx: Int, dy: Int): DataFrame = {
    require(dx >= 1 && dx <= 512, s"dx out of range: $dx")
    require(dy >= 1 && dy <= 512, s"dy out of range: $dy")
    val r = ckaMoments(df, x, y, dx, dy).head
    val n = r.getAs[Double]("n")
    require(n >= 2, s"linearCKA needs at least 2 rows, got $n")
    def g(name: String): Double = r.getAs[Double](name)
    val sx = (0 until dx).map(i => g(s"sx_$i"))
    val sy = (0 until dy).map(j => g(s"sy_$j"))
    var hxy = 0.0
    for (i <- 0 until dx; j <- 0 until dy) {
      val c = g(s"sxy_${i}_$j") - sx(i) * sy(j) / n
      hxy += c * c
    }
    var hxx = 0.0
    for (i <- 0 until dx; i2 <- i until dx) {
      val c = g(s"sxx_${i}_$i2") - sx(i) * sx(i2) / n
      hxx += (if (i == i2) 1.0 else 2.0) * c * c
    }
    var hyy = 0.0
    for (j <- 0 until dy; j2 <- j until dy) {
      val c = g(s"syy_${j}_$j2") - sy(j) * sy(j2) / n
      hyy += (if (j == j2) 1.0 else 2.0) * c * c
    }
    val cka =
      if (hxx == 0.0 || hyy == 0.0) 0.0
      else hxy / math.sqrt(hxx * hyy)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((dx, dy, n.toLong, cka)).toDF("dim_x", "dim_y", "n", "cka")
      .select(col("dim_x"), col("dim_y"), col("n"),
        Portability.zround(col("cka"), 6).as("cka"))
  }
}
