package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantics tests for the training-data pipeline operators, on data
  * with PLANTED duplicates (so recall is assertable, unlike the
  * hash-equality oracle which only pins determinism).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and column pruning"),
    (4L, "the quick brown fox jumps over the lazy dog near the old river bank today"),   // exact dup of 1
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 4) // 1&4 merge
    val dupRow = r.find(_.getLong(2) == 2L).get
    assert(dupRow.getLong(1) == 1L) // keep min id
  }

  test("minhash-LSH finds planted near-dup, skips unrelated") {
    val pairs = Dedup.minhashLsh(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup 1-2 missed: $pairs")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash estimate approximates true jaccard for exact dups") {
    val est = Dedup.minhashLsh(docs)
      .filter($"id_a" === 1 && $"id_b" === 4)
      .select("est_jaccard").as[Double].head()
    assert(est == 1.0) // identical docs → identical signatures
  }

  test("minhash-LSH shuffle records grow linearly: 4x the docs, at most 4.5x") {
    // 200 docs in near-dup pairs (one word apart), replicated with a
    // replica tag on every word: the replicas share no shingle, so each
    // adds the same bucket structure and candidate pairs stay
    // bucket-local. Threshold 0 keeps every candidate pair, so the pair
    // distinct's shuffle counts them all (a threshold is pushed below
    // it). A quadratic candidate step grows ~16x here.
    val base = (0 until 200).map { j =>
      val words = { val rnd = new scala.util.Random(j / 2); Array.fill(30)(rnd.nextInt(500)) }
      if (j % 2 == 1) words(j % 30) = 500 + j
      words
    }
    def records(replicas: Int): (Long, Int) = {
      val docs = (for (r <- 0 until replicas; (ws, j) <- base.zipWithIndex)
        yield (r * 1000L + j, ws.map(w => s"w${w}r$r").mkString(" "))).toDF("doc_id", "text")
      var pairs = 0
      val run = TestSpark.run(s"minhash-x$replicas") {
        pairs = Dedup.minhashLsh(docs, threshold = 0.0).collect().length }
      (run.total(_.shuffleWriteMetrics.recordsWritten), pairs)
    }
    val ((small, pairs), (large, _)) = (records(1), records(4))
    assert(pairs > 0 && small > 0, s"no candidate pairs ($pairs) or no shuffle ($small)")
    info(s"shuffle records: $small at 200 docs, $large at 800")
    assert(large <= 4.5 * small, s"shuffle records grew $small -> $large at 4x docs")
  }

  test("simhash: identical docs have identical signatures, near-dups close") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(sh.values.forall(_.length == 64))
    def hamming(a: String, b: String) = a.zip(b).count(x => x._1 != x._2)
    // one changed token out of 14 lands at hamming 5 on the 64-bit
    // signature; unrelated docs sit far away
    assert(hamming(sh(1L), sh(2L)) <= 8, s"near-dup hamming ${hamming(sh(1L), sh(2L))}")
    assert(hamming(sh(1L), sh(3L)) > 8)
    // default (4 slices, maxHamming 3) is EXACT: finds the identical
    // pair, not the hamming-5 near-dup
    val strict = Dedup.simhashPairs(docs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict == Set((1L, 4L)))
    // 8 slices are exact through hamming 7: the near-dup pair appears
    val loose = Dedup.simhashPairs(docs, maxHamming = 7, numSlices = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose.contains((1L, 2L)) && loose.contains((1L, 4L)) && loose.contains((2L, 4L)))
    assert(!loose.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: exact dup = 1.0; blocked pairs only") {
    val r = Dedup.ngramJaccard(docs)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toMap2
    assert(r((1L, 4L)) == 1.0)
  }
  implicit class Map2[A, B, C](s: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = s.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("brute-force cosine top-k: self excluded, k respected, sims sorted") {
    val embs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat))).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 3), 4).collect()
    assert(topk.length == 12)
    val per = topk.groupBy(_.getLong(0))
    per.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4))
      assert(!rows.exists(_.getLong(2) == q)) // self excluded
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall(p => p._1 >= p._2)) // descending
    }
  }

  test("LSH ANN candidates are a subset of brute force with decent top-1 recall") {
    val embs = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 17 + d * 3).toFloat))).toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(embs, embs, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(embs, dim = 16, k = 1, nBits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // every LSH answer is a real neighbor with positive similarity; recall
    // is data-dependent — just require it's nonzero and indices valid
    assert(lsh.nonEmpty)
    val hits = lsh.count { case (q, n) => bf.get(q).contains(n) }
    assert(hits > 0, "LSH should recover at least some exact top-1s")
  }

  test("IVF ANN: every vector assigned to one cell, answers are real neighbors") {
    val embs = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 17 + d * 3).toFloat))).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(embs, dim = 16, k = 2, numCells = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, n) => q != n })
    val bf = Similarity.bruteForceTopK(embs, embs, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = ivf.count { case (q, n) => bf.get(q).contains(n) }
    assert(hits > 0, "IVF should recover some exact top-1s")
  }

  test("multimodal: batched fake decode preserves rows and is deterministic") {
    val bin = docs.select($"doc_id", $"text".cast("binary").as("payload"))
    val d1 = Multimodal.decodeBatched(bin, batchSize = 2).orderBy("doc_id").collect()
    val d2 = Multimodal.decodeBatched(bin, batchSize = 64).orderBy("doc_id").collect()
    assert(d1.length == 5)
    assert(d1.map(_.toString).toSeq == d2.map(_.toString).toSeq) // batch size invisible
    assert(d1.forall(r => r.getInt(1) >= 256 && r.getInt(3) == 3))
    // exact dup payloads → identical checksums
    val byId = d1.map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(byId(1L) == byId(4L))
  }

  test("real PPM/WAV decoders: headers, comments, truncation, chunk walk") {
    import graft.ops.Multimodal.{decodePpm, decodeWav}
    // P6 with comment, exact means
    val ppm = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 50, 60, 70)
    assert(decodePpm(ppm) == Some((2, 1, 3, 30.0, 40.0, 50.0)))
    // truncated payload → None, not garbage
    assert(decodePpm(ppm.dropRight(1)) == None)
    // non-netpbm magic → None
    assert(decodePpm("JFIF....".getBytes) == None)
    // P5 grayscale: all three means equal the gray mean
    val pgm = "P5\n3 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](0, 100, 50)
    assert(decodePpm(pgm) == Some((3, 1, 1, 50.0, 50.0, 50.0)))

    // WAV with an EXTRA chunk before data (LIST) exercises the walk
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes).putInt(body.length).put(body).array()
    }
    val fmt = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16).array()
    val data = Array[Byte](0xE8.toByte, 0x03, 0x18, 0xFC.toByte) // +1000, -1000
    val body = chunk("fmt ", fmt) ++ chunk("LIST", "info".getBytes) ++ chunk("data", data)
    val riff = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(4 + body.length).put("WAVE".getBytes).array() ++ body
    assert(decodeWav(riff) == Some((1, 8000, 2L, 0.25, 1000.0)))
    assert(decodeWav("RIFFxxxx".getBytes) == None)

    // malformed chunk sizes must yield None, not hang/crash the walk
    def withSize(sz: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(20 + 32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(44).put("WAVE".getBytes)
        .put("junk".getBytes).putInt(sz.toInt).array()
    }
    // sz whose .toInt is -8 made the old walk advance by ZERO (hang)
    assert(decodeWav(withSize(0xFFFFFFF8L)) == None)
    // more-negative sz drove the offset negative (crash)
    assert(decodeWav(withSize(0xFFFF0000L)) == None)
    // declared body overruns the payload (truncated trailing chunk)
    assert(decodeWav(withSize(1 << 20)) == None)
    // fmt chunk too short for its fixed fields (old code read past it)
    val shortFmt = java.nio.ByteBuffer.allocate(12 + 8 + 4 + 8 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(4).putInt(0)
      .put("data".getBytes).putInt(0).array()
    assert(decodeWav(shortFmt ++ new Array[Byte](8)) == None)
  }

  test("image header parse: adversarial payloads return None, never garbage") {
    import Multimodal.decodeImageHeader
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    // truncated PNG: signature but no full IHDR
    assert(decodeImageHeader(pngSig ++ Array.fill(10)(0.toByte)).isEmpty)
    // JPEG SOI then garbage (no marker alignment)
    assert(decodeImageHeader(Array(0xFF, 0xD8, 0x12, 0x34).map(_.toByte)).isEmpty)
    // JPEG with APP0 + comment segments BEFORE the SOF must walk to it
    val jfif = {
      val bos = new java.io.ByteArrayOutputStream()
      def put(xs: Int*) = xs.foreach(bos.write)
      put(0xFF, 0xD8)                      // SOI
      put(0xFF, 0xE0, 0x00, 0x04, 1, 2)    // APP0, len 4
      put(0xFF, 0xFE, 0x00, 0x05, 'h', 'i', '!') // COM, len 5
      put(0xFF, 0xC0, 0x00, 0x0B, 8)       // SOF0, len 11, precision 8
      put(0x00, 0x30, 0x00, 0x40, 3)       // h=48, w=64, 3 components
      put(0, 0, 0, 0, 0, 0)                // per-component bytes
      bos.toByteArray
    }
    assert(decodeImageHeader(jfif).contains(("jpeg", 64, 48, 3)))
    // BMP top-down (negative height) reports positive height
    val bmp = {
      val bb = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      bb.putInt(40).putInt(17).putInt(-9).putShort(1).putShort(24)
      bb.array()
    }
    assert(decodeImageHeader(bmp).contains(("bmp", 17, 9, 3)))
    // zero-dimension PNG rejected
    val zeroPng = pngSig ++ Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 5, 8, 2, 0, 0, 0)
    assert(decodeImageHeader(zeroPng).isEmpty)
    assert(decodeImageHeader(Array[Byte]()).isEmpty)
    assert(decodeImageHeader("plain text".getBytes).isEmpty)
  }

  test("frame sampling plumbing: stride filters chunk rows") {
    val bin = docs.select($"doc_id", $"text".cast("binary").as("payload"))
    val frames = Multimodal.sampleFrames(bin, frameBytes = 16, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getInt(1) % 2 == 0))
  }

  test("viral shingles are DF-capped: skewed corpus bounded, real dups survive") {
    // 100 docs share the templated shingle "t t t" (df=100 > cap=50):
    // without the cap that one (shingle, block) bucket holds all 100
    // docs and pair generation inside it is quadratic. With the cap the
    // viral shingle is dropped, while the planted near-dup pair —
    // which shares RARE shingles — is still found.
    // (1,2): identical docs — a planted dup whose shingles are rare
    // (df=2), so it MUST survive the cap; LSH banding finds identical
    // signatures deterministically
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val skewed = (Seq((1L, near), (2L, near)) ++
      (3 to 102).map(i => (i.toLong, s"t t t t t u$i v$i w$i"))).toDF("doc_id", "text")
    val nj = Dedup.ngramJaccard(skewed, maxShingleDf = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nj.contains((1L, 2L)), s"planted dup missed: $nj")
    assert(nj.forall { case (a, b) => a <= 2 && b <= 2 },
      s"pairs leaked through the viral shingle: $nj")
    val mh = Dedup.minhashLsh(skewed, maxShingleDf = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)), s"planted dup missed: $mh")
    assert(mh.forall { case (a, b) => a <= 2 && b <= 2 },
      s"pairs leaked through the viral shingle: $mh")
  }

  test("maxBucket hard guard drops pathological buckets instead of exploding") {
    // 12 identical docs land in one half-signature / band bucket;
    // with maxBucket below that, the bucket is dropped (callers run
    // exact dedup first), with the default it pairs normally
    val clones = (1 to 12).map(i =>
      (i.toLong, "same exact text repeated across every single document here")).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(clones, maxBucket = 5).count() == 0)
    assert(Dedup.simhashPairs(clones).count() == 12 * 11 / 2)
    assert(Dedup.minhashLsh(clones, maxBucket = 5).count() == 0)
    assert(Dedup.minhashLsh(clones).count() == 12 * 11 / 2)
    val cloneEmb = (1 to 12).map(i =>
      (i.toLong, Array.tabulate(8)(d => (d + 1).toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.cosineDups(cloneEmb, dim = 8, threshold = 0.5,
      nBits = 4, maxBucket = 5).count() == 0)
    assert(Similarity.cosineDups(cloneEmb, dim = 8, threshold = 0.5,
      nBits = 4).count() == 12 * 11 / 2)
  }

  test("semDedup: near-twin of the centroid-closest vector drops; orthogonal keeps") {
    // one cell (centroid = v1): v2 is ε-similar to v1 and ranks below
    // it (same rounded cent_sim, higher id) → dropped; v3 orthogonal
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0.001f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(e, dim = 4, eps = 0.9, numCells = 1)
      .orderBy("vec_id")
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toSeq
    assert(r == Seq((1L, true), (2L, false), (3L, true)), r)
    // guard: an oversize cell is dropped whole → nothing flagged
    val all = Similarity.semDedup(e, dim = 4, eps = 0.9, numCells = 1,
      maxBucket = 2).select("keep").as[Boolean].collect().toSeq
    assert(all.forall(identity), all)
  }

  test("randomProjection: one-hot vectors read the md5 sign matrix back; JL-ish norm") {
    import org.apache.commons.codec.digest.DigestUtils
    val dim = 16
    val oneHots = (0 until dim).map { j =>
      (j.toLong, Array.tabulate(dim)(i => if (i == j) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val r = Embeddings.randomProjection(oneHots, inDim = dim, outDim = 4)
      .orderBy("vec_id").select("rp_embedding")
      .as[Seq[Double]].collect()
    for (j <- 0 until dim; d <- 0 until 4) {
      val sgn = if ("02468ace".indexOf(
        DigestUtils.md5Hex(s"rp:$d:$j").charAt(0).toInt) >= 0) 1.0 else -1.0
      assert(math.abs(r(j)(d) - sgn / 4.0) < 1e-12, s"j=$j d=$d got ${r(j)(d)}")
    }
    // output norm² concentrates near inDim/outDim-scaled input norm²
    val dense = Seq((1L, Array.tabulate(dim)(i => (i % 3 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val p = Embeddings.randomProjection(dense, dim, 8)
      .select("rp_embedding").as[Seq[Double]].head
    assert(p.map(x => x * x).sum > 0.0)
    intercept[IllegalArgumentException] {
      Embeddings.randomProjection(dense.withColumn("rp_embedding", lit(1)), dim, 2)
    }
  }

  test("ivfPqTopK: cluster-mates found via ADC on decoded codes; ties break by id") {
    // 3 orthogonal clusters of identical vectors, ids interleaved so
    // the first-3 quantizer picks one centroid per cluster
    val vecs = (1 to 12).map { id =>
      val v = new Array[Float](8); v(id % 3) = 10f
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfPqTopK(vecs, dim = 8, k = 2, numCells = 3,
        m = 4, codebookK = 4)
      .orderBy("query_id", "rk")
      .select("query_id", "rk", "neighbor_id")
      .as[(Long, Int, Long)].collect()
    assert(r.length == 24, r.toSeq) // 12 queries × 2
    r.foreach { case (q, _, n) =>
      assert(q % 3 == n % 3, s"query $q paired across clusters with $n") }
    // identical cluster-mates have equal ADC → lowest-id ties first
    val q1 = r.filter(_._1 == 1L).map(_._3).toSeq
    assert(q1 == Seq(4L, 7L), q1)
  }

  test("matryoshka: prefix renormalized to unit length; zero prefix stays zero") {
    val e = Seq(
      (1L, Array(3f, 4f, 99f, 99f)),       // prefix (3,4) → (0.6, 0.8)
      (2L, Array(0f, 0f, 5f, 5f))).toDF("vec_id", "embedding")
    val r = Embeddings.matryoshka(e, k = 2).orderBy("vec_id")
      .select("mrl_embedding").as[Seq[Double]].collect()
    assert(r(0).zip(Seq(0.6, 0.8)).forall { case (a, b) => math.abs(a - b) < 1e-9 }, r(0))
    assert(r(1) == Seq(0.0, 0.0), r(1))
  }

  test("pageRank: regular graphs stay uniform; path graph ranks by degree; dangling throws") {
    // symmetric triangle — uniform is the exact fixed point
    val tri = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("c", "a")).toDF("src", "dst")
    val rt = Graph.pageRank(tri, iters = 5)
      .select("rank").as[Double].collect()
    assert(rt.forall(r => math.abs(r - 1.0 / 3) < 1e-12), rt.toSeq)
    // path a-b-c (symmetrized): center outranks ends, ends tie exactly
    val path = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val rp = Graph.pageRank(path, iters = 10)
      .orderBy("node").select("node", "rank")
      .as[(String, Double)].collect().toMap
    assert(rp("b") > rp("a") && rp("a") == rp("c"), rp)
    assert(math.abs(rp.values.sum - 1.0) < 1e-9, rp.values.sum)
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq(("a", "b")).toDF("src", "dst"), iters = 2)
    }
  }

  test("pageRank conserves rank mass on an arbitrary symmetric graph") {
    // deterministic pseudo-random graph: node i links to (i*7+3) % n
    val n = 500
    val raw = (0 until n).map(i => (i.toLong, ((i * 7 + 3) % n).toLong))
      .filter { case (a, b) => a != b }
    val edges = (raw ++ raw.map(_.swap)).distinct.toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 10).select("rank")
      .as[Double].collect()
    assert(math.abs(ranks.sum - 1.0) < 1e-9, ranks.sum)
    assert(ranks.forall(_ > 0), "a rank went non-positive")
  }

  test("dsirSelect: corpus as its own target scores exactly zero everywhere") {
    val c = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"))
      .toDF("doc_id", "text")
    val w = Curation.dsirSelect(c, c, frac = 0.5)
      .select("log_w").as[Double].collect()
    assert(w.forall(_ == 0.0), w.toSeq) // identical multinomials → ratio 0
  }

  test("matryoshka: non-zero prefixes come back unit-length") {
    val e = (1 to 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * 31 + d * 7 % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val norms = Embeddings.matryoshka(e, k = 4)
      .select("mrl_embedding").as[Seq[Double]].collect()
      .map(v => math.sqrt(v.map(x => x * x).sum))
    assert(norms.forall(nm => math.abs(nm - 1.0) < 1e-9), norms.take(5).toSeq)
  }

  test("kmeans centroids beat first-N on a clustered corpus (IVF recall)") {
    // 8 clusters sharing a dominant direction, separated by a cluster
    // dim, plus a tiny noise dim cycling with i%4. The first-N
    // centroids are all cluster-0 vectors differing only in noise, so
    // assignment splits EVERY cluster across cells by i%4 and top-3
    // neighbors (the lowest ids, by rounded-cosine tie-break) mostly
    // land elsewhere; k-means recovers one cell per cluster
    val vecs = for {
      c <- 0 until 8; i <- 0 until 30
    } yield {
      val v = new Array[Float](16)
      v(0) = 10f              // shared direction
      v(1 + c) = 5f           // cluster direction
      v(9 + (i % 4)) = 0.01f  // noise: drives first-N cell splits
      ((c * 30 + i).toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(df, df, 3).select("query_id", "neighbor_id")
    def recall(iters: Int): Double = bf
      .join(Similarity.ivfTopK(df, dim = 16, k = 3, numCells = 8, kmeansIters = iters)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r")).head.getDouble(0)
    val (km, firstN) = (recall(2), recall(0))
    assert(km > firstN, s"kmeans recall $km should beat first-N $firstN")
    assert(km >= 0.9, s"kmeans recall on separable clusters was only $km")
  }

  test("dropped buckets are OBSERVABLE: metrics count what maxBucket discards") {
    // round-3 What's-wrong #3: over-full buckets were dropped with no
    // signal. The observe() metric rides the same action (no extra
    // pass) and reports (buckets, member rows) dropped.
    val clones = (1 to 12).map(i =>
      (i.toLong, "same exact text repeated across every single document here")).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(clones, maxBucket = 5).count() == 0)
    eventually(OpsMetrics.lastDrops("graft.simhash.drops"),
      // all 4 slice buckets hold the full 12-doc clone set
      Some((4L, 48L)))
    assert(Dedup.minhashLsh(clones, maxBucket = 5).count() == 0)
    eventually(OpsMetrics.lastDrops("graft.minhash.drops"),
      // 4 band buckets of 12 docs each
      Some((4L, 48L)))
    // and a clean run reports zero drops
    assert(Dedup.simhashPairs(clones).count() == 12 * 11 / 2)
    eventually(OpsMetrics.lastDrops("graft.simhash.drops"), Some((0L, 0L)))
  }

  /** QueryExecutionListener delivery is async: poll briefly. */
  private def eventually[A](probe: => A, expected: A, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: A = probe
    while (last != expected && System.currentTimeMillis() < deadline) {
      Thread.sleep(50); last = probe
    }
    assert(last == expected, s"observed metric $last != $expected")
  }

  test("short docs (< k tokens) survive ANSI mode and still dedup") {
    // element_at would THROW under ANSI (Spark 4 default) for any doc
    // with < 3 tokens; shingles() must pad with try_element_at instead
    val shortDocs = Seq(
      (1L, "hello"), (2L, "hello"), (3L, "hi there"), (4L, "hi there"),
      (5L, ""), (6L, "one two three four five")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashLsh(shortDocs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)) && mh.contains((3L, 4L)), s"short-doc dups missed: $mh")
    val nj = Dedup.ngramJaccard(shortDocs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nj.contains((1L, 2L)) && nj.contains((3L, 4L)), s"short-doc dups missed: $nj")
  }

  test("langid predicts en for english-ish text") {
    val r = TextAnalysis.langid(docs).filter($"doc_id" === 1)
      .select("predicted").as[String].head()
    assert(r == "en")
  }

  test("connected components: chains merge transitively, components stay apart") {
    // path 1-2-3-4-5 (pairwise only!) + separate pair 10-11 + triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(cc(_) == 1L), s"path not merged: $cc") // diameter 4 > 1 round
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
  }

  test("connected components: exhausting maxIter on a long path THROWS, not wrong labels") {
    // path 1-2-3-...-8: diameter 7, needs more than 2 rounds of
    // min-label propagation — with maxIter=2 the labels are only
    // partially propagated, which must be an ERROR, never a result
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    // the convergence record shows the hot exit (2 rounds, changes pending)
    val (rounds, changing) = OpsMetrics.lastConvergence("graft.cc.convergence").get
    assert(rounds == 2 && changing > 0, s"($rounds, $changing)")
    // same graph with enough rounds: converges and records clean
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 8L).forall(cc(_) == 1L))
    assert(OpsMetrics.lastConvergence("graft.cc.convergence").get._2 == 0L)
  }

  test("connected components: reliable-checkpoint path (checkpoint dir set)") {
    // with a checkpoint dir configured, rounds use fault-tolerant
    // df.checkpoint instead of localCheckpoint — same results
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // checkpoint files actually landed in the reliable dir
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("connected components: 300-node chain converges in O(log d) rounds") {
    // star contraction must make rounds logarithmic in diameter: a
    // 300-long path (diameter 299) has to finish well inside 20
    // rounds — plain 1-hop propagation would need 300
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 300 && (1L to 300L).forall(cc(_) == 1L))
    val (rounds, changing) = OpsMetrics.lastConvergence("graft.cc.convergence").get
    assert(changing == 0L)
    assert(rounds <= 12, s"expected ~log2(300) rounds, took $rounds")
  }

  test("dupClusters: longest doc wins canonical, singletons kept") {
    val d = Seq(
      (1L, "short"), (2L, "the much longer version of this document"),
      (3L, "medium length text"), (9L, "alone")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.dupClusters(d, pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(r.toSeq == Seq(
      (1L, 1L, 2L, false),  // cluster 1 = {1,2,3}, doc 2 is longest
      (2L, 1L, 2L, true),
      (3L, 1L, 2L, false),
      (9L, 9L, 9L, true)))  // singleton: own cluster, canonical
  }

  test("saltedJoin spreads byte-identical duplicate rows across salts") {
    // replayed/at-least-once data: ONE hot key, every row identical.
    // A content-only salt (hash of the row) sends all of them to a
    // single reducer — the per-row physical component must spread them.
    val big = Seq.fill(2000)((7, "payload")).toDF("k", "v")
      .repartition(4) // several input partitions, like a real scan
    val small = Seq((7, "dim7"), (8, "dim8")).toDF("sk", "sv")
    val salts = 8
    // result invariance (the q47 gate checks this against DuckDB too)
    val joined = Skew.saltedJoin(big, small, "k", "sk", salts)
    assert(joined.count() == 2000)
    assert(joined.columns.toSeq == Seq("k", "v", "sk", "sv"))
    // distribution: recompute the salt expression the way saltedJoin
    // does and count distinct values over the identical rows
    val distinctSalts = big.withColumn("s",
        pmod(hash(col("k"), col("v")) +
               spark_partition_id().cast("long") * lit(2654435761L) +
               monotonically_increasing_id(),
             lit(salts.toLong)))
      .select(countDistinct("s")).as[Long].head()
    assert(distinctSalts >= salts / 2,
      s"identical rows landed on only $distinctSalts/$salts salts")
  }

  test("saltedJoin result parity when salts are re-drawn (task-retry simulation)") {
    // The salt mixes spark_partition_id + monotonically_increasing_id,
    // both of which a task retry (or any physical re-layout) re-draws.
    // The docstring argues the RESULT is invariant because the small
    // side carries every salt value; prove it: the same logical input
    // under two different physical layouts — which provably draw
    // different salts — must produce the identical multiset, equal to
    // the plain join.
    val big = (Seq.fill(500)((7, "hot")) ++
      (1 to 50).map(i => (i % 5, s"row$i")) ++
      Seq((99, "unmatched"))).toDF("k", "v")
    val small = Seq((7, "dim7"), (0, "dim0"), (1, "dim1"),
      (2, "dim2"), (3, "dim3"), (4, "dim4")).toDF("sk", "sv")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, String, Int, String)].collect().sorted.toSeq
    val layoutA = multiset(Skew.saltedJoin(big.repartition(4), small, "k", "sk"))
    val layoutB = multiset(Skew.saltedJoin(
      big.repartition(13, col("v")), small, "k", "sk"))
    // the two layouts really did draw different salts for shared rows
    def salts(df: org.apache.spark.sql.DataFrame) = df.withColumn("s",
        pmod(hash(col("k"), col("v")) +
               spark_partition_id().cast("long") * lit(2654435761L) +
               monotonically_increasing_id(), lit(8L)))
      .groupBy("k", "v").agg(sort_array(collect_list("s")).as("ss"))
    def saltMap(df: org.apache.spark.sql.DataFrame) =
      salts(df).as[(Int, String, Seq[Long])].collect()
        .map { case (k, v, ss) => ((k, v), ss) }.toSet
    val differing = saltMap(big.repartition(4))
      .diff(saltMap(big.repartition(13, col("v"))))
    assert(differing.nonEmpty, "layouts drew identical salts; retry not simulated")
    val plain = multiset(big.join(small, big("k") === small("sk")))
    assert(layoutA == plain && layoutB == plain)
  }

  test("kmeans empty cells keep their centroid: no NaN, no collapse") {
    // Two point masses, k=4: init centroids land A,A,B,B (quartiles of
    // the sorted sample); ties assign to the LOWEST cell, so cells 1
    // and 3 get zero points. sums/counts division would make them NaN;
    // the empty-cell guard must keep the initial centroid instead.
    val a = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    val b = Array.tabulate(8)(i => if (i == 1) 1f else 0f)
    val df = ((1 to 8).map(i => (i.toLong, a)) ++
      (9 to 16).map(i => (i.toLong, b))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, k = 4, iters = 3)
    assert(cents.length == 4)
    assert(cents.forall(_.forall(f => !f.isNaN && !f.isInfinite)))
    assert(cents(1).toSeq == a.toSeq, "empty cell 1 lost its centroid")
    assert(cents(3).toSeq == b.toSeq, "empty cell 3 lost its centroid")
    assert(cents(0).toSeq == a.toSeq && cents(2).toSeq == b.toSeq)
    // k > sample size clamps to the sample, still NaN-free
    val clamped = Similarity.kmeansCentroids(df, k = 100, iters = 2)
    assert(clamped.length == 16)
    assert(clamped.forall(_.forall(f => !f.isNaN && !f.isInfinite)))
    // an all-zero vector (cos undefined) must not poison any centroid
    val withZero = (df.as[(Long, Array[Float])].collect() :+
      (17L, new Array[Float](8))).toSeq.toDF("vec_id", "embedding")
    assert(Similarity.kmeansCentroids(withZero, k = 4, iters = 3)
      .forall(_.forall(f => !f.isNaN && !f.isInfinite)))
  }

  test("contamination flags only docs sharing an n-gram with eval; decontaminate removes them") {
    val w13 = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (1L, s"prefix $w13 suffix"),        // contains the eval 13-gram
      (2L, "totally unrelated words that overlap with nothing at all"),
      (3L, w13),                          // the eval text itself
      (4L, "short doc")                   // < 13 tokens, no overlap
    ).toDF("doc_id", "text")
    val eval = Seq((100L, w13)).toDF("doc_id", "text")
    val flagged = Curation.contamination(train, eval)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(1L, 3L), s"flagged: $flagged")
    assert(flagged(3L) == 1L) // exact copy: the one whole-text gram
    val clean = Curation.decontaminate(train, eval)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 4L))
    // a short eval doc contaminates via its whole-text gram
    val shortEval = Seq((101L, "short doc")).toDF("doc_id", "text")
    assert(Curation.contamination(train, shortEval)
      .select("doc_id").as[Long].collect().toSeq == Seq(4L))
  }

  test("hashSample: deterministic, rate-accurate, and NESTED across rates") {
    val ids = spark.range(2000).select(col("id").as("doc_id"))
    assert(Curation.hashSample(ids, col("doc_id"), 0.0).count() == 0)
    assert(Curation.hashSample(ids, col("doc_id"), 1.0).count() == 2000)
    val s20 = Curation.hashSample(ids, col("doc_id"), 0.2)
      .as[Long].collect().toSet
    val s60 = Curation.hashSample(ids, col("doc_id"), 0.6)
      .as[Long].collect().toSet
    assert(s20.subsetOf(s60), "thresholds must nest: 20% sample inside 60%")
    assert(math.abs(s20.size / 2000.0 - 0.2) < 0.05, s"20% drew ${s20.size}")
    assert(math.abs(s60.size / 2000.0 - 0.6) < 0.05, s"60% drew ${s60.size}")
    // same keys kept regardless of physical layout
    val again = Curation.hashSample(ids.repartition(7), col("doc_id"), 0.2)
      .as[Long].collect().toSet
    assert(again == s20)
  }

  test("stratifiedSample: per-stratum rates exact at 0 and 1, default drops") {
    val df = spark.range(300).select(col("id").as("doc_id"),
      element_at(array(lit("en"), lit("de"), lit("xx")),
        (col("id") % 3 + 1).cast("int")).as("lang"))
    val kept = Curation.stratifiedSample(df, col("lang"), col("doc_id"),
      Map("en" -> 1.0, "de" -> 0.0)).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(kept.getOrElse("en", 0L) == 100L) // rate 1.0: every en doc
    assert(!kept.contains("de"))             // rate 0.0
    assert(!kept.contains("xx"))             // defaultRate 0.0
  }

  test("mixCorpus: integer weights exact, fractional part a nested deterministic draw") {
    val df = spark.range(900).select(col("id").as("doc_id"),
      element_at(array(lit("a"), lit("b"), lit("c")),
        (col("id") % 3 + 1).cast("int")).as("lang"))
    val mixed = Curation.mixCorpus(df, col("lang"), col("doc_id"),
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0), defaultWeight = 1.0)
    val byLang = mixed.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("a") == 600L, s"weight 2.0 must duplicate exactly: $byLang")
    assert(!byLang.contains("c"), "weight 0.0 must drop the stratum")
    assert(math.abs(byLang("b") - 150L) < 40, s"weight 0.5 drew ${byLang("b")}")
    // every 'a' doc appears with copies 1 AND 2
    assert(mixed.filter(col("lang") === "a").groupBy("doc_id").count()
      .filter(col("count") =!= 2).count() == 0)
    // the fractional draw is the SAME draw as hashSample (nested rates):
    // docs kept by weight 0.5's extra-copy draw == hashSample(0.5) keys
    val bDocs = df.filter(col("lang") === "b")
    val extra = Curation.mixCorpus(bDocs, col("lang"), col("doc_id"),
      Map("b" -> 0.5)).select("doc_id").as[Long].collect().toSet
    val sampled = Curation.hashSample(bDocs, col("doc_id"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(extra == sampled)
    // determinism across layouts
    val again = Curation.mixCorpus(df.repartition(11), col("lang"), col("doc_id"),
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0), defaultWeight = 1.0)
      .select("doc_id", "copy").as[(Long, Long)].collect().toSet
    assert(again == mixed.select("doc_id", "copy").as[(Long, Long)].collect().toSet)
  }

  test("deterministicShuffle: a reproducible permutation, seed changes order") {
    val df = (1L to 500L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run(seed: String, input: org.apache.spark.sql.DataFrame) =
      Curation.deterministicShuffle(input, col("doc_id"), seed)
        .select("pos", "doc_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val a = run("s1", df)
    assert(a.map(_._1) == (1L to 500L), "pos must be exactly 1..N")
    assert(a.map(_._2).toSet == (1L to 500L).toSet, "a permutation of the corpus")
    assert(a.map(_._2) != (1L to 500L), "order must actually change")
    assert(run("s1", df.repartition(13)) == a, "layout-independent")
    assert(run("s2", df) != a, "a new seed draws a new permutation")
  }

  test("packSequences: running token offsets chunk shard streams at the window") {
    // one shard: docs of 10, 250, 10, 300 tokens, window 256:
    // starts 0, 10, 260, 270 → packs 0, 0, 1, 1; offsets 0, 10, 4, 14
    def doc(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val df = Seq((1L, doc(10)), (2L, doc(250)), (3L, doc(10)), (4L, doc(300)))
      .toDF("doc_id", "text")
    val r = Curation.packSequences(df, lit(0), window = 256)
      .select("doc_id", "n_tokens", "pack_id", "offset_in_pack")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 10L, 0L, 0L), (2L, 250L, 0L, 10L),
      (3L, 10L, 1L, 4L), (4L, 300L, 1L, 14L)))
    intercept[IllegalArgumentException] {
      Curation.packSequences(df, lit(0), window = 0)
    }
  }

  test("repetition: duplicated word/2-gram fractions, degenerate short docs") {
    val df = Seq(
      (1L, "a a a a"),          // 1 distinct of 4 words; 1 distinct of 3 2-grams
      (2L, "a b c d"),          // all unique
      (3L, "a b a b a"),        // words 2/5 dup frac .6; 2-grams {a b, b a} of 4 → .5
      (4L, "x")                 // no 2-grams: frac defined as 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(df)
      .select("doc_id", "n_tokens", "dup_word_frac", "dup_2gram_frac")
      .as[(Long, Int, Double, Double)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      (1L, 4, 0.75, 0.6667), // 1 - 1/3 rounded
      (2L, 4, 0.0, 0.0),
      (3L, 5, 0.6, 0.5),
      (4L, 1, 0.0, 0.0)))
  }

  test("quantizeInt8: error bounded by scale/2, ints in [-127,127], zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.127f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector: no divide
      (3L, Seq(127.0f, -127.0f, 1.0f, 0.004f))
    ).toDF("vec_id", "embedding")
    val r = Embeddings.quantizeInt8(df)
      .select("vec_id", "q_embedding", "q_scale", "q_max_err", "q_l2sq")
      .as[(Long, Seq[Int], Double, Double, Long)].collect().sortBy(_._1)
    r.foreach { case (id, q, scale, err, l2) =>
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range: $q")
      assert(err <= scale / 2 + 1e-12, s"vec $id err $err exceeds scale/2 ${scale / 2}")
      assert(l2 == q.map(v => v.toLong * v).sum)
    }
    val zero = r.find(_._1 == 2L).get
    assert(zero._2 == Seq(0, 0, 0, 0) && zero._3 == 0.0 && zero._4 == 0.0)
    // max element always reconstructs exactly (it defines the scale)
    val v3 = r.find(_._1 == 3L).get
    assert(v3._2.take(2) == Seq(127, -127))
  }

  test("groupSplit: whole group on one side, fractions valid, bad fractions rejected") {
    val df = (1 to 400).map(i => (i.toLong, s"grp${i % 40}")).toDF("doc_id", "grp")
    val r = Curation.groupSplit(df, $"grp", trainFrac = 0.6, validFrac = 0.2)
      .select("grp", "split").as[(String, String)].collect()
    // every group maps to exactly one split value
    val byGroup = r.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byGroup.values.forall(_.length == 1),
      s"split straddles a group: ${byGroup.filter(_._2.length > 1)}")
    val splits = r.map(_._2).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")))
    // deterministic across invocations
    val again = Curation.groupSplit(df, $"grp", 0.6, 0.2)
      .select("grp", "split").as[(String, String)].collect()
    assert(r.sorted.toSeq == again.sorted.toSeq)
    // seed changes assignments (40 groups: astronomically unlikely equal)
    val reseeded = Curation.groupSplit(df, $"grp", 0.6, 0.2, seed = "other")
      .select("grp", "split").as[(String, String)].collect()
    assert(r.sorted.toSeq != reseeded.sorted.toSeq)
    intercept[IllegalArgumentException] {
      Curation.groupSplit(df, $"grp", 0.9, 0.2) // sums past 1
    }
  }

  test("product quantization: deterministic codebooks, exact on planted clusters") {
    // 3 well-separated clusters in 8 dims; 30 vectors
    def vec(base: Float, jitter: Float) =
      Array.tabulate(8)(i => base + (if (i % 2 == 0) jitter else -jitter))
    val rows = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, vec(c * 10.0f, (i / 3) * 0.01f).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // k = 3 matches the planted cluster count: the evenly-spaced init
    // lands one centroid per cluster, so codes and clusters align 1:1
    // (k > clusters would legitimately split a cluster across codes)
    val cb1 = Embeddings.pqCodebooks(df, m = 2, k = 3, iters = 3)
    val cb2 = Embeddings.pqCodebooks(df, m = 2, k = 3, iters = 3)
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq == cb2.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must be deterministic")
    val enc = Embeddings.pqEncode(df, cb1)
    val codes = enc.select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 30 && codes.values.forall(_.length == 2))
    assert(codes.values.forall(_.forall(c => c >= 0 && c < 3)))
    // same-cluster vectors share codes (jitter << cluster separation)
    for (c <- 0 until 3) {
      val cluster = (0 until 30).filter(_ % 3 == c).map(i => codes(i.toLong))
      assert(cluster.distinct.length == 1, s"cluster $c split: ${cluster.distinct}")
    }
    // ADC: query near cluster 0 must rank cluster-0 vectors first
    val q = Seq((1000L, vec(0.0f, 0.05f)))
    val top = Embeddings.pqAdcTopK(enc, cb1, q, k = 10)
      .select("neighbor_id").as[Long].collect()
    assert(top.length == 10 && top.forall(_ % 3 == 0),
      s"ADC pulled non-cluster-0 neighbors: ${top.toSeq}")
    // dim not divisible by m rejected
    intercept[IllegalArgumentException] {
      Embeddings.pqCodebooks(df, m = 3, k = 4)
    }
  }

  test("winsorize: planted outlier clipped, inliers untouched, exact counts") {
    // 99 well-behaved vectors + one with a huge coordinate
    val rows = (0 until 99).map(i =>
      (i.toLong, Seq(i / 100.0f, -i / 100.0f))) :+ (99L, Seq(1e30f, 0.5f))
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val r = Embeddings.winsorize(df, lo = 0.01, hi = 0.99)
      .select("vec_id", "w_embedding", "n_clipped")
      .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    val outlier = r.last
    assert(outlier._1 == 99L)
    assert(outlier._2.head < 1e29f, s"outlier not clipped: ${outlier._2}")
    assert(outlier._3 >= 1)
    // median vectors untouched
    val mid = r(50)
    assert(mid._3 == 0 && mid._2 == Seq(0.5f, -0.5f))
    // total clipped coordinates ≈ 2% per dim (p01/p99 band, 100 rows)
    val totalClipped = r.map(_._3).sum
    assert(totalClipped >= 2 && totalClipped <= 8, s"clip count off: $totalClipped")
    intercept[IllegalArgumentException] {
      Embeddings.winsorize(df, lo = 0.5, hi = 0.5)
    }
  }

  test("keyProfile: hot key surfaces with exact count, share, and uniform multiple") {
    // key "hot" holds 60 of 100 rows; 40 keys of 1 row fill the rest
    val rows = (0 until 60).map(i => (i.toLong, "hot")) ++
      (0 until 40).map(i => (100L + i, s"cold$i"))
    val df = rows.toDF("id", "k")
    val top = Skew.keyProfile(df, "k", topK = 3)
      .as[(String, Long, Double, Double)].collect()
    assert(top.length == 3)
    assert(top.head._1 == "hot" && top.head._2 == 60L)
    assert(top.head._3 == 0.6) // share of 100 rows
    // 41 distinct keys, uniform load = 100/41 rows; hot is 60/(100/41)
    assert(math.abs(top.head._4 - 60.0 * 41 / 100) < 0.001)
    assert(top(1)._2 == 1L) // next keys are singletons, tie-broken by key
    assert(top(1)._1 == "cold0" && top(2)._1 == "cold1")
  }

  test("hardNegatives: same-label twins excluded, ranking honors similarity") {
    // pairs of near-identical vectors with alternating labels: each
    // query's most similar vector SHARES its label (the twin) and must
    // be skipped; the best different-label vector wins rank 1
    val embs = (0 until 20).map { i =>
      val base = (i / 2).toFloat
      (i.toLong, Array.tabulate(4)(d => base + d + (i % 2) * 0.001f).toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val r = Similarity.hardNegatives(embs, embs.filter($"vec_id" < 4), k = 3)
      .select("query_id", "rk", "neighbor_id", "n_label")
      .as[(Long, Int, Long, Int)].collect()
    assert(r.length == 12) // 4 queries × 3
    r.foreach { case (q, _, n, nl) =>
      assert(n != q)
      assert(nl == (1 - q % 2), s"query $q got same-label negative $n")
    }
  }

  test("labelCentroids: exact means per label, counts right") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 6.0f), 0),
      (3L, Seq(10.0f, 20.0f), 1)
    ).toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val r = Embeddings.labelCentroids(df)
      .select("label", "n_vectors", "centroid")
      .as[(Int, Long, Seq[Double])].collect().sortBy(_._1)
    assert(r.toSeq == Seq((0, 2L, Seq(2.0, 4.0)), (1, 1L, Seq(10.0, 20.0))))
  }

  test("lengthBuckets: near-equal bands, monotone in length, no global sort") {
    def doc(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val df = (1 to 160).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val r = Curation.lengthBuckets(df, nBuckets = 8)
      .select("doc_id", "n_tokens", "bucket")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(r.map(_._3).distinct.sorted.toSeq == (0 to 7))
    // monotone: longer docs never land in a lower bucket
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"bucket dropped: $a -> $b")
    }
    // balanced: 160 docs / 8 buckets = 20 each (exact here: unique lengths)
    val sizes = r.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.values.forall(s => s >= 18 && s <= 22), s"unbalanced: $sizes")
    // plan of the assignment pass is shuffle-free (bounds are literals)
    val plan = Curation.lengthBuckets(df, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucket assignment shuffled:\n${plan.take(400)}")
    intercept[IllegalArgumentException] { Curation.lengthBuckets(df, 1) }
  }

  test("bm25: hits outrank misses, tf saturates, length normalization bites") {
    val df = Seq(
      (1L, "spark spark spark spark is here"),     // high tf, short
      (2L, "spark on a much longer document " + ("pad " * 20).trim), // tf 1, long
      (3L, "spark is here"),                       // tf 1, short
      (4L, "nothing relevant at all")              // tf 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bm25(df, terms = Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(r(4L) == 0.0)
    assert(r(1L) > r(3L), "more occurrences must score higher")
    assert(r(3L) > r(2L), "same tf in a longer doc must score lower")
    // k1 saturation: 4 occurrences is nowhere near 4x one occurrence
    assert(r(1L) < r(3L) * 4)
    intercept[IllegalArgumentException] { TextAnalysis.bm25(df, Seq.empty) }
  }

  test("incrementalDedup: exact and permuted dups dropped, fresh docs survive") {
    val base = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma"),     // exact dup of 1
      (11L, "gamma beta alpha"),     // permutation of 1 → set-fp dup
      (12L, "Alpha Beta Gamma"),     // case-normalized exact dup of 1
      (13L, "totally new content")   // fresh
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(batch, base)
      .select("doc_id").as[Long].collect().toSet
    assert(r == Set(13L), s"survivors: $r")
    // schema passes through untouched (no internal columns leak)
    assert(Dedup.incrementalDedup(batch, base).columns.toSeq == Seq("doc_id", "text"))
  }

  test("labelAgreement: planted mislabel scores 0, clean points score 1") {
    // two tight clusters; vector 19 sits in cluster 0 but wears label 1
    val embs = (0 until 20).map { i =>
      val c = if (i == 19) 0 else i % 2
      val lab = if (i == 19) 1 else c
      (i.toLong, Array.tabulate(4)(d => c * 10.0f + d + i * 0.001f).toSeq, lab)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val r = Similarity.labelAgreement(embs, k = 5)
      .select("vec_id", "label", "agreement")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    val planted = r.find(_._1 == 19L).get
    assert(planted._3 == 0.0, s"mislabeled point not flagged: $planted")
    // clean points: neighbors are their own cluster (the lone intruder
    // can appear among 5 of 9 same-cluster neighbors at most once)
    r.filter(_._1 != 19L).foreach { case (id, _, a) =>
      assert(a >= 0.8, s"clean point $id suspicious: $a")
    }
  }

  test("labelAgreement: ANN path engages above threshold and still flags the planted mislabel") {
    // same planted clusters as the exact-path test; annThreshold = 0
    // forces the full-corpus mode onto LSH candidates (the 100 TB path)
    val embs = (0 until 20).map { i =>
      val c = if (i == 19) 0 else i % 2
      val lab = if (i == 19) 1 else c
      (i.toLong, Array.tabulate(4)(d => c * 10.0f + d + i * 0.001f).toSeq, lab)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val ann = Similarity.labelAgreement(embs, k = 5, annThreshold = 0)
      .select("vec_id", "label", "agreement")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    // tight clusters share hyperplane sign patterns, so the intruder
    // must surface with its cluster and disagree with every neighbor
    val planted = ann.find(_._1 == 19L)
    assert(planted.isDefined, s"planted point missing from ANN agreement: ${ann.toSeq}")
    assert(planted.get._3 == 0.0, s"mislabeled point not flagged: ${planted.get}")
    // vectors the buckets do surface must still look clean
    ann.filter(_._1 != 19L).foreach { case (id, _, a) =>
      assert(a >= 0.8, s"clean point $id suspicious via ANN: $a")
    }
  }

  test("bpeTrain: classic corpus learns (e,s)(es,t)(est,</w>), overlaps merge greedily") {
    // Sennrich et al.'s worked example: low x5, lower x2, newest x6, widest x3
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, numMerges = 3)
    assert(merges.map(m => (m._2, m._3, m._4)) ==
      Seq(("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L)), s"got $merges")
    // greedy left-to-right: "aaaa" merges (a,a) into "aa aa", never "a aa a";
    // the follow-up pair set proves the representation is right
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(runs, numMerges = 2)
    assert(m2.map(m => (m._2, m._3)) == Seq(("a", "a"), ("aa", "</w>")), s"got $m2")
    // deterministic across invocations
    assert(TextAnalysis.bpeTrain(corpus, 3) == merges)
    intercept[IllegalArgumentException] { TextAnalysis.bpeTrain(corpus, 0) }
  }

  test("unigramTrain: whole-word pieces win, counts reconcile, deterministic") {
    // a corpus of two words: "abcd" (40×) and "abxy" (10×). The seed
    // scores "abcd" (freq 40 × len 4 = 160) top; Viterbi then gives
    // every "abcd" occurrence ONE piece (k pieces multiply k
    // sub-unity probabilities — a whole-word piece always beats its
    // own splits), so its expected count equals its word count
    val corpus = (Seq.fill(20)("abcd abcd") ++ Seq.fill(10)("abxy"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val v = TextAnalysis.unigramTrain(corpus, vocabSize = 8,
      rounds = 2, maxPieceLen = 4)
    val byPiece = v.map(r => r._2 -> r._3).toMap
    assert(byPiece("abcd") == 40L, s"got $v")
    assert(byPiece("abxy") == 10L, s"got $v")
    // ranks are (count desc, piece asc): abcd before abxy
    assert(v.head._2 == "abcd" && v.head._1 == 1)
    // logprob = ln(count/total) of exact integers
    val total = v.map(_._3).sum.toDouble
    assert(math.abs(v.head._4 - math.log(40.0 / total)) < 1e-12)
    // deterministic across invocations (the tk06 pin's contract)
    assert(TextAnalysis.unigramTrain(corpus, 8, 2, 4) == v)
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramTrain(corpus, 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramTrain(corpus, 8, rounds = 2, maxPieceLen = 1)
    }
  }

  test("resample: aligned daily grid, forward fill, nulls before first obs") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-02 10:00:00"), 5.0),
      (1L, ts("2024-01-04 09:00:00"), 7.0)
    ).toDF("user_id", "ts", "value")
    val r = Analytics.resample(df, "user_id", "ts", "value", stepSec = 86400L)
      .select(date_format($"ts", "yyyy-MM-dd HH:mm").as("g"),
        $"filled_value".as("v"))
      .as[(String, Option[Double])].collect().sortBy(_._1).toSeq
    // grid: Jan 2 00:00 (before the 10:00 obs → null), Jan 3 (carries 5.0), Jan 4 00:00 (still 5.0)
    assert(r == Seq(
      ("2024-01-02 00:00", None),
      ("2024-01-03 00:00", Some(5.0)),
      ("2024-01-04 00:00", Some(5.0))))
  }

  test("funnel: a click with many follow-ups converts once; outside window not at all") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 20:00:00")),
      (2L, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts")
    val purchases = Seq(
      (1L, ts("2024-01-01 10:30:00")), (1L, ts("2024-01-01 10:45:00")), // both inside click 1's window
      (2L, ts("2024-01-01 13:00:00"))                                    // 3h later: outside 2h window
    ).toDF("user_id", "ts")
    val r = Analytics.funnel(clicks, purchases, "user_id", "ts", windowSec = 7200L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 2L, 1L), (2L, 1L, 0L)), s"got $r")
  }

  test("cohorts: users counted in their first week and every active week") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-09 10:00:00")), // weeks 1 and 2
      (2L, ts("2024-01-02 10:00:00")),                                  // week 1 only
      (3L, ts("2024-01-10 10:00:00"))                                   // joins in week 2
    ).toDF("user_id", "ts")
    val r = Analytics.cohorts(df, "user_id", "ts")
      .select(date_format($"cohort_week", "MM-dd").as("c"),
        date_format($"activity_week", "MM-dd").as("a"), $"n_active")
      .as[(String, String, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(r == Seq(("01-01", "01-01", 2L), ("01-01", "01-08", 1L),
      ("01-08", "01-08", 1L)), s"got $r")
  }

  test("histogram: max clamps into last bucket, constant column collapses, nulls dropped") {
    val df = (Seq.tabulate(100)(i => Option(i.toDouble)) :+ None)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val h = Profile.histogram(df, "x", nBuckets = 10)
      .select("bucket", "n").as[(Int, Long)].collect().toMap
    assert(h.keys.toSeq.sorted == (0 to 9))
    assert(h.values.sum == 100L) // null row dropped
    // range [0, 99], width 9.9: bucket 9 holds [89.1, 99] = 10 values incl. the max
    assert(h(9) == 10L, s"got $h")
    val const = Seq((1L, 5.0), (2L, 5.0)).toDF("id", "x")
    val hc = Profile.histogram(const, "x", 10).select("bucket", "n")
      .as[(Int, Long)].collect().toSeq
    assert(hc == Seq((0, 2L)))
    intercept[IllegalArgumentException] { Profile.histogram(df, "x", 0) }
  }

  test("applyChanges: delete/update/insert, last-write-wins, unknown op throws") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "x", "U", 1L), (1L, "y", "U", 2L),  // conflict: seq 2 wins
      (2L, "b", "D", 1L),                      // delete
      (9L, "new", "I", 1L),                    // insert
      (7L, "late", "U", 1L)                    // update of absent key upserts
    ).toDF("k", "v", "op", "seq")
    val r = Cdc.applyChanges(snap, changes, "k")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, "y"), (3L, "c"), (7L, "late"), (9L, "new")), s"got $r")
    val bad = Seq((1L, "x", "Z", 1L)).toDF("k", "v", "op", "seq")
    intercept[Exception] { Cdc.applyChanges(snap, bad, "k").collect() }
  }

  test("scd2: intervals chain per key, last row is current") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ch = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (1L, ts("2024-01-05 00:00:00"), "b"),
      (2L, ts("2024-01-03 00:00:00"), "x")
    ).toDF("k", "ts", "v")
    val r = Cdc.scd2(ch, "k", "ts")
      .select($"k", $"v", date_format($"valid_to", "MM-dd").as("to"), $"is_current")
      .as[(Long, String, Option[String], Boolean)].collect()
      .sortBy(x => (x._1, x._2)).toSeq
    assert(r == Seq(
      (1L, "a", Some("01-05"), false), // superseded by b at Jan 5
      (1L, "b", None, true),
      (2L, "x", None, true)), s"got $r")
  }

  test("stemLite: suffix rules in order, guards protect short words, stopwords gone") {
    val df = Seq((1L, "the running cats pushes dogs is sing a red")).toDF("doc_id", "text")
    // running→runn (ing), cats→cat (s), pushes→push (es), dogs→dog (s),
    // sing stays (len 4 < 5 for ing... but matches '%s'? no — endsWith ing
    // checked first needs len>=5; then 's' rule: sing endsWith g), red stays
    val r = TextAnalysis.stemLite(df).select("n_kept", "n_stems").as[(Int, Int)].head()
    assert(r == ((6, 6)))
    val fp1 = TextAnalysis.stemLite(df).select("stem_fingerprint").as[String].head()
    val expected = Seq("runn", "cat", "push", "dog", "sing", "red").mkString(" ")
    val fp2 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp1 == fp2, s"fingerprint mismatch (expected stems: $expected)")
  }

  test("fuzzyPairs: band blocking loses nothing, extraBlock trades recall for cost") {
    val df = Seq("kitten", "sitten", "sittin", "sitting", "bolt", "belt", "unrelated")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "name")
    val pairs = Fuzzy.fuzzyPairs(df, "name", maxDist = 2)
      .select("name_a", "name_b", "dist").as[(String, String, Int)].collect().toSet
    // kitten-sitten 1, sitten-sittin 1, sittin-sitting 1 (length band ±1!),
    // kitten-sittin 2, sitten-sitting 2, bolt-belt 1
    assert(pairs == Set(
      ("kitten", "sitten", 1), ("sitten", "sittin", 1), ("sittin", "sitting", 1),
      ("kitten", "sittin", 2), ("sitten", "sitting", 2), ("belt", "bolt", 1)),
      s"got $pairs")
    // brute force parity: band blocking must equal the unblocked join
    val names = df.select($"name").distinct().as[String].collect()
    val brute = (for { a <- names; b <- names if a < b
      if org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(a, b) <= 2 } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)) == brute)
    // extraBlock on first char: belt-bolt survives (same 'b'), cross-letter dies
    val blocked = Fuzzy.fuzzyPairs(df, "name", 2,
        Some(c => substring(c, 1, 1)))
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(blocked.contains(("belt", "bolt")))
    assert(!blocked.contains(("kitten", "sitten"))) // k vs s blocks apart
  }

  test("fuzzyPairs: over-maxBucket length band drops whole and is counted") {
    // 12 length-5 values (one hot band) + a cold length-4 pair
    val hot = (0 until 12).map(i => f"hot$i%02d")
    val df = (hot ++ Seq("belt", "bolt")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "name")
    val pairs = Fuzzy.fuzzyPairs(df, "name", maxDist = 2, maxBucket = 10)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    // the hot band's quadratic pairs are gone; the cold band survives
    assert(pairs == Set(("belt", "bolt")), s"got $pairs")
    assert(OpsMetrics.lastDrops("graft.fuzzy_pairs.drops") == Some((1L, 12L)),
      s"drop metric: ${OpsMetrics.lastDrops("graft.fuzzy_pairs.drops")}")
    // under the limit nothing drops and the hot pairs come back
    val free = Fuzzy.fuzzyPairs(df, "name", maxDist = 2, maxBucket = 1000)
    assert(free.count() > 1)
    assert(OpsMetrics.lastDrops("graft.fuzzy_pairs.drops") == Some((0L, 0L)))
  }

  test("incrementalNearDup: near-twin of base dropped, fresh doc survives, ids may overlap") {
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val base = Seq(
      (10L, words),                       // the base doc
      (11L, (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, words + " extra"),            // near-twin (light edit) → dropped
      (21L, (1 to 30).map(i => s"q$i").mkString(" ")), // fresh → survives
      (10L, (1 to 30).map(i => s"r$i").mkString(" "))  // id COLLIDES with base but
                                          // content is fresh → must survive
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalNearDup(batch, base, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(r == Set(21L, 10L), s"survivors: $r")
    // schema passes through untouched
    assert(Dedup.incrementalNearDup(batch, base).columns.toSeq == Seq("doc_id", "text"))
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(batch.withColumn("__nd_new", lit(1)), base)
    }
  }

  test("dropBoilerplateLines: hot lines vanish everywhere, order survives, empty docs disappear") {
    val df = Seq(
      (1L, "unique alpha\nsubscribe now\nunique beta"),
      (2L, "subscribe now\nonly here"),
      (3L, "subscribe now\nanother one\nsubscribe now"),
      (4L, "subscribe now") // nothing left after the drop
    ).toDF("doc_id", "text")
    // "subscribe now" appears in 4 distinct docs > maxDf 2 → dropped
    val r = Dedup.dropBoilerplateLines(df, maxDf = 2)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(r == Map(
      1L -> "unique alpha\nunique beta",
      2L -> "only here",
      3L -> "another one"), r.toString)
    // repeated line within ONE doc does not count as multiple docs
    val one = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    assert(Dedup.dropBoilerplateLines(one, maxDf = 2)
      .filter($"doc_id" === 1L).head.getString(1) == "x\nx\nx")
    intercept[IllegalArgumentException] { Dedup.dropBoilerplateLines(df, 0) }
  }

  test("sessionize: gap splits exactly, equal-gap stays, tie-break totalizes") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq(
      (1L, 7L, t(0)),    // u7 s1
      (2L, 7L, t(100)),  // u7 s1 (gap 100 <= 900)
      (3L, 7L, t(1000)), // u7 s1 (gap 900 exactly: strict >, same session)
      (4L, 7L, t(1901)), // u7 s2 (gap 901 > 900)
      (5L, 9L, t(50)),   // u9 s1 — other user unaffected
      (6L, 7L, t(1901))  // u7 s2, same ts as 4: event_id tie-break
    ).toDF("event_id", "user_id", "ts")
    val r = Analytics.sessionize(df, col("user_id"), col("ts"),
        gapSec = 900, tieBreak = col("event_id"))
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L, 6L -> 2L), r.toString)
    intercept[IllegalArgumentException] {
      Analytics.sessionize(df, col("user_id"), col("ts"), 0, col("event_id"))
    }
  }

  test("debounce: burst keeps only its first event, quiet gap resets the clock") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    // chained semantics: 0,5,9,14 at gap 10 is ONE burst (each kept-or-
    // dropped event is within 10 of its predecessor) → only t=0 kept;
    // t=30 is past the gap → kept
    val df = Seq(
      (1L, 7L, t(0)), (2L, 7L, t(5)), (3L, 7L, t(9)), (4L, 7L, t(14)),
      (5L, 7L, t(30)),
      (6L, 9L, t(5)) // other key unaffected
    ).toDF("event_id", "user_id", "ts")
    val kept = Analytics.debounce(df, col("user_id"), col("ts"),
        gapSec = 10, tieBreak = col("event_id"))
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 6L), s"kept: $kept")
  }

  test("bigramLogppl: hand-computed smoothed scores; repetition scores lower") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // V=3; c12: (a,b)=3,(b,a)=1,(b,c)=1; c1: a=3, b=2; alpha=0.5
    val pAB = -math.log(3.5 / 4.5); val pBX = -math.log(1.5 / 3.5)
    val want1 = BigDecimal((pAB * 2 + pBX) / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val want2 = BigDecimal((pAB + pBX) / 2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val r = TextAnalysis.bigramLogppl(df)
      .select("doc_id", "n_bigrams", "avg_neg_logp")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(r(0)._2 == 3L && r(1)._2 == 2L)
    assert(BigDecimal(r(0)._3) == want1 && BigDecimal(r(1)._3) == want2, r.toSeq.toString)
    assert(r(0)._3 < r(1)._3, "repetitive doc must look more predictable")
    intercept[IllegalArgumentException] { TextAnalysis.bigramLogppl(df, alpha = 0) }
  }

  test("correlations: perfect +/- pairs exact, constant column yields null") {
    val df = (1 to 20).map(i => (i.toDouble, 2.0 * i, -1.0 * i, 5.0))
      .toDF("x", "y", "z", "c")
    val r = Profile.correlations(df, Seq("x", "y", "z", "c"))
      .select("col_a", "col_b", "pearson_r")
      .as[(String, String, Option[Double])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r(("x", "y")).contains(1.0) && r(("x", "z")).contains(-1.0) &&
           r(("y", "z")).contains(-1.0), r.toString)
    assert(r(("x", "c")).isEmpty && r(("y", "c")).isEmpty && r(("z", "c")).isEmpty)
    intercept[IllegalArgumentException] { Profile.correlations(df, Seq("x")) }
  }

  test("iqrOutliers: planted outlier flagged in its group only") {
    // group a: 1..9 plus a wild 1000; group b: constant (IQR 0 → only
    // unequal values could flag, and there are none)
    val df = ((1 to 9).map(i => ("a", i.toDouble)) :+ ("a", 1000.0)) ++
      Seq.fill(5)(("b", 42.0))
    val r = Profile.iqrOutliers(df.toDF("g", "v"), col("v"), col("g"))
      .select("g", "v", "is_outlier").as[(String, Double, Boolean)].collect()
    assert(r.filter(_._3).map(x => (x._1, x._2)).toSeq == Seq(("a", 1000.0)), r.toSeq.toString)
    assert(r.count(_._1 == "b") == 5 && r.filter(_._1 == "b").forall(!_._3))
  }

  test("samplePerGroup: cap respected, deterministic, clobber guarded") {
    val df = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "g")
    val r1 = Curation.samplePerGroup(df, col("g"), col("id"), n = 3)
      .select("id", "g").as[(Long, String)].collect().sortBy(_._1)
    assert(r1.count(_._2 == "x") == 3 && r1.count(_._2 == "y") == 3)
    val r2 = Curation.samplePerGroup(df, col("g"), col("id"), n = 3)
      .select("id", "g").as[(Long, String)].collect().sortBy(_._1)
    assert(r1.toSeq == r2.toSeq) // md5 draw: repeatable
    // a group smaller than n keeps all members
    val small = Curation.samplePerGroup(df.filter(col("id") <= 3), col("g"),
      col("id"), n = 10).count()
    assert(small == 3)
    intercept[IllegalArgumentException] {
      Curation.samplePerGroup(df.withColumn("__spg_rank", lit(1)), col("g"), col("id"), 1)
    }
  }

  test("mixToTokenBudget: binding stratum kept whole, shares land near target") {
    // en is token-rich, zh is scarce relative to its 50% target → zh
    // binds (rate ~1, all kept); en samples down to zh's budget
    val df = ((1 to 400).map(i => (i.toLong, "en", 100L)) ++
      (401 to 440).map(i => (i.toLong, "zh", 100L)))
      .toDF("doc_id", "lang", "n_toks")
    val kept = Curation.mixToTokenBudget(df, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.5), tokens = col("n_toks"))
      .groupBy("lang").agg(sum(col("n_toks")).as("t"))
      .as[(String, Long)].collect().toMap
    assert(kept("zh") == 4000L, s"binding stratum must keep everything: $kept")
    // en target = same token mass as zh; md5-draw granularity allows slack
    assert(kept("en") >= 2000L && kept("en") <= 6000L, kept.toString)
    // deterministic: identical result on re-run
    val again = Curation.mixToTokenBudget(df, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.5), tokens = col("n_toks")).count()
    assert(again == Curation.mixToTokenBudget(df, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.5), tokens = col("n_toks")).count())
    // strata outside the target map are dropped
    val extra = df.union(Seq((900L, "xx", 50L)).toDF("doc_id", "lang", "n_toks"))
    assert(Curation.mixToTokenBudget(extra, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.5), tokens = col("n_toks"))
      .filter($"lang" === "xx").count() == 0)
    intercept[IllegalArgumentException] {
      Curation.mixToTokenBudget(df, col("lang"), col("doc_id"), Map("en" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      Curation.mixToTokenBudget(df, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "nope" -> 0.5), tokens = col("n_toks"))
    }
  }

  test("redactPii: counts match, placeholders land, clean text untouched") {
    val df = Seq(
      (1L, "mail a@b.co and c.d@e-f.org twice"),
      (2L, "server 10.0.0.1 and 192.168.1.255 up"),
      (3L, "call +1 555-0099 now"),
      (4L, "nothing sensitive here"),
      (5L, "mix x@y.io at 8.8.8.8 call +44 123-4567")
    ).toDF("doc_id", "text")
    val r = Curation.redactPii(df)
      .select("doc_id", "n_email", "n_ip", "n_phone", "redacted")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 2, 0, 0, "mail <EMAIL> and <EMAIL> twice")))
    assert(r(1) == ((2L, 0, 2, 0, "server <IP> and <IP> up")))
    assert(r(2) == ((3L, 0, 0, 1, "call <PHONE> now")))
    assert(r(3) == ((4L, 0, 0, 0, "nothing sensitive here")))
    assert(r(4) == ((5L, 1, 1, 1, "mix <EMAIL> at <IP> call <PHONE>")))
    // output column clobber guard
    intercept[IllegalArgumentException] {
      Curation.redactPii(df.withColumn("redacted", lit("x")))
    }
  }

  test("domainProfile: www folds into the registrable domain, shares sum to 1") {
    val df = Seq(
      (1L, "https://www.alpha.com/x"),
      (2L, "https://alpha.com/y"),
      (3L, "https://beta.org/z"),
      (4L, "http://beta.org/w?q=1"),
      (5L, "https://gamma.io/v"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "url")
    val r = Curation.domainProfile(df, col("url"))
      .select("host", "tld", "n_docs", "share")
      .as[(String, String, Long, Double)].collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq(("alpha.com", "com", 2L), ("beta.org", "org", 2L), ("gamma.io", "io", 1L)))
    assert(math.abs(r.map(_._4).sum - 1.0) < 1e-6, s"shares: ${r.toSeq}")
  }

  test("tfidfTop: rare terms outrank common ones, ties break on term") {
    val df = Seq(
      (1L, "common rare1 common common"),
      (2L, "common zebra common"),
      (3L, "common common")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTop(df, k = 2)
      .select("doc_id", "rk", "term").as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // doc 1: tf(common)=3 but df=3 (idf=1); rare1 tf=1 df=1 (idf=ln(2)+1≈1.69)
    // 3*1.0 = 3.0 beats 1.69 → common first, rare1 second
    assert(r(1L) == Seq("common", "rare1"), s"got ${r(1L)}")
    assert(r(2L) == Seq("common", "zebra"))
    assert(r(3L) == Seq("common")) // only one distinct term
    intercept[IllegalArgumentException] { TextAnalysis.tfidfTop(df, 0) }
  }

  test("abReadout: assignment deterministic and exhaustive, rates consistent") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = (1 to 40).map(u => (u.toLong, ts("2024-01-01 10:00:00")))
      .toDF("user_id", "ts")
    val purchases = (1 to 40).filter(_ % 4 == 0)
      .map(u => (u.toLong, ts("2024-01-01 10:30:00"))).toDF("user_id", "ts")
    val r = Analytics.abReadout(clicks, purchases, "user_id", "ts", 7200L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r.map(_._1) == Seq("A", "B"))
    assert(r.map(_._2).sum == 40L) // every user lands somewhere
    r.foreach { case (_, users, conv, rate) =>
      assert(conv <= users && rate == math.rint(conv.toDouble / users * 10000) / 10000)
    }
    // rerun: identical assignment (no RNG)
    val again = Analytics.abReadout(clicks, purchases, "user_id", "ts", 7200L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(again == r)
  }

  test("qualityReport: violations counted, null predicate fails closed") {
    val df = Seq(
      (Some(1L), 5.0), (Some(2L), -1.0), (None, 3.0)
    ).toDF("k", "v")
    val r = Profile.qualityReport(df, Seq(
        "k_not_null" -> $"k".isNotNull,
        "v_positive" -> ($"v" > 0),
        // predicate is NULL for the null-k row → counts as violation
        "k_small" -> ($"k" < 10)))
      .select("rule", "n_violations", "passed")
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      ("k_not_null", 1L, false),
      ("k_small", 1L, false), // null k fails closed
      ("v_positive", 1L, false)), s"got $r")
    intercept[IllegalArgumentException] { Profile.qualityReport(df, Seq.empty) }
  }

  test("weightedSample: heavy rows dominate, deterministic, plan is TakeOrdered") {
    // 100 heavy rows (w=50) among 900 light (w=1): a 50-sample should
    // be mostly heavy (each heavy row ~50x more likely than light)
    val df = (0 until 1000).map(i =>
      (i.toLong, if (i < 100) 50.0 else 1.0)).toDF("doc_id", "w")
    val s1 = Curation.weightedSample(df, $"w", $"doc_id", k = 50)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1.length == 50)
    val heavy = s1.count(_ < 100)
    assert(heavy >= 35, s"heavy rows underrepresented: $heavy/50")
    // deterministic
    val s2 = Curation.weightedSample(df, $"w", $"doc_id", 50)
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 == s2)
    // different seed → different sample
    val s3 = Curation.weightedSample(df, $"w", $"doc_id", 50, seed = "other")
      .select("doc_id").as[Long].collect().toSeq
    assert(s1 != s3)
    // top-k plans as TakeOrderedAndProject, not a global sort
    val p = Curation.weightedSample(df, $"w", $"doc_id", 50)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("saltedJoin never clobbers a user column named like the salt") {
    val big = Seq((1, "a"), (2, "b")).toDF("k", "__graft_salt")
    val small = Seq((1, "x")).toDF("sk", "sv")
    val r = Skew.saltedJoin(big, small, "k", "sk", salts = 4)
    assert(r.columns.count(_ == "__graft_salt") == 1) // user column intact
    assert(r.select("__graft_salt").as[String].collect().toSeq == Seq("a"))
  }

  test("dropDuplicateParagraphs: keep-first across docs; empty docs survive") {
    val d = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),      // beta already seen in doc 1
      (3L, "alpha\nbeta"),      // everything already seen
      (4L, "epsilon\n\nzeta")   // empty paragraph artifact dropped
    ).toDF("doc_id", "text")
    val r = Dedup.dropDuplicateParagraphs(d)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(r == Seq("alpha\nbeta\ngamma", "delta", "", "epsilon\nzeta"), r)
  }

  test("canonicalizeUrl: scheme/host case, ports, tracking params, fragments") {
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/Path/One?utm_source=a&q=1#frag",
       "http://www.example.com/Path/One?q=1"),
      ("https://Host.io:443/x?fbclid=zz", "https://host.io/x"),
      ("https://host.io/x?q=1&gclid=z&r=2", "https://host.io/x?q=1&r=2"),
      ("http://host.io:8080/x", "http://host.io:8080/x"), // non-default port kept
      ("http://host.io/x?fbclidx=1", "http://host.io/x?fbclidx=1"), // not a tracker
      ("http://host.io/UPPER/Case", "http://host.io/UPPER/Case")) // path case kept
    val df = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val r = Curation.canonicalizeUrl(df, col("url"))
      .orderBy("doc_id").select("canonical_url").as[String].collect().toSeq
    assert(r == cases.map(_._2), r.zip(cases.map(_._2)).filter(p => p._1 != p._2))
  }

  test("gopherQuality: each rule fails the right document") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (1L, s"the quick engine visits be docks $fifty"),          // passes all
      (2L, "the be short text"),                                 // < 50 words
      (3L, s"the be $fifty " + Seq.fill(20)("### ### ###").mkString(" ")), // symbols
      (4L, s"the be $fifty " + Seq.fill(60)("1234 5678").mkString(" ")),   // alpha ratio
      (5L, s"zz yy $fifty")                                      // < 2 stop words
    ).toDF("doc_id", "text")
    val r = QualityRules.gopherQuality(d).orderBy("doc_id")
      .select("keep").as[Boolean].collect().toSeq
    assert(r == Seq(true, false, false, false, false), r)
  }

  test("drift: added/removed/retyped/kept statuses and exact null movement") {
    val before = Seq((1L, Some("a"), 1.0), (2L, None, 2.0))
      .toDF("id", "name", "score")
    val after = Seq(("1", Some("a"), true), ("2", None, false))
      .toDF("id", "name", "active") // id retyped, score removed, active added
    val r = Profile.drift(before, after).orderBy("column")
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(r == Seq(("active", "added"), ("id", "retyped"),
      ("name", "kept"), ("score", "removed")), r)
    val name = Profile.drift(before, after)
      .filter(col("column") === "name").collect()(0)
    assert(name.getLong(4) == 1L && name.getLong(5) == 2L) // 1 null of 2 before
    assert(name.getLong(6) == 1L && name.getLong(7) == 2L)
  }

  test("dropDuplicateWindows: shared 4-token runs cut from every copy; in-doc repeats kept") {
    val d = Seq(
      (1L, "a b c d e f g h x"),
      (2L, "z a b c d e f g h"),
      (3L, "p q r s p q r s t")). // in-doc repeat only → untouched
      toDF("doc_id", "text")
    val r = Dedup.dropDuplicateWindows(d, w = 4, minDf = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_dup_tokens", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(r == Seq(
      (1L, 9, 8, "x"),
      (2L, 9, 8, "z"),
      (3L, 9, 0, "p q r s p q r s t")), r)
  }

  test("blocklistFilter: case-insensitive literal counts, keep by total budget") {
    val d = Seq(
      (1L, "Bad Word here and BAD WORD there"),
      (2L, "clean text entirely"),
      (3L, "bad wordbad word")). // adjacent occurrences both count
      toDF("doc_id", "text")
    val r = Curation.blocklistFilter(d, Seq("bad word"), maxHits = 1)
      .orderBy("doc_id").select("doc_id", "n_hits", "keep")
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(r == Seq((1L, 2, false), (2L, 0, true), (3L, 2, false)), r)
  }

  test("scd2Apply: closed history untouched, open rows close at the batch ts, new keys open") {
    def ts(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val hist = Seq((1L, ts(1), "a"), (1L, ts(5), "b"), (2L, ts(2), "x"))
      .toDF("k", "ts", "v")
    val dim = Cdc.scd2(hist, "k", "ts")
    val batch = Seq((1L, ts(9), "c"), (3L, ts(9), "new")).toDF("k", "ts", "v")
    val r = Cdc.scd2Apply(dim, batch, "k", "ts")
      .orderBy("k", "valid_from")
      .select("k", "v", "is_current").as[(Long, String, Boolean)]
      .collect().toSeq
    assert(r == Seq((1L, "a", false), (1L, "b", false), (1L, "c", true),
      (2L, "x", true), (3L, "new", true)), r)
    // equivalence with a full rebuild on the append-only feed
    val full = Cdc.scd2(hist.unionByName(batch), "k", "ts")
      .orderBy("k", "valid_from")
      .select("k", "v", "is_current").as[(Long, String, Boolean)]
      .collect().toSeq
    assert(r == full, (r, full))
  }

  test("dsirSelect: target-like docs outscore and get selected; empty doc scores 0") {
    val corpus = Seq(
      (1L, "alpha alpha alpha alpha"),
      (2L, "omega omega omega omega"),
      (3L, " ")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") === 1)
    val r = Curation.dsirSelect(corpus, target, frac = 0.4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "log_w", "selected")
      .as[(Long, Int, Double, Boolean)].collect().toSeq
    assert(r(0)._3 > 0 && r(0)._4, r(0))   // target-like: positive, kept
    assert(r(1)._3 < 0 && !r(1)._4, r(1))  // target-unlike: negative, cut
    assert(r(2)._2 == 0 && r(2)._3 == 0.0, r(2))
  }

  test("orderedFunnel: order matters, greedy-earliest matching, window cut") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: a → b → c in order, inside the window → completed
      (1L, ts(0), "a"), (1L, ts(10), "b"), (1L, ts(20), "c"),
      // user 2: c BEFORE a/b — order violated → started, not completed
      (2L, ts(0), "c"), (2L, ts(10), "a"), (2L, ts(20), "b"),
      // user 3: in order but c lands outside the 60-min window
      (3L, ts(0), "a"), (3L, ts(5), "b"), (3L, ts(90), "c"))
      .toDF("user_id", "ts", "event_type")
    val r = graft.ops.Analytics.orderedFunnel(ev, "user_id", "ts",
        steps = Seq("a", "b", "c"), windowSec = 3600L)
      .orderBy("user_id")
      .select("user_id", "n_started", "n_completed")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L)), r)
  }

  test("containmentPairs: small quote inside a big page found; Jaccard would miss it") {
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val page = quote + " " + (1 to 200).map(i => s"filler$i word$i").mkString(" ")
    val d = Seq((1L, quote), (2L, page),
      (3L, "completely unrelated text with different tokens entirely here"))
      .toDF("doc_id", "text")
    val r = Dedup.containmentPairs(d, threshold = 0.8)
      .select("id_a", "id_b", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(r.map(p => (p._1, p._2)) == Seq((1L, 2L)), r)
    assert(r.head._3 == 1.0 && r.head._4 < 0.5, r.head) // asymmetric
    assert(Dedup.ngramJaccard(d).count() == 0) // dd04 can't see it
  }

  test("dropDuplicateWindows bookkeeping: counts reconcile, survivors keep order") {
    // deterministic pseudo-random corpus with heavy cross-doc overlap
    val docs = (1 to 60).map { i =>
      val toks = (0 until 30).map(j => s"w${(i * 13 + j * 7) % 40}")
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val r = Dedup.dropDuplicateWindows(docs, w = 5, minDf = 2)
      .select("doc_id", "n_tokens", "n_dup_tokens", "clean_text")
      .as[(Long, Int, Int, String)].collect()
    assert(r.length == 60)
    r.foreach { case (id, n, dup, clean) =>
      val kept = clean.split("\\s+").filter(_.nonEmpty)
      assert(n - dup == kept.length, s"doc $id: $n - $dup != ${kept.length}")
      assert(dup >= 0 && dup <= n, s"doc $id out of range: $dup/$n")
    }
  }

  test("fkAudit: orphan and null-key counts per edge; clean edge is ok") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None, Some(3L))
      .toDF("fk") // one orphan (9), one null key
    val r = Profile.fkAudit(Seq(
      Profile.FkEdge("c", child, "fk", "p", parent, "pk"),
      Profile.FkEdge("c", child.filter(col("fk") <= 3), "fk", "p", parent, "pk")))
      .collect()
    assert(r(0).getLong(4) == 5L && r(0).getLong(5) == 1L &&
      r(0).getLong(6) == 1L && !r(0).getBoolean(7), r(0))
    assert(r(1).getLong(6) == 0L && r(1).getBoolean(7), r(1))
  }

  test("temperatureMixture: tail strata keep a higher rate; budget ~respected") {
    val rows = (1 to 900).map(i => (i.toLong, "head")) ++
      (901 to 1000).map(i => (i.toLong, "tail"))
    val df = rows.toDF("doc_id", "lang")
    val kept = Curation.temperatureMixture(df, col("lang"), col("doc_id"),
        alpha = 0.5, budgetDocs = 200L)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sqrt weights: head 30/40 → ~150 docs (rate 1/6), tail 10/40 →
    // ~50 docs (rate 1/2): the tail keeps 3x the head's RATE
    assert(kept("tail").toDouble / 100 > kept("head").toDouble / 900, kept)
    assert(math.abs(kept("head") - 150.0) < 40, kept)
    assert(math.abs(kept("tail") - 50.0) < 25, kept)
    // pure-filter determinism: same draw set on re-run
    assert(Curation.temperatureMixture(df, col("lang"), col("doc_id"),
      alpha = 0.5, budgetDocs = 200L).count() == kept.values.sum)
  }

  test("bloomPrune: zero false negatives, false positives bounded by fpp") {
    val fact = spark.range(0, 20000).toDF("k")
    val dim = spark.range(0, 20000, 100).toDF("dk") // every 100th key
    val sketch = Prune.buildBloom(dim, "dk", expectedItems = 1000, fpp = 0.01)
    val kept = Prune.bloomPrune(fact, col("k"), sketch)
      .select("k").as[Long].collect().toSet
    val truth = (0L until 20000L by 100).toSet
    assert(truth.subsetOf(kept), "bloom dropped a true match") // NO false negatives
    val fp = kept.size - truth.size
    assert(fp <= (20000 * 0.05).toInt, s"false positives way over fpp: $fp")
    // pruned join result == plain join result (FPs cleared by the join)
    val viaBloom = Prune.bloomPrunedJoin(fact, "k", dim, "dk", expectedItems = 1000)
      .select("k").as[Long].collect().sorted.toSeq
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k").as[Long].collect().sorted.toSeq
    assert(viaBloom == plain)
  }

  test("bloomPrune plan: native probe in the scan stage, before the join exchange") {
    val dir = "/root/testdata/sf0.001"
    val p = graft.SparkEntry.queries("bf01_bloom_join")(spark, dir)
      .queryExecution.executedPlan.toString
    // the probe is our codegen expression, planned as a Filter on the
    // fact scan side UNDER the join — not after it
    assert(p.contains("bloomcontainslong"), p.take(800))
    val filterAt = p.indexOfSlice("bloomcontainslong")
    val joinAt = p.indexOfSlice("Join")
    assert(filterAt > joinAt, // plan prints top-down: deeper = later
      s"bloom filter not under the join: filter@$filterAt join@$joinAt\n${p.take(800)}")
  }

  test("chunkDocs: chunks tile every token once per stride, tails never pure repeats") {
    // doc 1 has 15 tokens; window 6 / overlap 2 (stride 4): starts
    // 0,4,8,12 — start 12 contributes tokens 13..15 (3 > overlap 2 new)
    val out = Curation.chunkDocs(docs.filter($"doc_id" === 1L),
        window = 6, overlap = 2)
      .orderBy("chunk_no").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 4L, 8L, 12L)) // start_tok
    assert(out.map(_.getLong(3)).toSeq == Seq(6L, 6L, 6L, 3L))  // n_toks
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))  // chunk_no
    // every consecutive pair overlaps by exactly `overlap` tokens while
    // the window fits; a fully-covered tail start (>= n - overlap) is
    // never emitted
    val lastStart = out.last.getLong(2)
    assert(lastStart < 15 - 2, "tail chunk adds no new token")
    // one-token doc still yields exactly one chunk
    val tiny = Seq((9L, "solo")).toDF("doc_id", "text")
    assert(Curation.chunkDocs(tiny, 6, 2).count() == 1L)
  }

  test("oovRate: tokens beyond the top-k vocab are counted, rates in [0,1]") {
    val corpus = Seq(
      (1L, "a a a b b rare1"),
      (2L, "a b b b rare2 rare3")).toDF("doc_id", "text")
    // k=2 vocab: a(4), b(5) -> b,a; rare* are OOV
    val r = graft.ops.TextAnalysis.oovRate(corpus, k = 2)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(6L, 6L)) // n_tokens
    assert(r.map(_.getLong(2)).toSeq == Seq(1L, 2L)) // n_oov
    assert(r.forall(x => x.getDouble(3) >= 0 && x.getDouble(3) <= 1))
  }

  test("triangleCount: K4 gives 3 per node; hub cap drops the spam star") {
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val counts = Graph.triangleCount(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a 100-spoke star through node 0 plus one triangle (1,2,3):
    // capping degree at 10 removes the hub, keeps the real triangle
    val star = (1 to 100).map(i => (0L, i.toLong)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val capped = Graph.triangleCount(star.toDF("src", "dst"), maxDegree = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val hubs = Graph.highDegreeNodes(star.toDF("src", "dst"), maxDegree = 10)
      .collect()
    assert(hubs.length == 1 && hubs.head.getLong(0) == 0L &&
      hubs.head.getLong(1) == 100L)
  }

  test("jacobiEigSym: recovers a known spectrum; zcaWhiten decorrelates planted correlation") {
    // diag(3,1) rotated 45°: eigenvalues {3,1}, eigenvectors at ±45°
    val r = math.sqrt(2.0) / 2
    val m = Array(
      Array(r * 3 * r + r * 1 * r, r * 3 * r - r * 1 * r),
      Array(r * 3 * r - r * 1 * r, r * 3 * r + r * 1 * r))
    val (lam, u) = Embeddings.jacobiEigSym(m)
    assert(lam.sorted.zip(Array(1.0, 3.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // eigenvector columns orthonormal
    val dot01 = u(0)(0) * u(0)(1) + u(1)(0) * u(1)(1)
    assert(math.abs(dot01) < 1e-12)
    // strongly correlated 2-d data: x2 = x1 + small noise
    val data = (1 to 40).map { i =>
      val x = (i % 7).toDouble - 3.0
      (i.toLong, Array(x.toFloat, (x + 0.1 * ((i % 3) - 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val wdf = Embeddings.zcaWhiten(data, dim = 2, eps = 1e-9)
    val vecs = wdf.select("zca_embedding").collect()
      .map(_.getSeq[Double](0).toArray)
    val n = vecs.length
    def mom(i: Int, j: Int): Double = vecs.map(v => v(i) * v(j)).sum / n
    assert(math.abs(mom(0, 0) - 1.0) < 1e-6, s"var0 ${mom(0, 0)}")
    assert(math.abs(mom(1, 1) - 1.0) < 1e-6, s"var1 ${mom(1, 1)}")
    assert(math.abs(mom(0, 1)) < 1e-6, s"cov01 ${mom(0, 1)}")
  }

  test("signPack/hammingTopK: twins at distance 0, sign-flips count, ties by id") {
    val vecs = Seq(
      (1L, Array.fill(64)(1.0f)),                       // all-positive
      (2L, Array.fill(64)(0.5f)),                       // same signs as 1
      (3L, Array.tabulate(64)(i => if (i < 8) -1.0f else 1.0f)), // 8 flips
      (4L, Array.fill(64)(-1.0f))                       // all flipped
    ).toDF("vec_id", "embedding")
    val packed = Embeddings.signPack(vecs, dim = 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(packed(1L) == packed(2L))                    // sign-identical
    assert(packed(4L) == ((0L, 0L)))                    // all non-positive
    val top = Embeddings.hammingTopK(vecs, queryIds = Seq(1L), dim = 64, k = 3)
      .orderBy("hamming", "neighbor_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(top.head == ((2L, 0L)), top.mkString(","))   // twin first
    assert(top(1) == ((3L, 8L)))                        // 8 differing bits
    assert(top(2) == ((4L, 64L)))                       // full flip
  }

  test("dhashPpm: tiny images hash without crashing; junk is None; gray == rgb of itself") {
    def p5(w: Int, h: Int, v: Int): Array[Byte] =
      s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ Array.fill(w * h)(v.toByte)
    // 2x2 image: cells clamp to >=1 pixel, constant field -> hash 0
    assert(Multimodal.dhashPpm(p5(2, 2, 77)).contains(0L))
    assert(Multimodal.dhashPpm("not an image".getBytes).isEmpty)
    assert(Multimodal.dhashPpm(p5(1, 1, 0)).contains(0L))
    // truncated raster is rejected, not mis-hashed
    assert(Multimodal.dhashPpm(
      "P5\n8 8\n255\n".getBytes("US-ASCII") ++ Array.fill(10)(1.toByte)).isEmpty)
  }

  test("zOrder: interleave pins known bits; layout clusters BOTH dimensions") {
    val z = Seq((3L, 1L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z")).head.getLong(0)
    assert(z == 7L, s"interleave(3,1) = $z, want 0b0111") // a0,b0,a1 set
    // 32x32 grid: z-order write must give every output file a NARROW
    // range in BOTH x and y (a plain sort by x leaves y spanning the
    // whole domain in every file)
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val tmp = java.nio.file.Files.createTempDirectory("zo").toString
    Layout.zOrderWrite(grid, "x", "y", s"$tmp/z", partitions = 16)
    val spans = spark.read.parquet(s"$tmp/z")
      .select(col("x"), col("y"), input_file_name().as("f"))
      .groupBy("f")
      .agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .collect()
    // every file covers at most half the domain in each dimension —
    // the rectangle property a single-column sort cannot give for y
    assert(spans.forall(r => r.getLong(1) <= 16 && r.getLong(2) <= 16),
      spans.mkString("\n"))
  }

  test("rfm: best customer scores 444, worst 111; recency inverts") {
    def t(day: Int) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(day * 86400L))
    // customer 1: recent, frequent, big spender; customer 4: one old cheap order
    val orders = Seq(
      (1L, t(100), 500.0), (1L, t(99), 500.0), (1L, t(98), 500.0), (1L, t(97), 500.0),
      (2L, t(60), 100.0), (2L, t(59), 100.0), (2L, t(58), 100.0),
      (3L, t(30), 50.0), (3L, t(29), 50.0),
      (4L, t(1), 10.0)
    ).toDF("cust", "ts", "amount")
    val out = Analytics.rfm(orders, col("cust"), col("ts"), col("amount"))
      .collect().map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(out(1L) == "444", out)
    assert(out(4L) == "111", out)
    // recency_days of the most recent customer is 0 (corpus max anchor)
    val r1 = Analytics.rfm(orders, col("cust"), col("ts"), col("amount"))
      .filter(col("customer") === 1L).head
    assert(r1.getLong(1) == 0L)
  }

  test("pathTransitions: bigrams stay inside sessions; readability pins a known text") {
    val ev = Seq(
      // user 1, one session: a -> b -> c; then a NEW session: c -> a
      (1L, 1L, 0L, "a"), (2L, 1L, 60L, "b"), (3L, 1L, 120L, "c"),
      (4L, 1L, 10000L, "c"), (5L, 1L, 10060L, "a")
    ).map { case (eid, u, sec, t) =>
      (eid, u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), t)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val trans = Analytics.pathTransitions(ev, col("user_id"), col("ts"),
        col("event_type"), gapSec = 1800L, tieBreak = col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the c->c pair spans the session break and must NOT appear
    assert(trans == Map(("a", "b") -> 1L, ("b", "c") -> 1L, ("c", "a") -> 1L))
    val doc = Seq((1L, "The cat sat. The dog ran!")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.readability(doc).head
    assert(r.getLong(1) == 6L)  // words
    assert(r.getLong(2) == 3L)  // '.' and '!' groups + 1
    assert(r.getLong(3) == 6L)  // one vowel group per word
    // 206.835 - 1.015*(6/3) - 84.6*(6/6) = 120.205
    assert(math.abs(r.getDouble(4) - 120.205) < 1e-9)
  }

  test("heavyHitters: guaranteed survivors above N/(cap+1), exact counts, bounded cap") {
    // 1000 rows: "hot" 400, "warm" 300, tail t0..t59 five each (300)
    val rows = Seq.fill(400)("hot") ++ Seq.fill(300)("warm") ++
      (0 until 60).flatMap(i => Seq.fill(5)(s"t$i"))
    val df = rows.zipWithIndex.map(_.swap).toDF("id", "k").repartition(4)
    val out = Sketches.heavyHitters(df, col("k"), cap = 4).collect()
    assert(out.length <= 4, s"cap exceeded: ${out.length}")
    val byK = out.map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // hot (400 > 1000/5) and warm (300 > 200) MUST survive, exactly counted
    assert(byK("hot") == ((400L, true)))
    assert(byK("warm") == ((300L, true)))
    // no tail value can be marked guaranteed (5 < 200)
    assert(out.forall(r => r.getString(0) == "hot" || r.getString(0) == "warm" ||
      !r.getBoolean(2)))
  }

  test("columnEntropy: constant column 0 bits, uniform 4-value column 2 bits") {
    val df = (0 until 64).map(i => (i, "const", s"v${i % 4}"))
      .toDF("id", "c_const", "c_uniform")
    val e = graft.ops.Profile.columnEntropy(df, Seq("c_const", "c_uniform"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(e("c_const") == 0.0)
    assert(math.abs(e("c_uniform") - 2.0) < 1e-9)
  }

  test("attribution: lookback expiry lands in 'none'; same-instant touch counts") {
    val ev = Seq(
      // user 1: view at t=1000s, purchase at t=2000s (inside 1-day window)
      (1L, 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000)), "view", 0.0),
      (2L, 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2000)), "purchase", 10.0),
      // user 2: click long ago (t=0), purchase at t=90 days -> last 'none',
      // first stays 'click' (first-touch has no lookback)
      (3L, 2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0)), "click", 0.0),
      (4L, 2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(7776000)), "purchase", 5.0),
      // user 3: touch at the SAME instant as the purchase -> attributed
      (5L, 3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(500)), "view", 0.0),
      (6L, 3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(500)), "purchase", 2.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Analytics.attribution(ev, "user_id", "ts",
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackSec = 86400L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(("last_touch", "view")) == ((2L, 12.0)))   // users 1 and 3
    assert(out(("last_touch", "none")) == ((1L, 5.0)))    // user 2 expired
    assert(out(("first_touch", "view")) == ((2L, 12.0)))
    assert(out(("first_touch", "click")) == ((1L, 5.0)))  // no lookback
  }
}
