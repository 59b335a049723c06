package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Filesystem side of pp10 (the gate's oracle replays the plan; this
  * spec proves the LANDING): per-shard directories with real parquet
  * bytes, a lossless read-back, and plan/layout agreement.
  */
class ShardMaterializeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("shardMaterialize lands per-shard parquet + an exact manifest") {
    import spark.implicits._
    // 20 docs, token counts 1..20 (i words each) → 210 total tokens;
    // budget 50 → shards 0..4 by running-sum boundaries
    val df = (1 to 20).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp10spec").toString
    val manifest = Curation.shardMaterialize(df, tmp, col("doc_id"),
      seed = "spec", budgetTokens = 50L).collect()

    // manifest totals reconcile exactly with the input corpus
    assert(manifest.map(_.getLong(1)).sum == 20L, "n_docs")
    assert(manifest.map(_.getLong(2)).sum == 210L, "n_tokens")
    // shards are contiguous from 0; positions partition 1..N
    val shards = manifest.map(_.getLong(0)).toSeq
    assert(shards == (0L until shards.length).toSeq, s"shards $shards")
    assert(manifest.map(_.getLong(3)).min == 1L)
    assert(manifest.map(_.getLong(4)).max == 20L)
    // every shard's pos range is contiguous with the next (the
    // deterministic order is the shard order)
    val sorted = manifest.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) + 1 == b.getLong(3),
          s"pos gap between shards ${a.getLong(0)} and ${b.getLong(0)}")
      case _ =>
    }

    // filesystem: one directory per shard, each with real parquet bytes
    val root = new java.io.File(tmp)
    val dirs = root.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(dirs.length == shards.length, dirs.map(_.getName).mkString(","))
    for (d <- dirs) {
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.nonEmpty, s"no parquet files in ${d.getName}")
      assert(parts.map(_.length()).sum > 0, s"zero bytes in ${d.getName}")
    }

    // read-back: lossless roundtrip, layout agrees with the plan rule
    val landed = spark.read.parquet(tmp)
    assert(landed.count() == 20L)
    assert(landed.select("doc_id").as[Long].collect().sorted.toSeq ==
      (1L to 20L))
    assert(landed.filter(expr("start_tok div 50") =!=
      col("shard").cast("long")).count() == 0, "shard rule violated on disk")
    // deterministic: a second materialization produces the same manifest
    val tmp2 = java.nio.file.Files.createTempDirectory("pp10spec2").toString
    val again = Curation.shardMaterialize(df, tmp2, col("doc_id"),
      seed = "spec", budgetTokens = 50L).collect()
    assert(again.map(_.toSeq).toSeq == manifest.map(_.toSeq).toSeq)
  }

  test("shardAppend numbers past the landed maxima and rewrites nothing") {
    import spark.implicits._
    def corpus(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp12spec").toString
    val m1 = Curation.shardMaterialize(corpus(1 to 12), tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).collect()
    // snapshot the landed files: (path, size) — append must not touch them
    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(tmp)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = listing()
    val maxShard1 = m1.map(_.getLong(0)).max
    val maxPos1 = m1.map(_.getLong(4)).max
    val m2 = Curation.shardAppend(corpus(13 to 20), tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).collect()
    // phase-1 files byte-stable (same paths, same sizes)
    val after = listing()
    assert(before.forall { case (p, sz) => after.get(p).contains(sz) },
      "append rewrote landed phase-1 files")
    // new shards strictly past the landed max; positions continue
    val newShards = m2.map(_.getLong(0)).filterNot(s =>
      m1.exists(_.getLong(0) == s) &&
        m2.find(_.getLong(0) == s).get.toSeq == m1.find(_.getLong(0) == s).get.toSeq)
    assert(newShards.forall(_ > maxShard1), s"new shards $newShards")
    assert(m2.map(_.getLong(4)).max == maxPos1 + 8)
    // combined totals reconcile
    assert(m2.map(_.getLong(1)).sum == 20L)
    assert(m2.map(_.getLong(2)).sum == 100L)
    // appending to an empty dir is a loud error, not a silent first write
    val empty = java.nio.file.Files.createTempDirectory("pp12empty").toString
    intercept[Exception] {
      Curation.shardAppend(corpus(1 to 3), empty, col("doc_id"),
        seed = "spec", budgetTokens = 20L).collect()
    }
  }

  test("compactLanding: same rows, bounded files per shard") {
    import spark.implicits._
    import graft.streaming.CorpusStream.landShardBatch
    val tmp = java.nio.file.Files.createTempDirectory("pp13spec").toString
    val landing = s"$tmp/landing"
    // 4 streamed batches → ≥4 files spread across the landing
    def corpus(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    for (b <- 0 to 3)
      landShardBatch(corpus(b * 10 + 1 to b * 10 + 8), b.toLong, landing,
        col("doc_id"), "s", 60L)
    val before = spark.read.parquet(landing)
      .select("doc_id", "n_tokens", "shard", "pos")
    val beforeRows = before.collect().map(_.toSeq).toSet
    val manifest = Curation.compactLanding(spark, landing, s"$tmp/compact",
      filesPerShard = 1).collect()
    // data contract: identical row set, totals reconcile
    val after = spark.read.parquet(s"$tmp/compact")
      .select("doc_id", "n_tokens", "shard", "pos")
    assert(after.collect().map(_.toSeq).toSet == beforeRows)
    assert(manifest.map(_.getLong(1)).sum == 32L)
    // layout contract: ≤ 1 parquet file per shard dir
    val dirs = new java.io.File(s"$tmp/compact").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.nonEmpty)
    for (dd <- dirs) {
      val n = dd.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${dd.getName} has $n files after compaction")
    }
    // a non-landing directory is rejected loudly
    val plain = s"$tmp/plain"
    corpus(1 to 3).write.parquet(plain)
    intercept[IllegalArgumentException] {
      Curation.compactLanding(spark, plain, s"$tmp/c2")
    }
  }

  test("landing reads PRUNE by shard: a one-shard filter scans one directory") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp10prune").toString
    Curation.shardMaterialize(df, tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    // the consumer-side point of partitionBy(shard): a trainer reading
    // shard k must touch ONLY that directory — partition pruning, not
    // a full scan + filter
    val read = spark.read.parquet(tmp).filter(col("shard") === 3)
    val plan = read.queryExecution.executedPlan.toString
    // the shard predicate must land in PartitionFilters (directory
    // pruning), NOT PushedFilters/post-scan Filter (row filtering)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("shard") && l.contains("= 3")),
      s"shard filter not in PartitionFilters:\n${plan.take(600)}")
    // and the executed scan reads exactly the one directory: every row
    // carries shard=3 without any post-scan Filter node on shard
    assert(read.count() == df.count() / 10) // 40 docs, 10 shards of 4
    assert(!plan.contains("Filter (shard"),
      "shard filtered post-scan instead of pruned")
  }

  test("eraseFromLanding rewrites ONLY the affected shards, preserves ids") {
    import spark.implicits._
    // 40 docs of 5 tokens, budget 20 → 10 shards of 4 docs; erase two
    // doc_ids that land in distinct shards
    val df = (1 to 40).map(i => (i.toLong, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp14spec").toString
    Curation.shardMaterialize(df, tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    val before = spark.read.parquet(tmp)
      .select("doc_id", "shard", "pos").collect()
      .map(r => r.getLong(0) -> (r.getAs[Number]("shard").longValue,
        r.getLong(2))).toMap
    val victims = Seq(7L, 23L)
    val victimShards = victims.map(before(_)._1).toSet
    def listing(pred: Long => Boolean): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      new java.io.File(tmp).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("shard="))
        .filter(d => pred(d.getName.stripPrefix("shard=").toLong))
        .flatMap(walk).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val untouchedBefore = listing(s => !victimShards(s))
    val manifest = Curation.eraseFromLanding(spark, tmp,
      victims.toDF("doc_id")).collect()
    // untouched shards byte-identical
    assert(listing(s => !victimShards(s)) == untouchedBefore,
      "erasure rewrote an unaffected shard")
    // victims gone; everyone else intact with the SAME shard/pos
    val after = spark.read.parquet(tmp)
      .select("doc_id", "shard", "pos").collect()
      .map(r => r.getLong(0) -> (r.getAs[Number]("shard").longValue,
        r.getLong(2))).toMap
    assert(!victims.exists(after.contains), "victim survived erasure")
    assert(after == before -- victims, "erasure renumbered survivors")
    assert(manifest.map(_.getLong(1)).sum == 38L)
    // idempotent: erasing again changes nothing
    val again = Curation.eraseFromLanding(spark, tmp,
      victims.toDF("doc_id")).collect()
    assert(again.map(_.toSeq).toSeq == manifest.map(_.toSeq).toSeq)
  }

  test("validateLanding: all green on a fresh landing, flags an erased one") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp15spec").toString
    Curation.shardMaterialize(df, tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    val fresh = Curation.validateLanding(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(fresh.values.forall(_ == (true, 0L)), fresh.toString)
    // after an erasure, positions legitimately hole: the validator
    // must SAY so (pos_partition + range tiling fail; everything else
    // still green) — the erased-landing caveat in its scaladoc
    Curation.eraseFromLanding(spark, tmp, Seq(7L, 23L).toDF("doc_id")).count()
    val erased = Curation.validateLanding(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(!erased("pos_partition")._1)
    assert(!erased("shard_pos_disjoint")._1 &&
      erased("shard_pos_disjoint")._2 == 2L)
    assert(erased("docs_unique") == ((true, 0L)))
    assert(erased("tokens_match") == ((true, 0L)))
    assert(erased("shard_contiguous") == ((true, 0L)))
  }

  test("packTokenSequences: exact lengths, order conservation, learned tokenizer") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // learned unigram vocab over a toy corpus; ids by piece rank —
    // the composition DuckDB can't replay (Viterbi), pinned here
    val df = (1 to 12).map(i =>
      (i.toLong, Seq.fill(i % 4 + 2)("abcd").mkString(" ") + " xy"))
      .toDF("doc_id", "text")
    val vocab = graft.ops.TextAnalysis
      .unigramTrain(df, vocabSize = 8, rounds = 2, maxPieceLen = 4)
      .map(v => (v._2, v._4))
    val pieceId = vocab.map(_._1).sorted.zipWithIndex.map {
      case (p, i) => p -> (i + 1) }.toMap
    val mapCol = map(pieceId.toSeq.flatMap {
      case (p, i) => Seq(lit(p), lit(i)) }: _*)
    val ids = df.select(col("doc_id"),
        graft.functions.TextFunctions.unigram_encode(col("text"), vocab)
          .as("pieces"))
      .select(col("doc_id"), transform(col("pieces"),
        p => coalesce(element_at(mapCol, p), lit(0))).as("ids"))
    val packed = Curation.packTokenSequences(ids,
      pmod(col("doc_id"), lit(2)), col("ids"), seqLen = 8).collect()
    // every sequence but the last of its shard is EXACTLY seqLen
    for (shard <- packed.map(_.getLong(0)).distinct) {
      val seqs = packed.filter(_.getLong(0) == shard).sortBy(_.getLong(1))
      seqs.dropRight(1).foreach(r =>
        assert(r.getLong(3) == 8L, s"short mid-sequence in shard $shard"))
    }
    // conservation + ORDER: concatenating a shard's sequences in
    // seq_id order reproduces the docs' id arrays concatenated in
    // doc_id order, byte for byte
    val byDoc = ids.collect().map(r =>
      r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1)
    for (shard <- Seq(0L, 1L)) {
      val want = byDoc.filter(_._1 % 2 == shard).flatMap(_._2).toSeq
      val got = packed.filter(_.getLong(0) == shard).sortBy(_.getLong(1))
        .flatMap(_.getSeq[Int](2)).toSeq
      assert(got == want, s"shard $shard token stream not conserved")
    }
    // deterministic
    val again = Curation.packTokenSequences(ids,
      pmod(col("doc_id"), lit(2)), col("ids"), seqLen = 8).collect()
    assert(again.map(_.toSeq).sortBy(_.toString).toSeq ==
      packed.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("packDocSpans tiles packTokenSequences exactly (the mask-sidecar contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc lengths straddle the seqLen: shorter than, equal to, and
    // several times a sequence, so spans hit every clipping case
    // (doc inside one seq, doc ending exactly on a boundary, doc
    // spanning 3+ sequences)
    val ids = (1 to 17).map(i =>
        (i.toLong, (1 to (i * 5) % 23 + 1).map(j => i * 100 + j)))
      .toDF("doc_id", "ids")
    val L = 8
    val packed = Curation.packTokenSequences(ids,
        pmod(col("doc_id"), lit(3)), col("ids"), seqLen = L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getSeq[Int](2), r.getLong(3))).toMap
    val spans = Curation.packDocSpans(ids,
        pmod(col("doc_id"), lit(3)), col("ids"), seqLen = L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))

    // 1: spans cover exactly the packed sequences — same key set
    val spanKeys = spans.map(s => (s._1, s._2)).toSet
    assert(spanKeys == packed.keySet,
      s"span sequences ${spanKeys.size} != packed sequences ${packed.size}")
    // 2: per sequence, spans tile [0, n_ids): start at 0, contiguous,
    //    lengths sum to n_ids
    for (((sh, seq), (_, nIds)) <- packed) {
      val ss = spans.filter(s => s._1 == sh && s._2 == seq)
        .sortBy(_._3)
      assert(ss.head._5 == 0L, s"($sh,$seq) first span not at 0")
      ss.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._5 == a._5 + a._6, s"($sh,$seq) spans not contiguous")
        case _ => ()
      }
      assert(ss.map(_._6).sum == nIds, s"($sh,$seq) spans don't sum to n_ids")
    }
    // 3: reconstructing per-position doc ownership from the spans
    //    matches the packed token values (ids were built as
    //    doc_id*100 + j, so a token's hundreds digit IS its doc)
    for (((sh, seq), (toks, _)) <- packed; s <- spans
         if s._1 == sh && s._2 == seq) {
      val owners = toks.slice(s._5.toInt, (s._5 + s._6).toInt)
        .map(_ / 100).distinct
      assert(owners == Seq(s._4.toInt),
        s"($sh,$seq) span ${s._3} claims doc ${s._4} but holds $owners")
    }
  }

  test("writeLandingManifest: derived truth, reserved namespace, clean sibling") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toLong, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mf01spec").toString
    val landing = s"$tmp/landing"
    Curation.shardMaterialize(df, landing, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    val m = Curation.writeLandingManifest(spark, landing,
      Map("tokenizer" -> "t", "seqLen" -> "128")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("landing.n_docs") == "20")
    assert(m("landing.n_tokens") == "100")
    assert(m("landing.n_shards") == "5")
    assert(m("landing.failed_checks") == "0")
    assert(m("tokenizer") == "t" && m("seqLen") == "128")
    // the manifest lives BESIDE the landing, not inside it — partition
    // discovery over the landing must not see it
    assert(spark.read.parquet(landing).columns.toSet
      .intersect(Set("key", "value")).isEmpty)
    assert(new java.io.File(landing + "_manifest").exists())
    // derived namespace is reserved
    intercept[IllegalArgumentException] {
      Curation.writeLandingManifest(spark, landing,
        Map("landing.n_docs" -> "999"))
    }
    // a damaged landing reports its failed checks in the manifest
    Curation.eraseFromLanding(spark, landing, Seq(3L).toDF("doc_id")).count()
    val m2 = Curation.writeLandingManifest(spark, landing).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m2("landing.failed_checks") == "2") // pos holes + range tiling
    assert(m2("landing.n_docs") == "19")
  }

  test("landShardBatch: exactly-once replay, chained watermarks, skip rule") {
    import spark.implicits._
    import graft.streaming.CorpusStream.landShardBatch
    def corpus(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("st12spec").toString
    val landing = s"$tmp/landing"
    def bytes(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(landing)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    landShardBatch(corpus(1 to 8), 0L, landing, col("doc_id"), "s", 20L)
    val after0 = bytes()
    // CRASH REPLAY of batch 0 (guard already advanced → must be a
    // no-op: the guard's batch id gates the whole body)
    landShardBatch(corpus(1 to 8), 0L, landing, col("doc_id"), "s", 20L)
    assert(bytes() == after0, "replayed batch rewrote the landing")
    // batch 1 chains watermarks: its shards/positions start past batch 0's
    landShardBatch(corpus(9 to 12), 1L, landing, col("doc_id"), "s", 20L)
    val landed = spark.read.parquet(landing)
    val m = landed.groupBy("batch")
      .agg(org.apache.spark.sql.functions.min("shard").as("mns"),
        org.apache.spark.sql.functions.max("shard").as("mxs"),
        org.apache.spark.sql.functions.min("pos").as("mnp"),
        org.apache.spark.sql.functions.max("pos").as("mxp"))
      .orderBy("batch").collect()
    assert(m.length == 2)
    assert(m(1).getAs[Number]("mns").longValue ==
      m(0).getAs[Number]("mxs").longValue + 1, "shard watermark not chained")
    assert(m(1).getLong(3) == m(0).getLong(4) + 1, "pos watermark not chained")
    assert(landed.count() == 12)
    // an out-of-order (stale) batch id is skipped entirely
    landShardBatch(corpus(90 to 99), 1L, landing, col("doc_id"), "s", 20L)
    assert(spark.read.parquet(landing).count() == 12)
    // an empty batch advances the id but not the watermarks
    landShardBatch(corpus(1 to 0), 2L, landing, col("doc_id"), "s", 20L)
    landShardBatch(corpus(20 to 21), 3L, landing, col("doc_id"), "s", 20L)
    val last = spark.read.parquet(landing).filter(col("batch") === 3)
      .agg(org.apache.spark.sql.functions.min("pos")).head.getLong(0)
    assert(last == m(1).getLong(4) + 1, "empty batch moved the pos watermark")
  }

  test("landShardBatch guard: swap recovery and corrupted-guard loud failure") {
    import spark.implicits._
    import graft.streaming.CorpusStream.landShardBatch
    def corpus(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("st12guard").toString
    val landing = s"$tmp/landing"
    landShardBatch(corpus(1 to 8), 0L, landing, col("doc_id"), "s", 20L)
    // simulate a crash BETWEEN the swap's two renames: only _guard.old
    // survives — the next trigger must restore it and replay batch 1
    val guard = java.nio.file.Paths.get(landing + "_guard")
    val guardOld = java.nio.file.Paths.get(landing + "_guard.old")
    java.nio.file.Files.move(guard, guardOld)
    landShardBatch(corpus(9 to 12), 1L, landing, col("doc_id"), "s", 20L)
    assert(java.nio.file.Files.exists(guard), "guard not restored")
    assert(!java.nio.file.Files.exists(guardOld), "stale guard.old kept")
    assert(spark.read.parquet(landing).count() == 12)
    // a corrupted guard (external truncation) fails LOUDLY — it must
    // not be read as 'no guard' and silently re-land over history
    java.nio.file.Files.writeString(guard, "")
    val e = intercept[IllegalArgumentException] {
      landShardBatch(corpus(13 to 14), 2L, landing, col("doc_id"), "s", 20L)
    }
    assert(e.getMessage.contains("unparseable landing guard"), e.getMessage)
  }

  test("eraseFromLanding: crash-recovery preamble and post-erasure append") {
    import spark.implicits._
    def corpus(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pp14crash").toString
    Curation.shardMaterialize(corpus(1 to 12), tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    val before = spark.read.parquet(tmp).count()
    // simulate a crash between the swap's renames: a shard sits aside
    // as .erase_old_N with no live directory — the preamble restores it
    val shard0 = java.nio.file.Paths.get(s"$tmp/shard=0")
    val aside = java.nio.file.Paths.get(s"$tmp/.erase_old_0")
    java.nio.file.Files.move(shard0, aside)
    val manifest = Curation.eraseFromLanding(spark, tmp,
      Seq(999L).toDF("doc_id")) // erases nothing; preamble still runs
    manifest.count()
    assert(java.nio.file.Files.exists(shard0), "aside shard not restored")
    assert(!java.nio.file.Files.exists(aside), "stale .erase_old_0 kept")
    assert(spark.read.parquet(tmp).count() == before, "rows lost in recovery")
    // empty the MAX shard entirely, then append: the watermark must
    // fall back to a full max(pos) scan instead of NPEing on the
    // empty shard (and appended positions must not collide)
    val maxShard = spark.read.parquet(tmp)
      .agg(max(col("shard").cast("long"))).head.getLong(0)
    val victims = spark.read.parquet(tmp)
      .filter(col("shard").cast("long") === maxShard)
      .select(col("doc_id")).as[Long].collect()
    assert(victims.nonEmpty)
    Curation.eraseFromLanding(spark, tmp, victims.toSeq.toDF("doc_id")).count()
    val posBefore = spark.read.parquet(tmp).agg(max(col("pos"))).head.getLong(0)
    Curation.shardAppend(corpus(50 to 53), tmp, col("doc_id"),
      seed = "spec", budgetTokens = 20L).count()
    val appended = spark.read.parquet(tmp)
      .filter(col("doc_id") >= 50)
      .agg(min(col("pos")), max(col("pos"))).head
    assert(appended.getLong(0) == posBefore + 1,
      s"append watermark wrong: ${appended.getLong(0)} vs $posBefore")
    // pos values stay unique across the whole landing
    val n = spark.read.parquet(tmp).count()
    val nd = spark.read.parquet(tmp).select("pos").distinct().count()
    assert(n == nd, "position collision after post-erasure append")
  }

  test("readTokenizedBatches: tiles cover the landing exactly, resume-safe") {
    import spark.implicits._
    // 30 docs, 7 ids each, 5 shards, seqLen 16 -> uneven shards with
    // short tail sequences: the sparse-step contract's hard case
    val docs = (1 to 30).map(i => (i.toLong, (1 to 7).map(_ + i).toArray))
      .toDF("doc_id", "ids")
    val tmp = java.nio.file.Files.createTempDirectory("pp18spec").toString
    Curation.tokenizedLanding(docs, tmp,
      org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(5)), col("ids"),
      seqLen = 16).count()
    val full = spark.read.parquet(tmp)
      .select(col("shard").cast("long").as("shard"), col("seq_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // read the whole landing in step tiles of 16; tiles must be
    // disjoint, each internally ordered, and their union == the landing
    var from = 0L
    var seen = Set.empty[(Long, Long)]
    var steps = Seq.empty[Long]
    while (seen.size < full.size) {
      val tile = Curation.readTokenizedBatches(spark, tmp, from, 16L)
        .select(col("step"), col("shard"), col("seq_id")).collect()
      val tileSteps = tile.map(_.getLong(0)).toSeq
      assert(tileSteps == tileSteps.sorted, "tile not in step order")
      val keys = tile.map(r => (r.getLong(1), r.getLong(2))).toSet
      assert((seen intersect keys).isEmpty, "tiles overlap")
      seen ++= keys
      steps ++= tileSteps
      from += 16L
      assert(from < 10000, "runaway")
    }
    assert(seen == full, "tiles did not cover the landing")
    assert(steps == steps.sorted && steps.distinct == steps,
      "global step order not strictly monotone across tiles")
    // resume mid-window is equivalent to one long read
    val oneRead = Curation.readTokenizedBatches(spark, tmp, 3L, 29L)
      .select("step").as[Long].collect().toSeq
    val split = (Curation.readTokenizedBatches(spark, tmp, 3L, 10L)
        .select("step").as[Long].collect() ++
      Curation.readTokenizedBatches(spark, tmp, 13L, 19L)
        .select("step").as[Long].collect()).toSeq
    assert(oneRead == split, "split read diverges from one read")
  }

  test("readTokenizedBatches: GAPPED shard ids keep steps unique and complete") {
    import spark.implicits._
    // all-odd doc_ids under pmod(doc_id, 8) -> only shards {1,3,5,7}
    // exist. A directory-COUNT modulus (4) would assign duplicate
    // steps (0*4+7 == 1*4+3) and the seq_id pre-filter would silently
    // drop in-window rows; max+1 (8) keeps steps sparse but unique.
    val docs = (1 to 60 by 2).map(i => (i.toLong, (1 to 5).map(_ + i).toArray))
      .toDF("doc_id", "ids")
    val tmp = java.nio.file.Files.createTempDirectory("pp18gap").toString
    Curation.tokenizedLanding(docs, tmp,
      org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(8)), col("ids"),
      seqLen = 16).count()
    val full = spark.read.parquet(tmp)
      .select(col("shard").cast("long").as("shard"), col("seq_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.map(_._1) == Set(1L, 3L, 5L, 7L), "fixture not gapped")
    // one wide read covers everything with unique steps
    val all = Curation.readTokenizedBatches(spark, tmp, 0L, 10000L)
      .select(col("step"), col("shard"), col("seq_id")).collect()
    val steps = all.map(_.getLong(0)).toSeq
    assert(steps.distinct == steps, "duplicate step ids on gapped shards")
    assert(all.map(r => (r.getLong(1), r.getLong(2))).toSet == full,
      "gapped-shard read lost rows")
    // and tiling still covers exactly (the in-window drop regression)
    var from = 0L
    var seen = Set.empty[(Long, Long)]
    while (seen.size < full.size && from < 10000) {
      val tile = Curation.readTokenizedBatches(spark, tmp, from, 16L)
        .select(col("shard"), col("seq_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((seen intersect tile).isEmpty, "tiles overlap")
      seen ++= tile
      from += 16L
    }
    assert(seen == full, "tiles dropped in-window rows on gapped shards")
  }
}
