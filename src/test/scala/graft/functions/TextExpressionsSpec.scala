package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** WordShingles must be bit-identical to the composed HOF form on
  * every input shape (the DuckDB oracles mirror that form).
  */
class TextExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compare(texts: Seq[String], k: Int): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(
      graft.ops.Dedup.shingles($"text", k).as("native"),
      graft.ops.Dedup.shinglesHof($"text", k).as("hof")).collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"mismatch for '$t' k=$k")
    }
  }

  test("native shingles == HOF shingles on edge shapes") {
    val fixtures = Seq(
      "the quick brown fox jumps",
      "one two",           // < k tokens
      "one",               // single token
      "",                  // empty string
      "a  b   c",          // repeated spaces → empty tokens kept
      " leading and trailing ",
      "dup dup dup dup",   // distinct collapses repeats
      "naïve café übung",  // non-ascii
      "tab\tand\nnewline stay intact")
    compare(fixtures, 3)
    compare(fixtures, 1)
    compare(fixtures, 5)
  }

  test("native shingles == HOF shingles on generated strings (fuzz)") {
    import org.scalacheck.Gen
    val tokenChar = Gen.frequency(6 -> Gen.alphaNumChar,
      1 -> Gen.const('é'), 1 -> Gen.const('.'), 1 -> Gen.const('#'))
    val token = Gen.listOf(tokenChar).map(_.mkString) // may be empty
    val text = Gen.listOf(token).map(_.mkString(" "))
    val seed = org.scalacheck.rng.Seed(42L)
    val samples = Iterator.iterate(seed)(_.next)
      .take(120).flatMap(s => text.apply(Gen.Parameters.default, s)).toSeq
    compare(samples, 3)
    compare(samples, 2)
  }

  test("native shingles == HOF shingles on the documents corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val diff = docs.select(
        graft.ops.Dedup.shingles(col("text")).as("native"),
        graft.ops.Dedup.shinglesHof(col("text")).as("hof"))
      .filter(not(col("native") === col("hof")))
      .count()
    assert(diff == 0)
  }

  test("minhash_hashes == composed md5(concat(j,'#',g)) bit-for-bit") {
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(graft.ops.Dedup.shingles(col("text"))).as("g"))
    val n = 12
    val composed = array((0 until n).map(j =>
      md5(concat(lit(j.toString), lit("#"), col("g")))): _*)
    val diff = df.select(TextFunctions.minhash_hashes(col("g"), n).as("native"),
        composed.as("hof"))
      .filter(not(col("native") === col("hof"))).count()
    assert(diff == 0)
  }

  test("simhash_pack bit b == md5 nibble high bit; bit 32+b == second bit") {
    val df = Seq("alpha", "beta", "gamma délta", "", "x").toDF("tok")
    val hi = (0 until 32).map(b =>
      (shiftright(TextFunctions.simhash_pack(col("tok")), b).bitwiseAND(lit(1)) === 1) ===
      md5(col("tok")).substr(b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"))
    val second = (0 until 32).map(b =>
      (shiftright(TextFunctions.simhash_pack(col("tok")), b + 32).bitwiseAND(lit(1)) === 1) ===
      md5(col("tok")).substr(b + 1, 1).isin("4", "5", "6", "7", "c", "d", "e", "f"))
    val allOk = df.select((hi ++ second).reduce(_ && _).as("ok"))
      .collect().forall(_.getBoolean(0))
    assert(allOk)
  }

  test("null text yields null (HOF form degenerates to [\"\"] instead)") {
    // split(null) is null, but greatest() SKIPS nulls, so the HOF form
    // still builds one all-null shingle that concat_ws turns into "".
    // The native expression propagates null — the saner contract; no
    // oracle corpus contains null text, so the forms only diverge here.
    val df = Seq((1L, Option.empty[String]), (2L, Some("a b c d"))).toDF("id", "text")
    val r = df.orderBy("id").select(graft.ops.Dedup.shingles($"text").as("n"),
      graft.ops.Dedup.shinglesHof($"text").as("h")).collect()
    assert(r(0).isNullAt(0))
    assert(r(0).getSeq[String](1) == Seq(""))
    assert(!r(1).isNullAt(0) && r(1).getSeq[String](0) == r(1).getSeq[String](1))
  }

  test("unicode_normalize: NFC composes, NFKC folds compatibility, null propagates") {
    val df = Seq(
      (1L, Some("Cafe\u0301")),             // decomposed acute
      (2L, Some("\uFF21\uFF22\u3000x")),    // full-width A, B, ideographic space
      (3L, Some("\u00C5")),                 // precomposed A-ring: NFC fixpoint
      (4L, Option.empty[String])
    ).toDF("id", "raw")
    val r = df.orderBy("id").select(
      TextFunctions.unicode_normalize($"raw", "NFC").as("nfc"),
      TextFunctions.unicode_normalize($"raw", "NFKC").as("nfkc"),
      TextFunctions.unicode_normalize($"raw", "NFC", casefold = true).as("folded"))
      .collect()
    assert(r(0).getString(0) == "Caf\u00E9")  // composed é, 4 chars
    assert(r(0).getString(2) == "caf\u00E9")
    // NFC leaves compatibility chars; NFKC maps them to ASCII/space
    assert(r(1).getString(0) == "\uFF21\uFF22\u3000x")
    assert(r(1).getString(1) == "AB x")
    assert(r(2).getString(0) == "\u00C5")
    assert(r(3).isNullAt(0) && r(3).isNullAt(1) && r(3).isNullAt(2))
    // bad form rejected at construction
    intercept[Exception] {
      df.select(TextFunctions.unicode_normalize($"raw", "NOPE")).collect()
    }
  }

  test("bpe_encode: priority order, overlap handling, multi-word, no merges") {
    val merges = Seq(("e", "s"), ("es", "t"))
    val df = Seq(
      (1L, "newest"),
      (2L, "aaaa tes"),
      (3L, "")
    ).toDF("id", "text")
    val enc = df.orderBy("id")
      .select(TextFunctions.bpe_encode($"text", merges).as("toks")).collect()
    // (e,s) fuses first, then (es,t); (est,</w>) was never learned
    assert(enc(0).getSeq[String](0) == Seq("n", "e", "w", "est", "</w>"))
    // second word: "t es</w>"? no — es fuses, then es+t needs t BEFORE es;
    // "tes" = t e s </w> → t es </w> (es+t is (es,t), t precedes es here)
    assert(enc(1).getSeq[String](0) ==
      Seq("a", "a", "a", "a", "</w>", "t", "es", "</w>"))
    // empty text: no words (same tokenizer as bpeTrain, which filters
    // empties) → no tokens, not a spurious bare end marker
    assert(enc(2).getSeq[String](0) == Seq.empty[String])
    // overlap: merge (a,a) fuses left-to-right without reusing output
    val runs = Seq((1L, "aaaa")).toDF("id", "text")
    val r = runs.select(TextFunctions.bpe_encode($"text", Seq(("a", "a"))).as("t"))
      .head.getSeq[String](0)
    assert(r == Seq("aa", "aa", "</w>"))
    // encoder tokens reproduce training: count with the learned merges
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val learned = graft.ops.TextAnalysis.bpeTrain(docs, 5).map(m => (m._2, m._3))
    val n = docs.select(explode(TextFunctions.bpe_encode(col("text"), learned)).as("t"))
      .count()
    assert(n > 0)
  }

  test("unigram_encode: Viterbi max-likelihood, tie→longer, unk fallback") {
    val ln = (p: Double) => math.log(p)
    // "ab" one piece (-0.916) beats "a"+"b" (-2.41): Viterbi picks it
    val v1 = Seq(("ab", ln(0.4)), ("a", ln(0.3)), ("b", ln(0.3)))
    val df = Seq((1L, "ab"), (2L, "abab b")).toDF("id", "text")
    val e = df.orderBy("id")
      .select(TextFunctions.unigram_encode($"text", v1).as("t")).collect()
    assert(e(0).getSeq[String](0) == Seq("ab"))
    assert(e(1).getSeq[String](0) == Seq("ab", "ab", "b"))
    // exact score tie ("aa" = -2.0 vs "a","a" = -1.0 + -1.0): the
    // LONGER piece wins — the determinism rule every E-step count
    // depends on
    val v2 = Seq(("aa", -2.0), ("a", -1.0))
    val tie = Seq((1L, "aa")).toDF("id", "text")
      .select(TextFunctions.unigram_encode($"text", v2).as("t"))
      .head.getSeq[String](0)
    assert(tie == Seq("aa"))
    // a char absent from the vocab segments as itself via the unk
    // fallback; words and empties tokenize like the BPE contract
    val v3 = Seq(("a", -1.0))
    val unk = Seq((1L, "axa"), (2L, ""), (3L, "  a  a ")).toDF("id", "text")
      .orderBy("id")
      .select(TextFunctions.unigram_encode($"text", v3).as("t")).collect()
    assert(unk(0).getSeq[String](0) == Seq("a", "x", "a"))
    assert(unk(1).getSeq[String](0) == Seq.empty[String])
    assert(unk(2).getSeq[String](0) == Seq("a", "a"))
  }

  test("bpe_encode == independent reference encoder on generated inputs (fuzz)") {
    // straight-line reference: per word, repeatedly apply the
    // HIGHEST-priority pair present (immutable-list rebuild — written
    // differently from the expression's array loop on purpose)
    def reference(text: String, merges: Seq[(String, String)]): Seq[String] = {
      val rank = merges.zipWithIndex.toMap
      // same tokenizer contract as bpeTrain/BpeEncode: \s+ split,
      // empty words dropped
      text.split("\\s+").toSeq.filter(_.nonEmpty).flatMap { w =>
        var syms = w.map(_.toString).toList :+ "</w>"
        var go = true
        while (go) {
          val present = syms.zip(syms.drop(1)).filter(rank.contains).sortBy(rank)
          present.headOption match {
            case None => go = false
            case Some(best @ (l, r)) =>
              val out = scala.collection.mutable.ListBuffer.empty[String]
              var rest = syms
              while (rest.nonEmpty) rest match {
                case a :: b :: tail if (a, b) == best =>
                  out += (l + r); rest = tail
                case a :: tail => out += a; rest = tail
                case Nil => ()
              }
              syms = out.toList
          }
        }
        syms
      }
    }
    import org.scalacheck.Gen
    val sym = Gen.oneOf("a", "b", "c", "d")
    val word = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, sym).map(_.mkString))
    // separators cover the whole tokenizer contract: runs of spaces,
    // tabs, newlines — not just single spaces
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val text = for {
      n <- Gen.choose(1, 5)
      sep <- ws
      words <- Gen.listOfN(n, word)
    } yield words.mkString(sep)
    val pair = for { l <- sym; r <- sym } yield (l, r)
    val mergesGen = Gen.choose(0, 4).flatMap(n =>
      Gen.listOfN(n, pair).map(_.distinct))
    val seed = org.scalacheck.rng.Seed(7L)
    val cases = Iterator.iterate(seed)(_.next).take(80).flatMap { s =>
      for { t <- text.apply(Gen.Parameters.default, s)
            m <- mergesGen.apply(Gen.Parameters.default, s.next) } yield (t, m)
    }.toSeq
    cases.foreach { case (t, merges) =>
      val got = Seq((1L, t)).toDF("id", "text")
        .select(TextFunctions.bpe_encode($"text", merges).as("toks"))
        .head.getSeq[String](0)
      val want = reference(t, merges)
      assert(got == want, s"text='$t' merges=$merges got=$got want=$want")
    }
  }

  test("unigram_encode == independent reference Viterbi on generated inputs (fuzz)") {
    // independent reference: order-free candidate max with the
    // explicit tie rule (max score; among exact ties the LONGEST
    // piece, i.e. the smallest start j) — written as a fold over
    // candidate lists, deliberately unlike the expression's
    // j-ascending scan with strict >
    def reference(text: String, vocab: Map[String, Double]): Seq[String] = {
      val maxLen = (1 +: vocab.keys.map(_.length).toSeq).max
      val unk = (0.0 +: vocab.values.toSeq).min - 10.0
      text.split("\\s+").toSeq.filter(_.nonEmpty).flatMap { w =>
        val n = w.length
        val best = Array.fill(n + 1)(Double.NegativeInfinity)
        val back = Array.fill(n + 1)(-1)
        best(0) = 0.0
        for (i <- 1 to n) {
          val cands = for {
            j <- math.max(0, i - maxLen) until i
            piece = w.substring(j, i)
            lp <- vocab.get(piece)
              .orElse(if (i - j == 1) Some(unk) else None)
          } yield (j, best(j) + lp)
          if (cands.nonEmpty) {
            val top = cands.map(_._2).max
            // smallest j among ties = longest piece
            val j = cands.filter(_._2 == top).map(_._1).min
            best(i) = top; back(i) = j
          }
        }
        def rebuild(p: Int): List[String] =
          if (p == 0) Nil else rebuild(back(p)) :+ w.substring(back(p), p)
        rebuild(n)
      }
    }
    import org.scalacheck.Gen
    val alpha = Seq("a", "b", "c")
    val piece = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha)).map(_.mkString))
    // INTEGER logprobs: exact ties are common, so the tie rule is
    // exercised constantly, and double arithmetic stays exact
    val entry = for { p <- piece; lp <- Gen.choose(-6, -1) }
      yield (p, lp.toDouble)
    val vocabGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, entry).map(_.toMap))
    val word = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha :+ "x")).map(_.mkString))
    val text = for {
      n <- Gen.choose(1, 4)
      sep <- Gen.oneOf(" ", "  ", "\t", "\n")
      words <- Gen.listOfN(n, word)
    } yield words.mkString(sep)
    val seed = org.scalacheck.rng.Seed(11L)
    val cases = Iterator.iterate(seed)(_.next).take(80).flatMap { s =>
      for { t <- text.apply(Gen.Parameters.default, s)
            v <- vocabGen.apply(Gen.Parameters.default, s.next) } yield (t, v)
    }.toSeq
    cases.foreach { case (t, vocab) =>
      val got = Seq((1L, t)).toDF("id", "text")
        .select(TextFunctions.unigram_encode($"text", vocab.toSeq.sortBy(_._1))
          .as("toks"))
        .head.getSeq[String](0)
      val want = reference(t, vocab)
      assert(got == want, s"text='$t' vocab=$vocab got=$got want=$want")
    }
  }

  test("multi_match: counts equal a brute-force scan, case-insensitive") {
    import spark.implicits._
    def brute(text: String, phrases: Seq[String]): (Long, Int) = {
      val lt = text.toLowerCase
      val per = phrases.map { p =>
        val pl = p.toLowerCase
        var n = 0L; var i = lt.indexOf(pl)
        while (i >= 0) { n += 1; i = lt.indexOf(pl, i + 1) } // overlaps included
        n
      }
      (per.sum, per.count(_ > 0))
    }
    val phrases = Seq("ana", "ban", "Anana", "na", "x")
    val texts = Seq("banana", "BANANA bandana", "", "nanananana", "xxxx",
      "a b c", "bananana banana", "ana")
    texts.foreach { t =>
      val row = Seq((1L, t)).toDF("id", "text")
        .select(TextFunctions.multi_match($"text", phrases).as("m"))
        .select($"m.n_hits", $"m.n_phrases").head
      val (wantHits, wantPhrases) = brute(t, phrases)
      assert(row.getLong(0) == wantHits, s"n_hits for '$t'")
      assert(row.getInt(1) == wantPhrases, s"n_phrases for '$t'")
    }
    // overlap semantics pinned explicitly: "ana" occurs TWICE in
    // "banana" (positions 1 and 3) — AC counts both
    val r = Seq((1L, "banana")).toDF("id", "text")
      .select(TextFunctions.multi_match($"text", Seq("ana")).as("m"))
      .select($"m.n_hits").head
    assert(r.getLong(0) == 2L)
  }

  test("multi_match: duplicate lexicon entries collapse to one phrase") {
    import spark.implicits._
    // a repeated (or case-variant) entry must not double-count hits
    val row = Seq((1L, "banana")).toDF("id", "text")
      .select(TextFunctions.multi_match($"text",
        Seq("ana", "ANA", "ana")).as("m"))
      .select($"m.n_hits", $"m.n_phrases").head
    assert(row.getLong(0) == 2L, "n_hits (two overlapping occurrences, once)")
    assert(row.getInt(1) == 1, "n_phrases")
  }

  test("multi_match: nested/suffix phrases all emit via the fail chain") {
    import spark.implicits._
    // "she" contains "he"; "hers" shares the "he" path — the AC paper's
    // own example set
    val phrases = Seq("he", "she", "his", "hers")
    val row = Seq((1L, "ushers")).toDF("id", "text")
      .select(TextFunctions.multi_match($"text", phrases).as("m"))
      .select($"m.n_hits", $"m.n_phrases").head
    // matches: she@1, he@2, hers@2 -> 3 hits, 3 distinct phrases
    assert(row.getLong(0) == 3L, "n_hits")
    assert(row.getInt(1) == 3, "n_phrases")
  }

  test("multi_match: 20k phrases stay one expression at one-pass cost") {
    import spark.implicits._
    // a lexicon far past where per-phrase expressions die (codegen
    // limits + O(phrases x text) scans); one automaton handles it
    val phrases = (1 to 20000).map(i => s"tok$i xx$i")
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val t0 = System.nanoTime()
    val out = graft.ops.Curation.blocklistFilterLarge(docs, phrases,
      maxHits = 0)
    val kept = out.filter($"keep").count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(kept == docs.count(), "synthetic phrases must not match")
    assert(sec < 60, s"20k-phrase pass took ${sec}s")
    // and a phrase that DOES occur still counts through the big automaton
    val hit = graft.ops.Curation.blocklistFilterLarge(docs,
      phrases :+ "the", maxHits = 0)
    assert(hit.agg(org.apache.spark.sql.functions.sum($"n_hits"))
      .head.getLong(0) > 0)
  }

  test("multi_match: property — equals brute force over random lexicons") {
    import spark.implicits._
    import org.scalacheck.Gen
    def brute(text: String, phrases: Seq[String]): (Long, Int) = {
      val lt = text.map(Character.toLowerCase)
      val per = phrases.map(_.map(Character.toLowerCase)).distinct.map { pl =>
        var n = 0L; var i = lt.indexOf(pl)
        while (i >= 0) { n += 1; i = lt.indexOf(pl, i + 1) }
        n
      }
      (per.sum, per.count(_ > 0))
    }
    // small alphabet forces dense overlaps, shared prefixes, and
    // nesting — the automaton's hard cases
    val sym = Gen.oneOf("a", "b", "A", "ab", "ba", "aa")
    val phrase = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, sym).map(_.mkString))
    val lexicon = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, phrase))
    val text = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "A", "B", " ")).map(_.mkString))
    val seed = org.scalacheck.rng.Seed(17L)
    val cases = Iterator.iterate(seed)(_.next).take(120).flatMap { sd =>
      for { t <- text.apply(Gen.Parameters.default, sd)
            l <- lexicon.apply(Gen.Parameters.default, sd.next) } yield (t, l)
    }.toSeq
    cases.foreach { case (t, lex) =>
      val row = Seq((1L, t)).toDF("id", "text")
        .select(TextFunctions.multi_match($"text", lex).as("m"))
        .select($"m.n_hits", $"m.n_phrases").head
      val (wantHits, wantPhrases) = brute(t, lex)
      assert(row.getLong(0) == wantHits,
        s"n_hits text='$t' lexicon=$lex got=${row.getLong(0)} want=$wantHits")
      assert(row.getInt(1) == wantPhrases,
        s"n_phrases text='$t' lexicon=$lex")
    }
  }
}
