package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word k-shingles — the hot loop of
  * the text-dedup family (minhash signatures, n-gram Jaccard).
  *
  * The SQL-composable form (`array_distinct(transform(sequence(...),
  * i -> concat_ws(' ', try_element_at(toks, i), ...)))`) evaluates
  * three interpreted lambdas per shingle (Spark higher-order functions
  * have no codegen) and re-walks the token array per element; on a
  * document corpus that one projection dominates the whole dedup
  * pipeline. This expression computes the identical result in one
  * native pass per row:
  *  - tokens = text.split(" ", -1)  (same regex split, keeps empties)
  *  - n = max(#tokens - k + 1, 1) shingle starts
  *  - shingle i = tokens[i ..< min(i+k, #tokens)] joined with ' '
  *    (short tails mirror concat_ws skipping nulls)
  *  - distinct, first-occurrence order (array_distinct)
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects (string, k >= 1), got ${child.dataType}, k=$k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    val m = toks.length
    val n = math.max(m - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      val end = math.min(i + k, m)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** The `numHashes` minhash basis hashes of one shingle in one native
  * pass: element j = md5Hex("j#" + shingle) — identical bytes to the
  * composed `md5(concat(lit(j), lit("#"), g))`, but with ONE reused
  * MessageDigest and no per-hash string concat (the built-in Md5
  * allocates a fresh digest per call; ×numHashes×rows that dominates
  * the signature stage).
  */
case class MinhashHashes(child: Expression, numHashes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && numHashes >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_hashes expects (string, n >= 1), got ${child.dataType}, n=$numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(j => s"$j#".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(g: UTF8String): ArrayData = {
    val gBytes = g.getBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](numHashes)
    var j = 0
    while (j < numHashes) {
      md.reset()
      md.update(prefixes(j))
      md.update(gBytes)
      val d = md.digest()
      val hex = new Array[Char](32)
      var i = 0
      while (i < 16) {
        hex(2 * i) = hexDigits((d(i) >> 4) & 0xF)
        hex(2 * i + 1) = hexDigits(d(i) & 0xF)
        i += 1
      }
      out(j) = UTF8String.fromString(new String(hex))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(g: Any): Any = compute(g.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashHashes", this, classOf[MinhashHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashHashes =
    copy(child = newChild)
}

/** SimHash vote bits of one token packed into a 64-bit long: bit b
  * (b < 32) = the HIGH bit of hex nibble b of md5(token) — exactly
  * `md5(tok).substr(b+1,1) IN ('8'..'f')` — and bit 32+b = nibble b's
  * SECOND bit (`IN ('4'-'7','c'-'f')`), without 64 substring+
  * membership tests per token. 64 independent bits give the simhash
  * blocking a 2× wider universe per slice width than the round-3
  * 32-bit pack.
  */
case class SimhashVotePack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_pack expects string, got ${child.dataType}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  def compute(t: UTF8String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes)
    var bits = 0L
    var b = 0
    while (b < 32) {
      // hex char b = high (b even) or low nibble of byte b/2
      val nibble = if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xF else d(b >> 1) & 0xF
      if ((nibble & 8) != 0) bits |= (1L << b)
      if ((nibble & 4) != 0) bits |= (1L << (b + 32))
      b += 1
    }
    bits
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashPack", this, classOf[SimhashVotePack].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashVotePack =
    copy(child = newChild)
}

/** BPE encoding in one native pass: tokenize a document with a learned
  * merge table (the inference side of TextAnalysis.bpeTrain). Each
  * whitespace word becomes characters + "</w>", then merges apply in
  * PRIORITY order (the classic encoder loop: repeatedly find the
  * lowest-rank adjacent pair present and fuse every occurrence, left
  * to right). A per-word O(symbols × merges) loop is hopeless as a
  * composed column expression (merges are data, not structure) and
  * slow as a Scala UDF; this is the canonical case for a native
  * compute-object expression. `merges` arrives packed one pair per
  * line ("l r\nl2 r2") so the registry lambda can thread it through
  * a single string literal (symbols never contain spaces/newlines —
  * they come from whitespace-split words).
  */
case class BpeEncode(child: Expression, packedMerges: String)
    extends UnaryExpression {

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    if (packedMerges.nonEmpty)
      packedMerges.split('\n').zipWithIndex.foreach { case (p, i) =>
        m.put(p, i) // key stays packed "l r"
      }
    m
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_encode expects a string column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(t: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    // Same tokenizer as bpeTrain (TextAnalysis.scala): split on any
    // whitespace run and drop empty words — tabs/newlines/repeated
    // spaces must produce the words the trainer saw, never a spurious
    // bare "</w>" token.
    t.toString.split("\\s+").iterator.filter(_.nonEmpty).foreach { w =>
      var syms = new Array[String](w.length + 1)
      var i = 0
      while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
      syms(w.length) = "</w>"
      var more = true
      while (more && syms.length > 1) {
        // lowest-rank pair present anywhere in the word
        var bestRank = Int.MaxValue
        var bestKey: String = null
        i = 0
        while (i < syms.length - 1) {
          val r = rank.get(syms(i) + " " + syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestKey = syms(i) + " " + syms(i + 1) }
          i += 1
        }
        if (bestKey == null) more = false
        else {
          val sepIdx = bestKey.indexOf(' ')
          val l = bestKey.substring(0, sepIdx)
          val r = bestKey.substring(sepIdx + 1)
          val fused = l + r
          val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              next += fused; i += 2 // left-to-right, no overlap reuse
            } else { next += syms(i); i += 1 }
          }
          syms = next.toArray
        }
      }
      syms.foreach(s => out += UTF8String.fromString(s))
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Unigram-LM (SentencePiece-style) tokenization in one native pass —
  * the inference side of TextAnalysis.unigramTrain (Kudo 2018,
  * "Subword Regularization", the unigram language model tokenizer).
  * Each whitespace word is segmented by VITERBI: best[i] = max over
  * pieces w[j..i) in the vocab of best[j] + logprob(piece), so the
  * emitted segmentation maximizes the word's unigram log-likelihood.
  * A character absent from the vocab scores `unkLogprob` (vocab
  * min - 10), keeping every word segmentable. Ties break toward the
  * LONGER final piece (deterministic across runs/partitions — the
  * property every E-step count depends on). Like BpeEncode, the
  * per-word dynamic program over a data-dependent vocab is the
  * canonical native compute-object case: hopeless as composed column
  * expressions, slow and codegen-breaking as a UDF. `packedVocab` is
  * one "piece logprob" pair per line (pieces come from
  * whitespace-split words, so they never contain spaces/newlines).
  */
case class UnigramEncode(child: Expression, packedVocab: String)
    extends UnaryExpression {

  @transient private lazy val (vocab, maxPieceLen, unkLogprob) = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    var maxLen = 1
    var minLp = 0.0
    if (packedVocab.nonEmpty)
      packedVocab.split('\n').foreach { line =>
        val sep = line.lastIndexOf(' ')
        val piece = line.substring(0, sep)
        val lp = java.lang.Double.parseDouble(line.substring(sep + 1))
        m.put(piece, lp)
        if (piece.length > maxLen) maxLen = piece.length
        if (lp < minLp) minLp = lp
      }
    (m, maxLen, minLp - 10.0)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_unigram_encode expects a string column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(t: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    t.toString.split("\\s+").iterator.filter(_.nonEmpty).foreach { w =>
      val n = w.length
      val best = new Array[Double](n + 1)
      val back = new Array[Int](n + 1) // piece start for position i
      java.util.Arrays.fill(back, -1)
      best(0) = 0.0
      var i = 1
      while (i <= n) {
        best(i) = Double.NegativeInfinity
        var j = math.max(0, i - maxPieceLen)
        // iterate j ascending = piece length descending: on an exact
        // score tie the FIRST (longest) candidate wins
        while (j < i) {
          val piece = w.substring(j, i)
          val lpObj = vocab.get(piece)
          val lp =
            if (lpObj != null) lpObj.doubleValue()
            else if (i - j == 1) unkLogprob // unknown char fallback
            else Double.NegativeInfinity
          if (lp != Double.NegativeInfinity && best(j) + lp > best(i)) {
            best(i) = best(j) + lp; back(i) = j
          }
          j += 1
        }
        i += 1
      }
      // reconstruct pieces right-to-left, emit left-to-right
      val rev = new scala.collection.mutable.ArrayBuffer[String]()
      var p = n
      while (p > 0) { val j = back(p); rev += w.substring(j, p); p = j }
      var k = rev.length - 1
      while (k >= 0) { out += UTF8String.fromString(rev(k)); k -= 1 }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramEncode", this, classOf[UnigramEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
    copy(child = newChild)
}

/** Unicode normalization + optional casefold in one native pass — the
  * canonical first step of any text-dedup/curation pipeline (the same
  * logical doc arrives NFC from one crawl and NFD from another; CJK
  * corpora mix full-width and half-width ASCII, which only NFKC
  * unifies). Spark has no normalizer built-in; the naive route is a
  * Scala UDF, which loses codegen and null-handling. This expression
  * wraps `java.text.Normalizer` (JDK, no dependency) with the same
  * compute-object codegen shape as WordShingles. `form` is one of
  * NFC/NFD/NFKC/NFKD; casefold applies ROOT-locale lowercasing AFTER
  * normalization (the order matters for decomposed uppercase).
  */
case class UnicodeNormalize(child: Expression, form: String, casefold: Boolean)
    extends UnaryExpression {

  private val normForm = java.text.Normalizer.Form.valueOf(form)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_unorm expects a string column, got ${child.dataType}")

  override def dataType: DataType = StringType

  def compute(t: UTF8String): UTF8String = {
    val s = java.text.Normalizer.normalize(t.toString, normForm)
    UTF8String.fromString(
      if (casefold) s.toLowerCase(java.util.Locale.ROOT) else s)
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unorm", this, classOf[UnicodeNormalize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Aho-Corasick multi-pattern matching in ONE automaton pass — the
  * scale path for large blocklists/lexicons. The composed form
  * (Curation.blocklistFilter's per-phrase replace-counting) is right
  * for dozens of phrases but generates one expression PER PHRASE:
  * at 10k+ phrases codegen explodes and every document is re-scanned
  * once per phrase (O(phrases x text)). This expression walks the
  * document once, O(text + matches), phrase count irrelevant —
  * the classic Aho-Corasick 1975 automaton (goto/fail/output links,
  * output counts flattened through the fail chain at build time).
  *
  * Matching is case-insensitive: BOTH sides fold per-char through
  * Character.toLowerCase (locale-independent — String.toLowerCase
  * would fold by the JVM default locale and could disagree with the
  * match-side folding, e.g. Turkish dotless-i). Duplicate phrases are
  * collapsed at build time, so a repeated lexicon entry cannot
  * double-count. Counts are ALL occurrences including overlapping and
  * nested ones — for border-free phrases (no proper prefix = suffix)
  * this equals the non-overlapping replace-count. Returns
  * struct(n_hits BIGINT — total occurrences, n_phrases INT — distinct
  * phrases that matched). `packedPhrases` is newline-joined (phrases
  * must be newline-free).
  */
case class MultiMatch(child: Expression, packedPhrases: String)
    extends UnaryExpression {

  // goto as per-state char maps; emitCount/emitIds flattened through
  // the fail chain so match-time never walks suffix links for output
  // single normalization point: any divergence between automaton
  // phrases and BitSet sizing corrupts n_phrases
  @transient private lazy val foldedPhrases: Array[String] =
    packedPhrases.split('\n').filter(_.nonEmpty)
      .map(_.map(Character.toLowerCase)).distinct

  @transient private lazy val ac: (Array[java.util.HashMap[Character, Integer]],
      Array[Int], Array[Int], Array[Array[Int]]) = {
    val phrases = foldedPhrases
    val next = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val endsHere = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    phrases.zipWithIndex.foreach { case (ph, id) =>
      var st = 0
      ph.foreach { c =>
        val t = next(st).get(c)
        if (t != null) st = t
        else {
          next += new java.util.HashMap[Character, Integer]()
          endsHere += Nil
          next(st).put(c, next.length - 1)
          st = next.length - 1
        }
      }
      endsHere(st) = id :: endsHere(st)
    }
    val n = next.length
    val fail = new Array[Int](n)
    val emitCount = new Array[Int](n)
    val emitIds = new Array[Array[Int]](n)
    val queue = new java.util.ArrayDeque[Integer]()
    emitCount(0) = endsHere(0).size
    emitIds(0) = endsHere(0).toArray
    next(0).forEach { (_, v) =>
      fail(v) = 0
      queue.add(v)
    }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      emitCount(u) = endsHere(u).size + emitCount(fail(u))
      emitIds(u) =
        if (endsHere(u).isEmpty) emitIds(fail(u))
        else (endsHere(u).toArray ++ emitIds(fail(u)))
      next(u).forEach { (c, v) =>
        // fail(v): deepest proper suffix of v's string that is a node
        var f = fail(u)
        var hop = next(f).get(c)
        while (hop == null && f != 0) { f = fail(f); hop = next(f).get(c) }
        fail(v) = if (hop != null && hop != v) hop.intValue() else 0
        queue.add(v)
      }
    }
    (next.toArray, fail, emitCount, emitIds)
  }

  @transient private lazy val numPhrases: Int = foldedPhrases.length

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_multi_match expects a string column, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("n_phrases", IntegerType, nullable = false)))

  def compute(t: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val (next, fail, emitCount, emitIds) = ac
    val text = t.toString
    val seen = new java.util.BitSet(numPhrases)
    var total = 0L
    var st = 0
    var i = 0
    while (i < text.length) {
      val c = Character.toLowerCase(text.charAt(i))
      var hop = next(st).get(c)
      while (hop == null && st != 0) { st = fail(st); hop = next(st).get(c) }
      st = if (hop != null) hop.intValue() else 0
      if (emitCount(st) > 0) {
        total += emitCount(st)
        val ids = emitIds(st)
        var j = 0
        while (j < ids.length) { seen.set(ids(j)); j += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, seen.cardinality()))
  }

  override def nullSafeEval(t: Any): Any = compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiMatch", this, classOf[MultiMatch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object TextFunctions {
  /** Column API: word k-shingles of a string column. */
  def shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_shingles",
      text, org.apache.spark.sql.functions.lit(k))

  /** Column API: the numHashes minhash basis hashes of a shingle. */
  def minhash_hashes(g: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_hashes",
      g, org.apache.spark.sql.functions.lit(numHashes))

  /** Column API: packed simhash vote bits of a token. */
  def simhash_pack(tok: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_simhash_pack", tok)

  /** Column API: BPE-tokenize a string column with a learned merge
    * table (priority = list order, e.g. straight from
    * TextAnalysis.bpeTrain's output).
    */
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.functions.call_function("graft_bpe_encode",
      text, org.apache.spark.sql.functions.lit(
        merges.map { case (l, r) => s"$l $r" }.mkString("\n")))

  /** Column API: unigram-LM (Viterbi) tokenize a string column with a
    * learned (piece, logprob) vocab — e.g. straight from
    * TextAnalysis.unigramTrain's output.
    */
  def unigram_encode(text: Column, vocab: Seq[(String, Double)]): Column =
    org.apache.spark.sql.functions.call_function("graft_unigram_encode",
      text, org.apache.spark.sql.functions.lit(
        vocab.map { case (p, lp) => s"$p $lp" }.mkString("\n")))

  /** Column API: Aho-Corasick multi-pattern match — struct(n_hits,
    * n_phrases) per row, one automaton pass whatever the phrase count.
    */
  def multi_match(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "multi_match needs at least one phrase")
    require(phrases.forall(p => p.nonEmpty && !p.contains('\n')),
      "phrases must be non-empty and newline-free")
    org.apache.spark.sql.functions.call_function("graft_multi_match",
      text, org.apache.spark.sql.functions.lit(phrases.mkString("\n")))
  }

  /** Column API: Unicode-normalize (+ optional ROOT casefold) a string
    * column. form ∈ NFC/NFD/NFKC/NFKD.
    */
  def unicode_normalize(text: Column, form: String = "NFC",
                        casefold: Boolean = false): Column =
    org.apache.spark.sql.functions.call_function("graft_unorm",
      text, org.apache.spark.sql.functions.lit(form),
      org.apache.spark.sql.functions.lit(casefold))
}
