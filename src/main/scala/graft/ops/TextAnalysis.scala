package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, n-gram language heuristics, and
  * document fingerprinting. All pure column expressions (whole-stage
  * codegen, no UDFs) — they run at scan speed and scale linearly; the
  * only shuffles are the callers' aggregations.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish subword count: runs of letters, digits, or single
    * punctuation marks (the common pre-tokenizer regex family).
    */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))

  /** Tokenizer fertility by language (tk04): subwords per whitespace
    * word, the diagnostic that tells you which languages your
    * pre-tokenizer fragments (fertility ≈1 for English-like text,
    * 2–4× for scripts the regex family splits char-wise) — the number
    * that sizes per-language token budgets before a mix is fixed.
    * Exact integer counts, one ratio; a single partial-aggregated
    * groupBy on the language key.
    */
  def fertility(df: DataFrame, lang: Column = col("lang"),
                text: Column = col("text")): DataFrame = {
    val base = df.select(lang.as("lang"),
      size(tokens(text)).cast("long").as("w"),
      bpeishCount(text).cast("long").as("sw"))
    base.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("w")).as("n_words"),
      sum(col("sw")).as("n_subwords"),
      round(sum(col("sw")) / sum(col("w")).cast("double"), 6).as("fertility"))
  }

  /** Tokenizer fertility and compression ratio per (lang, source)
    * (tk05): tokens-per-word and bytes-per-token measured with the
    * REAL learned tokenizer — the native BpeEncode expression over a
    * trained merge table — not tk04's pre-tokenizer proxy. These are
    * the two readouts that size a training mix: fertility says how
    * many model tokens a language's "word" costs, and bytes-per-token
    * is the compression ratio that converts raw corpus bytes into
    * token budgets before a mixture is fixed. Exact integer sums into
    * two ratios; one partial-aggregated groupBy over a single scan
    * (the encode is whole-stage codegen, so the pass runs at scan
    * speed and the shuffle carries only the ~|lang|·|source| partial
    * rows).
    */
  def bpeFertility(df: DataFrame, merges: Seq[(String, String)],
                   lang: Column = col("lang"),
                   source: Column = col("source"),
                   text: Column = col("text")): DataFrame = {
    val base = df.select(lang.as("lang"), source.as("source"),
      size(tokens(text)).cast("long").as("w"),
      octet_length(text).cast("long").as("b"),
      size(graft.functions.TextFunctions.bpe_encode(text, merges))
        .cast("long").as("t"))
    base.groupBy(col("lang"), col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("w")).as("n_words"),
      sum(col("b")).as("n_bytes"),
      sum(col("t")).as("n_tokens"),
      round(sum(col("t")) / sum(col("w")).cast("double"), 6).as("fertility"),
      round(sum(col("b")) / sum(col("t")).cast("double"), 6)
        .as("bytes_per_token"))
  }

  /** Token statistics: counts + average token length. `keep` columns
    * pass through the projection — callers composing stats with
    * corpus metadata (pp04's lang/source) ride one scan instead of a
    * doc_id self-join.
    */
  def tokenStats(df: DataFrame, text: Column = col("text"),
                 keep: Seq[Column] = Nil): DataFrame = {
    val toks = tokens(text)
    df.select(
      (col("doc_id") +: keep) ++ Seq(
      size(toks).cast("int").as("n_tokens"),
      size(array_distinct(toks)).cast("int").as("n_distinct"),
      bpeishCount(text).cast("int").as("n_subwords"),
      length(text).cast("int").as("n_chars"),
      round(
        aggregate(transform(toks, t => length(t).cast("double")),
          lit(0.0), (acc, x) => acc + x) / size(toks), 4).as("avg_token_len")): _*)
  }

  /** Quality-scoring heuristics: length, punctuation ratio, stopword
    * ratio, repetition (distinct/total tokens). score in [0,1].
    * `keep` columns pass through the projection (tokenStats's
    * convention) so compositions like pp01 chain quality → langid →
    * tokenStats into ONE collapsed scan projection instead of three
    * corpus scans re-joined on doc_id.
    */
  def quality(df: DataFrame, text: Column = col("text"),
              keep: Seq[Column] = Nil): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val stopCnt = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
    val punctCnt = (length(text) -
      length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val lengthOk = (length(text) >= 50 && length(text) <= 10000).cast("double")
    df.select(
      (col("doc_id") +: keep) ++ Seq(
      round(stopCnt / nTok, 4).as("stopword_ratio"),
      round(punctCnt / length(text).cast("double"), 4).as("punct_ratio"),
      round(distinctRatio, 4).as("distinct_ratio"),
      round((distinctRatio * lit(0.5) + lengthOk * lit(0.3) +
        least(stopCnt / nTok * 5, lit(1.0)) * lit(0.2)), 4).as("quality_score")): _*)
  }

  /** Character-n-gram language heuristic: deterministic scores from
    * marker n-gram frequencies (the classic stopword/char-class
    * approach). Returns the scores and the argmax label.
    */
  def langid(df: DataFrame, text: Column = col("text"),
             keep: Seq[Column] = Nil): DataFrame = {
    def ngramCount(t: Column, g: String): Column =
      ((length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(g), ""))) /
        g.length).cast("double")
    val lowered = lower(text)
    val len = length(lowered).cast("double")
    val enScore = (ngramCount(lowered, "th") + ngramCount(lowered, " the ") * 2 +
      ngramCount(lowered, "ing")) / len
    val romScore = (ngramCount(lowered, " de ") * 2 + ngramCount(lowered, " la ") * 2 +
      ngramCount(lowered, "ción") * 3 + ngramCount(lowered, " le ") * 2) / len
    val deScore = (ngramCount(lowered, "sch") * 2 + ngramCount(lowered, " der ") * 2 +
      ngramCount(lowered, " und ") * 3) / len
    val cjkScore = (length(lowered) -
      length(regexp_replace(lowered, "[\\x{4e00}-\\x{9fff}]", ""))).cast("double") / len
    df.select(
      (col("doc_id") +: keep) ++ Seq(
      round(enScore, 6).as("score_en"),
      round(romScore, 6).as("score_rom"),
      round(deScore, 6).as("score_de"),
      round(cjkScore, 6).as("score_cjk"),
      when(cjkScore > 0.05, "zh")
        .when(deScore >= enScore && deScore >= romScore, "de")
        .when(romScore > enScore, "rom")
        .otherwise("en").as("predicted")): _*)
  }

  /** Canonical document fingerprint: hash of the sorted distinct token
    * set (near-dup key invariant to word order), plus a positional
    * rolling-style prefix hash.
    */
  def fingerprint(df: DataFrame, text: Column = col("text")): DataFrame = {
    val toks = tokens(text)
    df.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("set_fingerprint"),
      md5(concat_ws(" ", slice(toks, 1, 8))).as("prefix_fingerprint"))
  }

  /** Within-document repetition metrics (the Gopher/MassiveText
    * repetition filters): the fraction of duplicated words and
    * duplicated word 2-grams inside each document. Word-soup spam,
    * keyword-stuffed SEO pages, and templated boilerplate score high;
    * natural prose scores low — a standard pre-training quality gate
    * applied as a pure scan-speed column expression (no shuffle at
    * all; filtering on the output is a pushdown-able predicate).
    *
    * Docs with fewer than 2 tokens have no 2-grams; their
    * dup_2gram_frac is 0 by definition rather than a 0/0 null.
    */
  def repetition(df: DataFrame, text: Column = col("text")): DataFrame = {
    val toks = split(text, " ")
    val n = size(toks)
    // 2-grams positionally: try_element_at past the end yields null and
    // concat_ws skips it, but the n >= 2 guard below means short docs
    // never read these anyway
    val grams2 = transform(sequence(lit(1), greatest(n - 1, lit(1))),
      i => concat_ws(" ", try_element_at(toks, i), try_element_at(toks, i + 1)))
    df.select(
      col("doc_id"),
      n.cast("int").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(toks)).cast("double") / n, 4)
        .as("dup_word_frac"),
      when(n >= 2,
        round(lit(1.0) - size(array_distinct(grams2)).cast("double") / (n - 1), 4))
        .otherwise(lit(0.0)).as("dup_2gram_frac"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms (Robertson/Okapi, the classic probabilistic ranking
    * function; idf uses the +1 smoothing variant Lucene adopted so
    * common terms never go negative). Corpus-curation use: score docs
    * against a topic seed list and keep/weight the relevant slice.
    *
    * Scale shape: two tiny corpus aggregates (average doc length; one
    * document-frequency count per query term — |terms| longs) fold
    * back as literals, so the scoring pass is a pure scan-speed
    * projection: no shuffle, no join, no per-row UDF. tf counts exact
    * whitespace-token matches (the same tokenization as tokenStats).
    */
  def bm25(df: DataFrame, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, text: Column = col("text")): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = split(text, " ")
    def tf(t: String): Column =
      size(filter(toks, x => x === lit(t))).cast("double")
    val stats = df.agg(count(lit(1)).as("n"),
      avg(size(toks)).as("avgdl") +:
        terms.map(t => sum((tf(t) > 0).cast("long")).as(s"df_$t")): _*).head
    val n = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    val dl = size(toks).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val dfT = stats.getLong(2 + i).toDouble
      val idf = math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      lit(idf) * tf(t) * (k1 + 1.0) /
        (tf(t) + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))
    }.reduce(_ + _)
    df.select(col("doc_id"), round(score, 4).as("bm25"))
  }

  /** Vocabulary normalization: lowercase, drop stopwords, and strip
    * one inflectional suffix per token (ing/ed/es/s, longest first,
    * guarded by minimum stem length — a deterministic "stemming-lite",
    * not a full Porter stemmer, chosen because every rule is exactly
    * mirrorable in the SQL oracle). Emits per-doc kept-token counts,
    * distinct-stem counts, and an order-preserving stem fingerprint.
    * Pure column expressions — scan-speed like the rest of the family.
    */
  def stemLite(df: DataFrame, text: Column = col("text")): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    def stem(t: Column): Column =
      when(length(t) >= 5 && t.endsWith("ing"), t.substr(lit(1), length(t) - 3))
        .when(length(t) >= 4 && t.endsWith("ed"), t.substr(lit(1), length(t) - 2))
        .when(length(t) >= 4 && t.endsWith("es"), t.substr(lit(1), length(t) - 2))
        .when(length(t) >= 4 && t.endsWith("s"), t.substr(lit(1), length(t) - 1))
        .otherwise(t)
    val stems = transform(
      filter(split(lower(text), " "),
        t => !t.isin(stopwords.map(lit): _*) && t =!= ""),
      t => stem(t))
    df.select(
      col("doc_id"),
      size(stems).cast("int").as("n_kept"),
      size(array_distinct(stems)).cast("int").as("n_stems"),
      md5(concat_ws(" ", stems)).as("stem_fingerprint"))
  }

  /** Per-document top-k terms by smoothed TF-IDF (sklearn's
    * ln((N+1)/(df+1)) + 1 — never negative, never divides by zero):
    * the keyword-extraction / doc-representation classic. One explode
    * + (doc, term) count, a term-level document-frequency aggregate
    * (vocabulary-sized — broadcast or shuffle join, both tiny relative
    * to the corpus), and a per-doc top-k window. Ranking uses the
    * ROUNDED score with a term tie-break so results are stable across
    * engines and partitionings.
    */
  def tfidfTop(df: DataFrame, k: Int = 3,
               text: Column = col("text")): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val n = df.count()
    val tf = df.select(col("doc_id"), explode(split(text, " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("dfn"))
    val scored = tf.join(broadcast(dft), "term")
      .withColumn("score", round(col("tf") *
        (log(lit(n + 1.0) / (col("dfn") + 1.0)) + 1.0), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
  }

  /** Unigram perplexity proxy — the statistical member of the quality
    * filter family (CCNet/Gopher filter on LM perplexity; a unigram
    * model is its cheapest deterministic stand-in): score each doc by
    * the average negative log-likelihood of its tokens under the
    * corpus' own MLE unigram distribution. Templated/duplicated docs
    * made of frequent tokens score LOW (predictable); docs of rare
    * junk tokens score HIGH — both tails are filter candidates.
    *
    * Scale shape: one vocabulary count aggregate (the tx05 pass),
    * broadcast back (vocabularies are small relative to any corpus
    * worth filtering; swap for a shuffle join if not), then a
    * scan-speed per-doc average. No smoothing needed: every token is
    * in the vocabulary by construction (same corpus).
    */
  def unigramLogppl(df: DataFrame, text: Column = col("text")): DataFrame = {
    val toks = df.select(col("doc_id"), explode(split(text, " ")).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt"))).head.getLong(0)
    toks.join(broadcast(vocab), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt") / lit(total.toDouble))), 4).as("avg_neg_logp"))
  }

  /** Bigram LM perplexity proxy — the CCNet-style LM-quality filter
    * one order up from unigramLogppl: per-doc mean negative log of
    * the add-alpha-smoothed conditional, P(w2|w1) = (c(w1,w2) + a) /
    * (c(w1) + a*V). Word-soup/repetitive docs score low (predictable),
    * rare-transition docs high. Three keyed aggregations (bigram
    * counts, left-context counts, per-doc score) + the V scalar (one
    * driver long, like unigramLogppl's total); the bigram-count join
    * shuffles on (w1, w2) — web-scale bigram vocabularies exceed
    * broadcast range by design.
    */
  def bigramLogppl(df: DataFrame, text: Column = col("text"),
                   alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val ts = df.select(col("doc_id"), split(text, " ").as("__ts"))
    val bg = ts.select(col("doc_id"),
        explode(zip_with(
          slice(col("__ts"), lit(1), size(col("__ts")) - 1),
          slice(col("__ts"), lit(2), size(col("__ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = ts.select(explode(col("__ts")).as("t")).agg(countDistinct(col("t")))
      .head.getLong(0)
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c12") + alpha) / (col("c1") + alpha * v))), 4)
          .as("avg_neg_logp"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (tx19) — the smoothing
    * real LM-quality filters use (CCNet's KenLM is modified KN;
    * Kneser & Ney 1995, Chen & Goodman 1998):
    *
    *   P(w2|w1) = max(c(w1,w2) − d, 0)/c(w1)
    *            + (d · N1+(w1,·)/c(w1)) · N1+(·,w2)/N1+(·,·)
    *
    * with absolute discount d and the continuation distribution in the
    * back-off term — "how many contexts does w2 follow" rather than
    * raw frequency, the correction that stops high-count-but-
    * single-context words (the "San Francisco" effect) from inflating
    * back-off mass. Against tx12's add-alpha this scores function
    * words properly and is the published baseline for perplexity
    * filtering.
    *
    * Scale shape mirrors tx12: the (w1, w2) count frame yields ALL
    * FOUR statistics in two keyed aggregates (c1 and N1+(w1,·) fold
    * into ONE groupBy over c12; N1+(·,w2) is the other), one driver
    * long for N1+(·,·), then the per-doc join + aggregate. Every
    * observed bigram has c12 ≥ 1 > d, so P > 0 without smoothing
    * epsilons.
    */
  def knBigramLogppl(df: DataFrame, text: Column = col("text"),
                     discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount out of (0,1): $discount")
    val ts = df.select(col("doc_id"), split(text, " ").as("__ts"))
    val bg = ts.select(col("doc_id"),
        explode(zip_with(
          slice(col("__ts"), lit(1), size(col("__ts")) - 1),
          slice(col("__ts"), lit(2), size(col("__ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // persisted: c12 feeds FOUR consumers (left totals, continuation
    // counts, the N1+(·,·) count action, and the per-doc join) — the
    // count() action populates the cache so the aggregates read
    // blocks. Result depends on the cache (basketLift's class); the
    // bench/verify block hygiene reclaims it between queries.
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // left-context totals AND distinct-follower counts in one pass
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1c"))
    val nb = c12.count() // N1+(·,·): one driver long, tx12's V pattern
    bg.join(c12, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .join(cont, Seq("w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(
          greatest(col("c12") - discount, lit(0.0)) / col("c1") +
            (col("n1f") * discount / col("c1")) *
              (col("n1c") / lit(nb.toDouble)))), 4).as("kn_neg_logp"))
  }

  /** Top pointwise-mutual-information collocations (tx15): bigrams
    * whose joint count beats the independence expectation —
    * PMI = ln(c12·T / (c1·c2)), with c1/c2 the positional unigram
    * counts and T the bigram total. The corpus phrase-mining signal
    * (multi-word entities, boilerplate idioms) next to tx12's
    * perplexity. `minCount` filters hapax noise BEFORE the join-backs;
    * ranking is top-k (TakeOrdered, never a full sort) on the PMI
    * rounded at 9 so last-bit ln() noise cannot flip the cut, then
    * (w1, w2) ascending.
    */
  def pmiCollocations(df: DataFrame, minCount: Int = 5, topK: Int = 20,
                      text: Column = col("text")): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad args: $minCount/$topK")
    val ts = df.select(split(text, " ").as("__ts"))
    val bg = ts.select(
        explode(zip_with(
          slice(col("__ts"), lit(1), size(col("__ts")) - 1),
          slice(col("__ts"), lit(2), size(col("__ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val total = bg.count()
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = bg.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    c12.join(c1, Seq("w1")).join(c2, Seq("w2"))
      .withColumn("pmi",
        log(col("c12") * lit(total.toDouble) / (col("c1") * col("c2"))))
      .orderBy(round(col("pmi"), 9).desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(col("pmi"), 4).as("pmi"))
  }

  /** Distributed BPE merge training (Sennrich et al., ACL 2016): learn
    * `numMerges` byte-pair merges from the corpus. The corpus-scale
    * work — building the (word, count) vocabulary — is ONE
    * explode+groupBy over all text; the merge loop then runs against
    * that vocabulary table, which is distinct-words-sized (still a
    * DataFrame: web-scale corpora have 10⁸ distinct words). Each
    * round is one shuffle of weighted adjacent-symbol pairs with
    * map-side partial sums + a 1-row argmax collect, then a pure
    * column-expression rewrite of the symbol arrays — the standard
    * distributed-BPE shape.
    *
    * Deterministic: ties break lexicographically on the pair, and
    * merging replays greedy left-to-right (an overlapping run like
    * "a a a a" merges to "aa aa", never "a aa a"). Returns the merge
    * table (rank, left, right, weighted pair count).
    */
  def bpeTrain(df: DataFrame, numMerges: Int,
               text: Column = col("text")): Seq[(Int, String, String, Long)] = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    val sep = "\u0000" // cannot appear in split-derived symbols
    var vocab = df.select(explode(split(text, "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // symbol sequence: characters plus the end-of-word marker
      .select(col("cnt"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("syms"))
      .cache()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to numMerges) {
      val top = vocab
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => concat_ws(sep, a, b))).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("p").asc)
        .limit(1).collect()
      if (top.nonEmpty && merges.length < numMerges) {
        val parts = top(0).getString(0).split(sep, 2)
        val (l, r) = (parts(0), parts(1))
        val pc = top(0).getLong(1)
        merges += ((rank, l, r, pc))
        val lr = l + r
        // greedy left-to-right merge: fold symbols, fusing when the
        // accumulated tail is `l` and the next symbol is `r` (the
        // fused token can itself be the left side of a later fuse in
        // the SAME pass only if it equals l — exactly BPE's rule)
        val next = vocab.select(col("cnt"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, x) =>
            when(size(acc) > 0 &&
                 element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(lr))))
              .otherwise(concat(acc, array(x)))).as("syms"))
          .cache()
        next.count()
        vocab.unpersist()
        vocab = next
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** Distributed unigram-LM (SentencePiece-style) tokenizer training
    * (Kudo 2018, "Subword Regularization: Improving Neural Network
    * Translation Models with Multiple Subword Candidates"): learn a
    * `vocabSize` piece vocabulary with expected-count probabilities —
    * the one major tokenizer family BPE (tk01) doesn't cover.
    *
    * Scale shape: the only corpus-sized pass is the (word, count)
    * vocabulary build — ONE explode+groupBy with map-side combine, the
    * same pass bpeTrain starts from. Everything after runs against the
    * distinct-words frame:
    *  - SEED: every ≤ `maxPieceLen`-char substring of every distinct
    *    word, count-weighted (nested transform + flatten, a pure
    *    map-side expand of the words frame), scored freq × len (the
    *    paper's frequent-substrings seed); top seed pieces + ALL
    *    single characters (coverage guarantee).
    *  - E-step: hard-EM expected counts — each distinct word Viterbi-
    *    segments under the broadcast vocab at scan speed (the native
    *    UnigramEncode expression, tk02's compute-object pattern),
    *    weighted by word count; one (piece, count) shuffle whose key
    *    space is the vocab, not the corpus.
    *  - M-step + PRUNE: logprob = ln(count/total) from exact integer
    *    counts; keep the top `vocabSize` pieces by expected count.
    *    Single chars with nonzero expected count are never crowded
    *    out by multi-char pieces; chars that appear in NO Viterbi
    *    path drop out, and encoding stays total via UnigramEncode's
    *    unknown-char fallback score. Fixed `rounds` iterations.
    *
    * Driver state is BOUNDED by construction: the collected frames are
    * the seed (≤ 4×vocabSize rows) and per-round counts (≤ vocab +
    * alphabet rows) — the k-means-codebook discipline, never the
    * corpus. Deterministic end-to-end: integer count sums, total
    * orderings with piece tie-breaks, and UnigramEncode's longest-
    * piece tie rule (reference analog: lagoon has no tokenizer — this
    * extends the LLM-pipeline family; Kudo 2018 §3 is the spec, like
    * Sennrich 2016 for tk01).
    *
    * Returns (rank, piece, expectedCount, logprob) rows, rank 1..N by
    * (count desc, piece asc).
    */
  def unigramTrain(df: DataFrame, vocabSize: Int, rounds: Int = 2,
                   maxPieceLen: Int = 4,
                   text: Column = col("text")): Seq[(Int, String, Long, Double)] = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(rounds > 0, s"rounds must be positive: $rounds")
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2: $maxPieceLen")
    val words = df.select(explode(split(text, "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .cache()
    words.count()
    try {
      // ---- seed: count-weighted substrings of the distinct words ----
      val subs = words.select(col("cnt"), explode(flatten(
          transform(sequence(lit(0), length(col("w")) - 1), s =>
            transform(sequence(lit(1),
                least(lit(maxPieceLen), length(col("w")) - s)), l =>
              col("w").substr(s + lit(1), l))))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
      val seedSize = vocabSize * 4
      val multi = subs.filter(length(col("piece")) >= 2)
        .orderBy((col("freq") * length(col("piece"))).desc, col("piece").asc)
        .limit(seedSize)
        .select(col("piece"), col("freq")).collect()
      val chars = subs.filter(length(col("piece")) === 1)
        .select(col("piece"), col("freq")).collect()
      def toVocab(rows: Seq[(String, Long)]): Seq[(String, Double)] = {
        val total = rows.map(_._2).sum.toDouble
        rows.map { case (p, c) => (p, math.log(c / total)) }
      }
      var vocab = toVocab(
        (chars ++ multi).map(r => (r.getString(0), r.getLong(1))).toSeq)
      var lastCounts: Seq[(String, Long)] = Seq.empty
      // ---- hard-EM rounds: Viterbi E-step, count M-step, prune ----
      for (_ <- 1 to rounds) {
        val counts = words.select(col("cnt"), explode(
            graft.functions.TextFunctions.unigram_encode(col("w"), vocab))
            .as("piece"))
          .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
          .collect() // bounded: ≤ |vocab| + alphabet rows
          .map(r => (r.getString(0), r.getLong(1)))
          .sortBy { case (p, c) => (-c, p) }
        val (single, multiC) = counts.partition(_._1.length == 1)
        val keep = single ++ multiC.take(math.max(0, vocabSize - single.length))
        lastCounts = keep.sortBy { case (p, c) => (-c, p) }.toSeq
        vocab = toVocab(lastCounts)
      }
      val lp = vocab.toMap
      lastCounts.take(vocabSize).zipWithIndex.map { case ((p, c), i) =>
        (i + 1, p, c, lp(p))
      }
    } finally words.unpersist()
  }

  /** Persist a trained unigram vocab as parquet (tk08): the
    * train-once / encode-everywhere contract — a tokenizer trained on
    * one corpus snapshot must tokenize every later job identically,
    * so the (piece, logprob) table is a first-class artifact, not a
    * driver-session value. Doubles round-trip exactly (parquet stores
    * the IEEE bits; no text formatting in the path).
    */
  def saveVocab(spark: org.apache.spark.sql.SparkSession,
                vocab: Seq[(String, Double)], path: String): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "logprob").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted unigram vocab. Order is normalized (piece asc)
    * — encoding is order-independent (the vocab is a map; the unk
    * score and max piece length are order-free aggregates), but a
    * deterministic order keeps the packed broadcast string, and thus
    * generated code keys, stable across jobs.
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                path: String): Seq[(String, Double)] =
    spark.read.parquet(path).orderBy("piece")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** Top-k corpus vocabulary by raw frequency — the vocab-building pass
    * of a tokenizer pipeline. One explode + one count groupBy (map-side
    * partial combine collapses frequent tokens per partition, so the
    * shuffle carries distinct tokens, not token instances); ranking is
    * total (count desc, token asc) for determinism.
    */
  def vocab(df: DataFrame, k: Int = 50, text: Column = col("text")): DataFrame =
    df.select(explode(split(text, "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(k)

  /** Zipf rank-frequency fit (tx18): per language, the OLS slope and
    * intercept of log10(freq) on log10(rank) over the `topN` most
    * frequent types — the corpus-health diagnostic (natural text fits
    * slope ≈ −1; templated/boilerplate-heavy or synthetic corpora
    * bend the curve) run before accepting a new crawl into a mix.
    *
    * Scale shape: NO per-type ranking window. Within a frequency-tie
    * class types are interchangeable (same y = log10 c), so the top-N
    * (rank, y) point multiset is derivable from the COUNT-CARDINALITY
    * frame (distinct counts per language — thousands of rows for a
    * billion-token corpus, Zipf guarantees it): the grouped bucketed
    * prefix sum gives each class its ranks-above offset, classes
    * intersecting the top N explode to their ≤N rank integers, and
    * the fit is one aggregate. The oracle's plain per-type window
    * produces the identical point multiset. Needs ≥2 distinct ranks
    * per language (guaranteed for any real corpus).
    */
  def zipfFit(df: DataFrame, lang: Column = col("lang"),
              text: Column = col("text"), topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN must be >= 2: $topN")
    val tf = df.select(lang.as("lang"), explode(tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val perC = tf.groupBy(col("lang"), col("c"))
      .agg(count(lit(1)).cast("double").as("w"))
    // ranks-above offset per (lang, count) class: cumulative types in
    // strictly-more-frequent classes (v = -c so ascending == freq desc)
    val cum = graft.ops.Profile.cumWeights(perC
        .select(col("lang").as("g"), (-col("c")).as("v"), col("w")))
      .select(col("g").as("lang"), (-col("v")).as("c"),
        (col("cumw") - col("w")).cast("long").as("above"), col("w"))
    val pts = cum.filter(col("above") < topN)
      .select(col("lang"), log10(col("c").cast("double")).as("y"),
        explode(sequence(col("above") + 1,
          least(col("above") + col("w").cast("long"), lit(topN.toLong))))
          .as("rk"))
      .withColumn("x", log10(col("rk").cast("double")))
    pts.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lang"), col("n_points"),
        Portability.zround(
          (col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        Portability.zround(
          (col("sy") - (col("n_points") * col("sxy") - col("sx") * col("sy")) /
            (col("n_points") * col("sxx") - col("sx") * col("sx")) * col("sx"))
            / col("n_points"), 6)
          .as("zipf_intercept"))
  }

  /** Vocabulary coverage curve (tx17): for each candidate vocab size
    * k, the fraction of all token OCCURRENCES covered by the k most
    * frequent types — the tokenizer-sizing readout ("how big must the
    * vocab be for 99% coverage"). Within a frequency-tie class types
    * are interchangeable, so coverage(k) is well-defined without any
    * per-type ordering: strictly-more-frequent mass plus
    * (k − types_above) · c of the tie class the k-th type falls in.
    *
    * Scale shape: token→count is one groupBy; EVERYTHING after runs
    * on the COUNT-CARDINALITY frame (distinct frequency values — a
    * few thousand rows for a billion-token corpus, Zipf guarantees
    * it) through the bucketed prefix sum; the k grid broadcasts.
    */
  def vocabCoverage(df: DataFrame, ks: Seq[Int],
                    text: Column = col("text")): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"bad vocab sizes: $ks")
    val spark = df.sparkSession
    import spark.implicits._
    // materialize the vocab-cardinality count frame once: it feeds
    // both the rank-bucket chain and the scalar totals, and without
    // the checkpoint each consumer re-runs the corpus-wide token
    // explode + aggregate (r19 perf). Cardinality qualification (r20
    // probe, BASELINE.md): one row per distinct token TYPE — Zipf
    // keeps it sublinear in the corpus (~10^8 types ≈ 3 GB for a web
    // corpus) vs the corpus-sized explode each consumer would re-run.
    val counts = Flat.flat(df.select(explode(split(text, "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val perC = counts.groupBy(col("c"))
      .agg(count(lit(1)).as("n_types"), (count(lit(1)) * col("c")).as("mass"))
      .withColumn("negc", -col("c"))
    val cum = graft.ops.Stats.cumCountsByValue(perC, "negc",
      Seq("n_types", "mass"))
    val tot = counts.agg(sum(col("c")).as("tm"), count(lit(1)).as("tt"))
    val kdf = broadcast(ks.toDF("k"))
    kdf.crossJoin(broadcast(tot))
      .withColumn("keff", least(col("k").cast("long"), col("tt")))
      .join(cum,
        col("keff") > col("cum_n_types_below") &&
        col("keff") <= col("cum_n_types_below") + col("n_types"))
      .select(col("k"),
        round((col("cum_mass_below") + (col("keff") - col("cum_n_types_below"))
          * col("c")) * lit(1.0) / col("tm"), 6).as("coverage"),
        col("tt").as("total_types"), col("tm").as("total_mass"))
  }

  /** Flesch reading-ease score (tx14): 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words), with syllables approximated by vowel-
    * group count (the standard cheap estimator — a vowel group never
    * spans whitespace, so one regexp over the whole text equals the
    * per-word sum). Readability is a routing signal next to tx02's
    * quality score: very low scores flag OCR garbage and run-on
    * boilerplate. Pure scan-speed regexp projection, zero shuffles.
    */
  def readability(df: DataFrame, text: Column = col("text")): DataFrame = {
    val words = size(split(trim(text), "\\s+")).cast("double")
    val sentences = (regexp_count(text, lit("[.!?]+")) + lit(1)).cast("double")
    val syllables = regexp_count(lower(text), lit("[aeiouy]+")).cast("double")
    df.select(col("doc_id"),
      words.cast("long").as("n_words"),
      sentences.cast("long").as("n_sentences"),
      syllables.cast("long").as("n_syllable_groups"),
      round(lit(206.835) - lit(1.015) * (words / sentences) -
        lit(84.6) * (syllables / words), 4).as("flesch"))
  }

  /** Per-document out-of-vocabulary rate (tk03) against the corpus's
    * own top-`k` token vocabulary (`vocab` above — same tokenization,
    * same deterministic count-desc/token-asc ranking, so the cut at
    * rank k is engine-portable). The OOV share is the standard proxy
    * for "will this doc tokenize badly" (transliteration, boilerplate
    * markup, wrong language for the tokenizer) used to route docs
    * before an expensive BPE pass.
    *
    * Scale shape: the vocabulary is a TakeOrdered top-k (map-side
    * partial top-k per partition, never a global sort) and joins back
    * BROADCAST — the corpus-sized side is one explode + one keyed
    * count aggregate per doc_id; nothing collects beyond the k-row
    * vocab itself.
    */
  def oovRate(df: DataFrame, k: Int = 500,
              text: Column = col("text")): DataFrame = {
    val toks = df.select(col("doc_id"),
        explode(split(text, "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val v = vocab(df, k, text).select(col("tok"), lit(1).as("__in_v"))
    toks.join(broadcast(v), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Inverted-index build (ii01) — the search-index construction job:
    * full postings (term, doc_id, tf, first_pos) with per-term
    * corpus statistics (df = documents containing the term, cf =
    * total occurrences) attached to every posting, ready for a BM25
    * serving layer (tx08 consumes exactly these statistics).
    *
    * Scale shape: one posexplode, then a (term, doc_id) hash
    * aggregate with map-side partials (tf/first_pos are algebraic),
    * then per-term df/cf as a SECOND vocabulary-sized aggregate joined
    * back — AQE broadcasts the stats frame (it is |vocab| rows), so
    * the postings stream takes no second exchange and, crucially, no
    * per-term SORT (the window form measured ×5.5 wall at ×4 corpus
    * in the r9f probe; this form is ~linear). At 100 TB the posting
    * list of a stop-word is huge but each AGGREGATE group is
    * (term, doc_id)-sized, so no group exceeds one document's
    * occurrences; `minDf` prunes on the stats side BEFORE the join,
    * turning the join into the hapax filter too.
    */
  def invertedIndex(df: DataFrame, minDf: Long = 1L,
                    text: Column = col("text")): DataFrame = {
    val postings = df.select(col("doc_id"),
        posexplode(split(text, "\\s+")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).cast("long").as("first_pos"))
    val stats = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf)
    postings.join(stats, Seq("term"))
      .select(col("term"), col("df"), col("cf"),
        col("doc_id"), col("tf"), col("first_pos"))
  }
}
