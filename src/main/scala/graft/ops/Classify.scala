package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical text classification as corpus-scale pipeline operators —
  * the fastText/CCNet role in an LLM data pipeline: train a cheap
  * bag-of-words classifier on labeled documents and score the whole
  * corpus with it (language routing, quality filtering), plus the
  * chi-squared feature audit and the confusion/PRF report that
  * evaluate it.
  *
  * Scale shape: training is ONE groupBy over exploded tokens (the
  * (token, class) count table), the model is vocab-capped so the
  * scoring join broadcasts, and scoring is a token join + one keyed
  * aggregate per document. The add-1 smoothing identity
  * ln(0+1) = 0 means absent (token, class) pairs contribute nothing
  * to the numerator sum, so the model table stays SPARSE — no V×C
  * dense grid ever materializes on the data path.
  */
object Classify {

  private def tokens(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), explode(split(text, "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** Train a multinomial Naive Bayes model on (`text`, `label`) and
    * score every document with it (self-train/self-score — split
    * upstream with sp02 for held-out evaluation). Vocabulary is capped
    * at the `vocabK` most frequent tokens (count desc, token asc —
    * tk03's total order); out-of-vocab tokens are ignored by BOTH
    * training totals and scoring, so the model is closed over a
    * broadcastable table. Prediction ties break on class name
    * ascending. Output: __id, label, pred, score (round 4), correct.
    */
  def naiveBayesScore(df: DataFrame, id: Column, text: Column, label: Column,
                      vocabK: Int = 65536): DataFrame = {
    val docs = df.select(id.as("__id"), text.as("__text"), label.as("__label"))
    val toks = tokens(docs, col("__id"), col("__text"))
      .join(docs.select(col("__id"), col("__label")), "__id")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(vocabK)
      .select(col("tok"))
    val inVocab = toks.join(broadcast(vocab), Seq("tok"))
    val vSize = vocab.count()
    // class priors and per-class token totals: one bounded frame each
    // (cardinality = #classes), broadcast back into the scoring join
    val classes = docs.groupBy(col("__label").as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val classTok = inVocab.groupBy(col("__label").as("cls"))
      .agg(count(lit(1)).as("n_tok"))
    val nDocs = docs.count()
    val model = inVocab.groupBy(col("tok"), col("__label").as("cls"))
      .agg(count(lit(1)).as("c"))
      .select(col("tok"), col("cls"), log(col("c") + 1.0).as("lnum"))
    // per-(doc, class) sum of ln(c+1) over the SPARSE model rows; the
    // full doc×class grid is restored by a broadcast cross join below
    val docClassSum = tokens(docs, col("__id"), col("__text"))
      .join(broadcast(model), Seq("tok"))
      .groupBy(col("__id"), col("cls"))
      .agg(sum(col("lnum")).as("s_lnum"))
    val docLen = tokens(docs, col("__id"), col("__text"))
      .join(broadcast(vocab), Seq("tok"))
      .groupBy(col("__id")).agg(count(lit(1)).as("t_doc"))
    val grid = docs.select(col("__id"), col("__label"))
      .join(docLen, Seq("__id"), "left")
      .na.fill(0L, Seq("t_doc"))
      .crossJoin(broadcast(classes.join(classTok, Seq("cls"), "left")
        .na.fill(0L, Seq("n_tok"))))
      .join(docClassSum, Seq("__id", "cls"), "left")
      .na.fill(0.0, Seq("s_lnum"))
      .withColumn("score",
        log(col("n_docs").cast("double") / nDocs) -
          col("t_doc") * log(col("n_tok") + vSize.toDouble) + col("s_lnum"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("score").desc, col("cls").asc)
    grid.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("__id"), col("__label").as("label"), col("cls").as("pred"),
        round(col("score"), 4).as("score"),
        (col("cls") === col("__label")).as("correct"))
  }

  /** Chi-squared token-class association over DOCUMENT presence (the
    * standard feature-selection statistic): for each (token, class)
    * the 2×2 presence table (a,b,c,d) is built from exact integer
    * counts — a single distinct-presence groupBy plus a broadcast
    * cross join against the bounded class frame — and the top `topK`
    * tokens per class are kept (chi² desc, token asc).
    */
  def chi2Tokens(df: DataFrame, id: Column, text: Column, label: Column,
                 topK: Int = 5): DataFrame = {
    val docs = df.select(id.as("__id"), text.as("__text"), label.as("__label"))
    val presence = tokens(docs, col("__id"), col("__text"))
      .join(docs.select(col("__id"), col("__label")), "__id")
      .select(col("__id"), col("tok"), col("__label")).distinct()
    val classes = docs.groupBy(col("__label").as("cls"))
      .agg(count(lit(1)).as("n_cls"))
    val nTotal = docs.count()
    // one pass over the presence frame: a doc has exactly one label,
    // so dt (docs containing tok) = Σ_cls a — deriving the token
    // marginal from the (tok, cls) counts instead of a second presence
    // aggregate removes a full corpus tokenize + distinct shuffle
    // (r19 perf); aCounts is (token × class)-bounded, so the
    // checkpoint both consumers share is tiny
    val aCounts = Flat.flat(presence.groupBy(col("tok"), col("__label").as("cls"))
      .agg(count(lit(1)).as("a")))
    val tokDocs = aCounts.groupBy(col("tok")).agg(sum(col("a")).as("dt"))
    val grid = tokDocs.crossJoin(broadcast(classes))
      .join(aCounts, Seq("tok", "cls"), "left")
      .na.fill(0L, Seq("a"))
      .withColumn("b", col("dt") - col("a"))
      .withColumn("c", col("n_cls") - col("a"))
      .withColumn("d", lit(nTotal) - col("n_cls") - col("b"))
    // num/den in DOUBLE from the first product (the auc overflow
    // convention): the 2×2 margins scale with the corpus, so den is
    // ~n⁴ — past Long at ~1M docs (an ANSI throw, not even a wrong
    // value) — and a·d passes 2⁶³ at ~10B docs
    val num = (col("a").cast("double") * col("d") -
      col("b").cast("double") * col("c"))
    val den = (col("a") + col("b")).cast("double") *
      (col("c") + col("d")) * (col("a") + col("c")) * (col("b") + col("d"))
    val scored = grid.withColumn("chi2",
      when(den === 0, 0.0)
        .otherwise(lit(nTotal).cast("double") * num * num / den))
    val w = Window.partitionBy(col("cls"))
      .orderBy(col("chi2").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("cls"), col("rank"), col("tok"),
        col("a"), col("b"), col("c"), col("d"), round(col("chi2"), 4).as("chi2"))
  }

  /** Mutual-information token selection (mi01) — chi²'s sibling
    * statistic (information gain, the other published feature-selection
    * ranking): for each (token, class), MI over the 2×2 presence table
    * Σ_cells (n/N)·log₂(N·n / (rowTot·colTot)), with 0·log0 = 0. Same
    * counting skeleton as chi2Tokens (ONE distinct-presence groupBy, a
    * broadcast class frame, integer cells), so the two rankings are
    * comparable cell-for-cell; only the score formula differs. The one
    * float is the final log — cells stay exact integers, so an oracle
    * replays the score bit-close (round 6).
    */
  def miTokens(df: DataFrame, id: Column, text: Column, label: Column,
               topK: Int = 5): DataFrame = {
    val docs = df.select(id.as("__id"), text.as("__text"), label.as("__label"))
    val presence = tokens(docs, col("__id"), col("__text"))
      .join(docs.select(col("__id"), col("__label")), "__id")
      .select(col("__id"), col("tok"), col("__label")).distinct()
    val classes = docs.groupBy(col("__label").as("cls"))
      .agg(count(lit(1)).as("n_cls"))
    val nTotal = docs.count()
    // one pass over the presence frame: a doc has exactly one label,
    // so dt (docs containing tok) = Σ_cls a — deriving the token
    // marginal from the (tok, cls) counts instead of a second presence
    // aggregate removes a full corpus tokenize + distinct shuffle
    // (r19 perf); aCounts is (token × class)-bounded, so the
    // checkpoint both consumers share is tiny
    val aCounts = Flat.flat(presence.groupBy(col("tok"), col("__label").as("cls"))
      .agg(count(lit(1)).as("a")))
    val tokDocs = aCounts.groupBy(col("tok")).agg(sum(col("a")).as("dt"))
    val grid = tokDocs.crossJoin(broadcast(classes))
      .join(aCounts, Seq("tok", "cls"), "left")
      .na.fill(0L, Seq("a"))
      .withColumn("b", col("dt") - col("a"))
      .withColumn("c", col("n_cls") - col("a"))
      .withColumn("d", lit(nTotal) - col("n_cls") - col("b"))
    val nD = lit(nTotal).cast("double")
    def term(n: Column, rowTot: Column, colTot: Column): Column =
      when(n > 0, (n / nD) *
        log2(nD * n / (rowTot.cast("double") * colTot))).otherwise(0.0)
    val scored = grid.withColumn("mi",
      term(col("a"), col("dt"), col("n_cls")) +
        term(col("b"), col("dt"), lit(nTotal) - col("n_cls")) +
        term(col("c"), lit(nTotal) - col("dt"), col("n_cls")) +
        term(col("d"), lit(nTotal) - col("dt"), lit(nTotal) - col("n_cls")))
    scored
      .withColumn("mi", round(col("mi"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("cls"))
          .orderBy(col("mi").desc, col("tok").asc)))
      .filter(col("rank") <= topK)
      .select(col("cls"), col("rank"), col("tok"),
        col("a"), col("b"), col("c"), col("d"), col("mi"))
  }

  /** Per-class precision/recall/F1 from a scored frame with `label`
    * (truth) and `pred` columns — tp/fp/fn are one groupBy each over
    * the (label, pred) count matrix, which is #classes² rows.
    */
  def classReport(scored: DataFrame): DataFrame = {
    val m = scored.groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    val tp = m.filter(col("label") === col("pred"))
      .select(col("label").as("cls"), col("n").as("tp"))
    val truth = m.groupBy(col("label").as("cls")).agg(sum(col("n")).as("n_true"))
    val predicted = m.groupBy(col("pred").as("cls")).agg(sum(col("n")).as("n_pred"))
    truth.join(predicted, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "n_true", "n_pred"))
      .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("tp").cast("double") / col("n_pred")), 6).as("precision"),
        round(when(col("n_true") === 0, 0.0)
          .otherwise(col("tp").cast("double") / col("n_true")), 6).as("recall"),
        round(when(col("n_pred") + col("n_true") === 0, 0.0)
          .otherwise(lit(2.0) * col("tp") / (col("n_pred") + col("n_true"))), 6).as("f1"))
  }
}
