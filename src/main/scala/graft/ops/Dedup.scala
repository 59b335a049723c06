package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, each built as
  * the scalable Spark pattern:
  *
  *  - exact: hash-groupBy — one shuffle on the content hash.
  *  - MinHash + LSH: shingle → K minhash signatures → band keys →
  *    candidate pairs via an equi-join on (band, key). Never compares
  *    all N² pairs; the only joins are on band buckets, which is the
  *    standard 100 TB-scale near-dup design (banding keeps bucket
  *    sizes bounded; skewed buckets can be salted).
  *  - SimHash: per-token hash bits summed into a compact bit string;
  *    half-signature blocking for candidate pairs + exact hamming check.
  *  - n-gram Jaccard: exact verification on blocked candidates via
  *    token-set intersection counts (explode + groupBy, no N²).
  *
  * Hashes are md5-derived so results are deterministic and engine-
  * portable (the DuckDB oracles reproduce them bit-for-bit).
  */
object Dedup {

  /** Exact dedup on normalized content: one survivor (min id) per
    * distinct text; dup_count for observability.
    */
  def exact(df: DataFrame, text: Column = col("text")): DataFrame =
    df.groupBy(md5(lower(trim(text))).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental-batch dedup — the daily-ingest shape: drop rows of
    * `newBatch` that duplicate the EXISTING corpus, either exactly
    * (md5 of the normalized text) or as a token-set permutation
    * (order-invariant set fingerprint, same derivation as
    * TextAnalysis.fingerprint). Within-batch duplicates are the
    * caller's choice (compose with `exact` first).
    *
    * Scale shape: the base side collapses to DISTINCT 32-byte hashes
    * before either anti-join — at 100 TB the base's hash set still
    * shuffle-joins (it exceeds broadcast range), but the join carries
    * hashes, never document payloads, and Spark plans both as hash
    * anti-joins on the batch side.
    */
  def incrementalDedup(newBatch: DataFrame, base: DataFrame,
                       text: Column = col("text")): DataFrame = {
    def contentHash(t: Column) = md5(lower(trim(t)))
    // same normalization as the exact hash: a case-variant
    // permutation of a base doc must hit this guard too
    def setFp(t: Column) =
      md5(concat_ws(" ", array_sort(array_distinct(split(lower(trim(t)), "\\s+")))))
    val ch = "__dd_content_hash"
    val fp = "__dd_set_fp"
    require(!newBatch.columns.exists(c => c == ch || c == fp),
      s"columns $ch/$fp would be clobbered")
    val baseCh = base.select(contentHash(text).as(ch)).distinct()
    val baseFp = base.select(setFp(text).as(fp)).distinct()
    newBatch
      .withColumn(ch, contentHash(text))
      .withColumn(fp, setFp(text))
      .join(baseCh, Seq(ch), "left_anti")
      .join(baseFp, Seq(fp), "left_anti")
      .drop(ch, fp)
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb pass): a
    * LINE that appears in more than `maxDf` distinct documents is
    * template chrome ("subscribe to our newsletter", nav menus, cookie
    * banners) and is dropped from EVERY document; surviving lines are
    * reassembled in original order. Returns (doc_id, `out`); documents
    * whose every line was boilerplate disappear (nothing remains).
    *
    * Scale shape: one posexplode (no self-join), the DF count groups
    * on md5(line) so the wide line text never shuffles twice, and the
    * hot-line set anti-joins back on the same 32-byte key. Reassembly
    * is the group-collect of (pos, line) per doc — bounded by the
    * document's own size, the same invariant every other per-doc
    * operator here relies on.
    */
  def dropBoilerplateLines(df: DataFrame, maxDf: Long,
                           text: Column = col("text"),
                           out: String = "clean_text",
                           sep: String = "\n"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    val lines = df
      .select(col("doc_id"), posexplode(split(text, java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
      .withColumn("__lh", md5(col("__line")))
    val hot = lines.groupBy(col("__lh"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__lh"))
    lines.join(hot, Seq("__lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as(out))
  }

  /** Cross-document paragraph dedup, keep-first (dd09) — the
    * RefinedWeb-style pass that removes REPEATED paragraphs corpus-
    * wide while the first occurrence (lowest (doc_id, position))
    * survives. Complements ln01: boilerplate dropping removes lines
    * hot in MANY documents; this dedups any paragraph that appears
    * twice anywhere, so syndicated content costs its copies, not its
    * first publication.
    *
    * Scale: one shuffle partitioned on the 32-byte paragraph hash;
    * each group holds only that paragraph's copies and the keep-first
    * choice is a row_number over the (doc_id, pos) total order —
    * deterministic under retries and partition layout. Documents that
    * lose every paragraph come back with an empty string (left join),
    * never silently vanish. Empty paragraphs (split artifacts) are
    * dropped before dedup — otherwise the zero-length paragraph every
    * trailing separator produces would count as a corpus-wide dup.
    */
  def dropDuplicateParagraphs(df: DataFrame,
                              text: Column = col("text"),
                              out: String = "clean_text",
                              sep: String = "\n"): DataFrame = {
    require(!df.columns.contains(out), s"column $out would be clobbered")
    val paras = df
      .select(col("doc_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__p")))
      .filter(length(col("__p")) > 0)
    val w = Window.partitionBy(md5(col("__p"))).orderBy(col("doc_id"), col("__pos"))
    val kept = paras.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__p")))),
          x => x.getField("__p"))).as(out))
    df.select(col("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col(out), lit("")).as(out))
  }

  /** Cross-document SUBSTRING dedup via sliding token windows (dd10)
    * — the scalable stand-in for the suffix-array ExactSubstr pass of
    * Lee et al. 2022 (arXiv:2107.06499): every run of `w` consecutive
    * tokens whose window-hash occurs in ≥ `minDf` DISTINCT documents
    * marks its span as duplicated; covered tokens are dropped from
    * EVERY occurrence and the survivors reassembled in order
    * (whitespace-normalized — token-level surgery cannot preserve the
    * original spacing). Windows repeated only WITHIN one document are
    * untouched: in-doc repetition is tx06's signal, not cross-doc
    * contamination. Returns (doc_id, n_tokens, n_dup_tokens, `out`);
    * documents losing every token come back with an empty string.
    *
    * Scale shape: ~one window row per token (explode over sequence);
    * the duplicated-window count groups on the window's md5 so only
    * the 32-byte key crosses that shuffle (countDistinct partial-
    * aggregates map-side), and hot windows join back on the same key.
    * Span coverage explodes w positions per DUP window only, and the
    * final reassembly is the per-doc group-collect every other
    * per-doc operator here relies on (bounded by the document's own
    * size). No self-joins anywhere.
    */
  def dropDuplicateWindows(df: DataFrame, w: Int = 8, minDf: Int = 2,
                           text: Column = col("text"),
                           out: String = "clean_text"): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens: $w")
    require(minDf >= 2, s"minDf < 2 would mark every window duplicated: $minDf")
    require(!df.columns.contains(out), s"column $out would be clobbered")
    val toks = df.select(col("doc_id"),
      filter(split(text, "\\s+"), t => length(t) > 0).as("__tk"))
    val n = size(col("__tk"))
    val starts = toks.select(col("doc_id"), col("__tk"),
      explode(when(n >= w, sequence(lit(0), n - w))
        .otherwise(array().cast("array<int>"))).as("__s"))
    val wins = starts.select(col("doc_id"), col("__s"),
      md5(concat_ws(" ", slice(col("__tk"), col("__s") + 1, lit(w)))).as("__wh"))
    val hot = wins.groupBy(col("__wh"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDf).select(col("__wh"))
    val cov = wins.join(hot, Seq("__wh"))
      .select(col("doc_id"),
        explode(sequence(col("__s"), col("__s") + (w - 1))).as("__pos"))
      .distinct()
    val tokpos = toks.select(col("doc_id"),
      posexplode(col("__tk")).as(Seq("__pos", "__tok")))
    val kept = tokpos.join(cov, Seq("doc_id", "__pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("__kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            x => x.getField("__tok"))).as(out))
    toks.select(col("doc_id"), n.cast("int").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0))).cast("int")
          .as("n_dup_tokens"),
        coalesce(col(out), lit("")).as(out))
  }

  /** TRUE exact-substring duplicate spans (dd16) — the real
    * maximal-duplicate-span semantics of Lee et al. 2022
    * (arXiv:2107.06499 ExactSubstr), not dd10's fixed-w stand-in: a
    * token belongs to a duplicate span iff some substring of length ≥
    * `minSpan` containing it occurs ≥ `minCount` times in the CORPUS
    * (total occurrences — in-doc repetition counts, per the paper;
    * dd10 only counts distinct docs). Detection is exact for the
    * threshold: a substring of length ≥ minSpan occurs twice iff every
    * (equivalently, some) of its length-minSpan windows occurs twice,
    * so sliding minSpan-gram hashes mark exactly the covered tokens,
    * whatever the offsets — planted spans straddling ANY fixed-stride
    * block boundary are found (the case a strided block-hash provably
    * misses; DedupSpec plants one). Covered windows then merge into
    * MAXIMAL spans per doc: consecutive duplicated starts s1 < s2
    * merge iff s2 ≤ s1 + minSpan (their coverages touch), via a
    * per-doc lag + running-sum island window.
    *
    * Returns one row per maximal span: (doc_id, span_start, span_end,
    * span_len) — token positions, 0-based inclusive.
    *
    * Scale shape: one shuffle keyed on the gram's md5 (32-byte key,
    * map-side partial counts) + one join back on the same key; the
    * island windows are PARTITIONED BY doc (bounded by the longest
    * document, never the corpus). No pair generation exists anywhere
    * — duplication is decided by a count, not a self-join — so no
    * maxBucket cap is needed: a gram occurring 10^6 times contributes
    * 10^6 (doc,pos) hit rows, linear in its occurrences, the same
    * rows a rare gram would.
    */
  def exactSubstringSpans(df: DataFrame, minSpan: Int = 16,
                          minCount: Int = 2,
                          text: Column = col("text")): DataFrame = {
    require(minSpan >= 2, s"minSpan must be >= 2 tokens: $minSpan")
    require(minCount >= 2, s"minCount < 2 would mark every token: $minCount")
    val k = minSpan
    val toks = df.select(col("doc_id"),
      filter(split(text, "\\s+"), t => length(t) > 0).as("__tk"))
    val n = size(col("__tk"))
    val starts = toks.select(col("doc_id"), col("__tk"),
      explode(when(n >= k, sequence(lit(0), n - k))
        .otherwise(array().cast("array<int>"))).as("__s"))
    val grams = starts.select(col("doc_id"), col("__s"),
      md5(concat_ws(" ", slice(col("__tk"), col("__s") + 1, lit(k)))).as("__gh"))
    val dup = grams.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minCount).select(col("__gh"))
    val hits = grams.join(dup, Seq("__gh")).select(col("doc_id"), col("__s"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("__s"))
    hits
      .withColumn("__new",
        when(col("__s") - lag(col("__s"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("__s")).cast("int").as("span_start"),
        (max(col("__s")) + (k - 1)).cast("int").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** The cut composed over exactSubstringSpans (Lee et al.'s removal
    * pass): every token inside a maximal duplicate span is dropped
    * from EVERY occurrence, survivors reassembled in order
    * (whitespace-normalized, as dd10). Returns (doc_id, n_tokens,
    * n_dup_tokens, `out`).
    */
  def dropExactSubstrings(df: DataFrame, minSpan: Int = 16,
                          minCount: Int = 2, text: Column = col("text"),
                          out: String = "clean_text"): DataFrame = {
    require(!df.columns.contains(out), s"column $out would be clobbered")
    val spans = exactSubstringSpans(df, minSpan, minCount, text)
    // Reassembly WITHOUT the token-row explode (r20, guide §2.3/§2.4):
    // the previous shape posexploded EVERY corpus token into a row,
    // anti-joined covered positions, and rebuilt each doc through a
    // (doc_id)-keyed collect_list — the entire corpus crossed one
    // exchange as single-token rows plus a second doc-keyed exchange
    // to reassemble. Only docs WITH a duplicate span need surgery, and
    // their maximal spans are a tiny per-doc list — so collect the
    // spans per doc (span-cardinality, not token-cardinality), join
    // them doc-keyed onto the tokenized frame (broadcastable), and cut
    // inside a positional array filter: zero token-level rows, zero
    // reassembly shuffle, identical output (same tokens, same order,
    // same whitespace normalization).
    val spansByDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = df.select(col("doc_id"),
      filter(split(text, "\\s+"), t => length(t) > 0).as("__tk"))
    toks.join(spansByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__tk")).cast("int").as("n_tokens"),
        when(col("__spans").isNull, col("__tk"))
          .otherwise(filter(col("__tk"), (_, i) =>
            !exists(col("__spans"), s =>
              i >= s.getField("span_start") && i <= s.getField("span_end"))))
          .as("__keep"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("__keep"))).cast("int")
          .as("n_dup_tokens"),
        concat_ws(" ", col("__keep")).as(out))
  }

  /** Word k-shingles of a text column (k consecutive tokens, space-
    * joined). Backed by the native WordShingles expression — the
    * composed HOF form below computes the identical value but pays
    * three interpreted lambdas per shingle, which dominates the whole
    * dedup pipeline (see TextExpressions.scala).
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.TextFunctions.shingles(text, k)

  /** Composed higher-order-function form (no custom expression); kept
    * as the parity reference for WordShingles. try_element_at (not
    * element_at) because out-of-range THROWS under ANSI mode (Spark 4
    * default) for docs with < k tokens; concat_ws skips the NULLs.
    */
  def shinglesHof(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    array_distinct(
      transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => concat_ws(" ", (0 until k).map(o => try_element_at(toks, i + o)): _*)))
  }

  /** Drop shingles whose document frequency exceeds `maxDf`: a shingle
    * shared by millions of documents (boilerplate, templates) carries
    * no near-dup signal but creates the one unbounded bucket that OOMs
    * a 100 TB run. Implemented as a count window over the shingle —
    * keeps the explode single (a groupBy+join-back would rescan the
    * lineage and re-explode) and turns the would-be quadratic bucket
    * into one linear counting pass that then discards the viral rows.
    */
  private def dfCapped(ex: DataFrame, maxDf: Int): DataFrame =
    ex.withColumn("_df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("_df") <= maxDf)
      .drop("_df")

  /** Per-document minhash signature as ONE row with an array column:
    * hash j of a doc = lexical min over shingles of md5(j || '#' ||
    * shingle). One explode + one groupBy with numHashes min-aggregates —
    * a single shuffle regardless of numHashes (vs. exploding ×numHashes).
    * Shingles above `maxShingleDf` are dropped first (see dfCapped) —
    * run exact dedup before minhash so giant exact-dup clusters don't
    * hit the cap.
    */
  def minhashSignatures(df: DataFrame, text: Column = col("text"),
                        numHashes: Int = 12, k: Int = 3,
                        maxShingleDf: Int = 1000,
                        idCols: Seq[String] = Seq("doc_id")): DataFrame = {
    val ex = dfCapped(df.select(idCols.map(col) :+ explode(shingles(text, k)).as("g"): _*),
      maxShingleDf)
    // native MinhashHashes: one reused digest per row for all
    // numHashes basis hashes (bit-identical to
    // md5(concat(lit(j), lit("#"), g)) which allocates per call)
    val hashed = ex.select(idCols.map(col) :+
      graft.functions.TextFunctions.minhash_hashes(col("g"), numHashes).as("hs"): _*)
    val minCols = (0 until numHashes).map(j =>
      min(element_at(col("hs"), j + 1)).as(s"h$j"))
    hashed.groupBy(idCols.map(col): _*)
      .agg(minCols.head, minCols.tail: _*)
      .select(idCols.map(col) :+
        array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"): _*)
  }

  /** MinHash-LSH near-dup candidate pairs with estimated Jaccard.
    * Signature arrays travel WITH the band keys, so candidate pairs
    * score agreement locally — three shuffles total (shingle DF-cap
    * window, signature groupBy, band-bucket groupBy), independent of
    * numHashes/bands, with no join anywhere.
    */
  def minhashLsh(df: DataFrame, text: Column = col("text"),
                 numHashes: Int = 12, bands: Int = 4,
                 threshold: Double = 0.5, k: Int = 3,
                 maxShingleDf: Int = 1000, maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, text, numHashes, k, maxShingleDf)

    // per-band key: md5 of the band's signature slice, joined with '|'
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        md5(concat_ws("|", (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1)): _*))): _*)).as(Seq("band", "band_key")))

    // group-collect instead of a self-join: one shuffle on the bucket
    // key, pairs generated inside each (bounded-size) bucket — the
    // signature stage is computed exactly once and nothing is joined.
    // LSH banding keeps buckets small by construction and the DF cap
    // removes template-driven collisions; maxBucket is the hard guard:
    // a pathological band bucket larger than it is dropped outright
    // rather than exploding quadratically (run exact dedup first so
    // giant exact-dup clusters never reach this stage). Drops are
    // counted via the `graft.minhash.drops` observed metric.
    val buckets = OpsMetrics.guarded(
      banded
        .groupBy(col("band"), col("band_key"))
        .agg(collect_set(struct(col("doc_id"), col("sig"))).as("m")),
      maxBucket, "graft.minhash.drops")

    val agree = aggregate(
      zip_with(col("p.a.sig"), col("p.b.sig"), (x, y) => (x === y).cast("double")),
      lit(0.0), (acc, v) => acc + v) / numHashes

    // native pair generation: m's structs lead with doc_id (distinct
    // within a bucket), so array_sort orders by it and the generated
    // index-ordered pairs are exactly the a.doc_id < b.doc_id set —
    // one codegen'd nested loop instead of three interpreted lambdas
    // per combination (the cf01/cf02 rewrite, ~2.3x on the explode).
    // id_a =!= id_b: index order gives a.doc_id <= b.doc_id; the old
    // strict `<` predicate also excluded SELF-pairs arising from a
    // duplicated doc_id with differing payload (dirty input) — keep
    // that behavior (codegen'd comparison, free)
    buckets
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        round(agree, 4).as("est_jaccard"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental NEAR-dup dedup — dd07's LSH sibling, the daily-ingest
    * near-duplicate guard: drop rows of `newBatch` whose MinHash-LSH
    * estimated Jaccard against ANY base document clears `threshold`
    * (re-crawls, light template edits — everything the exact hash and
    * set fingerprint miss). Same machinery as minhashLsh run over the
    * tagged union, with pairs generated ONLY across sides (batch ×
    * base; in-bucket batch-batch and base-base members pay no pair
    * cost), then one anti-join of the batch on the matched ids.
    * doc_ids may overlap between the frames — identity inside the
    * operator is (doc_id, side).
    *
    * Scale shape: identical to minhashLsh (three keyed shuffles, no
    * self-join, DF-cap + maxBucket guards with drop counting under
    * `graft.incr_neardup.drops`) plus the hash-only anti-join; the
    * base corpus is never collected or broadcast.
    */
  def incrementalNearDup(newBatch: DataFrame, base: DataFrame,
                         text: Column = col("text"),
                         numHashes: Int = 12, bands: Int = 4,
                         threshold: Double = 0.5, k: Int = 3,
                         maxShingleDf: Int = 1000,
                         maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val side = "__nd_new"
    require(!newBatch.columns.contains(side), s"column $side would be clobbered")
    val union = newBatch.select(col("doc_id"), text.as("__nd_text"), lit(1).as(side))
      .unionByName(base.select(col("doc_id"), text.as("__nd_text"), lit(0).as(side)))
    val sigs = minhashSignatures(union, col("__nd_text"), numHashes, k,
      maxShingleDf, idCols = Seq("doc_id", side))
    val banded = sigs.select(col("doc_id"), col(side), col("sig"),
      posexplode(array((0 until bands).map(b =>
        md5(concat_ws("|", (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1)): _*))): _*)).as(Seq("band", "band_key")))
    // collect the two SIDES as separate arrays, then generate exactly
    // the |batch|x|base| cross pairs with the native CrossPairs loop —
    // the old single-array HOF chain paid three interpreted lambdas
    // per combination INCLUDING the same-side pairs it discarded. The
    // guard counts total members (both arrays) so the drop metric is
    // unchanged; single-side buckets (no cross pair possible) are
    // filtered after the guard, as the sz>1 keep did before.
    val buckets = OpsMetrics.guardedBySize(
      banded
        .groupBy(col("band"), col("band_key"))
        .agg(
          collect_set(when(col(side) === 1, struct(col("doc_id"), col("sig"))))
            .as("ma"),
          collect_set(when(col(side) === 0, struct(col("doc_id"), col("sig"))))
            .as("mb")),
      size(col("ma")) + size(col("mb")),
      maxBucket, "graft.incr_neardup.drops")
      .filter(size(col("ma")) > 0 && size(col("mb")) > 0)
    val agree = aggregate(
      zip_with(col("p.a.sig"), col("p.b.sig"), (x, y) => (x === y).cast("double")),
      lit(0.0), (acc, v) => acc + v) / numHashes
    val dupIds = buckets
      .select(explode(graft.functions.ArrayFunctions.cross_pairs(
        col("ma"), col("mb"))).as("p"))
      .filter(round(agree, 4) >= threshold)
      .select(col("p.a.doc_id").as("doc_id"))
      .distinct()
    newBatch.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** 64-bit SimHash per document: bit b of md5(token) votes ±1; the
    * sign of each bit-position sum forms the signature (as a '0'/'1'
    * string). Bits 0..31 of a token = the high bit of hex nibble b;
    * bits 32..63 = nibble b's second bit (SimhashVotePack).
    */
  def simhash(df: DataFrame, text: Column = col("text")): DataFrame = {
    val toks = df.select(col("doc_id"), explode(split(text, " ")).as("tok"))
      .withColumn("h", graft.functions.TextFunctions.simhash_pack(col("tok")))
    // 64 sum-aggregates, one per bit position — single shuffle, no ×64
    // row explosion. The native SimhashVotePack packs the nibble bits
    // in a long, so each vote is two bit ops instead of a substring +
    // 8-way membership test.
    val voteCols = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1)) * 2 - 1).as(s"v$b")
    }
    toks.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(b =>
          (col(s"v$b") > 0).cast("int").cast("string")): _*).as("simhash"),
        // integer form (bit b = 1<<b; bit 63 is the sign bit, added
        // LAST so the ANSI-mode running sum never leaves Long range):
        // hamming via bit_count(xor), two instructions per pair
        (0 until 64).map(b =>
          (col(s"v$b") > 0).cast("long") *
            lit(if (b == 63) Long.MinValue else 1L << b)).reduce(_ + _)
          .as("simhash_int"))
  }

  /** SimHash near-dup pairs: block on `numSlices` equal bit-slices of
    * the 64-bit signature, then verify exact hamming distance on
    * candidates. Pigeonhole: a pair within hamming ≤ numSlices-1 is
    * GUARANTEED to agree on at least one slice, so with the default
    * 4×16-bit slices and maxHamming = 3 this operator is EXACT (the
    * 64-bit/k=3/4-block design of Manku et al., WWW'07 "Detecting
    * Near-Duplicates for Web Crawling") — not the round-3 heuristic.
    * Raise maxHamming past numSlices-1 for heuristic extra recall, or
    * numSlices for exactness at higher distances (8 slices → exact
    * ≤ 7, at 2^8-bucket universe cost). The bucket universe is
    * numSlices × 2^(64/numSlices): at billions of docs use
    * numSlices = 2 (2 × 2^32 buckets, exact ≤ 1) — the round-3 fixed
    * 2×65,536 universe is gone. Over-`maxBucket` buckets are dropped
    * (quadratic guard) and COUNTED via the observed metric
    * `graft.simhash.drops` (OpsMetrics).
    */
  def simhashPairs(df: DataFrame, text: Column = col("text"),
                   maxHamming: Int = 3, maxBucket: Int = 10000,
                   numSlices: Int = 4): DataFrame = {
    require(numSlices > 0 && 64 % numSlices == 0, "numSlices must divide 64")
    val w = 64 / numSlices
    val sh = simhash(df, text)
    val sliced = sh.select(col("doc_id"), col("simhash_int"),
        explode(array((0 until numSlices).map(i =>
          concat(lit(s"S$i|"), substring(col("simhash"), i * w + 1, w))): _*)).as("slice"))
    // group-collect: pairs form inside each slice bucket (no self-join
    // → the simhash aggregation runs once)
    OpsMetrics.guarded(
      sliced
        .groupBy(col("slice"))
        .agg(collect_set(struct(col("doc_id"), col("simhash_int"))).as("m")),
      maxBucket, "graft.simhash.drops")
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        bit_count(col("p.a.simhash_int").bitwiseXOR(col("p.b.simhash_int")))
          .cast("int").as("hamming"))
      .filter(col("id_a") =!= col("id_b")) // self-pair guard, see minhashLsh
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming-radius pairs over an ARBITRARY 64-bit signature column —
    * simhashPairs' Manku slice-blocking generalized past text: block
    * on combinations of `sliceArity` of the `numSlices` equal
    * bit-slices (pigeonhole: hamming ≤ r flips ≤ r slices, so
    * ≥ numSlices−r agree, and some arity-subset agrees whenever
    * numSlices − r ≥ sliceArity — the operator is EXACT at radius
    * numSlices − sliceArity), then verify exact bit_count(xor) on
    * candidates. The image near-dup pipeline (mm12) feeds perceptual
    * dhashes through this; any other 64-bit sketch works the same.
    *
    * sliceArity is the corpus-size dial: arity 1 with 4-bit slices
    * has only numSlices × 2^4 = 256 buckets — fine at fixture scale,
    * but at a billion images every bucket holds millions and the
    * maxBucket guard would drop nearly everything. Raising arity
    * multiplies the key space (arity 2 → C(16,2) × 2^8 ≈ 31k buckets,
    * arity 3 → C(16,3) × 2^12 ≈ 2.3M) at C(numSlices, arity) emitted
    * keys per row — the standard multi-index-hashing trade: a wider,
    * shallower bucket universe bought with a bounded row fan-out,
    * exactness preserved (radius 13 at 16/3). Over-`maxBucket`
    * buckets are still dropped (quadratic guard) and counted via
    * `graft.hamming.drops`.
    */
  def hammingPairs64(df: DataFrame, hash: Column, maxHamming: Int = 8,
                     maxBucket: Int = 10000,
                     numSlices: Int = 16,
                     sliceArity: Int = 1): DataFrame = {
    require(numSlices > 1 && 64 % numSlices == 0,
      s"numSlices must divide 64: $numSlices")
    require(sliceArity >= 1 && sliceArity <= numSlices - maxHamming,
      s"sliceArity $sliceArity breaks exactness at radius $maxHamming " +
        s"with $numSlices slices (need arity ≤ ${numSlices - maxHamming})")
    val w = 64 / numSlices
    val mask = if (w == 64) -1L else (1L << w) - 1
    val base = df.select(col("doc_id"), hash.cast("long").as("__h"))
    def sliceVal(i: Int) = shiftright(col("__h"), i * w)
      .bitwiseAND(lit(mask)).cast("string")
    val combos = (0 until numSlices).combinations(sliceArity).toSeq
    val sliced = base.select(col("doc_id"), col("__h"),
      explode(array(combos.map(c =>
        concat((lit(s"S${c.mkString("_")}|") +:
          c.flatMap(i => Seq(sliceVal(i), lit(".")))): _*)): _*)).as("slice"))
    OpsMetrics.guarded(
      sliced
        .groupBy(col("slice"))
        .agg(collect_set(struct(col("doc_id"), col("__h"))).as("m")),
      maxBucket, "graft.hamming.drops")
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        bit_count(col("p.a.__h").bitwiseXOR(col("p.b.__h")))
          .cast("int").as("hamming"))
      .filter(col("id_a") =!= col("id_b")) // self-pair guard, see minhashLsh
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard on blocked candidates: block by set
    * fingerprint prefix (cheap recall filter), then compute
    * |A∩B| / |A∪B| via exploded token-set join — never N².
    */
  def ngramJaccard(df: DataFrame, text: Column = col("text"),
                   k: Int = 3, threshold: Double = 0.5,
                   maxShingleDf: Int = 1000): DataFrame = {
    val sets = df.select(col("doc_id"), shingles(text, k).as("sh"))
      .withColumn("sz", size(col("sh")))
      .withColumn("block", substring(md5(element_at(sort_array(col("sh")), 1)), 1, 8))
    // group-collect instead of a self-join: each (shingle, block) group
    // holds the few docs sharing that shingle; pairs are generated
    // inside the group, so the expensive shingle explode runs ONCE and
    // there is no join at all (a self-join recomputes the explode per
    // side — Spark's exchange reuse does not fire across AQE stages).
    // The DF cap drops viral shingles BEFORE the collect_set, which is
    // what bounds the bucket row (jaccard then counts intersections
    // over the surviving shingles only — boilerplate n-grams stop
    // contributing to similarity, by design).
    val ex = dfCapped(
      sets.select(col("doc_id"), col("sz"), col("block"), explode(col("sh")).as("g")),
      maxShingleDf)
    val inter = ex
      .groupBy(col("g"), col("block"))
      .agg(collect_set(struct(col("doc_id"), col("sz"))).as("m"))
      .filter(size(col("m")) > 1)
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        col("p.a.sz").as("sz_a"), col("p.b.sz").as("sz_b"))
      .filter(col("id_a") =!= col("id_b")) // self-pair guard, see minhashLsh
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    inter.withColumn("jaccard",
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** ASYMMETRIC containment pairs (dd11, Broder's containment measure
    * |A∩B|/|A|): detects quotes, snippets, and page-in-page subsets
    * that symmetric Jaccard (dd04) misses — a 40-shingle quote inside
    * a 4000-shingle page has Jaccard ≈ 0.01 but containment 1.0.
    * Pairs must share at least one surviving shingle; both directions
    * are reported (cont_a = |∩|/|A|, cont_b = |∩|/|B|) and a pair
    * survives when EITHER direction clears `threshold`.
    *
    * Blocking: unlike dd04, no min-shingle block key — A⊂B does not
    * imply min(B) ∈ A, so that block would lose exactly the asymmetric
    * pairs this operator exists for. Candidates instead group on the
    * shingle itself, which makes the shingle DF cap the bucket bound:
    * a group's size IS the shingle's document frequency, so the
    * default `maxShingleDf` is deliberately low (200) — rare shingles
    * carry the containment signal; boilerplate shingles are dropped by
    * the cap before any pair is generated (run ln01/dd01 upstream).
    * Same group-collect machinery as dd04: one explode, no self-join.
    */
  def containmentPairs(df: DataFrame, text: Column = col("text"),
                       k: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = 200): DataFrame = {
    val sets = df.select(col("doc_id"), shingles(text, k).as("sh"))
      .withColumn("sz", size(col("sh")))
    val ex = dfCapped(
      sets.select(col("doc_id"), col("sz"), explode(col("sh")).as("g")),
      maxShingleDf)
    // native ordered-pair generation (see minhashLsh): doc_id leads the
    // struct, so array_sort + index-ordered pairs = the a < b pair set.
    val inter = ex
      .groupBy(col("g"))
      .agg(collect_set(struct(col("doc_id"), col("sz"))).as("m"))
      .filter(size(col("m")) > 1)
      .select(explode(graft.functions.ArrayFunctions.pair_combos(
        array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        col("p.a.sz").as("sz_a"), col("p.b.sz").as("sz_b"))
      .filter(col("id_a") =!= col("id_b")) // self-pair guard, see minhashLsh
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    inter.select(col("id_a"), col("id_b"),
        round(col("inter") / col("sz_a"), 4).as("cont_a"),
        round(col("inter") / col("sz_b"), 4).as("cont_b"))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
  }

  /** Connected components over near-dup pairs: the transitive-closure
    * stage every real dedup pipeline needs (pair relations are NOT
    * transitive — A~B and B~C does not imply the pair A~C was emitted,
    * yet all three are one duplicate cluster).
    *
    * Alternating two-phase star contraction (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond"): the state is an
    * edge list kept canonical as (u, v) with u > v, and each round
    * rewires it twice —
    *   LARGE-STAR: per node u, m = min(Γ(u) ∪ {u}); every STRICTLY
    *     LARGER neighbor v > u is re-pointed at m, emitting (v, m).
    *   SMALL-STAR: per node u over its SMALLER neighbors N = {v < u},
    *     m = min(N); every v ∈ N∖{m} is re-pointed at m, plus (u, m).
    * Both phases preserve connectivity and the node set (every node
    * still appears in some edge), and the alternation converges to a
    * STAR FOREST — each component collapsed to (leaf, component-min)
    * edges — in O(log² n) rounds REGARDLESS of graph diameter. That
    * bound is what an earlier min-label-propagation + pointer-jumping
    * loop could not give: label info only crossed one graph hop per
    * round, so a high-eccentricity similarity graph (sf0.1 sd02: 1526
    * nodes) trickled for 24 rounds; star contraction rewires the edges
    * themselves, so distance-to-min shrinks geometrically (measured on
    * the same graph: see BASELINE.md's connected-components probe).
    *
    * Each phase is ONE exchange: the rows are hash-partitioned on u,
    * which also clusters (u, v), so the (u, v) dedup and the per-u min
    * (a window over u) run inside that exchange, and each deduped row
    * emits exactly one row — no self-join, union or distinct.
    * Large-star reads both directions of every edge (an explode, not a
    * union) and emits (v, m) from its v > u rows, one per edge;
    * small-star keeps (u, m) from the one row per u with v = m and
    * emits (v, m) from every other row. So the edge set never grows:
    * one row out per deduped row in, and the next dedup only shrinks
    * it. A row MOVED when its output is not the edge it came from
    * (m ≠ u in large-star, v ≠ m in small-star).
    *
    * Convergence is exact without a set compare: a round leaves the
    * edge set unchanged IFF no row moved in either phase. If nothing
    * moved, each phase maps every edge to itself. If a row moved, its
    * output has a strictly smaller endpoint sum than its input edge
    * (large-star lowers u to m; small-star lowers both ends) and no
    * row's sum grows, so — summing id RANKS, which the comparisons
    * cannot tell from ids — the set's total strictly falls, since
    * dedup only drops positive terms: the set changed. So the loop
    * stops at the same round, with the same edges, as a compare of
    * consecutive edge sets would. Both moved counts are observed by
    * the round's own checkpoint job (`Flat.iterate`), so a round is 3
    * jobs: one per exchange plus the checkpoint.
    *
    * Each round's result is flat-checkpointed (`Flat.iterate`): the
    * loop REPLACES lineage instead of nesting it. If
    * `spark.sparkContext.setCheckpointDir` is set, rounds use RELIABLE
    * checkpoints (survive executor loss — set it on a real cluster);
    * otherwise localCheckpoint. Every stage is partition-parallel,
    * nothing driver-side.
    *
    * Output: (node, cluster_id) for every node that appears in a pair,
    * cluster_id = min doc id of the component. Deterministic.
    *
    * If `maxIter` is exhausted while edges are still being re-pointed,
    * the result would be silently WRONG (a half-contracted component
    * splits into several — catastrophic when chained boilerplate links
    * clusters), so this THROWS instead of returning. Convergence is
    * observable either way via
    * OpsMetrics.lastConvergence("graft.cc.convergence") = (rounds run,
    * edges re-pointed in the last round — 0 means clean).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, s"maxIter must be positive: $maxIter")
    // One exchange per phase: hash(u) already clusters (u, v), so the
    // dedup and the per-u window add none.
    def star(e: DataFrame): DataFrame =
      e.repartition(col("u")).dropDuplicates("u", "v")
        .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
    // emitted (v, m) has v > u ≥ m, so the u > v canonical form is
    // an invariant of both phases — no re-canonicalization needed.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
      val m = least(col("m"), col("u"))
      star(sym).filter(col("v") > col("u"))
        .select(col("v").as("u"), m.as("v"), (m =!= col("u")).as("moved"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val stays = col("v") === col("m") // m < u always
      star(e).select(when(stays, col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"), (!stays).as("moved"))
    }
    def counted(name: String, phase: DataFrame): DataFrame =
      phase.observe(name, count(when(col("moved"), 1)).as("n")).select("u", "v")
    val (lsMoved, ssMoved) = ("graft_cc_large_star", "graft_cc_small_star")
    val canonical = pairs
      .select(greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("u"),
              least(col("id_a").cast("long"), col("id_b").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
    val (edges, i, changed) =
      Flat.iterate(canonical, maxIter, Seq(lsMoved, ssMoved)) { e =>
        counted(ssMoved, smallStar(counted(lsMoved, largeStar(e))))
      }
    OpsMetrics.recordConvergence("graft.cc.convergence", i, changed)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge: $changed edge(s) re-pointed " +
        s"in round $maxIter — raise maxIter (labels would be silently wrong)")
    // star forest: leaves point at their component min; roots appear
    // only on the v side and label themselves.
    edges.select(col("u").as("node"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("node"), col("v").as("cluster_id")))
      .distinct()
  }

  /** Full dup-cluster resolution: pairs → components → one canonical
    * document per cluster. The canonical pick is QUALITY-based (the
    * longest text wins, min doc_id tie-break), not min-id — in a
    * training corpus the longest near-duplicate usually carries the
    * most content. Docs with no near-dup pair are their own singleton
    * cluster (left join, coalesce). Output one row per input doc:
    * (doc_id, cluster_id, keep_id, is_canonical).
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  text: Column = col("text")): DataFrame = {
    val cc = connectedComponents(pairs)
    val member = docs
      .select(col("doc_id").cast("long").as("doc_id"), length(text).as("len"))
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val canon = member.groupBy("cluster_id")
      .agg(max(struct(col("len").as("l"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), (-col("best.nid")).cast("long").as("keep_id"))
    member.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("keep_id"),
              (col("doc_id") === col("keep_id")).as("is_canonical"))
  }
  /** Dedup impact report (dd14): the size histogram of dup clusters
    * plus the bytes a dedup pass would reclaim — the one-page summary
    * a corpus owner reads BEFORE running the rewrite ("37% of the
    * crawl is 2-copy boilerplate; the 4000-member cluster is a
    * template"). Consumes the same (docs, pairs) inputs as
    * dupClusters; emits one row per cluster size: cluster count, doc
    * count, total chars, and chars on non-canonical copies.
    *
    * Scale shape: dupClusters' star-contraction output grouped twice —
    * per-cluster then per-size; both aggregates partial-combine
    * map-side, and the size frame is histogram-cardinality.
    */
  def dupStats(docs: DataFrame, pairs: DataFrame,
               text: Column = col("text")): DataFrame =
    dupStatsFrom(dupClusters(docs, pairs, text), docs, text)

  /** dupStats over a PRE-COMPUTED cluster frame (dupClusters output:
    * doc_id, cluster_id, keep_id, is_canonical) — the reuse path for
    * pipelines that resolve components once and fan out (pp05 runs
    * clusters → dupStats → groupSplit off ONE star-contraction; as
    * independent gates each of dd06/dd14/sp03 pays CC separately).
    */
  def dupStatsFrom(clusters: DataFrame, docs: DataFrame,
                   text: Column = col("text")): DataFrame = {
    val sized = clusters
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        length(text).cast("long").as("len")), "doc_id")
    sized.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"), sum(col("len")).as("chars"),
        sum(when(!col("is_canonical"), col("len")).otherwise(0L))
          .as("dropped"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("chars")).as("total_chars"),
        sum(col("dropped")).as("chars_dropped"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("total_chars"), col("chars_dropped"))
  }

  /** Cross-source duplication matrix (dd15): near-dup PAIR counts by
    * unordered source pair — the corpus-forensics readout ("src13
    * mirrors src4"; "most dups are WITHIN one crawl") that decides
    * whether to drop a whole source versus dedup row-by-row. Consumes
    * any pair frame with (id_a, id_b) — ngramJaccard, simhashPairs —
    * plus the docs' source column.
    *
    * Scale shape: two id-keyed join-backs of the (tiny relative to the
    * corpus) pair frame, then an aggregate on the source-pair key;
    * least/greatest canonicalizes the unordered pair so A→B and B→A
    * counts fold together.
    */
  def crossSourceDups(docs: DataFrame, pairs: DataFrame,
                      source: Column = col("source")): DataFrame = {
    val s = docs.select(col("doc_id").cast("long").as("doc_id"),
      source.as("__src"))
    pairs.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .join(s.select(col("doc_id").as("id_a"), col("__src").as("sa")), "id_a")
      .join(s.select(col("doc_id").as("id_b"), col("__src").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  /** Quality-aware canonical-copy selection (dd12) — given duplicate
    * GROUPS (an exact content hash, a dd06/sd02 cluster id, or any
    * coarse key), keep the single best row per group: highest `score`,
    * ties to the smallest `tie`. Real pipelines canonicalize this way
    * (keep the longest/cleanest copy), not keep-first — keep-first
    * (dd01/dd09) preserves the EARLIEST copy, this preserves the BEST.
    *
    * Scale shape: ONE window exchange on the group key; n_copies and
    * the argmax share it. Output is the kept rows only, each carrying
    * its group's copy count for audit.
    */
  def keepBest(df: DataFrame, group: Column, score: Column,
               tie: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // guard the OUTPUT names too — an input already carrying grp or
    // best_score would yield duplicate column names downstream
    for (c <- Seq("__grp", "__score", "__tie", "__rk", "n_copies",
        "grp", "best_score"))
      require(!df.columns.contains(c), s"column $c would be clobbered")
    val w = Window.partitionBy(col("__grp"))
    val base = df.withColumn("__grp", group)
      .withColumn("__score", score).withColumn("__tie", tie)
    base
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("__rk", row_number().over(
        w.orderBy(col("__score").desc, col("__tie").asc)))
      .filter(col("__rk") === 1)
      .drop("__rk")
      .withColumnRenamed("__grp", "grp")
      .withColumnRenamed("__score", "best_score")
      .drop("__tie")
  }
}
