package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NamedQuery, Tables}
import graft.ops.{Dedup, Embeddings, Similarity, TextAnalysis}

/** Training-data pipeline operators as driver-verified queries over the
  * `documents` / `embeddings` / `events` tables: dedup (exact, MinHash-
  * LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity search
  * (brute-force + LSH ANN), text analysis (tokens, quality, lang-ID,
  * fingerprints), and the batch form of the streaming event window.
  *
  * Every oracle mirrors the Spark expression tree exactly (same md5
  * seeds, same float-product/double-sum order, rounding at non-tie
  * precisions) so the DuckDB hash compare is stable.
  */
object PipelineOps {

  // documents/embeddings arrive as ONE parquet file — without a fan-out
  // the CPU-heavy transforms (shingling, hashing, dot products) run on a
  // single core. Repartitioning the small raw rows first costs one cheap
  // shuffle and parallelizes everything downstream; at real scale the
  // input already has many partitions and the same loader would skip this
  // (guarded on the scan's partition count).
  private def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // file count proxies the scan's parallelism; df.rdd would answer
    // precisely but forces full physical planning per call (measurable
    // per-query driver cost in the bench harness)
    if (df.inputFiles.length < cores / 2) df.repartition(cores) else df
  }
  private def docs(s: SparkSession, d: String): DataFrame =
    fanOut(Tables.load(s, d, "documents"))
  private def embs(s: SparkSession, d: String): DataFrame =
    fanOut(Tables.load(s, d, "embeddings"))

  // dd16/dd17 shared planted fixtures: the same 14-token straddling
  // span, sub-threshold 10-token run, and in-doc 13-token repeat feed
  // BOTH the detection gate and the cut gate (dd17's contract is
  // "same planted corpus as dd16"), so the coupling is structural,
  // not copy-paste. The SQL fragment is the same plants as a VALUES
  // block plus the detection CTEs (tokens → sliding 12-grams →
  // duplicated grams), shared verbatim by both oracles.
  private val plantedDedupDocs: Seq[(Long, String)] = {
    val s14 = (1 to 14).map(i => s"zqs$i").mkString(" ")
    val t10 = (1 to 10).map(i => s"zqt$i").mkString(" ")
    val r13 = (1 to 13).map(i => s"zqr$i").mkString(" ")
    Seq(
      (900001L, s"zqa1 zqa2 zqa3 zqa4 zqa5 $s14 zqa6 zqa7"),
      (900002L, s"zqb1 zqb2 $s14 zqb3 zqb4 zqb5 zqb6"),
      (900003L, s"zqc1 zqc2 zqc3 $t10 zqc4 zqc5"),
      (900004L, s"zqd1 $t10 zqd2 zqd3 zqd4"),
      (900005L, s"$r13 zqe1 $r13"))
  }
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select(col("doc_id"), col("text"))
      .unionAll(plantedDedupDocs.toDF("doc_id", "text"))
  }
  private val exactSubstrOracleCtes: String = {
    val values = plantedDedupDocs
      .map { case (id, t) => s"($id, '$t')" }.mkString(",\n               ")
    s"""WITH planted(doc_id, text) AS (VALUES
               $values),
             corpus AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM planted),
             toks AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0) AS tk
               FROM corpus),
             st AS (SELECT doc_id, tk,
                 unnest(CASE WHEN len(tk) >= 12 THEN range(0, len(tk) - 11)
                        ELSE CAST([] AS BIGINT[]) END) AS s
               FROM toks),
             grams AS (SELECT doc_id, s,
                 md5(array_to_string(tk[s + 1:s + 12], ' ')) AS gh FROM st),
             dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2)"""
  }

  // tx07 fixture — explicit \u-escaped literals so source-encoding
  // drift is impossible; the SAME strings are interpolated into the
  // oracle's VALUES list, so both engines normalize byte-identical
  // inputs. Decomposed, precomposed, combining-mark and case rows.
  private val unicodeFixture: Seq[(Long, String)] = Seq(
    1L -> "Cafe\u0301",                      // decomposed: e + combining acute
    2L -> "\u00C5ngstr\u00F6m",             // precomposed A-ring / o-umlaut
    3L -> "A\u030Angstro\u0308m",           // same word, fully decomposed
    4L -> "nai\u0308ve MIXED Case",          // combining mark + case noise
    5L -> "plain ascii")

  // shared DuckDB fragments
  private val duckToks = "string_split(text, ' ')"
  private val duckShingles = // word 3-grams, distinct (Dedup.shingles mirror)
    s"""list_distinct(list_transform(
          range(1, greatest(len($duckToks) - 2, 1) + 1),
          i -> concat_ws(' ', ($duckToks)[i], ($duckToks)[i+1], ($duckToks)[i+2])))"""

  val queries: Seq[NamedQuery] = Seq(

    // ---------------- text analysis ----------------

    NamedQuery("tx01_token_stats",
      (s, d) => TextAnalysis.tokenStats(docs(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              CAST(len(string_split_regex(text, '\\s+')) AS INT) AS n_tokens,
              CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS INT) AS n_distinct,
              CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]')) AS INT) AS n_subwords,
              CAST(length(text) AS INT) AS n_chars,
              round(list_sum(list_transform(string_split_regex(text, '\\s+'), t -> CAST(length(t) AS DOUBLE)))
                    / len(string_split_regex(text, '\\s+')), 4) AS avg_token_len
              FROM documents ORDER BY doc_id""")),

    NamedQuery("tx02_quality",
      (s, d) => TextAnalysis.quality(docs(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
             round(stop_cnt / n_tok, 4) AS stopword_ratio,
             round(punct_cnt / n_chars, 4) AS punct_ratio,
             round(distinct_ratio, 4) AS distinct_ratio,
             round(distinct_ratio * 0.5 + length_ok * 0.3 +
                   least(stop_cnt / n_tok * 5, 1.0) * 0.2, 4) AS quality_score
             FROM (SELECT doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS n_tok,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                 t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) AS punct_cnt,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE)
                 / len(string_split_regex(text, '\s+')) AS distinct_ratio,
               CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END AS length_ok
               FROM documents)
             ORDER BY doc_id""")),

    NamedQuery("tx03_langid",
      (s, d) => TextAnalysis.langid(docs(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
             round(en_score, 6) AS score_en,
             round(rom_score, 6) AS score_rom,
             round(de_score, 6) AS score_de,
             round(cjk_score, 6) AS score_cjk,
             CASE WHEN cjk_score > 0.05 THEN 'zh'
                  WHEN de_score >= en_score AND de_score >= rom_score THEN 'de'
                  WHEN rom_score > en_score THEN 'rom'
                  ELSE 'en' END AS predicted
             FROM (SELECT doc_id,
               (CAST(length(t) - length(replace(t, 'th', '')) AS DOUBLE) / 2
                + CAST(length(t) - length(replace(t, ' the ', '')) AS DOUBLE) / 5 * 2
                + CAST(length(t) - length(replace(t, 'ing', '')) AS DOUBLE) / 3) / length(t) AS en_score,
               (CAST(length(t) - length(replace(t, ' de ', '')) AS DOUBLE) / 4 * 2
                + CAST(length(t) - length(replace(t, ' la ', '')) AS DOUBLE) / 4 * 2
                + CAST(length(t) - length(replace(t, 'ción', '')) AS DOUBLE) / 4 * 3
                + CAST(length(t) - length(replace(t, ' le ', '')) AS DOUBLE) / 4 * 2) / length(t) AS rom_score,
               (CAST(length(t) - length(replace(t, 'sch', '')) AS DOUBLE) / 3 * 2
                + CAST(length(t) - length(replace(t, ' der ', '')) AS DOUBLE) / 5 * 2
                + CAST(length(t) - length(replace(t, ' und ', '')) AS DOUBLE) / 5 * 3) / length(t) AS de_score,
               CAST(length(t) - length(regexp_replace(t, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
                 / length(t) AS cjk_score
               FROM (SELECT doc_id, lower(text) AS t FROM documents))
             ORDER BY doc_id""")),

    NamedQuery("tx04_fingerprint",
      (s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\\s+'))), ' ')) AS set_fingerprint,
              md5(array_to_string((string_split_regex(text, '\\s+'))[1:8], ' ')) AS prefix_fingerprint
              FROM documents ORDER BY doc_id""")),

    // tx14: Flesch reading ease with vowel-group syllables; identical
    // left-associated double expression both engines, so the score
    // matches bit-for-bit before the round
    NamedQuery("tx14_readability",
      (s, d) => TextAnalysis.readability(docs(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllable_groups,
             round(206.835
               - 1.015 * (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                 / (len(regexp_extract_all(text, '[.!?]+')) + 1))
               - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                 / len(string_split_regex(trim(text), '\s+'))), 4) AS flesch
             FROM documents ORDER BY doc_id""")),

    NamedQuery("tx05_vocab",
      (s, d) => TextAnalysis.vocab(docs(s, d), k = 50),
      Some("""SELECT tok, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
             WHERE tok != ''
             GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 50""")),

    // tk03: per-doc OOV rate vs the corpus's own top-16 token vocab
    // (the word-soup corpus has ~31 distinct tokens, so a 16-token cut
    // produces real OOV mass); the oracle replays vocab ranking with
    // the identical count-desc/token-asc total order
    NamedQuery("tk03_oov_rate",
      (s, d) => TextAnalysis.oovRate(docs(s, d), k = 16).orderBy("doc_id"),
      Some("""WITH ft AS (SELECT doc_id, tok FROM (
                    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
                    FROM documents) WHERE tok != ''),
              v AS (SELECT tok FROM (
                      SELECT tok, count(*) AS n FROM ft GROUP BY tok)
                    ORDER BY n DESC, tok ASC LIMIT 16)
             SELECT ft.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS oov_rate
             FROM ft LEFT JOIN v ON ft.tok = v.tok
             GROUP BY ft.doc_id ORDER BY ft.doc_id""")),

    // tk04: tokenizer fertility by language — subwords per whitespace
    // word, exact integers into one ratio; same pre-tokenizer regex
    // family as tx01's n_subwords
    NamedQuery("tk04_fertility",
      (s, d) => TextAnalysis.fertility(docs(s, d)).orderBy("lang"),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
                 AS n_words,
               CAST(sum(len(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0b\f\r]'))) AS BIGINT) AS n_subwords,
               round(sum(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0b\f\r]')))
                 / CAST(sum(len(string_split_regex(text, '\s+'))) AS DOUBLE),
                 6) AS fertility
             FROM documents GROUP BY lang ORDER BY lang""")),

    // tk05: fertility + compression ratio per (lang, source) with the
    // REAL learned tokenizer (tk02's trained merges through the native
    // BpeEncode expression), not tk04's pre-tokenizer proxy — the two
    // readouts that size per-language token budgets and convert corpus
    // bytes to token counts. Words and bytes are recomputed
    // independently by the oracle; the per-group token counts are
    // pinned (DuckDB cannot run the order-dependent merge loop in
    // SQL) — the ENCODER itself is already oracle-validated end-to-end
    // by tk02, and the pinned counts must reconcile with the
    // independent word/byte sums through the two ratio columns.
    NamedQuery("tk05_bpe_fertility",
      (s, d) => {
        val merges = TextAnalysis.bpeTrain(docs(s, d), numMerges = 12)
          .map(m => (m._2, m._3))
        TextAnalysis.bpeFertility(docs(s, d), merges)
          .orderBy("lang", "source")
      },
      Some("""WITH tok(lang, source, n_tokens) AS (VALUES
               ('de', 'src0', CAST(1759 AS BIGINT)),
               ('de', 'src1', CAST(632 AS BIGINT)),
               ('de', 'src10', CAST(120 AS BIGINT)),
               ('de', 'src11', CAST(1482 AS BIGINT)),
               ('de', 'src12', CAST(432 AS BIGINT)),
               ('de', 'src13', CAST(336 AS BIGINT)),
               ('de', 'src15', CAST(780 AS BIGINT)),
               ('de', 'src16', CAST(282 AS BIGINT)),
               ('de', 'src17', CAST(659 AS BIGINT)),
               ('de', 'src18', CAST(920 AS BIGINT)),
               ('de', 'src19', CAST(848 AS BIGINT)),
               ('de', 'src2', CAST(676 AS BIGINT)),
               ('de', 'src3', CAST(746 AS BIGINT)),
               ('de', 'src4', CAST(1548 AS BIGINT)),
               ('de', 'src5', CAST(1110 AS BIGINT)),
               ('de', 'src6', CAST(307 AS BIGINT)),
               ('de', 'src7', CAST(1131 AS BIGINT)),
               ('de', 'src8', CAST(729 AS BIGINT)),
               ('de', 'src9', CAST(751 AS BIGINT)),
               ('en', 'src0', CAST(1706 AS BIGINT)),
               ('en', 'src1', CAST(3861 AS BIGINT)),
               ('en', 'src10', CAST(2849 AS BIGINT)),
               ('en', 'src11', CAST(2481 AS BIGINT)),
               ('en', 'src12', CAST(2892 AS BIGINT)),
               ('en', 'src13', CAST(2147 AS BIGINT)),
               ('en', 'src14', CAST(3652 AS BIGINT)),
               ('en', 'src15', CAST(1941 AS BIGINT)),
               ('en', 'src16', CAST(1881 AS BIGINT)),
               ('en', 'src17', CAST(2043 AS BIGINT)),
               ('en', 'src18', CAST(3487 AS BIGINT)),
               ('en', 'src19', CAST(2171 AS BIGINT)),
               ('en', 'src2', CAST(2154 AS BIGINT)),
               ('en', 'src3', CAST(3179 AS BIGINT)),
               ('en', 'src4', CAST(1652 AS BIGINT)),
               ('en', 'src5', CAST(2285 AS BIGINT)),
               ('en', 'src6', CAST(3073 AS BIGINT)),
               ('en', 'src7', CAST(3719 AS BIGINT)),
               ('en', 'src8', CAST(1032 AS BIGINT)),
               ('en', 'src9', CAST(2255 AS BIGINT)),
               ('es', 'src0', CAST(866 AS BIGINT)),
               ('es', 'src1', CAST(459 AS BIGINT)),
               ('es', 'src10', CAST(816 AS BIGINT)),
               ('es', 'src11', CAST(429 AS BIGINT)),
               ('es', 'src12', CAST(374 AS BIGINT)),
               ('es', 'src13', CAST(1214 AS BIGINT)),
               ('es', 'src14', CAST(593 AS BIGINT)),
               ('es', 'src15', CAST(774 AS BIGINT)),
               ('es', 'src16', CAST(1507 AS BIGINT)),
               ('es', 'src17', CAST(1419 AS BIGINT)),
               ('es', 'src18', CAST(1127 AS BIGINT)),
               ('es', 'src19', CAST(917 AS BIGINT)),
               ('es', 'src2', CAST(996 AS BIGINT)),
               ('es', 'src3', CAST(829 AS BIGINT)),
               ('es', 'src4', CAST(532 AS BIGINT)),
               ('es', 'src5', CAST(640 AS BIGINT)),
               ('es', 'src6', CAST(945 AS BIGINT)),
               ('es', 'src7', CAST(430 AS BIGINT)),
               ('es', 'src8', CAST(1207 AS BIGINT)),
               ('es', 'src9', CAST(975 AS BIGINT)),
               ('fr', 'src0', CAST(1513 AS BIGINT)),
               ('fr', 'src1', CAST(1283 AS BIGINT)),
               ('fr', 'src10', CAST(617 AS BIGINT)),
               ('fr', 'src11', CAST(1098 AS BIGINT)),
               ('fr', 'src12', CAST(202 AS BIGINT)),
               ('fr', 'src13', CAST(1675 AS BIGINT)),
               ('fr', 'src14', CAST(568 AS BIGINT)),
               ('fr', 'src15', CAST(1464 AS BIGINT)),
               ('fr', 'src16', CAST(1334 AS BIGINT)),
               ('fr', 'src17', CAST(229 AS BIGINT)),
               ('fr', 'src18', CAST(396 AS BIGINT)),
               ('fr', 'src19', CAST(212 AS BIGINT)),
               ('fr', 'src2', CAST(1488 AS BIGINT)),
               ('fr', 'src3', CAST(687 AS BIGINT)),
               ('fr', 'src4', CAST(1044 AS BIGINT)),
               ('fr', 'src5', CAST(535 AS BIGINT)),
               ('fr', 'src7', CAST(651 AS BIGINT)),
               ('fr', 'src8', CAST(544 AS BIGINT)),
               ('fr', 'src9', CAST(603 AS BIGINT)),
               ('zh', 'src0', CAST(343 AS BIGINT)),
               ('zh', 'src1', CAST(402 AS BIGINT)),
               ('zh', 'src10', CAST(1218 AS BIGINT)),
               ('zh', 'src11', CAST(1087 AS BIGINT)),
               ('zh', 'src12', CAST(1541 AS BIGINT)),
               ('zh', 'src13', CAST(1248 AS BIGINT)),
               ('zh', 'src14', CAST(822 AS BIGINT)),
               ('zh', 'src15', CAST(573 AS BIGINT)),
               ('zh', 'src16', CAST(902 AS BIGINT)),
               ('zh', 'src17', CAST(1474 AS BIGINT)),
               ('zh', 'src19', CAST(808 AS BIGINT)),
               ('zh', 'src2', CAST(720 AS BIGINT)),
               ('zh', 'src3', CAST(536 AS BIGINT)),
               ('zh', 'src4', CAST(798 AS BIGINT)),
               ('zh', 'src5', CAST(1123 AS BIGINT)),
               ('zh', 'src6', CAST(1080 AS BIGINT)),
               ('zh', 'src7', CAST(522 AS BIGINT)),
               ('zh', 'src8', CAST(1406 AS BIGINT)),
               ('zh', 'src9', CAST(1295 AS BIGINT))),
             base AS (
               SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_words,
                 CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
               FROM documents GROUP BY lang, source)
             SELECT b.lang, b.source, n_docs, n_words, n_bytes, t.n_tokens,
               round(t.n_tokens / CAST(n_words AS DOUBLE), 6) AS fertility,
               round(n_bytes / CAST(t.n_tokens AS DOUBLE), 6) AS bytes_per_token
             FROM base b JOIN tok t ON b.lang = t.lang AND b.source = t.source
             ORDER BY b.lang, b.source""")),

    // Table profiling (the post-ingest ANALYZE pass): exact row/null/
    // distinct counters for every orders column in ONE aggregate job;
    // the oracle recomputes each column's counters independently.
    NamedQuery("dp01_profile",
      (s, d) => graft.ops.Profile.columnStats(Tables.load(s, d, "orders"))
        .orderBy("column"),
      Some("""SELECT * FROM (
               SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
               UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                 count(DISTINCT o_custkey) FROM orders
               UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                 count(DISTINCT o_orderstatus) FROM orders
               UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                 count(DISTINCT o_totalprice) FROM orders
               UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
                 count(DISTINCT o_orderdate) FROM orders
               UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
                 count(DISTINCT o_orderpriority) FROM orders)
             ORDER BY 1""")),

    // declarative data-quality report over lineitem: one scan counts
    // violations for every named expectation (fail-closed on null
    // predicates — the discount BETWEEN rule exercises real failures
    // if any row strays)
    NamedQuery("dq01_quality_report",
      (s, d) => graft.ops.Profile.qualityReport(
          Tables.load(s, d, "lineitem"), Seq(
            "orderkey_not_null" -> col("l_orderkey").isNotNull,
            "quantity_positive" -> (col("l_quantity") > 0),
            "discount_in_range" -> col("l_discount").between(0.0, 0.1),
            "price_positive" -> (col("l_extendedprice") > 0),
            "ship_not_future" -> (col("l_shipdate") <= lit("2030-01-01"))))
        .orderBy("rule"),
      Some("""WITH v AS (SELECT
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v1,
                CAST(sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
                CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS v3,
                CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v4,
                CAST(sum(CASE WHEN l_shipdate <= '2030-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS v5
              FROM lineitem)
             SELECT rule, n_rows, n_violations, n_violations = 0 AS passed FROM (
               SELECT 'orderkey_not_null' AS rule, n_rows, v1 AS n_violations FROM v
               UNION ALL SELECT 'quantity_positive', n_rows, v2 FROM v
               UNION ALL SELECT 'discount_in_range', n_rows, v3 FROM v
               UNION ALL SELECT 'price_positive', n_rows, v4 FROM v
               UNION ALL SELECT 'ship_not_future', n_rows, v5 FROM v)
             ORDER BY rule""")),

    // Equal-width histogram of order totals (20 buckets, clamped right
    // edge); the oracle replays the same two-pass min/max → bucket
    // arithmetic.
    NamedQuery("dp02_histogram",
      (s, d) => graft.ops.Profile.histogram(
          Tables.load(s, d, "orders"), "o_totalprice", nBuckets = 20)
        .orderBy("bucket"),
      Some("""WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
                          FROM orders),
              b AS (SELECT least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20)) AS INT), 19) AS bucket,
                      lo, hi
                    FROM orders, mm WHERE o_totalprice IS NOT NULL)
             SELECT CAST(bucket AS INTEGER) AS bucket,
               round(lo + bucket * ((hi - lo) / 20), 4) AS lo_edge,
               round(lo + (bucket + 1) * ((hi - lo) / 20), 4) AS hi_edge,
               CAST(count(*) AS BIGINT) AS n
             FROM b GROUP BY bucket, lo, hi ORDER BY bucket""")),

    // Tukey-fence outlier screen per language: per-group exact
    // quartiles broadcast back onto the corpus (parity with
    // quantile_cont proven by q43); flags only, no rows dropped —
    // the caller decides
    NamedQuery("dq02_iqr_outliers",
      (s, d) => graft.ops.Profile.iqrOutliers(
          docs(s, d), col("n_chars"), col("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("is_outlier"))
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT lang, quantile_cont(n_chars, 0.25) AS q1,
                      quantile_cont(n_chars, 0.75) AS q3
                    FROM documents GROUP BY 1)
             SELECT doc_id, lang, n_chars,
               (n_chars < q1 - 1.5 * (q3 - q1) OR
                n_chars > q3 + 1.5 * (q3 - q1)) AS is_outlier
             FROM documents JOIN b USING (lang) ORDER BY doc_id""")),

    // dq03: snapshot drift — a "new version" of lineitem with one
    // column removed, one added, one retyped, and nulls introduced;
    // the report carries exact integer counts only
    NamedQuery("dq03_schema_drift",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        val before = li.select(col("l_orderkey"), col("l_quantity"),
          col("l_tax"), col("l_returnflag"))
        val after = li.select(
          col("l_orderkey").cast("string").as("l_orderkey"),
          when(col("l_quantity") <= 30, col("l_quantity")).as("l_quantity"),
          col("l_tax"), col("l_discount"))
        graft.ops.Profile.drift(before, after).orderBy("column")
      },
      Some("""WITH b AS (SELECT l_orderkey, l_quantity, l_tax, l_returnflag
                         FROM lineitem),
                   a AS (SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
                           CASE WHEN l_quantity <= 30 THEN l_quantity END
                             AS l_quantity,
                           l_tax, l_discount FROM lineitem)
             SELECT * FROM (
               SELECT 'l_discount' AS "column", 'added' AS status,
                 CAST(NULL AS VARCHAR) AS type_before, 'double' AS type_after,
                 CAST(NULL AS BIGINT) AS nulls_before,
                 CAST(NULL AS BIGINT) AS rows_before,
                 (SELECT count(*) FROM a WHERE l_discount IS NULL) AS nulls_after,
                 (SELECT count(*) FROM a) AS rows_after
               UNION ALL
               SELECT 'l_orderkey', 'retyped', 'long', 'string',
                 (SELECT count(*) FROM b WHERE l_orderkey IS NULL),
                 (SELECT count(*) FROM b),
                 (SELECT count(*) FROM a WHERE l_orderkey IS NULL),
                 (SELECT count(*) FROM a)
               UNION ALL
               SELECT 'l_quantity', 'kept', 'double', 'double',
                 (SELECT count(*) FROM b WHERE l_quantity IS NULL),
                 (SELECT count(*) FROM b),
                 (SELECT count(*) FROM a WHERE l_quantity IS NULL),
                 (SELECT count(*) FROM a)
               UNION ALL
               SELECT 'l_returnflag', 'removed', 'string', NULL,
                 (SELECT count(*) FROM b WHERE l_returnflag IS NULL),
                 (SELECT count(*) FROM b), NULL, NULL
               UNION ALL
               SELECT 'l_tax', 'kept', 'double', 'double',
                 (SELECT count(*) FROM b WHERE l_tax IS NULL),
                 (SELECT count(*) FROM b),
                 (SELECT count(*) FROM a WHERE l_tax IS NULL),
                 (SELECT count(*) FROM a)
             ) ORDER BY "column" """)),

    // dq04: referential-integrity audit — three real TPC-H FK edges
    // (all clean) plus one doctored parent (even orderkeys only) that
    // MUST report orphans, proving the counter counts
    NamedQuery("dq04_fk_audit",
      (s, d) => {
        import graft.ops.Profile.FkEdge
        val li = Tables.load(s, d, "lineitem")
        val ord = Tables.load(s, d, "orders")
        val cust = Tables.load(s, d, "customer")
        val nat = Tables.load(s, d, "nation")
        graft.ops.Profile.fkAudit(Seq(
          FkEdge("lineitem", li, "l_orderkey", "orders", ord, "o_orderkey"),
          FkEdge("orders", ord, "o_custkey", "customer", cust, "c_custkey"),
          FkEdge("customer", cust, "c_nationkey", "nation", nat, "n_nationkey"),
          FkEdge("lineitem", li, "l_orderkey", "orders_even",
            ord.filter(col("o_orderkey") % 2 === 0), "o_orderkey")))
          .orderBy("child_table", "fk_column", "parent_table")
      },
      Some("""WITH edge AS (
               SELECT 'lineitem' AS child_table, 'l_orderkey' AS fk_column,
                 'orders' AS parent_table, 'o_orderkey' AS pk_column,
                 CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS child_rows,
                 CAST((SELECT count(*) FROM lineitem
                       WHERE l_orderkey IS NULL) AS BIGINT) AS null_keys,
                 CAST((SELECT count(*) FROM lineitem l
                       WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                         (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
                   AS orphans
               UNION ALL
               SELECT 'orders', 'o_custkey', 'customer', 'c_custkey',
                 CAST((SELECT count(*) FROM orders) AS BIGINT),
                 CAST((SELECT count(*) FROM orders
                       WHERE o_custkey IS NULL) AS BIGINT),
                 CAST((SELECT count(*) FROM orders r
                       WHERE r.o_custkey IS NOT NULL AND NOT EXISTS
                         (SELECT 1 FROM customer c
                          WHERE c.c_custkey = r.o_custkey)) AS BIGINT)
               UNION ALL
               SELECT 'customer', 'c_nationkey', 'nation', 'n_nationkey',
                 CAST((SELECT count(*) FROM customer) AS BIGINT),
                 CAST((SELECT count(*) FROM customer
                       WHERE c_nationkey IS NULL) AS BIGINT),
                 CAST((SELECT count(*) FROM customer c
                       WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
                         (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
               UNION ALL
               SELECT 'lineitem', 'l_orderkey', 'orders_even', 'o_orderkey',
                 CAST((SELECT count(*) FROM lineitem) AS BIGINT),
                 CAST((SELECT count(*) FROM lineitem
                       WHERE l_orderkey IS NULL) AS BIGINT),
                 CAST((SELECT count(*) FROM lineitem l
                       WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                         (SELECT 1 FROM orders o
                          WHERE o.o_orderkey % 2 = 0
                            AND o.o_orderkey = l.l_orderkey)) AS BIGINT))
             SELECT child_table, fk_column, parent_table, pk_column,
               child_rows, null_keys, orphans, orphans = 0 AS ok
             FROM edge
             ORDER BY child_table, fk_column, parent_table""")),

    // Batch sessionization of the event stream: >15 min of silence
    // starts a new session; one window partitioning (one shuffle on
    // user_id), microsecond-exact gap compare, event_id tie-break
    NamedQuery("se01_sessionize_batch",
      (s, d) => graft.ops.Analytics.sessionize(
          Tables.load(s, d, "events"), col("user_id"), col("ts"),
          gapSec = 900, tieBreak = col("event_id"))
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
               CAST(sum(CASE WHEN prev_us IS NULL
                             OR us - prev_us > 900000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS us,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_us
                   FROM events)
             ORDER BY event_id""")),

    // bigram LM perplexity proxy (tx11's order-2 sibling): add-alpha
    // smoothed conditional, exact replay of counts + V in DuckDB
    NamedQuery("tx12_bigram_ppl",
      (s, d) => TextAnalysis.bigramLogppl(docs(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
              w AS (SELECT doc_id, generate_subscripts(ts, 1) AS pos,
                      unnest(ts) AS tok FROM t),
              bg AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                     FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
              c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
              c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
              v AS (SELECT count(DISTINCT tok) AS vs FROM w)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(-ln((c12 + 0.5) / (c1 + 0.5 * vs))), 4) AS avg_neg_logp
             FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
             GROUP BY doc_id ORDER BY doc_id""")),

    // tx19: interpolated Kneser–Ney bigram perplexity — the smoothing
    // the published perplexity filters actually use (CCNet's KenLM is
    // modified KN). The back-off weights by CONTEXT DIVERSITY
    // (N1+(·,w2)/N1+(·,·)), not raw frequency — the "San Francisco"
    // correction tx12's add-alpha lacks. All four statistics come off
    // the one (w1,w2) count frame (see TextAnalysis.knBigramLogppl).
    NamedQuery("tx19_kn_bigram_ppl",
      (s, d) => graft.ops.TextAnalysis.knBigramLogppl(docs(s, d))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                FROM documents),
              w AS (SELECT doc_id, generate_subscripts(ts, 1) AS pos,
                      unnest(ts) AS tok FROM t),
              bg AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                     FROM w a JOIN w b
                       ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
              c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
              lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        count(*) AS n1f FROM c12 GROUP BY 1),
              cont AS (SELECT w2, count(*) AS n1c FROM c12 GROUP BY 1),
              nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM c12)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(-ln(greatest(c12 - 0.75, 0.0) / c1
                 + (n1f * 0.75 / c1) * (n1c / nb))), 4) AS kn_neg_logp
             FROM bg JOIN c12 USING (w1, w2) JOIN lft USING (w1)
                     JOIN cont USING (w2), nb
             GROUP BY doc_id ORDER BY doc_id""")),

    // chained debounce per (user, event_type): a burst is a session
    // and only its first event survives — retry/duplicate-click
    // suppression with the clock resetting on every kept event
    NamedQuery("de01_debounce",
      (s, d) => graft.ops.Analytics.debounce(
          Tables.load(s, d, "events"),
          struct(col("user_id"), col("event_type")), col("ts"),
          gapSec = 1800, tieBreak = col("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id"),
      Some("""WITH o AS (SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_us
               FROM events),
              s AS (SELECT *, sum(CASE WHEN prev_us IS NULL
                        OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid FROM o)
             SELECT event_id, user_id, event_type FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id, event_type, sid
                 ORDER BY ts, event_id) AS rn FROM s)
             WHERE rn = 1 ORDER BY event_id""")),

    // pivot: per-user event-type count matrix with a PINNED column
    // list (deterministic schema; Spark's pivot null-fills to 0)
    NamedQuery("an01_pivot",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0)
        .orderBy("user_id"),
      Some("""SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // pairwise Pearson correlations in one aggregate pass
    NamedQuery("dp03_correlations",
      (s, d) => graft.ops.Profile.correlations(
          Tables.load(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b"),
      Some("""SELECT * FROM (
               SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                 round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS pearson_r FROM lineitem
               UNION ALL SELECT 'l_quantity', 'l_discount',
                 round(corr(l_quantity, l_discount), 4) + 0.0 FROM lineitem
               UNION ALL SELECT 'l_quantity', 'l_tax',
                 round(corr(l_quantity, l_tax), 4) + 0.0 FROM lineitem
               UNION ALL SELECT 'l_extendedprice', 'l_discount',
                 round(corr(l_extendedprice, l_discount), 4) + 0.0 FROM lineitem
               UNION ALL SELECT 'l_extendedprice', 'l_tax',
                 round(corr(l_extendedprice, l_tax), 4) + 0.0 FROM lineitem
               UNION ALL SELECT 'l_discount', 'l_tax',
                 round(corr(l_discount, l_tax), 4) + 0.0 FROM lineitem)
             ORDER BY col_a, col_b""")),

    // dp04: per-column Shannon entropy over exact value counts; the
    // oracle replays H = log2(N) - sum(n*log2(n))/N per column
    NamedQuery("dp04_column_entropy",
      (s, d) => graft.ops.Profile.columnEntropy(
          Tables.load(s, d, "orders"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
        .orderBy("column"),
      Some("""SELECT * FROM (
               SELECT 'o_custkey' AS "column", CAST(sum(n) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits
               FROM (SELECT count(*) AS n FROM orders GROUP BY o_custkey)
               UNION ALL
               SELECT 'o_orderpriority', CAST(sum(n) AS BIGINT),
                 CAST(count(*) AS BIGINT),
                 round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
               FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderpriority)
               UNION ALL
               SELECT 'o_orderstatus', CAST(sum(n) AS BIGINT),
                 CAST(count(*) AS BIGINT),
                 round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
               FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderstatus)
              ) ORDER BY "column" """)),

    // Distributed BPE merge training: 12 merges learned from the
    // corpus, pinned against a golden merge table (im19-style literal
    // oracle — DuckDB can't replay the iterative argmax loop, but the
    // exact merge sequence + weighted pair counts pin every stage:
    // vocab counts, pair weighting, lexicographic tie-breaks, greedy
    // remerge). OpsSpec proves the algorithm on the classic Sennrich
    // corpus; this gate pins it on real data.
    NamedQuery("tk01_bpe_merges",
      (s, d) => {
        import s.implicits._
        TextAnalysis.bpeTrain(docs(s, d), numMerges = 12)
          .toDF("rank", "left_sym", "right_sym", "pair_count")
          .orderBy("rank")
      },
      Some("""SELECT * FROM (VALUES
               (1, 'e', 'r', CAST(4568 AS BIGINT)),
               (2, 'e', '</w>', CAST(4473 AS BIGINT)),
               (3, 'n', '</w>', CAST(2834 AS BIGINT)),
               (4, 'er', '</w>', CAST(2779 AS BIGINT)),
               (5, 'o', 'w', CAST(2747 AS BIGINT)),
               (6, 'ow', '</w>', CAST(2747 AS BIGINT)),
               (7, 'o', 'r', CAST(2696 AS BIGINT)),
               (8, 's', 't', CAST(2676 AS BIGINT)),
               (9, 'h', '</w>', CAST(1884 AS BIGINT)),
               (10, 'a', 't', CAST(1845 AS BIGINT)),
               (11, 'l', 'u', CAST(1831 AS BIGINT)),
               (12, 'i', 'n', CAST(1796 AS BIGINT)))
               t(rank, left_sym, right_sym, pair_count)
             ORDER BY rank""")),

    // BPE ENCODING with the learned merges (native BpeEncode
    // expression): train 12 merges, tokenize the whole corpus at scan
    // speed, pin the top-10 subword frequencies + total token count.
    // Train + encode in one gate proves the two halves agree on the
    // merge-table format.
    NamedQuery("tk02_bpe_encode",
      (s, d) => {
        val merges = TextAnalysis.bpeTrain(docs(s, d), numMerges = 12)
          .map(m => (m._2, m._3))
        val toks = docs(s, d).select(explode(
          graft.functions.TextFunctions.bpe_encode(col("text"), merges)).as("tok"))
        val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(10)
        top.unionByName(toks.agg(count(lit(1)).as("n"))
            .select(lit("__total__").as("tok"), col("n")))
          .orderBy("tok")
      },
      Some("""SELECT * FROM (VALUES
               ('</w>', CAST(12448 AS BIGINT)),
               ('__total__', CAST(116798 AS BIGINT)),
               ('a', CAST(10805 AS BIGINT)),
               ('c', CAST(4653 AS BIGINT)),
               ('e</w>', CAST(4473 AS BIGINT)),
               ('g', CAST(4474 AS BIGINT)),
               ('l', CAST(5525 AS BIGINT)),
               ('m', CAST(4602 AS BIGINT)),
               ('r', CAST(4467 AS BIGINT)),
               ('s', CAST(5481 AS BIGINT)),
               ('t', CAST(5343 AS BIGINT)))
               t(tok, n) ORDER BY tok""")),

    // tk06: distributed unigram-LM (SentencePiece-style) tokenizer
    // training (Kudo 2018) — hard-EM: seed = count-weighted frequent
    // substrings of the distinct-words frame + all chars; E-step =
    // per-word Viterbi under the broadcast vocab (native UnigramEncode
    // expression, scan speed); M-step = ONE (piece, count) shuffle;
    // prune to vocabSize, 2 fixed rounds. Like tk01, DuckDB can't
    // replay the EM loop, so the top-12 (rank, piece, expected count,
    // logprob) rows are PINNED from the sf0.01 corpus — the exact
    // integers pin the seed scoring, the Viterbi tie rule, and both
    // EM rounds; the logprob doubles are shortest-repr exact
    // (ln(count/total) of pinned integers). The learned pieces are
    // real subwords of the corpus vocabulary (join, hash, cust|omer,
    // filt|er), not char soup — the qualitative check BPE's golden
    // gate (tk01) makes too.
    NamedQuery("tk06_unigram_train",
      (s, d) => {
        import s.implicits._
        TextAnalysis.unigramTrain(docs(s, d), vocabSize = 48,
            rounds = 2, maxPieceLen = 4)
          .take(12)
          .toDF("rank", "piece", "n", "logprob")
          .orderBy("rank")
      },
      Some("""SELECT rank, piece, n, CAST(logprob AS DOUBLE) AS logprob
             FROM (VALUES
               (1, 'e', CAST(2723 AS BIGINT), '-2.7071194216297307'),
               (2, 's', CAST(1808 AS BIGINT), '-3.1166323733513686'),
               (3, 'join', CAST(964 AS BIGINT), '-3.7455176196929445'),
               (4, 'hash', CAST(947 AS BIGINT), '-3.7633098211174123'),
               (5, 'row', CAST(943 AS BIGINT), '-3.767542631670033'),
               (6, 'batc', CAST(937 AS BIGINT), '-3.773925632065068'),
               (7, 'h', CAST(937 AS BIGINT), '-3.773925632065068'),
               (8, 'scan', CAST(936 AS BIGINT), '-3.7749934378258985'),
               (9, 'co', CAST(934 AS BIGINT), '-3.7771324760746476'),
               (10, 'cust', CAST(934 AS BIGINT), '-3.7771324760746476'),
               (11, 'lumn', CAST(934 AS BIGINT), '-3.7771324760746476'),
               (12, 'omer', CAST(934 AS BIGINT), '-3.7771324760746476'))
               t(rank, piece, n, logprob)
             ORDER BY rank""")),

    // tk07: unigram-LM ENCODING with the learned vocab (native
    // UnigramEncode Viterbi expression): train tk06's 48-piece vocab,
    // tokenize the whole corpus at scan speed, pin the top-10 piece
    // frequencies + total token count — train + encode in one gate
    // proves the two halves agree on the (piece, logprob) format,
    // exactly the tk02 discipline for BPE. Corpus-side sanity: the
    // total is FEWER pieces than whitespace words × chars (Viterbi
    // prefers whole-word pieces) and every piece count reconciles
    // with tk06's expected counts by construction (same E-step).
    NamedQuery("tk07_unigram_encode",
      (s, d) => {
        val vocab = TextAnalysis.unigramTrain(docs(s, d), vocabSize = 48,
          rounds = 2, maxPieceLen = 4).map(v => (v._2, v._4))
        val toks = docs(s, d).select(explode(
          graft.functions.TextFunctions.unigram_encode(col("text"), vocab))
          .as("piece"))
        val top = toks.groupBy(col("piece")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("piece").asc).limit(10)
        top.unionByName(toks.agg(count(lit(1)).as("n"))
            .select(lit("__total__").as("piece"), col("n")))
          .orderBy("piece")
      },
      Some("""SELECT * FROM (VALUES
               ('__total__', CAST(40807 AS BIGINT)),
               ('batc', CAST(937 AS BIGINT)),
               ('co', CAST(934 AS BIGINT)),
               ('cust', CAST(934 AS BIGINT)),
               ('e', CAST(2723 AS BIGINT)),
               ('h', CAST(937 AS BIGINT)),
               ('hash', CAST(947 AS BIGINT)),
               ('join', CAST(964 AS BIGINT)),
               ('row', CAST(943 AS BIGINT)),
               ('s', CAST(1808 AS BIGINT)),
               ('scan', CAST(936 AS BIGINT)))
               t(piece, n) ORDER BY piece""")),

    // tk08: tokenizer PERSISTENCE — train-once / encode-everywhere:
    // the vocab rides through a parquet save + reload (a fresh
    // Seq rebuilt from disk, piece-asc order — encoding is
    // order-independent) and the re-encoded corpus must pin to
    // EXACTLY tk07's golden values. Doubles round-trip as IEEE bits
    // (no text formatting in the path), so any divergence here means
    // the artifact contract broke, not the trainer.
    NamedQuery("tk08_vocab_roundtrip",
      (s, d) => {
        val vocab = TextAnalysis.unigramTrain(docs(s, d), vocabSize = 48,
          rounds = 2, maxPieceLen = 4).map(v => (v._2, v._4))
        val tmp = java.nio.file.Files.createTempDirectory("tk08").toString
        TextAnalysis.saveVocab(s, vocab, s"$tmp/vocab")
        val loaded = TextAnalysis.loadVocab(s, s"$tmp/vocab")
        require(loaded.toMap == vocab.toMap, "vocab did not round-trip")
        val toks = docs(s, d).select(explode(
          graft.functions.TextFunctions.unigram_encode(col("text"), loaded))
          .as("piece"))
        val top = toks.groupBy(col("piece")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("piece").asc).limit(10)
        top.unionByName(toks.agg(count(lit(1)).as("n"))
            .select(lit("__total__").as("piece"), col("n")))
          .orderBy("piece")
      },
      Some("""SELECT * FROM (VALUES
               ('__total__', CAST(40807 AS BIGINT)),
               ('batc', CAST(937 AS BIGINT)),
               ('co', CAST(934 AS BIGINT)),
               ('cust', CAST(934 AS BIGINT)),
               ('e', CAST(2723 AS BIGINT)),
               ('h', CAST(937 AS BIGINT)),
               ('hash', CAST(947 AS BIGINT)),
               ('join', CAST(964 AS BIGINT)),
               ('row', CAST(943 AS BIGINT)),
               ('s', CAST(1808 AS BIGINT)),
               ('scan', CAST(936 AS BIGINT)))
               t(piece, n) ORDER BY piece""")),

    // Gopher-style within-doc repetition fractions. The synthetic
    // word-soup corpus repeats heavily (vocab ~31 words), so both
    // fractions carry real signal here — and the oracle pins the
    // n < 2 degenerate branch too.
    NamedQuery("tx06_repetition",
      (s, d) => TextAnalysis.repetition(docs(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
               round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
                 AS dup_word_frac,
               CASE WHEN len(toks) >= 2 THEN
                 round(1.0 - CAST(len(list_distinct(list_transform(
                     range(1, len(toks)),
                     i -> concat_ws(' ', toks[i], toks[i+1])))) AS DOUBLE)
                   / (len(toks) - 1), 4)
               ELSE 0.0 END AS dup_2gram_frac
             FROM t ORDER BY doc_id""")),

    // BM25 against a 3-term topic seed; df/avgdl fold back as literals
    // so the oracle interpolates NOTHING — it recomputes df and avgdl
    // itself and must land on the same rounded scores. ln(+1)-smoothed
    // idf (Lucene variant), k1 = 1.2, b = 0.75.
    NamedQuery("tx08_bm25",
      (s, d) => TextAnalysis.bm25(docs(s, d),
          terms = Seq("spark", "query", "table")).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t),
              tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                       CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_spark,
                       CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tf_query,
                       CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf_table
                     FROM t),
              df AS (SELECT sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
                       sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS df_query,
                       sum(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS df_table
                     FROM tf)
             SELECT doc_id,
               round(ln((n - df_spark + 0.5) / (df_spark + 0.5) + 1.0) * tf_spark * 2.2
                       / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln((n - df_query + 0.5) / (df_query + 0.5) + 1.0) * tf_query * 2.2
                       / (tf_query + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln((n - df_table + 0.5) / (df_table + 0.5) + 1.0) * tf_table * 2.2
                       / (tf_table + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
             FROM tf, stats, df ORDER BY doc_id""")),

    // Unicode normalization (native UnicodeNormalize expression) on an
    // embedded fixture: the documents corpus is pure ASCII (zero
    // signal), so the gate carries its own decomposed/precomposed/
    // mixed-case rows — the same VALUES-oracle pattern as mm05. DuckDB
    // nfc_normalize + lower replay the NFC + ROOT-casefold semantics.
    NamedQuery("tx07_unicode_normalize",
      (s, d) => {
        import s.implicits._
        val fx = unicodeFixture.toDF("id", "raw")
        val nfc = graft.functions.TextFunctions.unicode_normalize(col("raw"), "NFC")
        fx.select(col("id"), nfc.as("nfc"),
            graft.functions.TextFunctions
              .unicode_normalize(col("raw"), "NFC", casefold = true).as("folded"),
            length(nfc).cast("int").as("n_chars"))
          .orderBy("id")
      },
      Some(s"""SELECT id, nfc_normalize(raw) AS nfc,
                lower(nfc_normalize(raw)) AS folded,
                CAST(length(nfc_normalize(raw)) AS INT) AS n_chars
              FROM (VALUES ${unicodeFixture.map { case (i, t) =>
                  s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")}) t(id, raw)
              ORDER BY id""")),

    // unigram perplexity proxy: per-doc average -ln p(token) under the
    // corpus MLE unigram model (the cheap deterministic stand-in for
    // LM-perplexity quality filtering)
    NamedQuery("tx11_unigram_ppl",
      (s, d) => TextAnalysis.unigramLogppl(docs(s, d)).orderBy("doc_id"),
      Some("""WITH t2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                          FROM documents),
              t AS (SELECT doc_id, term FROM t2 WHERE term != ''),
              v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
              tot AS (SELECT sum(cnt) AS total FROM v)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(-ln(cnt / CAST(total AS DOUBLE))), 4) AS avg_neg_logp
             FROM t JOIN v USING (term), tot
             GROUP BY doc_id ORDER BY doc_id""")),

    // per-doc top-3 TF-IDF terms; ranking on the rounded score with a
    // term tie-break keeps the window deterministic cross-engine
    NamedQuery("tx10_tfidf",
      (s, d) => TextAnalysis.tfidfTop(docs(s, d), k = 3)
        .orderBy("doc_id", "rk"),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                            FROM documents),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM toks WHERE term != '' GROUP BY 1, 2),
              dft AS (SELECT term, count(*) AS dfn FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM documents),
              s AS (SELECT doc_id, term,
                      round(tf * (ln((n + 1.0) / (dfn + 1.0)) + 1.0), 4) AS score
                    FROM tf JOIN dft USING (term), n),
              r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term ASC) AS INT) AS rk FROM s)
             SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
             ORDER BY doc_id, rk""")),

    // stemming-lite vocabulary normalization; every stripping rule is
    // mirrored as a CASE in the oracle, so the md5 fingerprint pins
    // rule order, guards, and stopword filtering exactly
    NamedQuery("tx09_stem_normalize",
      (s, d) => TextAnalysis.stemLite(docs(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                    list_transform(
                      list_filter(string_split(lower(text), ' '),
                        x -> x != '' AND x NOT IN ('the','a','of','and','to','in','is','it')),
                      x -> CASE
                        WHEN length(x) >= 5 AND x LIKE '%ing' THEN substr(x, 1, length(x) - 3)
                        WHEN length(x) >= 4 AND x LIKE '%ed' THEN substr(x, 1, length(x) - 2)
                        WHEN length(x) >= 4 AND x LIKE '%es' THEN substr(x, 1, length(x) - 2)
                        WHEN length(x) >= 4 AND x LIKE '%s' THEN substr(x, 1, length(x) - 1)
                        ELSE x END) AS stems
                  FROM documents)
             SELECT doc_id, CAST(len(stems) AS INT) AS n_kept,
               CAST(len(list_distinct(stems)) AS INT) AS n_stems,
               md5(array_to_string(stems, ' ')) AS stem_fingerprint
             FROM t ORDER BY doc_id""")),

    // ---------------- embedding compression ----------------

    // int8 symmetric quantization with audit columns; q_l2sq is exact
    // integer math, so the hash compare is float-order-insensitive,
    // and the rounded scale/max-err pin the reconstruction bound.
    NamedQuery("em01_quantize",
      (s, d) => Embeddings.quantizeInt8(embs(s, d))
        .select(col("vec_id"), round(col("q_scale"), 6).as("q_scale"),
          round(col("q_max_err"), 6).as("q_max_err"), col("q_l2sq"))
        .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
              s AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
              q AS (SELECT vec_id, v, scale,
                    CASE WHEN scale > 0
                      THEN list_transform(v, x -> CAST(round(x / scale) AS INT))
                      ELSE list_transform(v, x -> 0) END AS qv FROM s)
             SELECT vec_id, round(scale, 6) AS q_scale,
               CASE WHEN scale > 0 THEN
                 round(list_max(list_transform(range(1, len(v) + 1),
                   i -> abs(v[i] - CAST(qv[i] AS DOUBLE) * scale))), 6)
               ELSE 0.0 END AS q_max_err,
               CAST(list_sum(list_transform(qv,
                 x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS q_l2sq
             FROM q ORDER BY vec_id""")),

    // Per-dimension winsorization: exact [p01, p99] bands per
    // coordinate (one posexplode aggregate), clip + exact clipped-
    // coordinate counts; w_sum pins the clipped values themselves at
    // a non-tie rounding.
    NamedQuery("em03_winsorize",
      (s, d) => Embeddings.winsorize(embs(s, d), lo = 0.01, hi = 0.99)
        .select(col("vec_id"), col("n_clipped"),
          round(aggregate(col("w_embedding"), lit(0.0d),
            (acc, x) => acc + x), 4).as("w_sum"))
        .orderBy("vec_id"),
      Some("""WITH expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
              b AS (SELECT d, CAST(quantile_cont(v, 0.01) AS FLOAT) AS lo,
                      CAST(quantile_cont(v, 0.99) AS FLOAT) AS hi
                    FROM expl GROUP BY d),
              c AS (SELECT e.vec_id,
                      CASE WHEN e.v < b.lo OR e.v > b.hi THEN 1 ELSE 0 END AS clip,
                      least(greatest(e.v, CAST(b.lo AS DOUBLE)), CAST(b.hi AS DOUBLE)) AS cv
                    FROM expl e JOIN b USING (d))
             SELECT vec_id, CAST(sum(clip) AS INT) AS n_clipped,
               round(sum(cv), 4) AS w_sum
             FROM c GROUP BY vec_id ORDER BY vec_id""")),

    // Join/groupBy-key skew diagnosis over the events stream: the 20
    // heaviest user_ids with row share and the multiple of a uniform
    // key's load — the measurement that picks between AQE, broadcast,
    // and saltedJoin.
    NamedQuery("sk01_key_profile",
      (s, d) => graft.ops.Skew.keyProfile(
        Tables.load(s, d, "events"), "user_id", topK = 20),
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                         FROM events GROUP BY 1),
                   t AS (SELECT count(*) AS nk, sum(cnt) AS tot FROM c)
             SELECT user_id, cnt,
               round(cnt / CAST(tot AS DOUBLE), 6) AS share,
               round(cnt * CAST(nk AS DOUBLE) / tot, 4) AS x_uniform
             FROM c, t ORDER BY cnt DESC, user_id ASC LIMIT 20""")),

    // Per-label mean embeddings (class prototypes); rounding at 4
    // makes the float-sum order irrelevant to the hash compare. The
    // operator returns one array per label; the GATE explodes it to
    // (label, d, m) scalars because the oracle comparator hashes cell
    // values and cannot hash an array cell.
    NamedQuery("em04_label_centroids",
      (s, d) => Embeddings.labelCentroids(embs(s, d))
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("d0", "m")))
        .select(col("label"), col("n_vectors"),
          (col("d0") + 1).cast("int").as("d"), col("m"))
        .orderBy("label", "d"),
      Some("""WITH e AS (SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS d,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
             SELECT label, CAST(count(*) AS BIGINT) AS n_vectors, d,
               round(avg(v), 4) + 0.0 AS m
             FROM e GROUP BY label, d ORDER BY label, d""")),

    // em05: JL sign random projection 64→8 — md5-derived ±1 signs,
    // pure scan-speed; the gate explodes the projected array to
    // (vec_id, d, v) scalars (array columns break the oracle
    // comparator — the em04 lesson)
    NamedQuery("em05_random_projection",
      (s, d) => Embeddings.randomProjection(embs(s, d), inDim = 64, outDim = 8)
        .select(col("vec_id"), posexplode(col("rp_embedding")).as(Seq("d0", "v0")))
        .select(col("vec_id"), col("d0").cast("int").as("d"),
          graft.ops.Portability.zround(col("v0"), 4).as("v"))
        .orderBy("vec_id", "d"),
      Some("""WITH ex AS (SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS j,
                 CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
             dims AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS d),
             signs AS (SELECT d, j,
                 CASE WHEN strpos('02468ace',
                     substr(md5('rp:' || CAST(d AS VARCHAR) || ':' ||
                       CAST(j AS VARCHAR)), 1, 1)) > 0
                   THEN 1.0 ELSE -1.0 END AS sgn
               FROM dims CROSS JOIN (SELECT DISTINCT j FROM ex)),
             proj AS (SELECT e.vec_id, s.d,
                 round(sum(s.sgn * e.x) / 8.0, 4) + 0.0 AS v
               FROM ex e JOIN signs s ON s.j = e.j
               GROUP BY 1, 2)
             SELECT vec_id, d, v FROM proj ORDER BY vec_id, d""")),

    // em13: linear CKA between the first-16-dim slice of the raw
    // embeddings and em05's 8-dim JL projection — the "did compression
    // keep the geometry" readout; one wide moment aggregate in Spark,
    // and the oracle rebuilds the same moments via unnest joins (the
    // projection replayed with em05's md5 sign matrix, unrounded)
    NamedQuery("em13_cka",
      (s, d) => {
        val pr = Embeddings.randomProjection(embs(s, d), inDim = 64, outDim = 8)
        Embeddings.linearCKA(pr, col("embedding"), col("rp_embedding"),
          dx = 16, dy = 8)
      },
      Some("""WITH ex AS (SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS j,
                 CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
             xs AS (SELECT vec_id, j AS i, x FROM ex WHERE j < 16),
             dims AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS d),
             signs AS (SELECT d, j,
                 CASE WHEN strpos('02468ace',
                     substr(md5('rp:' || CAST(d AS VARCHAR) || ':' ||
                       CAST(j AS VARCHAR)), 1, 1)) > 0
                   THEN 1.0 ELSE -1.0 END AS sgn
               FROM dims CROSS JOIN (SELECT DISTINCT j FROM ex)),
             ys AS (SELECT e.vec_id, s.d, sum(s.sgn * e.x) / 8.0 AS y
               FROM ex e JOIN signs s ON s.j = e.j GROUP BY 1, 2),
             nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
             sx AS (SELECT i, sum(x) AS sx FROM xs GROUP BY 1),
             sy AS (SELECT d, sum(y) AS sy FROM ys GROUP BY 1),
             hxy AS (SELECT sum(power(m.sxy - sx.sx * sy.sy / nn.n, 2)) AS h
               FROM (SELECT xs.i, ys.d, sum(xs.x * ys.y) AS sxy
                     FROM xs JOIN ys ON ys.vec_id = xs.vec_id
                     GROUP BY 1, 2) m
               JOIN sx ON sx.i = m.i JOIN sy ON sy.d = m.d CROSS JOIN nn),
             hxx AS (SELECT sum(power(m.sxx - a.sx * b.sx / nn.n, 2)) AS h
               FROM (SELECT x1.i AS i1, x2.i AS i2, sum(x1.x * x2.x) AS sxx
                     FROM xs x1 JOIN xs x2 ON x2.vec_id = x1.vec_id
                     GROUP BY 1, 2) m
               JOIN sx a ON a.i = m.i1 JOIN sx b ON b.i = m.i2 CROSS JOIN nn),
             hyy AS (SELECT sum(power(m.syy - a.sy * b.sy / nn.n, 2)) AS h
               FROM (SELECT y1.d AS d1, y2.d AS d2, sum(y1.y * y2.y) AS syy
                     FROM ys y1 JOIN ys y2 ON y2.vec_id = y1.vec_id
                     GROUP BY 1, 2) m
               JOIN sy a ON a.d = m.d1 JOIN sy b ON b.d = m.d2 CROSS JOIN nn)
             SELECT CAST(16 AS INT) AS dim_x, CAST(8 AS INT) AS dim_y,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
               round(hxy.h / sqrt(hxx.h * hyy.h), 6) + 0.0 AS cka
             FROM hxy, hxx, hyy""")),

    // Hard negatives: top-5 most-similar vectors with a DIFFERENT
    // label for the first 10 queries — the contrastive-training
    // near-miss miner; same broadcast shape as sim01 plus the label
    // disequality in the join.
    NamedQuery("hn01_hard_negatives",
      (s, d) => Similarity.hardNegatives(
          embs(s, d), embs(s, d).filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rk"),
      Some("""WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
                         FROM embeddings WHERE vec_id < 10),
             scored AS (SELECT query_id, e.vec_id AS neighbor_id, e.label AS n_label,
                 round((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(e.embedding) AS b))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(q_emb) AS b)))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b))), 4) AS cos_sim
               FROM embeddings e JOIN q ON e.vec_id != q.query_id AND e.label != q.q_label),
             ranked AS (SELECT query_id, neighbor_id, n_label, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
               FROM scored)
             SELECT query_id, rk, neighbor_id, n_label, cos_sim FROM ranked
             WHERE rk <= 5 ORDER BY query_id, rk""")),

    // hn02: hard-negative mining's 100 TB path — forced onto LSH
    // candidates (annThreshold = 0, ml04's switch); the label-differs
    // filter lands on the bucket candidates BEFORE ranking. Oracle
    // replays the hyperplane buckets, the label filter, and the
    // rounded-cosine rank in DuckDB.
    NamedQuery("hn02_hard_negatives_ann",
      (s, d) => {
        val e = embs(s, d)
        Similarity.hardNegatives(e, e.filter(col("vec_id") < 100), k = 5,
            annThreshold = 0, annTables = 2)
          .orderBy("query_id", "rk")
      },
      Some(annHardNegativesOracle(dim = 64, k = 5, nBits = 4, tables = 2))),

    // Product quantization: 16 subspaces × 16 codes over the 64-dim
    // corpus (256 bytes → 16 nibbles, 32×), ADC top-10 for the first
    // 20 vectors as queries, gated sim04-style: codes all in range AND
    // ADC recall@10 vs exact L2 clears a bound PQ at this compression
    // must meet. (Codebooks/encoding/search are all deterministic, but
    // the recall VALUE depends on float k-means details too fragile
    // for a hash oracle — the bound is the stable contract.)
    NamedQuery("em02_pq_recall",
      (s, d) => {
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val cbs = Embeddings.pqCodebooks(e, m = 16, k = 16)
        // persisted: the encoded frame feeds the ADC ranking, the
        // code-range audit, and the row count — three executions of
        // the encode projection otherwise
        val enc = Embeddings.pqEncode(e, cbs).persist()
        val queries = e.orderBy("vec_id").limit(20).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        import s.implicits._
        val qdf = broadcast(queries.map { case (id, v) => (id, v.toSeq) }
          .toSeq.toDF("query_id", "q_emb"))
        val l2 = Similarity.dot(col("embedding"), col("embedding")) -
          lit(2.0) * Similarity.dot(col("embedding"), col("q_emb")) +
          Similarity.dot(col("q_emb"), col("q_emb"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d").asc, col("neighbor_id").asc)
        val exact = e.crossJoin(qdf)
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), l2.as("d"))
          .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 10)
          .select(col("query_id"), col("neighbor_id"))
        val adc = Embeddings.pqAdcTopK(enc, cbs, queries.toSeq, k = 10)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        val recall = exact.join(adc, Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
          .head.getDouble(0)
        val codesOk = enc.agg(min(forall(col("codes"),
          c => c >= 0 && c < 16)).as("ok")).head.getBoolean(0)
        val nv = enc.count()
        enc.unpersist(false)
        // measured 0.405 at sf0.01 (64-bit codes for 64 floats, 32×
        // compression; chance is ~0.02) — 0.3 is the regression bound
        Seq((nv, codesOk, recall >= 0.3)).toDF("n_vectors", "codes_ok", "recall_ok")
      },
      Some("""SELECT CAST(500 AS BIGINT) AS n_vectors, true AS codes_ok,
             true AS recall_ok""")),

    // ---------------- dedup ----------------

    NamedQuery("dd01_exact_dedup",
      (s, d) => Dedup.exact(docs(s, d)).orderBy("content_hash"),
      Some("""SELECT md5(lower(trim(text))) AS content_hash,
             min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
             FROM documents GROUP BY 1 ORDER BY content_hash""")),

    // incremental-batch dedup: docs >= 400 are "today's ingest", the
    // rest the standing corpus; survivors share neither an exact
    // normalized-text hash nor an order-invariant token-set
    // fingerprint with the base. Emits the surviving ids + lang.
    NamedQuery("dd07_incremental_dedup",
      (s, d) => {
        val all = docs(s, d)
        Dedup.incrementalDedup(
            all.filter(col("doc_id") >= 400), all.filter(col("doc_id") < 400))
          .select(col("doc_id"), col("lang")).orderBy("doc_id")
      },
      Some("""WITH k AS (SELECT doc_id, lang, md5(lower(trim(text))) AS ch,
                      md5(array_to_string(list_sort(list_distinct(
                        string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
                    FROM documents)
             SELECT n.doc_id, n.lang FROM k n
             WHERE n.doc_id >= 400
               AND NOT EXISTS (SELECT 1 FROM k b WHERE b.doc_id < 400 AND b.ch = n.ch)
               AND NOT EXISTS (SELECT 1 FROM k b WHERE b.doc_id < 400 AND b.fp = n.fp)
             ORDER BY n.doc_id""")),

    // line-level boilerplate removal: the corpus has no newlines, so
    // the gate turns every word into a "line" (translate/replace on
    // both engines) — words present in >400 of the docs are template
    // chrome and vanish from every doc; hash of the reassembled text
    // pins content AND line order
    NamedQuery("ln01_boilerplate_lines",
      (s, d) => Dedup.dropBoilerplateLines(
          docs(s, d).withColumn("text", translate(col("text"), " ", "\n")),
          maxDf = 400)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"))
        .orderBy("doc_id"),
      Some("""WITH l AS (SELECT doc_id,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 unnest(string_split(text, ' ')) AS line FROM documents),
              hot AS (SELECT line FROM
                 (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1)
               WHERE df > 400),
              kept AS (SELECT doc_id, pos, line FROM l
                       WHERE line NOT IN (SELECT line FROM hot)),
              agg AS (SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean
               FROM kept GROUP BY doc_id)
             SELECT doc_id, md5(clean) AS clean_hash FROM agg
             ORDER BY doc_id""")),

    // dd09: cross-document paragraph dedup, keep-first — tokens stand
    // in for paragraphs (the synthetic corpus is single-line); a
    // repeated unit survives only at its lowest (doc_id, pos), docs
    // that lose everything come back as the empty string
    NamedQuery("dd09_paragraph_dedup",
      (s, d) => Dedup.dropDuplicateParagraphs(
          docs(s, d).withColumn("text", translate(col("text"), " ", "\n")))
        .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"))
        .orderBy("doc_id"),
      Some("""WITH p0 AS (SELECT doc_id,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 unnest(string_split(text, ' ')) AS p FROM documents),
              p AS (SELECT * FROM p0 WHERE length(p) > 0),
              k AS (SELECT doc_id, pos, p,
                 row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, pos) AS rn
               FROM p),
              agg AS (SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean
                      FROM k WHERE rn = 1 GROUP BY doc_id)
             SELECT d.doc_id, md5(coalesce(a.clean, '')) AS clean_hash
             FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
             ORDER BY d.doc_id""")),

    // dd11: asymmetric containment pairs — shingle-grouped candidates
    // (no min-shingle block: it would lose exactly the subset pairs),
    // both directions reported, either direction clears the threshold
    NamedQuery("dd11_containment",
      (s, d) => Dedup.containmentPairs(docs(s, d), threshold = 0.6)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              ex0 AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sets),
              ex AS (SELECT doc_id, sz, g FROM
                      (SELECT doc_id, sz, g,
                         count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 200),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4)
             SELECT id_a, id_b, round(inter / sz_a, 4) AS cont_a,
               round(inter / sz_b, 4) AS cont_b
             FROM inter
             WHERE round(inter / sz_a, 4) >= 0.6
                OR round(inter / sz_b, 4) >= 0.6
             ORDER BY id_a, id_b""")),

    // dd10: cross-document substring dedup — 8-token sliding windows,
    // a window hash seen in ≥2 distinct docs drops its span from every
    // occurrence; integers + md5 of the rebuilt text gate the surgery
    NamedQuery("dd10_window_dedup",
      (s, d) => Dedup.dropDuplicateWindows(docs(s, d), w = 8, minDf = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
          md5(col("clean_text")).as("clean_hash"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS tk
               FROM documents),
             st AS (SELECT doc_id, tk,
                 unnest(CASE WHEN len(tk) >= 8 THEN range(0, len(tk) - 7)
                        ELSE CAST([] AS BIGINT[]) END) AS s
               FROM toks),
             wins AS (SELECT doc_id, s,
                 md5(array_to_string(tk[s + 1:s + 8], ' ')) AS wh FROM st),
             hot AS (SELECT wh FROM wins GROUP BY wh
                     HAVING count(DISTINCT doc_id) >= 2),
             cov AS (SELECT DISTINCT doc_id, p FROM
                     (SELECT w.doc_id, unnest(range(w.s, w.s + 8)) AS p
                      FROM wins w JOIN hot USING (wh))),
             tokpos AS (SELECT doc_id,
                 CAST(generate_subscripts(tk, 1) AS BIGINT) - 1 AS pos,
                 unnest(tk) AS tok
               FROM toks),
             kept AS (SELECT t.doc_id, count(*) AS n_kept,
                 string_agg(t.tok, ' ' ORDER BY t.pos) AS clean
               FROM tokpos t
               WHERE NOT EXISTS (SELECT 1 FROM cov c
                                 WHERE c.doc_id = t.doc_id AND c.p = t.pos)
               GROUP BY t.doc_id)
             SELECT o.doc_id, CAST(len(o.tk) AS INT) AS n_tokens,
               CAST(len(o.tk) - coalesce(k.n_kept, 0) AS INT) AS n_dup_tokens,
               md5(coalesce(k.clean, '')) AS clean_hash
             FROM toks o LEFT JOIN kept k USING (doc_id)
             ORDER BY o.doc_id""")),

    // dd16: TRUE exact-substring dedup (Lee et al. 2022 ExactSubstr
    // semantics — dd10's stand-in upgraded): maximal duplicate spans
    // ≥ 12 tokens, occurrence-counted (in-doc repeats count), found at
    // ANY offset. The corpus is documents plus PLANTED literals that
    // pin the cases a strided block-hash provably misses: the same
    // 14-token span at offsets 5 and 2 (straddles every stride-12
    // block boundary in both docs), a 10-token shared run that must
    // NOT be cut (below threshold), and an in-doc 13-token repeat
    // separated by one token (two spans, not one — the island merge
    // must not bridge the gap).
    NamedQuery("dd16_exact_substring",
      (s, d) =>
        Dedup.exactSubstringSpans(plantedCorpus(s, d), minSpan = 12,
            minCount = 2)
          .orderBy("doc_id", "span_start"),
      Some(exactSubstrOracleCtes + """,
             hits AS (SELECT doc_id, s FROM grams JOIN dup USING (gh)),
             isl AS (SELECT doc_id, s,
                 CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > 12
                      THEN 1 ELSE 0 END AS nw
               FROM hits),
             grp AS (SELECT doc_id, s,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
               FROM isl)
             SELECT doc_id, CAST(min(s) AS INT) AS span_start,
               CAST(max(s) + 11 AS INT) AS span_end,
               CAST(max(s) + 11 - min(s) + 1 AS INT) AS span_len
             FROM grp GROUP BY doc_id, g
             ORDER BY doc_id, span_start""")),

    // dd17: the exact-substring CUT (Lee et al.'s removal pass over
    // dd16's spans): every token inside a maximal duplicate span drops
    // from EVERY occurrence, survivors reassemble in order. Same
    // planted corpus as dd16 — the oracle replays spans, coverage,
    // and the rebuilt text (md5-pinned), so the surgery is gated, not
    // just the detection.
    NamedQuery("dd17_exact_substring_cut",
      (s, d) =>
        Dedup.dropExactSubstrings(plantedCorpus(s, d), minSpan = 12,
            minCount = 2)
          .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
            md5(col("clean_text")).as("clean_hash"))
          .orderBy("doc_id"),
      Some(exactSubstrOracleCtes + """,
             cov AS (SELECT DISTINCT doc_id, p FROM
                     (SELECT g.doc_id, unnest(range(g.s, g.s + 12)) AS p
                      FROM grams g JOIN dup USING (gh))),
             tokpos AS (SELECT doc_id,
                 CAST(generate_subscripts(tk, 1) AS BIGINT) - 1 AS pos,
                 unnest(tk) AS tok
               FROM toks),
             kept AS (SELECT t.doc_id, count(*) AS n_kept,
                 string_agg(t.tok, ' ' ORDER BY t.pos) AS clean
               FROM tokpos t
               WHERE NOT EXISTS (SELECT 1 FROM cov c
                                 WHERE c.doc_id = t.doc_id AND c.p = t.pos)
               GROUP BY t.doc_id)
             SELECT o.doc_id, CAST(len(o.tk) AS INT) AS n_tokens,
               CAST(len(o.tk) - coalesce(k.n_kept, 0) AS INT) AS n_dup_tokens,
               md5(coalesce(k.clean, '')) AS clean_hash
             FROM toks o LEFT JOIN kept k USING (doc_id)
             ORDER BY o.doc_id""")),

    // tx13: Gopher quality rules — all-integer statistics, thresholds
    // via integer cross-multiplication (no float division anywhere),
    // so the verdict booleans are exactly reproducible
    NamedQuery("tx13_gopher_rules",
      (s, d) => graft.ops.QualityRules.gopherQuality(docs(s, d)).orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, text,
                 string_split_regex(trim(text), '\s+') AS words FROM documents),
              g AS (SELECT doc_id,
                 CAST(len(words) AS BIGINT) AS n_words,
                 CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
                   AS len_nospace,
                 CAST(length(text) - length(replace(text, '#', ''))
                   + (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) // 3
                   AS BIGINT) AS n_symbols,
                 CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                   AS BIGINT) AS n_alpha,
                 CAST(list_contains(words, 'the') AS BIGINT)
                   + CAST(list_contains(words, 'be') AS BIGINT)
                   + CAST(list_contains(words, 'to') AS BIGINT)
                   + CAST(list_contains(words, 'of') AS BIGINT)
                   + CAST(list_contains(words, 'and') AS BIGINT)
                   + CAST(list_contains(words, 'that') AS BIGINT)
                   + CAST(list_contains(words, 'have') AS BIGINT)
                   + CAST(list_contains(words, 'with') AS BIGINT) AS stop_hits
               FROM w)
             SELECT doc_id, n_words, len_nospace, n_symbols, n_alpha, stop_hits,
               (n_words >= 50 AND n_words <= 100000
                AND len_nospace >= n_words * 3 AND len_nospace <= n_words * 10
                AND n_symbols * 10 < n_words
                AND n_alpha * 5 >= n_words * 4
                AND stop_hits >= 2) AS keep
             FROM g ORDER BY doc_id""")),

    // maxShingleDf=1000 is ACTIVE (the DF-cap window runs; max df in
    // this corpus is 25, so results are unchanged while the skew guard
    // is exercised end-to-end)
    NamedQuery("dd02_minhash_lsh",
      (s, d) => Dedup.minhashLsh(docs(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS (SELECT doc_id, $duckShingles AS sset FROM documents),
              shx0 AS (SELECT doc_id, unnest(sset) AS g FROM sh),
              shx AS (SELECT doc_id, g FROM
                        (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM shx0)
                      WHERE df <= 1000),
              sig0 AS (SELECT doc_id, j, min(md5(j::VARCHAR || '#' || g)) AS mh
                       FROM shx, range(12) r(j) GROUP BY doc_id, j),
              sig AS (SELECT doc_id, list(mh ORDER BY j) AS sig FROM sig0 GROUP BY doc_id),
              banded0 AS (SELECT doc_id, sig, b AS band,
                           md5(sig[3*b+1] || '|' || sig[3*b+2] || '|' || sig[3*b+3]) AS band_key
                         FROM sig, range(4) r(b)),
              banded AS (SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bc
                         FROM banded0)
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                round(CAST(len(list_filter(range(1, 13), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 12, 4)
                  AS est_jaccard
              FROM banded x JOIN banded y
                ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
                   AND x.bc <= 10000
              WHERE round(CAST(len(list_filter(range(1, 13), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 12, 4) >= 0.5
              ORDER BY id_a, id_b""")),

    // incremental NEAR-dup: batch (doc_id >= 400) docs with a MinHash-
    // LSH near-twin in the base (< 400) are dropped; the oracle replays
    // dd02's full shingle/signature/band machinery with a side tag and
    // cross-side pairs only
    NamedQuery("dd08_incremental_neardup",
      (s, d) => {
        val all = docs(s, d)
        Dedup.incrementalNearDup(
            all.filter(col("doc_id") >= 400), all.filter(col("doc_id") < 400))
          .select(col("doc_id"), col("lang")).orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, text,
                 CASE WHEN doc_id >= 400 THEN 1 ELSE 0 END AS nw FROM documents),
              sh AS (SELECT doc_id, nw, $duckShingles AS sset FROM d),
              shx0 AS (SELECT doc_id, nw, unnest(sset) AS g FROM sh),
              shx AS (SELECT doc_id, nw, g FROM
                        (SELECT doc_id, nw, g, count(*) OVER (PARTITION BY g) AS df FROM shx0)
                      WHERE df <= 1000),
              sig0 AS (SELECT doc_id, nw, j, min(md5(j::VARCHAR || '#' || g)) AS mh
                       FROM shx, range(12) r(j) GROUP BY doc_id, nw, j),
              sig AS (SELECT doc_id, nw, list(mh ORDER BY j) AS sig
                      FROM sig0 GROUP BY doc_id, nw),
              banded0 AS (SELECT doc_id, nw, sig, b AS band,
                           md5(sig[3*b+1] || '|' || sig[3*b+2] || '|' || sig[3*b+3]) AS band_key
                         FROM sig, range(4) r(b)),
              banded AS (SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bc
                         FROM banded0),
              dup AS (SELECT DISTINCT x.doc_id
                      FROM banded x JOIN banded y
                        ON x.band = y.band AND x.band_key = y.band_key
                           AND x.nw = 1 AND y.nw = 0 AND x.bc <= 10000
                      WHERE round(CAST(len(list_filter(range(1, 13), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 12, 4) >= 0.5)
             SELECT doc_id, lang FROM documents
             WHERE doc_id >= 400 AND doc_id NOT IN (SELECT doc_id FROM dup)
             ORDER BY doc_id""")),

    NamedQuery("dd03_simhash_pairs",
      (s, d) => Dedup.simhashPairs(docs(s, d)).orderBy("id_a", "id_b"),
      Some("""WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
                           FROM documents),
             votes AS (SELECT doc_id, b,
                         sum(CASE WHEN strpos(
                               CASE WHEN b < 32 THEN '89abcdef' ELSE '4567cdef' END,
                               substr(h, (b % 32) + 1, 1)) > 0
                             THEN 1 ELSE -1 END) AS vote
                       FROM tok, range(64) r(b) GROUP BY doc_id, b),
             sh AS (SELECT doc_id,
                      string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash,
                      CAST(sum(CASE WHEN vote > 0 THEN
                        (CASE WHEN b = 63 THEN -9223372036854775807 - 1
                              ELSE (1::BIGINT << b) END)
                        ELSE 0 END) AS BIGINT) AS si
                    FROM votes GROUP BY doc_id),
             slices0 AS (SELECT doc_id, si, unnest([
                          'S0|' || substr(simhash,  1, 16),
                          'S1|' || substr(simhash, 17, 16),
                          'S2|' || substr(simhash, 33, 16),
                          'S3|' || substr(simhash, 49, 16)]) AS slice FROM sh),
             slices AS (SELECT *, count(*) OVER (PARTITION BY slice) AS bc FROM slices0)
             SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
               CAST(bit_count(xor(x.si, y.si)) AS INT) AS hamming
             FROM slices x JOIN slices y
               ON x.slice = y.slice AND x.doc_id < y.doc_id AND x.bc <= 10000
             WHERE bit_count(xor(x.si, y.si)) <= 3
             ORDER BY id_a, id_b""")),

    NamedQuery("dd04_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(docs(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4)
              SELECT id_a, id_b,
                round(inter / (sz_a + sz_b - inter), 4) AS jaccard
              FROM inter
              WHERE inter / (sz_a + sz_b - inter) >= 0.5
              ORDER BY id_a, id_b""")),

    // dd15: cross-source duplication matrix — dd04's near-dup pairs
    // rolled up by unordered source pair (corpus forensics: which
    // crawls mirror which); oracle = dd04's pair CTE + two joins
    NamedQuery("dd15_cross_source_dups",
      (s, d) => {
        val dcs = docs(s, d)
        Dedup.crossSourceDups(dcs, Dedup.ngramJaccard(dcs))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4),
              p AS (SELECT id_a, id_b FROM inter
                    WHERE inter / (sz_a + sz_b - inter) >= 0.5),
              sp AS (SELECT least(da.source, db.source) AS source_a,
                       greatest(da.source, db.source) AS source_b
                     FROM p JOIN documents da ON da.doc_id = p.id_a
                            JOIN documents db ON db.doc_id = p.id_b)
             SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
               source_a <> source_b AS cross_source
             FROM sp GROUP BY 1, 2 ORDER BY source_a, source_b""")),

    // embedding-cosine near-dup pairs, LSH-blocked; bits auto-derived
    // from corpus size (bitsFor(500) = 4 here, more at scale), 2 hash
    // tables for recall. Oracle reproduces the md5-derived hyperplanes
    // for the sf0.01 bit count as literal constants.
    NamedQuery("dd05_cosine_dups",
      (s, d) => Similarity.cosineDups(embs(s, d), dim = 64, threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(cosineDupsOracle(dim = 64, threshold = 0.3, nBits = 4, tables = 2))),

    // dd13: incremental embedding-space dedup — the daily-ingest guard
    // one representation above dd08: batch vectors (vec_id % 7 = 0)
    // are dropped when any BASE vector shares an LSH bucket and clears
    // the cosine threshold. The oracle reuses dd05's bucket CTEs over
    // the same tagged union (batch + base = the whole table, same
    // hyperplanes) with a cross-side join condition.
    NamedQuery("dd13_incremental_cosine",
      (s, d) => {
        val all = embs(s, d)
        Similarity.incrementalCosineDedup(
            all.filter(col("vec_id") % 7 === 0),
            all.filter(col("vec_id") % 7 =!= 0),
            dim = 64, threshold = 0.3, nBits = 4, tables = 2)
          .select(col("vec_id")).orderBy("vec_id")
      },
      Some(s"""${bucketsCte(dim = 64, nBits = 4, tables = 2)},
              dups AS (SELECT DISTINCT q.vec_id
                FROM withemb q JOIN withemb n
                  ON q.t = n.t AND q.bucket = n.bucket
                     AND q.vec_id % 7 = 0 AND n.vec_id % 7 != 0
                     AND q.bc <= 10000
                WHERE round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                      / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                      / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4)
                      >= 0.3)
             SELECT vec_id FROM embeddings
             WHERE vec_id % 7 = 0 AND vec_id NOT IN (SELECT vec_id FROM dups)
             ORDER BY vec_id""")),

    // dup-CLUSTER resolution: n-gram pairs → connected components
    // (min-label propagation; pair relations aren't transitive) → one
    // quality-canonical doc per cluster. The oracle replays the dd04
    // pair generation, then computes exact components with a recursive
    // CTE (min label reachable from each node) and the same
    // longest-text/min-id canonical pick.
    // THE near-dup leakage guard end-to-end: split keyed on the dup
    // CLUSTER id (dd06's connected components), so a test doc's
    // near-twin can never land in train. Oracle = dd06's proven
    // cluster CTEs + sp02's md5 threshold replay; emits every doc's
    // cluster and side.
    NamedQuery("sp03_cluster_split",
      (s, d) => {
        val dcs = docs(s, d)
        val clusters = Dedup.dupClusters(dcs, Dedup.ngramJaccard(dcs))
          .select(col("doc_id"), col("cluster_id"))
        graft.ops.Curation.groupSplit(clusters, col("cluster_id"),
            trainFrac = 0.8, validFrac = 0.1)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4),
              pairs AS (SELECT id_a, id_b FROM inter
                        WHERE inter / (sz_a + sz_b - inter) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach(node, lab) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
              cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
              member AS (SELECT d.doc_id,
                           coalesce(cc.cluster_id, d.doc_id) AS cluster_id
                         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
             SELECT doc_id, cluster_id,
               CASE WHEN substr(md5('split#' || CAST(cluster_id AS VARCHAR)), 1, 8)
                      < '${graft.ops.Curation.hexThreshold(0.8)}' THEN 'train'
                    WHEN substr(md5('split#' || CAST(cluster_id AS VARCHAR)), 1, 8)
                      < '${graft.ops.Curation.hexThreshold(0.9)}' THEN 'valid'
                    ELSE 'test' END AS split
             FROM member ORDER BY doc_id""")),

    NamedQuery("dd06_dup_clusters",
      (s, d) => {
        val dcs = docs(s, d)
        Dedup.dupClusters(dcs, Dedup.ngramJaccard(dcs)).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4),
              pairs AS (SELECT id_a, id_b FROM inter
                        WHERE inter / (sz_a + sz_b - inter) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach(node, lab) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
              cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
              member AS (SELECT d.doc_id,
                           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                           length(d.text) AS len
                         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
              canon AS (SELECT cluster_id, doc_id AS keep_id FROM
                          (SELECT cluster_id, doc_id,
                             row_number() OVER (PARTITION BY cluster_id
                               ORDER BY len DESC, doc_id ASC) AS rk
                           FROM member) WHERE rk = 1)
             SELECT m.doc_id, m.cluster_id, c.keep_id,
                    m.doc_id = c.keep_id AS is_canonical
             FROM member m JOIN canon c USING (cluster_id)
             ORDER BY m.doc_id""")),

    // dd14: dedup impact report — dd06's cluster resolution rolled up
    // to a size histogram with reclaimable chars (the pre-rewrite
    // summary); oracle = dd06's recursive replay + two aggregates
    NamedQuery("dd14_dup_stats",
      (s, d) => {
        val dcs = docs(s, d)
        Dedup.dupStats(dcs, Dedup.ngramJaccard(dcs)).orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE
              sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4),
              pairs AS (SELECT id_a, id_b FROM inter
                        WHERE inter / (sz_a + sz_b - inter) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach(node, lab) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
              cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
              member AS (SELECT d.doc_id,
                           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                           length(d.text) AS len
                         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
              canon AS (SELECT cluster_id, doc_id AS keep_id FROM
                          (SELECT cluster_id, doc_id,
                             row_number() OVER (PARTITION BY cluster_id
                               ORDER BY len DESC, doc_id ASC) AS rk
                           FROM member) WHERE rk = 1),
              per_cluster AS (SELECT m.cluster_id,
                  CAST(count(*) AS BIGINT) AS csz,
                  CAST(sum(m.len) AS BIGINT) AS chars,
                  CAST(sum(CASE WHEN m.doc_id = c.keep_id THEN 0 ELSE m.len END)
                    AS BIGINT) AS dropped
                FROM member m JOIN canon c USING (cluster_id) GROUP BY 1)
             SELECT csz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(csz * count(*) AS BIGINT) AS n_docs,
               CAST(sum(chars) AS BIGINT) AS total_chars,
               CAST(sum(dropped) AS BIGINT) AS chars_dropped
             FROM per_cluster GROUP BY 1 ORDER BY 1""")),

    // pp05: the dedup pipeline end-to-end off ONE cluster resolution —
    // star-contraction runs ONCE (persisted), then BOTH consumers read
    // the same frame: dupStatsFrom's corpus dedup summary (dd14's
    // machinery on a pre-computed cluster frame) and the cluster-keyed
    // leakage-safe split (sp03's keying). As independent gates,
    // dd06/dd14/sp03 each pay connected components separately; a real
    // pipeline pays it once — this gate certifies that composition
    // (r11 verdict #5). Output: per split, doc/cluster/canonical/char
    // accounting plus the corpus-level dup summary as constants.
    NamedQuery("pp05_dedup_pipeline",
      (s, d) => {
        val dcs = docs(s, d)
        val clusters = Dedup.dupClusters(dcs, Dedup.ngramJaccard(dcs))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val split = graft.ops.Curation.groupSplit(clusters,
          col("cluster_id"), trainFrac = 0.8, validFrac = 0.1)
        val totals = Dedup.dupStatsFrom(clusters, dcs).agg(
          sum(when(col("cluster_size") > 1, col("n_clusters"))
            .otherwise(0L)).as("dup_clusters"),
          sum(col("chars_dropped")).as("reclaimable_chars"))
        val out = split
          .join(dcs.select(col("doc_id").cast("long").as("doc_id"),
            length(col("text")).cast("long").as("len")), "doc_id")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(when(col("is_canonical"), 1L).otherwise(0L))
              .as("n_canonical"),
            sum(col("len")).as("total_chars"),
            sum(when(!col("is_canonical"), col("len")).otherwise(0L))
              .as("chars_dropped"))
          .crossJoin(totals)
          .orderBy("split")
          .localCheckpoint(true)
        clusters.unpersist(false)
        out
      },
      Some(s"""WITH RECURSIVE
              sets AS (SELECT doc_id, $duckShingles AS sh FROM documents),
              keyed AS (SELECT doc_id, len(sh) AS sz,
                          substr(md5(list_sort(sh)[1]), 1, 8) AS block, sh FROM sets),
              ex0 AS (SELECT doc_id, sz, block, unnest(sh) AS g FROM keyed),
              ex AS (SELECT doc_id, sz, block, g FROM
                       (SELECT *, count(*) OVER (PARTITION BY g) AS df FROM ex0)
                     WHERE df <= 1000),
              inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.sz AS sz_a, y.sz AS sz_b, count(*) AS inter
                        FROM ex x JOIN ex y
                          ON x.g = y.g AND x.block = y.block AND x.doc_id < y.doc_id
                        GROUP BY 1, 2, 3, 4),
              pairs AS (SELECT id_a, id_b FROM inter
                        WHERE inter / (sz_a + sz_b - inter) >= 0.5),
              edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach(node, lab) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
              cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
              member AS (SELECT d.doc_id,
                           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                           length(d.text) AS len
                         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
              canon AS (SELECT cluster_id, doc_id AS keep_id FROM
                          (SELECT cluster_id, doc_id,
                             row_number() OVER (PARTITION BY cluster_id
                               ORDER BY len DESC, doc_id ASC) AS rk
                           FROM member) WHERE rk = 1),
              lab AS (SELECT m.doc_id, m.cluster_id, m.len,
                        m.doc_id = c.keep_id AS is_canonical,
                        CASE WHEN substr(md5('split#' ||
                               CAST(m.cluster_id AS VARCHAR)), 1, 8)
                               < '${graft.ops.Curation.hexThreshold(0.8)}' THEN 'train'
                             WHEN substr(md5('split#' ||
                               CAST(m.cluster_id AS VARCHAR)), 1, 8)
                               < '${graft.ops.Curation.hexThreshold(0.9)}' THEN 'valid'
                             ELSE 'test' END AS split
                      FROM member m JOIN canon c USING (cluster_id)),
              per_cluster AS (SELECT cluster_id, count(*) AS csz,
                                sum(CASE WHEN NOT is_canonical THEN len
                                    ELSE 0 END) AS dropped
                              FROM lab GROUP BY 1),
              tot AS (SELECT
                  CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS dup_clusters,
                  CAST(sum(dropped) AS BIGINT) AS reclaimable_chars
                FROM per_cluster)
             SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_canonical,
               CAST(sum(len) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN NOT is_canonical THEN len ELSE 0 END)
                 AS BIGINT) AS chars_dropped,
               tot.dup_clusters, tot.reclaimable_chars
             FROM lab, tot
             GROUP BY split, tot.dup_clusters, tot.reclaimable_chars
             ORDER BY split""")),

    // ---------------- similarity search ----------------

    NamedQuery("sim01_cosine_topk",
      (s, d) => Similarity.bruteForceTopK(
          embs(s, d), embs(s, d).filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rk"),
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                         FROM embeddings WHERE vec_id < 10),
             scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                 round((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(e.embedding) AS b))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(q_emb) AS b)))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b))), 4) AS cos_sim
               FROM embeddings e JOIN q ON e.vec_id != q.query_id),
             ranked AS (SELECT query_id, neighbor_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
               FROM scored)
             SELECT query_id, rk, neighbor_id, cos_sim FROM ranked
             WHERE rk <= 5 ORDER BY query_id, rk""")),

    // bt01: margin-based pair mining — best corpus match per query by
    // the ratio margin (cos over the mean of both sides' avg top-4
    // cosines), queries = vec_id%5==0 vs the rest. Cos rounds at 6 and
    // margin at 4 before the argmax so the pick replays across
    // engines; oracle mirrors the windows verbatim.
    NamedQuery("bt01_margin_mining",
      (s, d) => {
        val all = embs(s, d)
        Similarity.marginMine(all.filter(col("vec_id") % 5 === 0),
            all.filter(col("vec_id") % 5 =!= 0), k = 4, threshold = 1.0)
          .orderBy("query_id")
      },
      Some("""WITH q AS (SELECT vec_id AS id_a, embedding AS ea
                         FROM embeddings WHERE vec_id % 5 = 0),
              c AS (SELECT vec_id AS id_b, embedding AS eb
                    FROM embeddings WHERE vec_id % 5 <> 0),
              s AS (SELECT id_a, id_b,
                  round((SELECT sum(x * y) FROM (SELECT unnest(ea) AS x, unnest(eb) AS y))
                    / sqrt((SELECT sum(x * y) FROM (SELECT unnest(ea) AS x, unnest(ea) AS y)))
                    / sqrt((SELECT sum(x * y) FROM (SELECT unnest(eb) AS x, unnest(eb) AS y))), 6) AS cos
                FROM q, c),
              ra AS (SELECT id_a, avg(cos) AS ma FROM (
                       SELECT *, row_number() OVER (PARTITION BY id_a
                         ORDER BY cos DESC, id_b ASC) AS r FROM s)
                     WHERE r <= 4 GROUP BY 1),
              rb AS (SELECT id_b, avg(cos) AS mb FROM (
                       SELECT *, row_number() OVER (PARTITION BY id_b
                         ORDER BY cos DESC, id_a ASC) AS r FROM s)
                     WHERE r <= 4 GROUP BY 1),
              m AS (SELECT s.id_a, s.id_b, s.cos,
                      round(s.cos / ((ma + mb) / 2), 4) AS margin
                    FROM s JOIN ra USING (id_a) JOIN rb USING (id_b)),
              best AS (SELECT *, row_number() OVER (PARTITION BY id_a
                         ORDER BY margin DESC, id_b ASC) AS rk FROM m)
             SELECT id_a AS query_id, id_b AS pair_id, cos AS cos_sim,
               margin
             FROM best WHERE rk = 1 AND margin >= 1.0
             ORDER BY query_id""")),

    // bt02: margin mining over the ANN (LSH-candidate) path — the
    // full-corpus-scale form, forced here via annThreshold = 0. Both
    // sides bucket under the sim02 hyperplanes; candidates come only
    // from shared buckets, margins replay over the candidate set.
    // Oracle reuses bucketsCte and bt01's margin CTEs verbatim.
    NamedQuery("bt02_margin_mining_ann",
      (s, d) => {
        val all = embs(s, d)
        Similarity.marginMine(all.filter(col("vec_id") % 5 === 0),
            all.filter(col("vec_id") % 5 =!= 0), k = 4, threshold = 1.0,
            annThreshold = 0, annTables = 2, nBits = 4)
          .orderBy("query_id")
      },
      Some(s"""${bucketsCte(dim = 64, nBits = 4, tables = 2)},
              s AS (SELECT DISTINCT q.vec_id AS id_a, n.vec_id AS id_b,
                  round((SELECT sum(x * y) FROM (SELECT unnest(q.embedding) AS x, unnest(n.embedding) AS y))
                    / sqrt((SELECT sum(x * y) FROM (SELECT unnest(q.embedding) AS x, unnest(q.embedding) AS y)))
                    / sqrt((SELECT sum(x * y) FROM (SELECT unnest(n.embedding) AS x, unnest(n.embedding) AS y))), 6) AS cos
                FROM withemb q JOIN withemb n
                  ON q.t = n.t AND q.bucket = n.bucket
                 AND q.vec_id % 5 = 0 AND n.vec_id % 5 <> 0
                 AND q.bc <= 10000),
              ra AS (SELECT id_a, avg(cos) AS ma FROM (
                       SELECT *, row_number() OVER (PARTITION BY id_a
                         ORDER BY cos DESC, id_b ASC) AS r FROM s)
                     WHERE r <= 4 GROUP BY 1),
              rb AS (SELECT id_b, avg(cos) AS mb FROM (
                       SELECT *, row_number() OVER (PARTITION BY id_b
                         ORDER BY cos DESC, id_a ASC) AS r FROM s)
                     WHERE r <= 4 GROUP BY 1),
              m AS (SELECT s.id_a, s.id_b, s.cos,
                      round(s.cos / ((ma + mb) / 2), 4) AS margin
                    FROM s JOIN ra USING (id_a) JOIN rb USING (id_b)),
              best AS (SELECT *, row_number() OVER (PARTITION BY id_a
                         ORDER BY margin DESC, id_b ASC) AS rk FROM m)
             SELECT id_a AS query_id, id_b AS pair_id, cos AS cos_sim,
               margin
             FROM best WHERE rk = 1 AND margin >= 1.0
             ORDER BY query_id""")),

    // sim07: metadata-filtered exact search — the predicate lands on
    // the corpus scan BEFORE scoring (pre-filter semantics; a
    // post-filtered top-k silently under-returns), oracle adds the
    // WHERE to sim01's replay
    NamedQuery("sim07_filtered_topk",
      (s, d) => Similarity.filteredTopK(embs(s, d),
          col("label") % 2 === 0,
          embs(s, d).filter(col("vec_id") < 6), k = 5)
        .orderBy("query_id", "rk"),
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                         FROM embeddings WHERE vec_id < 6),
             scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                 round((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(e.embedding) AS b))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(q_emb) AS b)))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b))), 4) AS cos_sim
               FROM embeddings e JOIN q ON e.vec_id != q.query_id
               WHERE e.label % 2 = 0),
             ranked AS (SELECT query_id, neighbor_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
               FROM scored)
             SELECT query_id, rk, neighbor_id, cos_sim FROM ranked
             WHERE rk <= 5 ORDER BY query_id, rk""")),

    // LSH ANN: bucket-local candidates from 2 hash tables (corpus-scaled
    // bit count), exact re-rank on the deduped candidate set; oracle
    // reproduces the md5-derived hyperplanes + ranking
    NamedQuery("sim02_lsh_topk",
      (s, d) => Similarity.lshTopK(embs(s, d), dim = 64, k = 3)
        .orderBy("query_id", "rk"),
      Some(lshTopKOracle(dim = 64, k = 3, nBits = 4, tables = 2))),

    // IVF-style ANN (probe=1 flat IVF): nearest-centroid cell
    // assignment, in-cell exact rerank; oracle mirrors the assignment
    // argmin (raw-sim order, centroid-id tie-break) and rerank
    NamedQuery("sim03_ivf_topk",
      (s, d) => Similarity.ivfTopK(embs(s, d), dim = 64, k = 3, numCells = 16)
        .orderBy("query_id", "rk"),
      Some(ivfTopKOracle(k = 3, numCells = 16))),

    // IVF with deterministic k-means centroids (Lloyd over a rank-
    // ordered sample, fixed iterations, no RNG): driver-gated q15-
    // style — the oracle pins the query count and the recall BOUNDS
    // (vs exact brute force), including that k-means centroids beat
    // the first-N quantizer. Every quantity is deterministic, so the
    // bounds are tight: measured 0.262 vs 0.223 at sf0.01.
    NamedQuery("sim04_ivf_kmeans_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = embs(s, d)
        // persisted: the n² brute-force ground truth feeds BOTH recall
        // evaluations and the query count — three full crossJoin
        // executions otherwise
        val bf = Similarity.bruteForceTopK(e, e, k = 3)
          .select(col("query_id"), col("neighbor_id")).persist()
        def recallOf(iters: Int): Double = bf
          .join(Similarity.ivfTopK(e, dim = 64, k = 3, numCells = 16, kmeansIters = iters)
            .select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
            Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
          .head.getDouble(0)
        val (km, firstN) = (recallOf(2), recallOf(0))
        val nq = bf.select(countDistinct(col("query_id"))).head.getLong(0)
        bf.unpersist(false)
        import s.implicits._
        Seq((nq, km >= 0.25, km > firstN))
          .toDF("n_queries", "kmeans_recall_ok", "kmeans_beats_firstn")
      },
      Some("""SELECT CAST(500 AS BIGINT) AS n_queries, true AS kmeans_recall_ok,
             true AS kmeans_beats_firstn""")),

    // SemDeDup semantic dedup: nearest-centroid cells (sim03's
    // deterministic first-N quantizer), in-cell ε-dominance drop —
    // a vector loses to any ε-similar cell-mate closer to the shared
    // centroid. Oracle replays cells, ranked dominance, and the
    // rounded ε-compare.
    NamedQuery("sd01_sem_dedup",
      (s, d) => Similarity.semDedup(embs(s, d), dim = 64, eps = 0.3,
          numCells = 16)
        .orderBy("vec_id"),
      Some(semDedupOracle(eps = 0.3, numCells = 16, maxBucket = 10000))),

    // em06: Matryoshka prefix truncation + renorm — 64→16 dims, gate
    // explodes to scalars like em04/em05
    NamedQuery("em06_matryoshka",
      (s, d) => Embeddings.matryoshka(embs(s, d), k = 16)
        .select(col("vec_id"), posexplode(col("mrl_embedding")).as(Seq("d0", "v0")))
        .select(col("vec_id"), col("d0").cast("int").as("d"),
          graft.ops.Portability.zround(col("v0"), 4).as("v"))
        .orderBy("vec_id", "d"),
      Some("""WITH pre AS (SELECT vec_id, embedding[1:16] AS p FROM embeddings),
             n AS (SELECT vec_id, p,
                 sqrt((SELECT sum(CAST(a AS DOUBLE) * a) FROM unnest(p) t(a))) AS nrm
               FROM pre),
             ex AS (SELECT vec_id, nrm,
                 CAST(generate_subscripts(p, 1) AS INT) - 1 AS d,
                 CAST(unnest(p) AS DOUBLE) AS x
               FROM n)
             SELECT vec_id, d,
               round(CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END, 4) + 0.0 AS v
             FROM ex ORDER BY vec_id, d""")),

    // em07: ZCA whitening — hll01-style verdict gate: the whitened
    // corpus must have identity covariance (off-diag ≈ 0, diag ≈ 1)
    // and zero mean, checked to 1e-4 (λmin ≈ 6.5e-3 » ε = 1e-9, so
    // diag deviates by ε/λ ≈ 1.5e-7; slack covers float32 inputs).
    // An eigendecomposition is not SQL-expressible, so the oracle
    // pins the invariants the transform must produce instead.
    NamedQuery("em07_zca_whiten",
      (s, d) => {
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val wdf = Embeddings.zcaWhiten(e, dim = 64, eps = 1e-9)
        val mom = wdf.select(col("zca_embedding").as("__e"))
          .select(posexplode(col("__e")).as(Seq("i", "xi")), col("__e"))
          .select(col("i"), col("xi"),
            posexplode(col("__e")).as(Seq("j", "xj")))
          .filter(col("j") >= col("i"))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("xi") * col("xj")).as("sxx"),
            count(lit(1)).as("n"), sum(col("xi")).as("sx"))
          .collect()
        val n = mom.head.getLong(3)
        var offMax = 0.0; var diagDev = 0.0; var meanMax = 0.0
        mom.foreach { r =>
          // mean is ~0 (checked below), so the raw second moment /n is
          // the covariance up to < 1e-8 — and the stricter check
          if (r.getInt(0) == r.getInt(1))
            diagDev = math.max(diagDev, math.abs(r.getDouble(2) / n - 1.0))
          else offMax = math.max(offMax, math.abs(r.getDouble(2) / n))
          meanMax = math.max(meanMax, math.abs(r.getDouble(4) / n))
        }
        import s.implicits._
        Seq((n, 64, offMax < 1e-4, diagDev < 1e-4, meanMax < 1e-4))
          .toDF("n", "dim", "cov_offdiag_ok", "cov_diag_ok", "mean_zero_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n, 64 AS dim,
             true AS cov_offdiag_ok, true AS cov_diag_ok,
             true AS mean_zero_ok FROM embeddings""")),

    // em08: sign-packed binary embeddings + Hamming top-5 for four
    // queries — the oracle replays the 32-bit big-endian packing as a
    // power-of-two sum (exact ≤ 2^31) and ranks by xor/bit_count with
    // the identical (hamming, neighbor_id) total order
    NamedQuery("em08_hamming_topk",
      (s, d) => Embeddings.hammingTopK(
          embs(s, d).select(col("vec_id"), col("embedding")),
          queryIds = Seq(1L, 7L, 13L, 19L), dim = 64, k = 5)
        .orderBy("query_id", "neighbor_id"),
      Some("""WITH ex AS (SELECT vec_id,
                    CAST(generate_subscripts(embedding, 1) AS INT) AS i,
                    CAST(unnest(embedding) AS DOUBLE) AS x
                  FROM embeddings),
              p AS (SELECT vec_id,
                    CAST(sum(CASE WHEN i <= 32 AND x > 0
                      THEN CAST(power(2, 32 - i) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig0,
                    CAST(sum(CASE WHEN i > 32 AND x > 0
                      THEN CAST(power(2, 64 - i) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig1
                  FROM ex GROUP BY vec_id),
              pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    bit_count(xor(c.sig0, q.sig0)) +
                    bit_count(xor(c.sig1, q.sig1)) AS hamming
                  FROM p c JOIN p q ON q.vec_id IN (1, 7, 13, 19)
                    AND c.vec_id <> q.vec_id),
              rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY hamming, neighbor_id) AS r FROM pairs)
             SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming
             FROM rk WHERE r <= 5 ORDER BY query_id, neighbor_id""")),

    // pr01: deterministic PageRank (10 fixed rounds, d = 0.85) over
    // the symmetrized customer↔supplier trade graph; the oracle
    // UNROLLS the ten iterations as chained CTEs — every round is a
    // plain aggregate, so no recursive-CTE aggregation limits apply
    NamedQuery("pr01_pagerank",
      (s, d) => {
        val ol = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("c"),
            concat(lit("s"), col("l_suppkey")).as("s"))
          .distinct()
        val edges = ol.select(col("c").as("src"), col("s").as("dst"))
          .union(ol.select(col("s").as("src"), col("c").as("dst")))
        graft.ops.Graph.pageRank(edges, iters = 10, damping = 0.85)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy("node")
      },
      Some(pageRankOracle(iters = 10, damping = "0.85"))),

    // tc01: per-node triangle counts over the co-supplier projection
    // (suppliers sharing a sampled part are linked) — the ordered
    // wedge-join; the oracle replays projection, wedges, and closure
    NamedQuery("tc01_triangles",
      (s, d) => {
        val ps = Tables.load(s, d, "lineitem")
          .filter(col("l_partkey") % 97 === 0 && col("l_suppkey") % 3 === 0)
          .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
          .distinct()
        val e = ps.as("p1").join(ps.as("p2"),
            col("p1.part") === col("p2.part") &&
              col("p1.supp") < col("p2.supp"))
          .select(col("p1.supp").as("src"), col("p2.supp").as("dst"))
        graft.ops.Graph.triangleCount(e).orderBy("node")
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
                    FROM lineitem
                    WHERE l_partkey % 97 = 0 AND l_suppkey % 3 = 0),
              e AS (SELECT DISTINCT p1.supp AS a, p2.supp AS b
                    FROM ps p1 JOIN ps p2
                    ON p1.part = p2.part AND p1.supp < p2.supp),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.b
                                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
              corners AS (SELECT x AS node FROM tri
                          UNION ALL SELECT y FROM tri
                          UNION ALL SELECT z FROM tri)
             SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
             FROM corners GROUP BY node ORDER BY node""")),

    // IVF-PQ ANN end-to-end (k-means cells + in-cell asymmetric PQ
    // distance on decoded codes): q15-style deterministic recall gate
    // vs exact L2 top-10 — every stage (sample draw, Lloyd iterations,
    // codebooks, ADC ranking) is RNG-free, so the bound is tight
    NamedQuery("sim05_ivfpq_recall",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        // self-norms once per ROW before the n² crossJoin (same float
        // value and association as computing them per pair — the dot
        // is the same sequential sum, the l2 keeps (q − 2d) + n order —
        // but 2/3 of the per-pair flops disappear)
        val base = e.withColumn("nrm",
          Similarity.dot(col("embedding"), col("embedding")))
        val n = base.crossJoin(
          base.select(col("vec_id").as("nid"), col("embedding").as("nemb"),
            col("nrm").as("nnrm")))
          .filter(col("vec_id") =!= col("nid"))
        val l2 = col("nrm") -
          lit(2.0) * Similarity.dot(col("embedding"), col("nemb")) +
          col("nnrm")
        val exact = n.select(col("vec_id").as("query_id"),
            col("nid").as("neighbor_id"), l2.as("dist"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("dist").asc, col("neighbor_id").asc)))
          .filter(col("rk") <= 10).select("query_id", "neighbor_id")
        // persisted: consumed by BOTH the recall join and the query
        // count — unpersisted, the whole IVF-PQ pipeline ran twice
        val approx = Similarity.ivfPqTopK(e, dim = 64, k = 10, numCells = 16,
            m = 16, codebookK = 16, kmeansIters = 2)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
          .persist()
        val recall = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
          .head.getDouble(0)
        val nq = approx.select(countDistinct(col("query_id"))).head.getLong(0)
        approx.unpersist(false)
        import s.implicits._
        // measured 0.2066 at sf0.01 (probe-1 cells cap the ceiling —
        // sim04's exact in-cell recall is ~0.26; chance is ~0.02);
        // 0.18 is the regression bound
        Seq((nq, recall >= 0.18)).toDF("n_queries", "recall_ok")
      },
      Some("""SELECT CAST(500 AS BIGINT) AS n_queries, true AS recall_ok""")),

    // sd02: SEMANTIC dup clusters — dd05's embedding-cosine pairs
    // resolved into components (pair relations aren't transitive);
    // the oracle reuses dd05's bucket CTEs + dd06's recursive
    // min-label closure
    NamedQuery("sd02_semantic_clusters",
      (s, d) => Dedup.connectedComponents(
          Similarity.cosineDups(embs(s, d), dim = 64, threshold = 0.3)
            .select(col("id_a"), col("id_b")))
        .orderBy("node"),
      Some(semanticClustersOracle(dim = 64, threshold = 0.3,
        nBits = 4, tables = 2))),

    // pp09: IN-CONTEXT packing (Shi et al. 2024, "In-Context
    // Pretraining") — semantically related documents pack into the
    // SAME training sequence instead of random neighbors: sd02's
    // cosine-LSH connected components define the clusters (singletons
    // keep their own id), then pk01's running-offset packer runs
    // PER CLUSTER (shard = cluster), so the window sort is bounded by
    // the largest cluster, never the corpus. Oracle = the sd02 CC
    // chain + pk01's pack replay, composed. nBits is PINNED to the
    // oracle's 4 (sd02's own gate lets bitsFor scale with the corpus,
    // so ITS oracle is sf0.01-exact; pinning here keeps pp09's replay
    // exact at every sf).
    NamedQuery("pp09_incontext_packing",
      (s, d) => {
        val clusters = Dedup.connectedComponents(
          Similarity.cosineDups(embs(s, d), dim = 64, threshold = 0.3,
              nBits = 4)
            .select(col("id_a"), col("id_b")))
        val dd = docs(s, d)
          .join(clusters, col("doc_id") === col("node"), "left")
        graft.ops.Curation.packSequences(dd,
            coalesce(col("cluster_id"), col("doc_id")), window = 256)
          .withColumnRenamed("shard", "cluster")
          .orderBy("doc_id")
      },
      Some(s"""${semanticClustersCte(dim = 64, threshold = 0.3,
            nBits = 4, tables = 2)},
          td AS (SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS cluster,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents LEFT JOIN cc ON cc.node = doc_id),
          cp AS (SELECT doc_id, cluster, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY cluster ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS start_tok
                FROM td)
         SELECT doc_id, cluster, n_tokens,
           CAST(start_tok // 256 AS BIGINT) AS pack_id,
           CAST(start_tok % 256 AS BIGINT) AS offset_in_pack
         FROM cp ORDER BY doc_id""")),

    // kNN label-agreement (mislabeled-sample detection) for the first
    // 100 vectors: fraction of the 5 nearest cosine neighbors sharing
    // the query's label; ranking replays sim01's rounded-sim ordering.
    NamedQuery("ml01_label_noise",
      (s, d) => {
        val e = embs(s, d)
        Similarity.labelAgreement(e, k = 5,
            queries = Some(e.filter(col("vec_id") < 100)))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
                         FROM embeddings WHERE vec_id < 100),
             scored AS (SELECT query_id, q_label, e.vec_id AS neighbor_id, e.label AS n_label,
                 round((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(e.embedding) AS b))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q_emb) AS a, unnest(q_emb) AS b)))
                       / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b))), 4) AS cos_sim
               FROM embeddings e JOIN q ON e.vec_id != q.query_id),
             ranked AS (SELECT query_id, q_label, n_label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
               FROM scored)
             SELECT query_id AS vec_id, q_label AS label,
               round(sum(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS agreement
             FROM ranked WHERE rk <= 5
             GROUP BY 1, 2 ORDER BY vec_id""")),

    // the 100 TB label-noise path, oracle-gated end-to-end: full-corpus
    // labelAgreement forced onto LSH candidates (annThreshold = 0); the
    // oracle replays the hyperplane buckets (sim02's CTEs), the top-k
    // rerank, and the agreement aggregate in DuckDB
    NamedQuery("ml02_label_noise_ann",
      (s, d) => Similarity.labelAgreement(embs(s, d), k = 5,
          annThreshold = 0, annTables = 2)
        .orderBy("vec_id"),
      Some(annLabelAgreementOracle(dim = 64, k = 5, nBits = 4, tables = 2))),

    // ml04: the kNN CLASSIFIER's 100 TB path — knnClassify forced onto
    // the LSH candidate lists (annThreshold = 0, ml02's switch); the
    // oracle replays the hyperplane buckets, the rounded-cosine top-k
    // rerank, and the majority vote with the (votes desc, label asc)
    // tie-break in DuckDB.
    NamedQuery("ml04_knn_classify_ann",
      (s, d) => {
        val e = embs(s, d)
        Similarity.knnClassify(e, e.filter(col("vec_id") < 100), k = 5,
            annThreshold = 0, annTables = 2)
          .orderBy("vec_id")
      },
      Some(annKnnClassifyOracle(dim = 64, k = 5, nBits = 4, tables = 2))),

    // end-to-end cleaning pipeline: exact-dedup survivors -> quality
    // >= 0.5 -> language = en -> exact integer aggregates (sums of
    // ints / of 1e4-scaled rounded scores, so no float-order drift)
    NamedQuery("pp01_clean_corpus",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val ds = docs(s, d)
        val keep = Dedup.exact(ds).select(col("keep_id").as("doc_id"))
        // quality → langid → tokenStats CHAINED via their keep
        // pass-throughs (r20, guide §2.4): the three ops are pure
        // per-doc projections, so the chain collapses into ONE corpus
        // scan — the previous shape scanned ds three times and paid
        // three corpus-sized doc_id join exchanges to glue the
        // columns back together. Same expressions, same values.
        val scored = TextAnalysis.tokenStats(
          TextAnalysis.langid(
            TextAnalysis.quality(ds, keep = Seq(col("text"))),
            keep = Seq(col("text"), col("quality_score"))),
          keep = Seq(col("quality_score"), col("predicted")))
          .select(col("doc_id"), col("quality_score"), col("predicted"),
            col("n_tokens"))
        keep.join(scored, "doc_id")
          .filter(col("predicted") === "en" && col("quality_score") >= 0.5)
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).cast("long").as("sum_tokens"),
               sum(round(col("quality_score") * 10000, 0).cast("long")).as("quality_milli"))
      },
      Some("""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
                            GROUP BY md5(lower(trim(text)))),
             q AS (SELECT doc_id,
               round(distinct_ratio * 0.5 + length_ok * 0.3 +
                     least(stop_cnt / n_tok * 5, 1.0) * 0.2, 4) AS quality_score
               FROM (SELECT doc_id,
                 CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS n_tok,
                 CAST(len(list_filter(string_split_regex(text, '\s+'),
                   t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
                 CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE)
                   / len(string_split_regex(text, '\s+')) AS distinct_ratio,
                 CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END AS length_ok
                 FROM documents)),
             lang AS (SELECT doc_id,
               CASE WHEN cjk_score > 0.05 THEN 'zh'
                    WHEN de_score >= en_score AND de_score >= rom_score THEN 'de'
                    WHEN rom_score > en_score THEN 'rom'
                    ELSE 'en' END AS predicted
               FROM (SELECT doc_id,
                 (CAST(length(t) - length(replace(t, 'th', '')) AS DOUBLE) / 2
                  + CAST(length(t) - length(replace(t, ' the ', '')) AS DOUBLE) / 5 * 2
                  + CAST(length(t) - length(replace(t, 'ing', '')) AS DOUBLE) / 3) / length(t) AS en_score,
                 (CAST(length(t) - length(replace(t, ' de ', '')) AS DOUBLE) / 4 * 2
                  + CAST(length(t) - length(replace(t, ' la ', '')) AS DOUBLE) / 4 * 2
                  + CAST(length(t) - length(replace(t, 'ción', '')) AS DOUBLE) / 4 * 3
                  + CAST(length(t) - length(replace(t, ' le ', '')) AS DOUBLE) / 4 * 2) / length(t) AS rom_score,
                 (CAST(length(t) - length(replace(t, 'sch', '')) AS DOUBLE) / 3 * 2
                  + CAST(length(t) - length(replace(t, ' der ', '')) AS DOUBLE) / 5 * 2
                  + CAST(length(t) - length(replace(t, ' und ', '')) AS DOUBLE) / 5 * 3) / length(t) AS de_score,
                 CAST(length(t) - length(regexp_replace(t, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
                   / length(t) AS cjk_score
                 FROM (SELECT doc_id, lower(text) AS t FROM documents))),
             tok AS (SELECT doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens FROM documents)
             SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(CAST(round(quality_score * 10000, 0) AS BIGINT)) AS BIGINT) AS quality_milli
             FROM keep JOIN q USING (doc_id) JOIN lang USING (doc_id) JOIN tok USING (doc_id)
             WHERE predicted = 'en' AND quality_score >= 0.5""")),

    // ---------------- multimodal plumbing ----------------

    NamedQuery("mm01_binary_meta",
      (s, d) => graft.ops.Multimodal.binaryMeta(
          docs(s, d).select(col("doc_id"), col("text").cast("binary").as("payload")))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             md5(text) AS content_md5,
             lower(substr(to_hex(encode(text)), 1, 16)) AS magic_prefix
             FROM documents ORDER BY doc_id""")),

    // batched decode plumbing: row preservation, batch-size invariance,
    // dup-payload checksum equality (the decode itself is the disclosed
    // deterministic stub — structure is what this gate pins)
    NamedQuery("mm02_decode_batched",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val bin = docs(s, d).select(col("doc_id"), col("text").cast("binary").as("payload"))
        val small = graft.ops.Multimodal.decodeBatched(bin, batchSize = 2)
        val large = graft.ops.Multimodal.decodeBatched(bin, batchSize = 512)
        val n = bin.count()
        val sameRows = small.count() == n && large.count() == n
        val batchInvariant = small.exceptAll(large).isEmpty && large.exceptAll(small).isEmpty
        // identical payloads (same content_md5) must decode to the
        // same checksum regardless of which batch/partition they hit
        val dupAligned = small
          .join(graft.ops.Multimodal.binaryMeta(bin), "doc_id")
          .groupBy(col("content_md5"))
          .agg(org.apache.spark.sql.functions.countDistinct(col("checksum")).as("k"))
          .filter(col("k") > 1).isEmpty
        import s.implicits._
        Seq((sameRows, batchInvariant, dupAligned))
          .toDF("same_rows", "batch_invariant", "dup_checksums_align")
      },
      Some("""SELECT * FROM (VALUES (true, true, true))
             t(same_rows, batch_invariant, dup_checksums_align)""")),

    // REAL image decode: binary netpbm needs no libraries, so the
    // decoder is genuine (header parse + per-channel means), not the
    // stub. Fixtures are solid-color / known-pixel images whose means
    // are exact by construction; a JPEG-magic payload must be skipped.
    // mm06: perceptual dHash — brightness-invariant by construction
    // (uniform shifts preserve every left>right comparison), scale-
    // robust (2x upscale lands within a few grid-aliasing bits),
    // discriminative across patterns; hll01-style verdict gate since
    // a pixel decode is not SQL-expressible
    NamedQuery("mm06_image_dhash",
      (s, _) => {
        def p6(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
          val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
          head ++ (0 until h).flatMap(y => (0 until w).flatMap { x =>
            val v = f(x, y); Seq(v.toByte, v.toByte, v.toByte)
          })
        }
        // low-frequency pattern (period ~ the image width): block
        // averages are stable under resampling, which is what dHash
        // relies on for real photos — a per-pixel noise pattern would
        // alias at the 9x8 grid and defeat any perceptual hash
        def pat(x: Int, y: Int) = ((x + 2 * y) % 32) * 6
        import s.implicits._
        val payloads = Seq(
          (1L, p6(32, 32, pat)),                         // base
          (2L, p6(32, 32, (x, y) => pat(x, y) + 20)),    // brightness shift
          (3L, p6(64, 64, (x, y) => pat(x / 2, y / 2))), // 2x upscale
          (4L, p6(32, 32, (x, y) => ((31 - x + y) % 32) * 6)), // mirrored ramp
          (5L, Array[Byte](0xFF.toByte, 0xD8.toByte)))   // JPEG magic: dropped
        val hs = graft.ops.Multimodal.dhashImages(payloads.toDF("doc_id", "payload"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
        Seq((hs.size.toLong, ham(hs(1L), hs(2L)) == 0,
          ham(hs(1L), hs(3L)) <= 8, ham(hs(1L), hs(4L)) >= 16))
          .toDF("n_hashed", "bright_same", "scaled_close", "diff_far")
      },
      Some("""SELECT CAST(4 AS BIGINT) AS n_hashed, true AS bright_same,
             true AS scaled_close, true AS diff_far""")),

    // mm12: IMAGE NEAR-DUP end-to-end — the multimodal analog of sd02,
    // composing the pieces mm06/em08/dd06 provide separately: decode
    // (real netpbm parser) → perceptual dhash → Hamming-radius pairs
    // (slice-blocked, exact ≤ 15 at 16 slices — no all-pairs) → dup
    // clusters (star-contraction CC) → canonical pick (largest payload
    // wins, the highest-resolution copy). Planted set: three renditions
    // of one image (exact, +20 brightness, 2× upscale — dhash-invariant
    // transforms), two of another, one unrelated image (hamming ≥ 30
    // from everything), one undecodable payload (JPEG magic only) that
    // must survive as its own singleton, never crash the pipeline.
    // DuckDB cannot decode images, so the oracle pins the exact cluster
    // assignment the deterministic fixtures force.
    NamedQuery("mm12_image_neardup",
      (s, _) => {
        def p6(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
          val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
          head ++ (0 until h).flatMap(y => (0 until w).flatMap { x =>
            val v = f(x, y); Seq(v.toByte, v.toByte, v.toByte)
          })
        }
        def patA(x: Int, y: Int) = ((x + 2 * y) % 32) * 6
        def patB(x: Int, y: Int) = ((31 - x + y) % 32) * 6
        def patC(x: Int, y: Int) = ((2 * x + 3 * y) % 32) * 6
        import s.implicits._
        val imgs = Seq(
          (1L, p6(32, 32, patA)),
          (2L, p6(32, 32, (x, y) => patA(x, y) + 20)),
          (3L, p6(64, 64, (x, y) => patA(x / 2, y / 2))),
          (10L, p6(32, 32, patB)),
          (11L, p6(32, 32, (x, y) => patB(x, y) + 15)),
          (20L, p6(32, 32, patC)),
          (99L, Array[Byte](0xFF.toByte, 0xD8.toByte))
        ).toDF("doc_id", "payload")
        val pairs = Dedup.hammingPairs64(
          graft.ops.Multimodal.dhashImages(imgs), col("dhash"),
          maxHamming = 8, numSlices = 16)
        Dedup.dupClusters(imgs, pairs, text = col("payload"))
          .orderBy("doc_id")
      },
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), false),
             (2, 1, 3, false),
             (3, 1, 3, true),
             (10, 10, 10, true),
             (11, 10, 10, false),
             (20, 20, 20, true),
             (99, 99, 99, true))
             t(doc_id, cluster_id, keep_id, is_canonical)
             ORDER BY doc_id""")),

    // dd18: the sliceArity dial of hammingPairs64 UNDER LOAD — the
    // billion-signature blocking path (multi-index hashing) exercised
    // where arity 1 actually breaks. 25 planted clusters × 24 members
    // (deterministic java.util.Random(42) signatures, members within
    // hamming ≤ 6 of their seed) make arity 1's 256-bucket universe
    // overflow: at maxBucket=60 it drops 48 hot buckets (slice
    // redundancy still saves recall), and at maxBucket=40 it LOSES 29
    // real pairs — silent-recall-loss territory. Arity 2 widens the
    // universe to C(16,2)×2^8 ≈ 31k buckets: ZERO drops at the same
    // maxBucket=60 and pair-for-pair equality with the brute-force
    // O(n²) reference. Every number is deterministic, so the oracle
    // pins the whole story.
    NamedQuery("dd18_hamming_arity",
      (s, _) => {
        import s.implicits._
        val rnd = new java.util.Random(42)
        val sigs = (0 until 25).flatMap { _ =>
          val seed = rnd.nextLong()
          (0 until 24).map { m =>
            val nflips = m % 7
            var sg = seed
            val pos = scala.collection.mutable.Set[Int]()
            while (pos.size < nflips) pos += rnd.nextInt(64)
            pos.foreach(p => sg ^= (1L << p))
            sg
          }
        }.zipWithIndex.map { case (sg, i) => (i.toLong, sg) }
        val df = sigs.toDF("doc_id", "sig")
        val brute = df.as("a").join(df.as("b"),
            col("a.doc_id") < col("b.doc_id") &&
              bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 6)
          .count()
        def run(arity: Int, maxBucket: Int): (Long, Long) = {
          val pairs = Dedup.hammingPairs64(df, col("sig"), maxHamming = 6,
            maxBucket = maxBucket, numSlices = 16, sliceArity = arity).count()
          val drops = graft.ops.OpsMetrics.lastDrops("graft.hamming.drops")
            .map(_._1).getOrElse(-1L)
          (pairs, drops)
        }
        val (p1a, d1a) = run(1, 60)
        val (p1b, d1b) = run(1, 40)
        val (p2, d2) = run(2, 60)
        Seq(
          ("a_n_docs", sigs.size.toLong),
          ("b_brute_pairs", brute),
          ("c_arity1_mb60_pairs", p1a),
          ("d_arity1_mb60_dropped_buckets", d1a),
          ("e_arity1_mb40_pairs", p1b),
          ("f_arity1_mb40_dropped_buckets", d1b),
          ("g_arity2_mb60_pairs", p2),
          ("h_arity2_mb60_dropped_buckets", d2),
          ("i_arity2_equals_brute", if (p2 == brute && d2 == 0L) 1L else 0L))
          .toDF("check", "value")
      },
      Some("""SELECT * FROM (VALUES
             ('a_n_docs', CAST(600 AS BIGINT)),
             ('b_brute_pairs', 4673),
             ('c_arity1_mb60_pairs', 4673),
             ('d_arity1_mb60_dropped_buckets', 48),
             ('e_arity1_mb40_pairs', 4644),
             ('f_arity1_mb40_dropped_buckets', 114),
             ('g_arity2_mb60_pairs', 4673),
             ('h_arity2_mb60_dropped_buckets', 0),
             ('i_arity2_equals_brute', 1))
             t("check", value)
             ORDER BY "check" """)),

    NamedQuery("mm03_ppm_decode",
      (s, _) => {
        def p6(w: Int, h: Int, px: Seq[(Int, Int, Int)]): Array[Byte] = {
          val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
          head ++ px.flatMap { case (r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }
        }
        def p5(w: Int, h: Int, v: Int): Array[Byte] =
          s"P5\n# comment\n$w $h\n255\n".getBytes("US-ASCII") ++
            Array.fill(w * h)(v.toByte)
        import s.implicits._
        val payloads = Seq(
          (1L, p6(4, 3, Seq.fill(12)((200, 30, 60)))),
          (2L, p5(5, 2, 128)),
          (3L, p6(2, 2, Seq((10, 0, 0), (20, 0, 0), (30, 40, 0), (40, 80, 120)))),
          (4L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte))) // JPEG magic: skipped
        val df = payloads.toDF("doc_id", "payload")
        graft.ops.Multimodal.decodeImages(df)
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            round(col("mean_r"), 2).as("mean_r"), round(col("mean_g"), 2).as("mean_g"),
            round(col("mean_b"), 2).as("mean_b"))
          .orderBy("doc_id")
      },
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), 4, 3, 3, CAST(200.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(60.0 AS DOUBLE)),
             (CAST(2 AS BIGINT), 5, 2, 1, CAST(128.0 AS DOUBLE), CAST(128.0 AS DOUBLE), CAST(128.0 AS DOUBLE)),
             (CAST(3 AS BIGINT), 2, 2, 3, CAST(25.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE)))
             t(doc_id, width, height, channels, mean_r, mean_g, mean_b)
             ORDER BY doc_id""")),

    // mm10: AVI video header probe + uniform frame-sample PLAN — the
    // dimensions/frame-count/fps metadata and the exact frame indices
    // a decoder at 5 fps would read; pixel decode stays external by
    // design (no codecs in scope), the Spark plumbing is the real part
    NamedQuery("mm10_video_sample_plan",
      (s, _) => {
        def avi(usPerFrame: Int, frames: Int, w: Int, h: Int): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(88)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes).putInt(80).put("AVI ".getBytes)
          bb.put("LIST".getBytes).putInt(68).put("hdrl".getBytes)
          bb.put("avih".getBytes).putInt(56)
          val body = java.nio.ByteBuffer.allocate(56)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          body.putInt(0, usPerFrame)
          body.putInt(16, frames)
          body.putInt(32, w)
          body.putInt(36, h)
          bb.put(body.array())
          bb.array()
        }
        import s.implicits._
        val payloads = Seq(
          (1L, avi(33333, 300, 640, 360)),    // ~30 fps, 10 s clip
          (2L, avi(40000, 100, 1920, 1080)),  // 25 fps, 4 s clip
          (3L, "not a video".getBytes("US-ASCII"))) // skipped
        graft.ops.Multimodal.videoSamplePlan(
            payloads.toDF("doc_id", "payload"), targetFps = 5.0)
          .orderBy("doc_id")
      },
      Some("""SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), CAST(640 AS BIGINT), CAST(360 AS BIGINT),
               CAST(300 AS BIGINT), CAST(30.0 AS DOUBLE), CAST(6 AS BIGINT),
               CAST(50 AS BIGINT), CAST(294 AS BIGINT)),
              (CAST(2 AS BIGINT), CAST(1920 AS BIGINT), CAST(1080 AS BIGINT),
               CAST(100 AS BIGINT), CAST(25.0 AS DOUBLE), CAST(5 AS BIGINT),
               CAST(20 AS BIGINT), CAST(95 AS BIGINT)))
              AS t(doc_id, width, height, n_frames, fps, sample_step,
                   n_sampled, last_index)
             ORDER BY doc_id""")),

    // REAL audio decode: 16-bit PCM WAV (RIFF chunk walk + RMS).
    // Square wave ±1000 → RMS exactly 1000; silence → 0; durations
    // follow from sample counts. A non-WAV payload is skipped.
    NamedQuery("mm04_wav_decode",
      (s, _) => {
        def wav(channels: Int, rate: Int, samples: Seq[Int]): Array[Byte] = {
          val data = samples.flatMap(v =>
            Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)).toArray
          val bb = java.nio.ByteBuffer.allocate(44 + data.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
          bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort)
            .putShort(channels.toShort).putInt(rate)
            .putInt(rate * channels * 2).putShort((channels * 2).toShort)
            .putShort(16.toShort)
          bb.put("data".getBytes).putInt(data.length).put(data)
          bb.array()
        }
        import s.implicits._
        val square = (0 until 1600).map(i => if (i % 2 == 0) 1000 else -1000)
        val payloads = Seq(
          (1L, wav(1, 8000, square)),                      // 200 ms, RMS 1000
          (2L, wav(2, 4000, Seq.fill(1600)(0))),           // stereo silence, 200 ms
          (3L, "not audio at all".getBytes("US-ASCII")))   // skipped
        graft.ops.Multimodal.decodeAudio(payloads.toDF("doc_id", "payload"))
          .select(col("doc_id"), col("channels"), col("sample_rate"), col("n_samples"),
            round(col("duration_ms"), 2).as("duration_ms"), round(col("rms"), 2).as("rms"))
          .orderBy("doc_id")
      },
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), 1, 8000, CAST(1600 AS BIGINT), CAST(200.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)),
             (CAST(2 AS BIGINT), 2, 4000, CAST(800 AS BIGINT), CAST(200.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))
             t(doc_id, channels, sample_rate, n_samples, duration_ms, rms)
             ORDER BY doc_id""")),

    // mm11: energy-based VAD segmentation over fixture WAVs — known
    // loud/silent frame patterns make every segment exact: doc 1's
    // single silent frame is bridged (maxGap 1), its trailing silence
    // is not (no active bound on the right); doc 3's 2-frame gap
    // splits two segments; doc 2 (all silence) and doc 4 (not audio)
    // emit nothing.
    NamedQuery("mm11_vad_segments",
      (s, _) => {
        def wav(channels: Int, rate: Int, samples: Seq[Int]): Array[Byte] = {
          val data = samples.flatMap(v =>
            Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)).toArray
          val bb = java.nio.ByteBuffer.allocate(44 + data.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
          bb.put("fmt ".getBytes).putInt(16).putShort(1.toShort)
            .putShort(channels.toShort).putInt(rate)
            .putInt(rate * channels * 2).putShort((channels * 2).toShort)
            .putShort(16.toShort)
          bb.put("data".getBytes).putInt(data.length).put(data)
          bb.array()
        }
        def loud(frames: Int) =
          (0 until 400 * frames).map(i => if (i % 2 == 0) 1000 else -1000)
        def quiet(frames: Int) = Seq.fill(400 * frames)(0)
        import s.implicits._
        val payloads = Seq(
          (1L, wav(1, 8000, loud(2) ++ quiet(1) ++ loud(1) ++ quiet(2))),
          (2L, wav(1, 8000, quiet(3))),
          (3L, wav(1, 8000, loud(1) ++ quiet(2) ++ loud(1))),
          (4L, "not audio at all".getBytes("US-ASCII")))
        graft.ops.Multimodal.vadSegments(payloads.toDF("doc_id", "payload"),
            frameSize = 400, threshold = 500.0, maxGapFrames = 1)
          .orderBy("doc_id", "seg_no")
      },
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 0, 3, CAST(4 AS BIGINT),
              CAST(750.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)),
             (CAST(3 AS BIGINT), CAST(1 AS BIGINT), 0, 0, CAST(1 AS BIGINT),
              CAST(1000.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)),
             (CAST(3 AS BIGINT), CAST(2 AS BIGINT), 3, 3, CAST(1 AS BIGINT),
              CAST(1000.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)))
             t(doc_id, seg_no, start_frame, end_frame, n_frames,
               mean_rms, peak_rms)
             ORDER BY doc_id, seg_no""")),

    // REAL compressed-image metadata: fixtures are generated by the
    // JDK's own encoders (javax.imageio — PNG/JPEG/GIF/BMP ship with
    // the JVM), then decoded by OUR pure header parse (IHDR / SOF
    // marker walk / screen descriptor / BITMAPINFOHEADER). Known
    // dimensions + color models make every output exact; a junk
    // payload must be dropped.
    NamedQuery("mm05_image_headers",
      (s, _) => {
        import java.awt.image.BufferedImage
        def img(w: Int, h: Int, typ: Int, fmt: String): Array[Byte] = {
          val im = new BufferedImage(w, h, typ)
          val g = im.createGraphics()
          g.fillRect(0, 0, w, h); g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          assert(javax.imageio.ImageIO.write(im, fmt, bos), s"no $fmt writer")
          bos.toByteArray
        }
        val ppm = s"P6\n4 3\n255\n".getBytes("US-ASCII") ++ Array.fill(36)(7.toByte)
        import s.implicits._
        val payloads = Seq(
          (1L, img(37, 21, BufferedImage.TYPE_INT_RGB, "png")),
          (2L, img(5, 9, BufferedImage.TYPE_BYTE_GRAY, "png")),
          (3L, img(64, 48, BufferedImage.TYPE_INT_RGB, "jpg")),
          (4L, img(12, 7, BufferedImage.TYPE_INT_RGB, "gif")),
          (5L, img(33, 14, BufferedImage.TYPE_3BYTE_BGR, "bmp")),
          (6L, ppm),
          (7L, "not an image".getBytes("US-ASCII"))) // dropped
        graft.ops.Multimodal.imageHeaderMeta(payloads.toDF("doc_id", "payload"))
          .orderBy("doc_id")
      },
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), 'png', 37, 21, 3),
             (CAST(2 AS BIGINT), 'png', 5, 9, 1),
             (CAST(3 AS BIGINT), 'jpeg', 64, 48, 3),
             (CAST(4 AS BIGINT), 'gif', 12, 7, 3),
             (CAST(5 AS BIGINT), 'bmp', 33, 14, 3),
             (CAST(6 AS BIGINT), 'ppm', 4, 3, 3))
             t(doc_id, format, width, height, channels)
             ORDER BY doc_id""")),

    // blocked fuzzy self-join over part names: pairs within edit
    // distance 2, length-band equi-blocked (complete: lev >= length
    // diff). The oracle verifies with a plain inequality join — the
    // band must lose nothing.
    NamedQuery("fz01_fuzzy_pairs",
      (s, d) => graft.ops.Fuzzy.fuzzyPairs(
          Tables.load(s, d, "part"), "p_name", maxDist = 2)
        .orderBy("name_a", "name_b"),
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
             SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
             FROM n a JOIN n b ON a.p_name < b.p_name
               AND levenshtein(a.p_name, b.p_name) <= 2
             ORDER BY name_a, name_b""")),

    // CDC apply: a deterministic change batch over orders — every
    // key%10==0 deleted, %10==1 updated (doubled total, TWO competing
    // updates where key%100==1 so last-write-wins is exercised),
    // %10==2 re-inserted under a shifted key. The oracle replays the
    // same batch in SQL. Output pins the full merged table.
    NamedQuery("cd01_apply_changes",
      (s, d) => {
        val snap = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
        val dels = snap.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), lit("D").as("op"), lit(1L).as("seq"))
        val upd1 = snap.filter(col("o_orderkey") % 10 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("op"), lit(1L).as("seq"))
        // competing later update on a subset: price*3 must win there
        val upd2 = snap.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            (col("o_totalprice") * 3).as("o_totalprice"),
            lit("U").as("op"), lit(2L).as("seq"))
        val ins = snap.filter(col("o_orderkey") % 10 === 2)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), lit("N").as("o_orderstatus"),
            col("o_totalprice"), lit("I").as("op"), lit(1L).as("seq"))
        val changes = dels.unionByName(upd1).unionByName(upd2).unionByName(ins)
        graft.ops.Cdc.applyChanges(snap, changes, "o_orderkey")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice"), 4).as("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                            FROM orders),
              changes AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       'D' AS op, 1 AS seq FROM snap WHERE o_orderkey % 10 = 0
                UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus,
                       o_totalprice * 2, 'U', 1 FROM snap WHERE o_orderkey % 10 = 1
                UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus,
                       o_totalprice * 3, 'U', 2 FROM snap WHERE o_orderkey % 100 = 1
                UNION ALL SELECT o_orderkey + 10000000, o_custkey, 'N',
                       o_totalprice, 'I', 1 FROM snap WHERE o_orderkey % 10 = 2),
              latest AS (SELECT * FROM (SELECT *, row_number() OVER (
                           PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
                         FROM changes) WHERE rn = 1)
             SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 4) AS o_totalprice
             FROM (SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice
                   FROM snap s WHERE NOT EXISTS
                     (SELECT 1 FROM latest l WHERE l.o_orderkey = s.o_orderkey)
                   UNION ALL
                   SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                   FROM latest WHERE op != 'D')
             ORDER BY o_orderkey""")),

    // SCD Type 2 over each user's purchase history: validity intervals
    // from one keyed lead() window; ties pre-aggregated like tp01.
    // sc02: INCREMENTAL SCD2 — history/batch time-split, open rows
    // re-windowed with the batch; for an append-only feed the result
    // must equal the full rebuild, so the oracle IS sc01's SQL over
    // the combined log (the equivalence is the gate)
    NamedQuery("sc02_scd2_apply",
      (s, d) => {
        val ch = Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(round(max(col("value")), 4).as("value"))
        val cut = lit("2024-01-20").cast("timestamp")
        val dim = graft.ops.Cdc.scd2(ch.filter(col("ts") < cut), "user_id", "ts")
        graft.ops.Cdc.scd2Apply(dim, ch.filter(col("ts") >= cut), "user_id", "ts")
          .select(col("user_id"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
            col("value"), col("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some("""WITH ch AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                      round(max(value), 4) AS value
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                 '%Y-%m-%d %H:%M:%S') AS valid_to,
               value,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
             FROM ch ORDER BY user_id, valid_from""")),

    NamedQuery("sc01_scd2",
      (s, d) => {
        val ch = Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(round(max(col("value")), 4).as("value"))
        graft.ops.Cdc.scd2(ch, "user_id", "ts")
          .select(col("user_id"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
            col("value"), col("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some("""WITH ch AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                      round(max(value), 4) AS value
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                 '%Y-%m-%d %H:%M:%S') AS valid_to,
               value,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
             FROM ch ORDER BY user_id, valid_from""")),

    // Bucketed-layout co-located join: lineitem and orders land as
    // 8-bucket tables hashed on the order key, then join and
    // aggregate. Correctness gated here (same result as the plain
    // join); the POINT — zero Exchange in the join plan — is asserted
    // in PlanQualitySpec (bb01 test).
    // zo01: Morton (z-order) interleave key — the multi-column data-
    // skipping sort key; the oracle replays the 31-step bit interleave
    // with DuckDB's shift/mask operators (exact integer both engines)
    NamedQuery("zo01_zorder_key",
      (s, d) => Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          graft.ops.Layout.zValue(col("o_orderkey"), col("o_custkey")).as("z"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey,
             CAST((SELECT sum((((o_orderkey >> i) & 1) << (2 * i)) |
                              (((o_custkey >> i) & 1) << (2 * i + 1)))
                   FROM range(0, 31) t(i)) AS BIGINT) AS z
             FROM orders ORDER BY o_orderkey""")),

    NamedQuery("bb01_bucketed_join",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("bb01").toString
        graft.ops.Layout.writeBucketed(Tables.load(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
          s"$tmp/li", "bb01_li", "l_orderkey", buckets = 8)
        graft.ops.Layout.writeBucketed(Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderstatus")),
          s"$tmp/ord", "bb01_ord", "o_orderkey", buckets = 8)
        graft.ops.Layout.bucketedJoin(s, "bb01_li", "bb01_ord",
            "l_orderkey", "o_orderkey")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity")), 4).as("sum_qty"),
            round(sum(col("l_extendedprice")), 4).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_price
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1 ORDER BY 1""")),

    // bf01: runtime bloom-filter join pruning — lineitem is pruned at
    // SCAN against a sketch of the urgent orders' keys before the join
    // shuffle; the exact join clears false positives, so the result
    // must equal the plain join (which is exactly what DuckDB runs)
    NamedQuery("bf01_bloom_join",
      (s, d) => {
        val urgent = Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority"))
        graft.ops.Prune.bloomPrunedJoin(
            Tables.load(s, d, "lineitem")
              .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
            "l_orderkey", urgent, "o_orderkey",
            expectedItems = 100000L)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity")), 4).as("sum_qty"),
            round(sum(col("l_extendedprice")), 4).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_price
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderpriority = '1-URGENT'
             GROUP BY 1 ORDER BY 1""")),

    // ---------------- event analytics ----------------

    // daily-grid resample of each user's purchase series with forward
    // fill — grid from one sequence+explode, fill via the asof join
    // (DuckDB's native ASOF replays it exactly)
    NamedQuery("rs01_resample",
      (s, d) => {
        val p = Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        graft.ops.Analytics.resample(p, "user_id", "ts", "value", stepSec = 86400L)
          .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            date_format(col("filled_ts"), "yyyy-MM-dd HH:mm:ss").as("filled_ts"),
            round(col("filled_value"), 4).as("filled_value"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events WHERE event_type = 'purchase'),
              b AS (SELECT user_id,
                      (epoch_us(min(ts)) // 1000000 // 86400) * 86400 AS t0,
                      (epoch_us(max(ts)) // 1000000 // 86400) * 86400 AS t1
                    FROM p GROUP BY 1),
              g AS (SELECT user_id,
                      to_timestamp(unnest(generate_series(t0, t1, 86400))) AS ts
                    FROM b)
             SELECT g.user_id, strftime(g.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               strftime(p2.ts, '%Y-%m-%d %H:%M:%S') AS filled_ts,
               round(p2.value, 4) AS filled_value
             FROM g ASOF LEFT JOIN p p2
               ON g.user_id = p2.user_id AND g.ts >= p2.ts
             ORDER BY g.user_id, g.ts""")),

    // click→purchase conversion within 2 h: converted clicks counted
    // by a LEFT SEMI range join (each click once, however many
    // purchases follow)
    NamedQuery("fn01_funnel",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        graft.ops.Analytics.funnel(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"),
            "user_id", "ts", windowSec = 7200L)
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                         FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
              conv AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_converted
                       FROM c WHERE EXISTS (SELECT 1 FROM p
                         WHERE p.user_id = c.user_id AND p.ts >= c.ts
                           AND epoch_us(p.ts) <= epoch_us(c.ts) + CAST(7200 AS BIGINT) * 1000000)
                       GROUP BY 1),
              f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_first FROM c GROUP BY 1)
             SELECT f.user_id, f.n_first,
               CAST(coalesce(conv.n_converted, 0) AS BIGINT) AS n_converted
             FROM f LEFT JOIN conv USING (user_id) ORDER BY user_id""")),

    // hll01: mergeable-sketch rollup — per-day HLL user sketches
    // merged into a total estimate WITHOUT touching raw data again
    // (the incremental-rollup pattern that replaces daily full scans
    // at 100 TB: store sketch bytes per partition, union on read).
    // Estimates are implementation-defined → q15-style bounds gate.
    // hh01: Misra-Gries heavy hitters + exact verification — with
    // cap = 8 every one of the 5 event types clears the N/9 guarantee
    // threshold, so the candidate set provably equals the exact
    // distribution and the oracle is plain GROUP BY; `guaranteed`
    // compares in integer arithmetic (9·n > N) on both engines
    NamedQuery("hh01_heavy_hitters",
      (s, d) => graft.ops.Sketches.heavyHitters(
        Tables.load(s, d, "events"), col("event_type"), cap = 8),
      Some("""SELECT event_type AS value, CAST(count(*) AS BIGINT) AS n_exact,
             9 * count(*) > (SELECT count(*) FROM events) AS guaranteed
             FROM events GROUP BY event_type
             ORDER BY n_exact DESC, value ASC""")),

    NamedQuery("hll01_sketch_rollup",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val ev = Tables.load(s, d, "events")
        val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count_distinct(col("user_id")).as("exact_d"))
        val bad = daily.filter(
          abs(hll_sketch_estimate(col("sk")) - col("exact_d")) >
            col("exact_d") * 0.05).count()
        val est = daily.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
          .head.getLong(0)
        val exact = ev.agg(count_distinct(col("user_id"))).head.getLong(0)
        val nDays = daily.count()
        import s.implicits._
        Seq((nDays, bad == 0L,
          math.abs(est - exact).toDouble <= exact * 0.05))
          .toDF("n_days", "daily_ok", "merged_ok")
      },
      Some("""SELECT CAST(count(DISTINCT date_trunc('day',
               CAST(ts AS TIMESTAMP))) AS BIGINT) AS n_days,
             true AS daily_ok, true AS merged_ok FROM events""")),

    // an02: 3-step ordered funnel (view → click → purchase, 48 h) —
    // greedy-earliest chained matching; the oracle chains min()
    // correlated subqueries, one per step
    NamedQuery("an02_ordered_funnel",
      (s, d) => graft.ops.Analytics.orderedFunnel(
          Tables.load(s, d, "events"), "user_id", "ts",
          steps = Seq("view", "click", "purchase"), windowSec = 172800L)
        .orderBy("user_id"),
      Some("""WITH s1 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t1
                          FROM events WHERE event_type = 'view'),
              c2 AS (SELECT user_id, t1,
                  (SELECT min(e2.ts) FROM events e2
                   WHERE e2.user_id = s1.user_id
                     AND e2.event_type = 'click'
                     AND CAST(e2.ts AS TIMESTAMP) >= s1.t1) AS t2
                FROM s1),
              c3 AS (SELECT user_id, t1, t2,
                  CASE WHEN t2 IS NULL THEN NULL ELSE
                    (SELECT min(e3.ts) FROM events e3
                     WHERE e3.user_id = c2.user_id
                       AND e3.event_type = 'purchase'
                       AND CAST(e3.ts AS TIMESTAMP) >= c2.t2) END AS t3
                FROM c2)
             SELECT user_id, CAST(count(*) AS BIGINT) AS n_started,
               CAST(sum(CASE WHEN t3 IS NOT NULL AND
                 epoch_us(t3) <= epoch_us(t1) + CAST(172800 AS BIGINT) * 1000000
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_completed
             FROM c3 GROUP BY user_id ORDER BY user_id""")),

    // an03: first/last-touch attribution — one keyed window (the
    // union+window as-of shape, zero joins), conversions credited to
    // the most recent touch within 7 days (last) and the earliest
    // touch ever (first); the oracle runs the identical window with
    // the same (tu, is_conv, event_id) total order
    NamedQuery("an03_attribution",
      (s, d) => graft.ops.Analytics.attribution(
          Tables.load(s, d, "events"), "user_id", "ts",
          touchTypes = Seq("view", "click", "signup"),
          convType = "purchase", lookbackSec = 604800L)
        .orderBy("model", "channel"),
      Some("""WITH base AS (SELECT user_id AS k,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS tu, event_id AS tb,
                    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch,
                    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv,
                    value
                  FROM events
                  WHERE event_type IN ('view','click','signup','purchase')),
              w AS (SELECT *,
                    last_value(touch IGNORE NULLS) OVER (
                      PARTITION BY k ORDER BY tu, is_conv, tb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_t,
                    max(CASE WHEN touch IS NOT NULL THEN tu END) OVER (
                      PARTITION BY k ORDER BY tu, is_conv, tb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tu,
                    first_value(touch IGNORE NULLS) OVER (
                      PARTITION BY k ORDER BY tu, is_conv, tb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_t
                  FROM base),
              conv AS (SELECT
                    CASE WHEN last_tu >= tu - 604800000000 THEN last_t
                         ELSE 'none' END AS last_ch,
                    coalesce(first_t, 'none') AS first_ch, value
                  FROM w WHERE is_conv = 1)
             SELECT * FROM (
               SELECT 'first_touch' AS model, first_ch AS channel,
                 CAST(count(*) AS BIGINT) AS n_conversions,
                 round(sum(value), 4) AS sum_value
               FROM conv GROUP BY 2
               UNION ALL
               SELECT 'last_touch', last_ch, CAST(count(*) AS BIGINT),
                 round(sum(value), 4)
               FROM conv GROUP BY 2)
             ORDER BY model, channel""")),

    // an05: top in-session event-type transitions — sessionize (st02's
    // exact-micros gap rule) + lead over the same partitioning; the
    // oracle replays both windows with the (ts, event_id) total order
    NamedQuery("an05_path_transitions",
      (s, d) => graft.ops.Analytics.pathTransitions(
        Tables.load(s, d, "events"), col("user_id"), col("ts"),
        col("event_type"), gapSec = 1800L, tieBreak = col("event_id"),
        topK = 20),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_id, event_type FROM events),
              f AS (SELECT *, lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_ts FROM e),
              g AS (SELECT *, CASE WHEN prev_ts IS NULL OR
                    epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess FROM f),
              h AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
                  FROM g),
              t AS (SELECT event_type AS from_type,
                    lead(event_type) OVER (PARTITION BY user_id, session_id
                      ORDER BY ts, event_id) AS to_type
                  FROM h)
             SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
             FROM t WHERE to_type IS NOT NULL
             GROUP BY from_type, to_type
             ORDER BY n DESC, from_type, to_type LIMIT 20""")),

    // an06: RFM quartile segmentation over orders — recency vs corpus
    // max o_orderdate, quartile cuts via exact percentile, assignment
    // by strict > against interpolated cuts (bit-identical IEEE both
    // engines); the oracle replays with quantile_cont
    NamedQuery("an06_rfm_segments",
      (s, d) => graft.ops.Analytics.rfm(
          Tables.load(s, d, "orders"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .orderBy("customer"),
      Some("""WITH per AS (SELECT o_custkey AS customer,
                    max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us,
                    CAST(count(*) AS BIGINT) AS frequency,
                    round(sum(o_totalprice), 2) AS monetary
                  FROM orders GROUP BY 1),
              mx AS (SELECT max(last_us) AS max_us FROM per),
              r AS (SELECT customer,
                    CAST((max_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
                    frequency, monetary FROM per, mx),
              c AS (SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rc,
                    quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
                    quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc FROM r)
             SELECT customer, recency_days, frequency, monetary,
               5 - (1 + CAST(recency_days > rc[1] AS INT)
                      + CAST(recency_days > rc[2] AS INT)
                      + CAST(recency_days > rc[3] AS INT)) AS r_score,
               1 + CAST(frequency > fc[1] AS INT)
                 + CAST(frequency > fc[2] AS INT)
                 + CAST(frequency > fc[3] AS INT) AS f_score,
               1 + CAST(monetary > mc[1] AS INT)
                 + CAST(monetary > mc[2] AS INT)
                 + CAST(monetary > mc[3] AS INT) AS m_score,
               concat(
                 5 - (1 + CAST(recency_days > rc[1] AS INT)
                        + CAST(recency_days > rc[2] AS INT)
                        + CAST(recency_days > rc[3] AS INT)),
                 1 + CAST(frequency > fc[1] AS INT)
                   + CAST(frequency > fc[2] AS INT)
                   + CAST(frequency > fc[3] AS INT),
                 1 + CAST(monetary > mc[1] AS INT)
                   + CAST(monetary > mc[2] AS INT)
                   + CAST(monetary > mc[3] AS INT)) AS segment
             FROM r, c ORDER BY customer""")),

    // A/B readout with deterministic md5 assignment (salt "exp1",
    // 50/50): per-variant click→purchase conversion within 2 h. The
    // oracle replays assignment and funnel; integer-over-integer rate
    // division is bit-identical cross-engine (single IEEE divide).
    NamedQuery("ab01_experiment",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        graft.ops.Analytics.abReadout(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"),
            "user_id", "ts", windowSec = 7200L)
          .orderBy("variant")
      },
      Some(s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                          FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
              conv AS (SELECT user_id, count(*) AS n_converted
                       FROM c WHERE EXISTS (SELECT 1 FROM p
                         WHERE p.user_id = c.user_id AND p.ts >= c.ts
                           AND epoch_us(p.ts) <= epoch_us(c.ts) + CAST(7200 AS BIGINT) * 1000000)
                       GROUP BY 1),
              f AS (SELECT user_id FROM c GROUP BY user_id),
              u AS (SELECT f.user_id,
                      CASE WHEN substr(md5('exp1#' || CAST(f.user_id AS VARCHAR)), 1, 8)
                             < '${graft.ops.Curation.hexThreshold(0.5)}'
                        THEN 'A' ELSE 'B' END AS variant,
                      coalesce(conv.n_converted, 0) AS n_converted
                    FROM f LEFT JOIN conv USING (user_id))
             SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN n_converted > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_users,
               round(sum(CASE WHEN n_converted > 0 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS conv_rate
             FROM u GROUP BY variant ORDER BY variant""")),

    // weekly cohort retention matrix over all events
    NamedQuery("co01_cohorts",
      (s, d) => graft.ops.Analytics.cohorts(
          Tables.load(s, d, "events"), "user_id", "ts")
        .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          date_format(col("activity_week"), "yyyy-MM-dd").as("activity_week"),
          col("n_active"))
        .orderBy("cohort_week", "activity_week"),
      Some("""WITH w AS (SELECT DISTINCT user_id,
                      date_trunc('week', CAST(ts AS TIMESTAMP)) AS activity_week
                    FROM events),
              fw AS (SELECT user_id, min(activity_week) AS cohort_week
                     FROM w GROUP BY 1)
             SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               strftime(activity_week, '%Y-%m-%d') AS activity_week,
               CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active
             FROM w JOIN fw USING (user_id)
             GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---------------- streaming (batch-equivalent form) ----------------

    // gap-based sessionization, batch form (the streaming form is the
    // same semantics via flatMapGroupsWithState — EventStreamSpec
    // proves batch/stream equivalence on a fixture)
    NamedQuery("st02_sessionize",
      (s, d) => graft.streaming.EventStream
        .sessionizeBatch(Tables.load(s, d, "events"), gapMinutes = 30)
        .orderBy("user_id", "session_no"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
             f AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
             g AS (SELECT *, CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess FROM f),
             h AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_no FROM g)
             SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
             FROM h GROUP BY user_id, session_no
             ORDER BY user_id, session_no""")),

    // Streaming exact dedup EXECUTED end-to-end: the events fixture is
    // replayed (unioned with itself — the at-least-once delivery
    // shape), streamed through dropDuplicatesWithinWatermark on the
    // full row identity, and aggregated per user. The oracle is
    // DISTINCT over the original single copy — dedup must erase the
    // replay exactly, with state bounded by the watermark.
    // st07: native session_window EXECUTED as a streaming query
    // (memory sink, complete mode — deterministic full emission); the
    // oracle replays gap sessionization with the strict-> boundary
    // rule session_window was verified to use, session_end = last+gap
    NamedQuery("st07_session_window",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val ev = graft.Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("value"))
        val tmp = java.nio.file.Files.createTempDirectory("st07-sess").toString
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        val q = graft.streaming.EventStream
          .sessionWindowAgg(s.readStream.schema(ev.schema).parquet(tmp))
          .writeStream.outputMode("complete").format("memory")
          .queryName("st07_sessions").start()
        q.processAllAvailable()
        q.stop()
        s.table("st07_sessions").orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
              f AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
              g AS (SELECT *, CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess FROM f),
              h AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS session_no FROM g)
             SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
             FROM h GROUP BY user_id, session_no
             ORDER BY user_id, session_start""")),

    NamedQuery("st03_dedup_stream",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val ev = graft.Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        val tmp = java.nio.file.Files.createTempDirectory("st03-replay").toString
        // one file → one micro-batch: nothing is late w.r.t. a
        // watermark advanced by an earlier batch
        ev.union(ev).coalesce(1).write.mode("overwrite").parquet(tmp)
        val q = graft.streaming.EventStream
          .dedupStream(s.readStream.schema(ev.schema).parquet(tmp),
            Seq("user_id", "ts", "event_type", "value"))
          .writeStream.outputMode("append").format("memory")
          .queryName("st03_dedup").start()
        q.processAllAvailable()
        q.stop()
        s.table("st03_dedup")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy("user_id")
      },
      Some("""WITH dist AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts,
                            event_type, value FROM events)
             SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                    round(sum(value), 4) AS sum_value
             FROM dist GROUP BY user_id ORDER BY user_id""")),

    // Stream-stream interval join EXECUTED end-to-end: clicks and
    // purchases stream from separate parquet sources, join on user
    // within ±1 h of event time (watermarks on both sides bound the
    // join state), then the pairs are aggregated per user. The oracle
    // is the same interval join as plain batch SQL — the streaming
    // execution must produce exactly the batch pair set. Sums are
    // exact integer microseconds, so the hash compare has no float
    // sensitivity.
    NamedQuery("st04_interval_join",
      (s, d) => {
        val ev = graft.Tables.load(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("l_id"), col("user_id").as("l_user"),
            col("ts").as("l_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
            col("ts").as("r_ts"))
        val tmp = java.nio.file.Files.createTempDirectory("st04-join").toString
        clicks.coalesce(1).write.mode("overwrite").parquet(s"$tmp/l")
        purchases.coalesce(1).write.mode("overwrite").parquet(s"$tmp/r")
        val q = graft.streaming.EventStream.intervalJoin(
            s.readStream.schema(clicks.schema).parquet(s"$tmp/l"),
            s.readStream.schema(purchases.schema).parquet(s"$tmp/r"),
            windowSec = 3600)
          .writeStream.outputMode("append").format("memory")
          .queryName("st04_pairs").start()
        q.processAllAvailable()
        q.stop()
        s.table("st04_pairs")
          .groupBy(col("l_user").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(abs(unix_micros(col("l_ts")) - unix_micros(col("r_ts"))))
              .as("sum_abs_delta_us"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (SELECT user_id AS l_user, CAST(ts AS TIMESTAMP) AS lt
                          FROM events WHERE event_type = 'click'),
                   r AS (SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS rt
                          FROM events WHERE event_type = 'purchase')
             SELECT l_user AS user_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(abs(epoch_us(lt) - epoch_us(rt))) AS BIGINT) AS sum_abs_delta_us
             FROM l JOIN r ON l_user = r_user
               AND abs(epoch_us(lt) - epoch_us(rt)) <= CAST(3600 AS BIGINT) * 1000000
             GROUP BY 1 ORDER BY user_id""")),

    // Stream-STATIC enrichment join, executed end-to-end: the click
    // stream joins a batch-computed per-user purchase profile. Unlike
    // stream-stream (st04) this is STATELESS — no watermark, no join
    // state, the static side is just a broadcast/shuffle lookup per
    // micro-batch — the cheapest and most common production join
    // shape (enrich events with a dimension/feature table).
    NamedQuery("st05_stream_enrich",
      (s, d) => {
        val ev = graft.Tables.load(s, d, "events")
        // profile carries SUM + COUNT, not avg: rounding an average
        // hits genuine .xxxx5 decimal ties where Spark (HALF_UP) and
        // DuckDB (binary nearbyint) disagree; sums of the 4-decimal
        // generator values are tie-free at round 4 (st01 precedent)
        val profile = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(round(sum(col("value")), 4).as("purchase_value"),
            count(lit(1)).as("n_purchases"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        val tmp = java.nio.file.Files.createTempDirectory("st05-enrich").toString
        clicks.coalesce(1).write.mode("overwrite").parquet(tmp)
        val q = s.readStream.schema(clicks.schema).parquet(tmp)
          .join(profile, "user_id")
          .writeStream.outputMode("append").format("memory")
          .queryName("st05_enriched").start()
        q.processAllAvailable()
        q.stop()
        s.table("st05_enriched")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            round(sum(col("value")), 4).as("click_value"),
            first(col("purchase_value")).as("purchase_value"),
            first(col("n_purchases")).as("n_purchases"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id, round(sum(value), 4) AS purchase_value,
                           CAST(count(*) AS BIGINT) AS n_purchases
                         FROM events WHERE event_type = 'purchase' GROUP BY 1),
                   c AS (SELECT user_id, value FROM events WHERE event_type = 'click')
             SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_clicks,
               round(sum(c.value), 4) AS click_value,
               any_value(p.purchase_value) AS purchase_value,
               any_value(p.n_purchases) AS n_purchases
             FROM c JOIN p USING (user_id)
             GROUP BY 1 ORDER BY user_id""")),

    // st06: streaming near-dup ingest — three file-batches in forced
    // mtime order through the foreachBatch sink; each batch LSH-
    // filters against the accumulated KEPT base. Oracle replays dd08's
    // signature/band CTEs with the sequential keep set (batch 0 all,
    // batch 1 vs 0, batch 2 vs 0 ∪ kept 1).
    NamedQuery("st06_neardup_ingest",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val all = docs(s, d).select(col("doc_id"), col("text"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("st06").toString
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        Seq(
          ("b0", col("doc_id") < 170),
          ("b1", col("doc_id") >= 170 && col("doc_id") < 340),
          ("b2", col("doc_id") >= 340)).zipWithIndex.foreach {
          case ((nm, pred), i) =>
            val stage = s"$tmp/stage_$nm"
            all.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
            val part = new java.io.File(stage).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            val dst = new java.io.File(src, s"$nm.parquet")
            java.nio.file.Files.copy(part.toPath, dst.toPath)
            // mtime IS the batch order for FileStreamSource
            dst.setLastModified(1700000000000L + i * 600000L)
        }
        val q = graft.streaming.CorpusStream.nearDupIngest(
          s.readStream.schema(all.schema).option("maxFilesPerTrigger", 1)
            .parquet(src.toString),
          s"$tmp/base", s"$tmp/out", s"$tmp/ck")
        q.processAllAvailable(); q.stop()
        s.read.parquet(s"$tmp/out").select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, text, lang,
                 CASE WHEN doc_id < 170 THEN 0
                      WHEN doc_id < 340 THEN 1 ELSE 2 END AS bat
               FROM documents),
              sh AS (SELECT doc_id, bat, $duckShingles AS sset FROM d),
              shx0 AS (SELECT doc_id, bat, unnest(sset) AS g FROM sh),
              shx AS (SELECT doc_id, bat, g FROM
                        (SELECT doc_id, bat, g,
                           count(*) OVER (PARTITION BY g) AS df FROM shx0)
                      WHERE df <= 1000),
              sig0 AS (SELECT doc_id, bat, j, min(md5(j::VARCHAR || '#' || g)) AS mh
                       FROM shx, range(12) r(j) GROUP BY doc_id, bat, j),
              sig AS (SELECT doc_id, bat, list(mh ORDER BY j) AS sig
                      FROM sig0 GROUP BY doc_id, bat),
              banded AS (SELECT doc_id, bat, sig, b AS band,
                           md5(sig[3*b+1] || '|' || sig[3*b+2] || '|' || sig[3*b+3]) AS band_key
                         FROM sig, range(4) r(b)),
              nd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                       x.bat AS bat_a, y.bat AS bat_b
                     FROM banded x JOIN banded y
                       ON x.band = y.band AND x.band_key = y.band_key
                          AND x.doc_id != y.doc_id
                     WHERE round(CAST(len(list_filter(range(1, 13),
                         i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 12, 4) >= 0.5),
              dup2 AS (SELECT DISTINCT a AS doc_id FROM nd
                       WHERE bat_a = 1 AND bat_b = 0),
              kept2 AS (SELECT doc_id FROM d WHERE bat = 1
                        AND doc_id NOT IN (SELECT doc_id FROM dup2)),
              dup3 AS (SELECT DISTINCT a AS doc_id FROM nd
                       WHERE bat_a = 2 AND (bat_b = 0 OR
                         (bat_b = 1 AND b IN (SELECT doc_id FROM kept2)))),
              kept AS (SELECT doc_id FROM d WHERE bat = 0
                       UNION ALL SELECT doc_id FROM kept2
                       UNION ALL SELECT doc_id FROM d WHERE bat = 2
                         AND doc_id NOT IN (SELECT doc_id FROM dup3))
             SELECT doc_id, lang FROM documents
             WHERE doc_id IN (SELECT doc_id FROM kept) ORDER BY doc_id""")),

    // st09: streaming one-sided CUSUM drift monitor — a REAL
    // StreamingQuery over three time-ordered file batches; constant
    // state per key (the max(0,·) recursion unrolled to prefix −
    // running-min), final snapshot vs the batch window replay. The
    // oracle's drift term mirrors the engine's float association
    // ((v − μ0) − slack), not the folded constant.
    NamedQuery("st09_cusum_monitor",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val ev = Tables.load(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type").as("k"), unix_micros(col("ts")).as("us"),
            col("event_id").as("tb"), col("value").cast("double").as("v"))
        val cuts = ev.agg(percentile(col("us"), lit(0.25)).as("c1"),
          percentile(col("us"), lit(0.5)).as("c2")).head
        val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
        val tmp = java.nio.file.Files.createTempDirectory("st09").toString
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        Seq(
          ("b0", col("us") <= c1),
          ("b1", col("us") > c1 && col("us") <= c2),
          ("b2", col("us") > c2)).zipWithIndex.foreach {
          case ((nm, pred), i) =>
            val stage = s"$tmp/stage_$nm"
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
            val part = new java.io.File(stage).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            val dst = new java.io.File(src, s"$nm.parquet")
            java.nio.file.Files.copy(part.toPath, dst.toPath)
            dst.setLastModified(1700000000000L + i * 600000L)
        }
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .as[graft.streaming.EventStream.CusumEvent]
        val out = s"$tmp/out"
        val q = graft.streaming.EventStream
          .cusumMonitor(stream, mu0 = 49.5, slack = 0.5, h = 500.0)
          .writeStream.outputMode("update")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.EventStream.CusumSnap],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", s"$tmp/ck").start()
        q.processAllAvailable(); q.stop()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("n").desc)
        s.read.parquet(out)
          .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
          .select(col("k"), col("n"),
            (round(col("s_plus"), 6) + lit(0.0)).as("s_plus"),
            (round(col("max_s"), 6) + lit(0.0)).as("max_s"),
            col("alerted"), col("first_alert_us"))
          .orderBy("k")
      },
      Some("""WITH b AS (SELECT event_type AS k, epoch_us(ts) AS us,
                  event_id AS tb, CAST(value AS DOUBLE) AS v
                FROM events WHERE value IS NOT NULL),
              o AS (SELECT k, us, tb,
                  sum(v - 49.5 - 0.5) OVER win AS p,
                  row_number() OVER (PARTITION BY k ORDER BY us, tb) AS i,
                  CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
                FROM b WINDOW win AS (PARTITION BY k ORDER BY us, tb
                  ROWS UNBOUNDED PRECEDING)),
              s2 AS (SELECT *, p - least(min(p) OVER (PARTITION BY k
                  ORDER BY us, tb ROWS UNBOUNDED PRECEDING), 0.0) AS su
                FROM o)
             SELECT k, n,
               round(max(CASE WHEN i = n THEN su END), 6) + 0.0 AS s_plus,
               round(max(su), 6) + 0.0 AS max_s,
               coalesce(bool_or(su > 500.0), false) AS alerted,
               CAST(coalesce(min(CASE WHEN su > 500.0 THEN us END), -1)
                 AS BIGINT) AS first_alert_us
             FROM s2 GROUP BY k, n ORDER BY k""")),

    // st10: streaming heavy-hitter monitor — a REAL StreamingQuery
    // over three time-ordered file batches; exact per-key counts with
    // two longs of state, first-crossing event-time captured online.
    // Final snapshot per key vs the batch ordered-window replay.
    NamedQuery("st10_heavy_hitters",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val ev = Tables.load(s, d, "events")
          .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
            col("event_id").as("tb"))
        val cuts = ev.agg(percentile(col("us"), lit(0.25)).as("c1"),
          percentile(col("us"), lit(0.5)).as("c2")).head
        val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
        val tmp = java.nio.file.Files.createTempDirectory("st10").toString
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        Seq(
          ("b0", col("us") <= c1),
          ("b1", col("us") > c1 && col("us") <= c2),
          ("b2", col("us") > c2)).zipWithIndex.foreach {
          case ((nm, pred), i) =>
            val stage = s"$tmp/stage_$nm"
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
            val part = new java.io.File(stage).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            val dst = new java.io.File(src, s"$nm.parquet")
            java.nio.file.Files.copy(part.toPath, dst.toPath)
            dst.setLastModified(1700000000000L + i * 600000L)
        }
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .as[graft.streaming.EventStream.HhEvent]
        val out = s"$tmp/out"
        val q = graft.streaming.EventStream
          .heavyHitterMonitor(stream, threshold = 67L)
          .writeStream.outputMode("update")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.EventStream.HhSnap],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", s"$tmp/ck").start()
        q.processAllAvailable(); q.stop()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("n").desc)
        s.read.parquet(out)
          .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
          .select(col("k").as("user_id"), col("n"), col("alerted"),
            col("first_hit_us"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (SELECT user_id, epoch_us(ts) AS us, event_id AS tb
                         FROM events),
              o AS (SELECT user_id, us,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY us, tb) AS i,
                      CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                        AS n
                    FROM b)
             SELECT user_id, n, n >= 67 AS alerted,
               CAST(coalesce(min(CASE WHEN i = 67 THEN us END), -1)
                 AS BIGINT) AS first_hit_us
             FROM o GROUP BY user_id, n ORDER BY user_id""")),

    // st11: streaming TTL-deduplicated admission EXECUTED end-to-end —
    // per (user, event_type) key, admit at most one event per 4-day
    // window measured from the LAST ADMISSION (greedy chain), state =
    // one long per key; three time-ordered micro-batches prove the
    // chain carries across batch boundaries. The oracle replays the
    // greedy chain as a recursive CTE (each step admits the next
    // event ≥ last + TTL per key).
    NamedQuery("st11_ttl_dedup",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val ev = Tables.load(s, d, "events")
          .select(concat(col("user_id"), lit("#"), col("event_type")).as("k"),
            unix_micros(col("ts")).as("us"), col("event_id").as("tb"),
            col("value").cast("double").as("v"))
        val cuts = ev.agg(percentile(col("us"), lit(0.25)).as("c1"),
          percentile(col("us"), lit(0.5)).as("c2")).head
        val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
        val tmp = java.nio.file.Files.createTempDirectory("st11").toString
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        // ONE partitioned write builds all three time-bucket fixture
        // files (r19 perf: was three full filter+write passes over the
        // events projection). The explicit isNotNull keeps the old
        // filter semantics (a null us satisfied no bucket predicate);
        // within-file row order is free — ttlDedup sorts per key by
        // (us, tb) inside each batch.
        val stage = s"$tmp/stage"
        ev.filter(col("us").isNotNull)
          .withColumn("__b", when(col("us") <= c1, "b0")
            .when(col("us") <= c2, "b1").otherwise("b2"))
          .coalesce(1).write.partitionBy("__b").mode("overwrite").parquet(stage)
        Seq("b0", "b1", "b2").zipWithIndex.foreach { case (nm, i) =>
          val bucketDir = new java.io.File(s"$stage/__b=$nm")
          if (!bucketDir.isDirectory) {
            // degenerate cut (empty bucket): partitionBy writes no dir,
            // but the stream contract wants one file per micro-batch —
            // write the empty frame like the old per-bucket pass did
            ev.filter(lit(false)).coalesce(1)
              .write.mode("overwrite").parquet(bucketDir.toString)
          }
          val part = bucketDir.listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(src, s"$nm.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + i * 600000L)
        }
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .as[graft.streaming.EventStream.TtlEvent]
        val out = s"$tmp/out"
        val q = graft.streaming.EventStream
          .ttlDedup(stream, ttlUs = 345600000000L)
          .writeStream.outputMode("append")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.EventStream.TtlAdmit],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", s"$tmp/ck").start()
        q.processAllAvailable(); q.stop()
        s.read.parquet(out)
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_admitted"),
            min(col("us")).as("first_us"), max(col("us")).as("last_us"),
            round(sum(col("v")), 4).as("sum_value"))
          .orderBy("k")
      },
      Some("""WITH RECURSIVE
              -- one row per (k, us), keeping the min-event_id row: the
              -- engine sorts each per-key slice by (us, tb) and an
              -- equal timestamp never clears a positive TTL, so of any
              -- same-(k, us) duplicates exactly the lowest-tb one can
              -- admit. Without this the chain admits ALL tied rows
              -- (both NOT EXISTS guards compare us strictly) — the
              -- fixture has unique timestamps, but the semantics must
              -- not depend on that.
              ev AS (SELECT k, us, v FROM (
                       SELECT user_id || '#' || event_type AS k,
                         epoch_us(ts) AS us, value AS v,
                         row_number() OVER (
                           PARTITION BY user_id || '#' || event_type,
                             epoch_us(ts)
                           ORDER BY event_id) AS rn
                       FROM events) WHERE rn = 1),
              adm(k, us, v) AS (
                SELECT e.k, e.us, e.v FROM ev e
                  WHERE NOT EXISTS (SELECT 1 FROM ev x
                    WHERE x.k = e.k AND x.us < e.us)
                UNION ALL
                SELECT e.k, e.us, e.v
                FROM adm a JOIN ev e
                  ON e.k = a.k AND e.us >= a.us + 345600000000
                WHERE NOT EXISTS (SELECT 1 FROM ev x
                  WHERE x.k = e.k AND x.us >= a.us + 345600000000
                    AND x.us < e.us))
             SELECT k, CAST(count(*) AS BIGINT) AS n_admitted,
               min(us) AS first_us, max(us) AS last_us,
               round(sum(v), 4) AS sum_value
             FROM adm GROUP BY k ORDER BY k""")),

    // HOPPING (sliding) windows: 2-hour windows advancing hourly —
    // every event lands in exactly two. Spark's window(slide) TVF vs
    // an explicit two-start unnest in the oracle.
    NamedQuery("hw01_hopping_window",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
             FROM (SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR]) AS ws,
                     event_type, value
                   FROM events)
             GROUP BY 1, 2 ORDER BY 1, 2""")),

    // event-time RANGE frame: each event's rolling trailing-1h sum and
    // count per user — RANGE BETWEEN on seconds, which is tie-safe
    // (same-second rows see each other symmetrically), unlike ROWS
    // frames over a table with no unique order.
    NamedQuery("rw01_rolling_range",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(unix_seconds(col("ts")))
          .rangeBetween(-3599, org.apache.spark.sql.expressions.Window.currentRow)
        Tables.load(s, d, "events")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            count(lit(1)).over(w).as("n_trailing_1h"),
            round(sum(col("value")).over(w), 4).as("sum_trailing_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
               CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
               round(sum(value) OVER w, 4) AS sum_trailing_1h
             FROM events
             WINDOW w AS (PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
             ORDER BY event_id""")),

    NamedQuery("st01_event_window",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("window_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 4).as("sum_value"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 4) AS sum_value,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))
  )

  /** Hyperplane coefficients as a (table, plane, dim) VALUES list —
    * identical derivation to Similarity.lshBucket (md5("t:h:d")).
    */
  private def planesValues(dim: Int, nBits: Int, tables: Int): String =
    (for (t <- 0 until tables; h <- 0 until nBits; dd <- 0 until dim) yield {
      val coef = (java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$t:$h:$dd").substring(0, 6), 16)
        .toDouble / 0xFFFFFF.toDouble) - 0.5
      s"($t, $h, ${dd + 1}, $coef)"
    }).mkString(", ")

  /** Shared oracle prelude: per-(vector, table) bucket keys. */
  private def bucketsCte(dim: Int, nBits: Int, tables: Int): String =
    s"""WITH planes(t, h, d, coef) AS (VALUES ${planesValues(dim, nBits, tables)}),
       expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
       proj AS (SELECT vec_id, t, h, sum(v * coef) AS s
                FROM expl JOIN planes USING (d) GROUP BY vec_id, t, h),
       bucketed AS (SELECT vec_id, t,
                      string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
                    FROM proj GROUP BY vec_id, t),
       withemb AS (SELECT b.vec_id, b.t, b.bucket, e.embedding,
                     count(*) OVER (PARTITION BY b.t, b.bucket) AS bc
                   FROM bucketed b JOIN embeddings e USING (vec_id))"""

  /** DuckDB oracle for ivfTopK: same deterministic centroid choice
    * (vec_id < numCells), argmin assignment on the RAW similarity
    * (bit-identical across engines) with centroid-id tie-break, then
    * in-cell pairs and rounded-cosine rerank.
    */
  private def ivfTopKOracle(k: Int, numCells: Int): String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                       FROM embeddings ORDER BY vec_id LIMIT $numCells),
       scored AS (SELECT e.vec_id, c.cent_id,
           (SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(c.cent_emb) AS b))
           / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b)))
           / sqrt((SELECT sum(a * b) FROM (SELECT unnest(c.cent_emb) AS a, unnest(c.cent_emb) AS b))) AS sim
         FROM embeddings e CROSS JOIN cents c),
       cells AS (SELECT vec_id, cent_id AS cell FROM
           (SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cent_id ASC) AS rn FROM scored)
         WHERE rn = 1),
       mem AS (SELECT e.vec_id, c.cell, e.embedding
               FROM embeddings e JOIN cells c USING (vec_id)),
       pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4) AS cos_sim
         FROM mem q JOIN mem n ON q.cell = n.cell AND q.vec_id != n.vec_id),
       ranked AS (SELECT query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
         FROM pairs)
       SELECT query_id, rk, neighbor_id, cos_sim FROM ranked
       WHERE rk <= $k ORDER BY query_id, rk"""

  /** DuckDB oracle for pageRank: the iterations UNROLL into chained
    * CTEs r0..rN (each round is one LEFT JOIN of the previous ranks
    * onto the edge list plus a plain aggregate — no recursion needed).
    * `damping` is passed as SQL text so the literal matches the Spark
    * side's double exactly enough for the 6-decimal round.
    */
  private def pageRankOracle(iters: Int, damping: String): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n2.node,
            (1 - $damping) / nn.n + $damping * coalesce(c.s, 0.0) AS rank
          FROM nodes n2 CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS node, sum(p.rank / deg.outdeg) AS s
                     FROM e JOIN r${i - 1} p ON p.node = e.src
                          JOIN deg ON deg.src = e.src
                     GROUP BY e.dst) c ON c.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH eg AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
           's' || CAST(l.l_suppkey AS VARCHAR) AS s
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       e AS (SELECT c AS src, s AS dst FROM eg
             UNION ALL SELECT s, c FROM eg),
       deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
               FROM e GROUP BY src),
       nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
       $rounds
       SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
  }

  /** DuckDB oracle for semDedup: ivfTopKOracle's deterministic
    * first-N cells, then the in-cell ε-dominance drop (rounded
    * cent_sim rank, vec_id tie-break) with the bucket-size guard.
    */
  private def semDedupOracle(eps: Double, numCells: Int, maxBucket: Int): String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                       FROM embeddings ORDER BY vec_id LIMIT $numCells),
       scored AS (SELECT e.vec_id, c.cent_id,
           (SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(c.cent_emb) AS b))
           / sqrt((SELECT sum(a * b) FROM (SELECT unnest(e.embedding) AS a, unnest(e.embedding) AS b)))
           / sqrt((SELECT sum(a * b) FROM (SELECT unnest(c.cent_emb) AS a, unnest(c.cent_emb) AS b))) AS sim
         FROM embeddings e CROSS JOIN cents c),
       cells AS (SELECT vec_id, cent_id AS cell, round(sim, 4) AS cent_sim FROM
           (SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cent_id ASC) AS rn FROM scored)
         WHERE rn = 1),
       mem AS (SELECT e.vec_id, c.cell, c.cent_sim, e.embedding
               FROM embeddings e JOIN cells c USING (vec_id)),
       sz AS (SELECT cell, count(*) AS n FROM mem GROUP BY cell),
       dropped AS (SELECT DISTINCT a.vec_id FROM mem a
         JOIN mem b ON a.cell = b.cell
         JOIN sz s ON s.cell = a.cell
         WHERE s.n <= $maxBucket
           AND (b.cent_sim > a.cent_sim OR
                (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id))
           AND round((SELECT sum(x * y) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
                 / sqrt((SELECT sum(x * y) FROM (SELECT unnest(a.embedding) AS x, unnest(a.embedding) AS y)))
                 / sqrt((SELECT sum(x * y) FROM (SELECT unnest(b.embedding) AS x, unnest(b.embedding) AS y))), 4) >= $eps)
       SELECT m.vec_id, m.cell, m.cent_sim, d.vec_id IS NULL AS keep
       FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
       ORDER BY m.vec_id"""

  /** DuckDB oracle for semantic clusters: cosineDups' bucket-pair
    * CTEs feed dd06's recursive min-label closure. The WITH becomes
    * WITH RECURSIVE (legal even though only `reach` recurses).
    */
  /** The cluster computation as a reusable CTE chain ending in
    * `cc(node, cluster_id)` — sd02's oracle body, also composed by
    * pp09's packing replay.
    */
  private def semanticClustersCte(dim: Int, threshold: Double,
                                  nBits: Int, tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables).replaceFirst("WITH ", "WITH RECURSIVE ")},
       pairs AS (SELECT DISTINCT id_a, id_b FROM (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round((SELECT sum(a * b) FROM (SELECT unnest(x.embedding) AS a, unnest(y.embedding) AS b))
                   / sqrt((SELECT sum(a * b) FROM (SELECT unnest(x.embedding) AS a, unnest(x.embedding) AS b)))
                   / sqrt((SELECT sum(a * b) FROM (SELECT unnest(y.embedding) AS a, unnest(y.embedding) AS b))), 4) AS cos_sim
           FROM withemb x JOIN withemb y
             ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
                AND x.bc <= 10000)
         WHERE cos_sim >= $threshold),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(node, lab) AS (
         SELECT a, a FROM edges
         UNION
         SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
       cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)"""

  private def semanticClustersOracle(dim: Int, threshold: Double,
                                     nBits: Int, tables: Int): String =
    s"""${semanticClustersCte(dim, threshold, nBits, tables)}
       SELECT node, cluster_id FROM cc ORDER BY node"""

  /** DuckDB oracle for cosineDups: bucket-equi pairs per hash table,
    * DISTINCT across tables (the rounded cosine is deterministic).
    */
  private def cosineDupsOracle(dim: Int, threshold: Double, nBits: Int, tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables)}
       SELECT DISTINCT id_a, id_b, cos_sim FROM (
         SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           round((SELECT sum(a * b) FROM (SELECT unnest(x.embedding) AS a, unnest(y.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(x.embedding) AS a, unnest(x.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(y.embedding) AS a, unnest(y.embedding) AS b))), 4) AS cos_sim
         FROM withemb x JOIN withemb y
           ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
              AND x.bc <= 10000)
       WHERE cos_sim >= $threshold
       ORDER BY id_a, id_b"""

  /** DuckDB oracle for lshTopK: DISTINCT multi-table candidates, then
    * row_number re-ranking (on the ROUNDED cosine + id tie-break, like
    * the Spark side).
    */
  private def lshTopKOracle(dim: Int, k: Int, nBits: Int, tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables)},
       pairs AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4) AS cos_sim
         FROM withemb q JOIN withemb n
           ON q.t = n.t AND q.bucket = n.bucket AND q.vec_id != n.vec_id
              AND q.bc <= 10000),
       ranked AS (SELECT query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
         FROM pairs)
       SELECT query_id, rk, neighbor_id, cos_sim FROM ranked
       WHERE rk <= $k ORDER BY query_id, rk"""

  /** DuckDB oracle for the ANN (LSH-candidate) labelAgreement path:
    * lshTopKOracle's bucket + rerank CTEs, then the label join and
    * per-query agreement fraction.
    */
  private def annLabelAgreementOracle(dim: Int, k: Int, nBits: Int,
                                      tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables)},
       pairs AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4) AS cos_sim
         FROM withemb q JOIN withemb n
           ON q.t = n.t AND q.bucket = n.bucket AND q.vec_id != n.vec_id
              AND q.bc <= 10000),
       ranked AS (SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
         FROM pairs)
       SELECT r.query_id AS vec_id, ql.label,
         round(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE), 4) AS agreement
       FROM ranked r
       JOIN embeddings ql ON ql.vec_id = r.query_id
       JOIN embeddings nl ON nl.vec_id = r.neighbor_id
       WHERE r.rk <= $k
       GROUP BY 1, 2 ORDER BY vec_id"""

  /** DuckDB oracle for ml04: the ml02 bucket/rerank CTEs restricted to
    * the query slice, then knnClassify's majority vote (votes desc,
    * label asc tie-break) instead of the agreement aggregate.
    */
  private def annKnnClassifyOracle(dim: Int, k: Int, nBits: Int,
                                   tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables)},
       pairs AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4) AS cos_sim
         FROM withemb q JOIN withemb n
           ON q.t = n.t AND q.bucket = n.bucket AND q.vec_id != n.vec_id
              AND q.bc <= 10000
         WHERE q.vec_id < 100),
       ranked AS (SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
         FROM pairs),
       v AS (SELECT r.query_id, nl.label AS n_label,
           CAST(count(*) AS BIGINT) AS votes
         FROM ranked r JOIN embeddings nl ON nl.vec_id = r.neighbor_id
         WHERE r.rk <= $k GROUP BY 1, 2),
       best AS (SELECT * FROM (SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY votes DESC, n_label ASC) AS rn
         FROM v) WHERE rn = 1)
       SELECT b.query_id AS vec_id, ql.label, b.n_label AS pred, b.votes,
         b.n_label = ql.label AS correct
       FROM best b JOIN embeddings ql ON ql.vec_id = b.query_id
       ORDER BY vec_id"""

  /** DuckDB oracle for hn02: the ml02 bucket CTEs restricted to the
    * query slice, the label-differs filter on the candidate set, then
    * hn01's rounded-cosine ranking.
    */
  private def annHardNegativesOracle(dim: Int, k: Int, nBits: Int,
                                     tables: Int): String =
    s"""${bucketsCte(dim, nBits, tables)},
       pairs AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(n.embedding) AS b))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(q.embedding) AS a, unnest(q.embedding) AS b)))
                 / sqrt((SELECT sum(a * b) FROM (SELECT unnest(n.embedding) AS a, unnest(n.embedding) AS b))), 4) AS cos_sim
         FROM withemb q JOIN withemb n
           ON q.t = n.t AND q.bucket = n.bucket AND q.vec_id != n.vec_id
              AND q.bc <= 10000
         WHERE q.vec_id < 100),
       lab AS (SELECT p.query_id, p.neighbor_id, p.cos_sim,
           nl.label AS n_label
         FROM pairs p
         JOIN embeddings ql ON ql.vec_id = p.query_id
         JOIN embeddings nl ON nl.vec_id = p.neighbor_id
         WHERE nl.label != ql.label),
       ranked AS (SELECT query_id, neighbor_id, n_label, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rk
         FROM lab)
       SELECT query_id, rk, neighbor_id, n_label, cos_sim FROM ranked
       WHERE rk <= $k ORDER BY query_id, rk"""
}