package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NamedQuery, Tables}
import graft.ops.Curation

/** Corpus-curation operators as driver-verified queries: eval-set
  * decontamination, deterministic (stratified) sampling, reproducible
  * corpus shuffle, and sequence packing — the post-dedup stages of a
  * training-data pipeline. Every oracle reproduces the md5-keyed
  * determinism bit-for-bit (both engines emit lowercase hex md5, so
  * fixed-width hex string order == numeric order).
  */
object CurationOps {

  private def docs(s: SparkSession, d: String): DataFrame = {
    val df = Tables.load(s, d, "documents")
    val cores = s.sparkContext.defaultParallelism
    if (df.inputFiles.length < cores / 2) df.repartition(cores) else df
  }

  /** The landing the tokenized-landing gate family (pp16/pp18/pp19/
    * pp21) builds: whitespace tokens ranked by frequency into a
    * REPLAYABLE vocab (DuckDB can replay ids), packed into 128-id
    * sequences over 8 doc_id-mod shards. One builder, one truth —
    * the four gates read the SAME landing contract, so an edit here
    * moves all of them (and their shared oracle prefix below) or
    * none.
    */
  private def rankVocabLanding(s: SparkSession, d: String,
                               tag: String): String = {
    val ds = docs(s, d)
    val toks = ds.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val withId = Curation.rankIds(vocab, "id",
        col("n").desc, col("tok").asc)
      .select(col("tok"), col("id").cast("int").as("id"))
    val idsPerDoc = toks.join(broadcast(withId), "tok")
      .groupBy(col("doc_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("id")))),
        x => x("id")).as("ids"))
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    Curation.tokenizedLanding(idsPerDoc, tmp,
      pmod(col("doc_id"), lit(8)), col("ids"), seqLen = 128).count()
    tmp
  }

  /** DuckDB replay of rankVocabLanding's packing, through the packed
    * sequences (`sq`: shard, seq_id, ids_md5, n_ids) — the shared
    * prefix of the pp16/pp18/pp19/pp21 oracles.
    */
  private val packedSeqOracleCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
              w AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
                      toks FROM t),
              x AS (SELECT doc_id, pos, toks[pos] AS tok FROM w),
              v AS (SELECT tok, row_number() OVER (
                      ORDER BY count(*) DESC, tok) AS id
                    FROM x GROUP BY tok),
              i AS (SELECT doc_id, pos, id FROM x JOIN v USING (tok)),
              dl AS (SELECT doc_id, doc_id % 8 AS shard,
                       CAST(len(toks) AS BIGINT) AS n FROM t),
              st AS (SELECT doc_id, shard,
                       CAST(coalesce(sum(n) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS start_tok
                     FROM dl),
              e AS (SELECT st.shard,
                      (st.start_tok + i.pos - 1) // 128 AS seq_id,
                      (st.start_tok + i.pos - 1) % 128 AS seq_pos,
                      i.id
                    FROM i JOIN st USING (doc_id)),
              sq AS (SELECT CAST(shard AS BIGINT) AS shard,
                       CAST(seq_id AS BIGINT) AS seq_id,
                       md5(string_agg(CAST(id AS VARCHAR), ' '
                         ORDER BY seq_pos)) AS ids_md5,
                       CAST(count(*) AS BIGINT) AS n_ids
                     FROM e GROUP BY 1, 2)"""

  /** pp19 and pp21 must return byte-identical windows (the index is
    * the amortized form of the one-shot rank reader), so they share
    * ONE oracle verbatim; pp22 replays the same window for a
    * different epoch seed.
    */
  private def epochShuffleOracleFor(seed: String): String =
    packedSeqOracleCtes + s""",
              r AS (SELECT shard, seq_id, ids_md5, n_ids,
                      CAST(row_number() OVER (ORDER BY
                        md5('$seed:' || CAST(shard AS VARCHAR) || ':' ||
                          CAST(seq_id AS VARCHAR)),
                        shard, seq_id) - 1 AS BIGINT) AS step
                    FROM sq)
             SELECT step, shard, seq_id, ids_md5, n_ids
             FROM r WHERE step >= 5 AND step < 45
             ORDER BY step"""
  private val epochShuffleOracleSql: String = epochShuffleOracleFor("e1")

  // End-to-end training-data preparation: exact-dedup keepers →
  // exact-substring CUT (Lee et al. duplicate spans ≥ 16 tokens
  // removed from every occurrence — dd17 composed in, the modern
  // pipeline's span surgery, not just doc-level dedup) → eval-set
  // decontamination (13-gram vs every-97th doc) → per-lang
  // stratified sampling → leakage-safe split by source → per
  // (lang, split) doc/token counts. Every stage reuses an operator
  // already gated on its own (dd01/dd17/dc01/sp01/sp02), so the
  // oracle is a composition of proven fragments; outputs are exact
  // integers.
  private def pp02(s: SparkSession, d: String): DataFrame =
    pp02From(docs(s, d))

  /** The composed pipeline over any documents frame — shared by the
    * gate and PlanQualitySpec's "pp02 composed" plan pin. */
  def pp02From(ds: DataFrame): DataFrame = {
    val keep = graft.ops.Dedup.exact(ds).select(col("keep_id").as("doc_id"))
    // STAGE the deduped corpus before the multi-consumer cut: the
    // span surgery references its input several times (gram count +
    // join-back + token reassembly), and every reference would
    // otherwise re-run the dedup join over the raw table — the
    // recompute that multiplies into a dozen full-corpus scans at
    // 100 TB. localCheckpoint is the in-process analog of the landing
    // write a production pipeline puts between stages (pp10's shape).
    val deduped = ds.join(keep, "doc_id").localCheckpoint()
    // span surgery on the deduped survivors: duplicate ≥16-token
    // substrings (cross-doc or in-doc) are cut from every occurrence
    // BEFORE decontamination/sampling, so downstream token counts are
    // counts of text a trainer would actually see
    val cut = graft.ops.Dedup.dropExactSubstrings(deduped, minSpan = 16)
    // second stage boundary: the cut corpus feeds decontamination
    // (grams + join-back), sampling, splitting, and the final stats
    val cutDocs = deduped.drop("text")
      .join(cut.select(col("doc_id"), col("clean_text").as("text")), "doc_id")
      .localCheckpoint()
    // the eval stand-in keeps its RAW text — a benchmark set is
    // external and does not get surgery
    val eval = ds.filter(col("doc_id") % 97 === 0)
    val clean = graft.ops.Curation.decontaminate(cutDocs, eval, n = 13)
    val sampled = graft.ops.Curation.stratifiedSample(clean, col("lang"),
      col("doc_id"), Map("en" -> 0.5, "zh" -> 1.0), defaultRate = 0.25)
    graft.ops.Curation.groupSplit(sampled, col("source"), 0.6, 0.2)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("lang", "split")
  }

  // DuckDB word n-grams mirroring graft.functions.WordShingles for
  // k = 13: split on single space (empties kept), grams i..min(i+k,m),
  // short docs collapse to one whole-text gram, per-doc distinct.
  private val duckGrams13 =
    """list_distinct(list_transform(
         range(1, greatest(len(string_split(text, ' ')) - 12, 1) + 1),
         i -> array_to_string((string_split(text, ' '))[i:i+12], ' ')))"""

  val queries: Seq[NamedQuery] = Seq(

    NamedQuery("pp02_training_pipeline",
      (s, d) => pp02(s, d),
      Some(s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
                             GROUP BY md5(lower(trim(text)))),
              ded AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
              toks AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'),
                    t -> len(t) > 0) AS tk FROM ded),
              sst AS (SELECT doc_id, tk,
                  unnest(CASE WHEN len(tk) >= 16 THEN range(0, len(tk) - 15)
                         ELSE CAST([] AS BIGINT[]) END) AS s
                FROM toks),
              sgrams AS (SELECT doc_id, s,
                  md5(array_to_string(tk[s + 1:s + 16], ' ')) AS gh FROM sst),
              sdup AS (SELECT gh FROM sgrams GROUP BY gh
                       HAVING count(*) >= 2),
              cov AS (SELECT DISTINCT doc_id, p FROM
                      (SELECT g.doc_id, unnest(range(g.s, g.s + 16)) AS p
                       FROM sgrams g JOIN sdup USING (gh))),
              tokpos AS (SELECT doc_id,
                  CAST(generate_subscripts(tk, 1) AS BIGINT) - 1 AS pos,
                  unnest(tk) AS tok FROM toks),
              kept AS (SELECT t.doc_id,
                  string_agg(t.tok, ' ' ORDER BY t.pos) AS ctext
                FROM tokpos t
                WHERE NOT EXISTS (SELECT 1 FROM cov c
                                  WHERE c.doc_id = t.doc_id AND c.p = t.pos)
                GROUP BY t.doc_id),
              ded2 AS (SELECT d.doc_id, d.lang, d.source,
                  coalesce(k.ctext, '') AS text
                FROM ded d LEFT JOIN kept k USING (doc_id)),
              grams AS (SELECT doc_id, unnest($duckGrams13) AS g FROM ded2),
              eval_grams AS (SELECT DISTINCT g FROM (
                  SELECT doc_id, unnest($duckGrams13) AS g FROM documents)
                WHERE doc_id % 97 = 0),
              contaminated AS (SELECT DISTINCT doc_id FROM grams
                WHERE g IN (SELECT g FROM eval_grams)),
              clean AS (SELECT * FROM ded2
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
              sampled AS (SELECT * FROM clean
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang WHEN 'en' THEN '${Curation.hexThreshold(0.5)}'
                            WHEN 'zh' THEN '${Curation.hexThreshold(1.0)}'
                            ELSE '${Curation.hexThreshold(0.25)}' END),
              splitted AS (SELECT lang, text,
                  CASE WHEN substr(md5('split#' || source), 1, 8)
                         < '${Curation.hexThreshold(0.6)}' THEN 'train'
                       WHEN substr(md5('split#' || source), 1, 8)
                         < '${Curation.hexThreshold(0.8)}' THEN 'valid'
                       ELSE 'test' END AS split
                FROM sampled)
             SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM splitted GROUP BY 1, 2 ORDER BY lang, split""")),

    // length-quantile bucketing for padding-efficient batching: 8
    // near-equal bands from one exact-percentile aggregate, assignment
    // as a literal-folded scan (no ntile: a global ntile window would
    // serialize the corpus through a single task). The oracle replays
    // the same cut points via quantile_cont (exact binary fractions at
    // nBuckets = 8, so the literals round-trip exactly).
    NamedQuery("pk02_length_buckets",
      (s, d) => Curation.lengthBuckets(docs(s, d), nBuckets = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents),
              c AS (SELECT quantile_cont(n_tokens,
                    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cuts FROM t)
             SELECT doc_id, n_tokens,
               CAST(len(list_filter(c.cuts, x -> n_tokens > x)) AS INT) AS bucket
             FROM t, c ORDER BY doc_id""")),

    // pk03: the attention-mask sidecar of pp16's packing — per packed
    // sequence, the contiguous doc spans that fill it (block-diagonal
    // attention needs the boundaries; the packed ids alone lose them).
    // Doc-granular: one per-shard offset window + a ≤ len/128+1
    // sequence explode per doc — cheaper than the packing it
    // annotates. The oracle replays offsets and span clipping in
    // DuckDB exactly.
    NamedQuery("pk03_pack_doc_spans",
      (s, d) => Curation.packDocSpans(docs(s, d),
          pmod(col("doc_id"), lit(8)), split(col("text"), " "), seqLen = 128)
        .orderBy("shard", "seq_id", "span_idx"),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                  FROM documents),
              p AS (SELECT doc_id, shard, len,
                    CAST(coalesce(sum(len) OVER (
                      PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS st
                  FROM t),
              sp AS (SELECT shard, doc_id, st, len,
                    unnest(range(st // 128, (st + len - 1) // 128 + 1)) AS seq_id
                  FROM p WHERE len > 0)
             SELECT CAST(shard AS BIGINT) AS shard,
               CAST(seq_id AS BIGINT) AS seq_id,
               CAST(row_number() OVER (PARTITION BY shard, seq_id
                 ORDER BY greatest(st - seq_id * 128, 0)) - 1 AS BIGINT)
                 AS span_idx,
               doc_id,
               CAST(greatest(st - seq_id * 128, 0) AS BIGINT) AS start_pos,
               CAST(least(st + len, (seq_id + 1) * 128)
                 - greatest(st, seq_id * 128) AS BIGINT) AS span_len
             FROM sp ORDER BY shard, seq_id, span_idx""")),

    // contamination: train = documents, eval = every 97th doc (a
    // deterministic benchmark-set stand-in, doc_ids 0,97,...,485).
    // Eval docs are contaminated by construction (they ARE in train);
    // near-dup neighbors sharing a 13-gram get flagged too.
    NamedQuery("dc01_decontaminate",
      (s, d) => {
        val train = docs(s, d)
        val eval = train.filter(col("doc_id") % 97 === 0)
        Curation.contamination(train, eval, n = 13).orderBy("doc_id")
      },
      Some(s"""WITH grams AS (SELECT doc_id, unnest($duckGrams13) AS g
                              FROM documents),
              eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
              SELECT doc_id, count(*) AS shared_grams
              FROM grams WHERE g IN (SELECT g FROM eval_grams)
              GROUP BY doc_id ORDER BY doc_id""")),

    // dc03: contamination attribution — (train doc, eval doc,
    // shared_grams) pairs, the evidence trail behind dc01's verdicts
    NamedQuery("dc03_contamination_attribution",
      (s, d) => {
        val train = docs(s, d)
        val eval = train.filter(col("doc_id") % 97 === 0)
        Curation.contaminationAttribution(train, eval, n = 13)
          .orderBy("train_doc_id", "eval_doc_id")
      },
      Some(s"""WITH grams AS (SELECT doc_id, unnest($duckGrams13) AS g
                              FROM documents),
              eval_grams AS (SELECT DISTINCT doc_id AS eval_doc_id, g
                             FROM grams WHERE doc_id % 97 = 0)
              SELECT t.doc_id AS train_doc_id, e.eval_doc_id,
                count(*) AS shared_grams
              FROM grams t JOIN eval_grams e USING (g)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // dc02: Bloom-prefiltered decontamination — the corpus pass counts
    // eval-gram Bloom hits inside a per-row projection (zero per-gram
    // rows, zero shuffle for the clean bulk); only flagged docs get
    // dc01's exact verify, so the verdict is exact and the oracle is
    // dc01's own SQL. bloom_no_fn pins the no-false-negative guarantee.
    NamedQuery("dc02_bloom_decontaminate",
      (s, d) => {
        val train = docs(s, d)
        val eval = train.filter(col("doc_id") % 97 === 0)
        Curation.bloomDecontaminate(train, eval, n = 13).orderBy("doc_id")
      },
      Some(s"""WITH grams AS (SELECT doc_id, unnest($duckGrams13) AS g
                              FROM documents),
              eval_grams AS (SELECT DISTINCT g FROM grams
                             WHERE doc_id % 97 = 0),
              c AS (SELECT DISTINCT doc_id FROM grams
                    WHERE g IN (SELECT g FROM eval_grams))
             SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated,
               true AS bloom_no_fn
             FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
             ORDER BY d.doc_id""")),

    // stratified deterministic sampling: per-language keep rates keyed
    // on md5(doc_id) — no RNG, so the oracle reproduces the exact
    // sample. Also exercises the plain hashSample threshold math (the
    // 'de' rate of 1.0 keeps every German doc via the 'g' sentinel).
    NamedQuery("sp01_stratified_sample",
      (s, d) => Curation.stratifiedSample(docs(s, d), col("lang"),
          col("doc_id"), Map("en" -> 0.25, "de" -> 1.0, "fr" -> 0.5))
        .select(col("doc_id"), col("lang")).orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
               CASE lang WHEN 'en' THEN '40000000'
                         WHEN 'de' THEN 'g'
                         WHEN 'fr' THEN '80000000'
                         ELSE '00000000' END
             ORDER BY doc_id""")),

    // weighted sample without replacement: top-20 docs by the
    // Efraimidis–Spirakis key ln(u)/n_chars, u from the md5 draw —
    // longer docs proportionally more likely, zero RNG, one
    // TakeOrdered
    NamedQuery("ws01_weighted_sample",
      (s, d) => Curation.weightedSample(docs(s, d), col("n_chars"),
          col("doc_id"), k = 20)
        .select(col("doc_id"), col("n_chars"), col("es_key"))
        .orderBy(col("es_key").desc, col("doc_id")),
      Some("""SELECT doc_id, n_chars,
               round(ln((CAST('0x' || substr(md5('ws1#' || CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) + 1) / 4294967296.0) / n_chars, 6) AS es_key
             FROM documents
             ORDER BY es_key DESC, doc_id LIMIT 20""")),

    // token-budget mixture: sample langs down to a 50/30/20 token
    // recipe (n_chars as the token weight). The oracle replays the
    // ENTIRE plan — totals, binding-stratum budget, rates, and the
    // exact hexThreshold quantization (floor(r*2^32 + 0.5) clamped,
    // = Scala math.round) — so membership matches bit-for-bit
    NamedQuery("mx02_token_mixture",
      (s, d) => Curation.mixToTokenBudget(docs(s, d), col("lang"),
          col("doc_id"), Map("en" -> 0.5, "zh" -> 0.3, "fr" -> 0.2),
          tokens = col("n_chars").cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_tokens"))
        .orderBy("lang"),
      Some("""WITH t AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tt
                 FROM documents WHERE lang IN ('en', 'zh', 'fr') GROUP BY 1),
              b AS (SELECT min(tt / CASE lang WHEN 'en' THEN 0.5
                     WHEN 'zh' THEN 0.3 ELSE 0.2 END) AS budget FROM t),
              r AS (SELECT lang, least(1.0, (CASE lang WHEN 'en' THEN 0.5
                     WHEN 'zh' THEN 0.3 ELSE 0.2 END) * budget / tt) AS rate
                    FROM t, b),
              th AS (SELECT lang, CASE WHEN rate >= 1.0 THEN 'g'
                       ELSE lpad(lower(to_hex(CAST(least(
                         floor(rate * 4294967296.0 + 0.5),
                         4294967295.0) AS BIGINT))), 8, '0') END AS thr
                     FROM r),
              kept AS (SELECT d.doc_id, d.lang, d.n_chars
                       FROM documents d JOIN th ON d.lang = th.lang
                       WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_tokens
             FROM kept GROUP BY lang ORDER BY lang""")),

    // mx03: temperature mixture (alpha = 0.5 → sqrt, IEEE-correctly-
    // rounded on every engine) — tail languages keep a HIGHER rate
    // than head languages; the oracle replays counts, the ordered
    // power sum, rates, and the exact hexThreshold quantization
    NamedQuery("mx03_temperature_mixture",
      (s, d) => Curation.temperatureMixture(docs(s, d), col("lang"),
          col("doc_id"), alpha = 0.5, budgetDocs = 600)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .orderBy("lang"),
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                 FROM documents GROUP BY 1),
              ps AS (SELECT sum(sqrt(CAST(n AS DOUBLE)) ORDER BY lang) AS psum
                     FROM c),
              r AS (SELECT lang,
                      least(1.0, 600 * (sqrt(CAST(n AS DOUBLE)) / psum) / n)
                        AS rate
                    FROM c, ps),
              th AS (SELECT lang, CASE WHEN rate >= 1.0 THEN 'g'
                       ELSE lpad(lower(to_hex(CAST(least(
                         floor(rate * 4294967296.0 + 0.5),
                         4294967295.0) AS BIGINT))), 8, '0') END AS thr
                     FROM r),
              kept AS (SELECT d.doc_id, d.lang
                       FROM documents d JOIN th ON d.lang = th.lang
                       WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
             FROM kept GROUP BY lang ORDER BY lang""")),

    // deterministic N-per-group cap: 10 docs per language by lowest
    // md5 draw — balanced subsets with zero RNG, oracle replays the
    // identical ranking
    NamedQuery("sp04_sample_per_group",
      (s, d) => Curation.samplePerGroup(docs(s, d), col("lang"),
          col("doc_id"), n = 10)
        .select(col("doc_id"), col("lang")).orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
               SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
                 ORDER BY md5('spg#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents) WHERE rk <= 10 ORDER BY doc_id""")),

    // bl01: blocklist phrase filter — literal length-delta counting
    // (no regex), keep when total hits <= 20; stopword "phrases"
    // exercise the machinery deterministically on the clean corpus
    NamedQuery("bl01_blocklist",
      (s, d) => Curation.blocklistFilter(docs(s, d),
          phrases = Seq("the", "and", "data"), maxHits = 20)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
               CAST((length(lower(text)) -
                 length(replace(lower(text), 'the', ''))) / 3 AS INT) AS hits_0,
               CAST((length(lower(text)) -
                 length(replace(lower(text), 'and', ''))) / 3 AS INT) AS hits_1,
               CAST((length(lower(text)) -
                 length(replace(lower(text), 'data', ''))) / 4 AS INT) AS hits_2,
               CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
                 + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
                 + (length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4
                 AS INT) AS n_hits,
               ((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3
                 + (length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3
                 + (length(lower(text)) - length(replace(lower(text), 'data', ''))) / 4)
                 <= 20 AS keep
             FROM documents ORDER BY doc_id""")),

    // bl02: the LARGE-blocklist scale path — the same filter through
    // ONE Aho-Corasick automaton pass (native MultiMatch expression)
    // instead of per-phrase expressions; 8 border-free phrases here so
    // the oracle's non-overlapping replace-count equals AC's
    // all-occurrences count exactly (overlap semantics only diverge
    // when a phrase has a proper border). n_phrases adds the
    // distinct-phrases readout the per-phrase form gets for free.
    NamedQuery("bl02_blocklist_ac",
      (s, d) => Curation.blocklistFilterLarge(docs(s, d),
          phrases = Seq("spark", "query", "table", "join",
            "data", "merge", "shuffle", "index"),
          maxHits = 20)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
              c AS (SELECT doc_id,
                      list_transform(['spark','query','table','join',
                                      'data','merge','shuffle','index'],
                        ph -> (length(lt) - length(replace(lt, ph, '')))
                                // length(ph)) AS hits
                    FROM t)
             SELECT doc_id, CAST(list_sum(hits) AS BIGINT) AS n_hits,
               CAST(len(list_filter(hits, h -> h > 0)) AS INT) AS n_phrases,
               list_sum(hits) <= 20 AS keep
             FROM c ORDER BY doc_id""")),

    // sp05: DSIR-style importance selection — target = the English
    // slice, raw = the whole corpus; 256 md5-hex buckets, add-1/2
    // multinomials, per-doc log ratio sum, exact-percentile cut. The
    // oracle replays buckets, smoothing, ratios, and quantile_cont.
    NamedQuery("sp05_dsir_select",
      (s, d) => {
        val ds = docs(s, d)
        Curation.dsirSelect(ds, ds.filter(col("lang") === "en"), frac = 0.2)
          .orderBy("doc_id")
      },
      Some("""WITH dom AS (SELECT printf('%02x', i) AS b FROM range(256) t(i)),
             tok0 AS (SELECT doc_id,
                 unnest(list_filter(string_split_regex(text, '\s+'),
                   x -> len(x) > 0)) AS tok
               FROM documents),
             ctok AS (SELECT doc_id, substr(md5(tok), 1, 2) AS b FROM tok0),
             ttok AS (SELECT c.b FROM ctok c JOIN documents d USING (doc_id)
                      WHERE d.lang = 'en'),
             ct AS (SELECT dom.b, coalesce(x.c, 0) AS ct FROM dom
                    LEFT JOIN (SELECT b, count(*) AS c FROM ttok GROUP BY b) x
                      USING (b)),
             cr AS (SELECT dom.b, coalesce(x.c, 0) AS cr FROM dom
                    LEFT JOIN (SELECT b, count(*) AS c FROM ctok GROUP BY b) x
                      USING (b)),
             tot AS (SELECT (SELECT sum(ct) FROM ct) AS tt,
                            (SELECT sum(cr) FROM cr) AS tr),
             ratio AS (SELECT ct.b,
                 ln((ct.ct + 0.5) / (tot.tt + 128.0)) -
                 ln((cr.cr + 0.5) / (tot.tr + 128.0)) AS r
               FROM ct JOIN cr USING (b) CROSS JOIN tot),
             sc AS (SELECT c.doc_id, CAST(count(*) AS INT) AS n_tokens,
                 round(sum(ratio.r), 4) AS log_w
               FROM ctok c JOIN ratio ON ratio.b = c.b GROUP BY c.doc_id),
             spine AS (SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
                 coalesce(sc.log_w, 0.0) AS log_w
               FROM documents d LEFT JOIN sc USING (doc_id)),
             thr AS (SELECT quantile_cont(log_w, 0.8) AS t FROM spine)
             SELECT doc_id, n_tokens, log_w, log_w >= thr.t AS selected
             FROM spine CROSS JOIN thr ORDER BY doc_id""")),

    // PII redaction: the corpus has no PII by construction, so the
    // gate WEAVES deterministic emails/phones/IPs (derived from
    // doc_id) into every doc on BOTH engines, then compares counts
    // and the md5 of the redacted text — the regex pipeline itself is
    // what's hash-compared (patterns live in the common Java/RE2
    // subset; Curation.Pii* constants are replayed verbatim in SQL)
    NamedQuery("pii01_redact",
      (s, d) => {
        val withPii = docs(s, d).withColumn("text", concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or call +1 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 7) % 256).cast("string")))
        Curation.redactPii(withPii)
          .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
            md5(col("redacted")).as("red_hash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                   '@mail.example.com or call +1 555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                   ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                   '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
               FROM documents)
             SELECT doc_id,
               CAST(len(regexp_extract_all(text, '${Curation.PiiEmail}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, '${Curation.PiiIp}')) AS INT) AS n_ip,
               CAST(len(regexp_extract_all(text, '${Curation.PiiPhone}')) AS INT) AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '${Curation.PiiEmail}', '<EMAIL>', 'g'),
                 '${Curation.PiiIp}', '<IP>', 'g'),
                 '${Curation.PiiPhone}', '<PHONE>', 'g')) AS red_hash
             FROM t ORDER BY doc_id""")),

    // domain mix report over synthesized (deterministic) URLs: host
    // via Spark's native parse_url with www-folding, per-registrable-
    // domain doc counts and corpus share — the oracle rebuilds the
    // same URLs and parses with regexp (no parse_url in DuckDB)
    NamedQuery("url01_domains",
      (s, d) => {
        val url = concat(lit("https://"),
          when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
          lit("host"), (col("doc_id") % 50).cast("string"), lit("."),
          element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
            (col("doc_id") % 4).cast("int") + 1),
          lit("/p/"), col("doc_id").cast("string"))
        Curation.domainProfile(docs(s, d).withColumn("url", url), col("url"))
          .orderBy("host")
      },
      Some("""WITH u AS (SELECT doc_id,
                 'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
                   'host' || CAST(doc_id % 50 AS VARCHAR) || '.' ||
                   CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                        WHEN 2 THEN 'net' ELSE 'io' END ||
                   '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
              h AS (SELECT regexp_replace(regexp_extract(url, '://([^/]+)', 1),
                      '^www\.', '') AS host FROM u),
              g AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs
                    FROM h GROUP BY 1),
              t AS (SELECT sum(n_docs) AS tot FROM g)
             SELECT host, regexp_extract(host, '\.([a-z]+)$', 1) AS tld,
               n_docs, round(n_docs / CAST(tot AS DOUBLE), 6) AS share
             FROM g, t ORDER BY host""")),

    // uc01: URL canonicalization over synthesized messy URLs — upper-
    // case scheme/host, default :80 ports, utm_/fbclid/gclid params in
    // first/middle/last positions, fragments. The oracle replays each
    // regexp pass (RE2-compatible patterns; DuckDB replacement syntax
    // uses \1 where Spark uses $1)
    NamedQuery("uc01_canonical_urls",
      (s, d) => {
        val url = concat(
          lit("HTTP://WWW.Host"), (col("doc_id") % 20).cast("string"), lit(".COM"),
          when(col("doc_id") % 4 === 0, lit(":80")).otherwise(lit("")),
          lit("/Path/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=x&q=1&utm_medium=y"))
            .when(col("doc_id") % 3 === 1, lit("?fbclid=abc123"))
            .otherwise(lit("?q=1&gclid=z")),
          when(col("doc_id") % 5 === 0, lit("#Frag")).otherwise(lit("")))
        Curation.canonicalizeUrl(docs(s, d).withColumn("url", url), col("url"))
          .select(col("doc_id"), col("canonical_url")).orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
                 'HTTP://WWW.Host' || CAST(doc_id % 20 AS VARCHAR) || '.COM' ||
                   CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END ||
                   '/Path/' || CAST(doc_id AS VARCHAR) ||
                   CASE doc_id % 3 WHEN 0 THEN '?utm_source=x&q=1&utm_medium=y'
                        WHEN 1 THEN '?fbclid=abc123' ELSE '?q=1&gclid=z' END ||
                   CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END AS url
               FROM documents),
              s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS x FROM u),
              s2 AS (SELECT doc_id,
                 lower(regexp_extract(x, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
                   regexp_replace(x, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')
                   AS x FROM s1),
              s3 AS (SELECT doc_id, regexp_replace(regexp_replace(x,
                 '^(http://[^/:?#]+):80([/?#].*)?$', '\1\2'),
                 '^(https://[^/:?#]+):443([/?#].*)?$', '\1\2') AS x FROM s2),
              s4 AS (SELECT doc_id, regexp_replace(x,
                 '[?&](utm_[^=&#]*|fbclid|gclid)=[^&#]*', '', 'g') AS x FROM s3),
              s5 AS (SELECT doc_id,
                 regexp_replace(regexp_replace(x, '^([^?&]*)&', '\1?'), '\?$', '')
                   AS x FROM s4)
             SELECT doc_id, x AS canonical_url FROM s5 ORDER BY doc_id""")),

    // leakage-safe split: keyed on `source`, so every doc from a
    // domain lands on one side — near-dups inside a domain can never
    // straddle train/test. The oracle replays the same md5 draw and
    // thresholds (interpolated from the identical hexThreshold math).
    NamedQuery("sp02_group_split",
      (s, d) => Curation.groupSplit(docs(s, d), col("source"),
          trainFrac = 0.6, validFrac = 0.2)
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source,
               CASE WHEN substr(md5('split#' || source), 1, 8)
                      < '${Curation.hexThreshold(0.6)}' THEN 'train'
                    WHEN substr(md5('split#' || source), 1, 8)
                      < '${Curation.hexThreshold(0.8)}' THEN 'valid'
                    ELSE 'test' END AS split
              FROM documents ORDER BY doc_id""")),

    // deterministic corpus shuffle: a reproducible training-order
    // permutation (sort by md5(seed # doc_id), number 1..N via
    // zipWithIndex — no single-partition window). The oracle replays
    // the order with row_number.
    NamedQuery("sh01_det_shuffle",
      (s, d) => Curation.deterministicShuffle(docs(s, d),
          col("doc_id"), seed = "round7")
        .select(col("pos"), col("doc_id"), col("lang")).orderBy("pos"),
      Some("""SELECT row_number() OVER (
                ORDER BY md5('round7#' || CAST(doc_id AS VARCHAR)),
                         CAST(doc_id AS VARCHAR)) AS pos,
                doc_id, lang
             FROM documents ORDER BY pos""")),

    // domain-mixture application: weight en down to 0.4 (too dominant
    // at 218/500 docs), zh up to 2.5 (2 full copies + a deterministic
    // half), de stays 1.0, default 1.0 covers es/fr. The `copy` index
    // disambiguates replicas for downstream shuffling.
    NamedQuery("mx01_mix_corpus",
      (s, d) => Curation.mixCorpus(docs(s, d), col("lang"), col("doc_id"),
          Map("en" -> 0.4, "zh" -> 2.5, "de" -> 1.0))
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy"),
      Some("""WITH n AS (SELECT doc_id, lang,
                CASE lang
                  WHEN 'en' THEN
                    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              < '66666666' THEN 1 ELSE 0 END
                  WHEN 'zh' THEN
                    2 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              < '80000000' THEN 1 ELSE 0 END
                  ELSE 1 END AS copies
              FROM documents)
              SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy
              FROM n ORDER BY doc_id, copy""")),

    // sequence packing: 8 hash shards, 256-token context windows;
    // each doc's pack id + offset in the shard's concatenated token
    // stream (crossing allowed — concatenate-then-chunk).
    NamedQuery("pk01_pack_sequences",
      (s, d) => Curation.packSequences(docs(s, d), pmod(col("doc_id"), lit(8)),
          window = 256).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents),
              c AS (SELECT doc_id, shard, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS start_tok
                  FROM t)
              SELECT doc_id, shard, n_tokens,
                CAST(start_tok // 256 AS BIGINT) AS pack_id,
                CAST(start_tok % 256 AS BIGINT) AS offset_in_pack
              FROM c ORDER BY doc_id""")),

    // pp10: shard MATERIALIZATION — the writer that lands the training
    // mix (the stage the pipeline previously stopped short of):
    // deterministic order (sh01's md5 shuffle), token-budgeted shard
    // boundaries (bucketed prefix sum — pk01's running-sum rule at
    // shard granularity, never a global window), one
    // partitionBy(shard) parquet write (bb01's layout), manifest
    // derived from the LANDED files (read-back, so the gate's rows
    // prove bytes on disk). The oracle replays order, running sum and
    // integer shard boundaries; ShardMaterializeSpec asserts the
    // filesystem side (per-shard dirs/files, row-count roundtrip).
    NamedQuery("pp10_shard_materialize",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp10").toString
        Curation.shardMaterialize(docs(s, d), tmp, col("doc_id"),
          seed = "pp10", budgetTokens = 8000L)
      },
      Some("""WITH t AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp10#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents),
              c AS (SELECT pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS start_tok
                  FROM t)
             SELECT CAST(start_tok // 8000 AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(pos) AS BIGINT) AS pos_min,
               CAST(max(pos) AS BIGINT) AS pos_max
             FROM c GROUP BY 1 ORDER BY shard""")),

    // pp12: incremental shard APPEND — land 80% of the corpus, then
    // append the remaining 20% as a second batch: the new shards
    // number PAST the landed max, positions continue past the landed
    // max, and no landed shard is rewritten (the spec asserts phase-1
    // files byte-stable). The oracle replays BOTH phases: two
    // independent md5 orders + running sums, phase-2 boundaries
    // offset by phase-1's maxima.
    NamedQuery("pp12_shard_append",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp12").toString
        val ds = docs(s, d)
        Curation.shardMaterialize(ds.filter(col("doc_id") % 5 =!= 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L).count()
        Curation.shardAppend(ds.filter(col("doc_id") % 5 === 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L)
      },
      Some("""WITH t1 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 <> 0),
              c1 AS (SELECT pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t1),
              m1 AS (SELECT max(shard) AS mxs, max(pos) AS mxp FROM c1),
              t2 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 = 0),
              c2 AS (SELECT pos + (SELECT mxp FROM m1) AS pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT)
                      + (SELECT mxs FROM m1) + 1 AS shard
                  FROM t2),
              u AS (SELECT shard, pos, n_tokens FROM c1
                    UNION ALL SELECT shard, pos, n_tokens FROM c2)
             SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(pos) AS BIGINT) AS pos_min,
               CAST(max(pos) AS BIGINT) AS pos_max
             FROM u GROUP BY 1 ORDER BY shard""")),

    // st12: STREAMING shard landing — continuous arrival lands
    // directly in pp10's training-mix layout (the rolling-crawl
    // ending of the pipeline). Three mtime-ordered document
    // file-batches stream through foreachBatch (maxFilesPerTrigger=1,
    // st08's fixture discipline); each plans with pp10's shard
    // planner, offsets by the guard-file watermarks, and lands under
    // its own batch=<id> dir (crash-replay overwrites byte-identical
    // — the exactly-once contract unit-tested in
    // ShardMaterializeSpec). Output: the landed manifest per
    // (shard, batch) — shards never span batches by construction, so
    // the oracle replays the three phases with chained offsets.
    NamedQuery("st12_shard_landing",
      (s, d) => {
        val ds = docs(s, d).select(col("doc_id"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("st12").toString
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        Seq(0, 1, 2).foreach { i =>
          val stage = s"$tmp/stage_$i"
          ds.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(src, s"b$i.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + i * 600000L)
        }
        val q = graft.streaming.CorpusStream.shardLandingIngest(
          s.readStream.schema(ds.schema).option("maxFilesPerTrigger", 1)
            .parquet(src.toString),
          s"$tmp/landing", s"$tmp/ck", col("doc_id"), "st12", 8000L)
        q.processAllAvailable(); q.stop()
        s.read.parquet(s"$tmp/landing")
          .groupBy(col("shard").cast("long").as("shard"),
            col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("pos")).as("pos_min"),
            max(col("pos")).as("pos_max"))
          .orderBy("shard")
      },
      Some("""WITH t0 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('st12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 3 = 0),
              c0 AS (SELECT 0 AS batch, pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t0),
              m0 AS (SELECT max(shard) AS s, max(pos) AS p FROM c0),
              t1 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('st12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 3 = 1),
              c1 AS (SELECT 1 AS batch, pos + (SELECT p FROM m0) AS pos,
                    n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT)
                      + (SELECT s FROM m0) + 1 AS shard
                  FROM t1),
              m1 AS (SELECT max(shard) AS s, max(pos) AS p FROM c1),
              t2 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('st12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 3 = 2),
              c2 AS (SELECT 2 AS batch, pos + (SELECT p FROM m1) AS pos,
                    n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT)
                      + (SELECT s FROM m1) + 1 AS shard
                  FROM t2),
              u AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1
                    UNION ALL SELECT * FROM c2)
             SELECT CAST(shard AS BIGINT) AS shard,
               CAST(batch AS BIGINT) AS batch,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(pos) AS BIGINT) AS pos_min,
               CAST(max(pos) AS BIGINT) AS pos_max
             FROM u GROUP BY 1, 2 ORDER BY shard""")),

    // pp13: landing COMPACTION — rebuild pp12's two-phase landing
    // (materialize 80% + append 20%: many small files, incl. the
    // append's own per-shard files), then compact to one file per
    // shard. The gate output is the COMPACTED landing's manifest and
    // the oracle is pp12's replay VERBATIM — manifest invariance
    // through the rewrite is the whole data contract (im07's
    // compaction-roundtrip rule applied to the landing); the
    // file-count side is asserted in ShardMaterializeSpec.
    NamedQuery("pp13_compact_landing",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp13").toString
        val ds = docs(s, d)
        Curation.shardMaterialize(ds.filter(col("doc_id") % 5 =!= 0),
          s"$tmp/landing", col("doc_id"), seed = "pp12",
          budgetTokens = 8000L).count()
        Curation.shardAppend(ds.filter(col("doc_id") % 5 === 0),
          s"$tmp/landing", col("doc_id"), seed = "pp12",
          budgetTokens = 8000L).count()
        Curation.compactLanding(s, s"$tmp/landing", s"$tmp/compact",
          filesPerShard = 1)
      },
      Some("""WITH t1 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 <> 0),
              c1 AS (SELECT pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t1),
              m1 AS (SELECT max(shard) AS mxs, max(pos) AS mxp FROM c1),
              t2 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 = 0),
              c2 AS (SELECT pos + (SELECT mxp FROM m1) AS pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT)
                      + (SELECT mxs FROM m1) + 1 AS shard
                  FROM t2),
              u AS (SELECT shard, pos, n_tokens FROM c1
                    UNION ALL SELECT shard, pos, n_tokens FROM c2)
             SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(pos) AS BIGINT) AS pos_min,
               CAST(max(pos) AS BIGINT) AS pos_max
             FROM u GROUP BY 1 ORDER BY shard""")),

    // pp14: targeted ERASURE from a landing — the right-to-be-
    // forgotten remover for the append-only layout: land the corpus,
    // then erase every 50th doc; only the shards containing them
    // rewrite (spec snapshots the untouched dirs), shard numbering
    // and surviving positions preserved. The oracle replays the
    // ORIGINAL plan (order, cumsum, boundaries over ALL docs) and
    // filters the erased ids out afterwards — exactly what a
    // shard-local rewrite must equal.
    NamedQuery("pp14_erase_from_landing",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp14").toString
        val ds = docs(s, d)
        Curation.shardMaterialize(ds, tmp, col("doc_id"),
          seed = "pp10", budgetTokens = 8000L).count()
        Curation.eraseFromLanding(s, tmp,
          ds.filter(col("doc_id") % 50 === 0).select(col("doc_id")))
      },
      Some("""WITH t AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp10#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents),
              c AS (SELECT doc_id, pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t)
             SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(pos) AS BIGINT) AS pos_min,
               CAST(max(pos) AS BIGINT) AS pos_max
             FROM c WHERE doc_id % 50 <> 0
             GROUP BY 1 ORDER BY shard""")),

    // pp15: landing VALIDATION — the pre-training fsck: land the
    // corpus through the two-phase append path (the most invariants
    // in play), validate, and pin the all-green verdict frame. Each
    // check re-derives a writer invariant from the landed bytes
    // (positions partition 1..N, shards contiguous, shard pos-ranges
    // tile, token metadata matches a recount, doc ids unique).
    NamedQuery("pp15_validate_landing",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp15").toString
        val ds = docs(s, d)
        Curation.shardMaterialize(ds.filter(col("doc_id") % 5 =!= 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L).count()
        Curation.shardAppend(ds.filter(col("doc_id") % 5 === 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L).count()
        Curation.validateLanding(s, tmp)
      },
      Some("""SELECT * FROM (VALUES
               ('docs_unique', true, CAST(0 AS BIGINT)),
               ('pos_partition', true, CAST(0 AS BIGINT)),
               ('shard_contiguous', true, CAST(0 AS BIGINT)),
               ('shard_pos_disjoint', true, CAST(0 AS BIGINT)),
               ('tokens_match', true, CAST(0 AS BIGINT)))
               t("check", ok, violations) ORDER BY "check" """)),

    // pp20: INCREMENTAL landing validation — pp15's fsck made
    // append-proportional (the r17 verdict's perf ask: pp15 recounts
    // every token; at 100 TB a post-append check must not re-scan
    // history). Land, write the manifest baseline (full validation +
    // per-shard fingerprints), append, then validate incrementally:
    // structural checks re-derive globally from narrow metadata
    // columns, the text recount runs only over shards whose file
    // fingerprint moved. The oracle replays the append plan to pin
    // EXACTLY how many shards paid the recount — appends land in
    // fresh shards, so rescanned = the appended shard count, nothing
    // from history.
    NamedQuery("pp20_incremental_validate",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("pp20").toString
        val ds = docs(s, d)
        Curation.shardMaterialize(ds.filter(col("doc_id") % 5 =!= 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L).count()
        Curation.writeLandingManifest(s, tmp,
          Map("seed" -> "pp12", "budget_tokens" -> "8000")).count()
        Curation.shardAppend(ds.filter(col("doc_id") % 5 === 0), tmp,
          col("doc_id"), seed = "pp12", budgetTokens = 8000L).count()
        Curation.validateLandingIncremental(s, tmp)
      },
      Some("""WITH t1 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 <> 0),
              c1 AS (SELECT pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t1),
              m1 AS (SELECT max(shard) AS mxs, max(pos) AS mxp FROM c1),
              t2 AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp12#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents WHERE doc_id % 5 = 0),
              c2 AS (SELECT CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT)
                      + (SELECT mxs FROM m1) + 1 AS shard
                  FROM t2)
             SELECT * FROM (VALUES
               ('docs_unique', true, CAST(0 AS BIGINT)),
               ('pos_partition', true, CAST(0 AS BIGINT)),
               ('rescanned_shards', true,
                 (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM c2)),
               ('shard_contiguous', true, CAST(0 AS BIGINT)),
               ('shard_pos_disjoint', true, CAST(0 AS BIGINT)),
               ('shards_removed', true, CAST(0 AS BIGINT)),
               ('tokens_match', true, CAST(0 AS BIGINT)))
               t("check", ok, violations) ORDER BY "check" """)),

    // pp16: TOKENIZED landing — land what the trainer reads: token-id
    // sequences of exactly 128 ids (last-per-shard may be short),
    // shard-partitioned, materialized by the concatenate-then-chunk
    // packer (pk01's rule, actually cut). The gate's tokenizer is the
    // REPLAYABLE one (whitespace tokens ranked by frequency — the
    // rank window runs over the dictionary-sized vocab frame, not the
    // corpus) so DuckDB can replay ids; the learned-tokenizer
    // composition (unigram_encode ids through the same packer) is
    // spec-pinned instead, since DuckDB can't run Viterbi. Output is
    // the LANDED sequences read back — write, layout, and packing in
    // one oracle.
    // Output pins exact sequence content AND order without a raw
    // ARRAY column (the driver's pandas compare cannot lexsort array
    // cells): md5 over the space-joined ids + n_ids. Vocab ids are
    // assigned by Curation.rankIds (distributed sort + zipWithIndex),
    // not an unpartitioned window — the op library's own convention.
    NamedQuery("pp16_tokenized_landing",
      (s, d) => {
        val tmp = rankVocabLanding(s, d, "pp16")
        s.read.parquet(tmp)
          .select(col("shard").cast("long").as("shard"), col("seq_id"),
            md5(array_join(transform(col("ids"), _.cast("string")),
              " ")).as("ids_md5"),
            col("n_ids"))
          .orderBy("shard", "seq_id")
      },
      Some(packedSeqOracleCtes + """
             SELECT shard, seq_id, ids_md5, n_ids
             FROM sq ORDER BY shard, seq_id""")),

    // pp18: the RESUMABLE READER over a tokenized landing — the
    // data-loader half of pp16: land with the replayable rank-vocab
    // tokenizer, then read the step window [5, 45) in the round-robin
    // trainer order (step = seq_id * nShards + shard). The oracle
    // replays the landing AND the step arithmetic, pinning order,
    // window edges, and the sparse-step contract (short shards leave
    // holes; steps stay strictly monotone). ids pinned as
    // md5(join)+n_ids per the compare contract.
    NamedQuery("pp18_landing_reader",
      (s, d) => {
        val tmp = rankVocabLanding(s, d, "pp18")
        Curation.readTokenizedBatches(s, tmp, fromStep = 5L, nSteps = 40L)
          .select(col("step"), col("shard"), col("seq_id"),
            md5(array_join(transform(col("ids"), _.cast("string")),
              " ")).as("ids_md5"),
            col("n_ids"))
      },
      Some(packedSeqOracleCtes + """
             SELECT CAST(seq_id * 8 + shard AS BIGINT) AS step,
               shard, seq_id, ids_md5, n_ids
             FROM sq
             WHERE seq_id * 8 + shard >= 5 AND seq_id * 8 + shard < 45
             ORDER BY step""")),

    // pp19: the PER-EPOCH RESHUFFLE reader — trainers re-permute the
    // landing every epoch without rewriting it: epoch order = rank of
    // md5(seed:shard:seq_id) (zero RNG, seeded-hash discipline), steps
    // dense 0..N-1, same step-cursor resume as pp18. The oracle
    // replays the exact permutation in DuckDB (same md5 over the same
    // string, same tie-break), pinning that the epoch order is
    // deterministic, complete, and reproducible from the seed alone.
    NamedQuery("pp19_epoch_shuffle_reader",
      (s, d) => {
        val tmp = rankVocabLanding(s, d, "pp19")
        Curation.epochShuffledBatches(s, tmp, epochSeed = "e1",
          fromStep = 5L, nSteps = 40L)
          .select(col("step"), col("shard"), col("seq_id"),
            md5(array_join(transform(col("ids"), _.cast("string")),
              " ")).as("ids_md5"),
            col("n_ids"))
      },
      Some(epochShuffleOracleSql)),

    // pp21: the MATERIALIZED epoch index — pp19's permutation written
    // once per epoch as a tiny (step, shard, seq_id) parquet
    // (range-partitioned, step-sorted: window reads prune on step),
    // then the same window read through the index. The oracle is
    // pp19's replay — the index path must return byte-identical rows
    // to the one-shot rank reader, which is the amortization contract
    // (thousands of trainer window reads per epoch, one sort).
    NamedQuery("pp21_epoch_index_reader",
      (s, d) => {
        val landing = rankVocabLanding(s, d, "pp21")
        val idx = java.nio.file.Files.createTempDirectory("pp21idx").toString
        Curation.writeEpochIndex(s, landing, "e1", s"$idx/idx")
        Curation.readEpochWindow(s, landing, s"$idx/idx",
          fromStep = 5L, nSteps = 40L)
          .select(col("step"), col("shard"), col("seq_id"),
            md5(array_join(transform(col("ids"), _.cast("string")),
              " ")).as("ids_md5"),
            col("n_ids"))
      },
      Some(epochShuffleOracleSql)),

    // pp22: EPOCH-INDEX LIFECYCLE (r18 verdict #5) — a real training
    // run materializes one index per epoch and retires old ones.
    // Two epochs are written and REGISTERED in the landing's
    // `_epochs` sidecar (seed → indexDir, sequence count); epoch e1's
    // index is then dropped (directory deleted, registry row pruned)
    // and epoch e2 must still replay its exact permutation through
    // its own index — retirement of k−1 never perturbs k. The
    // lifecycle invariants (registration order, drop return, dir
    // deletion, registry pruning) are require()-enforced in the gate
    // body (a violation errs the gate); the oracle pins e2's window
    // against the DuckDB rank replay, seed-parameterized from the
    // pp19/pp21 shared fragment.
    NamedQuery("pp22_epoch_lifecycle",
      (s, d) => {
        val landing = rankVocabLanding(s, d, "pp22")
        val idx = java.nio.file.Files.createTempDirectory("pp22idx").toString
        val n1 = Curation.writeEpochIndex(s, landing, "e1", s"$idx/e1")
        val n2 = Curation.writeEpochIndex(s, landing, "e2", s"$idx/e2")
        require(n1 == n2, s"epoch permutations cover different counts: $n1 vs $n2")
        val reg = Curation.listEpochIndexes(s, landing).collect()
        require(reg.map(_.getString(0)).toSeq == Seq("e1", "e2"),
          s"registry rows: ${reg.mkString(",")}")
        require(reg.forall(_.getLong(2) == n1), "registered n_seqs drifted")
        require(Curation.dropEpochIndex(s, landing, "e1"),
          "e1 was not registered at drop time")
        require(!new java.io.File(s"$idx/e1").exists(),
          "dropped epoch's index directory survived")
        val after = Curation.listEpochIndexes(s, landing).collect()
        require(after.map(_.getString(0)).toSeq == Seq("e2"),
          s"registry after drop: ${after.mkString(",")}")
        Curation.readEpochWindow(s, landing, s"$idx/e2",
          fromStep = 5L, nSteps = 40L)
          .select(col("step"), col("shard"), col("seq_id"),
            md5(array_join(transform(col("ids"), _.cast("string")),
              " ")).as("ids_md5"),
            col("n_ids"))
      },
      Some(epochShuffleOracleFor("e2"))),

    // pp17: the full train-once / encode-everywhere / LAND story as
    // one driver-checked gate (r16 verdict #6) — tk06's unigram-LM
    // vocab is trained, persisted, and RELOADED (tk08's artifact
    // contract), the corpus is encoded at scan speed by the native
    // UnigramEncode Viterbi expression, pieces map to ids through a
    // broadcast literal map (vocab-sized), and the id sequences go
    // through the pp16 packer into a shard-partitioned landing.
    // Output is tokenizedLanding's per-shard readback (n_seqs,
    // n_tokens, n_full, n_short). DuckDB cannot replay Viterbi, so
    // the oracle pins the sf0.01 values, tk07-RECONCILING by
    // construction: the pinned n_tokens sum to exactly 40807 —
    // tk07/tk08's '__total__' golden — and n_full*128 + short-seq
    // tokens retile that total per shard.
    NamedQuery("pp17_learned_tokenized_landing",
      (s, d) => {
        val vocab = graft.ops.TextAnalysis.unigramTrain(docs(s, d),
          vocabSize = 48, rounds = 2, maxPieceLen = 4).map(v => (v._2, v._4))
        val art = java.nio.file.Files.createTempDirectory("pp17v").toString
        graft.ops.TextAnalysis.saveVocab(s, vocab, s"$art/vocab")
        val loaded = graft.ops.TextAnalysis.loadVocab(s, s"$art/vocab")
        val pieceId = loaded.map(_._1).sorted.zipWithIndex
          .map { case (p, i) => (p, i + 1) }.toMap
        val m = typedLit(pieceId)
        val idsPerDoc = docs(s, d).select(col("doc_id"),
          transform(graft.functions.TextFunctions.unigram_encode(
            col("text"), loaded), p => element_at(m, p)).as("ids"))
        val tmp = java.nio.file.Files.createTempDirectory("pp17").toString
        Curation.tokenizedLanding(idsPerDoc, tmp,
          pmod(col("doc_id"), lit(8)), col("ids"), seqLen = 128)
      },
      Some("""SELECT * FROM (VALUES
               (CAST(0 AS BIGINT), CAST(42 AS BIGINT), CAST(5318 AS BIGINT), CAST(41 AS BIGINT), CAST(1 AS BIGINT)),
               (1, 42, 5296, 41, 1),
               (2, 41, 5210, 40, 1),
               (3, 40, 5101, 39, 1),
               (4, 35, 4417, 34, 1),
               (5, 43, 5448, 42, 1),
               (6, 38, 4835, 37, 1),
               (7, 41, 5182, 40, 1))
               t(shard, n_seqs, n_tokens, n_full, n_short)
             ORDER BY shard""")),

    // st13: STREAMING tokenized landing — st12 lands text; this closes
    // the stream → trainer-ready-sequences story (r17 verdict #7):
    // the native unigram encode + pp16 packer run inside foreachBatch,
    // packing CONTINUOUSLY across micro-batches (per-shard remainder
    // ids + next-seq counter carried in a bounded guard), final short
    // tails flushed at close. Three doc_id-range file-batches arrive
    // in order, so the streamed landing must equal the batch pp17
    // landing over the same corpus — the oracle IS pp17's pinned
    // manifest (same corpus, same vocab, same packer); row-level
    // streamed-vs-batch equality is additionally spec-pinned in
    // StreamingTokenizedSpec.
    NamedQuery("st13_streaming_tokenized_landing",
      (s, d) => {
        val ds = docs(s, d).select(col("doc_id"), col("text"))
        val vocab = graft.ops.TextAnalysis.unigramTrain(docs(s, d),
          vocabSize = 48, rounds = 2, maxPieceLen = 4).map(v => (v._2, v._4))
        val art = java.nio.file.Files.createTempDirectory("st13v").toString
        graft.ops.TextAnalysis.saveVocab(s, vocab, s"$art/vocab")
        val loaded = graft.ops.TextAnalysis.loadVocab(s, s"$art/vocab")
        val pieceId = loaded.map(_._1).sorted.zipWithIndex
          .map { case (p, i) => (p, i + 1) }.toMap
        val m = typedLit(pieceId)
        val tmp = java.nio.file.Files.createTempDirectory("st13").toString
        // three doc_id-range batches, mtime-ordered (st12's fixture
        // discipline) — ranges, not mod: cross-batch arrival must
        // follow doc_id order for packing parity with the batch path
        val mx = ds.agg(max(col("doc_id"))).head.getLong(0)
        val (t1, t2) = (mx / 3, 2 * mx / 3)
        val src = new java.io.File(tmp, "src"); src.mkdirs()
        Seq((0, col("doc_id") <= t1),
            (1, col("doc_id") > t1 && col("doc_id") <= t2),
            (2, col("doc_id") > t2)).foreach { case (i, pred) =>
          val stage = s"$tmp/stage_$i"
          ds.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(src, s"b$i.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + i * 600000L)
        }
        val stream = s.readStream.schema(ds.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .select(col("doc_id"),
            transform(graft.functions.TextFunctions.unigram_encode(
              col("text"), loaded), p => element_at(m, p)).as("ids"))
        val q = graft.streaming.CorpusStream.tokenizedLandingIngest(
          stream, s"$tmp/landing", s"$tmp/ck",
          pmod(col("doc_id"), lit(8)), col("ids"), seqLen = 128)
        q.processAllAvailable(); q.stop()
        graft.streaming.CorpusStream.flushTokenizedLanding(s, s"$tmp/landing")
        s.read.parquet(s"$tmp/landing")
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_seqs"),
            sum(col("n_ids")).as("n_tokens"),
            sum((col("n_ids") === 128).cast("long")).as("n_full"),
            sum((col("n_ids") =!= 128).cast("long")).as("n_short"))
          .orderBy("shard")
      },
      Some("""SELECT * FROM (VALUES
               (CAST(0 AS BIGINT), CAST(42 AS BIGINT), CAST(5318 AS BIGINT), CAST(41 AS BIGINT), CAST(1 AS BIGINT)),
               (1, 42, 5296, 41, 1),
               (2, 41, 5210, 40, 1),
               (3, 40, 5101, 39, 1),
               (4, 35, 4417, 34, 1),
               (5, 43, 5448, 42, 1),
               (6, 38, 4835, 37, 1),
               (7, 41, 5182, 40, 1))
               t(shard, n_seqs, n_tokens, n_full, n_short)
             ORDER BY shard""")),

    // mf01: self-describing landing MANIFEST — land the corpus, write
    // the manifest, return what a fresh reader finds: the caller's
    // identity fields plus totals re-derived from the landed bytes
    // and the validation verdict. The oracle recomputes the derived
    // numbers from the same plan replay and pins the identity fields
    // as literals.
    NamedQuery("mf01_landing_manifest",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("mf01").toString
        Curation.shardMaterialize(docs(s, d), s"$tmp/landing",
          col("doc_id"), seed = "pp10", budgetTokens = 8000L).count()
        Curation.writeLandingManifest(s, s"$tmp/landing", Map(
          "tokenizer" -> "whitespace",
          "seed" -> "pp10",
          "budget_tokens" -> "8000"))
      },
      Some("""WITH t AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp10#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents),
              c AS (SELECT pos, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t)
             SELECT * FROM (
               SELECT 'budget_tokens' AS key, '8000' AS value
               UNION ALL SELECT 'landing.failed_checks', '0'
               UNION ALL SELECT 'landing.n_docs',
                 CAST(count(*) AS VARCHAR) FROM c
               UNION ALL SELECT 'landing.n_shards',
                 CAST(count(DISTINCT shard) AS VARCHAR) FROM c
               UNION ALL SELECT 'landing.n_tokens',
                 CAST(sum(n_tokens) AS VARCHAR) FROM c
               UNION ALL SELECT 'landing.shard_modulus',
                 CAST(max(shard) + 1 AS VARCHAR) FROM c
               UNION ALL SELECT 'seed', 'pp10'
               UNION ALL SELECT 'tokenizer', 'whitespace')
             ORDER BY key""")),

    // pp11: per-shard MIX audit — the "mix shares" column family of
    // pp10's manifest, kept as its own long-form gate so the manifest
    // stays narrow: per (shard, lang) doc/token counts plus the
    // lang's exact token share of its shard in basis points (integer
    // arithmetic — 10000·lang_tokens div shard_tokens — so the oracle
    // replay is exact, no double division). This is the readout a mix
    // controller checks before a training run: does every shard carry
    // the intended language distribution, or did the deterministic
    // shuffle leave a stratum clumped?
    NamedQuery("pp11_shard_mix",
      (s, d) => {
        val plan = Curation.shardPlan(docs(s, d), col("doc_id"),
          seed = "pp10", budgetTokens = 8000L)
        val perLang = plan.groupBy(col("shard"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
        val perShard = plan.groupBy(col("shard"))
          .agg(sum(col("n_tokens")).as("shard_tokens"))
        perLang.join(perShard, "shard")
          .select(col("shard"), col("lang"), col("n_docs"), col("n_tokens"),
            expr("(10000 * n_tokens) div shard_tokens").as("share_bp"))
          .orderBy("shard", "lang")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    row_number() OVER (
                      ORDER BY md5('pp10#' || CAST(doc_id AS VARCHAR)),
                               CAST(doc_id AS VARCHAR)) AS pos
                  FROM documents),
              c AS (SELECT lang, n_tokens,
                    CAST(coalesce(sum(n_tokens) OVER (
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) // 8000 AS BIGINT) AS shard
                  FROM t),
              pl AS (SELECT shard, lang, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                     FROM c GROUP BY 1, 2),
              ps AS (SELECT shard, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
                     FROM pl GROUP BY 1)
             SELECT pl.shard, lang, n_docs, n_tokens,
               CAST((10000 * n_tokens) // shard_tokens AS BIGINT) AS share_bp
             FROM pl JOIN ps ON pl.shard = ps.shard
             ORDER BY pl.shard, lang""")),

    // ck01: per-doc overlapping RAG chunks (32-token windows, 8-token
    // overlap → stride 24); zero-shuffle map-side expand, chunks keyed
    // by (doc_id, chunk_no) with the md5 of the chunk text. The oracle
    // replays starts (a chunk must add ≥1 uncovered token) and slices.
    NamedQuery("ck01_chunk_docs",
      (s, d) => Curation.chunkDocs(docs(s, d), window = 32, overlap = 8)
        .orderBy("doc_id", "chunk_no"),
      Some("""WITH t AS (SELECT doc_id,
                    string_split_regex(trim(text), '\s+') AS toks
                  FROM documents),
              s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
              u AS (SELECT doc_id, toks, n,
                    unnest(range(0, greatest(n - 8, 1), 24)) AS start
                  FROM s)
             SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_no,
               CAST(start AS BIGINT) AS start_tok,
               CAST(least(32, n - start) AS BIGINT) AS n_toks,
               md5(array_to_string(
                 toks[start + 1:start + least(32, n - start)], ' ')) AS chunk_hash
             FROM u ORDER BY doc_id, chunk_no""")),

    // bs01: token-budget corpus selection — greedy prefix by quality
    // density (distinct-token ratio), deterministic id ties. Engine:
    // two bucketed prefix sums (never a global ordered window); the
    // oracle IS the global window — the semantic spec this plan
    // refuses to execute that way.
    NamedQuery("bs01_budget_select",
      (s, d) => {
        val t = graft.ops.TextAnalysis.tokenStats(docs(s, d))
        Curation.budgetSelect(t, col("doc_id"), col("n_tokens"),
            col("n_distinct").cast("double"), budgetTokens = 15000L)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok,
                  CAST(len(list_distinct(string_split_regex(text, '\s+')))
                    AS DOUBLE) AS dst
                FROM documents),
              d AS (SELECT doc_id, tok, dst / tok AS dens FROM b WHERE tok > 0),
              c AS (SELECT *, CAST(coalesce(sum(tok) OVER (
                      ORDER BY dens DESC, doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
                    FROM d)
             SELECT doc_id, tok AS n_tokens, round(dens, 6) + 0.0 AS density,
               cum_before AS cum_before_tokens,
               cum_before + tok <= 15000 AS selected
             FROM c ORDER BY doc_id""")),

    // nv01: per-doc 13-gram novelty of the "new crawl" (doc_id%5 != 0)
    // against the "already-ingested" base (doc_id%5 == 0) — both
    // sides gram-keyed, nothing broadcast (the base is corpus-sized,
    // unlike dc01's tiny eval side)
    NamedQuery("nv01_ngram_novelty",
      (s, d) => {
        val all = docs(s, d)
        Curation.ngramNovelty(all.filter(col("doc_id") % 5 =!= 0),
            all.filter(col("doc_id") % 5 === 0), n = 13)
          .orderBy("doc_id")
      },
      Some(s"""WITH grams AS (SELECT doc_id, unnest($duckGrams13) AS g
                              FROM documents),
              bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
              nd AS (SELECT * FROM grams WHERE doc_id % 5 <> 0),
              tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                      FROM nd GROUP BY 1),
              sn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seen
                     FROM nd WHERE g IN (SELECT g FROM bg) GROUP BY 1)
             SELECT doc_id, n_grams,
               n_grams - coalesce(n_seen, 0) AS n_novel,
               round((n_grams - coalesce(n_seen, 0))
                 / CAST(n_grams AS DOUBLE), 6) + 0.0 AS novelty
             FROM tot LEFT JOIN sn USING (doc_id) ORDER BY doc_id""")),

    // ov01: corpus-level content overlap — the Jaccard of two
    // corpora's 13-gram SETS through the mergeable KMV sketch
    // (kmv02's machinery keyed on grams instead of ids): the one-row
    // "how much of corpus B is already in corpus A" readout that
    // decides whether a crawl is worth ingesting, at sketch cost —
    // no gram-set join materializes. Oracle replays the md5 k-min.
    NamedQuery("ov01_corpus_overlap",
      (s, d) => {
        val all = docs(s, d)
        def grams(side: DataFrame) = side.select(explode(
          graft.functions.TextFunctions.shingles(col("text"), 13)).as("g"))
        graft.ops.Sketches.kmvOverlap(
          grams(all.filter(col("doc_id") % 5 === 0)), col("g"),
          grams(all.filter(col("doc_id") % 5 =!= 0)), col("g"), k = 64)
      },
      Some(s"""WITH un AS (
                SELECT v, max(ia) AS ia, max(ib) AS ib FROM (
                  SELECT unnest($duckGrams13) AS v, 1 AS ia, 0 AS ib
                  FROM documents WHERE doc_id % 5 = 0
                  UNION ALL
                  SELECT unnest($duckGrams13), 0, 1
                  FROM documents WHERE doc_id % 5 <> 0)
                GROUP BY 1),
              h AS (SELECT v, ia, ib,
                  CAST('0x' || substr(md5(v), 1, 8) AS BIGINT) / 4294967296.0
                    AS u
                FROM un),
              kk AS (SELECT * FROM h ORDER BY u, v LIMIT 64),
              agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(ia * ib) AS BIGINT) AS n_both,
                  max(u) AS u_k FROM kk)
             SELECT k, n_both,
               round(n_both / CAST(k AS DOUBLE), 6) AS jaccard_est,
               round((k - 1) / u_k, 4) AS union_est,
               round((n_both / CAST(k AS DOUBLE)) * ((k - 1) / u_k), 4)
                 AS intersection_est
             FROM agg""")),

    // mx04: capped-domain resampling — sources above a 5% token share
    // get deterministic keep-rate cap/share; the md5 draw replays
    // bit-for-bit (the corpus has 20 ~5% sources, so the cap splits
    // them into capped and uncapped for a meaningful gate)
    NamedQuery("mx04_domain_cap",
      (s, d) => {
        val t = graft.ops.TextAnalysis.tokenStats(docs(s, d))
          .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        Curation.domainCap(t, col("doc_id"), col("source"),
            col("n_tokens"), capFrac = 0.05)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, source AS domain,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok
                FROM documents),
              t AS (SELECT CAST(sum(tok) AS BIGINT) AS tot FROM b),
              r AS (SELECT domain, CAST(sum(tok) AS BIGINT) AS dt
                    FROM b GROUP BY 1),
              sh AS (SELECT domain, dt / CAST(tot AS DOUBLE) AS share,
                     least(1.0, 0.05 / (dt / CAST(tot AS DOUBLE))) AS rate
                     FROM r, t)
             SELECT doc_id, domain, tok, round(share, 6) + 0.0 AS dom_share,
               round(rate, 6) + 0.0 AS samp_rate,
               (CAST('0x' || substr(md5('domcap#' ||
                  CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
                 / 4294967296.0 <= rate AS selected
             FROM b JOIN sh USING (domain) ORDER BY doc_id""")),

    // mx05: epoch-capped budget water-filling — a 1.9×-corpus token
    // budget spreads uniformly over sources, nobody repeats more than
    // 2 epochs, capped sources' leftover redistributes exactly; the
    // oracle replays the distinct-r prefix-sum frontier and the ±∞
    // all-capped boundary (the data splits 8 capped / 12 uncapped)
    NamedQuery("mx05_epoch_allocation",
      (s, d) => Curation.epochAllocation(
          docs(s, d).groupBy(col("source"))
            .agg(sum(col("n_chars")).as("tokens")),
          budgetRatio = 1.9, maxEpochs = 2.0)
        .orderBy("source"),
      Some("""WITH ps AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS t
                FROM documents GROUP BY 1),
              gl AS (SELECT CAST(sum(t) AS DOUBLE) * 1.9 AS b,
                  CAST(count(*) AS DOUBLE) AS s FROM ps),
              wr AS (SELECT source, t, 2.0 * t * s / b AS r
                FROM ps CROSS JOIN gl),
              pr AS (SELECT r, CAST(sum(t) AS BIGINT) AS tr,
                  CAST(count(*) AS BIGINT) AS cr FROM wr GROUP BY 1),
              cm AS (SELECT pr.r, pr.tr, pr.cr, gl.b, gl.s,
                  coalesce(sum(tr) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) + tr AS ti,
                  coalesce(sum(cr) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) + cr AS ci
                FROM pr CROSS JOIN gl),
              al AS (SELECT *, CASE WHEN s - ci = 0 THEN
                    CASE WHEN b - 2.0 * ti >= 0
                         THEN CAST('infinity' AS DOUBLE)
                         ELSE CAST('-infinity' AS DOUBLE) END
                  ELSE s * (b - 2.0 * ti) / (b * (s - ci)) END AS a
                FROM cm),
              fr AS (SELECT
                  coalesce(sum(CASE WHEN r <= a THEN tr END), 0) AS capt,
                  coalesce(sum(CASE WHEN r <= a THEN cr END), 0) AS capc,
                  max(b) AS b, max(s) AS s FROM al),
              ast AS (SELECT CASE WHEN s - capc = 0
                    THEN CAST('infinity' AS DOUBLE)
                  ELSE s * (b - 2.0 * capt) / (b * (s - capc)) END AS astar,
                  b, s FROM fr)
             SELECT w.source, w.t AS tokens, (w.r <= ast.astar) AS capped,
               round(CASE WHEN w.r <= ast.astar THEN 2.0 * w.t / w.t
                     ELSE ast.astar * (ast.b / ast.s) / w.t END, 6) + 0.0
                 AS epochs,
               round(CASE WHEN w.r <= ast.astar THEN 2.0 * w.t
                     ELSE ast.astar * (ast.b / ast.s) END, 2) + 0.0
                 AS tokens_drawn
             FROM wr w CROSS JOIN ast ORDER BY w.source""")),

    // sp07: temporal embargo split over events — train before the
    // 0.75-quantile timestamp (binary-exact fraction, so the
    // interpolated boundary replays bit-for-bit), a 1-day embargo
    // band dropped, test after
    NamedQuery("sp07_embargo_split",
      (s, d) => Curation.embargoSplit(Tables.load(s, d, "events"),
          col("event_id"), col("ts"), trainFrac = 0.75,
          embargoUs = 86400000000L)
        .withColumnRenamed("id", "event_id")
        .orderBy("event_id"),
      Some("""WITH b AS (SELECT event_id, epoch_us(ts) AS us FROM events
                         WHERE ts IS NOT NULL),
              q AS (SELECT quantile_cont(us, 0.75) AS tq FROM b)
             SELECT event_id, us,
               CASE WHEN us < tq THEN 'train'
                    WHEN us < tq + 86400000000 THEN 'embargo'
                    ELSE 'test' END AS split
             FROM b, q ORDER BY event_id""")),

    // sp08: rolling-origin cross-validation over the event timeline —
    // 4 folds, growing train prefix, sliding next-slice test window;
    // the gate aggregates per (fold, role) counts and timestamp
    // extents, the oracle replays the fold grid and the CASE
    NamedQuery("sp08_rolling_origin",
      (s, d) => Curation.rollingOriginSplits(Tables.load(s, d, "events"),
          col("event_id"), col("ts"), folds = 4)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("us")).as("min_us"), max(col("us")).as("max_us"))
        .orderBy("fold", "role"),
      Some("""WITH b AS (SELECT event_id, epoch_us(ts) AS us FROM events
                         WHERE ts IS NOT NULL),
              mm AS (SELECT min(us) AS lo, max(us) AS hi FROM b),
              g AS (SELECT unnest(range(1, 5)) AS fold),
              a AS (SELECT b.event_id, g.fold, b.us,
                  CASE WHEN b.us <= lo + (hi - lo) * fold / 5.0
                         THEN 'train'
                       WHEN b.us <= lo + (hi - lo) * (fold + 1) / 5.0
                         THEN 'test'
                       ELSE 'unused' END AS role
                FROM b CROSS JOIN g CROSS JOIN mm)
             SELECT fold, role, CAST(count(*) AS BIGINT) AS n_rows,
               min(us) AS min_us, max(us) AS max_us
             FROM a GROUP BY 1, 2 ORDER BY 1, 2""")),

    // pp06: the per-source data card — the "datasheet for datasets"
    // report a release pipeline stamps on every corpus drop: doc and
    // token counts, language spread, exact-duplicate accounting
    // (dd01's hash), and mean quality (tx02's score), all off ONE
    // persisted pass over the documents table
    NamedQuery("pp06_datacard",
      (s, d) => {
        val dcs = docs(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // tokenStats → quality chained via keep pass-throughs (the
        // pp01/pp04 shape, r20): both are pure per-doc projections, so
        // one cache scan replaces two scans + two corpus-sized doc_id
        // join exchanges; only the dedup flag still needs its
        // groupBy + join-back (inherent — it compares across docs)
        val tq = graft.ops.TextAnalysis.quality(
            graft.ops.TextAnalysis.tokenStats(dcs,
              keep = Seq(col("text"), col("source"), col("lang"))),
            keep = Seq(col("source"), col("lang"), col("n_tokens")))
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_tokens"), col("quality_score"))
        val h = dcs.select(col("doc_id"),
          md5(lower(trim(col("text")))).as("__ch"))
        val keep = h.groupBy(col("__ch")).agg(min(col("doc_id")).as("__keep"))
        val dup = h.join(keep, "__ch")
          .select(col("doc_id"), (col("doc_id") =!= col("__keep")).as("__dup"))
        val out = tq
          .join(dup, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_docs"),
            graft.ops.Portability.zround(avg(col("quality_score")), 6)
              .as("mean_quality"))
          .withColumn("dup_rate",
            graft.ops.Portability.zround(col("dup_docs") / col("n_docs"), 6))
          .orderBy("source")
          .localCheckpoint(true)
        dcs.unpersist(false)
        out
      },
      Some("""WITH tq AS (SELECT doc_id, source, lang,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                    AS n_tokens,
                  round((CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE)
                      / len(string_split_regex(text, '\s+'))) * 0.5 +
                    (CASE WHEN length(text) BETWEEN 50 AND 10000
                          THEN 1.0 ELSE 0.0 END) * 0.3 +
                    least(CAST(len(list_filter(string_split_regex(text, '\s+'),
                        t -> t IN ('the','a','of','and','to','in','is','it')))
                        AS DOUBLE)
                      / len(string_split_regex(text, '\s+')) * 5, 1.0) * 0.2,
                    4) AS quality_score,
                  md5(lower(trim(text))) AS ch
                FROM documents),
              keep AS (SELECT ch, min(doc_id) AS keep_id FROM tq GROUP BY 1)
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(CASE WHEN tq.doc_id <> keep.keep_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS dup_docs,
               round(avg(quality_score), 6) + 0.0 AS mean_quality,
               round(sum(CASE WHEN tq.doc_id <> keep.keep_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS dup_rate
             FROM tq JOIN keep USING (ch) GROUP BY 1 ORDER BY 1""")),

    // pp04: the round-11 selection pipeline end-to-end — domain cap
    // (5% token share) → token-budget greedy selection (distinct-token
    // density) → per-language doc/token counts. Every stage is an
    // independently-gated operator (mx04, bs01); the oracle chains
    // their proven SQL fragments, so a pass certifies the COMPOSITION
    // (column contracts, determinism through two md5 draws and two
    // prefix sums) rather than any new math.
    NamedQuery("pp04_selection_pipeline",
      (s, d) => {
        // one tokenize pass, persisted: r11 shipped this gate as
        // tokenStats SELF-JOINED back to docs with no persist — every
        // downstream action re-tokenized the whole corpus (~4 redundant
        // full scans at 100 TB; the suite's slowest query at 4.68 s for
        // a 5-row answer). Now lang/source ride tokenStats' projection
        // (keep=), the kept ids ride domainCap's output (keep=), and
        // the two stage frames are cached across their consumers.
        val f = graft.ops.TextAnalysis.tokenStats(docs(s, d),
            keep = Seq(col("lang"), col("source")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // budgetSelect consumes its input 3× (per-density aggregate,
        // within-tie prefix window, final join-back) — cache the capped
        // frame so each consumer reads blocks, not the domain-cap join
        val capped = Curation.domainCap(f, col("doc_id"), col("source"),
            col("n_tokens"), capFrac = 0.05,
            keep = Seq(col("lang"), col("n_distinct")))
          .filter(col("selected"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sel = Curation.budgetSelect(capped,
            col("id"), col("tok"),
            col("n_distinct").cast("double"), budgetTokens = 8000L)
          .filter(col("selected"))
          .select(col("id"), col("n_tokens"))
        val out = sel
          .join(capped.select(col("id"), col("lang")), "id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
          .orderBy("lang")
          // eager-materialize the 5-row answer so the caches can be
          // dropped HERE, not left to session-wide block hygiene
          .localCheckpoint(true)
        capped.unpersist(false)
        f.unpersist(false)
        out
      },
      Some("""WITH f AS (SELECT doc_id, source AS domain, lang,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok,
                  CAST(len(list_distinct(string_split_regex(text, '\s+')))
                    AS DOUBLE) AS dst
                FROM documents),
              t AS (SELECT CAST(sum(tok) AS BIGINT) AS tot FROM f),
              r AS (SELECT domain, CAST(sum(tok) AS BIGINT) AS dt
                    FROM f GROUP BY 1),
              sh AS (SELECT domain,
                     least(1.0, 0.05 / (dt / CAST(tot AS DOUBLE))) AS rate
                     FROM r, t),
              capped AS (SELECT f.* FROM f JOIN sh USING (domain)
                WHERE (CAST('0x' || substr(md5('domcap#' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
                  / 4294967296.0 <= rate),
              dens AS (SELECT doc_id, lang, tok, dst / tok AS dens
                       FROM capped WHERE tok > 0),
              c AS (SELECT *, CAST(coalesce(sum(tok) OVER (
                      ORDER BY dens DESC, doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
                    FROM dens),
              sel AS (SELECT * FROM c WHERE cum_before + tok <= 8000)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS n_tokens
             FROM sel GROUP BY lang ORDER BY lang""")),

    // cu01: curriculum interleave — deterministic easy→hard training
    // order (difficulty = char length) round-robining sources at each
    // rank. The oracle's plain whole-partition windows define the
    // semantics; the engine composes the two bucketed prefix
    // primitives + tie-bounded windows so no task ever sorts a whole
    // stratum (see Curation.curriculumOrder's scale note).
    NamedQuery("cu01_curriculum_order",
      (s, d) => Curation.curriculumOrder(docs(s, d), col("doc_id"),
          col("source"), length(col("text")))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, source AS stratum,
                  CAST(length(text) AS DOUBLE) AS difficulty
                FROM documents),
              r AS (SELECT *, CAST(row_number() OVER (
                      PARTITION BY stratum
                      ORDER BY difficulty, doc_id) AS BIGINT)
                    AS rank_in_stratum FROM b)
             SELECT doc_id, stratum, difficulty, rank_in_stratum,
               CAST(row_number() OVER (ORDER BY rank_in_stratum, stratum)
                 AS BIGINT) AS pos
             FROM r ORDER BY doc_id""")),

    // pp07: CCNet-style quality bucketing (Wenzek et al. 2020) — each
    // language's docs score against THAT language's bigram LM (tx12's
    // proven add-alpha scorer, per-lang fit), then split into
    // head/middle/tail terciles with boundaries read off the
    // value-cardinality frame by exact integer rule (3·cum ≥ n) — no
    // corpus sort, no interpolated double quantiles (see
    // Curation.perplexityBuckets). The gate's rollup pins every
    // tier's population and score range per language.
    NamedQuery("pp07_ccnet_buckets",
      (s, d) => Curation.perplexityBuckets(docs(s, d))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          round(min(col("score")), 4).as("min_score"),
          round(max(col("score")), 4).as("max_score"))
        .orderBy("lang", "bucket"),
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                FROM documents),
              w AS (SELECT doc_id, lang, generate_subscripts(ts, 1) AS pos,
                      unnest(ts) AS tok FROM t),
              bg AS (SELECT a.doc_id, a.lang, a.tok AS w1, b.tok AS w2
                     FROM w a JOIN w b
                       ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
              c12 AS (SELECT lang, w1, w2, count(*) AS c12
                      FROM bg GROUP BY 1, 2, 3),
              c1 AS (SELECT lang, w1, count(*) AS c1 FROM bg GROUP BY 1, 2),
              v AS (SELECT lang, count(DISTINCT tok) AS vs
                    FROM w GROUP BY 1),
              sc AS (SELECT doc_id, lang,
                       round(avg(-ln((c12 + 0.5) / (c1 + 0.5 * vs))), 4)
                         AS score
                     FROM bg JOIN c12 USING (lang, w1, w2)
                             JOIN c1 USING (lang, w1)
                             JOIN v USING (lang)
                     GROUP BY 1, 2),
              vc AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
              cum AS (SELECT lang, score, sum(c) OVER (
                        PARTITION BY lang ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum FROM vc),
              n AS (SELECT lang, count(*) AS n FROM sc GROUP BY 1),
              b AS (SELECT lang,
                      min(CASE WHEN cum * 3 >= n THEN score END) AS t1,
                      min(CASE WHEN cum * 3 >= n * 2 THEN score END) AS t2
                    FROM cum JOIN n USING (lang) GROUP BY 1),
              bu AS (SELECT sc.lang,
                       CASE WHEN score <= t1 THEN 'head'
                            WHEN score <= t2 THEN 'middle'
                            ELSE 'tail' END AS bucket, score
                     FROM sc JOIN b USING (lang))
             SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
               round(min(score), 4) AS min_score,
               round(max(score), 4) AS max_score
             FROM bu GROUP BY 1, 2 ORDER BY 1, 2""")),

    // fm01: FIM (fill-in-the-middle) training transform — the PSM
    // re-ordering <PRE>prefix<SUF>suffix<MID>middle at a deterministic
    // 50% rate (Bavarian et al. 2022). Selection draw and both cut
    // points are md5 streams on the doc id (the curation determinism
    // rule), so the oracle reproduces every byte; pass-through docs
    // come out verbatim. Scan-speed: one projection, no shuffle.
    NamedQuery("fm01_fim_split",
      (s, d) => Curation.fimSplit(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some("""WITH u AS (SELECT doc_id, text,
                 CAST(length(text) AS BIGINT) AS len,
                 (CAST('0x' || substr(md5('fim#sel#' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) + 1) / 4294967296.0 AS us,
                 (CAST('0x' || substr(md5('fim#a#' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) + 1) / 4294967296.0 AS ua,
                 (CAST('0x' || substr(md5('fim#b#' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) + 1) / 4294967296.0 AS ub
               FROM documents),
              c AS (SELECT doc_id, text, len, us <= 0.5 AS selected,
                 least(len, CAST(floor(ua * (len + 1)) AS BIGINT)) AS c1,
                 least(len, CAST(floor(ub * (len + 1)) AS BIGINT)) AS c2
               FROM u),
              s AS (SELECT doc_id, text, len, selected,
                 least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
             SELECT doc_id, selected,
               CASE WHEN selected THEN lo ELSE 0 END AS lo,
               CASE WHEN selected THEN hi ELSE 0 END AS hi,
               len AS n_chars,
               CASE WHEN selected THEN
                 '<PRE>' || substr(text, 1, CAST(lo AS INT)) ||
                 '<SUF>' ||
                 substr(text, CAST(hi + 1 AS INT), CAST(len - hi AS INT)) ||
                 '<MID>' ||
                 substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
               ELSE text END AS psm
             FROM s ORDER BY doc_id""")),

    // pp08: LM-quality DISTILLATION — train a scan-speed logistic
    // classifier (lr02's GD) to predict pp07's expensive per-language
    // LM head tier from three cheap per-doc features (mean word
    // length, stopword hits, distinct-word ratio). This is the
    // production pattern behind fasttext-style quality classifiers:
    // run the LM once to label a sample, then filter the next 100 TB
    // at scan speed with the distilled model. Features reuse tx13's
    // proven Gopher statistics; the label is pp07's exact tercile.
    // Oracle = the pp07 chain + tx13's feature fragment + lr02's
    // unrolled 5-step GD replay.
    NamedQuery("pp08_quality_distill",
      (s, d) => {
        val ds = docs(s, d)
        val scored = Curation.perplexityBuckets(ds)
          .select(col("doc_id"), col("bucket"))
        // dist rides gopherQuality's projection (keep=, r20): both are
        // per-doc expressions over the same scan, so the second corpus
        // scan + doc_id join the old shape paid for one derived column
        // collapse away; only the bucket join (cross-doc quantiles)
        // remains.
        val words = split(trim(col("text")), "\\s+")
        val g = graft.ops.QualityRules.gopherQuality(ds, keep = Seq(
            (size(array_distinct(words)).cast("double") /
              size(words)).as("dist")))
          .select(col("doc_id"), col("n_words"), col("len_nospace"),
            col("stop_hits"), col("dist"))
        val f = g.join(scored, "doc_id")
        graft.ops.Stats.logisticGD(f,
          (col("bucket") === "head").cast("double"),
          Seq(
            "mwl" -> (col("len_nospace").cast("double") /
              col("n_words") / 10.0),
            "stopr" -> (col("stop_hits").cast("double") / 8.0),
            "dist" -> col("dist")),
          steps = 5, learningRate = 1.0)
          .orderBy("param")
      },
      Some {
        val steps = (1 to 5).map { k =>
          s"""p$k AS (SELECT y, x1, x2, x3,
                 1.0/(1.0 + exp(-(w.a + w.b*x1 + w.c*x2 + w.dd*x3))) AS s
               FROM data CROSS JOIN w${k - 1} w),
             g$k AS (SELECT avg(s - y) AS g0, avg((s - y)*x1) AS g1,
                 avg((s - y)*x2) AS g2, avg((s - y)*x3) AS g3 FROM p$k),
             w$k AS (SELECT w.a - 1.0*g.g0 AS a, w.b - 1.0*g.g1 AS b,
                 w.c - 1.0*g.g2 AS c, w.dd - 1.0*g.g3 AS dd
               FROM w${k - 1} w CROSS JOIN g$k g)"""
        }.mkString(",\n")
        s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                FROM documents),
              w AS (SELECT doc_id, lang, generate_subscripts(ts, 1) AS pos,
                      unnest(ts) AS tok FROM t),
              bg AS (SELECT a.doc_id, a.lang, a.tok AS w1, b.tok AS w2
                     FROM w a JOIN w b
                       ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
              c12 AS (SELECT lang, w1, w2, count(*) AS c12
                      FROM bg GROUP BY 1, 2, 3),
              c1 AS (SELECT lang, w1, count(*) AS c1 FROM bg GROUP BY 1, 2),
              v AS (SELECT lang, count(DISTINCT tok) AS vs
                    FROM w GROUP BY 1),
              sc AS (SELECT doc_id, lang,
                       round(avg(-ln((c12 + 0.5) / (c1 + 0.5 * vs))), 4)
                         AS score
                     FROM bg JOIN c12 USING (lang, w1, w2)
                             JOIN c1 USING (lang, w1)
                             JOIN v USING (lang)
                     GROUP BY 1, 2),
              vc AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
              cum AS (SELECT lang, score, sum(c) OVER (
                        PARTITION BY lang ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum FROM vc),
              n AS (SELECT lang, count(*) AS n FROM sc GROUP BY 1),
              b AS (SELECT lang,
                      min(CASE WHEN cum * 3 >= n THEN score END) AS t1
                    FROM cum JOIN n USING (lang) GROUP BY 1),
              lbl AS (SELECT sc.doc_id,
                        CASE WHEN score <= t1 THEN 1.0 ELSE 0.0 END AS y
                      FROM sc JOIN b USING (lang)),
              wrd AS (SELECT doc_id, text,
                        string_split_regex(trim(text), '\\s+') AS words
                      FROM documents),
              feat AS (SELECT doc_id,
                 CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                   / len(words) / 10.0 AS x1,
                 (CAST(list_contains(words, 'the') AS BIGINT)
                  + CAST(list_contains(words, 'be') AS BIGINT)
                  + CAST(list_contains(words, 'to') AS BIGINT)
                  + CAST(list_contains(words, 'of') AS BIGINT)
                  + CAST(list_contains(words, 'and') AS BIGINT)
                  + CAST(list_contains(words, 'that') AS BIGINT)
                  + CAST(list_contains(words, 'have') AS BIGINT)
                  + CAST(list_contains(words, 'with') AS BIGINT)) / 8.0 AS x2,
                 CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS x3
               FROM wrd),
              data AS (SELECT y, x1, x2, x3
                       FROM lbl JOIN feat USING (doc_id)),
              w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS dd),
              $steps
             SELECT 'w0' AS param, round(a, 6) + 0.0 AS weight FROM w5
             UNION ALL SELECT 'w_mwl', round(b, 6) + 0.0 FROM w5
             UNION ALL SELECT 'w_stopr', round(c, 6) + 0.0 FROM w5
             UNION ALL SELECT 'w_dist', round(dd, 6) + 0.0 FROM w5
             ORDER BY param"""
      })
  )
}
