package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest pipelines (SURVEY.md §2.A, I1–I9):
  * CSV/TSV/JSON file → untyped DataFrame (all-string c1..cN + ix row
  * number from 1 in file order) → inferred schema. The catalog stores
  * only the untyped text; a typed view casts it per column
  * (`castColumns`) at read time.
  *
  * Reference: src/backend/src/Lagoon/Ingest.hs:82-129 (dispatch),
  * 179-200 (tabular pipeline), 231-255 (JSON pipeline);
  * row numbering Ingest.hs:188,243; typed cast DB/Typed.hs:74-105.
  *
  * Scale design: the default CSV path reads with spark.read.text (fully
  * splittable — a 100 TB file parallelizes by HDFS block), parses fields
  * per-partition, and numbers rows with zipWithIndex (order = file
  * order, no global sort). Inference is one distributed lattice fold
  * (Infer.inferColumns). The multiLine/whole-file paths exist for small
  * files with embedded newlines / multi-value JSON, mirroring the
  * reference's conduit semantics.
  */
object Ingest {

  final case class CsvOptions(
      delimiter: Option[Char] = None,     // default: ',' or '\t' by extension
      hasHeaders: Boolean = true,
      quoting: Boolean = true,            // disableQuoteChar => false
      multiLine: Boolean = false,         // embedded newlines (small files)
      encoding: String = "auto",
      typeInference: Boolean = true,      // noTypeInference => all TEXT
      probeBytes: Long = 4L << 20)        // "auto" probe budget; MaxValue = full scan

  final case class Ingested(
      untyped: DataFrame,                 // ix :: long, c1..cN :: string
      headers: Seq[Option[String]],       // raw header per column (if any)
      friendlyNames: Seq[String],         // sanitized + deduped
      colTypes: Seq[ColumnType],
      cached: Option[org.apache.spark.rdd.RDD[_]] = None) {

    /** Release the parsed-records cache backing `untyped` (safe any
      * time: later actions transparently re-read the input). Call
      * after materializing — Catalog.ingest does.
      */
    def unpersist(): Unit = cached.foreach(_.unpersist(blocking = false))

    /** Friendly-named typed view (I9 + I12, DB/Typed.hs:74-105,
      * DB/ColumnSpec.hs:102-113): per-column strict CAST of the untyped
      * strings; bool accepts the full lagoon literal set.
      */
    def view: DataFrame = castColumns(untyped, colTypes, friendlyNames, lenient = false)
  }

  /** `ix` plus each text column `c<i>` of `text`, cast to `types(i - 1)`
    * by `castTo` and named `names(i - 1)`.
    */
  def castColumns(text: DataFrame, types: Seq[ColumnType], names: Seq[String],
                  lenient: Boolean): DataFrame =
    text.select(col("ix") +: types.zip(names).zipWithIndex.map { case ((t, n), i) =>
      castTo(col(s"c${i + 1}"), t, lenient).as(n)
    }: _*)

  // the lexer's bool literals (InferFieldType.x:28-36), matched
  // lowercase; one map lookup keeps the cast small to analyze, which
  // every catalog view does on each query
  private val boolLiterals = typedLit(
    Seq("t", "true", "y", "yes", "on", "1").map(_ -> true).toMap ++
      Seq("f", "false", "n", "no", "off", "0").map(_ -> false))

  /** CAST one untyped string column to its inferred type. Bool uses the
    * lexer's literal set (InferFieldType.x:28-36); Spark's numeric
    * casts already skip the surrounding whitespace the lexer skips.
    * `lenient` uses try_cast (null on parse failure) — for catalog
    * views, whose types may be user OVERRIDES the values were never
    * inferred for, where an ANSI cast would fail the whole read on one
    * bad row. On a value the lexer typed as `t`, both modes agree
    * (EngineProps). The result has type `t.sparkType`.
    */
  def castTo(c: org.apache.spark.sql.Column, t: ColumnType,
             lenient: Boolean = false): org.apache.spark.sql.Column =
    t match {
      case ColumnType.ColBool =>
        // the lexer's whitespace set (Infer.isWhite); `trim(c)` strips spaces only
        try_element_at(boolLiterals, lower(trim(c, " \t\n\u000B\f\r")))
      case ColumnType.ColInt(_) | ColumnType.ColReal | ColumnType.ColForeign(_, _) =>
        if (lenient) c.try_cast(t.sparkType) else c.cast(t.sparkType)
      case _ => c // Text / Document / int[] / JSON stay raw
    }

  /** The reference's full tab-extension set (Interface/Ingest.hs
    * guessFileType: .tsv/.txt plus the bioinformatics .bed/.gtf).
    */
  private val tabExtensions = Seq(".txt", ".tsv", ".bed", ".gtf")

  private def delimiterFor(path: String, opts: CsvOptions): Char =
    opts.delimiter.getOrElse(
      if (tabExtensions.exists(path.endsWith)) '\t' else ',')

  /** Extension-dispatch name for a raw input: for http(s) URLs the URI
    * PATH (a query string like `data.tsv?sig=...` must not defeat the
    * endsWith checks), otherwise the path as given.
    */
  private def dispatchName(rawPath: String): String =
    if (rawPath.startsWith("http://") || rawPath.startsWith("https://"))
      Option(java.net.URI.create(rawPath).getPath).getOrElse(rawPath)
    else rawPath

  /** Stream an http(s) URL to a local temp file, preserving the
    * extension (so .tsv/.zip dispatch still works), and return its
    * path. The reference ingests URLs the same way — a single driver-
    * side stream (Ingest.hs:566-690). LIMITATION: the temp file lives
    * on the DRIVER's local disk, so http(s) ingest only works with a
    * local master (executors on other nodes cannot read it); it is
    * removed at JVM exit (deleteOnExit). HTTP is not a splittable
    * source regardless — at 100 TB the data should land on HDFS/S3
    * first and be read there (those URIs pass straight through to the
    * Hadoop FS layer and never take this path).
    */
  private[engine] def fetchToLocal(url: String): String = {
    val uri = java.net.URI.create(url)
    val p = Option(uri.getPath).getOrElse("")
    val suffix = p.lastIndexOf('.') match {
      case -1 => ".dat"
      case i  => p.substring(i)
    }
    val tmp = java.nio.file.Files.createTempFile("graft-fetch", suffix)
    tmp.toFile.deleteOnExit()
    val conn = uri.toURL.openConnection()
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(300000)
    val in = conn.getInputStream
    try java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toString
  }

  private def localize(path: String): String =
    if (path.startsWith("http://") || path.startsWith("https://")) fetchToLocal(path)
    else path

  /** Bounded UTF-8 validity probe for `encoding = "auto"` (I1;
    * reference Ingest.hs:138-148 streams the whole file through its
    * decoder). Driver-side via the Hadoop FS layer, so the probe is
    * O(1) even at 100 TB, instead of the full extra scan a distributed
    * replacement-char search would cost. If the whole input fits in
    * `maxBytes` it is decoded in full (exactly the reference's
    * semantics); otherwise windows are sampled at the head/middle/tail
    * of the FIRST and LAST files within the same byte budget, so a
    * file whose first invalid byte lies past the head (mixed or
    * late-Latin-1 content) is still detected. A lone invalid byte that
    * dodges every window would be decoded as U+FFFD by the UTF-8 read
    * path; pass `encoding` explicitly — or raise
    * `CsvOptions.probeBytes` (Long.MaxValue = always-full probe) — for
    * exact control.
    */
  private[engine] def looksUtf8(spark: SparkSession, path: String,
                                maxBytes: Long = 4L << 20,
                                chunkBytes: Int = 64 << 20): Boolean = {
    require(chunkBytes >= 8, s"chunkBytes too small: $chunkBytes")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = Option(fs.globStatus(hp)).getOrElse(Array.empty)
    val files = roots.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.sortBy(_.getPath.toString).filter(_.getLen > 0)
    if (files.isEmpty) return true

    // Constant-space streaming decode (like the reference): a window —
    // which with probeBytes = Long.MaxValue is the WHOLE file, any
    // size — is validated in ≤ chunkBytes slices, never materialized
    // at once (a whole-window Array[Byte] would cap files at 2 GiB via
    // Int and buffer multi-GB inputs on the driver). Each inner slice
    // boundary is a truncation point: the slice may open or close
    // mid-character, exactly the case utf8Valid's headTruncated /
    // tailTruncated flags already model for sampled windows.
    def window(st: org.apache.hadoop.fs.FileStatus, off: Long, len: Long): Boolean = {
      val take = math.min(len, st.getLen - off)
      if (take <= 0) return true
      val in = fs.open(st.getPath)
      try {
        var pos = 0L
        var ok = true
        while (ok && pos < take) {
          val n = math.min(chunkBytes.toLong, take - pos).toInt
          val buf = new Array[Byte](n)
          in.readFully(off + pos, buf, 0, n)
          ok = utf8Valid(buf, headTruncated = off + pos > 0,
                         tailTruncated = off + pos + n < st.getLen)
          pos += n
        }
        ok
      } finally in.close()
    }

    if (files.map(_.getLen).sum <= maxBytes)
      files.forall(st => window(st, 0L, st.getLen)) // full probe
    else {
      // spread sampling: ≤3 windows × ≤2 files within the budget
      val sampled = if (files.length == 1) Seq(files.head)
                    else Seq(files.head, files.last)
      val win = math.max(64L << 10, maxBytes / (3 * sampled.length))
      sampled.forall { st =>
        val offs = Seq(0L, math.max(0L, st.getLen / 2 - win / 2),
                       math.max(0L, st.getLen - win))
          .distinct.filter(_ < st.getLen)
        offs.forall(o => window(st, o, win))
      }
    }
  }

  /** UTF-16 sniff for `encoding = "auto"` — BEYOND the reference,
    * whose UTF-16 fixtures sit in `disabled-tests/` (082-085,
    * unsupported there): a BOM (FFFE/FEFF) or the NUL-byte stripe of
    * ASCII-bearing UTF-16 text selects the right charset before the
    * UTF-8 probe runs. Without this, UTF-16 input silently falls
    * through to the Latin-1 path and every second byte becomes a NUL
    * "character" in the parsed cells. Driver-side, first 4 KiB of the
    * first file — O(1) at any corpus size like looksUtf8.
    */
  private[engine] def sniffUtf16(spark: SparkSession, path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = Option(fs.globStatus(hp)).getOrElse(Array.empty)
    val files = roots.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.sortBy(_.getPath.toString).filter(_.getLen > 0)
    files.headOption.flatMap { st =>
      val n = math.min(4096L, st.getLen).toInt
      val buf = new Array[Byte](n)
      val in = fs.open(st.getPath)
      try in.readFully(0, buf, 0, n) finally in.close()
      def b(i: Int) = buf(i) & 0xFF
      // Java's "UTF-16" charset consumes the BOM and picks the order
      if (n >= 2 && ((b(0) == 0xFF && b(1) == 0xFE) || (b(0) == 0xFE && b(1) == 0xFF)))
        Some("UTF-16")
      else if (n >= 16) {
        // ASCII code units put a NUL in one byte parity; genuine UTF-8
        // or Latin-1 text has (almost) no NULs at all
        var evenZero = 0
        var oddZero = 0
        var i = 0
        while (i < n) {
          if (buf(i) == 0) { if (i % 2 == 0) evenZero += 1 else oddZero += 1 }
          i += 1
        }
        val half = n / 2
        if (oddZero * 10 > half * 6 && evenZero * 10 < half) Some("UTF-16LE")
        else if (evenZero * 10 > half * 6 && oddZero * 10 < half) Some("UTF-16BE")
        else None
      } else None
    }
  }

  /** Strict UTF-8 decode of a sampled window. A malformed sequence
    * within 4 bytes of a tail-truncated buffer's end is a split
    * multi-byte char, not evidence of another encoding; likewise a
    * head-truncated window may OPEN mid-char, so up to 3 leading
    * continuation bytes are skipped.
    */
  private def utf8Valid(bytes: Array[Byte], headTruncated: Boolean,
                        tailTruncated: Boolean): Boolean = {
    var start = 0
    if (headTruncated)
      while (start < bytes.length && start < 3 && (bytes(start) & 0xC0) == 0x80)
        start += 1
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    val bb = java.nio.ByteBuffer.wrap(bytes, start, bytes.length - start)
    val res = dec.decode(bb, java.nio.CharBuffer.allocate(bytes.length), true)
    res.isUnderflow || (tailTruncated && bytes.length - bb.position() <= 4)
  }

  /** CSV/TSV → Ingested. Accepts local paths, Hadoop-FS URIs, and
    * http(s) URLs (I3; fetched driver-side, see fetchToLocal).
    *
    * Single-pass design: the raw input is read and parsed ONCE. The
    * parsed records RDD is persisted (memory, spilling to disk), so
    * the header probe, row numbering, the fused width+inference
    * aggregate, and the caller's materialization all reuse the one
    * parse instead of re-reading the file 4-6×; the encoding probe
    * reads a bounded driver-side prefix, not a full scan. At 100 TB
    * that is the difference between 1× and ~6× the input I/O. The
    * cache is released by Ingested.unpersist() (or LRU/GC).
    */
  def csv(spark: SparkSession, rawPath: String, opts: CsvOptions = CsvOptions()): Ingested = {
    // options dispatch on the ORIGINAL name (extension survives the
    // fetch; query strings are stripped by dispatchName)
    val path = localize(rawPath)
    val dname = dispatchName(rawPath)
    val popts = CsvParser.Options(delimiterFor(dname, opts),
      if (opts.quoting) Some('"') else None)

    // UTF-8 with Latin-1 fallback (I1; reference Ingest.hs:138-148):
    // "auto" probes a bounded prefix for invalid UTF-8 and, if found,
    // re-reads as ISO-8859-1 (which decodes any byte sequence). A
    // UTF-16 sniff (BOM or NUL stripe) runs FIRST — UTF-16 is beyond
    // the reference (its fixtures for it are disabled) and would
    // otherwise mojibake through the Latin-1 path.
    val enc =
      if (!opts.encoding.equalsIgnoreCase("auto")) opts.encoding
      else sniffUtf16(spark, path).getOrElse(
        if (looksUtf8(spark, path, opts.probeBytes)) "UTF-8"
        else "ISO-8859-1")

    // raw records in file order
    val records0 =
      if (path.endsWith(".zip")) {
        // single-entry zip decompression (I3; Ingest.hs:566-690 guesses
        // the method from the extension). Zip is not splittable, so this
        // reads per-file — for 100 TB inputs use many zip parts or a
        // splittable codec upstream.
        spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
          val zin = new java.util.zip.ZipInputStream(pds.open())
          val entry = zin.getNextEntry
          if (entry == null) Iterator.empty
          else {
            val content = new String(zin.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            zin.close()
            CsvParser.splitRecords(content, popts)
          }
        }
      } else if (opts.multiLine) {
        // decode with the PROBED encoding (wholeTextFiles is UTF-8
        // only — a Latin-1 multiLine file would mojibake)
        if (enc.equalsIgnoreCase("UTF-8"))
          spark.sparkContext.wholeTextFiles(path)
            .flatMap { case (_, content) => CsvParser.splitRecords(content, popts) }
        else
          spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
            CsvParser.splitRecords(
              new String(pds.toArray(), java.nio.charset.Charset.forName(enc)), popts)
          }
      } else {
        // blank lines are not records (fixture 088: a `\r\r\n` ending
        // makes Hadoop's line reader — which accepts lone '\r' as a
        // terminator — emit a phantom empty line; the reference yields
        // 3 rows there, not 5). A line is blank when nothing remains
        // after CR stripping.
        def blank(l: String) = l.forall(_ == '\r')
        if (enc.equalsIgnoreCase("UTF-8"))
          spark.read.textFile(path).rdd
            .filter(l => !blank(l)).map(CsvParser.splitLine(_, popts))
        else
          spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
            val s = new String(pds.toArray(), java.nio.charset.Charset.forName(enc))
            s.split("\n", -1).iterator.filter(l => !blank(l))
          }.map(CsvParser.splitLine(_, popts))
      }

    // one parse of the input, reused by every downstream action
    val records = records0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val header: Option[Array[String]] =
      if (opts.hasHeaders) Some(records.first()) else None

    // drop the header row (it is always the first record of the file),
    // then number data rows 1..N in file order (I6, Ingest.hs:188)
    val indexed = records.zipWithIndex()
    val dataRows = header match {
      case Some(_) => indexed.filter(_._2 > 0).map { case (r, i) => (r, i) }      // ix = i (1-based already)
      case None    => indexed.map { case (r, i) => (r, i + 1) }
    }

    // ONE fused aggregate computes dynamic width (I7: max fields over
    // all rows) AND the inference lattice (I4) — the reference does
    // both in its single conduit pass (Ingest.hs:179-200); Infer's
    // rowStep already widens as it folds, so the pair shares a
    // treeAggregate over the cached parse
    val headerWidth = header.map(_.length).getOrElse(0)
    val (dataWidth, lattice) =
      if (!opts.typeInference)
        (if (dataRows.isEmpty()) 0 else dataRows.map(_._1.length).max(),
         Vector.empty[Option[ColumnType]])
      else {
        val acc = dataRows.treeAggregate(Infer.emptyAcc)(
          (a, r) => Infer.accStep(a,
            scala.collection.immutable.ArraySeq.unsafeWrapArray(r._1)),
          Infer.accMerge _)
        (acc.width, Infer.accGuesses(acc))
      }
    val width = math.max(headerWidth, dataWidth)

    // materialize via the codegen'd product encoder + a column
    // projection (try_element_at pads ragged rows with null), NOT
    // Row.fromSeq + createDataFrame(RDD[Row]) — the Row path converts
    // every value through interpreted CatalystTypeConverters, which is
    // the slowest part of the old ingest at scale
    val untyped = {
      import spark.implicits._
      spark.createDataset(dataRows)
        .toDF("fields", "ix")
        .select(col("ix") +:
          (1 to width).map(i => try_element_at(col("fields"), lit(i)).as(s"c$i")): _*)
    }

    val colTypes: Seq[ColumnType] =
      if (!opts.typeInference) Vector.fill(width)(ColumnType.ColText)
      else
        // columns that only ever saw padding nulls default to Text
        lattice.map(_.getOrElse(ColumnType.ColText)).padTo(width, ColumnType.ColText)

    val headers: Seq[Option[String]] = (0 until width).map { i =>
      header.flatMap(h => if (i < h.length) Some(h(i)) else None)
    }
    val friendly = Names.dedup(headers.zipWithIndex.map {
      case (Some(h), _) => h
      case (None, i)    => s"c${i + 1}"
    })
    Ingested(untyped, headers, friendly, colTypes, cached = Some(records))
  }

  /** Extra-data ingest (I10; Ingest.hs:267-340, DataFormat.hs:134-172):
    * a wide file whose HEADERS match row values of an existing metadata
    * source is melted into long form. Each header either equals a value
    * in `metaField` of `meta` (→ it references that row's ix) or is a
    * plain data column. Every input row yields one output row per
    * referencing column: (ix, foreign_ix, value, <data columns>).
    *
    * The header→ix lookup is driver-side (headers are one small row —
    * same as the reference's in-memory `lookupRowIx`), but the
    * metadata source is SEMI-FILTERED on the header set before the
    * collect: at most |headers| rows ever reach the driver, so a
    * 100M-row metadata table costs one pushed-down scan, not a driver
    * OOM. Duplicate metadata values resolve to the SMALLEST ix —
    * deterministic, where a raw collect-to-map kept an arbitrary
    * partition-order winner. The melt itself is a distributed
    * posexplode, so the wide fact file can be 100 TB.
    */
  def extraData(spark: SparkSession, widePath: String,
                meta: DataFrame, metaField: String,
                opts: CsvOptions = CsvOptions()): Ingested = {
    val wide = csv(spark, widePath, opts)
    val headerVals = wide.headers.flatten.map(_.trim).distinct
    val headerToIx: Map[String, Long] =
      if (headerVals.isEmpty) Map.empty
      else meta.select(trim(col(metaField)).cast("string").as("__h"),
          col("ix").cast("long").as("__ix"))
        .filter(col("__h").isin(headerVals: _*))
        .groupBy(col("__h")).agg(min(col("__ix")).as("__ix"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val headers = wide.headers.map(_.getOrElse(""))
    val refCols: Seq[(Int, Long)] = headers.zipWithIndex.collect {
      case (h, i) if headerToIx.contains(h.trim) => (i, headerToIx(h.trim))
    }
    val dataCols: Seq[(Int, String)] = headers.zipWithIndex.collect {
      case (h, i) if !headerToIx.contains(h.trim) => (i, h)
    }

    // one output row per (input row, referencing column), file order
    val pairs = array(refCols.map { case (i, fix) =>
      struct(lit(fix).as("fix"), col(s"c${i + 1}").as("v"))
    }: _*)
    val melted = wide.untyped
      .select(col("ix").as("src_ix"), posexplode(pairs).as(Seq("pos", "p")),
        struct(dataCols.map { case (i, _) => col(s"c${i + 1}") }: _*).as("d"))
      .select(Seq(col("src_ix"), col("pos"), col("p.fix").as("c1"), col("p.v").as("c2")) ++
        dataCols.zipWithIndex.map { case ((i, _), o) =>
          col(s"d.c${i + 1}").as(s"c${o + 3}") }: _*)

    // renumber 1..N in (source row, column) order without a global sort
    // collapse: range-partition + per-partition index
    val ordered = melted.orderBy("src_ix", "pos").drop("src_ix", "pos")
    val fields = ordered.schema.fields
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("ix", org.apache.spark.sql.types.LongType, false) +: fields)
    val rows = ordered.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((i + 1L) +: r.toSeq)
    }
    val untyped = spark.createDataFrame(rows, outSchema)
      .withColumn("c1", col("c1").cast("string")) // untyped table is all-text

    val valueAndData = untyped.select(
      (2 to (2 + dataCols.length)).map(i => col(s"c$i")): _*)
    val inferred = Infer.inferColumns(valueAndData)
    val colTypes = ColumnType.ColForeign("meta", "ix") +: inferred
    Ingested(untyped,
      None +: None +: dataCols.map(c => Some(c._2)),
      Names.dedup("foreign_ix" +: "value" +: dataCols.map(_._2)),
      colTypes,
      cached = wide.cached) // the wide parse backs every downstream action
  }

  final case class JsonOptions(
      path: String = "_",          // JsonPath: which sub-values become rows
      lineMode: Boolean = false)   // JSONL fast path (one value per line)

  /** JSON file → Ingested: one row per selected top-level value, stored
    * raw (the JSONB analog, DataFormat.hs:229-232); the inferred JsonType
    * is carried in the single ColJSON column type. Accepts http(s)
    * URLs like csv().
    */
  def json(spark: SparkSession, rawPath: String, opts: JsonOptions = JsonOptions()): Ingested = {
    val path = localize(rawPath)
    val jpath = JsonInfer.parsePath(opts.path)
    // persisted like csv(): numbering, unification, and the caller's
    // materialization reuse one parse of the input
    val values =
      (if (opts.lineMode)
        spark.read.textFile(path).rdd
          .filter(_.trim.nonEmpty)
          .flatMap(v => JsonInfer.select(v.trim, jpath))
      else
        spark.sparkContext.wholeTextFiles(path).flatMap { case (_, content) =>
          JsonInfer.splitTopLevel(content).flatMap(JsonInfer.select(_, jpath))
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val rows = values.zipWithIndex().map { case (v, i) => Row(i + 1L, v) }
    val schema = StructType(Seq(
      StructField("ix", LongType, nullable = false),
      StructField("c1", StringType, nullable = true)))
    val untyped = spark.createDataFrame(rows, schema)

    // cross-row unification (I5): per-partition fold, tree merge
    val jtype = untyped.rdd.treeAggregate(JsonType.JUnknown: JsonType)(
      (acc, r) => JsonType.unify(acc, JsonInfer.inferValue(r.getString(1))),
      JsonType.unify)

    Ingested(untyped, Seq(None), Seq("json"), Seq(ColumnType.ColJSON(Some(jtype))),
      cached = Some(values))
  }
}
