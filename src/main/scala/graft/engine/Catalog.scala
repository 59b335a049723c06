package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned, tagged, searchable dataset catalog (SURVEY.md §1.4, §2
  * I11/I14/I15/I18/I19).
  *
  * Reference: sourcenames/sources/sourcecolumns tables
  * (src/backend/src/Lagoon/DB/Schema.hs:136-219) + version bookkeeping
  * (DB/Sources.hs:62-188). The trigger-maintained `cached_*` columns of
  * the reference are plain computed columns here.
  *
  * Storage: one parquet dir per source version under
  * `<warehouse>/data/<name>_v<N>/{untyped,typed}`, plus the catalog
  * itself as one JSON document, `<warehouse>/catalog.json` (a list of
  * these entries), beside `acl.json`. Catalog metadata is read and
  * committed on the driver (JsonDoc) and never runs a Spark job; data
  * stays distributed.
  */
final case class SourceEntry(
    ix: Long,                    // global source id (sources.ix analog)
    name: String,
    version: Int,
    created: String,             // ISO-8601 UTC
    addedBy: String,
    description: String,
    deprecated: Boolean,
    tags: Seq[String],
    kind: String,                // "csv" | "json"
    untypedPath: String,
    typedPath: String,
    headers: Seq[String],        // raw headers ("" if none)
    friendlyNames: Seq[String],
    colTypes: Seq[String],       // ColumnType.displayName per column
    jsonType: String,            // rendered JsonType for JSON sources ("" otherwise)
    rowCount: Long,
    compactedPath: String,       // "" unless this version lives in a compacted table
    /** SQL-registrable view name, sanitized like the reference's
      * `_001_simple_csv_v1` views (SensibleNames; a raw `people.csv_v1`
      * is not a valid temp-view identifier). ALLOCATED at ingest with a
      * uniqueness check against every existing entry (the reference's
      * mkUniqueView, DB/Sources.hs:150-160) and STORED: sanitation is
      * lossy ('a.b' and 'a_b' both sanitize to a_b_v1), so a derived
      * name would silently last-wins-overwrite the temp view and let
      * the /sql ACL attribute a table to the wrong source.
      */
    viewName: String)

class Catalog(val spark: SparkSession, val warehouse: String) {
  import spark.implicits._

  private def catalogPath = s"$warehouse/catalog.json"

  // read on every call, no cache: other Catalogs on this warehouse
  // commit through the same file. Missing = empty; corrupt throws.
  def entries: Seq[SourceEntry] =
    JsonDoc.read(spark, catalogPath)(in =>
      JsonDoc.mapper.readValue(in, classOf[Array[SourceEntry]]).toSeq).getOrElse(Seq.empty)

  // write-then-swap: never read+overwrite the catalog in place
  private def commit(es: Seq[SourceEntry]): Unit = JsonDoc.write(spark, catalogPath, es)

  def entry(name: String, version: Int): SourceEntry =
    entries.find(x => x.name == name && x.version == version)
      .getOrElse(throw new NoSuchElementException(s"$name v$version"))

  /** Rename-aside swap of a data directory: write `df` to `<path>_new`,
    * move the live copy ASIDE to `<path>_old` (never deleted inside the
    * window), move the new copy in, run `commitCatalog`, and only then
    * drop the aside copy. A crash anywhere leaves the old data at `path`
    * or restorable at `<path>_old`; the catalog, committed last, never
    * points at deleted data.
    */
  private def swapData(path: String, df: DataFrame)(commitCatalog: => Unit): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_new")
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(tmp, dst)
    commitCatalog
    fs.delete(old, true)
  }

  /** The catalog as a DataFrame (perfbench's direct routes only). */
  def df: DataFrame = entries.toDS().toDF()

  /** Ingest a prepared dataset as a new version of `name` (I14): version
    * = max+1, older versions auto-deprecated (DB/Sources.hs:80-85).
    * `sourceIdent` implements idempotent ingest (I15): if a version
    * already carries the tag SUID:<ident>, ingest is a no-op.
    */
  def ingest(
      name: String,
      ingested: Ingest.Ingested,
      kind: String,
      addedBy: String = "root",
      description: String = "",
      sourceIdent: Option[String] = None,
      created: Option[String] = None): SourceEntry = {

    created.foreach(Search.instant) // an unreadable date would break every date search
    val es = entries
    sourceIdent.map(id => s"SUID:$id").foreach { suid =>
      es.find(e => e.name == name && e.tags.contains(suid)) match {
        case Some(existing) => return existing
        case None => ()
      }
    }

    val version = es.filter(_.name == name).map(_.version).maxOption.getOrElse(0) + 1
    val ix = es.map(_.ix).maxOption.getOrElse(0L) + 1
    val dir = s"$warehouse/data/${name}_v$version"
    val untypedPath = s"$dir/untyped"
    val typedPath = s"$dir/typed"
    ingested.untyped.write.mode(SaveMode.Overwrite).parquet(untypedPath)
    ingested.typed.write.mode(SaveMode.Overwrite).parquet(typedPath)
    // count the still-cached parse frame, not a re-read of the file
    // just written — the write is deterministic, so the counts are
    // identical, and this drops one read job per ingest (r19 perf;
    // im22 alone pays 38 of these)
    val rowCount = ingested.untyped.count()
    ingested.unpersist() // both materializations done; drop the parse cache

    val jsonType = ingested.colTypes match {
      case Seq(ColumnType.ColJSON(Some(t))) => JsonType.render(t)
      case _ => ""
    }
    val entry = SourceEntry(
      ix = ix,
      name = name,
      version = version,
      created = created.getOrElse(java.time.Instant.now().toString),
      addedBy = addedBy,
      description = description,
      deprecated = false,
      tags = sourceIdent.map(id => s"SUID:$id").toSeq,
      kind = kind,
      untypedPath = untypedPath,
      typedPath = typedPath,
      headers = ingested.headers.map(_.getOrElse("")),
      friendlyNames = ingested.friendlyNames,
      colTypes = ingested.colTypes.map(_.displayName),
      jsonType = jsonType,
      rowCount = rowCount,
      compactedPath = "",
      viewName = allocViewName(es, name, version))

    val updated = es.map(e =>
      if (e.name == name) e.copy(deprecated = true) else e) :+ entry
    commit(updated)
    entry
  }

  /** Friendly-named typed DataFrame of one version (the `<name>_vN` view). */
  def view(name: String, version: Int): DataFrame = view(entry(name, version))

  private def view(e: SourceEntry): DataFrame =
    if (e.compactedPath.nonEmpty) {
      // the compacted table stores untyped text; re-apply this version's casts
      val raw = spark.read.parquet(e.compactedPath)
        .filter(array_contains(col("ixs"), e.version))
      // lenient like setColumnType's re-materialization: an overridden
      // type with unparseable values must read as NULL here too, not
      // throw under ANSI at view time
      val typedCols = e.colTypes.zipWithIndex.map { case (t, i) =>
        Ingest.castTo(col(s"c${i + 1}"), ColumnType.fromDisplay(t), lenient = true)
          .as(s"c${i + 1}")
      }
      raw.select(col("ix") +: typedCols: _*)
        .toDF("ix" +: e.friendlyNames: _*)
    } else
      spark.read.parquet(e.typedPath).toDF("ix" +: e.friendlyNames: _*)

  /** Latest (non-deprecated if any) version's view. */
  def view(name: String): DataFrame =
    view(entries.filter(_.name == name).maxBy(_.version))

  /** Render the whole catalog as deterministic dbinfo text — the
    * `dump-db-info` analog (reference runtests.sh:110-117 ingests the
    * full fixture corpus and diffs this shape against a 1,384-line
    * golden file). Stable order, no wall-clock fields unless the
    * caller pinned `created`, so the output is golden-snapshot-able.
    */
  def dbInfo: String = {
    val sb = new StringBuilder
    entries.sortBy(e => (e.name, e.version)).foreach { e =>
      sb.append(s"${e.name} (version ${e.version})\n")
      sb.append(s"  description ${if (e.description.isEmpty) "(none)" else e.description}\n")
      sb.append(s"  tags        ${if (e.tags.isEmpty) "(no tags)" else e.tags.mkString(", ")}\n")
      sb.append(s"  created     ${e.created}\n")
      sb.append(s"  added by    ${e.addedBy}\n")
      sb.append(s"  deprecated  ${if (e.deprecated) "True" else "False"}\n")
      sb.append(s"  kind        ${e.kind}\n")
      sb.append(s"  row count   ${e.rowCount}\n")
      sb.append("  columns\n")
      e.colTypes.zipWithIndex.foreach { case (t, i) =>
        val shown = if (t == "JSON" && e.jsonType.nonEmpty) s"JSON (${e.jsonType})" else t
        val header = e.headers.lift(i).filter(_.nonEmpty)
          .map(h => s" ($h)").getOrElse("")
        sb.append(s"    c${i + 1}\t$shown\t${e.friendlyNames(i)}$header\n")
      }
    }
    sb.toString
  }

  /** mkUniqueView analog (DB/Sources.hs:150-160): preferred name =
    * sanitize(name + "_vN"); on collision with ANY existing entry's
    * view name, insert a counter before the version suffix. The check
    * is case-insensitive because Spark's temp-view resolver is.
    */
  private def allocViewName(es: Seq[SourceEntry], name: String, version: Int): String = {
    val taken = es.map(_.viewName.toLowerCase).toSet
    (Iterator.single(Names.sanitize(name, s"_v$version")) ++
      Iterator.from(1).map(i => Names.sanitize(s"${name}_$i", s"_v$version")))
      .find(v => !taken.contains(v.toLowerCase)).get
  }

  /** Every SQL-registrable table name -> its owning entry: each
    * version's stored unique viewName, plus a bare latest-version alias
    * per source. Bare aliases are allocated collision-proof here (in ix
    * order, deterministic) against both other bare names AND the
    * versioned names — 'a.b' and 'a_b' cannot silently share a temp
    * view, and an ACL owner map keyed on these names can never
    * attribute a table to the wrong source.
    */
  def sqlNames: Map[String, SourceEntry] = {
    val es = entries
    val out = Map.newBuilder[String, SourceEntry]
    val used = scala.collection.mutable.HashSet.empty[String]
    es.foreach { e => out += e.viewName -> e; used += e.viewName.toLowerCase }
    es.groupBy(_.name).values.map(_.maxBy(_.version)).toSeq.sortBy(_.ix).foreach { e =>
      val bare = (Iterator.single(Names.sanitize(e.name, "")) ++
        Iterator.from(1).map(i => Names.sanitize(s"${e.name}_$i", "")))
        .find(n => !used.contains(n.toLowerCase)).get
      out += bare -> e
      used += bare.toLowerCase
    }
    out.result()
  }

  /** Register `<name>_vN` (+ bare latest) temp views for the SQL
    * surface; all names pass Names.sanitize so any ingested source
    * name (dots, spaces, leading digits) is queryable, and sqlNames
    * guarantees no two sources share a registered identifier. One
    * catalog read, one frame per entry: an entry's versioned name and
    * its bare alias register the same frame.
    */
  def registerViews(): Unit = sqlNames.groupMap(_._2)(_._1).foreach { case (e, names) =>
    val df = view(e)
    names.foreach(df.createOrReplaceTempView)
  }

  /** Column-type override + re-type (reference DB/ColumnSpec.hs:182-189,
    * Interface/API.hs:304-311): when inference guessed wrong, set the
    * column's type explicitly and rebuild the typed materialization
    * from the untyped (all-text) table. Values that don't parse as the
    * new type become NULL (try_cast) rather than failing the whole
    * re-type; overriding to TEXT always restores the raw strings.
    */
  def setColumnType(name: String, version: Int, colIx: Int, t: ColumnType): SourceEntry = {
    val e = entry(name, version)
    require(colIx >= 1 && colIx <= e.colTypes.length,
      s"no column $colIx in $name v$version (${e.colTypes.length} columns)")
    rebuildTyped(e, e.colTypes.updated(colIx - 1, t.displayName))
  }

  /** Promote a source to typed by re-inferring every column from the
    * untyped (all-text) table — the reference's SourceMakeTyped
    * (POST /source/:SourceIx, Interface/API.hs:196-200): an ingest
    * made with `--no-type-inference` is upgraded in place without
    * re-reading the original file. Only TEXT columns re-infer (a type
    * already set — by ingest inference or an explicit override — is
    * authoritative); inference is the same one-pass treeAggregate
    * lattice ingest uses, so makeTyped(untyped ingest) ==
    * typed ingest by construction.
    */
  def makeTyped(name: String, version: Int): SourceEntry = {
    val e = entry(name, version)
    val untyped = spark.read.parquet(e.untypedPath)
    val dataCols = e.colTypes.indices.map(i => col(s"c${i + 1}"))
    val inferred = Infer.inferColumns(untyped.select(dataCols: _*))
    val newTypes = e.colTypes.zip(inferred).map { case (oldT, newT) =>
      if (oldT == ColumnType.ColText.displayName) newT.displayName else oldT
    }
    rebuildTyped(e, newTypes)
  }

  private def rebuildTyped(e: SourceEntry, newTypes: Seq[String]): SourceEntry = {
    val untyped = spark.read.parquet(e.untypedPath)
    val cols = newTypes.zipWithIndex.map { case (tn, i) =>
      Ingest.castTo(col(s"c${i + 1}"), ColumnType.fromDisplay(tn), lenient = true)
        .as(s"c${i + 1}")
    }
    // never overwrite typed in place; the catalog keeps the old
    // colTypes until the new copy is in
    val updated = e.copy(colTypes = newTypes)
    swapData(e.typedPath, untyped.select(col("ix") +: cols: _*)) {
      commit(entries.map(x =>
        if (x.name == e.name && x.version == e.version) updated else x))
    }
    updated
  }

  /** Tag / untag (I19; DB/Tags.hs). */
  /** Manual deprecation toggle (reference API SourceSetDeprecated,
    * Interface/API.hs:202-207); ingest still auto-deprecates older
    * versions independently.
    */
  def setDeprecated(name: String, version: Int, flag: Boolean): Unit = {
    val es = entries
    require(es.exists(e => e.name == name && e.version == version),
      s"no source $name v$version")
    commit(es.map(e =>
      if (e.name == name && e.version == version) e.copy(deprecated = flag) else e))
  }

  def tag(name: String, version: Int, t: String): Unit =
    commit(entries.map(e =>
      if (e.name == name && e.version == version && !e.tags.contains(t))
        e.copy(tags = e.tags :+ t) else e))

  def untag(name: String, version: Int, t: String): Unit =
    commit(entries.map(e =>
      if (e.name == name && e.version == version)
        e.copy(tags = e.tags.filterNot(_ == t)) else e))

  /** Delete one version or a whole source (I18); re-ingest after delete
    * restores identical state (runtests.sh:121-158).
    */
  def delete(name: String, version: Option[Int] = None): Unit = {
    val (dead, alive) = entries.partition(e =>
      e.name == name && version.forall(_ == e.version))
    // commit FIRST, delete data after: a crash between the two leaves
    // orphaned (harmless, re-collectable) data, never a catalog
    // pointing at deleted paths
    commit(alive)
    dead.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/data/${e.name}_v${e.version}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Compaction (I11; Ingest.hs:342-428): merge all versions of `name`
    * into one table with an `ixs int[]` version-membership column.
    * Rows identical in content AND original position across versions
    * merge into one row (the reference's round-robin aligned merge);
    * `ix` keeps the original row position, so per-version views
    * (filter array_contains(ixs, v)) round-trip byte-identically even
    * when versions share only some rows (runcompactiontests.sh:48-62).
    */
  def compact(name: String): Unit = {
    val vs = entries.filter(_.name == name).sortBy(_.version)
    require(vs.nonEmpty, s"no such source: $name")
    val width = vs.map(_.colTypes.length).max

    val unioned = vs.map { e =>
      val df = spark.read.parquet(e.untypedPath)
      val padded = (1 to width).map { i =>
        if (df.columns.contains(s"c$i")) col(s"c$i") else lit(null).cast("string").as(s"c$i")
      }
      df.select(col("ix").as("orig_ix") +: padded :+ lit(e.version).as("srcver"): _*)
    }.reduce(_ unionByName _)

    // merge key = (original position, content): rows identical in BOTH
    // collapse to one physical row listing their versions. ix stays the
    // ORIGINAL row position — it is unique per version (what views
    // need), so no global renumbering: a fresh numbering would
    // interleave v2-only rows into v1's sequence and break the
    // per-version byte-identical roundtrip as soon as versions differ
    // (the reference aligns by position the same way,
    // runcompactiontests.sh:48-62). This also deletes a full
    // global sort + zipWithIndex from the old design — at 100 TB the
    // compaction is now one shuffle (the groupBy), nothing else.
    val dataCols = (1 to width).map(i => col(s"c$i"))
    val merged = unioned
      .groupBy(col("orig_ix") +: dataCols: _*)
      .agg(sort_array(collect_set(col("srcver"))).as("ixs"))
      .select(col("orig_ix").as("ix") +: dataCols :+ col("ixs"): _*)

    // committed entries may already point at an older compacted copy
    val compactedPath = s"$warehouse/data/${name}_compacted"
    swapData(compactedPath, merged) {
      commit(entries.map(e =>
        if (e.name == name) e.copy(compactedPath = compactedPath) else e))
    }
  }
}
