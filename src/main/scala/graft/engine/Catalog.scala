package graft.engine

import com.fasterxml.jackson.annotation.JsonIgnoreProperties
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One version of a source, as `catalog.json` lists it. An entry is an
  * immutable value: a retype, tag, deprecation or compaction commits a
  * different value, and the data directories it names are never
  * rewritten, so two equal entries always read the same rows.
  */
@JsonIgnoreProperties(ignoreUnknown = true) // older catalogs also record a typed copy
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
    untypedPath: String,         // the version's stored all-text rows
    headers: Seq[String],        // raw headers ("" if none)
    friendlyNames: Seq[String],
    colTypes: Seq[String],       // ColumnType.displayName per column
    jsonType: String,            // rendered JsonType for JSON sources ("" otherwise)
    rowCount: Long,
    compactedPath: String,       // "" unless this version lives in a compacted table
    /** SQL-registrable view name, sanitized like the reference's
      * `_001_simple_csv_v1` views (SensibleNames; a raw `people.csv_v1`
      * is not a valid SQL identifier). ALLOCATED at ingest with a
      * uniqueness check against every existing entry (the reference's
      * mkUniqueView, DB/Sources.hs:150-160) and STORED: sanitation is
      * lossy ('a.b' and 'a_b' both sanitize to a_b_v1), so a derived
      * name would let two sources share one SQL name, last one wins,
      * and the /sql ACL attribute a table to the wrong source.
      */
    viewName: String)

/** Versioned, tagged, searchable dataset catalog (SURVEY.md §1.4, §2
  * I11/I14/I15/I18/I19).
  *
  * Reference: sourcenames/sources/sourcecolumns tables
  * (src/backend/src/Lagoon/DB/Schema.hs:136-219) + version bookkeeping
  * (DB/Sources.hs:62-188). The trigger-maintained `cached_*` columns of
  * the reference are plain computed columns here.
  *
  * Storage: each source version is stored once, as text: a parquet
  * dir `<warehouse>/data/<name>_v<N>-<uuid>/untyped` of `ix` long plus
  * `c1..cN` string, in a directory no earlier ingest used (a version
  * number comes back after its version is deleted; the directory does
  * not). Compaction writes a fresh
  * `<warehouse>/data/<name>_compacted<K>` (the same columns plus `ixs`,
  * the versions a row belongs to). The catalog itself is one JSON
  * document, `<warehouse>/catalog.json` (a list of these entries),
  * beside `acl.json`. Catalog metadata is read and committed on the
  * driver (JsonDoc) and never runs a Spark job; data stays distributed.
  *
  * Data directories are never rewritten in place: a retype changes
  * only the entry's `colTypes`, a compaction re-points the entries at
  * its new directory, and a commit is the only pointer swap.
  * A view reads the stored text with a schema built from its entry and
  * casts each column to the entry's type at read time, so building
  * one runs no job, and a frame built before a retype keeps reading
  * the types it was built with.
  *
  * Metadata is re-read from `catalog.json` on every call, so Catalogs
  * on one warehouse see each other's commits. Frames are not: `view`
  * builds one frame per entry value and hands every later call with an
  * equal entry the same frame, so a version's frame is analyzed once
  * and planned on its first action, not on every request. That is
  * sound because an equal entry names the same immutable directory
  * with the same types, so its frame reads the same rows and its file
  * listing cannot go stale. Each `entries` read drops the frames of
  * entries it no longer lists, so the memo holds the live catalog's
  * entries plus at most those built after the last read.
  */
class Catalog(val spark: SparkSession, val warehouse: String) {
  import spark.implicits._

  private def catalogPath = s"$warehouse/catalog.json"

  // one frame per entry value; `view` fills it, `entries` prunes it
  private[engine] val frames = new ConcurrentHashMap[SourceEntry, DataFrame]

  // read on every call, no cache: other Catalogs on this warehouse
  // commit through the same file. Missing = empty; corrupt throws.
  // Drops the frames of entries the file no longer lists.
  def entries: Seq[SourceEntry] = {
    val es = JsonDoc.read(spark, catalogPath)(in =>
      JsonDoc.mapper.readValue(in, classOf[Array[SourceEntry]]).toSeq).getOrElse(Seq.empty)
    if (!frames.isEmpty) frames.keySet.retainAll(es.toSet.asJava)
    es
  }

  // write-then-swap: never read+overwrite the catalog in place
  private def commit(es: Seq[SourceEntry]): Unit = JsonDoc.write(spark, catalogPath, es)

  def entry(name: String, version: Int): SourceEntry =
    entries.find(x => x.name == name && x.version == version)
      .getOrElse(throw new NoSuchElementException(s"$name v$version"))

  private def removeDir(path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
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
    // a directory no write used before: a version number is reused
    // after that version's delete, and an equal entry must mean equal rows
    val untypedPath = s"$warehouse/data/${name}_v$version-${UUID.randomUUID}/untyped"
    ingested.untyped.write.parquet(untypedPath)
    // count the still-cached parse frame, not a re-read of the file
    // just written — the write is deterministic, so the counts are
    // identical, and this drops one read job per ingest (r19 perf;
    // im22 alone pays 38 of these)
    val rowCount = ingested.untyped.count()
    ingested.unpersist() // write and count done; drop the parse cache

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

  /** The stored text of one entry, `ix` long plus `c1..cN` string:
    * its version directory, or the compacted table's rows that list
    * this version. The schema comes from the entry, so building the
    * frame reads no Parquet footer and runs no job.
    */
  private def text(e: SourceEntry): DataFrame = {
    val fields = StructField("ix", LongType) +:
      e.colTypes.indices.map(i => StructField(s"c${i + 1}", StringType))
    if (e.compactedPath.isEmpty) spark.read.schema(StructType(fields)).parquet(e.untypedPath)
    else spark.read.schema(StructType(fields :+ StructField("ixs", ArrayType(IntegerType))))
      .parquet(e.compactedPath)
      .filter(array_contains(col("ixs"), e.version))
      .drop("ixs")
  }

  /** Friendly-named typed DataFrame of one entry (no catalog read, no
    * Spark job): the stored text cast to the entry's types. The casts
    * are lenient, so a value an overridden type cannot parse reads as
    * NULL instead of failing the read under ANSI. Built once per entry
    * value: an equal entry gets the same frame (see the class doc).
    * The build must not read `entries`, which prunes this map.
    */
  def view(e: SourceEntry): DataFrame = frames.computeIfAbsent(e, _ =>
    Ingest.castColumns(text(e), e.colTypes.map(ColumnType.fromDisplay), e.friendlyNames,
      lenient = true))

  /** Highest version's view, deprecated or not (as sqlNames' bare alias). */
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
    * is case-insensitive, as SqlGate's lowercased name lookup is.
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
    * its bare alias register the same frame. Only perfbench's direct
    * route uses this; `/sql` goes through SqlGate.run.
    */
  def registerViews(): Unit = sqlNames.groupMap(_._2)(_._1).foreach { case (e, names) =>
    val df = view(e)
    names.foreach(df.createOrReplaceTempView)
  }

  /** Column-type override (reference DB/ColumnSpec.hs:182-189,
    * Interface/API.hs:304-311): when inference guessed wrong, set the
    * column's type explicitly. Only the entry changes; views cast the
    * stored text to the new type, so values that don't parse as it read
    * as NULL, and overriding to TEXT restores the raw strings.
    */
  def setColumnType(name: String, version: Int, colIx: Int, t: ColumnType): SourceEntry = {
    val e = entry(name, version)
    require(colIx >= 1 && colIx <= e.colTypes.length,
      s"no column $colIx in $name v$version (${e.colTypes.length} columns)")
    retype(e, e.colTypes.updated(colIx - 1, t.displayName))
  }

  /** Promote a source to typed by re-inferring every column from its
    * stored text — the reference's SourceMakeTyped
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
    val inferred = Infer.inferColumns(text(e).drop("ix"))
    retype(e, e.colTypes.zip(inferred).map { case (oldT, newT) =>
      if (oldT == ColumnType.ColText.displayName) newT.displayName else oldT
    })
  }

  private def retype(e: SourceEntry, newTypes: Seq[String]): SourceEntry = {
    val updated = e.copy(colTypes = newTypes)
    commit(entries.map(x =>
      if (x.name == e.name && x.version == e.version) updated else x))
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
    * restores identical state (runtests.sh:121-158). A compacted table
    * goes once no surviving entry reads it.
    */
  def delete(name: String, version: Option[Int] = None): Unit = {
    val (dead, alive) = entries.partition(e =>
      e.name == name && version.forall(_ == e.version))
    // commit FIRST, delete data after: a crash between the two leaves
    // orphaned (harmless, re-collectable) data, never a catalog
    // pointing at deleted paths
    commit(alive)
    val read = alive.map(_.compactedPath).toSet
    dead.foreach(e => removeDir(new Path(e.untypedPath).getParent.toString))
    dead.map(_.compactedPath).distinct.filter(p => p.nonEmpty && !read(p)).foreach(removeDir)
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
      val padded = (1 to width).map { i =>
        if (i <= e.colTypes.length) col(s"c$i") else lit(null).cast("string").as(s"c$i")
      }
      text(e).select(col("ix").as("orig_ix") +: padded :+ lit(e.version).as("srcver"): _*)
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

    // a fresh directory (numbered past every one this source's entries
    // name); an older compacted copy goes only after the commit
    // re-points every version away from it
    val prefix = s"$warehouse/data/${name}_compacted"
    val k = vs.flatMap(_.compactedPath.stripPrefix(prefix).toIntOption).maxOption.getOrElse(0) + 1
    val compactedPath = s"$prefix$k"
    merged.write.mode(SaveMode.Overwrite).parquet(compactedPath)
    commit(entries.map(e =>
      if (e.name == name) e.copy(compactedPath = compactedPath) else e))
    vs.map(_.compactedPath).distinct.filter(_.nonEmpty).foreach(removeDir)
  }
}
