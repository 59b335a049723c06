package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import java.nio.file.Files

/** Versioning / idempotency / delete / tags / compaction roundtrip
  * (I11, I14, I15, I18, I19; runtests.sh:70-158, runcompactiontests.sh).
  */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def res(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  private def freshCatalog(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft-wh").toString)

  test("ingest bumps version and deprecates older (I14)") {
    val cat = freshCatalog()
    val e1 = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(e1.version == 1 && !e1.deprecated)
    val e2 = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(e2.version == 2)
    val es = cat.entries.sortBy(_.version)
    assert(es.map(_.deprecated) == Seq(true, false))
    assert(cat.view("t", 1).count() == 4)
    assert(cat.view("t").columns.contains("bool"))
  }

  test("idempotent ingest via source identifier (I15)") {
    val cat = freshCatalog()
    val e1 = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv",
      sourceIdent = Some("sha-abc"))
    val e2 = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv",
      sourceIdent = Some("sha-abc"))
    assert(e1.version == e2.version)
    assert(cat.entries.size == 1)
  }

  test("makeTyped promotes a no-inference ingest to the typed-ingest types") {
    val cat = freshCatalog()
    val u = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv"),
      Ingest.CsvOptions(typeInference = false)), "csv")
    assert(u.colTypes.forall(_ == ColumnType.ColText.displayName))
    val promoted = cat.makeTyped("t", u.version)
    val typedRef = cat.ingest("ref", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    // promoted in place: same (name, version), ingest-identical types
    assert(promoted.version == u.version)
    assert(promoted.colTypes == typedRef.colTypes)
    // typed view now yields typed values (bool column parses)
    val vt = cat.view("t", promoted.version)
    assert(vt.schema.fields.exists(_.dataType ==
      org.apache.spark.sql.types.BooleanType))
    // a second makeTyped is a no-op fixed point (nothing is TEXT twice)
    assert(cat.makeTyped("t", u.version).colTypes == promoted.colTypes)
  }

  test("delete one version / whole source; re-ingest restores state (I18)") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    cat.ingest("t", Ingest.csv(spark, res("ragged.csv")), "csv")
    cat.delete("t", Some(2))
    assert(cat.entries.map(_.version) == Seq(1))
    cat.delete("t")
    assert(cat.entries.isEmpty)
    val e = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(e.version == 1)
  }

  test("tag / untag maintains cached tags (I19)") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    cat.tag("t", 1, "alpha"); cat.tag("t", 1, "beta"); cat.tag("t", 1, "alpha")
    assert(cat.entries.head.tags == Seq("alpha", "beta"))
    cat.untag("t", 1, "alpha")
    assert(cat.entries.head.tags == Seq("beta"))
  }

  test("column-type override + re-type roundtrip (ColumnSpec.hs:182-189)") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(cat.entries.head.colTypes(1) == "INTEGER")
    // override int -> TEXT: typed view now returns the raw strings
    cat.setColumnType("t", 1, 2, ColumnType.ColText)
    assert(cat.entries.head.colTypes(1) == "TEXT")
    val asText = cat.view("t", 1).orderBy("ix")
    assert(asText.schema("int").dataType == org.apache.spark.sql.types.StringType)
    assert(asText.select("int").collect().map(_.getString(0)).toSeq ==
      Seq("2", "7", "-42", "123456789"))
    // override back to INTEGER: values and schema fully restored
    cat.setColumnType("t", 1, 2, ColumnType.ColInt(IntWidth.I4))
    val restored = cat.view("t", 1).orderBy("ix")
    assert(restored.schema("int").dataType == org.apache.spark.sql.types.IntegerType)
    assert(restored.select("int").collect().map(_.getInt(0)).toSeq ==
      Seq(2, 7, -42, 123456789))
    // unparseable override goes NULL per value, not whole-re-type failure
    cat.setColumnType("t", 1, 5, ColumnType.ColInt(IntWidth.I4))
    assert(cat.view("t", 1).filter(org.apache.spark.sql.functions.col("text").isNull)
      .count() == 4)
    // same contract through the compacted read path (re-cast at view time)
    cat.compact("t")
    assert(cat.view("t", 1).filter(org.apache.spark.sql.functions.col("text").isNull)
      .count() == 4)
  }

  test("corrupt catalog raises instead of silently wiping") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(cat.entries.length == 1)
    // corrupt the committed catalog document. The read must PROPAGATE
    // the failure — a catch-all returning Seq.empty would let the next
    // commit() overwrite the real catalog with it.
    val doc = java.nio.file.Paths.get(cat.warehouse, "catalog.json")
    java.nio.file.Files.writeString(doc, "this is not json")
    intercept[Exception] { cat.entries }
    // a genuinely MISSING catalog is still just empty
    val empty = freshCatalog()
    assert(empty.entries.isEmpty)
  }

  test("compaction roundtrip: per-version download identical pre/post (I11)") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv") // identical v2
    val before1 = Export.csvString(cat.view("t", 1).orderBy("ix"))
    val before2 = Export.csvString(cat.view("t", 2).orderBy("ix"))
    cat.compact("t")
    val after1 = Export.csvString(cat.view("t", 1).orderBy("ix"))
    val after2 = Export.csvString(cat.view("t", 2).orderBy("ix"))
    assert(after1 == before1)
    assert(after2 == before2)
    // identical versions share rows: compacted table has 4 rows, ixs=[1,2]
    val compacted = spark.read.parquet(cat.entries.head.compactedPath)
    assert(compacted.count() == 4)
    import org.apache.spark.sql.functions._
    assert(compacted.select(min(size(col("ixs")))).head.getInt(0) == 2)
  }

  test("compaction with DIFFERING versions: partial overlap aligns by position") {
    // runcompactiontests.sh:48-62 semantics — v2 changes a row, adds a
    // row, and v3 is ragged-wider; each version must still round-trip
    // byte-identically and ixs must split by (position, content)
    val cat = freshCatalog()
    def ing(content: String): Unit = {
      val p = java.nio.file.Files.createTempFile("graft-cmp", ".csv")
      java.nio.file.Files.writeString(p, content)
      cat.ingest("t", Ingest.csv(spark, p.toString), "csv")
    }
    ing("a,b\n1,x\n2,y\n3,z\n")
    ing("a,b\n1,x\n2,CHANGED\n3,z\n4,w\n")
    ing("a,b,c\n1,x,p\n")
    val pre = Seq(1, 2, 3).map(v => Export.csvString(cat.view("t", v).orderBy("ix")))
    cat.compact("t")
    val post = Seq(1, 2, 3).map(v => Export.csvString(cat.view("t", v).orderBy("ix")))
    assert(pre == post)
    val compacted = spark.read.parquet(cat.entries.head.compactedPath)
    import org.apache.spark.sql.functions._
    assert(compacted.count() == 6)
    assert(compacted.filter(size(col("ixs")) === 2).count() == 2)   // rows 1,3 of v1+v2
    // per-version ix sequences are the ORIGINAL positions
    assert(cat.view("t", 2).orderBy("ix").select("ix")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(cat.view("t", 3).columns.toSeq == Seq("ix", "a", "b", "c"))
  }

  test("view names stay unique when sanitation collides (mkUniqueView analog)") {
    val cat = freshCatalog()
    // 'a.b' and 'a_b' both sanitize to a_b — before the stored
    // allocation, the second silently overwrote the first's temp view
    // and the /sql ACL owner map attributed a_b_v1 to the wrong source
    val e1 = cat.ingest("a.b", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val e2 = cat.ingest("a_b", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(e1.viewName == "a_b_v1")
    assert(e2.viewName != e1.viewName, "colliding sanitized names")
    // bare latest aliases are disambiguated too, in ix order
    val names = cat.sqlNames
    assert(names.size == 4, names.keySet)
    assert(names("a_b").name == "a.b")
    val bareForSecond = names.collectFirst {
      case (n, e) if e.name == "a_b" && !n.endsWith("_v1") => n
    }.get
    assert(bareForSecond != "a_b")
    // both sources are independently queryable after registration
    cat.registerViews()
    assert(spark.sql(s"SELECT * FROM ${e1.viewName}").count() == 4)
    assert(spark.sql(s"SELECT * FROM ${e2.viewName}").count() == 4)
  }

  test("sqlNames bare alias tracks the LATEST version per source") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val e2 = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val names = cat.sqlNames
    assert(names("t").version == e2.version)
    assert(names.keySet == Set("t", "t_v1", "t_v2"))
  }

  test("ingest's cached rowCount matches a read-back of the persisted files (r19 advice)") {
    // r19 switched the recorded rowCount from a file re-read to the
    // still-cached parse frame (one read job saved per ingest); this
    // spec keeps the persisted-file integrity check alive somewhere: a
    // silently truncated/partial write would diverge from the cached
    // count here.
    val cat = freshCatalog()
    val e = cat.ingest("rb", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(spark.read.parquet(e.untypedPath).count() == e.rowCount,
      "untyped parquet on disk diverges from the cached ingest count")
  }

  /** A compacted version's reference read: the same renames and casts
    * over a footer-inferred `spark.read.parquet` of the compacted table.
    */
  private def footerView(e: SourceEntry): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array_contains, col}
    val typedCols = e.colTypes.zipWithIndex.map { case (t, i) =>
      Ingest.castTo(col(s"c${i + 1}"), ColumnType.fromDisplay(t), lenient = true)
        .as(s"c${i + 1}")
    }
    spark.read.parquet(e.compactedPath)
      .filter(array_contains(col("ixs"), e.version))
      .select(col("ix") +: typedCols: _*)
      .toDF("ix" +: e.friendlyNames: _*)
  }

  /** `cat.view(e)` has `ref`'s rows and schema, and neither it nor a
    * download's frame (`view(name, version)`) runs a Spark job. With
    * `fullSchema` the whole StructType must match (nullability and
    * metadata too); without it, only column names and data types.
    */
  private def assertViewFromEntry(cat: Catalog, e: SourceEntry,
                                  ref: org.apache.spark.sql.DataFrame,
                                  fullSchema: Boolean): Unit = {
    val label = s"${e.name} v${e.version}"
    val jobs = TestSpark.jobsOf("view")(cat.view(e))
    assert(jobs.isEmpty, s"$label: view ran jobs $jobs")
    val download = TestSpark.jobsOf("download")(cat.view(e.name, e.version))
    assert(download.isEmpty, s"$label: download frame ran jobs $download")
    val v = cat.view(e)
    def types(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    if (fullSchema) assert(v.schema == ref.schema, label)
    else assert(types(v) == types(ref), label)
    assert(v.orderBy("ix").collect().toSeq == ref.orderBy("ix").collect().toSeq, label)
  }

  private def csvFile(text: String): String = {
    val p = Files.createTempFile("graft-view", ".csv")
    Files.writeString(p, text)
    p.toString
  }

  test("view of a plain entry: the strict ingest's types and rows, 0 jobs") {
    val cat = freshCatalog()
    // each plain entry against the strict typed projection of its own
    // ingest (`Ingested.view`), re-typed to the entry's types
    val plain = Seq.newBuilder[(SourceEntry, Ingest.Ingested)]
    def ingest(name: String, ing: Ingest.Ingested, kind: String = "csv"): SourceEntry = {
      val e = cat.ingest(name, ing, kind)
      plain += e -> ing
      e
    }
    // every inferred type, plus a ragged header-less column
    val doc = "d" * (ColumnType.MaxTextLen + 1)
    val every = ingest("every", Ingest.csv(spark, csvFile(
      s"b,i,l,r,t,d\nt,2,12345678901,1.5,hello,$doc\nf,-7,42,2e3,world,short,x\n")))
    assert(every.colTypes.toSet == Set("BOOLEAN", "INTEGER", "BIGINT",
      "DOUBLE PRECISION", "TEXT", "DOCUMENT"), every.colTypes)
    val js = Files.createTempFile("graft-view", ".json")
    Files.writeString(js, """{"a":1} {"a":2,"b":"x"}""")
    ingest("js", Ingest.json(spark, js.toString), "json")
    val meta = ingest("meta", Ingest.csv(spark, res("projects_md.csv")))
    val metaView = cat.view(meta)
    val extra = ingest("extra", Ingest.extraData(spark, res("projects_data.csv"),
      metaView, metaView.columns(1)))
    assert(extra.colTypes.head == "FOREIGN meta(ix)")
    ingest("retyped", Ingest.csv(spark, res("typeinfer.csv")))
    ingest("promoted", Ingest.csv(spark, res("typeinfer.csv"),
      Ingest.CsvOptions(typeInference = false)))
    cat.setColumnType("retyped", 1, 2, ColumnType.ColText)
    val retyped = cat.setColumnType("retyped", 1, 3, ColumnType.ColArr)
    assert(retyped.colTypes.slice(1, 3) == Seq("TEXT", "int[]"))
    val promoted = cat.makeTyped("promoted", 1)
    assert(promoted.colTypes.contains("BOOLEAN"), promoted.colTypes)
    // names and data types only: the ingest's `ix` comes from
    // zipWithIndex and is non-nullable, a file read's is nullable
    for ((e0, ing) <- plain.result()) {
      val e = cat.entry(e0.name, e0.version)
      assertViewFromEntry(cat, e,
        ing.copy(colTypes = e.colTypes.map(ColumnType.fromDisplay)).view, fullSchema = false)
    }
  }

  test("view reads its schema from the entry: footer-read schema and rows, 0 jobs") {
    val cat = freshCatalog()
    // compacted versions of different widths, one of them retyped, and
    // one version holding every inferred type plus a ragged column
    val doc = "d" * (ColumnType.MaxTextLen + 1)
    cat.ingest("every", Ingest.csv(spark, csvFile(
      s"b,i,l,r,t,d\nt,2,12345678901,1.5,hello,$doc\nf,-7,42,2e3,world,short,x\n")), "csv")
    cat.ingest("w", Ingest.csv(spark, csvFile("a,b\n1,x\n2,y\n")), "csv")
    cat.ingest("w", Ingest.csv(spark, csvFile("a,b,c\n1,x,true\n3,z,false\n")), "csv")
    cat.setColumnType("w", 2, 1, ColumnType.ColArr)
    cat.compact("w")
    cat.compact("every")
    val compacted = cat.entries.filter(e => Set("w", "every")(e.name))
    assert(compacted.size == 3 && compacted.forall(_.compactedPath.nonEmpty))
    assert(compacted.map(_.colTypes.length).toSet == Set(2, 3, 7))
    compacted.foreach(e => assertViewFromEntry(cat, e, footerView(e), fullSchema = true))
  }

  test("delete removes a compacted table once no surviving version reads it") {
    val cat = freshCatalog()
    val data = new java.io.File(cat.warehouse, "data")
    // a version directory is `t_v<N>-<uuid>`: strip the ingest's suffix
    def dirs = data.list().toSeq.filter(_.startsWith("t_"))
      .map(_.replaceFirst("-[0-9a-f-]{36}$", "")).sorted
    def download(v: Int) = Export.csvString(cat.view("t", v).orderBy("ix"))
    cat.ingest("t", Ingest.csv(spark, csvFile("a,b\n1,x\n2,y\n")), "csv")
    cat.ingest("t", Ingest.csv(spark, csvFile("a,b\n1,x\n3,z\n")), "csv")
    cat.ingest("t", Ingest.csv(spark, csvFile("a,b,c\n1,x,p\n")), "csv")
    cat.compact("t")
    assert(dirs == Seq("t_compacted1", "t_v1", "t_v2", "t_v3"))
    // a second compaction writes a fresh directory and drops the first
    cat.compact("t")
    assert(dirs == Seq("t_compacted2", "t_v1", "t_v2", "t_v3"))
    val before = Seq(1, 3).map(download)
    cat.delete("t", Some(2))
    assert(dirs == Seq("t_compacted2", "t_v1", "t_v3"))
    assert(Seq(1, 3).map(download) == before)
    cat.delete("t")
    assert(cat.entries.isEmpty)
    assert(dirs.isEmpty, dirs)
  }

  test("view builds one frame per entry value; a changed entry gets its own, a dead one none") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val cat = freshCatalog()
    // the memo holds frames only for entries of the last `entries` read
    def live(): Set[SourceEntry] = {
      val es = cat.entries.toSet
      assert(cat.frames.keySet.asScala.subsetOf(es), cat.frames.keySet)
      cat.frames.keySet.asScala.toSet
    }
    val e = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val v = cat.view(e)
    // an equal entry re-read from catalog.json gets the same frame
    assert(cat.view(cat.entry("t", 1)) eq v)
    assert(cat.view("t", 1) eq v)
    assert(live() == Set(e))
    val retyped = cat.setColumnType("t", 1, 2, ColumnType.ColText)
    val vRetyped = cat.view(retyped)
    assert(!(vRetyped eq v))
    assert(v.schema("int").dataType == IntegerType && vRetyped.schema("int").dataType == StringType)
    assert(live() == Set(retyped))
    cat.tag("t", 1, "x")
    val tagged = cat.entry("t", 1)
    val vTagged = cat.view(tagged)
    assert(!(vTagged eq vRetyped) && vTagged.schema == vRetyped.schema)
    assert(live() == Set(tagged))
    cat.compact("t")
    val compacted = cat.entry("t", 1)
    val vCompacted = cat.view(compacted)
    assert(compacted.compactedPath.nonEmpty && !(vCompacted eq vTagged))
    assert(vCompacted.schema == vTagged.schema)
    assert(Export.csvString(vCompacted.orderBy("ix")) == Export.csvString(vTagged.orderBy("ix")))
    assert(live() == Set(compacted))
    cat.delete("t")
    assert(live().isEmpty)
  }

  test("a re-ingest after delete reads its own rows through a Catalog that memoized the old entry") {
    val a = freshCatalog()
    val b = new Catalog(spark, a.warehouse)
    val created = Some("2001-06-01T00:00:00Z")
    val old = a.ingest("t", Ingest.csv(spark, csvFile("k\n2\n3\n")), "csv", created = created)
    def ks(c: Catalog) = c.view("t", 1).orderBy("ix").collect().map(_.getInt(1)).toSeq
    assert(ks(b) == Seq(2, 3))
    a.delete("t")
    val fresh = a.ingest("t", Ingest.csv(spark, csvFile("k\n4\n5\n")), "csv", created = created)
    // the same entry but for its directory: no ingest reuses one
    assert(fresh.untypedPath != old.untypedPath)
    assert(fresh.copy(untypedPath = old.untypedPath) == old)
    assert(ks(b) == Seq(4, 5))
  }

  test("8 threads reading two memoized views get the single-threaded bytes") {
    val cat = freshCatalog()
    cat.ingest("p", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    cat.ingest("c", Ingest.csv(spark, csvFile("a,b\n2,x\n3,y\n")), "csv")
    cat.ingest("c", Ingest.csv(spark, csvFile("a,b\n2,x\n4,z\n5,w\n")), "csv")
    cat.compact("c")
    val keys = Seq("p" -> 1, "c" -> 2)
    def read(k: Int) = Export.csvLines(cat.view(cat.entry(keys(k)._1, keys(k)._2))).toVector
    val want = keys.indices.map(read)
    assert(want.map(_.size) == Seq(5, 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map(t => pool.submit(() =>
        (0 until 30).map(i => (t + i) % 2).filter(k => read(k) != want(k))))
      val wrong = runs.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"${wrong.size} of 240 reads differ")
    } finally pool.shutdownNow()
  }

  test("a catalog document that still lists typedPath reads") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val path = s"${cat.warehouse}/catalog.json"
    def doc = JsonDoc.read(spark, path)(JsonDoc.mapper.readTree).get
    val old = doc
    old.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("typedPath", "gone")
    JsonDoc.write(spark, path, old)
    assert(doc.get(0).has("typedPath"))
    assert(cat.view("t", 1).count() == 4)
  }
}
