package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files
import graft.NamedQuery
import graft.engine._

/** Family A/B engine operators surfaced through the driver's
  * correctness gate. These don't read the TPC-H tables — each runs an
  * engine flow (ingest/inference/naming/versioning/compaction/search/
  * authorization) on embedded deterministic input and emits its result
  * as rows; the DuckDB oracle is the expected output as a VALUES
  * literal, so the hash compare pins exact reference semantics
  * (types inferred, names assigned, versions flagged, plans denied).
  */
object EngineOps {

  private def tmpFile(content: String, suffix: String): String = {
    val p = Files.createTempFile("graft-eng", suffix)
    Files.writeString(p, content)
    p.toString
  }

  private def rowsDf(s: SparkSession, cols: Seq[String], rows: Seq[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = rows.headOption.map(_.zip(cols).map {
      case (_: Int, n)     => StructField(n, IntegerType)
      case (_: Long, n)    => StructField(n, LongType)
      case (_: Boolean, n) => StructField(n, BooleanType)
      case (_, n)          => StructField(n, StringType)
    }).getOrElse(cols.map(StructField(_, StringType)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava,
      StructType(fields))
  }

  // fixture contents (regenerated equivalents of the reference corpus)
  private val inferCsv =
    "bool,int,bigint,real,text\n0,2,1234567890,3.5,hello\n1,7,9876543210,1e-4,world\nt,-42,42,2.5,abc\n"
  private val raggedCsv = "a,b\n1\n1,2,3,4\n1,2\n"

  val queries: Seq[NamedQuery] = Seq(

    // I1+I4+I6+I7+I12: CSV ingest — inferred schema snapshot (the
    // dbinfo.expected golden-output analog)
    NamedQuery("im01_infer_csv",
      (s, _) => {
        val ing = Ingest.csv(s, tmpFile(inferCsv, ".csv"))
        rowsDf(s, Seq("col_index", "name", "col_type"),
          ing.friendlyNames.zip(ing.colTypes).zipWithIndex.map {
            case ((n, t), i) => Seq(i + 1, n, t.displayName)
          })
      },
      Some("""SELECT * FROM (VALUES
             (1, 'bool', 'BOOLEAN'), (2, 'int', 'INTEGER'), (3, 'bigint', 'BIGINT'),
             (4, 'real', 'DOUBLE PRECISION'), (5, 'text', 'TEXT'))
             t(col_index, name, col_type) ORDER BY col_index""")),

    // I7: ragged-row widening + row numbering
    NamedQuery("im02_ragged_widen",
      (s, _) => {
        val ing = Ingest.csv(s, tmpFile(raggedCsv, ".csv"))
        rowsDf(s, Seq("n_cols", "n_rows", "names"),
          Seq(Seq(ing.colTypes.length, ing.untyped.count().toInt,
            ing.friendlyNames.mkString(","))))
      },
      Some("""SELECT * FROM (VALUES (4, 3, 'a,b,c3,c4')) t(n_cols, n_rows, names)""")),

    // I12: name sanitation + case-insensitive dedup
    NamedQuery("im03_names_dedup",
      (s, _) => {
        val in = Seq("foo", "Foo", "bar baz", "create", "9x", "bar_baz")
        rowsDf(s, Seq("pos", "name"),
          Names.dedup(in).zipWithIndex.map { case (n, i) => Seq(i + 1, n) })
      },
      Some("""SELECT * FROM (VALUES
             (1, 'foo'), (2, 'Foo_1'), (3, 'bar_baz'), (4, 'create'),
             (5, '_9x'), (6, 'bar_baz_1')) t(pos, name) ORDER BY pos""")),

    // I5: JSON type unification across rows
    NamedQuery("im04_json_infer",
      (s, _) => {
        val cases = Seq(
          "1" -> Seq("1", "2.5"),
          "2" -> Seq("""{"id":1}""", """{"id":2,"name":"x"}"""),
          "3" -> Seq("[1,2]", "[]", "[null]"),
          "4" -> Seq("1", "\"a\""))
        rowsDf(s, Seq("case_id", "unified"),
          cases.map { case (id, vals) =>
            Seq(id, JsonType.render(JsonInfer.inferAll(vals.iterator)))
          })
      },
      Some("""SELECT * FROM (VALUES
             ('1', 'number'),
             ('2', '{"id": number, "name"?: string}'),
             ('3', '[nullable(number)]'),
             ('4', 'mixed')) t(case_id, unified) ORDER BY case_id""")),

    // S6: TsQuery parser (precedence + recovery), rendered canonically
    NamedQuery("im05_tsquery_parse",
      (s, _) => {
        def render(t: Search.Ts): String = t match {
          case Search.TsLexeme(l)   => l
          case Search.TsOr(a, b)    => s"(${render(a)}|${render(b)})"
          case Search.TsAnd(a, b)   => s"(${render(a)}&${render(b)})"
          case Search.TsNot(a)      => s"!${render(a)}"
          case Search.TsLabel(l, q) => s"$l:${render(q)}"
          case Search.TsError       => "<err>"
        }
        val cases = Seq("a b", "a & b | c", "!a b", "name:foo tag:bar", "a @@ b", "(a | b) c")
        rowsDf(s, Seq("query", "parsed"),
          cases.map(q => Seq(q, render(Search.parse(q)))))
      },
      Some("""SELECT * FROM (VALUES
             ('a b', '(a&b)'),
             ('a & b | c', '((a&b)|c)'),
             ('!a b', '(!a&b)'),
             ('name:foo tag:bar', '(name:foo&tag:bar)'),
             ('a @@ b', '(a&b)'),
             ('(a | b) c', '((a|b)&c)')) t(query, parsed) ORDER BY query""")),

    // I14+I15+I19: versioning, auto-deprecation, idempotent re-ingest
    NamedQuery("im06_versioning",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        cat.ingest("ds", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          created = Some("2024-01-01T00:00:00Z"))
        cat.ingest("ds", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          created = Some("2024-01-02T00:00:00Z"))
        cat.ingest("ds", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          sourceIdent = Some("same-sha"), created = Some("2024-01-03T00:00:00Z"))
        cat.ingest("ds", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          sourceIdent = Some("same-sha"), created = Some("2024-01-04T00:00:00Z")) // no-op
        cat.tag("ds", 1, "archived")
        rowsDf(s, Seq("version", "deprecated", "n_rows", "tags"),
          cat.entries.sortBy(_.version).map(e =>
            Seq(e.version, e.deprecated, e.rowCount.toInt, e.tags.mkString(","))))
      },
      Some("""SELECT * FROM (VALUES
             (1, true, 3, 'archived'),
             (2, true, 3, ''),
             (3, false, 3, 'SUID:same-sha')) t(version, deprecated, n_rows, tags)
             ORDER BY version""")),

    // I11: compaction — identical versions share rows (ixs membership)
    NamedQuery("im07_compaction",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        val f = tmpFile(inferCsv, ".csv")
        cat.ingest("ds", Ingest.csv(s, f), "csv")
        cat.ingest("ds", Ingest.csv(s, f), "csv")
        val before = Export.csvString(cat.view("ds", 1).orderBy("ix"))
        cat.compact("ds")
        val after = Export.csvString(cat.view("ds", 1).orderBy("ix"))
        val compacted = s.read.parquet(cat.entries.head.compactedPath)
        rowsDf(s, Seq("compacted_rows", "roundtrip_ok", "all_shared"),
          Seq(Seq(compacted.count().toInt, before == after,
            compacted.selectExpr("min(size(ixs))").head.getInt(0) == 2)))
      },
      Some("""SELECT * FROM (VALUES (3, true, true)) t(compacted_rows, roundtrip_ok, all_shared)""")),

    // The dump-db-info analog (runtests.sh:110-117): a multi-source
    // golden catalog snapshot — seven mixed ingests (inference CSV,
    // ragged CSV, TSV, two JSON shapes, a re-ingested version, an
    // untyped load) rendered by Catalog.dbInfo and pinned line-by-line
    // in the oracle, like the reference's 1,384-line dbinfo.expected.
    NamedQuery("im19_dbinfo_golden",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        def c(day: Int) = Some(f"2024-02-0${day}T00:00:00Z")
        cat.ingest("infer", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          addedBy = "edsko", created = c(1))
        cat.ingest("ragged", Ingest.csv(s, tmpFile(raggedCsv, ".csv")), "csv",
          created = c(2))
        cat.ingest("tabs", Ingest.csv(s, tmpFile("x\ty\n1\thello\n", ".txt")), "csv",
          created = c(3))
        cat.ingest("multi_json", Ingest.json(s,
          tmpFile("{\"id\": 1}\n{\"id\": 2, \"name\": \"test\"}", ".json")), "json",
          created = c(4))
        cat.ingest("nested_json", Ingest.json(s,
          tmpFile("""{"a":"hi","b":[1,2,3],"c":{"ca":4}}""", ".json")), "json",
          created = c(5))
        cat.ingest("infer", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          description = "second revision", created = c(6))
        cat.ingest("raw", Ingest.csv(s, tmpFile("a,b\n1,x\n", ".csv"),
          Ingest.CsvOptions(typeInference = false)), "csv", created = c(7))
        cat.tag("infer", 2, "golden")
        rowsDf(s, Seq("line_no", "line"),
          cat.dbInfo.split("\n").toSeq.zipWithIndex.map {
            case (l, i) => Seq(i + 1, l) })
      },
      Some("""SELECT * FROM (VALUES
             (1, 'infer (version 1)'),
             (2, '  description (none)'),
             (3, '  tags        (no tags)'),
             (4, '  created     2024-02-01T00:00:00Z'),
             (5, '  added by    edsko'),
             (6, '  deprecated  True'),
             (7, '  kind        csv'),
             (8, '  row count   3'),
             (9, '  columns'),
             (10, '    c1	BOOLEAN	bool (bool)'),
             (11, '    c2	INTEGER	int (int)'),
             (12, '    c3	BIGINT	bigint (bigint)'),
             (13, '    c4	DOUBLE PRECISION	real (real)'),
             (14, '    c5	TEXT	text (text)'),
             (15, 'infer (version 2)'),
             (16, '  description second revision'),
             (17, '  tags        golden'),
             (18, '  created     2024-02-06T00:00:00Z'),
             (19, '  added by    root'),
             (20, '  deprecated  False'),
             (21, '  kind        csv'),
             (22, '  row count   3'),
             (23, '  columns'),
             (24, '    c1	BOOLEAN	bool (bool)'),
             (25, '    c2	INTEGER	int (int)'),
             (26, '    c3	BIGINT	bigint (bigint)'),
             (27, '    c4	DOUBLE PRECISION	real (real)'),
             (28, '    c5	TEXT	text (text)'),
             (29, 'multi_json (version 1)'),
             (30, '  description (none)'),
             (31, '  tags        (no tags)'),
             (32, '  created     2024-02-04T00:00:00Z'),
             (33, '  added by    root'),
             (34, '  deprecated  False'),
             (35, '  kind        json'),
             (36, '  row count   2'),
             (37, '  columns'),
             (38, '    c1	JSON ({"id": number, "name"?: string})	json'),
             (39, 'nested_json (version 1)'),
             (40, '  description (none)'),
             (41, '  tags        (no tags)'),
             (42, '  created     2024-02-05T00:00:00Z'),
             (43, '  added by    root'),
             (44, '  deprecated  False'),
             (45, '  kind        json'),
             (46, '  row count   1'),
             (47, '  columns'),
             (48, '    c1	JSON ({"a": string, "b": [number], "c": {"ca": number}})	json'),
             (49, 'ragged (version 1)'),
             (50, '  description (none)'),
             (51, '  tags        (no tags)'),
             (52, '  created     2024-02-02T00:00:00Z'),
             (53, '  added by    root'),
             (54, '  deprecated  False'),
             (55, '  kind        csv'),
             (56, '  row count   3'),
             (57, '  columns'),
             (58, '    c1	BOOLEAN	a (a)'),
             (59, '    c2	INTEGER	b (b)'),
             (60, '    c3	INTEGER	c3'),
             (61, '    c4	INTEGER	c4'),
             (62, 'raw (version 1)'),
             (63, '  description (none)'),
             (64, '  tags        (no tags)'),
             (65, '  created     2024-02-07T00:00:00Z'),
             (66, '  added by    root'),
             (67, '  deprecated  False'),
             (68, '  kind        csv'),
             (69, '  row count   1'),
             (70, '  columns'),
             (71, '    c1	TEXT	a (a)'),
             (72, '    c2	TEXT	b (b)'),
             (73, 'tabs (version 1)'),
             (74, '  description (none)'),
             (75, '  tags        (no tags)'),
             (76, '  created     2024-02-03T00:00:00Z'),
             (77, '  added by    root'),
             (78, '  deprecated  False'),
             (79, '  kind        csv'),
             (80, '  row count   1'),
             (81, '  columns'),
             (82, '    c1	BOOLEAN	x (x)'),
             (83, '    c2	TEXT	y (y)'))
             t(line_no, line) ORDER BY line_no""")),

    // I11 hard case (runcompactiontests.sh:48-62 semantics): versions
    // that genuinely DIFFER — v2 keeps rows 1,3, CHANGES row 2, adds
    // row 4, and is RAGGED (an extra column v1 lacks). Pins that the
    // (orig_ix, content) merge key aligns partially-overlapping
    // versions: shared rows carry ixs=[1,2], changed/new rows are
    // single-version, and BOTH versions round-trip byte-identically
    // (including their original ix sequence and column widths).
    NamedQuery("im18_compaction_diff",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        val v1 = "a,b\n1,x\n2,y\n3,z\n"                    // baseline
        val v2 = "a,b\n1,x\n2,CHANGED\n3,z\n4,w\n"         // changed row 2, added row 4
        val v3 = "a,b,c\n1,x,p\n"                          // RAGGED: extra column
        Seq(v1, v2, v3).foreach(v =>
          cat.ingest("ds", Ingest.csv(s, tmpFile(v, ".csv")), "csv"))
        val pre = Seq(1, 2, 3).map(v => Export.csvString(cat.view("ds", v).orderBy("ix")))
        cat.compact("ds")
        val post = Seq(1, 2, 3).map(v => Export.csvString(cat.view("ds", v).orderBy("ix")))
        val compacted = s.read.parquet(cat.entries.head.compactedPath)
        import org.apache.spark.sql.functions.{array_contains, col, size}
        def only(v: Int) = compacted
          .filter(array_contains(col("ixs"), v) && size(col("ixs")) === 1).count().toInt
        rowsDf(s,
          Seq("compacted_rows", "shared_rows", "v1_only", "v2_only", "v3_only",
              "roundtrips_ok"),
          Seq(Seq(
            // groups on (position, content): rows 1,3 merge across
            // v1+v2 (ixs=[1,2]); v2's changed row 2 and new row 4 are
            // v2-only; v3's row 1 has a real c3 value where v1/v2 pad
            // null, so it stays v3-only — 6 physical rows for 8 logical
            compacted.count().toInt,
            compacted.filter(size(col("ixs")) === 2).count().toInt,
            only(1), only(2), only(3),
            pre == post)))
      },
      Some("""SELECT * FROM (VALUES (6, 2, 1, 2, 1, true))
             t(compacted_rows, shared_rows, v1_only, v2_only, v3_only, roundtrips_ok)""")),

    // Compaction × delete interplay (runcompactiontests.sh:48-62 +
    // I18): after compaction, DELETING one version must leave every
    // surviving version's download byte-identical — the per-version
    // views filter the shared compacted table by `ixs` membership, so
    // a sibling deletion can only remove catalog state, never shared
    // rows. Also pins that the deleted version 404s and that the whole
    // source still deletes cleanly afterwards.
    NamedQuery("im20_compact_delete",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        val v1 = "a,b\n1,x\n2,y\n3,z\n"
        val v2 = "a,b\n1,x\n2,CHANGED\n3,z\n4,w\n" // shares rows 1,3 with v1
        val v3 = "a,b\n1,x\n9,q\n"
        Seq(v1, v2, v3).foreach(v =>
          cat.ingest("ds", Ingest.csv(s, tmpFile(v, ".csv")), "csv"))
        cat.compact("ds")
        def dump(v: Int) = Export.csvString(cat.view("ds", v).orderBy("ix"))
        val pre = Seq(1, 3).map(dump)
        cat.delete("ds", Some(2)) // delete the MIDDLE version
        val post = Seq(1, 3).map(dump)
        val v2Gone =
          try { cat.view("ds", 2); false }
          catch { case _: NoSuchElementException => true }
        val wholeGone = { // whole-source delete still works post-compaction
          cat.delete("ds")
          cat.entries.isEmpty
        }
        rowsDf(s, Seq("survivors", "identical_after_sibling_delete",
            "deleted_version_gone", "source_delete_clean"),
          Seq(Seq(post.size, pre == post, v2Gone, wholeGone)))
      },
      Some("""SELECT * FROM (VALUES (2, true, true, true))
             t(survivors, identical_after_sibling_delete,
               deleted_version_gone, source_delete_clean)""")),

    // Q23/Q24 + ACL: the authorizer verdict matrix
    NamedQuery("im08_sqlgate",
      (s, _) => {
        def verdict(sql: String): String =
          try { SqlGate.summarize(s, sql).reads.toSeq.sorted.mkString(",") match {
            case "" => "ok:"
            case r  => s"ok:$r"
          } } catch { case SqlGate.Denied(_) => "denied" }
        val cases = Seq(
          ("1", "SELECT * FROM t1 JOIN t2 ON t1.a = t2.a"),
          ("2", "WITH x AS (SELECT * FROM t3) SELECT * FROM x"),
          ("3", "INSERT INTO t1 VALUES (1)"),
          ("4", "DROP TABLE t1"),
          ("5", "SELECT * FROM range(10)"),
          ("6", "SELECT 1"),
          // subquery plans are part of the authorized surface
          // (Verified.hs:794-855 walks subplans): reads inside IN /
          // EXISTS / scalar subqueries must be collected, and denials
          // (TVF here) must apply inside them too
          ("7", "SELECT * FROM t1 WHERE a IN (SELECT b FROM t9)"),
          ("8", "SELECT (SELECT max(x) FROM t7) AS m FROM t1"),
          ("9", "SELECT * FROM t1 WHERE EXISTS (SELECT 1 FROM range(5))"),
          // CTE names are scoped LEXICALLY: a nested CTE sharing a real
          // table's name must not mask the outer read (round-3 ADVICE),
          // and a body sees only earlier siblings (in-order resolution)
          ("a", "SELECT * FROM t1 WHERE EXISTS (WITH t1 AS (SELECT 1 AS k) SELECT k FROM t1)"),
          ("b", "WITH a AS (SELECT * FROM t5), t5 AS (SELECT 1 AS x) SELECT * FROM a"),
          // dynamic-resolution nodes resolve their reads during
          // ANALYSIS, invisible to the parsed-plan read set → denied
          ("c", "EXECUTE IMMEDIATE 'SELECT * FROM t1'"),
          ("d", "SELECT * FROM IDENTIFIER('t1')"),
          // TRANSFORM runs an arbitrary process on the executors —
          // reads authorize cleanly, so it needs its own denial
          ("e", "SELECT TRANSFORM(a) USING 'cat' AS (o STRING) FROM t1"))
        rowsDf(s, Seq("case_id", "verdict"),
          cases.map { case (id, sql) => Seq(id, verdict(sql)) })
      },
      Some("""SELECT * FROM (VALUES
             ('1', 'ok:t1,t2'), ('2', 'ok:t3'), ('3', 'denied'),
             ('4', 'denied'), ('5', 'denied'), ('6', 'ok:'),
             ('7', 'ok:t1,t9'), ('8', 'ok:t1,t7'), ('9', 'denied'),
             ('a', 'ok:t1'), ('b', 'ok:t5'), ('c', 'denied'), ('d', 'denied'),
             ('e', 'denied'))
             t(case_id, verdict) ORDER BY case_id""")),

    // S8 + security model: effective access levels
    NamedQuery("im09_acl_levels",
      (s, _) => {
        var st = Acl.State(canCreateGroup = Set("admin"))
          .addUser("admin").addUser("alice").addUser("bob").addUser("carol")
        st = st.onCreate("alice", "ds1")
        st = st.createGroup("admin", "team")
        st = st.addToGroup("admin", "bob", "team")
        st = st.grantGroup("alice", "team", "ds1", Acl.LevelUpdate)
        // explicit READ: the reference's DEFAULT public level is UPDATE
        // (sh:237); this gate pins the custom-level path so the three
        // users land on three distinct lattice points
        st = st.makePublic("alice", "ds1", Acl.LevelRead)
        rowsDf(s, Seq("usr", "level"),
          Seq("alice", "bob", "carol").map(u => Seq(u, st.level(u, "ds1").display)))
      },
      Some("""SELECT * FROM (VALUES
             ('alice', 'MANAGE'), ('bob', 'UPDATE'), ('carol', 'READ'))
             t(usr, level) ORDER BY usr""")),

    // I10: extra-data unpivot ingest with FK
    NamedQuery("im10_extra_data",
      (s, _) => {
        val metaF = tmpFile("pid,info\nSRP1,a\nSRP2,b\n", ".csv")
        val wideF = tmpFile("gene,SRP1,SRP2\ng1,1.5,2.5\ng2,3.5,4.5\n", ".csv")
        val meta = Ingest.csv(s, metaF).view
        val ing = Ingest.extraData(s, wideF, meta, "pid")
        import org.apache.spark.sql.functions.col
        ing.view.select(col("ix").cast("int").as("ix"),
          col("foreign_ix").cast("int").as("foreign_ix"),
          col("value"), col("gene")).orderBy("ix")
      },
      Some("""SELECT * FROM (VALUES
             (1, 1, CAST(1.5 AS DOUBLE), 'g1'), (2, 2, CAST(2.5 AS DOUBLE), 'g1'),
             (3, 1, CAST(3.5 AS DOUBLE), 'g2'), (4, 2, CAST(4.5 AS DOUBLE), 'g2'))
             t(ix, foreign_ix, value, gene) ORDER BY ix""")),

    // Column-type override + re-type (DB/ColumnSpec.hs:182-189,
    // API.hs:304-311): widen int→bigint, demote real→TEXT (raw strings
    // restored), force text→INTEGER (unparseable values become NULL via
    // try_cast rather than failing the re-type)
    NamedQuery("im12_set_column_type",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        cat.ingest("ds", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv")
        cat.setColumnType("ds", 1, 2, ColumnType.ColInt(IntWidth.I8))
        cat.setColumnType("ds", 1, 4, ColumnType.ColText)
        cat.setColumnType("ds", 1, 5, ColumnType.ColInt(IntWidth.I4))
        val e = cat.entries.head
        val v = cat.view("ds", 1).orderBy("ix")
        import org.apache.spark.sql.functions.col
        val realVals = v.select(col("real")).collect().map(_.getString(0)).mkString("|")
        val textNulls = v.filter(col("text").isNull).count().toInt
        rowsDf(s, Seq("col_types", "spark_types", "real_vals", "text_nulls"),
          Seq(Seq(e.colTypes.mkString(","),
            v.schema.fields.drop(1).map(_.dataType.simpleString).mkString(","),
            realVals, textNulls)))
      },
      Some("""SELECT * FROM (VALUES
             ('BOOLEAN,BIGINT,BIGINT,TEXT,INTEGER',
              'boolean,bigint,bigint,string,int',
              '3.5|1e-4|2.5', 3))
             t(col_types, spark_types, real_vals, text_nulls)""")),

    // S1-S9 catalog search matrix — pins the spec-only rows (S3 ix
    // filter, S5 date range, S7 deprecated, S9 count) to driver-checked
    // output (DB/SourceInfo.hs:214-331 semantics)
    NamedQuery("im13_search_spec",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        cat.ingest("alpha", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          created = Some("2024-01-01T00:00:00Z"))
        cat.ingest("alpha", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv",
          created = Some("2024-02-01T00:00:00Z"))
        cat.ingest("beta", Ingest.csv(s, tmpFile(raggedCsv, ".csv")), "csv",
          addedBy = "bob", created = Some("2024-03-01T00:00:00Z"))
        val es = cat.entries
        def names(spec: Search.SourcesSpec): String =
          Search(es, spec).sortBy(e => (e.name, e.version))
            .map(e => s"${e.name}_v${e.version}").mkString(",")
        val cases = Seq(
          ("1_ix", names(Search.SourcesSpec(filterIx = Some(1), includeDeprecated = true))),
          ("2_daterange", names(Search.SourcesSpec(
            filterCreatedAfter = Some("2024-01-15"),
            filterCreatedBefore = Some("2024-02-15"), includeDeprecated = true))),
          ("3_default_hides_deprecated", names(Search.SourcesSpec())),
          ("4_include_deprecated", names(Search.SourcesSpec(includeDeprecated = true))),
          ("5_count", Search.count(es, Search.SourcesSpec(includeDeprecated = true)).toString),
          ("6_user_or", names(Search.SourcesSpec(filterUsers = Seq("bob"),
            includeDeprecated = true))))
        rowsDf(s, Seq("case_id", "result"), cases.map { case (i, r) => Seq(i, r) })
      },
      Some("""SELECT * FROM (VALUES
             ('1_ix', 'alpha_v1'),
             ('2_daterange', 'alpha_v2'),
             ('3_default_hides_deprecated', 'alpha_v2,beta_v1'),
             ('4_include_deprecated', 'alpha_v1,alpha_v2,beta_v1'),
             ('5_count', '3'),
             ('6_user_or', 'beta_v1')) t(case_id, result) ORDER BY case_id""")),

    // I18 delete + I8 untyped load: delete one version, re-ingest
    // restores the version counter (runtests.sh:121-158); ingest with
    // typeInference=false keeps every column TEXT with raw values
    NamedQuery("im14_delete_untyped",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        cat.ingest("t", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv")
        cat.ingest("t", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv")
        cat.delete("t", Some(2))
        val afterDelete = cat.entries.map(_.version).mkString(",")
        val re = cat.ingest("t", Ingest.csv(s, tmpFile(inferCsv, ".csv")), "csv")
        val untyped = Ingest.csv(s, tmpFile(inferCsv, ".csv"),
          Ingest.CsvOptions(typeInference = false))
        import org.apache.spark.sql.functions.col
        val rawBool = untyped.view.orderBy("ix").select(col("bool"))
          .collect().map(_.getString(0)).mkString(",")
        rowsDf(s, Seq("after_delete", "reingest_version", "untyped_types", "raw_bool"),
          Seq(Seq(afterDelete, re.version,
            untyped.colTypes.map(_.displayName).mkString(","), rawBool)))
      },
      Some("""SELECT * FROM (VALUES ('1', 2, 'TEXT,TEXT,TEXT,TEXT,TEXT', '0,1,t'))
             t(after_delete, reingest_version, untyped_types, raw_bool)""")),

    // I3 remote ingest: CSV and zip fetched over HTTP (loopback server;
    // the sandbox has no egress) — same inference as the local path
    NamedQuery("im15_http_ingest",
      (s, _) => {
        val csvBody = "a,b\n1,x\n2,y\n3,z\n"
        val zipBytes = {
          val baos = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.ZipOutputStream(baos)
          z.putNextEntry(new java.util.zip.ZipEntry("data.csv"))
          z.write(csvBody.getBytes("UTF-8")); z.closeEntry(); z.close()
          baos.toByteArray
        }
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        def serve(route: String, bytes: Array[Byte]): Unit =
          server.createContext(route, (ex: com.sun.net.httpserver.HttpExchange) => {
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes); ex.close()
          })
        serve("/data.csv", csvBody.getBytes("UTF-8"))
        serve("/data.zip", zipBytes)
        server.start()
        try {
          val port = server.getAddress.getPort
          val csv = Ingest.csv(s, s"http://127.0.0.1:$port/data.csv")
          val zip = Ingest.csv(s, s"http://127.0.0.1:$port/data.zip")
          rowsDf(s, Seq("src", "n_rows", "names", "col_types"), Seq(
            Seq("csv", csv.untyped.count().toInt, csv.friendlyNames.mkString(","),
              csv.colTypes.map(_.displayName).mkString(",")),
            Seq("zip", zip.untyped.count().toInt, zip.friendlyNames.mkString(","),
              zip.colTypes.map(_.displayName).mkString(","))))
        } finally server.stop(0)
      },
      Some("""SELECT * FROM (VALUES
             ('csv', 3, 'a,b', 'INTEGER,TEXT'),
             ('zip', 3, 'a,b', 'INTEGER,TEXT')) t(src, n_rows, names, col_types)
             ORDER BY src""")),

    // I3 S3 ingest (reference runs3tests.sh + dbinfo-s3.expected:
    // s3://my-bucket/* against an --endpoint-url store): s3a:// URIs
    // resolved through the S3-protocol FileSystem against a loopback
    // S3-compatible endpoint (zero egress), then a full catalog ingest
    // over the s3a-sourced frame — the reference's "simple file.csv"
    // (one BOOLEAN column) and "many-json-numbers.json" shapes.
    NamedQuery("im21_s3_ingest",
      (s, _) => {
        val s3 = new graft.engine.S3Loopback
        val hc = s.sparkContext.hadoopConfiguration
        // Concurrency contract (the r18 bench race): the only global
        // keys touched are register()'s constants; everything gate-
        // specific lives under this INVOCATION's own bucket namespace
        // (fs.s3a.bucket.im21-<nonce>.*), which nothing else reads —
        // the nonce makes the gate reentrant even against itself.
        val bucket = s"im21-${java.lang.Long.toHexString(System.nanoTime())}"
        graft.engine.S3CompatFileSystem.register(hc)
        graft.engine.S3CompatFileSystem.configureBucket(hc, bucket, s3.endpoint)
        try {
          s3.put(bucket, "simple file.csv", "Foo\nTRUE\n".getBytes("UTF-8"))
          s3.put(bucket, "many-json-numbers.json",
            (1 to 1000).map(_.toString).mkString(" ").getBytes("UTF-8"))
          val csv = Ingest.csv(s, s"s3a://$bucket/simple file.csv")
          val js = Ingest.json(s, s"s3a://$bucket/many-json-numbers.json")
          val cat = new Catalog(s, Files.createTempDirectory("graft-s3-wh").toString)
          val entry = cat.ingest("simple file.csv", csv, "csv",
            addedBy = "edsko", created = Some("2016-10-01T12:00:00Z"))
          rowsDf(s, Seq("src", "n_rows", "names", "col_types", "view"), Seq(
            Seq("simple file.csv", csv.untyped.count().toInt,
              csv.friendlyNames.mkString(","),
              csv.colTypes.map(_.displayName).mkString(","), entry.viewName),
            Seq("many-json-numbers.json", js.untyped.count().toInt,
              js.friendlyNames.mkString(","),
              js.colTypes.map(_.displayName).mkString(","), "-")))
        } finally {
          s3.stop()
          // drop this gate's bucket namespace (a leftover endpoint at
          // the stopped loopback would poison a same-bucket retry)
          graft.engine.S3CompatFileSystem.clearBucket(hc, bucket)
        }
      },
      Some("""SELECT * FROM (VALUES
             ('simple file.csv', 1, 'Foo', 'BOOLEAN', 'simple_file_csv_v1'),
             ('many-json-numbers.json', 1000, 'json', 'JSON', '-'))
             t(src, n_rows, names, col_types, view)
             ORDER BY src""")),

    // I3 CREDENTIALED S3 ingest (reference Lagoon/Ingest.hs:542-547
    // carries Aws.Configuration into IngestS3Config — its S3 sources
    // are signed): the same catalog ingest as im21, but the loopback
    // endpoint now REQUIRES AWS SigV4 signatures (verified server-
    // side, public algorithm pinned against the AWS doc vectors in
    // SigV4Spec) and the filesystem signs every request from the
    // standard fs.s3a.access.key/secret.key. The gate also proves the
    // DENY side: an unsigned request and a wrong-secret read both 403.
    NamedQuery("im23_s3_signed_ingest",
      (s, _) => {
        val s3 = new graft.engine.S3Loopback(
          credentials = Some(("GRAFTKEY", "graft-secret")))
        val hc = s.sparkContext.hadoopConfiguration
        // Same concurrency contract as im21: global writes are
        // register()'s constants only; endpoint AND credentials —
        // including the mid-gate wrong-secret swap below — live under
        // this invocation's fs.s3a.bucket.im23-<nonce>.* namespace,
        // invisible to every other gate and to concurrent replays.
        val bucket = s"im23-${java.lang.Long.toHexString(System.nanoTime())}"
        graft.engine.S3CompatFileSystem.register(hc)
        graft.engine.S3CompatFileSystem.configureBucket(hc, bucket,
          s3.endpoint, creds = Some(("GRAFTKEY", "graft-secret")))
        try {
          // seed objects with SIGNED PUTs through the client itself
          val csvBytes = "Foo\nTRUE\n".getBytes("UTF-8")
          def signedPut(key: String, bytes: Array[Byte]): Int = {
            val url = s"${s3.endpoint}/$bucket/" + key.split("/", -1)
              .map(java.net.URLEncoder.encode(_, "UTF-8").replace("+", "%20"))
              .mkString("/")
            val c = new java.net.URL(url).openConnection()
              .asInstanceOf[java.net.HttpURLConnection]
            c.setRequestMethod("PUT"); c.setDoOutput(true)
            graft.engine.SigV4.signRequest("PUT", url, Nil,
              graft.engine.SigV4.sha256Hex(bytes),
              "GRAFTKEY", "graft-secret", "us-east-1")
              .foreach { case (k, v) => c.setRequestProperty(k, v) }
            c.getOutputStream.write(bytes); c.getOutputStream.close()
            c.getResponseCode
          }
          val putRc = signedPut("simple file.csv", csvBytes)
          val csv = Ingest.csv(s, s"s3a://$bucket/simple file.csv")
          val cat = new Catalog(s, Files.createTempDirectory("graft-s3s-wh").toString)
          val entry = cat.ingest("simple file.csv", csv, "csv",
            addedBy = "edsko", created = Some("2016-10-01T12:00:00Z"))
          val signedOk = s3.deniedCount == 0L
          // unsigned request → 403 (fail closed)
          val unsignedRc = {
            val c = new java.net.URL(s"${s3.endpoint}/$bucket/simple%20file.csv")
              .openConnection().asInstanceOf[java.net.HttpURLConnection]
            c.getResponseCode
          }
          // wrong secret → every request 403s and the read errors
          // (this gate's own bucket key — other gates never read it)
          hc.set(graft.engine.S3CompatFileSystem.bucketKey(bucket, "secret.key"),
            "wrong-secret")
          val d0 = s3.deniedCount
          val tamperedDenied =
            try { Ingest.csv(s, s"s3a://$bucket/simple file.csv"); false }
            catch { case _: Exception => s3.deniedCount > d0 }
          rowsDf(s, Seq("check", "value"), Seq(
            Seq("ingested_rows", csv.untyped.count().toString),
            Seq("ingested_types", csv.colTypes.map(_.displayName).mkString(",")),
            Seq("put_rc", putRc.toString),
            Seq("signed_requests_denied", if (signedOk) "0" else "1"),
            Seq("tampered_read_denied", if (tamperedDenied) "1" else "0"),
            Seq("unsigned_rc", unsignedRc.toString),
            Seq("view", entry.viewName)))
        } finally {
          s3.stop()
          graft.engine.S3CompatFileSystem.clearBucket(hc, bucket)
        }
      },
      Some("""SELECT * FROM (VALUES
             ('ingested_rows', '1'),
             ('ingested_types', 'BOOLEAN'),
             ('put_rc', '200'),
             ('signed_requests_denied', '0'),
             ('tampered_read_denied', '1'),
             ('unsigned_rc', '403'),
             ('view', 'simple_file_csv_v1'))
             t("check", value)
             ORDER BY "check" """)),

    // The JSON type-inference unit corpus (reference fixtures
    // 040_typ-arr-00 … 077_typ-scalar-4, the typ-* half of
    // dbinfo.expected) as INGESTED CATALOG SOURCES, not unit specs:
    // every lattice case — empty/homogeneous/nested/mixed arrays,
    // object widening, optional-vs-nullable fields, bare scalars —
    // flows through Ingest.json + Catalog.ingest and the resulting
    // dbInfo dump is pinned line-by-line (r16 verdict #7; the full
    // 84-file corpus is additionally pinned in RefCorpusSpec's
    // committed golden). Fixture bytes are the reference's own
    // one-line test vectors, reproduced verbatim as data.
    NamedQuery("im22_json_typ_dbinfo",
      (s, _) => {
        val fixtures: Seq[(String, String)] = Seq(
          "040_typ-arr-00" -> "[]",
          "041_typ-arr-01a" -> "[1]",
          "042_typ-arr-01b" -> "[1,2,3]",
          "043_typ-arr-02" -> "[\"hi\"]",
          "044_typ-arr-03" -> "[true]",
          "045_typ-arr-04" -> "[null]",
          "046_typ-arr-05" -> "[1,null]",
          "047_typ-arr-06" -> "[1,\"true\"]",
          "048_typ-arr-07" -> "[[1],[2,3]]",
          "049_typ-arr-08" -> "[[1],[null]]",
          "050_typ-arr-09" -> "[[1],null]",
          "051_typ-arr-10" -> "[[1],[null],null]",
          "052_typ-arr-11" -> "[[1],[true]]",
          "053_typ-arr-12" -> "[[1],true]",
          "054_typ-arr-13a" -> "[true,[1]]",
          "055_typ-arr-13b" -> "[1,[\"John\",\"Doe\"]]",
          "056_typ-arr-14" -> "[[1],[true],[\"hi\"]]",
          "057_typ-arr-15" -> "[[1],[true],[\"hi\"],true]",
          "058_typ-multiple-01" -> "{\"id\": 1}\n{\"id\": 2, \"name\": \"test\"}",
          "059_typ-obj-00" -> "{}",
          "060_typ-obj-01a" -> "{\"a\": true}",
          "061_typ-obj-01b" -> "{\"a\": {\"b\": 1}}",
          "062_typ-obj-02a" -> "{\"a\": true, \"b\": 1}",
          "063_typ-obj-02b" -> "{\"a\": 1\n,\"b\": 2\n,\"c\": 3\n}",
          "064_typ-obj-02c" -> "{\"a\": 1\n,\"b\": true\n,\"c\": \"hi\"\n,\"d\": null\n}",
          "065_typ-obj-03" -> "{\"id\": 1, \"name\": {\"firstName\": \"John\", \"lastName\": \"Doe\"}}",
          "066_typ-obj-04" -> "{\"a\": 1, \"b\": [2,3], \"c\": 4}",
          "067_typ-obj-05" -> "[1,{\"a\":2},3]",
          "068_typ-obj-06" -> ("{\"a\": \"hi\"\n,\"b\": [1,2,3]\n,\"c\": \n" +
            " {\"ca\": 4\n ,\"cb\": [5,6,7]\n ,\"cc\": [8, {\"cca\": 9}]\n }\n}"),
          "069_typ-obj-07" -> "[{\"a\":1},{\"a\":2}]",
          "070_typ-obj-08" -> "[{\"a\":1},{\"a\":true}]",
          "071_typ-obj-09a" -> "[{\"a\":1},{\"b\":true}]",
          "072_typ-obj-09b" -> "[{\"b\":true},{\"a\":1}]",
          "073_typ-obj-10" -> "[{\"a\":1},{\"a\":2,\"b\":true}]",
          "074_typ-scalar-1" -> "1",
          "075_typ-scalar-2" -> "\"hi\"",
          "076_typ-scalar-3" -> "true",
          "077_typ-scalar-4" -> "null")
        val cat = new Catalog(s, Files.createTempDirectory("graft-typ-wh").toString)
        // inference is pure per fixture — run the 38 tiny ingests 8-way
        // (each is several small Spark jobs; serial they dominate the
        // engine pass); the catalog appends stay serial in fixture
        // order so versions/views are deterministic
        val inferred = {
          import scala.collection.parallel.CollectionConverters._
          val pool = new java.util.concurrent.ForkJoinPool(8)
          val par = fixtures.par
          par.tasksupport =
            new scala.collection.parallel.ForkJoinTaskSupport(pool)
          val out = par.map { case (name, body) =>
            (name, Ingest.json(s, tmpFile(body, ".json"))) }.toList
          pool.shutdown()
          out
        }
        inferred.foreach { case (name, ing) =>
          cat.ingest(name, ing, "json",
            addedBy = "edsko", created = Some("2016-10-01T12:00:00Z"))
        }
        rowsDf(s, Seq("line_no", "line"),
          cat.dbInfo.split("\n").toSeq.zipWithIndex.map {
            case (l, i) => Seq(i + 1, l) })
      },
      Some("""SELECT * FROM (VALUES
             (1, '040_typ-arr-00 (version 1)'),
             (2, '  description (none)'),
             (3, '  tags        (no tags)'),
             (4, '  created     2016-10-01T12:00:00Z'),
             (5, '  added by    edsko'),
             (6, '  deprecated  False'),
             (7, '  kind        json'),
             (8, '  row count   1'),
             (9, '  columns'),
             (10, '    c1	JSON ([unknown])	json'),
             (11, '041_typ-arr-01a (version 1)'),
             (12, '  description (none)'),
             (13, '  tags        (no tags)'),
             (14, '  created     2016-10-01T12:00:00Z'),
             (15, '  added by    edsko'),
             (16, '  deprecated  False'),
             (17, '  kind        json'),
             (18, '  row count   1'),
             (19, '  columns'),
             (20, '    c1	JSON ([number])	json'),
             (21, '042_typ-arr-01b (version 1)'),
             (22, '  description (none)'),
             (23, '  tags        (no tags)'),
             (24, '  created     2016-10-01T12:00:00Z'),
             (25, '  added by    edsko'),
             (26, '  deprecated  False'),
             (27, '  kind        json'),
             (28, '  row count   1'),
             (29, '  columns'),
             (30, '    c1	JSON ([number])	json'),
             (31, '043_typ-arr-02 (version 1)'),
             (32, '  description (none)'),
             (33, '  tags        (no tags)'),
             (34, '  created     2016-10-01T12:00:00Z'),
             (35, '  added by    edsko'),
             (36, '  deprecated  False'),
             (37, '  kind        json'),
             (38, '  row count   1'),
             (39, '  columns'),
             (40, '    c1	JSON ([string])	json'),
             (41, '044_typ-arr-03 (version 1)'),
             (42, '  description (none)'),
             (43, '  tags        (no tags)'),
             (44, '  created     2016-10-01T12:00:00Z'),
             (45, '  added by    edsko'),
             (46, '  deprecated  False'),
             (47, '  kind        json'),
             (48, '  row count   1'),
             (49, '  columns'),
             (50, '    c1	JSON ([bool])	json'),
             (51, '045_typ-arr-04 (version 1)'),
             (52, '  description (none)'),
             (53, '  tags        (no tags)'),
             (54, '  created     2016-10-01T12:00:00Z'),
             (55, '  added by    edsko'),
             (56, '  deprecated  False'),
             (57, '  kind        json'),
             (58, '  row count   1'),
             (59, '  columns'),
             (60, '    c1	JSON ([nullable(unknown)])	json'),
             (61, '046_typ-arr-05 (version 1)'),
             (62, '  description (none)'),
             (63, '  tags        (no tags)'),
             (64, '  created     2016-10-01T12:00:00Z'),
             (65, '  added by    edsko'),
             (66, '  deprecated  False'),
             (67, '  kind        json'),
             (68, '  row count   1'),
             (69, '  columns'),
             (70, '    c1	JSON ([nullable(number)])	json'),
             (71, '047_typ-arr-06 (version 1)'),
             (72, '  description (none)'),
             (73, '  tags        (no tags)'),
             (74, '  created     2016-10-01T12:00:00Z'),
             (75, '  added by    edsko'),
             (76, '  deprecated  False'),
             (77, '  kind        json'),
             (78, '  row count   1'),
             (79, '  columns'),
             (80, '    c1	JSON ([mixed])	json'),
             (81, '048_typ-arr-07 (version 1)'),
             (82, '  description (none)'),
             (83, '  tags        (no tags)'),
             (84, '  created     2016-10-01T12:00:00Z'),
             (85, '  added by    edsko'),
             (86, '  deprecated  False'),
             (87, '  kind        json'),
             (88, '  row count   1'),
             (89, '  columns'),
             (90, '    c1	JSON ([[number]])	json'),
             (91, '049_typ-arr-08 (version 1)'),
             (92, '  description (none)'),
             (93, '  tags        (no tags)'),
             (94, '  created     2016-10-01T12:00:00Z'),
             (95, '  added by    edsko'),
             (96, '  deprecated  False'),
             (97, '  kind        json'),
             (98, '  row count   1'),
             (99, '  columns'),
             (100, '    c1	JSON ([[nullable(number)]])	json'),
             (101, '050_typ-arr-09 (version 1)'),
             (102, '  description (none)'),
             (103, '  tags        (no tags)'),
             (104, '  created     2016-10-01T12:00:00Z'),
             (105, '  added by    edsko'),
             (106, '  deprecated  False'),
             (107, '  kind        json'),
             (108, '  row count   1'),
             (109, '  columns'),
             (110, '    c1	JSON ([nullable([number])])	json'),
             (111, '051_typ-arr-10 (version 1)'),
             (112, '  description (none)'),
             (113, '  tags        (no tags)'),
             (114, '  created     2016-10-01T12:00:00Z'),
             (115, '  added by    edsko'),
             (116, '  deprecated  False'),
             (117, '  kind        json'),
             (118, '  row count   1'),
             (119, '  columns'),
             (120, '    c1	JSON ([nullable([nullable(number)])])	json'),
             (121, '052_typ-arr-11 (version 1)'),
             (122, '  description (none)'),
             (123, '  tags        (no tags)'),
             (124, '  created     2016-10-01T12:00:00Z'),
             (125, '  added by    edsko'),
             (126, '  deprecated  False'),
             (127, '  kind        json'),
             (128, '  row count   1'),
             (129, '  columns'),
             (130, '    c1	JSON ([[mixed]])	json'),
             (131, '053_typ-arr-12 (version 1)'),
             (132, '  description (none)'),
             (133, '  tags        (no tags)'),
             (134, '  created     2016-10-01T12:00:00Z'),
             (135, '  added by    edsko'),
             (136, '  deprecated  False'),
             (137, '  kind        json'),
             (138, '  row count   1'),
             (139, '  columns'),
             (140, '    c1	JSON ([mixed])	json'),
             (141, '054_typ-arr-13a (version 1)'),
             (142, '  description (none)'),
             (143, '  tags        (no tags)'),
             (144, '  created     2016-10-01T12:00:00Z'),
             (145, '  added by    edsko'),
             (146, '  deprecated  False'),
             (147, '  kind        json'),
             (148, '  row count   1'),
             (149, '  columns'),
             (150, '    c1	JSON ([mixed])	json'),
             (151, '055_typ-arr-13b (version 1)'),
             (152, '  description (none)'),
             (153, '  tags        (no tags)'),
             (154, '  created     2016-10-01T12:00:00Z'),
             (155, '  added by    edsko'),
             (156, '  deprecated  False'),
             (157, '  kind        json'),
             (158, '  row count   1'),
             (159, '  columns'),
             (160, '    c1	JSON ([mixed])	json'),
             (161, '056_typ-arr-14 (version 1)'),
             (162, '  description (none)'),
             (163, '  tags        (no tags)'),
             (164, '  created     2016-10-01T12:00:00Z'),
             (165, '  added by    edsko'),
             (166, '  deprecated  False'),
             (167, '  kind        json'),
             (168, '  row count   1'),
             (169, '  columns'),
             (170, '    c1	JSON ([[mixed]])	json'),
             (171, '057_typ-arr-15 (version 1)'),
             (172, '  description (none)'),
             (173, '  tags        (no tags)'),
             (174, '  created     2016-10-01T12:00:00Z'),
             (175, '  added by    edsko'),
             (176, '  deprecated  False'),
             (177, '  kind        json'),
             (178, '  row count   1'),
             (179, '  columns'),
             (180, '    c1	JSON ([mixed])	json'),
             (181, '058_typ-multiple-01 (version 1)'),
             (182, '  description (none)'),
             (183, '  tags        (no tags)'),
             (184, '  created     2016-10-01T12:00:00Z'),
             (185, '  added by    edsko'),
             (186, '  deprecated  False'),
             (187, '  kind        json'),
             (188, '  row count   2'),
             (189, '  columns'),
             (190, '    c1	JSON ({"id": number, "name"?: string})	json'),
             (191, '059_typ-obj-00 (version 1)'),
             (192, '  description (none)'),
             (193, '  tags        (no tags)'),
             (194, '  created     2016-10-01T12:00:00Z'),
             (195, '  added by    edsko'),
             (196, '  deprecated  False'),
             (197, '  kind        json'),
             (198, '  row count   1'),
             (199, '  columns'),
             (200, '    c1	JSON ({})	json'),
             (201, '060_typ-obj-01a (version 1)'),
             (202, '  description (none)'),
             (203, '  tags        (no tags)'),
             (204, '  created     2016-10-01T12:00:00Z'),
             (205, '  added by    edsko'),
             (206, '  deprecated  False'),
             (207, '  kind        json'),
             (208, '  row count   1'),
             (209, '  columns'),
             (210, '    c1	JSON ({"a": bool})	json'),
             (211, '061_typ-obj-01b (version 1)'),
             (212, '  description (none)'),
             (213, '  tags        (no tags)'),
             (214, '  created     2016-10-01T12:00:00Z'),
             (215, '  added by    edsko'),
             (216, '  deprecated  False'),
             (217, '  kind        json'),
             (218, '  row count   1'),
             (219, '  columns'),
             (220, '    c1	JSON ({"a": {"b": number}})	json'),
             (221, '062_typ-obj-02a (version 1)'),
             (222, '  description (none)'),
             (223, '  tags        (no tags)'),
             (224, '  created     2016-10-01T12:00:00Z'),
             (225, '  added by    edsko'),
             (226, '  deprecated  False'),
             (227, '  kind        json'),
             (228, '  row count   1'),
             (229, '  columns'),
             (230, '    c1	JSON ({"a": bool, "b": number})	json'),
             (231, '063_typ-obj-02b (version 1)'),
             (232, '  description (none)'),
             (233, '  tags        (no tags)'),
             (234, '  created     2016-10-01T12:00:00Z'),
             (235, '  added by    edsko'),
             (236, '  deprecated  False'),
             (237, '  kind        json'),
             (238, '  row count   1'),
             (239, '  columns'),
             (240, '    c1	JSON ({"a": number, "b": number, "c": number})	json'),
             (241, '064_typ-obj-02c (version 1)'),
             (242, '  description (none)'),
             (243, '  tags        (no tags)'),
             (244, '  created     2016-10-01T12:00:00Z'),
             (245, '  added by    edsko'),
             (246, '  deprecated  False'),
             (247, '  kind        json'),
             (248, '  row count   1'),
             (249, '  columns'),
             (250, '    c1	JSON ({"a": number, "b": bool, "c": string, "d": nullable(unknown)})	json'),
             (251, '065_typ-obj-03 (version 1)'),
             (252, '  description (none)'),
             (253, '  tags        (no tags)'),
             (254, '  created     2016-10-01T12:00:00Z'),
             (255, '  added by    edsko'),
             (256, '  deprecated  False'),
             (257, '  kind        json'),
             (258, '  row count   1'),
             (259, '  columns'),
             (260, '    c1	JSON ({"id": number, "name": {"firstName": string, "lastName": string}})	json'),
             (261, '066_typ-obj-04 (version 1)'),
             (262, '  description (none)'),
             (263, '  tags        (no tags)'),
             (264, '  created     2016-10-01T12:00:00Z'),
             (265, '  added by    edsko'),
             (266, '  deprecated  False'),
             (267, '  kind        json'),
             (268, '  row count   1'),
             (269, '  columns'),
             (270, '    c1	JSON ({"a": number, "b": [number], "c": number})	json'),
             (271, '067_typ-obj-05 (version 1)'),
             (272, '  description (none)'),
             (273, '  tags        (no tags)'),
             (274, '  created     2016-10-01T12:00:00Z'),
             (275, '  added by    edsko'),
             (276, '  deprecated  False'),
             (277, '  kind        json'),
             (278, '  row count   1'),
             (279, '  columns'),
             (280, '    c1	JSON ([mixed])	json'),
             (281, '068_typ-obj-06 (version 1)'),
             (282, '  description (none)'),
             (283, '  tags        (no tags)'),
             (284, '  created     2016-10-01T12:00:00Z'),
             (285, '  added by    edsko'),
             (286, '  deprecated  False'),
             (287, '  kind        json'),
             (288, '  row count   1'),
             (289, '  columns'),
             (290, '    c1	JSON ({"a": string, "b": [number], "c": {"ca": number, "cb": [number], "cc": [mixed]}})	json'),
             (291, '069_typ-obj-07 (version 1)'),
             (292, '  description (none)'),
             (293, '  tags        (no tags)'),
             (294, '  created     2016-10-01T12:00:00Z'),
             (295, '  added by    edsko'),
             (296, '  deprecated  False'),
             (297, '  kind        json'),
             (298, '  row count   1'),
             (299, '  columns'),
             (300, '    c1	JSON ([{"a": number}])	json'),
             (301, '070_typ-obj-08 (version 1)'),
             (302, '  description (none)'),
             (303, '  tags        (no tags)'),
             (304, '  created     2016-10-01T12:00:00Z'),
             (305, '  added by    edsko'),
             (306, '  deprecated  False'),
             (307, '  kind        json'),
             (308, '  row count   1'),
             (309, '  columns'),
             (310, '    c1	JSON ([{"a": mixed}])	json'),
             (311, '071_typ-obj-09a (version 1)'),
             (312, '  description (none)'),
             (313, '  tags        (no tags)'),
             (314, '  created     2016-10-01T12:00:00Z'),
             (315, '  added by    edsko'),
             (316, '  deprecated  False'),
             (317, '  kind        json'),
             (318, '  row count   1'),
             (319, '  columns'),
             (320, '    c1	JSON ([{"a"?: number, "b"?: bool}])	json'),
             (321, '072_typ-obj-09b (version 1)'),
             (322, '  description (none)'),
             (323, '  tags        (no tags)'),
             (324, '  created     2016-10-01T12:00:00Z'),
             (325, '  added by    edsko'),
             (326, '  deprecated  False'),
             (327, '  kind        json'),
             (328, '  row count   1'),
             (329, '  columns'),
             (330, '    c1	JSON ([{"a"?: number, "b"?: bool}])	json'),
             (331, '073_typ-obj-10 (version 1)'),
             (332, '  description (none)'),
             (333, '  tags        (no tags)'),
             (334, '  created     2016-10-01T12:00:00Z'),
             (335, '  added by    edsko'),
             (336, '  deprecated  False'),
             (337, '  kind        json'),
             (338, '  row count   1'),
             (339, '  columns'),
             (340, '    c1	JSON ([{"a": number, "b"?: bool}])	json'),
             (341, '074_typ-scalar-1 (version 1)'),
             (342, '  description (none)'),
             (343, '  tags        (no tags)'),
             (344, '  created     2016-10-01T12:00:00Z'),
             (345, '  added by    edsko'),
             (346, '  deprecated  False'),
             (347, '  kind        json'),
             (348, '  row count   1'),
             (349, '  columns'),
             (350, '    c1	JSON (number)	json'),
             (351, '075_typ-scalar-2 (version 1)'),
             (352, '  description (none)'),
             (353, '  tags        (no tags)'),
             (354, '  created     2016-10-01T12:00:00Z'),
             (355, '  added by    edsko'),
             (356, '  deprecated  False'),
             (357, '  kind        json'),
             (358, '  row count   1'),
             (359, '  columns'),
             (360, '    c1	JSON (string)	json'),
             (361, '076_typ-scalar-3 (version 1)'),
             (362, '  description (none)'),
             (363, '  tags        (no tags)'),
             (364, '  created     2016-10-01T12:00:00Z'),
             (365, '  added by    edsko'),
             (366, '  deprecated  False'),
             (367, '  kind        json'),
             (368, '  row count   1'),
             (369, '  columns'),
             (370, '    c1	JSON (bool)	json'),
             (371, '077_typ-scalar-4 (version 1)'),
             (372, '  description (none)'),
             (373, '  tags        (no tags)'),
             (374, '  created     2016-10-01T12:00:00Z'),
             (375, '  added by    edsko'),
             (376, '  deprecated  False'),
             (377, '  kind        json'),
             (378, '  row count   1'),
             (379, '  columns'),
             (380, '    c1	JSON (nullable(unknown))	json'))
             t(line_no, line) ORDER BY line_no""")),

    // Progress streaming (ProgressOr / logEvery, Interface/Ingest.hs:
    // 324-454): ingest under Progress.watch must emit at least one
    // {"progress":...} line and a final {"done":...} covering the rows
    NamedQuery("im16_progress",
      (s, _) => {
        val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val csv = "a,b\n" + (1 to 500).map(i => s"$i,x$i").mkString("\n") + "\n"
        val n = Progress.watch(s, "gate", lines.add(_), logEvery = 100) {
          Ingest.csv(s, tmpFile(csv, ".csv")).untyped.count()
        }
        import scala.jdk.CollectionConverters._
        val out = lines.asScala.toSeq
        val doneRecords = out.filter(_.startsWith("""{"done":"gate""""))
          .flatMap(l => "\"records\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong))
        rowsDf(s, Seq("ingested", "has_progress", "done_ge_rows"),
          Seq(Seq(n.toInt,
            out.exists(_.startsWith("""{"progress":"gate"""")),
            doneRecords.exists(_ >= 500))))
      },
      Some("""SELECT * FROM (VALUES (500, true, true))
             t(ingested, has_progress, done_ge_rows)""")),

    // I16/I17: export round-trip invariants
    NamedQuery("im11_export_roundtrip",
      (s, _) => {
        val ing = Ingest.csv(s, tmpFile(inferCsv, ".csv"))
        val csvOut = Export.csvString(ing.view.orderBy("ix"))
        val jsonIng = Ingest.json(s, tmpFile("{\"a\":1} {\"a\":2}", ".json"))
        val raw = Export.jsonRaw(jsonIng.untyped)
        rowsDf(s, Seq("csv_lines", "csv_header", "json_roundtrip"),
          Seq(Seq(csvOut.split("\n").length,
            csvOut.split("\n").head,
            raw == "{\"a\":1}\n{\"a\":2}\n")))
      },
      Some("""SELECT * FROM (VALUES (4, 'ix,bool,int,bigint,real,text', true))
             t(csv_lines, csv_header, json_roundtrip)""")),

    // The end-to-end /sql lifecycle (round-3 verdict Missing #1): the
    // reference's main path is ingest → views → ACL-authorized SQL →
    // stream out as ONE flow (server/src/Lagoon/Server/API/SQL.hs:29-47,
    // Verified.hs:794-855). This composes Catalog.registerViews +
    // Acl.State + SqlGate.execute + Export over catalog-registered
    // views — including the seams most likely to harbor a bug: mixed-
    // case dataset names vs the gate's lowercased reads, the bare-name
    // latest alias, versioned _vN views, and ACL-denied subqueries.
    NamedQuery("im17_sql_lifecycle",
      (s, _) => {
        val cat = new Catalog(s, Files.createTempDirectory("graft-wh").toString)
        cat.ingest("Cust", Ingest.csv(s,
          tmpFile("id,name\n1,ann\n2,bo\n3,cy\n", ".csv")), "csv")
        cat.ingest("Orders", Ingest.csv(s,
          tmpFile("oid,cust_id,amt\n10,1,5\n11,1,7\n12,2,9\n", ".csv")), "csv")
        cat.ingest("Orders", Ingest.csv(s,
          tmpFile("oid,cust_id,amt\n10,1,5\n11,1,7\n12,2,9\n13,3,11\n", ".csv")), "csv")
        // id=2, not 1: a lone "1" lexes as BOOL (the lagoon literal set)
        cat.ingest("Wages", Ingest.csv(s,
          tmpFile("id,salary\n2,100\n", ".csv")), "csv")
        cat.registerViews()

        var acl = Acl.State(canCreateGroup = Set("admin"))
          .addUser("admin").addUser("alice").addUser("bob")
        acl = acl.onCreate("admin", "Cust").onCreate("admin", "Orders")
          .onCreate("admin", "Wages") // Wages stays admin-private
        acl = acl.grantUser("admin", "alice", "Cust", Acl.LevelRead)
        acl = acl.grantUser("admin", "alice", "Orders", Acl.LevelRead)
        acl = acl.grantUser("admin", "bob", "Cust", Acl.LevelRead)

        // view name (as the gate lowercases reads) → owning dataset:
        // every <name>_vN plus the bare-name latest alias
        val viewToDs: Map[String, String] = cat.entries.flatMap(e =>
          Seq(e.viewName.toLowerCase -> e.name, e.name.toLowerCase -> e.name)).toMap
        def runAs(user: String, sql: String): String =
          try {
            val df = SqlGate.execute(s, sql, viewToDs.keySet,
              t => viewToDs.get(t).exists(ds => acl.canRead(user, ds)))
            s"ok:${Export.csvString(df).linesIterator.size - 1}"
          } catch { case SqlGate.Denied(_) => "denied" }

        val joinSql =
          """SELECT c.name, CAST(count(*) AS BIGINT) AS n, CAST(sum(o.amt) AS BIGINT) AS amt
             FROM cust c JOIN orders o ON c.id = o.cust_id
             GROUP BY c.name ORDER BY c.name"""
        // the allowed result is also EXPORTED and pinned byte-for-byte
        val export = Export.csvString(SqlGate.execute(s, joinSql, viewToDs.keySet,
          t => viewToDs.get(t).exists(ds => acl.canRead("alice", ds))))
          .replace("\n", ";")
        val cases = Seq(
          ("1_alice_join_export", s"ok:$export"),       // bare alias = latest (v2)
          ("2_alice_versioned", runAs("alice", "SELECT * FROM orders_v1")),
          ("3_bob_missing_grant", runAs("bob", joinSql)),
          ("4_subq_private_denied", runAs("alice",
            "SELECT * FROM cust WHERE id IN (SELECT id FROM wages)")),
          ("5_admin_subq_ok", runAs("admin",
            "SELECT * FROM cust WHERE id IN (SELECT id FROM wages)")),
          ("6_unknown_table", runAs("alice", "SELECT * FROM nosuch")))
        rowsDf(s, Seq("case_id", "verdict"),
          cases.map { case (id, v) => Seq(id, v) })
      },
      Some("""SELECT * FROM (VALUES
             ('1_alice_join_export', 'ok:name,n,amt;ann,2,12;bo,1,9;cy,1,11;'),
             ('2_alice_versioned', 'ok:3'),
             ('3_bob_missing_grant', 'denied'),
             ('4_subq_private_denied', 'denied'),
             ('5_admin_subq_ok', 'ok:1'),
             ('6_unknown_table', 'denied'))
             t(case_id, verdict) ORDER BY case_id"""))
  )
}
