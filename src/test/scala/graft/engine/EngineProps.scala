package graft.engine

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based invariants for the engine kernels: CSV parse/render
  * inversion, TsQuery parser totality, JsonType lattice laws,
  * name-dedup laws, and (the one property that needs a Spark session)
  * agreement of the strict and lenient ingest casts.
  */
object EngineProps extends Properties("engine") {

  // ---------------- CsvParser ----------------

  private val fieldChar = Gen.frequency(
    8 -> Gen.alphaNumChar, 1 -> Gen.const(','), 1 -> Gen.const('"'),
    1 -> Gen.const('\r'), 1 -> Gen.const(' '), 1 -> Gen.const('\t'))
  private val field = Gen.listOf(fieldChar).map(_.mkString)
  private val row = Gen.nonEmptyListOf(field).map(_.toArray)

  private def render(fields: Array[String], delim: Char): String =
    fields.map { f =>
      if (f.exists(c => c == delim || c == '"' || c == '\r' || c == '\n'))
        "\"" + f.replace("\"", "\"\"") + "\""
      else f
    }.mkString(delim.toString)

  property("splitLine inverts RFC-4180 render (comma)") = forAll(row) { r =>
    CsvParser.splitLine(render(r, ','), CsvParser.Options())
      .sameElements(r)
  }

  property("splitLine inverts RFC-4180 render (tab)") = forAll(row) { r =>
    CsvParser.splitLine(render(r, '\t'), CsvParser.Options(delimiter = '\t'))
      .sameElements(r)
  }

  // ---------------- TsQuery ----------------

  private val probe = SourceEntry(1L, "sales_q1", 1, "2024-01-01T00:00:00Z", "alice",
    "quarterly sales", false, Seq("finance"), "csv", "", Seq("region"), Seq("region"),
    Seq("TEXT"), "", 0L, "", "sales_q1_v1")

  property("tsquery parser is total (error recovery, never throws)") =
    forAll(Gen.asciiPrintableStr) { s =>
      val q = Search.parse(s)
      // evaluates against an entry, and negation flips the answer
      Search.matches(Search.TsNot(q), probe) == !Search.matches(q, probe)
    }

  // ---------------- JsonType lattice ----------------

  private def genJson(depth: Int): Gen[JsonType] =
    if (depth == 0)
      Gen.oneOf(JsonType.JMixed, JsonType.JUnknown, JsonType.JString,
        JsonType.JNumber, JsonType.JBool)
    else Gen.frequency(
      5 -> genJson(0),
      // the normalizing constructor, not raw JNullable: the laws are
      // stated over the engine's REACHABLE domain (see Types.scala
      // invariant note) — raw JNullable(JNullable(_)) can't occur
      1 -> Gen.lzy(genJson(depth - 1).map(JsonType.nullable)),
      1 -> Gen.lzy(genJson(depth - 1).map(JsonType.JArray(_))),
      2 -> Gen.lzy(Gen.listOfN(2,
          Gen.zip(Gen.oneOf("a", "b", "c"),
            Gen.zip(Gen.oneOf(true, false), genJson(depth - 1))))
        .map(l => JsonType.JObject(l.toMap))))

  property("unify is commutative") =
    forAll(genJson(2), genJson(2)) { (a, b) =>
      JsonType.unify(a, b) == JsonType.unify(b, a)
    }

  // treeAggregate reassociates the fold arbitrarily, so associativity
  // is a CORRECTNESS requirement, not a nicety
  property("unify is associative") =
    forAll(genJson(2), genJson(2), genJson(2)) { (a, b, c) =>
      JsonType.unify(JsonType.unify(a, b), c) ==
        JsonType.unify(a, JsonType.unify(b, c))
    }

  property("JUnknown is the identity") = forAll(genJson(2)) { t =>
    JsonType.unify(t, JsonType.JUnknown) == t &&
    JsonType.unify(JsonType.JUnknown, t) == t
  }

  property("JMixed absorbs") = forAll(genJson(2)) { t =>
    JsonType.unify(t, JsonType.JMixed) == JsonType.JMixed &&
    JsonType.unify(JsonType.JMixed, t) == JsonType.JMixed
  }

  // ---------------- tabular inference lattice ----------------

  private val longText = "x" * (ColumnType.MaxTextLen + 10)
  private val fieldVal: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("0", "1", "t", "TRUE", "no", "off"),
    3 -> Gen.oneOf("42", "-7", "+123456789", "9999999999", "123456789012345678"),
    3 -> Gen.oneOf("1.5", "-0.25", "3e10", "1e-3", "11e1111", ".5", "2."),
    3 -> Gen.oneOf("hello", "", " 7 ", "a b", "näive"),
    1 -> Gen.const(longText),
    1 -> Gen.const(null: String))
  private val inferRow: Gen[Seq[String]] = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, fieldVal))
  private val inferRows: Gen[List[Seq[String]]] = Gen.listOf(inferRow)


  // adversarial numeric-ish strings stress every branch of the
  // hand-rolled scanner: signs, dots, lowercase/uppercase exponents,
  // wide digit runs, trailing junk
  private val numericish: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.numChar, 2 -> Gen.oneOf('.', 'e', 'E', '+', '-'),
      1 -> Gen.oneOf('x', ' ', 'f', 't')))
  } yield cs.mkString

  property("field lexer: hand-rolled scanner == regex reference (fuzz)") =
    forAll(Gen.oneOf(fieldVal.filter(_ != null), numericish)) { f =>
      Infer.inferFieldType(f) == Infer.inferFieldTypeRef(f)
    }

  property("field lexer: surrounding ASCII whitespace never changes the type") =
    forAll(fieldVal, Gen.oneOf("", " ", "\t", "  \t")) { (f, ws) =>
      f == null || Infer.inferFieldType(ws + f + ws) == Infer.inferFieldType(f)
    }

  property("field lexer: digit strings split I4/I8/TEXT at 9 and 18 digits") =
    forAll(Gen.choose(1, 25)) { len =>
      val s = "7" * len // not "1": single "1"/"0" lex as BOOL literals
      Infer.inferFieldType(s) == (
        if (len <= 9) InferredType.InfInt(IntWidth.I4)
        else if (len <= 18) InferredType.InfInt(IntWidth.I8)
        else InferredType.InfText)
    }

  // the catalog stores text and casts leniently at read time, so the
  // strict cast must never fail or differ where the lexer typed a value
  property("castTo: strict and lenient agree, non-null, on every lexer-typed field") =
    forAll(Gen.oneOf(fieldVal.filter(_ != null), numericish), Gen.oneOf("", " ", "\t")) {
      (f0, ws) =>
        val f = ws + f0 + ws
        val t = Infer.fieldColumnType(f)
        val spark = graft.TestSpark.spark
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        val r = Seq(f).toDF("c")
          .select(Ingest.castTo(col("c"), t), Ingest.castTo(col("c"), t, lenient = true)).head()
        (r.get(0) != null && r.get(0) == r.get(1)) :| s"'$f' as $t: ${r.get(0)} vs ${r.get(1)}"
    }

  property("column join is commutative") = forAll(fieldVal, fieldVal) { (f, g) =>
    (f != null && g != null) ==> {
      val a = Infer.fieldColumnType(f)
      val b = Infer.fieldColumnType(g)
      ColumnType.join(a, b) == ColumnType.join(b, a)
    }
  }

  property("column join is associative") =
    forAll(fieldVal, fieldVal, fieldVal) { (f, g, h) =>
      (f != null && g != null && h != null) ==> {
        val (a, b, c) = (Infer.fieldColumnType(f), Infer.fieldColumnType(g),
          Infer.fieldColumnType(h))
        ColumnType.join(ColumnType.join(a, b), c) ==
          ColumnType.join(a, ColumnType.join(b, c))
      }
    }

  // THE distributed-correctness theorem for I4: a per-partition fold
  // merged with join equals the reference's sequential fold, wherever
  // the partition boundary lands
  property("mutable accStep/accMerge fold == immutable rowStep/merge fold") =
    org.scalacheck.Prop.forAllNoShrink(inferRows, Gen.choose(0, 1000)) { (rows, cut0) =>
      val cut = if (rows.isEmpty) 0 else cut0 % (rows.length + 1)
      val (l, r) = rows.splitAt(cut)
      def accOf(rs: List[Seq[String]]) =
        rs.foldLeft(Infer.emptyAcc)((a, row) => Infer.accStep(a, row))
      val merged = Infer.accMerge(accOf(l), accOf(r))
      val viaAcc = (merged.width, Infer.accGuesses(merged))
      val viaVec = rows.foldLeft(Vector.empty[Option[ColumnType]])(Infer.rowStep)
      viaAcc._2 == viaVec &&
        viaAcc._1 == rows.foldLeft(0)((w, row) => math.max(w, row.length))
    }

  property("partitioned inference == sequential inference at any split") =
    org.scalacheck.Prop.forAllNoShrink(inferRows, Gen.choose(0, 1000)) { (rows, cut0) =>
      val cut = if (rows.isEmpty) 0 else cut0 % (rows.length + 1)
      val (l, r) = rows.splitAt(cut)
      Infer.merge(Infer.inferRowsOpt(l.iterator), Infer.inferRowsOpt(r.iterator)) ==
        Infer.inferRowsOpt(rows.iterator)
    }

  // ---------------- JSON splitter / inference ----------------

  private val jsonValue: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-1000, 1000).map(_.toString),
    Gen.oneOf("true", "false", "null"),
    Gen.alphaNumStr.map(s => "\"" + s + "\""),
    Gen.const("\"quote\\\"and\\\\slash\""),
    Gen.listOf(Gen.chooseNum(0, 9)).map(_.mkString("[", ",", "]")),
    Gen.alphaNumStr.map(s => s"""{"k":"$s","n":1}"""))

  property("splitTopLevel inverts whitespace-joined value streams") =
    org.scalacheck.Prop.forAllNoShrink(
      Gen.listOf(jsonValue), Gen.oneOf(" ", "\n", "  \n ")) { (vals, sep) =>
      JsonInfer.splitTopLevel(vals.mkString(sep)) == vals.toVector
    }

  property("inferAll is order-independent (fold laws end-to-end)") =
    forAll(Gen.listOf(jsonValue)) { vals =>
      JsonInfer.inferAll(vals.iterator) ==
        JsonInfer.inferAll(vals.reverse.iterator)
    }

  // ---------------- ACL lattice ----------------

  private val aclOps: Gen[List[Int]] = Gen.listOf(Gen.choose(0, 4))

  /** Deterministically replay a small op-stream into an Acl.State with
    * two users, one group, one source.
    */
  private def replay(ops: List[Int]): Acl.State = {
    var st = Acl.State(canCreateGroup = Set("admin"))
      .addUser("admin").addUser("alice").addUser("bob")
      .onCreate("admin", "ds")
    st = st.createGroup("admin", "team")
    ops.foreach {
      case 0 => st = st.addToGroup("admin", "bob", "team")
      case 1 => st = st.grantUser("admin", "alice", "ds", Acl.LevelRead)
      case 2 => st = st.grantGroup("admin", "team", "ds", Acl.LevelUpdate)
      case 3 => st = st.makePublic("admin", "ds")
      case 4 => st = st.grantUser("admin", "alice", "ds", Acl.LevelManage)
    }
    st
  }

  // NOT all ops are monotone: re-granting a user a lower level is an
  // intentional downgrade (set-semantics, like the reference). But
  // ADDITIVE ops — joining a group, making a dataset public — must
  // never lower anyone's effective level.
  property("membership and public grants never lower a level") =
    forAll(aclOps, Gen.oneOf(0, 3)) { (ops, extra) =>
      val before = replay(ops)
      val after = replay(ops :+ extra)
      Seq("admin", "alice", "bob").forall(u =>
        after.level(u, "ds") >= before.level(u, "ds"))
    }

  property("effective level >= any group grant the user belongs to") =
    forAll(aclOps) { ops =>
      val st = replay(ops)
      st.membership.forall { case (u, g) =>
        st.level(u, "ds") >= st.groupAccess.getOrElse((g, "ds"), Acl.LevelNone)
      }
    }

  property("public datasets are readable by every user") =
    forAll(aclOps) { ops =>
      val st = replay(ops :+ 3)
      st.users.forall(u => st.canRead(u, "ds"))
    }

  // ---------------- Names ----------------

  private val rawName = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar, 1 -> Gen.oneOf(' ', '-', '.', '_'))).map(_.mkString)

  property("dedup keeps arity and is case-insensitively distinct") =
    forAll(Gen.listOf(rawName)) { xs =>
      val out = Names.dedup(xs)
      out.length == xs.length &&
      out.map(_.toLowerCase).distinct.length == out.length
    }

  property("dedup is idempotent") = forAll(Gen.listOf(rawName)) { xs =>
    val out = Names.dedup(xs)
    Names.dedup(out) == out
  }

  // ---- /sql facade rewriters: total on arbitrary input -------------
  // The rewrite chain runs on EVERY /sql request body before the SQL
  // gate — a scanner crash would 500 the server on malformed input the
  // gate itself would reject politely. Fuzz with SQL-shaped fragments
  // (unbalanced quotes/parens, comment openers, stray operators,
  // multi-byte chars) and assert the full chain always completes.
  private val sqlFrag: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("SELECT", "FROM", "WHERE", "ORDER BY", "GROUP BY",
      "DISTINCT ON", "EXTRACT", "EPOCH", "DOW FROM", "date_part",
      "string_agg", "array_agg", "strpos", "string_to_array", "log",
      "regexp_replace", "x", "t.c", "count(*)", "1", "0.5", ","),
    3 -> Gen.oneOf("(", ")", "'", "''", "\"", "`", "--", "/*", "*/",
      "~", "~*", "!~", "!~*", "->", "->>", "#>", "||", ";", "\n"),
    2 -> Gen.oneOf("'lit'", "'do''nt'", "-- c\n", "/* b */", "(a, b)"),
    1 -> Gen.asciiPrintableStr,
    1 -> Gen.oneOf("é", "中", " ", "\\"))
  private val sqlish: Gen[String] =
    Gen.listOf(Gen.oneOf(sqlFrag, Gen.const(" "))).map(_.mkString)

  property("facade rewrite chain never throws on arbitrary input") =
    forAll(sqlish) { s =>
      PgSelect.rewrite(PgJson.rewrite(s),
        n => if (n == "t") Some(Seq("a", "b")) else None)
      true
    }

  property("facade rewrite chain is idempotent on arbitrary input") =
    forAll(sqlish) { s =>
      def full(x: String) = PgSelect.rewrite(PgJson.rewrite(x),
        n => if (n == "t") Some(Seq("a", "b")) else None)
      val once = full(s)
      full(once) == once
    }
}
