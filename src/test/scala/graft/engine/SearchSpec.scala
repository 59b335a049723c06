package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import Search._

class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TsQuery parser: precedence | < & < juxt < ! < :") {
    assert(parse("a b") == TsAnd(TsLexeme("a"), TsLexeme("b")))
    assert(parse("a & b | c") ==
      TsOr(TsAnd(TsLexeme("a"), TsLexeme("b")), TsLexeme("c")))
    assert(parse("!a b") == TsAnd(TsNot(TsLexeme("a")), TsLexeme("b")))
    assert(parse("name:foo") == TsLabel("name", TsLexeme("foo")))
    assert(parse("a | b | c") ==
      TsOr(TsOr(TsLexeme("a"), TsLexeme("b")), TsLexeme("c")))
    assert(parse("(a | b) c") ==
      TsAnd(TsOr(TsLexeme("a"), TsLexeme("b")), TsLexeme("c")))
  }

  test("TsQuery parser: error recovery — any string parses") {
    assert(parse("") == TsLexeme(""))
    assert(parse("a &") == TsLexeme("a"))       // dangling op recovered
    assert(parse("| a") == TsLexeme("a"))
    assert(parse("(a") == TsLexeme("a"))        // unclosed paren ok
    assert(parse("a @@ b") == TsAnd(TsLexeme("a"), TsLexeme("b"))) // junk dropped
  }

  private def entry(ix: Long, name: String, addedBy: String, description: String,
                    tags: Seq[String], friendlyNames: Seq[String], deprecated: Boolean,
                    created: String): SourceEntry =
    SourceEntry(ix, name, 1, created, addedBy, description, deprecated, tags, "csv",
      "", "", friendlyNames, friendlyNames, friendlyNames.map(_ => "TEXT"), "", 0L, "",
      s"${name}_v1")

  private val catalog = Seq(
    entry(1L, "sales_data", "alice", "quarterly sales", Seq("finance", "q1"), Seq("region", "amount"), false, "2024-01-15T00:00:00Z"),
    entry(2L, "weather", "bob", "temperature readings", Seq("science"), Seq("city", "temp"), false, "2024-03-01T00:00:00Z"),
    entry(3L, "sales_old", "alice", "old sales", Seq("finance"), Seq("region", "total"), true, "2023-06-01T00:00:00Z"))

  private def names(es: Seq[SourceEntry]): Seq[String] = es.map(_.name)

  /** alice manages sales_data and reads weather; sales_data is public. */
  private val acl = Acl.State().addUser("alice").addUser("bob")
    .onCreate("alice", "sales_data", public = true)
    .onCreate("bob", "weather").onCreate("bob", "sales_old")
    .grantUser("bob", "alice", "weather", Acl.LevelRead)

  test("S3/S4/S5/S7: filters") {
    val spec = SourcesSpec(filterName = Some("SALES"))
    assert(Search(catalog, spec).size == 1) // deprecated excluded
    assert(Search(catalog, spec.copy(includeDeprecated = true)).size == 2)
    assert(Search(catalog, SourcesSpec(filterIx = Some(2))).size == 1)
    assert(Search(catalog, SourcesSpec(
      filterCreatedAfter = Some("2024-02-01T00:00:00Z"))).size == 1)
    assert(Search(catalog, SourcesSpec(filterTags = Seq("finance", "q1"))).size == 1)
    assert(Search(catalog, SourcesSpec(filterUsers = Seq("ALICE", "bob"),
      includeDeprecated = true)).size == 3)
    assert(Search(catalog, SourcesSpec(filterColumns = Seq("region", "amount"))).size == 1)
  }

  test("created bounds compare instants: mixed precision and date-only bounds") {
    val es = Seq(
      entry(1L, "whole", "alice", "", Nil, Nil, false, "2024-01-01T00:00:00Z"),
      entry(2L, "millis", "alice", "", Nil, Nil, false, "2024-01-01T00:00:00.123Z"),
      entry(3L, "next_day", "alice", "", Nil, Nil, false, "2024-01-02T00:00:00Z"))
    // as strings ".123Z" < "Z"; as instants millis is the later one
    assert(names(Search(es, SourcesSpec(filterCreatedAfter = Some("2024-01-01T00:00:00.100Z"))))
      == Seq("millis", "next_day"))
    assert(names(Search(es, SourcesSpec(filterCreatedBefore = Some("2024-01-01T00:00:00Z"))))
      == Seq("whole"))
    // a date-only bound is midnight UTC; both bounds are inclusive
    assert(names(Search(es, SourcesSpec(filterCreatedBefore = Some("2024-01-01")))) == Seq("whole"))
    assert(names(Search(es, SourcesSpec(filterCreatedAfter = Some("2024-01-02")))) == Seq("next_day"))
    assert(names(Search(es, SourcesSpec(filterCreatedAfter = Some("2024-01-01"),
      filterCreatedBefore = Some("2024-01-01 00:00:01")))) == Seq("whole", "millis"))
    assert(names(Search(es, SourcesSpec(sortBy = Seq(("created", false))))) ==
      Seq("next_day", "millis", "whole"))
    intercept[IllegalArgumentException](Search(es, SourcesSpec(filterCreatedAfter = Some("notadate"))))
    intercept[IllegalArgumentException](Search.count(es, SourcesSpec(filterCreatedBefore = Some("junk"))))
  }

  test("S1/S2: paging + multi-column sort") {
    val got = Search(catalog, SourcesSpec(
      sortBy = Seq(("addedBy", true), ("name", false)),
      includeDeprecated = true, offset = Some(1), limit = Some(1)))
    assert(names(got) == Seq("sales_data"))
  }

  test("sorting is stable and multi-key; field names match case-insensitively") {
    val all = SourcesSpec(includeDeprecated = true)
    // equal keys keep catalog order
    assert(names(Search(catalog, all.copy(sortBy = Seq(("ADDEDBY", true))))) ==
      Seq("sales_data", "sales_old", "weather"))
    assert(names(Search(catalog, all.copy(sortBy = Seq(("addedby", false))))) ==
      Seq("weather", "sales_data", "sales_old"))
    assert(names(Search(catalog, all.copy(sortBy = Seq(("deprecated", false), ("Name", true))))) ==
      Seq("sales_old", "sales_data", "weather"))
    assert(names(Search(catalog, all.copy(sortBy = Seq(("ix", false)), limit = Some(2)))) ==
      Seq("sales_old", "weather"))
    assert(Search(catalog, all.copy(offset = Some(5))).isEmpty)
    assert(Search(catalog, all.copy(limit = Some(0))).isEmpty)
    for (bad <- Seq(all.copy(sortBy = Seq(("bogus", true))), all.copy(sortBy = Seq(("tags", true))),
                    all.copy(offset = Some(-1)), all.copy(limit = Some(-1))))
      intercept[IllegalArgumentException](Search(catalog, bad))
  }

  test("S6: tsquery search with labels and prefix match") {
    def q(s: String) =
      names(Search(catalog, SourcesSpec(searchQuery = Some(s), includeDeprecated = true))).toSet
    assert(q("sales") == Set("sales_data", "sales_old"))       // prefix on name
    assert(q("name:weather") == Set("weather"))
    assert(q("tag:finance & !column:amount") == Set("sales_old"))
    assert(q("temp | quarterly") == Set("weather", "sales_data"))
    assert(q("user:alice column:region") == Set("sales_data", "sales_old"))
    assert(q("") == Set("sales_data", "weather", "sales_old"))
    assert(q("@@") == Set("sales_data", "weather", "sales_old"))
  }

  test("S8/S9: ACL filter + count") {
    val spec = SourcesSpec(readableBy = Some("alice"), includeDeprecated = true)
    assert(Search.count(catalog, spec, Some(acl)) == 2)
    assert(names(Search(catalog, spec, Some(acl))) == Seq("sales_data", "weather"))
  }

  test("an anonymous search (readableBy \"\") sees only public sources") {
    val spec = SourcesSpec(readableBy = Some(""), includeDeprecated = true)
    assert(names(Search(catalog, spec, Some(acl))) == Seq("sales_data"))
    assert(Search.count(catalog, spec, Some(acl)) == 1)
    // an unknown user belongs to no group, so reads nothing
    assert(Search.count(catalog, spec.copy(readableBy = Some("mallory")), Some(acl)) == 0)
  }

  test("readableBy without an ACL table fails CLOSED") {
    val spec = SourcesSpec(readableBy = Some("alice"), includeDeprecated = true)
    intercept[IllegalArgumentException] {
      Search(catalog, spec, None)
    }
    intercept[IllegalArgumentException] {
      Search.count(catalog, spec, None)
    }
  }

  private def catalogDf = {
    import spark.implicits._
    catalog.toDS().toDF()
  }

  test("frame adapters return the list form's entries, in its order") {
    import spark.implicits._
    val aclDf = acl.canReadDf(spark, catalog.map(_.name))
    for (u <- Seq("alice", "bob", "")) {
      val spec = SourcesSpec(readableBy = Some(u), includeDeprecated = true,
        sortBy = Seq(("name", false)))
      assert(Search(catalogDf, spec, Some(aclDf)).as[SourceEntry].collect().toSeq ==
        Search(catalog, spec, Some(acl)))
      assert(Search.count(catalogDf, spec, Some(aclDf)) == Search.count(catalog, spec, Some(acl)))
    }
    val open = SourcesSpec(filterName = Some("sales"), includeDeprecated = true)
    assert(Search(catalogDf, open, None).as[SourceEntry].collect().toSeq == Search(catalog, open))
    intercept[IllegalArgumentException] {
      Search(catalogDf, SourcesSpec(readableBy = Some("alice")), None)
    }
  }

  test("the list search and both frame adapters run zero Spark jobs") {
    val spec = SourcesSpec(readableBy = Some("alice"), searchQuery = Some("sales | temp"),
      sortBy = Seq(("name", true)), includeDeprecated = true)
    val df = catalogDf
    val aclDf = acl.canReadDf(spark, catalog.map(_.name))
    assert(TestSpark.jobsOf("search-list")(Search(catalog, spec, Some(acl))).isEmpty)
    assert(TestSpark.jobsOf("search-count")(Search.count(catalog, spec, Some(acl))).isEmpty)
    assert(TestSpark.jobsOf("search-frame")(
      Search(df, spec, Some(aclDf)).select("ix").collect()).isEmpty)
    assert(TestSpark.jobsOf("search-frame-count")(Search.count(df, spec, Some(aclDf))).isEmpty)
  }
}
