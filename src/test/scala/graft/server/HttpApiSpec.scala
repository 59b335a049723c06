package graft.server

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.engine.Catalog

/** End-to-end HTTP facade test: boots HttpApi on an ephemeral port and
  * drives the reference's API flows (runtests.sh command sequences) as
  * real HTTP round-trips — ingest, search with X-Total-Count, info,
  * typed download, gated /sql (including denial), tags, deprecation,
  * column re-type, ACL visibility between two users, delete.
  *
  * AUTH: the facade fails closed — every mutation authenticates via a
  * login-issued token (the bootstrap admin is root / empty password,
  * the reference test rig's dummy-auth setup), wrong passwords 401,
  * and tokenless requests act as the ANONYMOUS principal (public
  * reads only). The full 3-user/3-group authorization matrix lives in
  * SecurityMatrixSpec; this spec covers the API surface itself.
  */
class HttpApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val api = {
    val a = new HttpApi(new Catalog(spark,
      Files.createTempDirectory("graft-http-wh").toString))
    sys.addShutdownHook(a.stop())
    a
  }
  private lazy val port = api.start()
  private val client = HttpClient.newHttpClient()

  private def req(method: String, path: String, body: String = "",
                  headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
                      else HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def loginToken(user: String, pass: String = ""): String = {
    val r = req("POST", s"/user/login?user=$user&pass=$pass")
    assert(r.statusCode == 200, s"login $user: ${r.statusCode} ${r.body}")
    "\"token\":\"([^\"]+)\"".r.findFirstMatchIn(r.body).get.group(1)
  }

  private lazy val asRoot = Map("X-Token" -> loginToken("root"))

  test("ingest → search → info → download → sql → retype → tag → deprecate → delete") {
    // POST /sources (SourcesPost): upload a small CSV as root
    val up = req("POST", "/sources?name=people.csv",
      "name,age\nAlice,34\nBob,28\n", asRoot)
    assert(up.statusCode == 201, up.body)
    assert(up.body.contains("\"name\":\"people.csv\"") &&
           up.body.contains("\"version\":1") &&
           up.body.contains("\"rowCount\":2"), up.body)
    assert(up.body.contains("\"type\":\"TEXT\"") &&
           up.body.contains("\"type\":\"INTEGER\""), up.body)

    // GET /sources (SourcesGet) with X-Total-Count — the source is
    // public by default (reference server default), so even the
    // anonymous listing sees it
    val list = req("GET", "/sources?name=people")
    assert(list.statusCode == 200)
    assert(list.headers.firstValue("X-Total-Count").orElse("0") == "1")
    assert(list.body.contains("\"people.csv\""))

    // GET /source/name/{n} + /source/{n}/{v} (SourceByName / SourceGet)
    assert(req("GET", "/source/name/people.csv").body.contains("\"version\":1"))
    assert(req("GET", "/source/people.csv/1").statusCode == 200)
    assert(req("GET", "/source/people.csv/9").statusCode == 404)

    // SourceAllVersions + SourceGetColumn
    val vs = req("GET", "/source/people.csv/versions")
    assert(vs.statusCode == 200 && vs.body.startsWith("[") &&
           vs.body.contains("\"version\":1"), vs.body)
    assert(req("GET", "/source/people.csv/1/column/age").body == """{"ix":2}""")
    assert(req("GET", "/source/people.csv/1/column/nope").statusCode == 404)

    // GET download (SourceDownload): typed CSV round-trips
    val dl = req("GET", "/source/people.csv/1/download")
    assert(dl.statusCode == 200)
    assert(dl.body.contains("Alice,34") && dl.body.contains("Bob,28"), dl.body)
    // a second download reuses the version's frame: the same bytes
    assert(req("GET", "/source/people.csv/1/download").body == dl.body)

    // POST /sql (SQL): gated query over the sanitized view names
    // (people.csv -> people_csv_v1, like the reference's
    // _001_simple_csv_v1 views); anonymous works because the source
    // is public (sh:289)
    val sql = req("POST", "/sql",
      "SELECT name, age FROM people_csv_v1 WHERE age > 30")
    assert(sql.statusCode == 200, s"${sql.statusCode} ${sql.body}")
    assert(sql.body.contains("Alice"), sql.body)
    assert(!sql.body.contains("Bob"), sql.body)
    // JSON via Accept header
    val js = req("POST", "/sql", "SELECT name FROM people_csv_v1 ORDER BY name",
      headers = Map("Accept" -> "application/json"))
    assert(js.statusCode == 200 && js.body.contains("""{"name":"Alice"}"""), js.body)

    // /sql denial paths: unknown table 403, DML 403 (ModifyTable REJECT)
    assert(req("POST", "/sql", "SELECT * FROM no_such_table").statusCode == 403)
    assert(req("POST", "/sql",
      "INSERT INTO people_csv_v1 VALUES ('x', 'y', 1)").statusCode == 403)

    // mutations REQUIRE authentication: tokenless = 401
    assert(req("POST", "/source/people.csv/1/column/2/type", "TEXT").statusCode == 401)
    assert(req("POST", "/source/people.csv/1/tags", """["x"]""").statusCode == 401)
    assert(req("DELETE", "/source/people.csv").statusCode == 401)

    // ColumnSetType: re-type age (data column 2; ix is not a column) to
    // TEXT and back — INTEGER must vanish from the info while TEXT, and
    // /sql must read each type (a retype is a new entry, so a new frame)
    def ages = req("POST", "/sql", "SELECT age FROM people_csv_v1 ORDER BY name",
      headers = Map("Accept" -> "application/json")).body
    assert(ages.contains("""{"age":34}"""), ages)
    assert(req("POST", "/source/people.csv/1/column/2/type", "TEXT", asRoot).statusCode == 204)
    assert(!req("GET", "/source/people.csv/1").body.contains("\"type\":\"INTEGER\""))
    assert(ages.contains("""{"age":"34"}"""), ages)
    assert(req("POST", "/source/people.csv/1/column/2/type", "INTEGER", asRoot).statusCode == 204)
    assert(req("GET", "/source/people.csv/1").body.contains("\"type\":\"INTEGER\""))
    assert(ages.contains("""{"age":34}"""), ages)

    // tags (SourceTagsPost / SourceTagDelete)
    assert(req("POST", "/source/people.csv/1/tags", """["hr","golden"]""", asRoot).statusCode == 204)
    assert(req("GET", "/source/people.csv/1").body.contains("\"hr\""))
    assert(req("DELETE", "/source/people.csv/1/tag/hr", headers = asRoot).statusCode == 204)
    assert(!req("GET", "/source/people.csv/1").body.contains("\"hr\""))

    // deprecation (SourceSetDeprecated): hidden from default search
    assert(req("POST", "/source/people.csv/1/deprecated", "true", asRoot).statusCode == 204)
    assert(req("GET", "/sources?name=people").headers
      .firstValue("X-Total-Count").orElse("") == "0")
    assert(req("GET", "/sources?name=people&includeDeprecated=true").headers
      .firstValue("X-Total-Count").orElse("") == "1")
    assert(req("POST", "/source/people.csv/1/deprecated", "false", asRoot).statusCode == 204)

    // delete (SourceDelete): gone from info and search
    assert(req("DELETE", "/source/people.csv", headers = asRoot).statusCode == 204)
    assert(req("GET", "/source/name/people.csv").statusCode == 404)
  }

  test("ingest with ?progress=true streams progress lines then the SourceInfo") {
    val rows = (1 to 500).map(i => s"$i,v$i").mkString("name,val\n", "\n", "\n")
    val r = req("POST", "/sources?name=prog.csv&progress=true&logEvery=100", rows, asRoot)
    assert(r.statusCode == 200, r.body)
    val lines = r.body.trim.split("\n").toSeq
    // at least the {"done":...} line plus the final SourceInfo object
    assert(lines.length >= 2, r.body)
    assert(lines.exists(l => l.contains("\"progress\"") || l.contains("\"done\"")), r.body)
    assert(lines.last.contains("\"name\":\"prog.csv\"") &&
           lines.last.contains("\"rowCount\":500"), lines.last)
    req("DELETE", "/source/prog.csv", headers = asRoot)
  }

  test("login verifies credentials; sessions fail closed (sh:75,289-318)") {
    // root ingests a PRIVATE dataset (?public=false = the --private flag)
    assert(req("POST", "/sources?name=secrets.csv&public=false",
      "k,v\na,1\n", asRoot).statusCode == 201)

    // admin creates a user WITH a password (manage-user --create-user)
    assert(req("POST", "/users?name=guest&pass=gpw", headers = asRoot).statusCode == 204)
    // non-admin cannot create users
    val guestTok = loginToken("guest", "gpw")
    val asGuest = Map("X-Token" -> guestTok)
    assert(req("POST", "/users?name=mallory", headers = asGuest).statusCode == 403)

    // WRONG password must fail, dummy auth or not (sh:75); unknown
    // user is the same 401 (no username oracle)
    assert(req("POST", "/user/login?user=guest&pass=wrong").statusCode == 401)
    assert(req("POST", "/user/login?user=root&pass=wrong").statusCode == 401)
    assert(req("POST", "/user/login?user=nobody").statusCode == 401)
    // JSON-body login, the reference's curl shape (sh:303)
    assert(req("POST", "/user/login", """{"user": "guest", "pass": "gpw"}""")
      .statusCode == 200)

    // private: invisible to guest in search; download + sql denied
    assert(req("GET", "/sources?name=secrets", headers = asGuest).headers
      .firstValue("X-Total-Count").orElse("") == "0")
    assert(req("GET", "/source/secrets.csv/1/download", headers = asGuest)
      .statusCode == 403)
    assert(req("POST", "/sql", "SELECT * FROM secrets_csv_v1",
      headers = asGuest).statusCode == 403)
    // anonymous (no token) is denied too — no root fallback
    assert(req("GET", "/source/secrets.csv/1/download").statusCode == 403)
    assert(req("POST", "/sql", "SELECT * FROM secrets_csv_v1").statusCode == 403)

    // root sees it (creator Manage)
    assert(req("GET", "/sources?name=secrets", headers = asRoot).headers
      .firstValue("X-Total-Count").orElse("") == "1")

    // make public (SourceSetPublic): guest AND anonymous can now read
    assert(req("POST", "/source/secrets.csv/public", "true", asRoot).statusCode == 204)
    assert(req("GET", "/sources?name=secrets", headers = asGuest).headers
      .firstValue("X-Total-Count").orElse("") == "1")
    assert(req("POST", "/sql", "SELECT count(*) AS n FROM secrets_csv_v1",
      headers = asGuest).statusCode == 200)
    assert(req("POST", "/sql", "SELECT count(*) AS n FROM secrets_csv_v1")
      .statusCode == 200)

    // back to private, then LOGOUT: the stale token must carry no
    // rights — reads 403 (anonymous), mutations 401 (sh:311-318
    // resume-after-logout must fail)
    assert(req("POST", "/source/secrets.csv/public", "false", asRoot).statusCode == 204)
    assert(req("POST", "/user/logout", headers = asGuest).statusCode == 204)
    assert(req("GET", "/source/secrets.csv/1/download", headers = asGuest)
      .statusCode == 403)
    assert(req("POST", "/source/secrets.csv/1/tags", """["t"]""", asGuest)
      .statusCode == 401)

    req("DELETE", "/source/secrets.csv", headers = asRoot)
  }

  test("dataset update rights: new versions need UPDATE on the source (sh:178-199)") {
    // bob creates a public dataset; alice can upload a new version
    // (public default = public-group UPDATE) but cannot manage it
    assert(req("POST", "/users?name=hbob&pass=b", headers = asRoot).statusCode == 204)
    assert(req("POST", "/users?name=halice&pass=a", headers = asRoot).statusCode == 204)
    val asBob = Map("X-Token" -> loginToken("hbob", "b"))
    val asAlice = Map("X-Token" -> loginToken("halice", "a"))
    assert(req("POST", "/sources?name=Bob1.csv", "x,y\n1,2\n", asBob).statusCode == 201)
    val v2 = req("POST", "/sources?name=Bob1.csv", "x,y\n1,2\n3,4\n", asAlice)
    assert(v2.statusCode == 201 && v2.body.contains("\"version\":2"), v2.body)
    assert(req("POST", "/source/Bob1.csv/public", "false", asAlice).statusCode == 403)
    // alice's update did NOT hand her manage rights; bob retains them
    assert(req("POST", "/source/Bob1.csv/public", "false", asBob).statusCode == 204)
    // now private: alice can no longer read or update
    assert(req("GET", "/source/Bob1.csv/2/download", headers = asAlice).statusCode == 403)
    assert(req("POST", "/sources?name=Bob1.csv", "x,y\n5,6\n", asAlice).statusCode == 403)
    req("DELETE", "/source/Bob1.csv", headers = asRoot)
  }

  test("auth token outlives its session; inferJsonType infers without ingesting") {
    val tok = loginToken("root")
    val as = Map("X-Token" -> tok)
    // anonymous callers cannot mint auth tokens
    assert(req("POST", "/user/token").statusCode == 401)
    val at = req("POST", "/user/token", headers = as)
    assert(at.statusCode == 200, at.body)
    val auth = "\"token\":\"([^\"]+)\"".r.findFirstMatchIn(at.body).get.group(1)
    // kill the session; the auth token still resumes (AuthToken-vs-
    // cookie split, Interface/API.hs:346-354)
    assert(req("POST", "/user/logout", headers = as).statusCode == 204)
    val rs = req("POST", "/user/resume", s"""{"token":"$auth"}""")
    assert(rs.statusCode == 200, rs.body)
    assert(rs.body.contains("\"user\":\"root\""), rs.body)
    val fresh = "\"token\":\"([^\"]+)\"".r.findFirstMatchIn(rs.body).get.group(1)
    assert(req("GET", "/dbinfo",
      headers = Map("X-Token" -> fresh)).statusCode == 200)
    // a bogus auth token is rejected
    assert(req("POST", "/user/resume", """{"token":"nope"}""").statusCode == 401)
    // inferJsonType: type comes back, no source is created
    val it = req("POST", "/source/inferJsonType",
      """{"a": 1, "b": "x"}""" + "\n" + """{"a": 2, "b": "y"}""",
      Map("X-Token" -> fresh))
    assert(it.statusCode == 200, it.body)
    assert(it.body.contains("jsonType"), it.body)
    val ls = req("GET", "/sources", headers = Map("X-Token" -> fresh))
    assert(!ls.body.contains("inferJsonType"), ls.body)
  }

  test("noTypeInference upload stays TEXT until makeTyped promotes it; debug aliases") {
    val up = req("POST", "/sources?name=lazy.csv&noTypeInference",
      "name,age\nAlice,34\nBob,28\n", asRoot)
    assert(up.statusCode == 201, up.body)
    assert(!up.body.contains("\"type\":\"INTEGER\""), up.body)
    // SourceMakeTyped (bare POST /source/:n/:v): re-infers from the
    // stored untyped table — age becomes INTEGER without re-upload
    val mt = req("POST", "/source/lazy.csv/1", headers = asRoot)
    assert(mt.statusCode == 200, mt.body)
    assert(mt.body.contains("\"type\":\"INTEGER\""), mt.body)
    // anonymous callers cannot promote
    assert(req("POST", "/source/lazy.csv/1").statusCode == 401)
    // reference debug paths: dumpDbInfo aliases /dbinfo, cache rebuild
    // is an admin-gated no-op (no cache to rebuild)
    assert(req("GET", "/debug/dumpDbInfo", headers = asRoot).statusCode == 200)
    assert(req("POST", "/debug/rebuildCanReadCache", headers = asRoot).statusCode == 204)
    assert(req("POST", "/debug/rebuildCanReadCache").statusCode == 401)
  }

  test("ingest-time tags and jsonPath ride as CreateOptions/IngestOptions params") {
    val up = req("POST", "/sources?name=tagged.csv&tag=alpha&tag=beta",
      "a,b\n1,2\n", asRoot)
    assert(up.statusCode == 201, up.body)
    assert(up.body.contains("alpha") && up.body.contains("beta"), up.body)
    // jsonPath {k:_}: rows are the values under key k of each object
    val uj = req("POST", "/sources?name=paths.json&" +
      URLEncoder.encode("jsonPath", UTF_8) + "=" +
      URLEncoder.encode("{\"k\":_}", UTF_8),
      """{"k": 1, "other": "x"}""" + "\n" + """{"k": 2}""", asRoot)
    assert(uj.statusCode == 201, uj.body)
    val dl = req("GET", "/source/paths.json/1/download", headers = asRoot)
    assert(dl.statusCode == 200, dl.body)
    assert(dl.body.contains("1") && dl.body.contains("2") &&
      !dl.body.contains("other"), dl.body)
  }

  test("GET /sources returns the page in the requested sort order") {
    for (n <- Seq("srt_b", "srt_c", "srt_a"))
      assert(req("POST", s"/sources?name=$n.csv", "x,y\n2,3\n", asRoot).statusCode == 201)
    def order(q: String): Seq[String] = {
      val r = req("GET", s"/sources?name=srt_&$q")
      assert(r.statusCode == 200, r.body)
      "\"name\":\"(srt_[a-z])\\.csv\"".r.findAllMatchIn(r.body).map(_.group(1)).toSeq
    }
    assert(order("sortBy=name:desc") == Seq("srt_c", "srt_b", "srt_a"))
    assert(order("sortBy=name&limit=2") == Seq("srt_a", "srt_b"))
    assert(order("sortBy=name&offset=1&limit=1") == Seq("srt_b"))
    val r = req("GET", "/sources?name=srt_&sortBy=name&limit=1")
    assert(r.headers.firstValue("X-Total-Count").orElse("") == "3")
  }

  for (q <- Seq("sortBy=bogus", "createdAfter=notadate", "offset=-1", "limit=-1"))
    test(s"GET /sources?$q is a client error (400), not a 500") {
      val r = req("GET", s"/sources?$q")
      assert(r.statusCode == 400, r.body)
    }

  test("an upload with an unreadable created date is refused; date search keeps working") {
    val bad = req("POST", "/sources?name=j.csv&created=junk", "x,y\n2,3\n", asRoot)
    assert(bad.statusCode == 400, bad.body)
    assert(req("GET", "/source/name/j.csv").statusCode == 404)
    val ok = req("POST", "/sources?name=k.csv&created=2001-06-01", "x,y\n2,3\n", asRoot)
    assert(ok.statusCode == 201, ok.body)
    val r = req("GET", "/sources?createdAfter=2001-01-01&createdBefore=2001-12-31")
    assert(r.statusCode == 200, r.body)
    assert(r.body.contains("\"k.csv\"") && r.headers.firstValue("X-Total-Count").orElse("") == "1",
      r.body)
  }

  test("POST /users refuses an empty user name (it encodes the anonymous principal)") {
    val r = req("POST", "/users?name=&pass=x", headers = asRoot)
    assert(r.statusCode == 400, r.body)
    assert(req("POST", "/user/login?user=&pass=x").statusCode == 401)
  }

  test("POST /sql on one source answers while another source's data is missing") {
    for (n <- Seq("gone_a", "gone_b"))
      assert(req("POST", s"/sources?name=$n.csv", "x,y\n2,3\n", asRoot).statusCode == 201)
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    val data = new java.io.File(api.cat.entry("gone_b.csv", 1).untypedPath).getParentFile
    rm(data)
    assert(!data.exists)
    val r = req("POST", "/sql", "SELECT x, y FROM gone_a_csv", asRoot)
    assert(r.statusCode == 200, r.body)
    assert(r.body.contains("2,3"), r.body)
  }

  test("JSON request bodies decode their escapes: login, tags, resume") {
    // passwords "pé" and "a/b", sent JSON-escaped
    assert(req("POST", "/users?name=jesc&pass=p%C3%A9", headers = asRoot).statusCode == 204)
    assert(req("POST", "/users?name=jslash&pass=a%2Fb", headers = asRoot).statusCode == 204)
    assert(req("POST", "/user/login", "{\"user\":\"jesc\",\"pass\":\"p\\u00e9\"}")
      .statusCode == 200)
    assert(req("POST", "/user/login", "{\"user\":\"jslash\",\"pass\":\"a\\/b\"}")
      .statusCode == 200)
    assert(req("POST", "/user/login", "{\"user\":\"jslash\",\"pass\":\"a/c\"}")
      .statusCode == 401)

    // tags are stored decoded; a body that is not a JSON array of
    // strings is a client error
    assert(req("POST", "/sources?name=escapes.csv", "k,v\na,2\n", asRoot).statusCode == 201)
    assert(req("POST", "/source/escapes.csv/1/tags", "[\"caf\\u00e9\",\"a\\/b\"]", asRoot)
      .statusCode == 204)
    assert(api.cat.entry("escapes.csv", 1).tags == Seq("caf\u00e9", "a/b"))
    for (bad <- Seq("[\"x\"", "not json", "[1]", "[]"))
      assert(req("POST", "/source/escapes.csv/1/tags", bad, asRoot).statusCode == 400, bad)
    assert(api.cat.entry("escapes.csv", 1).tags == Seq("caf\u00e9", "a/b"))

    // resume: an escaped token decodes; a bare token still resumes
    val at = req("POST", "/user/token", headers = asRoot)
    val auth = "\"token\":\"([^\"]+)\"".r.findFirstMatchIn(at.body).get.group(1)
    val escaped = auth.replace("-", "\\u002d")
    assert(req("POST", "/user/resume", "{\"token\":\"" + escaped + "\"}").statusCode == 200)
    assert(req("POST", "/user/resume", auth).statusCode == 200)
    req("DELETE", "/source/escapes.csv", headers = asRoot)
  }

  test("back-to-back keep-alive GETs answer without a delayed-ACK stall") {
    // a sub-millisecond route on a one-entry catalog. With Nagle on,
    // each response's body waited for the client's delayed ACK of its
    // headers: Linux's floor is 40 ms, and the median read about 50 ms.
    val a = new HttpApi(new Catalog(spark,
      Files.createTempDirectory("graft-http-latency").toString))
    val p = a.start()
    try {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      def post(path: String, body: String, token: String = ""): HttpResponse[String] =
        http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
          .header("X-Token", token).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val token = "\"token\":\"([^\"]+)\"".r
        .findFirstMatchIn(post("/user/login?user=root&pass=", "").body).get.group(1)
      assert(post("/sources?name=one", "k,v\n2,a\n", token).statusCode == 201)
      val get = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/source/name/one")).build()
      def callMs(): Double = {
        val t0 = System.nanoTime()
        val r = http.send(get, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 200, r.body)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => callMs())
      val ms = Seq.fill(30)(callMs()).sorted
      val median = (ms(14) + ms(15)) / 2
      assert(median < 20.0, f"median $median%.1f ms; sorted: ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally a.stop()
  }
}
