package graft.server

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine._

/** REST facade over the engine — the reference's servant API
  * (server/src/Lagoon/Server/API.hs, route tree Interface/API.hs:113-121)
  * re-expressed over the JDK's built-in HttpServer: zero dependencies,
  * handler bodies are one-line delegations to the library surfaces the
  * engine already gates (Catalog / Search / SqlGate / Export / Acl).
  *
  * Routes (reference analog in parens):
  *   POST   /user/login?user=U&pass=P     (UserLogin; JSON body
  *                                         {"user":..,"pass":..} also
  *                                         accepted; 401 on bad creds)
  *   POST   /user/logout                  (UserLogout; X-Token header)
  *   POST   /user/token                   (UserGetAuthToken; resumable)
  *   POST   /user/resume                  (UserResumeSession; body token)
  *   POST   /source/inferJsonType         (SourceInferJsonType; body =
  *                                         JSON doc(s), no source made)
  *   POST   /user/{U}/password            (self or admin; body = new pass)
  *   POST   /user/{U}/privileges?grant=CREATE|CREATEGROUP (&revoke=...)
  *                                        (manage-user; admin only)
  *   POST   /users?name=U[&pass=P]        (manage-user --create-user;
  *                                         admin only)
  *   POST   /groups?name=G                (GroupsCreate, by session user)
  *   POST   /group/{G}/users              (GroupAddUser; body = username)
  *   DELETE /group/{G}/users/{U}          (GroupRemoveUser)
  *   POST   /group/{G}/manage             (manage-group --grant-manage;
  *                                         body = username)
  *   DELETE /group/{G}/manage/{U}         (manage-group --revoke-manage)
  *   GET    /sources?...                  (SourcesGet; SourcesSpec params,
  *                                         X-Total-Count header)
  *   POST   /sources?name=N&kind=csv|json[&public=bool] (SourcesPost;
  *                                         body = data; new sources are
  *                                         public by default like the
  *                                         reference server; new VERSIONS
  *                                         require UPDATE on the source)
  *   POST   /sources/compact?name=N       (SourcesCompact; MANAGE)
  *   GET    /source/name/{N}              (SourceByName; latest version)
  *   GET    /source/{N}/versions          (SourceAllVersions)
  *   GET    /source/{N}/{v}               (SourceGet)
  *   GET    /source/{N}/{v}/column/{name} (SourceGetColumn; name -> ix)
  *   DELETE /source/{N}[/{v}]             (SourceDelete; MANAGE)
  *   POST   /source/{N}/{v}/tags          (SourceTagsPost; body = JSON
  *                                         array; UPDATE)
  *   DELETE /source/{N}/{v}/tag/{T}       (SourceTagDelete; UPDATE)
  *   GET    /source/{N}/{v}/download      (SourceDownload; CSV stream, raw
  *                                         JSON passthrough for JSON
  *                                         sources; READ)
  *   POST   /source/{N}/{v}/deprecated    (SourceSetDeprecated; body bool;
  *                                         UPDATE)
  *   POST   /source/{N}/{v}/column/{i}/type (ColumnSetType; body = type
  *                                         name; UPDATE)
  *   POST   /source/{N}/public            (SourceSetPublic; body bool;
  *                                         true = public-group UPDATE,
  *                                         false = private; MANAGE via
  *                                         the grant path)
  *   POST   /source/{N}/userAccessLevel/{U}  (body READ|UPDATE|MANAGE|NONE)
  *   POST   /source/{N}/groupAccessLevel/{G} (body READ|UPDATE|MANAGE|NONE)
  *   POST   /sql                          (SQL; body = query, Accept picks
  *                                         text/csv vs application/json;
  *                                         anonymous callers read PUBLIC
  *                                         sources only, sh:289)
  *   GET    /dbinfo                       (dump-db-info analog; admin)
  *
  * AUTH MODEL (fail closed): a request's principal is the user behind a
  * VALID X-Token session — absent, unknown, or logged-out tokens make
  * the request ANONYMOUS, which can read public sources and nothing
  * else; every mutation requires authentication (401) and then the
  * documented right (403). Login verifies the user's salted-hash
  * credential (Acl.verifyCred) — the reference's contract that a wrong
  * password must fail (runsecuritytests.sh:75,303,318). The bootstrap
  * admin is `root` with the constructor's `adminPass` ("" by default,
  * matching the reference test rig's dummy-auth empty password).
  *
  * Scale notes: /sql and /download write the response with
  * Export.csvLines (toLocalIterator — one partition in driver memory
  * at a time, the Conduit.hs streaming analog), never a collect.
  * ACL/user state is DURABLE at `<warehouse>/acl.json` (AclStore —
  * the analog of the reference's Postgres security tables); session
  * tokens are ephemeral. Catalog and ACL mutations serialize on one
  * lock; reads are lock-free, each re-reading `catalog.json`.
  */
class HttpApi(val cat: Catalog, defaultPublic: Boolean = true,
              adminPass: String = "",
              auth: AuthProvider = AuthProvider.Stored) {

  import HttpApi.Unauthorized

  private val spark = cat.spark
  private val lock = new Object
  // ACL/user state is DURABLE next to the catalog (acl.json — the
  // analog of the reference's Postgres security tables): on a fresh
  // warehouse, bootstrap the admin (reference's initial lagoonadmin,
  // full rights, password = adminPass); on restart the persisted
  // state — including any changed root credential — wins.
  private val aclPath = s"${cat.warehouse}/acl.json"
  private val acl = new AtomicReference(
    AclStore.load(spark, aclPath).getOrElse {
      val st = Acl.State(admins = Set("root")).addUser("root", adminPass)
      AclStore.save(spark, aclPath, st)
      st
    })
  // every mutation persists before returning (mutations are
  // principal/grant-scale — rare and tiny); serialized on `lock` so
  // saves cannot land out of order
  private def updateAcl(f: Acl.State => Acl.State): Acl.State =
    lock.synchronized {
      val st = acl.updateAndGet(s => f(s))
      AclStore.save(spark, aclPath, st)
      st
    }
  // session tokens are deliberately EPHEMERAL (they die with the
  // process; clients re-login), unlike principals and grants
  private val sessions = new ConcurrentHashMap[String, String]() // token -> user
  // resumable auth tokens (UserGetAuthToken/UserResumeSession,
  // Interface/API.hs:346-354): outlive the session token that minted
  // them — logging the session out does not revoke them, matching the
  // reference's AuthToken-vs-cookie split. In-memory like sessions.
  private val authTokens = new ConcurrentHashMap[String, String]() // token -> user

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Bind (port 0 = ephemeral) and start; returns the bound port. The
    * handler threads are named `graft-http-<port>-<n>`.
    */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val bound = server.getAddress.getPort
    val n = new AtomicInteger()
    pool = Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"graft-http-$bound-${n.incrementAndGet()}"))
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    bound
  }

  /** Stop serving and end the handler threads. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  // ---------------- tiny JSON rendering (no deps) ----------------

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def sourceJson(e: SourceEntry): String = {
    val cols = e.colTypes.indices.map { i =>
      s"""{"ix":${i + 1},"name":${jstr(e.friendlyNames(i))},""" +
        s""""type":${jstr(e.colTypes(i))},"header":${jstr(e.headers.lift(i).getOrElse(""))}}"""
    }.mkString("[", ",", "]")
    s"""{"ix":${e.ix},"name":${jstr(e.name)},"version":${e.version},""" +
      s""""viewName":${jstr(e.viewName)},""" +
      s""""created":${jstr(e.created)},"addedBy":${jstr(e.addedBy)},""" +
      s""""description":${jstr(e.description)},"deprecated":${e.deprecated},""" +
      s""""tags":${e.tags.map(jstr).mkString("[", ",", "]")},""" +
      s""""kind":${jstr(e.kind)},"rowCount":${e.rowCount},"columns":$cols}"""
  }

  // ---------------- request plumbing ----------------

  private def params(ex: HttpExchange): Map[String, Seq[String]] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (URLDecoder.decode(kv, UTF_8), "")
        else (URLDecoder.decode(kv.take(i), UTF_8),
              URLDecoder.decode(kv.drop(i + 1), UTF_8))
      }.groupMap(_._1)(_._2)

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def send(ex: HttpExchange, code: Int, content: String,
                   cType: String = "application/json",
                   headers: Map[String, String] = Map.empty): Unit = {
    val bytes = content.getBytes(UTF_8)
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.getResponseHeaders.set("Content-Type", cType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Chunked streaming response fed line-by-line (Conduit.hs analog). */
  private def stream(ex: HttpExchange, lines: Iterator[String],
                     cType: String): Unit = {
    // Force the first batch BEFORE committing the 200: analysis and
    // first-partition failures surface here and travel handle()'s
    // normal error path (4xx/5xx JSON) instead of a truncated chunked
    // 200 followed by a second sendResponseHeaders throwing.
    val nonEmpty = lines.hasNext
    ex.getResponseHeaders.set("Content-Type", cType)
    ex.sendResponseHeaders(200, 0) // 0 = chunked
    val out = ex.getResponseBody
    try {
      if (nonEmpty) lines.foreach { l =>
        out.write(l.getBytes(UTF_8)); out.write('\n')
      }
    } catch {
      // headers are gone — the error travels as the last line, the
      // progress-ingest path's convention
      case e: Exception =>
        out.write((s"""{"error":${jstr(
          s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""" + "\n").getBytes(UTF_8))
    }
    out.close()
    ex.close()
  }

  /** The request's principal: the user behind a valid session token,
    * or None (anonymous). NEVER defaults to an identity — an absent,
    * unknown, or logged-out token carries no rights beyond public.
    */
  private def sessionUser(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("X-Token"))
      .flatMap(t => Option(sessions.get(t)))

  private def parseLevel(s: String): Acl.Level = s.trim.toUpperCase match {
    case "READ" => Acl.LevelRead
    case "UPDATE" => Acl.LevelUpdate
    case "MANAGE" => Acl.LevelManage
    case "NONE" => Acl.LevelNone
    case other => throw new IllegalArgumentException(s"unknown level: $other")
  }

  private def requireLevel(u: Option[String], source: String,
                           l: Acl.Level): Unit = {
    // 404 vs 403: an unreadable source must be indistinguishable from
    // an absent one only through SEARCH; direct addressing returns 403
    // like the reference's permission-denied exit code 43
    if (acl.get.levelOf(u, source) < l)
      throw Acl.Denied(s"permission denied (${l.display} required): $source")
  }

  // ---------------- routing ----------------

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case Unauthorized(r) => send(ex, 401, s"""{"error":${jstr(r)}}""")
      case Acl.Denied(r) => send(ex, 403, s"""{"error":${jstr(r)}}""")
      case SqlGate.Denied(r) => send(ex, 403, s"""{"error":${jstr(r)}}""")
      case e: NoSuchElementException =>
        send(ex, 404, s"""{"error":${jstr(Option(e.getMessage).getOrElse("not found"))}}""")
      case e @ (_: IllegalArgumentException | _: UnsupportedOperationException) =>
        send(ex, 400, s"""{"error":${jstr(Option(e.getMessage).getOrElse("bad request"))}}""")
      case e: Exception =>
        send(ex, 500, s"""{"error":${jstr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""")
    }

  private def route(ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.split('/').toSeq
      .filter(_.nonEmpty).map(URLDecoder.decode(_, UTF_8))
    val method = ex.getRequestMethod.toUpperCase
    val p = params(ex)
    def p1(k: String): Option[String] = p.get(k).flatMap(_.headOption)
    val userOpt = sessionUser(ex)
    // authenticated principal, or 401: every mutation path uses this
    def user: String = userOpt.getOrElse(
      throw Unauthorized("authentication required"))
    def checkAdmin(what: String): String = {
      val u = user
      if (!acl.get.admins.contains(u))
        throw Acl.Denied(s"$u is not an administrator ($what)")
      u
    }

    (method, segs) match {
      // ---- sessions & principals ----
      case ("POST", Seq("user", "login")) =>
        val b = body(ex)
        def fromBody(k: String): Option[String] =
          ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
            .findFirstMatchIn(b).map(_.group(1)
              .replace("\\\"", "\"").replace("\\\\", "\\"))
        val u = p1("user").orElse(fromBody("user"))
          .getOrElse(throw new IllegalArgumentException("user required"))
        val pass = p1("pass").orElse(fromBody("pass")).getOrElse("")
        // unknown user and wrong password are the SAME failure — no
        // username oracle (sh:75: wrong creds must fail, dummy auth
        // or not)
        if (!auth.verify(u, pass, acl.get))
          throw Unauthorized("invalid credentials")
        // provider-accepted identity with no local row yet: create it
        // at login, like the reference (sh:62-68 commentary) — only
        // reachable with an EXTERNAL provider (Stored requires a row)
        if (!acl.get.users.contains(u)) updateAcl(_.addUser(u))
        val token = java.util.UUID.randomUUID().toString
        sessions.put(token, u)
        send(ex, 200, s"""{"token":${jstr(token)},"user":${jstr(u)}}""")
      case ("POST", Seq("user", "logout")) =>
        Option(ex.getRequestHeaders.getFirst("X-Token")).foreach(sessions.remove)
        send(ex, 204, "")
      // UserGetAuthToken (Interface/API.hs:346): mint a resumable
      // token for the session's principal
      case ("POST", Seq("user", "token")) =>
        val u = userOpt.getOrElse(throw Unauthorized("login required"))
        val t = java.util.UUID.randomUUID().toString
        authTokens.put(t, u)
        send(ex, 200, s"""{"token":${jstr(t)}}""")
      // UserResumeSession (Interface/API.hs:351): exchange an auth
      // token for a fresh session token
      case ("POST", Seq("user", "resume")) =>
        val b = body(ex)
        val tok = "\"token\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(b)
          .map(_.group(1))
          .getOrElse(b.trim.stripPrefix("\"").stripSuffix("\""))
        val u = Option(authTokens.get(tok))
          .getOrElse(throw Unauthorized("unknown auth token"))
        val token = java.util.UUID.randomUUID().toString
        sessions.put(token, u)
        send(ex, 200, s"""{"token":${jstr(token)},"user":${jstr(u)}}""")
      // SourceInferJsonType (Interface/API.hs:257): infer the posted
      // document's JSON type WITHOUT creating a source
      case ("POST", Seq("source", "inferJsonType")) =>
        val vals = graft.engine.JsonInfer.splitTopLevel(body(ex))
        val t = graft.engine.JsonInfer.inferAll(vals.iterator)
        send(ex, 200,
          s"""{"jsonType":${jstr(graft.engine.JsonType.render(t))}}""")
      case ("POST", Seq("user", u, "password")) =>
        updateAcl(_.setCred(user, u, body(ex)))
        send(ex, 204, "")
      case ("POST", Seq("user", u, "privileges")) =>
        val admin = checkAdmin("manage-user")
        (p1("grant"), p1("revoke")) match {
          case (Some("CREATE"), None) => updateAcl(_.grantCreate(admin, u))
          case (Some("CREATEGROUP"), None) => updateAcl(_.grantCreateGroup(admin, u))
          case (None, Some("CREATE")) => updateAcl(_.revokeCreate(admin, u))
          case (None, Some("CREATEGROUP")) => updateAcl(_.revokeCreateGroup(admin, u))
          case _ => throw new IllegalArgumentException(
            "exactly one of grant/revoke = CREATE|CREATEGROUP required")
        }
        send(ex, 204, "")
      case ("POST", Seq("users")) =>
        checkAdmin("manage-user --create-user")
        val u = p1("name").getOrElse(throw new IllegalArgumentException("name required"))
        require(!acl.get.users.contains(u), s"user exists: $u")
        updateAcl(_.addUser(u, p1("pass").getOrElse("")))
        send(ex, 204, "")
      case ("POST", Seq("groups")) =>
        val g = p1("name").getOrElse(throw new IllegalArgumentException("name required"))
        updateAcl(_.createGroup(user, g))
        send(ex, 204, "")
      case ("POST", Seq("group", g, "users")) =>
        updateAcl(_.addToGroup(user, body(ex).trim, g))
        send(ex, 204, "")
      case ("DELETE", Seq("group", g, "users", u)) =>
        updateAcl(_.removeFromGroup(user, u, g))
        send(ex, 204, "")
      case ("POST", Seq("group", g, "manage")) =>
        updateAcl(_.grantManageGroup(user, body(ex).trim, g))
        send(ex, 204, "")
      case ("DELETE", Seq("group", g, "manage", u)) =>
        updateAcl(_.revokeManageGroup(user, u, g))
        send(ex, 204, "")

      // ---- /sources ----
      case ("GET", Seq("sources")) =>
        val spec = Search.SourcesSpec(
          offset = p1("offset").map(_.toInt),
          limit = p1("limit").map(_.toInt),
          sortBy = p.getOrElse("sortBy", Seq.empty).map { s =>
            val (c, dir) = s.span(_ != ':')
            (c, dir != ":desc")
          },
          filterIx = p1("ix").map(_.toLong),
          filterName = p1("name"),
          filterDescription = p1("description"),
          filterCreatedAfter = p1("createdAfter"),
          filterCreatedBefore = p1("createdBefore"),
          filterUsers = p.getOrElse("user", Seq.empty),
          filterTags = p.getOrElse("tag", Seq.empty),
          filterColumns = p.getOrElse("column", Seq.empty),
          searchQuery = p1("q"),
          includeDeprecated = p1("includeDeprecated").contains("true"),
          // anonymous principals search as usr="" (public rows only)
          readableBy = Some(userOpt.getOrElse("")))
        // one catalog and ACL snapshot, so the page and its total agree
        val es = cat.entries
        val st = Some(acl.get)
        val page = Search(es, spec, st).map(sourceJson).mkString("[", ",", "]")
        val total = Search.count(es, spec, st)
        send(ex, 200, page, headers = Map("X-Total-Count" -> total.toString))

      case ("POST", Seq("sources", "compact")) => lock.synchronized {
        val name = p1("name").getOrElse(throw new IllegalArgumentException("name required"))
        requireLevel(Some(user), name, Acl.LevelManage)
        cat.compact(name)
        send(ex, 204, "")
      }

      case ("POST", Seq("sources")) => lock.synchronized {
        val u = user
        val name = p1("name").getOrElse(throw new IllegalArgumentException("name required"))
        // new source: CREATE privilege; new VERSION of an existing one:
        // UPDATE on the source (sh:183 "Upload new version of public
        // dataset", sh:192 denial when private)
        val isNewSource = !cat.entries.exists(_.name == name)
        if (isNewSource) {
          if (!acl.get.mayCreateDataset(u))
            throw Acl.Denied(s"$u cannot create datasets")
        } else requireLevel(Some(u), name, Acl.LevelUpdate)
        val public = p1("public").map(_.toBoolean).getOrElse(defaultPublic)
        val kind = p1("kind").getOrElse(
          if (name.endsWith(".json")) "json" else "csv")
        // extension drives the CSV delimiter dispatch (.txt/.tsv = tab)
        val ext = name.lastIndexOf('.') match {
          case -1 => if (kind == "json") ".json" else ".csv"
          case i  => name.substring(i)
        }
        val tmp = java.nio.file.Files.createTempFile("graft-upload", ext)
        try {
          java.nio.file.Files.write(tmp, ex.getRequestBody.readAllBytes())
          def doIngest(): SourceEntry = {
            val ing =
              if (kind == "json") Ingest.json(spark, tmp.toString,
                Ingest.JsonOptions(path = p1("jsonPath").getOrElse("_")))
              // ExpandIngestOptions (Interface/API.hs:455-467): the
              // reference's ingest flags ride as query params
              else Ingest.csv(spark, tmp.toString, Ingest.CsvOptions(
                encoding = p1("encoding").getOrElse("auto"),
                hasHeaders = !p.contains("noHeaders"),
                quoting = !p.contains("disableQuoteChar"),
                typeInference = !p.contains("noTypeInference")))
            val e = cat.ingest(name, ing, kind, addedBy = u,
              description = p1("description").getOrElse(""),
              sourceIdent = p1("sourceIdent"),
              created = p1("created"))
            // CreateOptions repeatable ?tag= (Interface/API.hs:473-475)
            val tags = p.getOrElse("tag", Seq.empty).filter(_.nonEmpty)
            tags.foreach(cat.tag(e.name, e.version, _))
            // a new VERSION must not reshuffle grants (the updater
            // must NOT become a manager of someone else's source)
            if (isNewSource) updateAcl(_.onCreate(u, e.name, public))
            if (tags.isEmpty) e else cat.entry(e.name, e.version)
          }
          if (p1("progress").contains("true")) {
            // reference SourcesPost streams ProgressOr SourceInfo
            // (Interface/API.hs:278-286): `{"progress":...}` lines per
            // logEvery records, a `{"done":...}` line, then the final
            // SourceInfo object — all on one chunked response
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(200, 0)
            val out = ex.getResponseBody
            val wlock = new Object
            def sink(line: String): Unit = wlock.synchronized {
              out.write((line + "\n").getBytes(UTF_8)); out.flush()
            }
            try {
              val e = Progress.watch(spark, name, sink,
                logEvery = p1("logEvery").map(_.toLong).getOrElse(100000L))(doIngest())
              sink(sourceJson(e))
            } catch {
              // headers are gone — the error travels as the last line
              case err: Exception => sink(s"""{"error":${jstr(
                s"${err.getClass.getSimpleName}: ${err.getMessage}")}}""")
            }
            out.close(); ex.close()
          } else send(ex, 201, sourceJson(doIngest()))
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }

      // ---- /source ----
      case ("GET", Seq("source", "name", n)) =>
        val e = cat.entries.filter(_.name == n).sortBy(_.version).lastOption
          .getOrElse(throw new NoSuchElementException(s"no source $n"))
        requireLevel(userOpt, n, Acl.LevelRead)
        send(ex, 200, sourceJson(e))
      case ("GET", Seq("source", n, "versions")) =>
        // SourceAllVersions (Interface/API.hs): every version, ascending
        val es = cat.entries.filter(_.name == n).sortBy(_.version)
        if (es.isEmpty) throw new NoSuchElementException(s"no source $n")
        requireLevel(userOpt, n, Acl.LevelRead)
        send(ex, 200, es.map(sourceJson).mkString("[", ",", "]"))
      case ("GET", Seq("source", n, v, "column", cname)) =>
        // SourceGetColumn: friendly column name -> 1-based column ix
        val e = cat.entry(n, v.toInt)
        requireLevel(userOpt, n, Acl.LevelRead)
        val i = e.friendlyNames.indexOf(cname)
        if (i < 0) throw new NoSuchElementException(s"no column $cname in $n v$v")
        send(ex, 200, s"""{"ix":${i + 1}}""")
      case ("GET", Seq("source", n, v, "download")) =>
        requireLevel(userOpt, n, Acl.LevelRead)
        val e = cat.entry(n, v.toInt)
        if (e.kind == "json")
          stream(ex, Export.jsonRaw(cat.view(n, v.toInt)).linesIterator,
            "application/json")
        else stream(ex, Export.csvLines(cat.view(n, v.toInt)), "text/csv")
      case ("GET", Seq("source", n, v)) =>
        val e = cat.entry(n, v.toInt)
        requireLevel(userOpt, n, Acl.LevelRead)
        send(ex, 200, sourceJson(e))
      case ("DELETE", Seq("source", n)) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelManage)
        cat.delete(n); send(ex, 204, "")
      }
      case ("DELETE", Seq("source", n, v)) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelManage)
        cat.delete(n, Some(v.toInt)); send(ex, 204, "")
      }
      case ("POST", Seq("source", n, v, "tags")) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelUpdate)
        // body: JSON array of tag names (minimal parse: quoted strings)
        val tags = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body(ex))
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
        require(tags.nonEmpty, "no tags in body")
        tags.foreach(cat.tag(n, v.toInt, _))
        send(ex, 204, "")
      }
      case ("DELETE", Seq("source", n, v, "tag", t)) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelUpdate)
        cat.untag(n, v.toInt, t); send(ex, 204, "")
      }
      case ("POST", Seq("source", n, v, "deprecated")) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelUpdate)
        cat.setDeprecated(n, v.toInt, body(ex).trim.toBoolean)
        send(ex, 204, "")
      }
      case ("POST", Seq("source", n, v, "column", i, "type")) => lock.synchronized {
        requireLevel(Some(user), n, Acl.LevelUpdate)
        cat.setColumnType(n, v.toInt, i.toInt, ColumnType.fromDisplay(body(ex).trim))
        send(ex, 204, "")
      }
      case ("POST", Seq("source", n, "public")) =>
        // true = public-group UPDATE (the reference default public
        // level), false = private; both ride the Manage-enforcing
        // grant path (sh:186 "Public does not give admin rights")
        if (body(ex).trim.toBoolean) updateAcl(_.makePublic(user, n))
        else updateAcl(_.makePrivate(user, n))
        send(ex, 204, "")
      case ("POST", Seq("source", n, "userAccessLevel", u)) =>
        updateAcl(_.grantUser(user, u, n, parseLevel(body(ex))))
        send(ex, 204, "")
      case ("POST", Seq("source", n, "groupAccessLevel", g)) =>
        updateAcl(_.grantGroup(user, g, n, parseLevel(body(ex))))
        send(ex, 204, "")
      // SourceMakeTyped (Interface/API.hs:196-200): bare POST to the
      // source promotes an untyped (--no-type-inference) ingest to
      // typed by re-inferring from the stored all-text table. Listed
      // AFTER the literal-segment POSTs; the digit guard keeps verbs
      // like "public" out even if reordered.
      case ("POST", Seq("source", n, v)) if v.nonEmpty && v.forall(_.isDigit) =>
        lock.synchronized {
          requireLevel(Some(user), n, Acl.LevelUpdate)
          send(ex, 200, sourceJson(cat.makeTyped(n, v.toInt)))
        }

      // ---- /sql ----
      case ("POST", Seq("sql")) =>
        cat.registerViews()
        // registered table name -> owning SOURCE name for the ACL
        // check. sqlNames is collision-proof (two sources can never
        // share a registered identifier), so the attribution is exact;
        // keys are lowercased because SqlGate reports reads lowercased.
        val owner: Map[String, String] = cat.sqlNames.map {
          case (n, e) => n.toLowerCase -> e.name
        }
        // Postgres JSON operators (the dplyr client's %->>% family
        // ships as -> / ->> / #> / #>> text — reference
        // clients/RLagoon/R/dplyrlagoon.r:86-100) rewrite to
        // get_json_object BEFORE the gate parses the query
        // ... then the Postgres SELECT forms (DISTINCT ON, EPOCH)
        // lower to their Spark spellings (PgSelect scope notes).
        // schemaOf expands `DISTINCT ON (k) *` (dbplyr's
        // distinct(.keep_all=TRUE) text) against the registered view's
        // columns — restricted to catalog names so no Spark-internal
        // table schema leaks into a rewrite; the gate's ACL check
        // still governs whether the query may READ the table.
        val schemaOf: String => Option[Seq[String]] = n =>
          if (owner.contains(n.toLowerCase))
            scala.util.Try(spark.table(n).columns.toSeq).toOption
          else None
        // PgStrings.escape FIRST and exactly ONCE: the Postgres
        // string-literal decode (backslashes are literal there, Spark
        // eats them) — transport-level, deliberately NOT part of the
        // idempotent rewrite chain (doubling twice would quadruple)
        val df = SqlGate.execute(spark,
          PgSelect.rewrite(PgJson.rewrite(PgStrings.escape(body(ex))),
            schemaOf), owner.keySet,
          canRead = t => owner.get(t).exists(ds => acl.get.canRead(userOpt, ds)))
        val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        if (accept.contains("application/json")) {
          import scala.jdk.CollectionConverters._
          stream(ex, df.toJSON.toLocalIterator().asScala, "application/json")
        } else stream(ex, Export.csvLines(df), "text/csv")

      // ---- diagnostics ----
      case ("GET", Seq("dbinfo")) | ("GET", Seq("debug", "dumpDbInfo")) =>
        // /debug/dumpDbInfo is the reference path (Interface/API.hs:
        // 434-440); /dbinfo predates it here and stays as an alias
        checkAdmin("dump-db-info")
        send(ex, 200, cat.dbInfo, cType = "text/plain")
      case ("POST", Seq("debug", "rebuildCanReadCache")) =>
        // DebugRebuildCanReadCache: the reference materializes a
        // can-read cache table and this endpoint rebuilds it. Search
        // asks the live ACL state per entry (nothing cached to
        // rebuild), so parity here = admin-gated success, not work.
        checkAdmin("rebuild-can-read-cache")
        send(ex, 204, "")

      case _ =>
        send(ex, 404, s"""{"error":"no route: $method /${segs.mkString("/")}"}""")
    }
  }
}

object HttpApi {
  /** No authenticated principal where one is required (HTTP 401). */
  final case class Unauthorized(reason: String) extends RuntimeException(reason)
}
