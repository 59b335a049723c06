package graft.server

import java.net.{InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.Catalog

/** In-process LDAP stub directory — a loopback ServerSocket speaking
  * just enough RFC 4511 (BindRequest/BindResponse over BER) to stand
  * in for the live directory the reference's LDAP.hs binds against
  * (egress-free, the im15 loopback-HTTP pattern). `entries` maps
  * DN → password; a known DN with the wrong password answers
  * invalidCredentials (49), an unknown DN likewise (directories do
  * not disclose which), and `rejectAll` simulates an unwilling server
  * (53) so fail-closed can be asserted end-to-end.
  */
private class StubLdapServer(entries: Map[String, String],
                             rejectAll: Boolean = false) {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  @volatile private var running = true
  val port: Int = server.getLocalPort

  private val thread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        new Thread(() => {
          try {
            val in = sock.getInputStream
            val out = sock.getOutputStream
            var open = true
            while (open) {
              val (tag, env) = LdapAuth.readTlv(in)
              if (tag != 0x30) open = false
              else {
                val body = new java.io.ByteArrayInputStream(env)
                val (_, idBytes) = LdapAuth.readTlv(body)
                val msgId = if (idBytes.isEmpty) 0 else BigInt(idBytes).toInt
                val (opTag, op) = LdapAuth.readTlv(body)
                opTag match {
                  case 0x60 => // BindRequest
                    val opIn = new java.io.ByteArrayInputStream(op)
                    val (_, _) = LdapAuth.readTlv(opIn) // version
                    val (_, dnB) = LdapAuth.readTlv(opIn)
                    val (authTag, passB) = LdapAuth.readTlv(opIn)
                    val dn = new String(dnB, UTF_8)
                    val pass = new String(passB, UTF_8)
                    val code =
                      if (rejectAll) 53 // unwillingToPerform
                      else if (authTag != 0x80) 48 // inappropriateAuthentication
                      else if (pass.isEmpty) 0 // anonymous bind: "success"
                      else if (entries.get(dn).contains(pass)) 0
                      else 49
                    out.write(LdapAuth.encodeBindResponse(msgId, code))
                    out.flush()
                  case 0x42 => open = false // UnbindRequest
                  case _ =>
                    out.write(LdapAuth.encodeBindResponse(msgId, 2))
                    out.flush()
                }
              }
            }
          } catch { case _: Throwable => () }
          finally sock.close()
        }).start()
      } catch { case _: Throwable => () }
    }
  })
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; server.close() }
}

class LdapAuthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val client = java.net.http.HttpClient.newHttpClient()
  private val template = "uid={{user}},ou=people,dc=example,dc=com"
  private def dnOf(u: String) = s"uid=$u,ou=people,dc=example,dc=com"

  private def withStub(entries: Map[String, String],
                       rejectAll: Boolean = false)
                      (f: StubLdapServer => Unit): Unit = {
    val stub = new StubLdapServer(entries, rejectAll)
    try f(stub) finally stub.stop()
  }

  test("wire client: success / invalidCredentials / server-error codes") {
    withStub(Map(dnOf("ada") -> "s3cret")) { stub =>
      val url = s"ldap://127.0.0.1:${stub.port}"
      assert(LdapAuth.bind(url, dnOf("ada"), "s3cret") == LdapAuth.BindSuccess)
      assert(LdapAuth.bind(url, dnOf("ada"), "wrong") ==
        LdapAuth.BindInvalidCredentials)
      assert(LdapAuth.bind(url, dnOf("ghost"), "x") ==
        LdapAuth.BindInvalidCredentials)
    }
    withStub(Map.empty, rejectAll = true) { stub =>
      LdapAuth.bind(s"ldap://127.0.0.1:${stub.port}", dnOf("ada"), "pw") match {
        case LdapAuth.BindError(m) => assert(m.contains("53"))
        case r => fail(s"expected BindError, got $r")
      }
    }
    // connection refused → BindUnreachable (an OUTAGE, distinct from
    // any answered result code), never success
    val dead = { val s = new ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    assert(LdapAuth.bind(s"ldap://127.0.0.1:$dead", dnOf("ada"), "pw")
      .isInstanceOf[LdapAuth.BindUnreachable])
  }

  test("a garbled ANSWERED response is BindError, not an outage (r18 advice)") {
    // a server that answers with well-formed-looking bytes that fail
    // BER decoding (implausible length) — an on-path garbler of a deny
    // must land in the authoritative-deny class (no stored-fallback
    // window), while a silent mid-read close stays an outage
    val srv = new ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val garble = new Thread(() => {
      try while (true) {
        val s = srv.accept()
        s.getInputStream.readNBytes(4) // let the request start
        // tag 0x30, long-form length-of-length 4, implausible length
        s.getOutputStream.write(Array[Byte](0x30, 0x84.toByte,
          0x7f, -1, -1, -1))
        s.getOutputStream.flush()
        Thread.sleep(50)
        s.close()
      } catch { case _: Throwable => () }
    })
    garble.setDaemon(true); garble.start()
    try {
      LdapAuth.bind(s"ldap://127.0.0.1:${srv.getLocalPort}",
        dnOf("ada"), "pw", timeoutMs = 2000) match {
        case LdapAuth.BindError(m) =>
          assert(m.contains("protocol error"), m)
        case r => fail(s"garbled answer classified as $r — " +
          "an attacker turns a deny into a fallback-eligible outage")
      }
    } finally srv.close()
  }

  test("DN template substitution escapes RFC 4514 metacharacters") {
    assert(LdapAuth.substituteDn(template, "ada") == dnOf("ada"))
    assert(LdapAuth.substituteDn("uid={{ user }},dc=x", "ada") == "uid=ada,dc=x")
    // a login name trying to splice an extra RDN stays ONE value
    val spliced = LdapAuth.substituteDn(template, "ada,ou=admins")
    assert(spliced == "uid=ada\\,ou\\=admins,ou=people,dc=example,dc=com")
  }

  test("provider: bind-as-user, fail-closed, no anonymous-bind hole") {
    withStub(Map(dnOf("ada") -> "s3cret")) { stub =>
      val p = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template,
        allowStoredFallback = false)
      val state = graft.engine.Acl.State()
      assert(p.verify("ada", "s3cret", state))
      assert(!p.verify("ada", "wrong", state))
      assert(!p.verify("ghost", "pw", state))
      // the stub (like real directories) answers SUCCESS to an
      // empty-password anonymous bind — the provider must still deny
      assert(!p.verify("ada", "", state))
    }
    // unwilling server and dead server: deny, never accept
    withStub(Map(dnOf("ada") -> "s3cret"), rejectAll = true) { stub =>
      val p = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template,
        allowStoredFallback = false)
      val state = graft.engine.Acl.State()
      assert(!p.verify("ada", "s3cret", state))
    }
  }

  test("directory revocation sticks: invalidCredentials never falls back to stored") {
    // the r17-advice scenario: a user disabled/removed in the
    // directory still has a valid LOCAL stored password — an explicit
    // LDAP invalidCredentials must deny anyway (the reference's
    // authProviderLDAP hard-denies on LoginInvalidCreds)
    val state = graft.engine.Acl.State(admins = Set("root"))
      .addUser("ada", "local-pw").addUser("root", "root-pw")
    withStub(Map.empty) { stub => // directory knows nobody → code 49
      val p = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template)
      assert(!p.verify("ada", "local-pw", state),
        "revoked directory user authenticated via stored fallback")
      // even with the outage fallback opted in: invalidCredentials is
      // not an outage
      val pf = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template,
        allowStoredFallback = true)
      assert(!pf.verify("ada", "local-pw", state))
      // the bootstrap ADMIN keeps its stored credential (rig stays
      // drivable when the admin is absent from the directory)
      assert(p.verify("root", "root-pw", state))
      assert(!p.verify("root", "wrong", state))
    }
    // an ANSWERED rejection that is not code 49 (unwillingToPerform —
    // a locked account) is equally authoritative: no fallback even
    // when the outage fallback is opted in
    withStub(Map.empty, rejectAll = true) { stub =>
      val pf = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template,
        allowStoredFallback = true)
      assert(!pf.verify("ada", "local-pw", state),
        "directory code 53 fell through to stored")
      assert(pf.verify("root", "root-pw", state))
    }
    // directory OUTAGE (BindUnreachable): stored fallback only when opted in
    val dead = { val s = new ServerSocket(0); val pn = s.getLocalPort; s.close(); pn }
    val pDefault = new LdapAuthProvider(s"ldap://127.0.0.1:$dead", template)
    assert(!pDefault.verify("ada", "local-pw", state), "outage fallback must be opt-in")
    assert(pDefault.verify("root", "root-pw", state))
    val pOptIn = new LdapAuthProvider(s"ldap://127.0.0.1:$dead", template,
      allowStoredFallback = true)
    assert(pOptIn.verify("ada", "local-pw", state))
    assert(!pOptIn.verify("ada", "wrong", state))
  }

  test("BasicAuthProvider: 401 is a hard deny, outage fallback is opt-in") {
    val state = graft.engine.Acl.State(admins = Set("root"))
      .addUser("ada", "local-pw").addUser("root", "root-pw")
    val http = graft.engine.HttpServers.loopback()
    http.createContext("/auth", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(401, -1); ex.close() // everyone revoked
    })
    http.createContext("/auth403", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(403, -1); ex.close()
    })
    http.start()
    val port = http.getAddress.getPort
    try {
      val p = new BasicAuthProvider(s"http://127.0.0.1:$port/auth")
      assert(!p.verify("ada", "local-pw", state), "401 must not fall back")
      // 403 (and any other ANSWERED status) is an endpoint decision,
      // not an outage — even the opt-in fallback must not engage
      val p403 = new BasicAuthProvider(s"http://127.0.0.1:$port/auth403",
        allowStoredFallback = true)
      assert(!p403.verify("ada", "local-pw", state),
        "403 fell through to stored")
      assert(p403.verify("root", "root-pw", state))
      assert(p.verify("root", "root-pw", state), "admin bootstrap")
      val pf = new BasicAuthProvider(s"http://127.0.0.1:$port/auth",
        allowStoredFallback = true)
      assert(!pf.verify("ada", "local-pw", state),
        "401 must not fall back even with outage fallback on")
    } finally http.stop(0)
    // outage: opt-in only
    val pDead = new BasicAuthProvider(s"http://127.0.0.1:$port/auth")
    assert(!pDead.verify("ada", "local-pw", state))
    val pDeadOptIn = new BasicAuthProvider(s"http://127.0.0.1:$port/auth",
      allowStoredFallback = true)
    assert(pDeadOptIn.verify("ada", "local-pw", state))
  }

  test("HttpApi login end-to-end against the stub directory") {
    withStub(Map(dnOf("zoe") -> "pw-zoe")) { stub =>
      val api = new HttpApi(new Catalog(spark,
        Files.createTempDirectory("graft-ldap-wh").toString),
        auth = new LdapAuthProvider(s"ldap://127.0.0.1:${stub.port}", template))
      val port = api.start()
      def req(method: String, path: String, body: String = "",
              headers: Map[String, String] = Map.empty) = {
        var b = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path"))
          .method(method,
            if (body.isEmpty) java.net.http.HttpRequest.BodyPublishers.noBody()
            else java.net.http.HttpRequest.BodyPublishers.ofString(body))
        headers.foreach { case (k, v) => b = b.header(k, v) }
        client.send(b.build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      try {
        // directory identity, correct password: 200 + local auto-create
        val r = req("POST", "/user/login?user=zoe&pass=pw-zoe")
        assert(r.statusCode == 200, r.body)
        val tok = Map("X-Token" -> "\"token\":\"([^\"]+)\"".r
          .findFirstMatchIn(r.body).get.group(1))
        assert(req("POST", "/sources?name=zoe.csv", "a\n2\n", tok)
          .statusCode == 201)
        // wrong directory password → 401; unknown identity → 401
        assert(req("POST", "/user/login?user=zoe&pass=nope").statusCode == 401)
        assert(req("POST", "/user/login?user=ghost&pass=pw").statusCode == 401)
        // bootstrap admin still authenticates via the stored fallback
        assert(req("POST", "/user/login?user=root&pass=").statusCode == 200)
        // directory acceptance does not grant admin rights
        assert(req("POST", "/users?name=other", headers = tok).statusCode == 403)
      } finally api.stop()
    }
  }

  test("BasicAuthProvider: 200 accepts, 401 denies, outage fails closed") {
    val http = graft.engine.HttpServers.loopback()
    http.createContext("/auth", (ex: com.sun.net.httpserver.HttpExchange) => {
      val hdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString("ada:s3cret".getBytes(UTF_8))
      val code = if (hdr.contains(expected)) 200 else 401
      ex.sendResponseHeaders(code, -1); ex.close()
    })
    http.start()
    val port = http.getAddress.getPort
    val state = graft.engine.Acl.State()
    try {
      val p = new BasicAuthProvider(s"http://127.0.0.1:$port/auth",
        allowStoredFallback = false)
      assert(p.verify("ada", "s3cret", state))
      assert(!p.verify("ada", "wrong", state))
    } finally http.stop(0)
    // dead endpoint: fail-closed
    val p2 = new BasicAuthProvider(s"http://127.0.0.1:$port/auth",
      allowStoredFallback = false)
    assert(!p2.verify("ada", "s3cret", state))
  }
}
