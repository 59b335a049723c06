package graft.perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.engine._

/** What one route returned, reduced to what the checks compare. */
sealed trait Out
object Out {
  /** A non-2xx status. */
  final case class Status(code: Int, msg: String) extends Out
  final case class Lines(lines: Seq[String]) extends Out
  final case class Sources(es: Seq[Source], total: Long) extends Out
  final case class One(e: Source) extends Out
  final case class Done() extends Out
}

/** The fields of a catalog entry the checks use. */
final case class Source(name: String, version: Int, viewName: String, rowCount: Long,
                        types: Seq[String])

object Source {
  def of(e: SourceEntry): Source = Source(e.name, e.version, e.viewName, e.rowCount, e.colTypes)
}

final case class Upload(name: String, bytes: Array[Byte], public: Boolean = true,
                        typeInference: Boolean = true)

/** The routes the workloads use. `u` is the principal; None is anonymous. */
trait Api {
  def sql(u: Option[String], text: String): Out
  def search(u: Option[String], nameFilter: Option[String]): Out
  def fetch(u: Option[String], name: String): Out
  def fetchVersion(u: Option[String], name: String, version: Int): Out
  def download(u: Option[String], name: String, version: Int): Out
  def upload(u: String, up: Upload): Out
  def tag(u: String, name: String, version: Int, t: String): Out
  def deleteVersion(u: String, name: String, version: Int): Out
  def setColumnType(u: String, name: String, version: Int, col: Int, t: String): Out
  def makeTyped(u: String, name: String, version: Int): Out
  def addUser(admin: String, u: String, pass: String): Out
  def grantRead(u: String, name: String, to: String): Out
}

/** The routes over HTTP against a running `graft.server.HttpApi`. */
final class HttpRoutes(port: Int, timeout: Duration) extends Api {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()
  private val tokens = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def login(u: String, pass: String): Unit = {
    val r = send("POST", s"/user/login?user=${enc(u)}&pass=${enc(pass)}", None, Array.empty)
    require(r.statusCode == 200, s"login $u: ${r.statusCode} ${r.body}")
    tokens.put(u, mapper.readTree(r.body).get("token").asText())
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def send(method: String, path: String, u: Option[String], body: Array[Byte]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).timeout(timeout)
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
                      else HttpRequest.BodyPublishers.ofByteArray(body))
    u.foreach(x => b.header("X-Token", Option(tokens.get(x)).getOrElse(
      throw new IllegalStateException(s"$x is not logged in"))))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString(UTF_8))
  }

  private def call(method: String, path: String, u: Option[String],
                   body: Array[Byte] = Array.empty)(ok: HttpResponse[String] => Out): Out = {
    val r = send(method, path, u, body)
    if (r.statusCode / 100 != 2) Out.Status(r.statusCode, r.body.take(300)) else ok(r)
  }

  private def lines(r: HttpResponse[String]): Out = {
    val ls = r.body.split("\n", -1).toSeq.dropRight(1)
    // a stream that fails after its 200 carries the error as its last line
    ls.lastOption.filter(_.startsWith("{\"error\"")) match {
      case Some(err) => Out.Status(500, err)
      case None => Out.Lines(ls)
    }
  }

  private def source(n: JsonNode): Source =
    Source(n.get("name").asText(), n.get("version").asInt(), n.get("viewName").asText(),
      n.get("rowCount").asLong(), n.get("columns").elements().asScala.map(_.get("type").asText()).toSeq)

  def sql(u: Option[String], text: String): Out =
    call("POST", "/sql", u, text.getBytes(UTF_8))(lines)
  def search(u: Option[String], nameFilter: Option[String]): Out =
    call("GET", "/sources" + nameFilter.map(n => s"?name=${enc(n)}").getOrElse(""), u) { r =>
      Out.Sources(mapper.readTree(r.body).elements().asScala.map(source).toSeq,
        r.headers.firstValue("X-Total-Count").orElse("-1").toLong)
    }
  def fetch(u: Option[String], name: String): Out =
    call("GET", s"/source/name/${enc(name)}", u)(r => Out.One(source(mapper.readTree(r.body))))
  def fetchVersion(u: Option[String], name: String, version: Int): Out =
    call("GET", s"/source/${enc(name)}/$version", u)(r => Out.One(source(mapper.readTree(r.body))))
  def download(u: Option[String], name: String, version: Int): Out =
    call("GET", s"/source/${enc(name)}/$version/download", u)(lines)
  def upload(u: String, up: Upload): Out = {
    val q = s"/sources?name=${enc(up.name)}&public=${up.public}" +
      (if (up.typeInference) "" else "&noTypeInference")
    call("POST", q, Some(u), up.bytes)(r => Out.One(source(mapper.readTree(r.body))))
  }
  def tag(u: String, name: String, version: Int, t: String): Out =
    call("POST", s"/source/${enc(name)}/$version/tags", Some(u),
      s"""["$t"]""".getBytes(UTF_8))(_ => Out.Done())
  def deleteVersion(u: String, name: String, version: Int): Out =
    call("DELETE", s"/source/${enc(name)}/$version", Some(u))(_ => Out.Done())
  def setColumnType(u: String, name: String, version: Int, col: Int, t: String): Out =
    call("POST", s"/source/${enc(name)}/$version/column/$col/type", Some(u),
      t.getBytes(UTF_8))(_ => Out.Done())
  def makeTyped(u: String, name: String, version: Int): Out =
    call("POST", s"/source/${enc(name)}/$version", Some(u))(r => Out.One(source(mapper.readTree(r.body))))
  def addUser(admin: String, u: String, pass: String): Out =
    call("POST", s"/users?name=${enc(u)}&pass=${enc(pass)}", Some(admin))(_ => Out.Done())
  def grantRead(u: String, name: String, to: String): Out =
    call("POST", s"/source/${enc(name)}/userAccessLevel/${enc(to)}", Some(u),
      "READ".getBytes(UTF_8))(_ => Out.Done())
}

/** The same routes as direct calls into the layers, in the order
  * `HttpApi` makes them, with a span around each call when the tracer
  * is enabled. Catalog and ACL state are shared with any `HttpApi` on
  * the same warehouse only through the files both read.
  */
final class DirectRoutes(spark: SparkSession, cat: Catalog, tracer: Tracer) extends Api {
  private val aclPath = s"${cat.warehouse}/acl.json"
  private val acl = new AtomicReference(
    AclStore.load(spark, aclPath).getOrElse {
      val st = Acl.State(admins = Set("root")).addUser("root", "")
      AclStore.save(spark, aclPath, st)
      st
    })
  private val lock = new Object
  private def sp[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Bytes uploaded and exported inside traced ops, for the rate metrics. */
  val ingestBytes = new java.util.concurrent.atomic.AtomicLong()
  val exportBytes = new java.util.concurrent.atomic.AtomicLong()

  private def updateAcl(f: Acl.State => Acl.State): Unit = lock.synchronized {
    val st = acl.updateAndGet(s => f(s))
    sp("AclStore.save")(AclStore.save(spark, aclPath, st))
  }

  private def entries: Seq[SourceEntry] = sp("Catalog.entries")(cat.entries)

  private def guard(f: => Out): Out =
    try f catch {
      case Acl.Denied(r) => Out.Status(403, r)
      case SqlGate.Denied(r) => Out.Status(403, r)
      case e: NoSuchElementException => Out.Status(404, String.valueOf(e.getMessage))
      case e @ (_: IllegalArgumentException | _: UnsupportedOperationException) =>
        Out.Status(400, String.valueOf(e.getMessage))
      case e: Exception => Out.Status(500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def requireLevel(u: Option[String], source: String, l: Acl.Level): Unit =
    if (acl.get.levelOf(u, source) < l)
      throw Acl.Denied(s"permission denied (${l.display} required): $source")

  def sql(u: Option[String], text: String): Out = guard {
    sp("Catalog.registerViews")(cat.registerViews())
    val owner = sp("Catalog.sqlNames")(cat.sqlNames).map { case (n, e) => n.toLowerCase -> e.name }
    val schemaOf: String => Option[Seq[String]] = n =>
      if (owner.contains(n.toLowerCase)) scala.util.Try(spark.table(n).columns.toSeq).toOption
      else None
    val escaped = sp("PgStrings.escape")(PgStrings.escape(text))
    val json = sp("PgJson.rewrite")(PgJson.rewrite(escaped))
    val rewritten = sp("PgSelect.rewrite")(PgSelect.rewrite(json, schemaOf))
    val df = sp("SqlGate.execute")(SqlGate.execute(spark, rewritten, owner.keySet,
      canRead = t => owner.get(t).exists(ds => acl.get.canRead(u, ds))))
    Out.Lines(sp("Export.csvLines")(Export.csvLines(df).toVector))
  }

  def search(u: Option[String], nameFilter: Option[String]): Out = guard {
    val spec = Search.SourcesSpec(filterName = nameFilter, readableBy = Some(u.getOrElse("")))
    val names = entries.map(_.name).distinct
    val aclDf = sp("Acl.canReadDf")(acl.get.canReadDf(spark, names))
    val total = sp("Search.count")(Search.count(sp("Catalog.df")(cat.df), spec, Some(aclDf)))
    val ixs = sp("Search.apply")(Search(sp("Catalog.df")(cat.df), spec, Some(aclDf))
      .select("ix").collect().map(_.getLong(0)).toSet)
    Out.Sources(entries.filter(e => ixs.contains(e.ix)).map(Source.of), total)
  }

  def fetch(u: Option[String], name: String): Out = guard {
    val e = entries.filter(_.name == name).sortBy(_.version).lastOption
      .getOrElse(throw new NoSuchElementException(s"no source $name"))
    requireLevel(u, name, Acl.LevelRead)
    Out.One(Source.of(e))
  }

  private def entry(name: String, version: Int): SourceEntry =
    entries.find(e => e.name == name && e.version == version)
      .getOrElse(throw new NoSuchElementException(s"$name v$version"))

  def fetchVersion(u: Option[String], name: String, version: Int): Out = guard {
    val e = entry(name, version)
    requireLevel(u, name, Acl.LevelRead)
    Out.One(Source.of(e))
  }

  def download(u: Option[String], name: String, version: Int): Out = guard {
    requireLevel(u, name, Acl.LevelRead)
    entry(name, version)
    val view = sp("Catalog.view")(cat.view(name, version))
    val lines = sp("Export.csvLines")(Export.csvLines(view).toVector)
    if (tracer.active) exportBytes.addAndGet(lines.map(_.length + 1L).sum)
    Out.Lines(lines)
  }

  def upload(u: String, up: Upload): Out = guard {
    lock.synchronized {
      val isNew = !entries.exists(_.name == up.name)
      if (isNew) {
        if (!acl.get.mayCreateDataset(u)) throw Acl.Denied(s"$u cannot create datasets")
      } else requireLevel(Some(u), up.name, Acl.LevelUpdate)
      val json = up.name.endsWith(".json")
      val ext = up.name.lastIndexOf('.') match {
        case -1 => ".csv"
        case i => up.name.substring(i)
      }
      val tmp = java.nio.file.Files.createTempFile("perfbench-upload", ext)
      try {
        java.nio.file.Files.write(tmp, up.bytes)
        if (tracer.active) ingestBytes.addAndGet(up.bytes.length.toLong)
        val ing =
          if (json) sp("Ingest.json")(Ingest.json(spark, tmp.toString))
          else sp("Ingest.csv")(Ingest.csv(spark, tmp.toString,
            Ingest.CsvOptions(typeInference = up.typeInference)))
        val e = sp("Catalog.ingest")(cat.ingest(up.name, ing, if (json) "json" else "csv", addedBy = u))
        if (isNew) updateAcl(_.onCreate(u, e.name, up.public))
        Out.One(Source.of(e))
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  private def mutate(u: String, name: String, l: Acl.Level)(f: => Out): Out = guard {
    lock.synchronized { requireLevel(Some(u), name, l); f }
  }

  def tag(u: String, name: String, version: Int, t: String): Out =
    mutate(u, name, Acl.LevelUpdate) { sp("Catalog.tag")(cat.tag(name, version, t)); Out.Done() }
  def deleteVersion(u: String, name: String, version: Int): Out =
    mutate(u, name, Acl.LevelManage) { sp("Catalog.delete")(cat.delete(name, Some(version))); Out.Done() }
  def setColumnType(u: String, name: String, version: Int, col: Int, t: String): Out =
    mutate(u, name, Acl.LevelUpdate) {
      sp("Catalog.setColumnType")(cat.setColumnType(name, version, col, ColumnType.fromDisplay(t)))
      Out.Done()
    }
  def makeTyped(u: String, name: String, version: Int): Out =
    mutate(u, name, Acl.LevelUpdate)(Out.One(Source.of(sp("Catalog.makeTyped")(cat.makeTyped(name, version)))))
  def addUser(admin: String, u: String, pass: String): Out = guard {
    updateAcl(_.addUser(u, pass)); Out.Done()
  }
  def grantRead(u: String, name: String, to: String): Out = guard {
    updateAcl(_.grantUser(u, to, name, Acl.LevelRead)); Out.Done()
  }
}
