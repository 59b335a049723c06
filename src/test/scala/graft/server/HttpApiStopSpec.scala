package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.engine.Catalog

/** stop() ends the handler pool that start() creates. */
class HttpApiStopSpec extends AnyFunSuite {
  private def handlerThreads(port: Int): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith(s"graft-http-$port-") && t.isAlive)

  test("no handler thread is alive after stop()") {
    val api = new HttpApi(new Catalog(TestSpark.spark,
      Files.createTempDirectory("graft-http-wh").toString))
    val port = api.start()
    // one request, so the pool has started a thread
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/sources")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode == 200, r.body)
    assert(handlerThreads(port).nonEmpty)
    api.stop()
    assert(handlerThreads(port).isEmpty)
  }
}
