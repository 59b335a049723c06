package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP(S) remote ingest (I3; reference Ingest.hs:566-690 ingests
  * http:// URIs directly). The sandbox has no egress, so the fixture
  * is a loopback JDK HttpServer.
  */
class HttpIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val csvBody = "a,b\n1,x\n2,y\n3,z\n"

  private def serve(route: String, bytes: Array[Byte])(server: HttpServer): Unit =
    server.createContext(route, (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })

  private def zipOf(entryName: String, content: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(baos)
    z.putNextEntry(new java.util.zip.ZipEntry(entryName))
    z.write(content.getBytes("UTF-8"))
    z.closeEntry(); z.close()
    baos.toByteArray
  }

  private def withServer(f: Int => Unit): Unit = {
    val server = HttpServers.loopback()
    serve("/data.csv", csvBody.getBytes("UTF-8"))(server)
    serve("/data.zip", zipOf("data.csv", csvBody))(server)
    serve("/vals.json", "{\"a\":1} {\"a\":2}".getBytes("UTF-8"))(server)
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  test("CSV over HTTP ingests like a local file (I3)") {
    withServer { port =>
      val ing = Ingest.csv(spark, s"http://127.0.0.1:$port/data.csv")
      assert(ing.friendlyNames == Seq("a", "b"))
      assert(ing.colTypes.map(_.displayName) == Seq("INTEGER", "TEXT"))
      assert(ing.untyped.count() == 3)
      assert(ing.view.orderBy("ix").select("a").collect().map(_.getInt(0)).toSeq
        == Seq(1, 2, 3))
    }
  }

  test("zip over HTTP: fetched then decompressed (I3)") {
    withServer { port =>
      val ing = Ingest.csv(spark, s"http://127.0.0.1:$port/data.zip")
      assert(ing.friendlyNames == Seq("a", "b"))
      assert(ing.untyped.count() == 3)
    }
  }

  test("JSON over HTTP") {
    withServer { port =>
      val ing = Ingest.json(spark, s"http://127.0.0.1:$port/vals.json")
      assert(ing.untyped.count() == 2)
      assert(ing.colTypes.head.displayName == "JSON")
    }
  }
}
