package graft.engine

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one factory for JDK HTTP servers: HttpApi, S3Loopback and every
  * loopback fixture (im15, Demo, the specs) create theirs here.
  *
  * It turns Nagle's algorithm off (`sun.net.httpserver.nodelay`). The
  * JDK server writes a response's headers and its body as two small
  * segments; with Nagle on, the body waits for the client to ACK the
  * headers, and a keep-alive client delays that ACK by Linux's 40 ms
  * floor, so a sub-millisecond handler answered in about 40-50 ms. The
  * JDK reads the property once per JVM, when
  * `sun.net.httpserver.ServerConfig` initializes, so it is set here,
  * before any server exists, and is not configurable.
  */
object HttpServers {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A server bound to 127.0.0.1:`port` (0 = ephemeral), not started. */
  def loopback(port: Int = 0): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
}
