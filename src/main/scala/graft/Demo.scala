package graft

import graft.engine._

/** End-to-end driver for the lagoon-semantics engine: ingest → catalog →
  * search → authorized SQL → export, printed to stdout. Used for manual
  * verification (`sbt "runMain graft.Demo"`); mirrors the reference's
  * cmdline flow (ingest / get-sources / sql / download).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()

    val wh = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val cat = new Catalog(spark, wh)

    // 1. ingest a CSV with inference
    val csvPath = java.nio.file.Files.createTempFile("demo", ".csv")
    java.nio.file.Files.writeString(csvPath,
      "city,population,avg temp,coastal\nParis,2161000,12.3,no\nTokyo,13960000,15.4,yes\nZurich,434008,9.3,no\n")
    val e1 = cat.ingest("cities", Ingest.csv(spark, csvPath.toString), "csv",
      addedBy = "alice", description = "city stats")
    println(s"[demo] ingested ${e1.name} v${e1.version}: " +
      e1.friendlyNames.zip(e1.colTypes).map { case (n, t) => s"$n:$t" }.mkString(", "))

    // 2. second version → auto-deprecation
    val e2 = cat.ingest("cities", Ingest.csv(spark, csvPath.toString), "csv", addedBy = "alice")
    println(s"[demo] v${e2.version} ingested; versions now: " +
      cat.entries.map(e => s"v${e.version}(depr=${e.deprecated})").mkString(" "))

    // 3. JSON ingest with path explode
    val jsonPath = java.nio.file.Files.createTempFile("demo", ".json")
    java.nio.file.Files.writeString(jsonPath, """{"readings":[{"t":12.5},{"t":13.1},{"t":null}]}""")
    val ej = cat.ingest("readings",
      Ingest.json(spark, jsonPath.toString, Ingest.JsonOptions(path = """{"readings":[_]}""")), "json")
    println(s"[demo] json rows=${ej.rowCount} type=${ej.jsonType}")

    // 4. catalog search with TsQuery
    val hits = Search(cat.entries,
      Search.SourcesSpec(searchQuery = Some("column:city & !weather"), includeDeprecated = true))
    println(s"[demo] search 'column:city & !weather' → " +
      hits.map(e => s"${e.name}v${e.version}").mkString(","))

    // 5. authorized SQL over registered views
    cat.registerViews()
    val known = cat.entries.map(_.viewName).toSet ++ cat.entries.map(_.name)
    val df = SqlGate.execute(spark,
      "SELECT city, population FROM cities WHERE avg_temp > 10 ORDER BY population DESC",
      known)
    println("[demo] sql result:\n" + Export.csvString(df))
    try SqlGate.execute(spark, "DROP TABLE cities", known)
    catch { case SqlGate.Denied(r) => println(s"[demo] correctly denied: $r") }

    // 6. compaction + roundtrip
    cat.compact("cities")
    println("[demo] post-compaction v1 download:\n" +
      Export.csvString(cat.view("cities", 1).orderBy("ix")))

    // 7. column-type override + re-type (inference guessed DOUBLE for
    // avg_temp; the user wants the raw strings back)
    cat.setColumnType("cities", 2, 3, ColumnType.ColText)
    println("[demo] after override, v2 avg_temp type = " +
      cat.view("cities", 2).schema("avg_temp").dataType.simpleString)

    // 8. HTTP ingest (loopback server standing in for a remote URL)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "id,score\n1,0.5\n2,0.8\n".getBytes("UTF-8")
    server.createContext("/remote.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val eh = cat.ingest("remote",
        Ingest.csv(spark, s"http://127.0.0.1:${server.getAddress.getPort}/remote.csv"), "csv")
      println(s"[demo] http ingest rows=${eh.rowCount} cols=${eh.friendlyNames.mkString(",")}")
    } finally server.stop(0)

    // 9. ingest with JSON-lines progress reporting
    val n = Progress.watch(spark, "demo-ingest", line => println(s"[demo] $line"),
      logEvery = 2) {
      Ingest.csv(spark, csvPath.toString).untyped.count()
    }
    println(s"[demo] progress-watched ingest counted $n rows")

    spark.stop()
  }
}
