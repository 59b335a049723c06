package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SqlGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("summarize collects read relations; CTE names excluded (Q19/Q20)") {
    val s = SqlGate.summarize(spark,
      "WITH x AS (SELECT * FROM t1) SELECT * FROM x JOIN t2 ON x.a = t2.a")
    assert(s.reads == Set("t1", "t2"))
  }

  test("writes denied (Q24: user SQL is read-only, Verified.hs:807-808)") {
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "INSERT INTO t1 VALUES (1)")
    }
    intercept[SqlGate.Denied] { SqlGate.summarize(spark, "DROP TABLE t1") }
    intercept[SqlGate.Denied] { SqlGate.summarize(spark, "CREATE TABLE t1 (a INT)") }
    intercept[SqlGate.Denied] { SqlGate.summarize(spark, "DELETE FROM t1 WHERE a = 1") }
  }

  test("function scans denied (Q23, QueryPlan.hs:340)") {
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "SELECT * FROM range(10)")
    }
  }

  test("graft_* scalar functions pass the gate and resolve on a fresh session") {
    val r = SqlGate.execute(spark.newSession(),
      "SELECT graft_jaro_winkler('MARTHA', 'MARTHA')", Set.empty).head()
    assert(r.getDouble(0) == 1.0)
  }

  test("subquery reads are collected (IN / EXISTS / scalar / nested)") {
    assert(SqlGate.summarize(spark,
      "SELECT * FROM pub WHERE x IN (SELECT y FROM secret)").reads == Set("pub", "secret"))
    assert(SqlGate.summarize(spark,
      "SELECT * FROM pub WHERE EXISTS (SELECT 1 FROM secret WHERE secret.k = pub.k)")
      .reads == Set("pub", "secret"))
    assert(SqlGate.summarize(spark,
      "SELECT (SELECT max(v) FROM secret) AS m FROM pub").reads == Set("pub", "secret"))
    // nested subquery-in-subquery and subquery inside a CTE body
    assert(SqlGate.summarize(spark,
      "SELECT * FROM a WHERE x IN (SELECT y FROM b WHERE z IN (SELECT w FROM c))")
      .reads == Set("a", "b", "c"))
    assert(SqlGate.summarize(spark,
      "WITH x AS (SELECT * FROM t1 WHERE k IN (SELECT k FROM t2)) SELECT * FROM x")
      .reads == Set("t1", "t2"))
  }

  test("set operations collect reads from every branch") {
    assert(SqlGate.summarize(spark,
      "SELECT a FROM t1 UNION SELECT b FROM t2 EXCEPT SELECT c FROM t3")
      .reads == Set("t1", "t2", "t3"))
    assert(SqlGate.summarize(spark,
      "SELECT a FROM t1 INTERSECT ALL SELECT b FROM t2").reads == Set("t1", "t2"))
  }

  test("denials apply inside subqueries (TVF in EXISTS)") {
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "SELECT * FROM t1 WHERE EXISTS (SELECT 1 FROM range(5))")
    }
  }

  test("CTE names are scoped lexically: shadowing cannot mask outer reads") {
    // a CTE named like a real table, defined inside a subquery, must not
    // discount the OUTER read of that table (round-3 ADVICE repro)
    assert(SqlGate.summarize(spark,
      "SELECT * FROM secret3 WHERE EXISTS (WITH secret3 AS (SELECT 1 AS k) SELECT k FROM secret3)")
      .reads == Set("secret3"))
    // in-order resolution: a body sees only EARLIER siblings, so `a`'s
    // reference to `b` is the real table, not the later CTE
    assert(SqlGate.summarize(spark,
      "WITH a AS (SELECT * FROM b), b AS (SELECT 1 AS x) SELECT * FROM a")
      .reads == Set("b"))
    // self-reference without RECURSIVE resolves to the real table
    assert(SqlGate.summarize(spark,
      "WITH t AS (SELECT * FROM t) SELECT * FROM t").reads == Set("t"))
    // under WITH RECURSIVE the self-reference IS the CTE (allowRecursion)
    assert(SqlGate.summarize(spark,
      "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r")
      .reads == Set.empty[String])
    // a CTE IS discounted everywhere it is genuinely visible, including
    // subquery expressions in the main body
    assert(SqlGate.summarize(spark,
      "WITH x AS (SELECT * FROM t1) SELECT * FROM x WHERE x.a IN (SELECT a FROM x)")
      .reads == Set("t1"))
  }

  test("CTE shadowing cannot bypass the ACL at execute (ADVICE r3 high)") {
    import spark.implicits._
    Seq((1, "p")).toDF("k", "v").createOrReplaceTempView("pub3")
    Seq((1, "s")).toDF("k", "v").createOrReplaceTempView("secret3")
    intercept[SqlGate.Denied] {
      SqlGate.execute(spark,
        "SELECT * FROM secret3 WHERE EXISTS (WITH secret3 AS (SELECT 1 AS k) SELECT k FROM secret3)",
        Set("pub3", "secret3"), t => t != "secret3")
    }
  }

  test("script transforms denied (TRANSFORM ... USING runs arbitrary processes)") {
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark,
        "SELECT TRANSFORM(k) USING 'touch /tmp/x' AS (out STRING) FROM t1")
    }
    // and inside a subquery / CTE body
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark,
        "WITH x AS (SELECT TRANSFORM(k) USING 'id' AS (o STRING) FROM t1) SELECT * FROM x")
    }
  }

  test("dynamic-resolution nodes denied: EXECUTE IMMEDIATE and IDENTIFIER()") {
    // both decide what they read during ANALYSIS — after the parsed-
    // plan walk — so an allow would bypass the read-set entirely
    // (summarize used to report reads=Set() while the query executed)
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "EXECUTE IMMEDIATE 'SELECT * FROM secret4'")
    }
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "SELECT * FROM IDENTIFIER('secret4')")
    }
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark, "SELECT * FROM IDENTIFIER('sec' || 'ret4')")
    }
    // and inside a subquery
    intercept[SqlGate.Denied] {
      SqlGate.summarize(spark,
        "SELECT * FROM pub WHERE x IN (SELECT y FROM IDENTIFIER('secret4'))")
    }
  }

  test("subquery reads enforced at execute (no authorization bypass)") {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("pub2")
    Seq((1, "s")).toDF("k", "v").createOrReplaceTempView("secret2")
    intercept[SqlGate.Denied] {
      SqlGate.execute(spark,
        "SELECT * FROM pub2 WHERE k IN (SELECT k FROM secret2)", Set("pub2"))
    }
    intercept[SqlGate.Denied] {
      SqlGate.execute(spark,
        "SELECT * FROM pub2 WHERE k IN (SELECT k FROM secret2)",
        Set("pub2", "secret2"), t => t != "secret2")
    }
  }

  test("unknown tables and ACL enforced at execute") {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("known")
    val df = SqlGate.execute(spark, "SELECT k FROM known", Set("known"))
    assert(df.count() == 1)
    intercept[SqlGate.Denied] {
      SqlGate.execute(spark, "SELECT * FROM mystery", Set("known"))
    }
    intercept[SqlGate.Denied] {
      SqlGate.execute(spark, "SELECT k FROM known", Set("known"), _ => false)
    }
  }

  // ---- SqlGate.run: the whole /sql flow over a catalog ----

  private def csvFile(text: String): String = {
    val f = Files.createTempFile("sqlgate", ".csv")
    Files.writeString(f, text)
    f.toString
  }

  /** Four entries: Pub v1, Priv v1, and Comp v1 + v2 compacted. */
  private lazy val cat = {
    val c = new Catalog(spark, Files.createTempDirectory("graft-sqlgate-wh").toString)
    val kv = "k,v\n2,a\n2,b\n3,c\n"
    c.ingest("Pub", Ingest.csv(spark, csvFile(kv)), "csv")
    c.ingest("Priv", Ingest.csv(spark, csvFile(kv)), "csv")
    c.ingest("Comp", Ingest.csv(spark, csvFile(kv)), "csv")
    c.ingest("Comp", Ingest.csv(spark, csvFile(kv + "4,d\n")), "csv")
    c.compact("Comp")
    c
  }
  private val notPriv: String => Boolean = _ != "Priv"

  test("run builds one frame for a one-table query; registerViews builds one per entry") {
    assert(cat.entries.size == 4)
    // a view's schema comes from its entry: building frames runs no job
    val one = TestSpark.jobsOf("run-one-table")(SqlGate.run(cat, "SELECT k FROM pub", notPriv))
    assert(one.isEmpty, s"jobs $one")
    val all = TestSpark.jobsOf("register-views")(cat.registerViews())
    assert(all.isEmpty, s"jobs $all")
    // so frames are counted as what a fresh session ends up holding:
    // its temp views, and the distinct frames behind them
    def tempViews(build: Catalog => Any) = {
      val c = new Catalog(spark.newSession(), cat.warehouse)
      build(c)
      c.spark.catalog.listTables().collect().filter(_.isTemporary).map(t =>
        t.name -> c.spark.table(t.name).queryExecution.optimizedPlan).toMap
    }
    // run binds its one frame into the query's plan and registers no temp view
    assert(tempViews(SqlGate.run(_, "SELECT k FROM pub", notPriv)).isEmpty,
      "run registers no temp view")
    assert(relationRoots(SqlGate.run(cat, "SELECT k FROM pub", notPriv)).size == 1)
    val registered = tempViews(_.registerViews())
    assert(registered.keySet == cat.sqlNames.keySet.map(_.toLowerCase))
    assert(registered.values.toSet.size == cat.entries.size, registered.keySet)
  }

  /** Root paths of every file relation a frame's analyzed plan reads,
    * subquery plans included, one per relation leaf.
    */
  private def relationRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).mkString(",")
        case other => fail(s"unexpected relation $other")
      }
    }

  test("run reads the catalog's table, not a session temp view of that name, and leaves it") {
    val session = spark.newSession()
    session.createDataFrame(Seq(("9", "z"))).toDF("k", "v").createOrReplaceTempView("pub")
    val c = new Catalog(session, cat.warehouse)
    val rows = SqlGate.run(c, "SELECT k, v FROM pub ORDER BY k, v", notPriv).collect()
      .map(r => r.get(0).toString -> r.getString(1)).toSeq
    assert(rows == Seq("2" -> "a", "2" -> "b", "3" -> "c"))
    assert(session.table("pub").collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      == Seq("9" -> "z"))
  }

  test("run's analyzed plan reads exactly the views of its authorized reads") {
    val tables = cat.sqlNames.map { case (n, e) => n.toLowerCase -> e }
    for ((q, rows) <- Seq(
        "SELECT a.k, b.v FROM pub a JOIN pub b ON a.k = b.k" -> 5,
        "SELECT * FROM pub WHERE k IN (SELECT k FROM comp_v2 WHERE v = 'd' OR k = 3)" -> 1,
        "WITH priv AS (SELECT * FROM pub) SELECT * FROM priv" -> 3,
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r"
          -> 3,
        "SELECT a.v, b.v FROM comp_v1 a JOIN comp b ON a.k = b.k" -> 5)) {
      val df = SqlGate.run(cat, q, notPriv)
      val views = SqlGate.summarize(spark, q).reads.toSeq.map(t => cat.view(tables(t)))
      assert(relationRoots(df).toSet == views.flatMap(relationRoots).toSet, q)
      assert(df.count() == rows, q)
    }
  }

  test("run serves repeated requests from the memoized views: joins read the same rows") {
    val tables = cat.sqlNames.map { case (n, e) => n.toLowerCase -> e }
    val pairs = Seq("2,a,a", "2,a,b", "2,b,a", "2,b,b", "3,c,c")
    for (q <- Seq(
        // one entry under two names: both bind the same memoized plan
        "SELECT a.k, a.v, b.v AS w FROM pub a JOIN pub_v1 b ON a.k = b.k ORDER BY k, v, w",
        "SELECT p.k, p.v, c.v AS w FROM pub p JOIN comp c ON p.k = c.k ORDER BY k, v, w")) {
      def rows() = SqlGate.run(cat, q, notPriv).collect().map(_.mkString(",")).toSeq
      val reads = SqlGate.summarize(spark, q).reads.toSeq.sorted
      def views() = reads.map(t => cat.view(tables(t)))
      assert(rows() == pairs, q)
      val first = views()
      assert(rows() == pairs, q)
      assert(views().zip(first).forall { case (a, b) => a eq b }, q)
    }
  }

  test("run denies before building any frame: unknown table, missing grant") {
    for (q <- Seq("SELECT * FROM nosuch", "SELECT * FROM pub JOIN priv USING (k)")) {
      val jobs = TestSpark.jobsOf("run-denied") {
        intercept[SqlGate.Denied](SqlGate.run(cat, q, notPriv))
      }
      assert(jobs.isEmpty, s"$q ran jobs $jobs")
    }
  }

  test("run expands DISTINCT ON (k) * from catalog metadata, plain and compacted") {
    val first = Seq("2" -> "a", "3" -> "c")
    for ((table, view, rows) <- Seq(
        ("pub", cat.view("Pub"), first),
        ("comp_v1", cat.view("Comp", 1), first),
        ("comp", cat.view("Comp"), first :+ ("4" -> "d")))) {
      val df = SqlGate.run(cat, s"SELECT DISTINCT ON (k) * FROM $table ORDER BY k, v", notPriv)
      assert(df.columns.toSeq == view.columns.toSeq, table)
      assert(df.select("k", "v").collect().map(r => r.get(0).toString -> r.getString(1)).toSeq
        == rows, table)
    }
  }

  test("concurrent run over two catalogs never reads the other catalog's view") {
    // both catalogs name a source `t`, so both register the temp view
    // `t` on the one shared session; a request must analyze its query
    // against the frame it registered, not the other request's
    def catalogWith(v: String) = {
      val c = new Catalog(spark, Files.createTempDirectory("graft-sqlgate-race").toString)
      c.ingest("t", Ingest.csv(spark, csvFile(s"k,v\n2,$v\n")), "csv")
      c
    }
    val cats = Seq("alpha" -> catalogWith("alpha"), "beta" -> catalogWith("beta"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (cats ++ cats).map { case (want, c) =>
        pool.submit(() => (1 to 200).flatMap { _ =>
          SqlGate.run(c, "SELECT v FROM t", _ => true).collect().map(_.getString(0))
            .filter(_ != want)
        })
      }
      val wrong = runs.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"${wrong.size} of ${runs.size * 200} reads saw the other catalog's row")
    } finally pool.shutdownNow()
  }
}
