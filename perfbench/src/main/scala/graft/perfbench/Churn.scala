package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.util.Random

import graft.perfbench.Gen._

/** Write churn beside reads, run inside the traced `analyst_sql` run.
  *
  * One writer uploads, tags, re-types and deletes versions of rolling
  * sources while one reader, on its own thread, fetches, searches and
  * queries the versions the writer has committed. The writer's ops feed
  * the write-path layer metrics; the reader's failures are the
  * catalog's delete-then-rename commit racing with lock-free reads, and
  * are reported as `race.*` counts.
  */
object Churn {
  /** Rolling sources; the extension picks the CSV delimiter (.tsv = tab). */
  val csvSources: Seq[String] = Seq("r0", "r1.tsv")
  val jsonSource = "j2.json"
  val sources: Seq[String] = csvSources :+ jsonSource
  val DeltaRows: (Int, Int) = (1000, 10000)
  val LargeRows = 100000
  val LargeDocs = 20000
  val FirstRows = 2000
  val MaxVersions = 3

  /** A committed version as the reader may check it. */
  final case class Committed(version: Int, view: String, rowCount: Long, types: Seq[String],
                             amountSum: Long)

  /** What the writer has committed: source -> live versions, oldest first. */
  final class State {
    val live = new ConcurrentHashMap[String, Vector[Committed]]()
    def latest(s: String): Committed = live.get(s).last
    def commit(s: String, c: Committed): Unit = live.merge(s, Vector(c), (a, b) => a ++ b)
    def drop(s: String): Committed = {
      val old = live.get(s).head
      live.computeIfPresent(s, (_, v) => v.tail)
      old
    }
  }

  private def factTypesText: Seq[String] = factTypes.map(_ => "TEXT")

  def csvBytes(name: String, rows: Seq[Fact]): Array[Byte] = {
    val b = Gen.factCsv(rows)
    if (name.endsWith(".tsv")) new String(b, "UTF-8").replace(',', '\t').getBytes("UTF-8") else b
  }

  /** Uploads each rolling source's first version. */
  def populate(api: Api, r: Random): State = {
    val st = new State
    sources.foreach { s =>
      val (bytes, sum, types) =
        if (s == jsonSource) (Gen.docJson(Gen.docs(r, FirstRows)), 0L, Seq("JSON"))
        else {
          val f = Gen.facts(r, FirstRows, 100000)
          (csvBytes(s, f), f.map(_.amount.toLong).sum, factTypes)
        }
      api.upload("root", Upload(s, bytes)) match {
        case Out.One(x) if x.rowCount == FirstRows && x.types == types =>
          st.commit(s, Committed(x.version, x.viewName, x.rowCount, x.types, sum))
        case o => throw new IllegalStateException(s"churn upload $s: $o")
      }
    }
    st
  }

  /** Writer step `i`: an upload and its tag. Step i % 5 == 1 re-types a
    * column with `setColumnType`; i % 5 == 3 uploads untyped and promotes
    * with `makeTyped`; i % 10 == 9 uploads a large CSV or JSON file. A
    * source at `MaxVersions` loses its oldest version.
    */
  def writerStep(ctx: Harness.Ctx, st: State, r: Random, i: Int): Unit = {
    val large = i % 10 == 9
    val setType = i % 5 == 1
    val untyped = i % 5 == 3
    val s =
      if (large && (i / 10) % 2 == 1) jsonSource
      else csvSources(r.nextInt(csvSources.size))
    val (bytes, n, sum) =
      if (s == jsonSource) (Gen.docJson(Gen.docs(r, LargeDocs)), LargeDocs.toLong, 0L)
      else {
        val n = if (large) LargeRows else DeltaRows._1 + r.nextInt(DeltaRows._2 - DeltaRows._1)
        val f = Gen.facts(r, n, 100000 + i * 1000)
        (csvBytes(s, f), n.toLong, f.map(_.amount.toLong).sum)
      }
    val wantTypes = if (s == jsonSource) Seq("JSON") else if (untyped) factTypesText else factTypes
    var got: Option[Source] = None
    ctx.timed("ingest")(_.upload("root", Upload(s, bytes, typeInference = !untyped))) {
      case Out.One(x) if x.rowCount == n && x.types == wantTypes => got = Some(x); None
      case Out.One(x) => Some((Fail.WrongAnswer, s"upload $s: rows ${x.rowCount} types ${x.types}, expected $n $wantTypes"))
      case o => Analyst.judge(o, Analyst.success)
    }
    got.foreach { x =>
      var types = x.types
      ctx.timed("tag")(_.tag("root", s, x.version, s"step$i"))(Analyst.judge(_, Analyst.success))
      if (setType && s != jsonSource) {
        // amount: INTEGER -> BIGINT
        ctx.timed("retype")(_.setColumnType("root", s, x.version, 4, "BIGINT"))(
          Analyst.judge(_, Analyst.success))
        types = types.updated(3, "BIGINT")
      } else if (untyped && s != jsonSource) {
        ctx.timed("retype")(_.makeTyped("root", s, x.version)) {
          case Out.One(y) if y.types == factTypes => None
          case Out.One(y) => Some((Fail.WrongAnswer, s"makeTyped $s: ${y.types}"))
          case o => Analyst.judge(o, Analyst.success)
        }
        types = factTypes
      }
      st.commit(s, Committed(x.version, x.viewName, n, types, sum))
      if (st.live.get(s).size >= MaxVersions) {
        val old = st.drop(s)
        ctx.timed("delete")(_.deleteVersion("root", s, old.version))(
          Analyst.judge(_, Analyst.success))
      }
    }
  }

  /** One reader op of `kind` (fetch, search or sql) on a committed version. */
  def readerOp(ctx: Harness.Ctx, st: State, r: Random, kind: String): Unit = {
    val s = sources(r.nextInt(sources.size))
    val c = st.latest(s)
    kind match {
      case "fetch" =>
        ctx.timed("fetch")(_.fetchVersion(None, s, c.version)) {
          case Out.One(x) if x.version == c.version && x.rowCount == c.rowCount && x.types == c.types => None
          case Out.One(x) => Some((Fail.WrongAnswer, s"fetch $s v${c.version}: $x, expected $c"))
          case o => Analyst.judge(o, Analyst.success)
        }
      case "search" =>
        ctx.timed("search")(_.search(None, Some(s))) {
          // the writer may commit a newer version meanwhile
          case Out.Sources(es, total) if es.size == 1 && total == 1 && es.head.name == s &&
              es.head.version >= c.version && es.head.version <= c.version + 1 => None
          case Out.Sources(es, total) =>
            Some((Fail.WrongAnswer, s"search $s: ${es.map(e => (e.name, e.version))} total=$total, expected v${c.version}"))
          case o => Analyst.judge(o, Analyst.success)
        }
      case _ =>
        val cs = if (s == jsonSource) st.latest(csvSources(r.nextInt(csvSources.size))) else c
        ctx.timed("sql")(_.sql(None, s"SELECT COUNT(*) AS n, SUM(amount) AS s FROM ${cs.view}"))(
          Analyst.judge(_, Analyst.answer(Seq("n", "s"), Seq(Seq(cs.rowCount.toString, cs.amountSum.toString)))))
    }
  }

  /** Runs the writer and an HTTP reader side by side for `seconds`. The
    * writer's ops go through `writer` (its recorder and modes); returns
    * the reader's recorder.
    */
  def probe(writer: Harness.Ctx, seed: Long, seconds: Double): Recorder = {
    val r = new Random(seed * 31 + 3)
    val st = populate(writer.apis(Modes.Http), r)
    val reads = new Recorder
    val reader = new Harness.Ctx(false, writer.apis, reads, writer.tracer, Some(Modes.Http))
    val rr = new Random(seed * 31 + 4)
    val kinds = Seq("fetch", "search", "sql")
    ClosedLoop.run(Seq(
      ("churn-writer", (i: Int) => writerStep(writer, st, r, i)),
      ("churn-reader", (i: Int) => readerOp(reader, st, rr, kinds(i % kinds.size)))), seconds)
    reads
  }
}
