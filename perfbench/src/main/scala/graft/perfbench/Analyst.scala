package graft.perfbench

import scala.util.Random

import graft.engine.Names
import graft.perfbench.Gen._

/** The catalog state the generator built, and what each principal may read. */
final case class World(
    dims: Map[String, Map[Int, Vector[Dim]]],
    docs: Vector[Doc],
    facts: Vector[Fact],
    views: Map[(String, Int), String],
    publicSources: Set[String],
    grants: Map[String, Set[String]]) {

  /** Latest version; the JSON and fact sources have one. */
  def latest(name: String): Int = dims.get(name).map(_.keys.max).getOrElse(1)
  def sources: Seq[String] = dims.keys.toSeq.sorted ++ Seq(World.DocsName, World.FactName)
  def canRead(u: Option[String], s: String): Boolean =
    publicSources(s) || u.exists(x => x == "root" || grants.getOrElse(x, Set.empty)(s))
  def bare(name: String): String = Names.sanitize(name, "")
  def rowCount(name: String, v: Int): Long =
    dims.get(name).map(_(v).size.toLong).getOrElse(
      if (name == World.DocsName) docs.size.toLong else facts.size.toLong)
  def types(name: String): Seq[String] =
    if (dims.contains(name)) dimTypes else if (name == World.DocsName) Seq("JSON") else factTypes
}

object World {
  val DocsName = "docs.json"
  val FactName = "fact"
}

/** `analyst_sql`: two SQL analysts and one catalog browser in a closed
  * loop against a small, fixed catalog.
  */
object Analyst {
  final case class Sizes(dimRows: Int, docs: Int, facts: Int)
  val sizes = Sizes(dimRows = 2000, docs = 2000, facts = 100000)
  /** The untimed warm-up set-up: same sources and code paths, small. */
  val warmSizes = Sizes(dimRows = 200, docs = 200, facts = 5000)
  val dimNames: Seq[String] = (0 until 3).map(i => s"s$i")
  val privateDims = Set("s1", "s2")
  val grants = Map("alice" -> Set("s1"), "bob" -> Set("s2"))
  val analysts = Seq("alice", "bob")
  /** Length of the traced run's write-churn probe. */
  val ChurnSeconds = 6.0

  /** Uploads the seeded sources, creates the users and grants. */
  def populate(api: Api, seed: Long, inputs: Inputs, sizes: Sizes): World = {
    val r = new Random(seed)
    val views = Map.newBuilder[(String, Int), String]
    def up(name: String, bytes: Array[Byte], public: Boolean): Unit =
      api.upload("root", Upload(name, inputs.add(name, bytes), public)) match {
        case Out.One(s) => views += (s.name, s.version) -> s.viewName
        case o => throw new IllegalStateException(s"setup upload $name: $o")
      }
    analysts.foreach(u => expectDone(api.addUser("root", u, s"$u-pass"), s"add $u"))
    val dims = dimNames.map { n =>
      val v1 = Gen.dims(r, sizes.dimRows)
      up(n, Gen.dimCsv(v1), !privateDims(n))
      n -> Map(1 -> v1)
    }.toMap
    val docs = Gen.docs(r, sizes.docs)
    up(World.DocsName, Gen.docJson(docs), public = true)
    val facts = Gen.facts(r, sizes.facts, 100000)
    up(World.FactName, Gen.factCsv(facts), public = true)
    // a second version of one source
    val versioned = dimNames.take(1).map { n =>
      val v2 = Gen.dims(r, sizes.dimRows)
      up(n, Gen.dimCsv(v2), !privateDims(n))
      n -> (dims(n) + (2 -> v2))
    }.toMap
    grants.foreach { case (u, ss) => ss.foreach(s => expectDone(api.grantRead("root", s, u), s"grant $s")) }
    World(dims ++ versioned, docs, facts, views.result(),
      (dimNames.filterNot(privateDims) ++ Seq(World.DocsName, World.FactName)).toSet, grants)
  }

  def expectDone(o: Out, what: String): Unit = o match {
    case Out.Done() => ()
    case other => throw new IllegalStateException(s"setup $what: $other")
  }

  /** A request plus its expected outcome: a status, or header and rows. */
  final case class Expect(status: Int, header: Seq[String], rows: Seq[Seq[String]])
  def answer(header: Seq[String], rows: Seq[Seq[String]]) = Expect(200, header, rows)
  val success: Expect = answer(Nil, Nil)
  val denied: Expect = Expect(403, Nil, Nil)

  private def sumL(xs: Iterable[Long]): String = xs.sum.toString

  /** SQL analyst request `i` for principal `u`: the template cycles so
    * every run gets the same mix, and every twentieth request reads a
    * source `u` may not read; the seed picks tables and parameters.
    */
  def sqlQuery(w: World, u: String, r: Random, i: Int): (String, Expect) = {
    val readable = dimNames.filter(d => w.canRead(Some(u), d))
    def pickTable(d: String): (String, Vector[Dim]) = {
      val vs = w.dims(d).keys.toSeq.sorted
      if (r.nextBoolean()) (w.bare(d), w.dims(d)(vs.max))
      else { val v = vs(r.nextInt(vs.size)); (w.views((d, v)), w.dims(d)(v)) }
    }
    if (i % 20 == 19) {
      val hidden = dimNames.filterNot(d => w.canRead(Some(u), d))
      val (t, _) = pickTable(hidden(r.nextInt(hidden.size)))
      return (s"SELECT id, qty FROM $t WHERE id = ${IdLo + r.nextInt(IdSpan)}", denied)
    }
    val d = readable(r.nextInt(readable.size))
    val (t, rows) = pickTable(d)
    i % 8 match {
      case 0 =>
        val x = if (r.nextInt(10) < 8) rows(r.nextInt(rows.size)).id else IdLo + r.nextInt(IdSpan)
        (s"SELECT id, grp, qty, price, flag FROM $t WHERE id = $x",
          answer(Seq("id", "grp", "qty", "price", "flag"),
            rows.filter(_.id == x).map(d => Seq(d.id.toString, d.grp, d.qty.toString, d.price.toString, d.flag.toString))))
      case 1 =>
        val g = rows.filter(_.flag).groupBy(_.grp).toSeq.sortBy(_._1)
        (s"SELECT grp, COUNT(*) AS n, SUM(qty) AS q, MAX(price) AS mp FROM $t WHERE flag GROUP BY grp ORDER BY grp",
          answer(Seq("grp", "n", "q", "mp"), g.map { case (k, xs) =>
            Seq(k, xs.size.toString, sumL(xs.map(_.qty.toLong)), xs.map(_.price).max.toString) }))
      case 2 =>
        val others = readable.filter(_ != d)
        val (t2, rows2) = pickTable(others(r.nextInt(others.size)))
        val byId = rows2.map(x => x.id -> x).toMap
        val g = rows.flatMap(a => byId.get(a.id).map(b => (a.grp, b.qty.toLong))).groupBy(_._1).toSeq.sortBy(_._1)
        (s"SELECT a.grp, COUNT(*) AS n, SUM(b.qty) AS q FROM $t a JOIN $t2 b ON a.id = b.id GROUP BY a.grp ORDER BY a.grp",
          answer(Seq("grp", "n", "q"), g.map { case (k, xs) => Seq(k, xs.size.toString, sumL(xs.map(_._2))) }))
      case 3 =>
        val g = rows.groupBy(_.grp).toSeq.sortBy(_._1).map { case (k, xs) =>
          val best = xs.minBy(x => (-x.qty, x.id)); Seq(k, best.id.toString, best.qty.toString) }
        (s"SELECT DISTINCT ON (grp) grp, id, qty FROM $t ORDER BY grp, qty DESC, id",
          answer(Seq("grp", "id", "qty"), g))
      case 4 =>
        val g = w.docs.groupBy(_.user).toSeq.sortBy(_._1)
        (s"SELECT json->>'user' AS u, COUNT(*) AS n, SUM(CAST(json->>'n' AS INT)) AS s FROM ${w.bare(World.DocsName)} " +
          "GROUP BY json->>'user' ORDER BY u",
          answer(Seq("u", "n", "s"), g.map { case (k, xs) => Seq(k, xs.size.toString, sumL(xs.map(_.n.toLong))) }))
      case 5 =>
        val x = IdLo + r.nextInt(IdSpan)
        (s"SELECT id, EXTRACT(EPOCH FROM CAST(ts AS TIMESTAMP)) AS e FROM $t WHERE id BETWEEN $x AND ${x + 60} ORDER BY id",
          answer(Seq("id", "e"), rows.filter(d => d.id >= x && d.id <= x + 60).sortBy(_.id)
            .map(d => Seq(d.id.toString, Gen.epoch(d.ts).toString))))
      case 6 =>
        val th = r.nextInt(90000)
        val g = w.facts.filter(_.amount > th).groupBy(_.grp).toSeq.sortBy(_._1)
        (s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s, MIN(price) AS lo FROM ${w.bare(World.FactName)} " +
          s"WHERE amount > $th GROUP BY grp ORDER BY grp",
          answer(Seq("grp", "n", "s", "lo"), g.map { case (k, xs) =>
            Seq(k, xs.size.toString, sumL(xs.map(_.amount.toLong)), xs.map(_.price).min.toString) }))
      case _ =>
        val flag = rows.map(x => x.id -> x.flag).toMap
        val g = w.facts.flatMap(x => flag.get(x.sid).map(b => (b, x.amount.toLong))).groupBy(_._1).toSeq.sortBy(_._1)
        (s"SELECT d.flag, COUNT(*) AS n, SUM(f.amount) AS s FROM ${w.bare(World.FactName)} f JOIN $t d " +
          "ON f.sid = d.id GROUP BY d.flag ORDER BY d.flag",
          answer(Seq("flag", "n", "s"), g.map { case (k, xs) => Seq(k.toString, xs.size.toString, sumL(xs.map(_._2))) }))
    }
  }

  /** Checks a result against its expectation; returns a failure or None. */
  def judge(out: Out, e: Expect): Option[(Fail.Value, String)] = (out, e.status) match {
    case (Out.Status(c, _), s) if c == s => None
    case (Out.Status(c, m), _) if c >= 500 => Some((Fail.ServerError, s"$c $m"))
    case (Out.Status(c, m), _) => Some((Fail.Unexpected4xx, s"$c $m"))
    case (_, s) if s != 200 => Some((Fail.WrongAnswer, s"succeeded, expected $s"))
    case (Out.Done(), _) => None
    case (Out.Lines(ls), _) =>
      val got = Check.csvRows(ls.drop(1))
      if (ls.headOption.map(_.split(",", -1).toSeq) != Some(e.header))
        Some((Fail.WrongAnswer, s"header ${ls.headOption} expected ${e.header}"))
      else if (!Check.rowsEq(got, e.rows)) Some((Fail.WrongAnswer, Check.diff(got, e.rows)))
      else None
    case (o, _) => Some((Fail.WrongAnswer, s"unexpected result $o"))
  }

  /** One browser request: a search, a source fetch or a small download.
    * Returns the op kind, the call, and the check of its result.
    */
  def browse(w: World, u: Option[String], r: Random, step: Int): (String, Api => Out, Out => Option[(Fail.Value, String)]) = {
    val srcs = w.sources
    step % 3 match {
      case 0 =>
        val filter = if (r.nextBoolean()) Some("s") else None
        val want = srcs.filter(s => w.canRead(u, s) && filter.forall(f => s.contains(f)))
          .map(s => (s, w.latest(s))).sorted
        ("search", _.search(u, filter), {
          case Out.Sources(es, total) =>
            val got = es.map(s => (s.name, s.version)).sorted
            if (got == want && total == want.size) None
            else Some((Fail.WrongAnswer, s"search $filter: $got total=$total, expected $want"))
          case o => judge(o, success)
        })
      case 1 =>
        val hidden = srcs.filterNot(s => w.canRead(u, s))
        val forbid = hidden.nonEmpty && step % 60 == 55
        val s = if (forbid) hidden(r.nextInt(hidden.size)) else {
          val ok = srcs.filter(x => w.canRead(u, x)); ok(r.nextInt(ok.size))
        }
        val v = w.latest(s)
        ("fetch", _.fetch(u, s), {
          case Out.One(x) =>
            if (forbid) Some((Fail.WrongAnswer, s"fetch $s succeeded, expected 403"))
            else if (x.name == s && x.version == v && x.rowCount == w.rowCount(s, v) && x.types == w.types(s)) None
            else Some((Fail.WrongAnswer, s"fetch $s: $x"))
          case o => judge(o, if (forbid) denied else success)
        })
      case _ =>
        val ok = w.dims.keys.toSeq.sorted.filter(d => w.canRead(u, d))
        val d = ok(r.nextInt(ok.size))
        val vs = w.dims(d).keys.toSeq.sorted
        val v = vs(r.nextInt(vs.size))
        val want = Gen.dimLines(w.dims(d)(v)).sortBy(_.head.toInt)
        ("download", _.download(u, d, v), {
          case Out.Lines(ls) =>
            val got = Check.csvRows(ls.drop(1)).map(_.drop(1))
              .sortBy(x => x.headOption.flatMap(_.toIntOption).getOrElse(0))
            if (ls.headOption.contains(("ix" +: Gen.dimHeader).mkString(",")) && Check.rowsEq(got, want)) None
            else Some((Fail.WrongAnswer, s"download $d v$v: ${Check.diff(got, want)}"))
          case o => judge(o, success)
        })
    }
  }

  /** Step indices each client runs in the warm-up, covering its op kinds. */
  def warmupSteps(client: String): Seq[Int] =
    if (client == "browser" || client == "sql-alice") Seq(0) else Nil

  /** The closed-loop clients: two SQL analysts and one browser. */
  def clients(seed: Long, w: World, ctx: Harness.Ctx): Seq[(String, Int => Unit)] = {
    val sqlClients = analysts.zipWithIndex.map { case (u, k) =>
      val r = new Random(seed * 31 + k)
      (s"sql-$u", (i: Int) => {
        val (text, e) = sqlQuery(w, u, r, i + 4 * k)
        ctx.timed("sql")(_.sql(Some(u), text))(judge(_, e))
        ()
      })
    }
    // A browser step is one whole cycle of its op mix (search, fetch and
    // download, anonymous and as alice), so every run times the same mix.
    val br = new Random(seed * 31 + 7)
    val browser = ("browser", (i: Int) => (6 * i until 6 * i + 6).foreach { k =>
      val (kind, call, check) = browse(w, if (k % 2 == 0) None else Some("alice"), br, k / 2)
      ctx.timed(kind)(call)(check)
    })
    sqlClients :+ browser
  }
}
