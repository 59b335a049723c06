package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

/** Seeded input generator. Every file the benchmark uploads, and every
  * answer it expects, comes from here: the same seed gives the same
  * bytes (checked through `Inputs.hash`), and expected answers are
  * computed from the generated rows without Spark.
  */
object Gen {

  /** A row of a dimension-style source: every inferred type appears. */
  final case class Dim(id: Int, grp: String, qty: Int, cents: Long, flag: Boolean,
                       label: String, ts: String) {
    def price: Double = cents / 100.0
  }
  val dimHeader: Seq[String] = Seq("id", "grp", "qty", "price", "flag", "label", "ts")
  val dimTypes: Seq[String] =
    Seq("INTEGER", "TEXT", "INTEGER", "DOUBLE PRECISION", "BOOLEAN", "TEXT", "TEXT")

  /** A row of the fact source; `sid` joins to dimension ids. */
  final case class Fact(fid: Int, sid: Int, grp: String, amount: Int, cents: Long) {
    def price: Double = cents / 100.0
  }
  val factHeader: Seq[String] = Seq("fid", "sid", "grp", "amount", "price")
  val factTypes: Seq[String] = Seq("INTEGER", "INTEGER", "TEXT", "INTEGER", "DOUBLE PRECISION")

  final case class Doc(user: String, n: Int, score: Long, tags: Seq[String])

  /** Ids are drawn from one shared range so dimension joins match. */
  val IdLo = 100
  val IdSpan = 6000

  private def price(r: Random): Long = 100L + r.nextInt(99900) // 1.00 .. 999.99
  private def fmtCents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
  private def word(r: Random): String =
    (1 to 3 + r.nextInt(5)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  private def ts(r: Random): String = {
    val day = r.nextInt(365)
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
    f"$d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
  }

  def dims(r: Random, n: Int): Vector[Dim] = {
    val ids = r.shuffle((IdLo until IdLo + IdSpan).toVector).take(n)
    ids.map(id => Dim(id, f"g${r.nextInt(20)}%02d", 10 + r.nextInt(990), price(r),
      r.nextBoolean(), word(r), ts(r)))
  }

  def facts(r: Random, n: Int, fidBase: Int): Vector[Fact] =
    Vector.tabulate(n)(i => Fact(fidBase + i, IdLo + r.nextInt(IdSpan), f"g${r.nextInt(20)}%02d",
      10 + r.nextInt(99990), price(r)))

  def docs(r: Random, n: Int): Vector[Doc] =
    Vector.fill(n)(Doc(f"u${r.nextInt(12)}%02d", 10 + r.nextInt(990), price(r),
      Seq.fill(1 + r.nextInt(3))(word(r))))

  def dimCsv(rows: Seq[Dim], sep: Char = ','): Array[Byte] = {
    val sb = new StringBuilder(rows.size * 48)
    sb.append(dimHeader.mkString(sep.toString)).append('\n')
    rows.foreach { d =>
      sb.append(d.id).append(sep).append(d.grp).append(sep).append(d.qty).append(sep)
        .append(fmtCents(d.cents)).append(sep).append(d.flag).append(sep)
        .append(d.label).append(sep).append(d.ts).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  def factCsv(rows: Seq[Fact]): Array[Byte] = {
    val sb = new StringBuilder(rows.size * 40)
    sb.append(factHeader.mkString(",")).append('\n')
    rows.foreach { f =>
      sb.append(f.fid).append(',').append(f.sid).append(',').append(f.grp).append(',')
        .append(f.amount).append(',').append(fmtCents(f.cents)).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  def docJson(rows: Seq[Doc]): Array[Byte] = {
    val sb = new StringBuilder(rows.size * 80)
    rows.foreach { d =>
      sb.append(s"""{"user":"${d.user}","n":${d.n},"score":${fmtCents(d.score)},""")
        .append(d.tags.map(t => "\"" + t + "\"").mkString("\"tags\":[", ",", "]}")).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Downloaded CSV lines of a dimension source, minus the leading ix. */
  def dimLines(rows: Seq[Dim]): Seq[Seq[String]] =
    rows.map(d => Seq(d.id.toString, d.grp, d.qty.toString, d.price.toString,
      d.flag.toString, d.label, d.ts))

  def epoch(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T')).toEpochSecond(java.time.ZoneOffset.UTC)
}

/** Accumulates the SHA-256 of every generated input, in generation order. */
final class Inputs {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private var n = 0L
  def add(name: String, bytes: Array[Byte]): Array[Byte] = {
    md.update(name.getBytes(UTF_8)); md.update(bytes); n += bytes.length; bytes
  }
  def bytes: Long = n
  def hash: String = md.clone().asInstanceOf[java.security.MessageDigest].digest()
    .map(b => f"$b%02x").mkString
}

/** Answer comparison. Numbers compare with a relative tolerance, since
  * Spark may print an integral double or a decimal differently.
  */
object Check {
  def fieldEq(a: String, b: String): Boolean =
    a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => false
    })

  def rowsEq(got: Seq[Seq[String]], want: Seq[Seq[String]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (x, y) => fieldEq(x, y) }
    }

  /** First difference, for failure notes. */
  def diff(got: Seq[Seq[String]], want: Seq[Seq[String]]): String =
    if (got.size != want.size) s"${got.size} rows, expected ${want.size}"
    else got.zip(want).collectFirst {
      case (g, w) if !(g.size == w.size && g.zip(w).forall { case (x, y) => fieldEq(x, y) }) =>
        s"row ${g.mkString(",")} expected ${w.mkString(",")}"
    }.getOrElse("equal")

  def csvRows(lines: Seq[String]): Seq[Seq[String]] = lines.map(_.split(",", -1).toSeq)
}
