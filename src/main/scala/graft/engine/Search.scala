package graft.engine

import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.Locale
import scala.util.Try
import org.apache.spark.sql.DataFrame

/** Catalog search (SURVEY.md §2.B, S1–S9): a pure function over the
  * catalog's entry list, evaluated on the driver — no Spark job.
  *
  * `SourcesSpec` mirrors src/interface/src/Lagoon/Interface/SourceInfo.hs:178-226;
  * the filter semantics mirror DB/SourceInfo.hs:214-331 (substring filters
  * are case-insensitive contains; users OR-fold, tags/columns AND-fold;
  * date range on `created`, compared as UTC instants; deprecated excluded
  * by default; `readableBy` keeps what [[Acl.State.canRead]] allows).
  *
  * TsQuery is lagoon's tiny full-text query language
  * (Interface/TsQuery.hs:42-199): lexemes with prefix-match semantics,
  * `|` / `&` / juxtaposition-as-AND / `!` / `label:term`, precedence
  * | < & < juxt < ! < :, parentheses, and local error recovery (any
  * string parses; unparseable pieces vanish). Labels pick the field
  * (name/tag/column/description/user — Schema.hs:560-573); we evaluate
  * the query against each entry's lower-cased `[^a-z0-9]+` tokens
  * instead of a Postgres tsquery.
  */
object Search {

  // ---------------- TsQuery AST + parser ----------------

  sealed trait Ts
  final case class TsLexeme(s: String) extends Ts
  final case class TsOr(a: Ts, b: Ts) extends Ts
  final case class TsAnd(a: Ts, b: Ts) extends Ts
  final case class TsNot(a: Ts) extends Ts
  final case class TsLabel(label: String, q: Ts) extends Ts
  case object TsError extends Ts // internal recovery marker

  /** Error-recovering recursive-descent parser (parseExpr,
    * TsQuery.hs:135-190). Returns TsLexeme("") for wholly-empty input,
    * like tsQueryFromString.
    */
  def parse(input: String): Ts = {
    val p = new Parser(input)
    p.skipWs()
    val q = p.parseP1(inParens = false)
    collapse(q).getOrElse(TsLexeme(""))
  }

  /** Drop error terms, keeping whatever parsed (ignoreError, TsQuery.hs:103-125). */
  private def collapse(q: Ts): Option[Ts] = q match {
    case TsError        => None
    case l: TsLexeme    => Some(l)
    case TsOr(a, b)     => binop(TsOr, a, b)
    case TsAnd(a, b)    => binop(TsAnd, a, b)
    case TsNot(a)       => collapse(a).map(TsNot)
    case TsLabel(l, a)  => collapse(a).map(TsLabel(l, _))
  }
  private def binop(f: (Ts, Ts) => Ts, a: Ts, b: Ts): Option[Ts] =
    (collapse(a), collapse(b)) match {
      case (Some(x), Some(y)) => Some(f(x, y))
      case (x, y)             => x.orElse(y)
    }

  private final class Parser(s: String) {
    var i = 0
    def eof: Boolean = i >= s.length
    def peek: Char = s.charAt(i)
    def skipWs(): Unit = { while (!eof && peek.isWhitespace) i += 1 }
    private def lexemeChar(c: Char) = c.isLetterOrDigit

    def parseIdent(): Option[String] = {
      val start = i
      while (!eof && lexemeChar(peek)) i += 1
      if (i == start) None
      else { val r = s.substring(start, i); skipWs(); Some(r) }
    }

    // P1: '|' alternatives
    def parseP1(inParens: Boolean): Ts = {
      var acc = parseP2(inParens)
      while (!eof && peek == '|') { i += 1; skipWs(); acc = TsOr(acc, parseP2(inParens)) }
      acc
    }
    // P2: '&'
    def parseP2(inParens: Boolean): Ts = {
      var acc = parseP3(inParens)
      while (!eof && peek == '&') { i += 1; skipWs(); acc = TsAnd(acc, parseP3(inParens)) }
      acc
    }
    // P3: juxtaposition = AND (one or more P4 terms)
    def parseP3(inParens: Boolean): Ts = {
      var acc = parseP4(inParens)
      var continue = true
      while (continue && !eof && peek != '|' && peek != '&' && !(inParens && peek == ')')) {
        val before = i
        val nxt = parseP4(inParens)
        if (i == before) continue = false // no progress: stop
        else acc = TsAnd(acc, nxt)
      }
      acc
    }
    // P4: '!'
    def parseP4(inParens: Boolean): Ts =
      if (!eof && peek == '!') { i += 1; skipWs(); TsNot(parseP5(inParens)) }
      else parseP5(inParens)
    // P5: label ':' term
    def parseP5(inParens: Boolean): Ts = {
      val save = i
      parseIdent() match {
        case Some(id) if !eof && peek == ':' =>
          i += 1; skipWs(); TsLabel(id, parseTerm(inParens))
        case Some(id) => TsLexeme(id)
        case None => parseTerm(inParens)
      }
    }
    def parseTerm(inParens: Boolean): Ts = {
      if (eof) TsError
      else if (peek == '(') {
        i += 1; skipWs()
        val q = parseP1(inParens = true)
        if (!eof && peek == ')') { i += 1; skipWs() } // closing paren optional
        q
      } else parseIdent() match {
        case Some(id) => TsLexeme(id)
        case None =>
          // unknown char: consume one and recover (TsQuery.hs:176-177)
          if (!eof && !"&|!(".contains(peek) && !(inParens && peek == ')')) { i += 1; skipWs() }
          TsError
      }
    }
  }

  // ---------------- TsQuery evaluation ----------------

  private def lc(s: String): String = s.toLowerCase(Locale.ROOT)
  private def tokens(s: String): Seq[String] = lc(s).split("[^a-z0-9]+").toSeq

  /** Tokens searched per label (fulltextWeights, Schema.hs:560-573: weights
    * only select fields, no ranking); unlabeled lexemes match ANY field. */
  private def fieldTokens(e: SourceEntry, label: Option[String]): Seq[String] = label match {
    case Some("name")        => tokens(e.name)
    case Some("description") => tokens(e.description)
    case Some("user")        => tokens(e.addedBy)
    case Some("tag")         => tokens(e.tags.mkString(" "))
    case Some("column")      => tokens(e.friendlyNames.mkString(" "))
    case _ => Seq("name", "description", "user", "tag", "column")
      .flatMap(l => fieldTokens(e, Some(l)))
  }

  /** Lexemes are prefix matches (`:*`, Util/PostgreSQL/TsQuery.hs:50). */
  def matches(q: Ts, e: SourceEntry, label: Option[String] = None): Boolean = q match {
    case TsLexeme("") | TsError => true
    case TsLexeme(l)   => fieldTokens(e, label).exists(_.startsWith(lc(l)))
    case TsOr(a, b)    => matches(a, e, label) || matches(b, e, label)
    case TsAnd(a, b)   => matches(a, e, label) && matches(b, e, label)
    case TsNot(a)      => !matches(a, e, label)
    case TsLabel(l, a) => matches(a, e, Some(l))
  }

  // ---------------- SourcesSpec ----------------

  /** Dataset-search spec (SourceInfo.hs:178-226). */
  final case class SourcesSpec(
      offset: Option[Int] = None,
      limit: Option[Int] = None,
      sortBy: Seq[(String, Boolean)] = Seq.empty, // (field, ascending)
      filterIx: Option[Long] = None,
      filterName: Option[String] = None,
      filterDescription: Option[String] = None,
      filterCreatedAfter: Option[String] = None,
      filterCreatedBefore: Option[String] = None,
      filterUsers: Seq[String] = Seq.empty,       // OR
      filterTags: Seq[String] = Seq.empty,        // AND
      filterColumns: Seq[String] = Seq.empty,     // AND
      searchQuery: Option[String] = None,         // TsQuery string
      includeDeprecated: Boolean = false,
      readableBy: Option[String] = None)          // "" = the anonymous principal

  /** An ISO-8601 instant, date-time or date, read in UTC: the one parser
    * for `created` values (checked at ingest) and the date bounds.
    * Compared as instants, not strings: `created` values mix precision
    * ("...T00:00:00Z" vs Instant.now's "...T00:00:00.123Z"), and
    * lexicographically ".123Z" sorts BEFORE "Z" while being later.
    */
  def instant(s: String): Instant = {
    val t = s.trim.replace(' ', 'T')
    Try(OffsetDateTime.parse(t).toInstant)
      .orElse(Try(LocalDateTime.parse(t).toInstant(ZoneOffset.UTC)))
      .orElse(Try(LocalDate.parse(t).atStartOfDay(ZoneOffset.UTC).toInstant))
      .getOrElse(throw new IllegalArgumentException(s"not an ISO-8601 date or instant: $s"))
  }

  private def by[K: Ordering](k: SourceEntry => K): Ordering[SourceEntry] = Ordering.by(k)

  /** Sortable fields, matched case-insensitively. */
  private val sortFields: Map[String, Ordering[SourceEntry]] = Map(
    "ix" -> by(_.ix), "name" -> by(_.name), "version" -> by(_.version),
    "created" -> by(e => instant(e.created)), "addedby" -> by(_.addedBy),
    "description" -> by(_.description), "deprecated" -> by(_.deprecated),
    "kind" -> by(_.kind), "rowcount" -> by(_.rowCount), "viewname" -> by(_.viewName))

  /** The entries a spec's filters keep (S3–S8), in catalog order. */
  private def hits(entries: Seq[SourceEntry], spec: SourcesSpec,
                   acl: Option[Acl.State]): Seq[SourceEntry] = {
    // S8 (cachedcanread, Schema.hs:468-493); fail CLOSED: a readability
    // filter without an ACL must never silently return everything
    val st = spec.readableBy.map(u => acl.getOrElse(throw new IllegalArgumentException(
      s"readableBy=$u requires an ACL; refusing to fail open")))
    val (after, before) = (spec.filterCreatedAfter.map(instant), spec.filterCreatedBefore.map(instant))
    val query = spec.searchQuery.map(parse)
    def icontains(s: String, x: String) = lc(s).contains(lc(x))
    def inRange(t: => Instant) = after.forall(!t.isBefore(_)) && before.forall(!t.isAfter(_))
    entries.filter { e =>
      spec.filterIx.forall(_ == e.ix) &&
      spec.filterName.forall(icontains(e.name, _)) &&
      spec.filterDescription.forall(icontains(e.description, _)) &&
      inRange(instant(e.created)) &&
      (spec.filterUsers.isEmpty || spec.filterUsers.exists(icontains(e.addedBy, _))) &&
      spec.filterTags.forall(icontains(e.tags.mkString(" "), _)) &&
      spec.filterColumns.forall(icontains(e.friendlyNames.mkString(" "), _)) &&
      query.forall(matches(_, e)) &&
      (spec.includeDeprecated || !e.deprecated) &&
      // "" is the anonymous principal
      st.forall(_.canRead(spec.readableBy.filter(_.nonEmpty), e.name))
    }
  }

  /** Apply a spec to the catalog entries (S1–S8): filter, stable sort,
    * then offset and limit.
    */
  def apply(entries: Seq[SourceEntry], spec: SourcesSpec,
            acl: Option[Acl.State] = None): Seq[SourceEntry] = {
    require(spec.offset.forall(_ >= 0) && spec.limit.forall(_ >= 0), "offset and limit must be >= 0")
    val ord = spec.sortBy.map { case (f, asc) =>
      val o = sortFields.getOrElse(lc(f), throw new IllegalArgumentException(s"unknown sort field: $f"))
      if (asc) o else o.reverse
    }.reduceOption(_ orElse _).getOrElse(by(_ => 0))
    hits(entries, spec, acl).sorted(ord)
      .drop(spec.offset.getOrElse(0)).take(spec.limit.getOrElse(Int.MaxValue))
  }

  /** S9: count with the same filters (X-Total-Count). */
  def count(entries: Seq[SourceEntry], spec: SourcesSpec,
            acl: Option[Acl.State] = None): Long = hits(entries, spec, acl).size.toLong

  // ---------------- frame adapters (perfbench only) ----------------

  /** Frame forms of [[apply]] and [[count]], kept only for perfbench's
    * direct routes: they collect the catalog frame and the `(usr,
    * sourcename)` read-cache ([[Acl.State.canReadDf]]) on the driver and
    * run the list form. Both are local relations, so no Spark job runs.
    */
  def apply(catalog: DataFrame, spec: SourcesSpec, canRead: Option[DataFrame]): DataFrame = {
    val spark = catalog.sparkSession
    import spark.implicits._
    val (es, s) = readableRows(catalog, spec, canRead)
    apply(es, s).toDS().toDF()
  }

  def count(catalog: DataFrame, spec: SourcesSpec, canRead: Option[DataFrame]): Long = {
    val (es, s) = readableRows(catalog, spec, canRead)
    count(es, s)
  }

  /** The catalog's entries, kept to the pairs of `spec.readableBy` when a
    * read-cache is given (readableBy without one fails closed in the list form).
    */
  private def readableRows(catalog: DataFrame, spec: SourcesSpec,
                           canRead: Option[DataFrame]): (Seq[SourceEntry], SourcesSpec) = {
    val spark = catalog.sparkSession
    import spark.implicits._
    val es = catalog.as[SourceEntry].collect().toSeq
    (spec.readableBy, canRead) match {
      case (Some(u), Some(pairs)) =>
        val names = pairs.as[(String, String)].collect().collect { case (`u`, n) => n }.toSet
        (es.filter(e => names.contains(e.name)), spec.copy(readableBy = None))
      case _ => (es, spec)
    }
  }
}
