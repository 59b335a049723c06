package graft.engine

/** Postgres SELECT-clause compatibility for the /sql facade.
  *
  * The reference's /sql endpoint proxies to Postgres (reference
  * server/src/Lagoon/Server/HandlerM.hs — the query text reaches
  * Postgres verbatim), so clients lean on Postgres-only SELECT forms.
  * Spark SQL rejects them at parse time; the facade rewrites the
  * three that appear in real client code into their Spark spellings
  * before the gate parses the query:
  *
  *  1. `SELECT DISTINCT ON (k1, k2) sel FROM ... ORDER BY k1, k2, o`
  *     — Postgres's keep-first-row-per-group idiom. Rewritten to a
  *     `row_number() OVER (PARTITION BY k1, k2 ORDER BY <order list>)
  *     = 1` filter wrapped in a subquery, with the statement's own
  *     ORDER BY re-applied on the outside (Postgres semantics: the
  *     DISTINCT ON expressions must lead the ORDER BY; the tail picks
  *     the surviving row, and the output is ordered by the full list).
  *     Without an ORDER BY the surviving row is arbitrary in Postgres;
  *     here the window orders by the DISTINCT ON keys, which is at
  *     least deterministic for equal keys-only orderings.
  *
  *  2. `EXTRACT(EPOCH FROM ts)` — Postgres returns fractional seconds
  *     since the epoch; Spark's EXTRACT has no EPOCH field. Rewritten
  *     to `(unix_micros(ts) / 1000000.0)` (exact microsecond precision,
  *     no ANSI-cast dependence).
  *
  *  3. `string_agg(x, sep ORDER BY k)` — the inline-ordered aggregate
  *     form. Spark accepts plain string_agg natively but spells the
  *     ordering WITHIN GROUP; rewritten to
  *     `listagg(x, sep) WITHIN GROUP (ORDER BY k)`.
  *
  *  4. `array_agg(x ORDER BY k ...)` — the inline-ordered ARRAY
  *     aggregate, which has no WITHIN GROUP spelling in Spark at all;
  *     rewritten to transform(sort_array(collect_list(struct(...))))
  *     with per-key null-rank fields (see rewriteOrderedArrayAgg).
  *
  *  5. The regex-match operators `~` `~*` `!~` `!~*` (dbplyr's
  *     str_detect/grepl, SQLAlchemy's .regexp_match()) — rewritten to
  *     regexp_like with an inline (?i) flag for the `*` forms (see
  *     rewriteRegexMatch).
  *
  *  6. Postgres function SPELLINGS with exact Spark equivalents
  *     (strpos, starts_with, array_to_string, array_length,
  *     string_to_array, regexp_replace's 4-arg flag form) — renamed by
  *     [[PgFunctions]], chained last.
  *
  *  7. Day-of-week fields and `date_part`: Spark ACCEPTS
  *     `EXTRACT(DOW ...)` but numbers Sunday = 1 where Postgres says
  *     0 — a silent off-by-one in every dbplyr `wday()` translation;
  *     rewritten to `(dayofweek(x) - 1)`, ISODOW to
  *     `(weekday(x) + 1)`, and `date_part('epoch'/'dow'/'isodow', x)`
  *     to the same lowerings (see rewriteDateFields).
  *
  *  8. Postgres TYPE-NAME spellings in cast positions (`CAST(x AS
  *     TEXT)`, `x::int8`, DOUBLE PRECISION, ...) — renamed by
  *     [[PgTypes]], chained last. (String-LITERAL decoding —
  *     Postgres's literal backslashes vs Spark's escapes — is
  *     [[PgStrings.escape]], applied ONCE by SqlGate.run, not
  *     here: doubling is not idempotent.)
  *
  * Scope notes:
  *
  *  - `DISTINCT ON (k) *` (the exact text dbplyr emits for
  *    `distinct(.keep_all = TRUE)`) is expanded schema-aware: the
  *    facade runs server-side where view schemas are KNOWN, so the
  *    caller passes `schemaOf` (registered name → column list) and the
  *    `*` / `alias.*` select items expand to the table's columns
  *    before the rewrite — recoverable only when the FROM clause is a
  *    single plain table reference (no joins, commas, or subqueries);
  *    anything else is returned UNCHANGED so Spark rejects DISTINCT ON
  *    loudly rather than mis-executing.
  *  - Unaliased computed items get Postgres's own output-name rule
  *    (parse_target.c FigureColname, simplified): a whole-item
  *    function call is named after the function (lowercased), anything
  *    else `?column?` — emitted as a backtick-quoted alias, so
  *    `SELECT DISTINCT ON (k) k, max(v) FROM ...` round-trips with the
  *    names a Postgres user sees. (CASTs are named `?column?` here,
  *    not Postgres's type-name convention — alias them if the name
  *    matters.)
  *  - Positional ORDER BY (`ORDER BY 1, 2 DESC`) resolves against the
  *    select list, as Postgres does; an out-of-range position abandons
  *    the rewrite (unchanged → loud reject) rather than ordering the
  *    window by a constant.
  *  - Set operations (UNION/INTERSECT/EXCEPT) directly under the
  *    DISTINCT ON select are left untouched.
  *  - All scanning is quote-aware ('' escapes, "ident", `ident`) AND
  *    comment-aware (`--` to end-of-line, nesting `/* */`) — an
  *    apostrophe inside a comment must not flip the quote state, and
  *    rewrite trigger text inside comments stays verbatim. Rewrites
  *    re-scan their own output, so nested subqueries each get
  *    rewritten.
  */
object PgSelect {

  def rewrite(sql: String): String = rewrite(sql, _ => None)

  /** `schemaOf`: registered table/view name → its column names, used
    * only to expand `*` under DISTINCT ON. Callers without catalog
    * access pass the default (star queries then stay unchanged and
    * Spark rejects DISTINCT ON loudly).
    */
  def rewrite(sql: String, schemaOf: String => Option[Seq[String]]): String =
    PgTypes.rewrite(PgFunctions.rewrite(rewriteArrayConstructor(
      rewriteRegexMatch(rewriteAnyAllArray(
        rewriteOrderedArrayAgg(rewriteOrderedStringAgg(rewriteDateFields(
          rewriteEpoch(rewriteDistinctOn(sql, schemaOf))))))))))

  // ---------------------------------------------------------------
  // shared quote/comment-aware scanning helpers
  // ---------------------------------------------------------------

  /** Index just past a string/ident literal starting at `i`. */
  private[engine] def skipQuoted(s: String, i: Int): Int = s(i) match {
    case '\'' =>
      var j = i + 1
      while (j < s.length) {
        if (s(j) == '\'' && j + 1 < s.length && s(j + 1) == '\'') j += 2
        else if (s(j) == '\'') return j + 1
        else j += 1
      }
      j
    case q @ ('"' | '`') =>
      var j = i + 1
      while (j < s.length && s(j) != q) j += 1
      math.min(j + 1, s.length)
    case _ => i
  }

  /** Index just past a SQL comment starting at `i` (`--` runs to but
    * not past the newline; `/* */` blocks nest, Postgres-style), or
    * `i` when not at a comment.
    */
  private[engine] def skipComment(s: String, i: Int): Int =
    if (i + 1 < s.length && s(i) == '-' && s(i + 1) == '-') {
      var j = i + 2
      while (j < s.length && s(j) != '\n') j += 1
      j // at the newline (kept as whitespace) or end-of-string
    } else if (i + 1 < s.length && s(i) == '/' && s(i + 1) == '*') {
      var j = i + 2
      var depth = 1
      while (j < s.length && depth > 0) {
        if (j + 1 < s.length && s(j) == '/' && s(j + 1) == '*') { depth += 1; j += 2 }
        else if (j + 1 < s.length && s(j) == '*' && s(j + 1) == '/') { depth -= 1; j += 2 }
        else j += 1
      }
      j
    } else i

  private[engine] def atComment(s: String, i: Int): Boolean =
    i + 1 < s.length &&
      ((s(i) == '-' && s(i + 1) == '-') || (s(i) == '/' && s(i + 1) == '*'))

  /** Skip whitespace AND comments. */
  private[engine] def skipWs(s: String, i0: Int): Int = {
    var i = i0
    var moved = true
    while (moved) {
      moved = false
      while (i < s.length && s(i).isWhitespace) { i += 1; moved = true }
      if (i < s.length && atComment(s, i)) { i = skipComment(s, i); moved = true }
    }
    i
  }

  /** If `frag` ends inside a `--` line comment (no trailing newline),
    * append one so text concatenated after it isn't swallowed by the
    * comment.
    */
  private def closeComment(frag: String): String = {
    var i = 0
    var open = false
    while (i < frag.length) {
      frag(i) match {
        case '\'' | '"' | '`' => i = skipQuoted(frag, i)
        case _ if atComment(frag, i) =>
          val j = skipComment(frag, i)
          open = frag(i) == '-' && j >= frag.length
          i = j
        case _ => i += 1
      }
    }
    if (open) frag + "\n" else frag
  }

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** Does the keyword (letters only, any case) start at position i as
    * a whole word?
    */
  private[engine] def wordAt(s: String, i: Int, w: String): Boolean =
    i + w.length <= s.length &&
      s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !isWordChar(s(i - 1))) &&
      (i + w.length == s.length || !isWordChar(s(i + w.length)))

  /** Split `s` on top-level commas (quote-, comment- and paren-aware).
    * Comments are DROPPED from the pieces (replaced with a space) so a
    * captured item never carries an open line comment into rebuilt
    * query text.
    */
  private[engine] def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); cur.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          i = skipComment(s, i); cur.append(' ')
        case '(' => depth += 1; cur.append('('); i += 1
        case ')' => depth -= 1; cur.append(')'); i += 1
        case ',' if depth == 0 =>
          out += cur.toString; cur.clear(); i += 1
        case c => cur.append(c); i += 1
      }
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  // ---------------------------------------------------------------
  // DISTINCT ON
  // ---------------------------------------------------------------

  /** Index of the last top-level AS in a select item, or -1. */
  private def lastTopAs(item: String): Int = {
    var depth = 0
    var i = 0
    var asAt = -1
    while (i < item.length) {
      item(i) match {
        case '\'' | '"' | '`' => i = skipQuoted(item, i)
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && wordAt(item, i, "AS")) { asAt = i; i += 2 }
          else i += 1
      }
    }
    asAt
  }

  /** Output name of a select item, if recoverable: `expr AS alias`
    * (last top-level AS wins), or the final segment of a bare
    * identifier chain. None → a computed item with no alias (named by
    * Postgres's rule via [[pgName]] instead of abandoning).
    */
  private def itemName(item: String): Option[String] = {
    val asAt = lastTopAs(item)
    if (asAt >= 0) {
      val alias = item.substring(asAt + 2).trim
      if (alias.nonEmpty && alias.forall(isWordChar) && !alias.head.isDigit)
        Some(alias)
      else if (alias.length > 2 && alias.head == '`' && alias.last == '`')
        Some(alias)
      else None
    } else {
      // bare identifier chain a.b.c (with optional `quoted` segments)
      val segs = item.split('.')
      val ok = segs.nonEmpty && segs.forall { seg =>
        val t = seg.trim
        (t.nonEmpty && t.forall(isWordChar) && !t.head.isDigit) ||
          (t.length > 2 && t.head == '`' && t.last == '`')
      }
      if (ok) Some(segs.last.trim) else None
    }
  }

  /** The expression part of a select item (text before the last
    * top-level AS, or the whole item).
    */
  private def itemExpr(item: String): String = {
    val asAt = lastTopAs(item)
    if (asAt >= 0) item.substring(0, asAt).trim else item.trim
  }

  /** Postgres's output-name rule for an UNALIASED computed item
    * (parse_target.c FigureColname, simplified): a function call
    * spanning the whole item is named after the function (unquoted
    * names fold to lowercase); everything else is `?column?`.
    */
  private def pgName(item: String): String = {
    val t = item.trim
    var i = 0
    while (i < t.length && (isWordChar(t(i)) || t(i) == '.')) i += 1
    if (i > 0 && i < t.length && t(i) == '(') {
      var depth = 0
      var j = i
      var end = -1
      while (j < t.length && end < 0) {
        t(j) match {
          case '\'' | '"' | '`' => j = skipQuoted(t, j)
          case '(' => depth += 1; j += 1
          case ')' =>
            depth -= 1
            if (depth == 0) end = j
            j += 1
          case _ => j += 1
        }
      }
      if (end == t.length - 1) t.substring(0, i).split('.').last.toLowerCase
      else "?column?"
    } else "?column?"
  }

  /** Split one ORDER BY item into (expr, direction suffix). */
  private def orderParts(item: String): (String, String) = {
    val t = item.trim
    val up = t.toUpperCase
    var expr = t
    var suffix = ""
    for (tail <- Seq(" NULLS FIRST", " NULLS LAST"))
      if (up.endsWith(tail) && suffix.isEmpty) {
        suffix = tail.trim
        expr = t.substring(0, t.length - tail.length).trim
      }
    val up2 = expr.toUpperCase
    for (dir <- Seq(" ASC", " DESC"))
      if (up2.endsWith(dir)) {
        suffix = (dir.trim + " " + suffix).trim
        expr = expr.substring(0, expr.length - dir.length).trim
      }
    (expr, suffix)
  }

  def rewriteDistinctOn(sql: String): String =
    rewriteDistinctOn(sql, _ => None)

  def rewriteDistinctOn(
      sql: String, schemaOf: String => Option[Seq[String]]): String = {
    var cur = sql
    var guard = 0
    while (guard < 16) {
      rewriteFirstDistinctOn(cur, schemaOf) match {
        case Some(next) => cur = next; guard += 1
        case None => return cur
      }
    }
    cur
  }

  /** Rewrite the first `SELECT DISTINCT ON` in `s`, or None. */
  private def rewriteFirstDistinctOn(
      s: String, schemaOf: String => Option[Seq[String]]): Option[String] = {
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' => i = skipQuoted(s, i)
        case _ if atComment(s, i) => i = skipComment(s, i)
        case c if (c == 's' || c == 'S') && wordAt(s, i, "SELECT") =>
          val r = tryRewriteAt(s, i, schemaOf)
          if (r.isDefined) return r
          i += 6
        case _ => i += 1
      }
    }
    None
  }

  /** The FROM clause's single plain table reference, as
    * (table, optional alias) — None when the clause has joins, commas,
    * subqueries, or anything else that makes `*` unexpandable without
    * real analysis.
    */
  private def simpleFromTable(
      s: String, fromAt: Int, bodyEnd: Int): Option[(String, Option[String])] = {
    val clauseKw =
      Seq("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY")
    val joinish =
      Seq("JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "NATURAL",
        "LATERAL", "ON", "USING", "TABLESAMPLE")
    var i = skipWs(s, fromAt + 4)
    if (i >= bodyEnd) return None
    val tStart = i
    var done = false
    while (!done && i < bodyEnd) {
      s(i) match {
        case '"' | '`' => i = skipQuoted(s, i)
        case c if isWordChar(c) => i += 1
        case '.' => i += 1
        case _ => done = true
      }
    }
    if (i == tStart || s(tStart) == '(') return None
    val table = s.substring(tStart, i)
    var j = skipWs(s, i)
    var alias: Option[String] = None
    if (j < bodyEnd && wordAt(s, j, "AS")) {
      j = skipWs(s, j + 2)
      val aStart = j
      while (j < bodyEnd && isWordChar(s(j))) j += 1
      if (j == aStart) return None
      alias = Some(s.substring(aStart, j))
      j = skipWs(s, j)
    } else if (j < bodyEnd && (s(j).isLetter || s(j) == '_')) {
      val aStart = j
      while (j < bodyEnd && isWordChar(s(j))) j += 1
      val w = s.substring(aStart, j)
      if (clauseKw.exists(_.equalsIgnoreCase(w))) j = aStart
      else if (joinish.exists(_.equalsIgnoreCase(w))) return None
      else { alias = Some(w); j = skipWs(s, j) }
    }
    if (j >= bodyEnd) Some((table, alias))
    else if (s(j) == ',') None
    else if (clauseKw.exists(k => wordAt(s, j, k))) Some((table, alias))
    else None
  }

  private def quoteCol(c: String): String =
    if (c.nonEmpty && c.forall(isWordChar) && !c.head.isDigit) c
    else "`" + c + "`"

  private def tryRewriteAt(
      s: String, selStart: Int,
      schemaOf: String => Option[Seq[String]]): Option[String] = {
    var i = skipWs(s, selStart + 6)
    if (!wordAt(s, i, "DISTINCT")) return None
    i = skipWs(s, i + 8)
    if (!wordAt(s, i, "ON")) return None
    i = skipWs(s, i + 2)
    if (i >= s.length || s(i) != '(') return None
    // matching ) for the key list
    var depth = 0
    val keysStart = i + 1
    var keysEnd = -1
    while (i < s.length && keysEnd < 0) {
      s(i) match {
        case '\'' | '"' | '`' => i = skipQuoted(s, i)
        case _ if atComment(s, i) => i = skipComment(s, i)
        case '(' => depth += 1; i += 1
        case ')' =>
          depth -= 1
          if (depth == 0) keysEnd = i
          i += 1
        case _ => i += 1
      }
    }
    if (keysEnd < 0) return None
    val keys = splitTop(s.substring(keysStart, keysEnd))
    if (keys.isEmpty) return None

    // select list runs to the top-level FROM; then find the clause
    // boundaries: body = FROM..(ORDER BY|LIMIT|OFFSET|end|unbalanced ')')
    var j = keysEnd + 1
    depth = 0
    var fromAt = -1
    while (j < s.length && fromAt < 0) {
      s(j) match {
        case '\'' | '"' | '`' => j = skipQuoted(s, j)
        case _ if atComment(s, j) => j = skipComment(s, j)
        case '(' => depth += 1; j += 1
        case ')' =>
          if (depth == 0) return None // SELECT without FROM inside parens
          depth -= 1; j += 1
        case c =>
          if (depth == 0 && (c == 'f' || c == 'F') && wordAt(s, j, "FROM"))
            fromAt = j
          else j += 1
      }
    }
    if (fromAt < 0) return None
    val items = splitTop(s.substring(keysEnd + 1, fromAt))
    if (items.isEmpty) return None

    // scan clauses after FROM
    j = fromAt
    depth = 0
    var orderAt = -1
    var tailAt = -1 // LIMIT/OFFSET (before or after ORDER BY)
    var stmtEnd = s.length
    var bad = false
    while (j < s.length && stmtEnd == s.length) {
      s(j) match {
        case '\'' | '"' | '`' => j = skipQuoted(s, j)
        case _ if atComment(s, j) => j = skipComment(s, j)
        case '(' => depth += 1; j += 1
        case ')' =>
          if (depth == 0) stmtEnd = j else { depth -= 1; j += 1 }
        case ';' if depth == 0 => stmtEnd = j
        case c =>
          if (depth == 0) {
            if ((c == 'o' || c == 'O') && wordAt(s, j, "ORDER") && orderAt < 0) {
              orderAt = j; j += 5
            } else if ((c == 'l' || c == 'L') && wordAt(s, j, "LIMIT") && tailAt < 0) {
              tailAt = j; j += 5
            } else if ((c == 'o' || c == 'O') && wordAt(s, j, "OFFSET") && tailAt < 0) {
              tailAt = j; j += 6
            } else if (((c == 'u' || c == 'U') && wordAt(s, j, "UNION")) ||
              ((c == 'i' || c == 'I') && wordAt(s, j, "INTERSECT")) ||
              ((c == 'e' || c == 'E') && wordAt(s, j, "EXCEPT"))) {
              bad = true; stmtEnd = j
            } else j += 1
          } else j += 1
      }
    }
    if (bad) return None
    val bodyEnd =
      if (orderAt >= 0) orderAt else if (tailAt >= 0) tailAt else stmtEnd

    // `*` / `alias.*` expansion — schema-aware, single plain table only
    val expanded: Seq[String] =
      if (!items.exists(it => it == "*" || it.endsWith(".*"))) items
      else {
        val src = simpleFromTable(s, fromAt, bodyEnd)
        if (src.isEmpty) return None
        val (table, alias) = src.get
        val tableName = table.replace("`", "").replace("\"", "")
        val cols = schemaOf(tableName)
        if (cols.isEmpty) return None
        val expandedCols = cols.get.map(quoteCol)
        val flat = scala.collection.mutable.ArrayBuffer.empty[String]
        for (it <- items) {
          if (it == "*") flat ++= expandedCols
          else if (it.endsWith(".*")) {
            val q = it.dropRight(2).trim.replace("`", "").replace("\"", "")
            val matches = alias.exists(_.equalsIgnoreCase(q)) ||
              (alias.isEmpty &&
                tableName.split('.').last.equalsIgnoreCase(q))
            if (!matches) return None
            flat ++= expandedCols
          } else flat += it
        }
        flat.toSeq
      }

    val body = closeComment(s.substring(fromAt, bodyEnd).trim)
    val orderItems: Seq[(String, String)] =
      if (orderAt >= 0) {
        val oEnd = if (tailAt >= 0 && tailAt > orderAt) tailAt else stmtEnd
        var k = skipWs(s, orderAt + 5)
        if (!wordAt(s, k, "BY")) return None
        splitTop(s.substring(k + 2, oEnd)).map(orderParts)
      } else Seq.empty
    // positional ORDER BY resolves against the (expanded) select list,
    // Postgres-style; out-of-range → abandon (unchanged, loud reject)
    val orderResolved: Seq[(String, String)] = orderItems.map { case (e, d) =>
      val t = e.trim
      if (t.nonEmpty && t.forall(_.isDigit)) {
        val pos = t.toInt
        if (pos < 1 || pos > expanded.length) return None
        (itemExpr(expanded(pos - 1)), d)
      } else (e, d)
    }
    val tail =
      if (tailAt >= 0) " " + closeComment(s.substring(tailAt, stmtEnd).trim)
      else ""

    // inner select: items (computed-unaliased ones get a __din_cN
    // alias), the ORDER BY expressions as __din_oN, and the window
    val innerParts = scala.collection.mutable.ArrayBuffer.empty[String]
    val outerParts = scala.collection.mutable.ArrayBuffer.empty[String]
    var cIx = 0
    for (it <- expanded) {
      itemName(it) match {
        case Some(n) =>
          innerParts += it
          outerParts += n
        case None =>
          innerParts += s"$it AS __din_c$cIx"
          outerParts += s"__din_c$cIx AS `${pgName(it)}`"
          cIx += 1
      }
    }
    val windowOrder =
      if (orderResolved.nonEmpty)
        orderResolved.map { case (e, d) => (e + " " + d).trim }.mkString(", ")
      else keys.mkString(", ")
    val orderAliases = orderResolved.zipWithIndex.map { case ((e, _), ix) =>
      s"$e AS __din_o$ix"
    }
    val innerItems = (innerParts.toSeq ++ orderAliases :+
      (s"row_number() OVER (PARTITION BY ${keys.mkString(", ")} " +
        s"ORDER BY $windowOrder) AS __din_rn")).mkString(", ")
    val outerOrder =
      if (orderResolved.nonEmpty)
        " ORDER BY " + orderResolved.zipWithIndex.map { case ((_, d), ix) =>
          (s"__din_o$ix " + d).trim
        }.mkString(", ")
      else ""
    val rewritten =
      s"SELECT ${outerParts.mkString(", ")} FROM (SELECT $innerItems $body) __din " +
        s"WHERE __din_rn = 1" + outerOrder + tail
    Some(s.substring(0, selStart) + rewritten + s.substring(stmtEnd))
  }

  // ---------------------------------------------------------------
  // string_agg(x, sep ORDER BY k)
  // ---------------------------------------------------------------

  /** Postgres allows ORDER BY inside an aggregate's argument list;
    * Spark spells the same thing WITHIN GROUP. Spark 4 accepts plain
    * `string_agg(x, sep)` natively (and `listagg ... WITHIN GROUP`),
    * so only the inline-ordered Postgres form needs lowering:
    *
    *   string_agg(x, ',' ORDER BY k DESC)
    *     → listagg(x, ',') WITHIN GROUP (ORDER BY k DESC)
    *
    * Quote- and comment-aware; nested calls handled by re-scanning the
    * rewritten argument text. A string_agg without an inline ORDER BY
    * is left untouched (already valid Spark).
    */
  def rewriteOrderedStringAgg(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val s = sql
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if (c == 's' || c == 'S') && wordAt(s, i, "string_agg") =>
          var j = skipWs(s, i + 10)
          if (j >= s.length || s(j) != '(') { out.append(c); i += 1 }
          else {
            // matching ) and the top-level inline ORDER BY, if any
            val argStart = j + 1
            var depth = 1
            var k = argStart
            var argEnd = -1
            var orderAt = -1
            while (k < s.length && argEnd < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '(' => depth += 1; k += 1
                case ')' =>
                  depth -= 1
                  if (depth == 0) argEnd = k
                  k += 1
                case ch =>
                  if (depth == 1 && orderAt < 0 &&
                    (ch == 'o' || ch == 'O') && wordAt(s, k, "ORDER")) orderAt = k
                  k += 1
              }
            }
            if (argEnd < 0 || orderAt < 0) { out.append(c); i += 1 }
            else {
              val b = skipWs(s, orderAt + 5)
              if (!wordAt(s, b, "BY")) { out.append(c); i += 1 }
              else {
                val args = closeComment(rewriteOrderedStringAgg(
                  s.substring(argStart, orderAt).trim))
                val order = closeComment(rewriteOrderedStringAgg(
                  s.substring(b + 2, argEnd).trim))
                out.append(
                  s"listagg($args) WITHIN GROUP (ORDER BY $order)")
                i = argEnd + 1
              }
            }
          }
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---------------------------------------------------------------
  // EXTRACT(DOW/ISODOW FROM x), date_part('epoch'/'dow'/'isodow', x)
  // ---------------------------------------------------------------

  /** Postgres day-of-week fields and the `date_part` function form.
    *
    * The dangerous one: Spark ACCEPTS `EXTRACT(DOW FROM x)` but
    * numbers days 1–7 with Sunday = 1, while Postgres numbers 0–6
    * with Sunday = 0 — dbplyr's `wday()` translation ships
    * EXTRACT(DOW ...) expecting Postgres numbering, so without this
    * rewrite every weekday is silently off by one (no error, wrong
    * answers — the exact failure class the facade exists to prevent).
    * Lowered to `(dayofweek(x) - 1)`. ISODOW (Monday = 1 … Sunday =
    * 7, which Spark's EXTRACT rejects) lowers to `(weekday(x) + 1)`.
    *
    * `date_part('field', x)` is EXTRACT's function spelling (what
    * SQLAlchemy emits): 'epoch' gets rewriteEpoch's unix_micros
    * lowering, 'dow'/'isodow' the day-of-week corrections above.
    * Every other field ('year', 'month', ...) agrees between the
    * engines and passes through untouched.
    */
  def rewriteDateFields(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val s = sql
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if (c == 'e' || c == 'E') && wordAt(s, i, "EXTRACT") =>
          // EXTRACT ( DOW|ISODOW FROM <expr> )
          var j = skipWs(s, i + 7)
          val parsed: Option[(Boolean, Int)] =
            if (j < s.length && s(j) == '(') {
              j = skipWs(s, j + 1)
              val iso = wordAt(s, j, "ISODOW")
              if (iso || wordAt(s, j, "DOW")) {
                j = skipWs(s, j + (if (iso) 6 else 3))
                if (wordAt(s, j, "FROM")) Some((iso, j + 4)) else None
              } else None
            } else None
          parsed match {
            case Some((iso, exprStart)) =>
              var depth = 1
              var k = exprStart
              var exprEnd = -1
              while (k < s.length && exprEnd < 0) {
                s(k) match {
                  case '\'' | '"' | '`' => k = skipQuoted(s, k)
                  case _ if atComment(s, k) => k = skipComment(s, k)
                  case '(' => depth += 1; k += 1
                  case ')' =>
                    depth -= 1
                    if (depth == 0) exprEnd = k
                    k += 1
                  case _ => k += 1
                }
              }
              if (exprEnd < 0) { out.append(c); i += 1 }
              else {
                val expr = closeComment(rewriteDateFields(
                  s.substring(exprStart, exprEnd).trim))
                out.append(
                  if (iso) s"(weekday($expr) + 1)"
                  else s"(dayofweek($expr) - 1)")
                i = exprEnd + 1
              }
            case None => out.append(c); i += 1
          }
        case c if (c == 'd' || c == 'D') && wordAt(s, i, "date_part") =>
          var j = skipWs(s, i + 9)
          if (j >= s.length || s(j) != '(') { out.append(c); i += 1 }
          else {
            var depth = 0
            var k = j
            var close = -1
            while (k < s.length && close < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '(' => depth += 1; k += 1
                case ')' =>
                  depth -= 1
                  if (depth == 0) close = k
                  k += 1
                case _ => k += 1
              }
            }
            val args =
              if (close < 0) Seq.empty
              else splitTop(s.substring(j + 1, close))
            val field = args.headOption.map(_.trim.toLowerCase).getOrElse("")
            if (args.size == 2 &&
              Seq("'epoch'", "'dow'", "'isodow'").contains(field)) {
              val expr = closeComment(rewriteDateFields(args(1)))
              out.append(field match {
                case "'epoch'" => s"(unix_micros($expr) / 1000000.0)"
                case "'dow'" => s"(dayofweek($expr) - 1)"
                case _ => s"(weekday($expr) + 1)"
              })
              i = close + 1
            } else { out.append(c); i += 1 }
          }
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---------------------------------------------------------------
  // array_agg(x ORDER BY k1 [DESC] [NULLS ...], k2 ...)
  // ---------------------------------------------------------------

  /** Postgres's inline-ordered `array_agg` (what dbplyr emits for
    * `summarise(arr = array_agg(x, order_by))`-style verbs, and
    * SQLAlchemy for `aggregate_order_by`). Spark's array_agg /
    * collect_list has no inline ORDER BY and no WITHIN GROUP form, so
    * the ordering is reconstructed with array functions:
    *
    *   array_agg(x ORDER BY k)
    *     → transform(sort_array(collect_list(struct(<nullrank>, k, x))),
    *                 e -> e.val)
    *
    * Each key contributes a boolean null-rank field ahead of itself so
    * one sort_array direction reproduces Postgres's per-key null
    * placement (ASC defaults NULLS LAST, DESC defaults NULLS FIRST,
    * explicit NULLS FIRST/LAST honored). Because the aggregated value
    * rides INSIDE the struct, NULL values are kept — matching
    * Postgres's array_agg, where collect_list alone would drop them.
    * Ties on the full key list break deterministically by the
    * aggregated value (Postgres leaves them unspecified).
    *
    * Out of scope, left unchanged so Spark rejects the inline ORDER BY
    * loudly: `DISTINCT` inside the aggregate, and key lists mixing ASC
    * and DESC (one sort_array direction can't express both; negating
    * keys would only work for numerics).
    */
  def rewriteOrderedArrayAgg(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val s = sql
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if (c == 'a' || c == 'A') && wordAt(s, i, "array_agg") =>
          var j = skipWs(s, i + 9)
          if (j >= s.length || s(j) != '(') { out.append(c); i += 1 }
          else {
            val argStart = j + 1
            var depth = 1
            var k = argStart
            var argEnd = -1
            var orderAt = -1
            while (k < s.length && argEnd < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '(' => depth += 1; k += 1
                case ')' =>
                  depth -= 1
                  if (depth == 0) argEnd = k
                  k += 1
                case ch =>
                  if (depth == 1 && orderAt < 0 &&
                    (ch == 'o' || ch == 'O') && wordAt(s, k, "ORDER")) orderAt = k
                  k += 1
              }
            }
            val rewriteable = argEnd >= 0 && orderAt >= 0 && {
              val b = skipWs(s, orderAt + 5)
              wordAt(s, b, "BY") &&
                !wordAt(s, skipWs(s, argStart), "DISTINCT")
            }
            if (!rewriteable) { out.append(c); i += 1 }
            else {
              val b = skipWs(s, orderAt + 5)
              val valueItems = splitTop(s.substring(argStart, orderAt))
              val keyItems = splitTop(s.substring(b + 2, argEnd)).map(orderParts)
              // one aggregated expression; uniform sort direction
              val dirs = keyItems.map(_._2.toUpperCase.contains("DESC"))
              if (valueItems.size != 1 || keyItems.isEmpty ||
                dirs.distinct.size > 1) { out.append(c); i += 1 }
              else {
                val desc = dirs.head
                val value = closeComment(
                  rewriteOrderedArrayAgg(valueItems.head))
                val fields = keyItems.zipWithIndex.flatMap {
                  case ((keyExpr0, suffix), ix) =>
                    val keyExpr = closeComment(
                      rewriteOrderedArrayAgg(keyExpr0.trim))
                    val up = suffix.toUpperCase
                    val nullsFirst =
                      if (up.contains("NULLS FIRST")) true
                      else if (up.contains("NULLS LAST")) false
                      else desc // Postgres defaults: ASC→LAST, DESC→FIRST
                    // boolean rank ahead of each key: with sort_array
                    // ascending FALSE<TRUE and descending TRUE<FALSE,
                    // so the IS [NOT] NULL choice below lands nulls on
                    // the requested side in both directions
                    val rank =
                      if (nullsFirst == desc) s"(($keyExpr) IS NULL)"
                      else s"(($keyExpr) IS NOT NULL)"
                    Seq(s"$rank AS __oaa_n$ix", s"($keyExpr) AS __oaa_k$ix")
                }
                val asc = if (desc) "false" else "true"
                out.append(
                  s"transform(sort_array(collect_list(struct(" +
                    fields.mkString(", ") + s", ($value) AS __oaa_v)), $asc), " +
                    "__oaa_e -> __oaa_e.__oaa_v)")
                i = argEnd + 1
              }
            }
          }
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---------------------------------------------------------------
  // Postgres regex-match operators: ~  ~*  !~  !~*
  // ---------------------------------------------------------------

  /** Keywords that can directly precede a unary operator — a "left
    * operand" that is one of these is not an operand at all, so a `~`
    * after it is Spark's unary bitwise-not and must stay untouched.
    */
  private val preOperatorKeywords: Set[String] = Set(
    "select", "where", "and", "or", "not", "when", "then", "else", "end",
    "on", "by", "as", "case", "from", "join", "having", "like", "ilike",
    "in", "is", "between", "distinct", "all", "any", "some", "set",
    "values", "limit", "offset", "union", "intersect", "except", "group",
    "order", "returning", "over", "partition", "filter", "escape")

  /** Postgres's regex-match operators, which dbplyr emits for
    * `str_detect`/`grepl` (`x ~ 'pat'`, `x !~ 'pat'`) and SQLAlchemy
    * for `.regexp_match()`. Spark has no binary `~` (only unary
    * bitwise-not), so the facade lowers the four spellings:
    *
    *   a ~ p   → regexp_like(a, p)                      (find, like PG)
    *   a ~* p  → regexp_like(a, concat('(?i)', p))
    *   a !~ p  → (NOT regexp_like(a, p))
    *   a !~* p → (NOT regexp_like(a, concat('(?i)', p)))
    *
    * Both operands must be recoverable as PRIMARY expressions from the
    * text — a quoted literal, an identifier chain (optionally a
    * function call), or a parenthesized group; anything fancier is
    * left unchanged so Spark rejects the bare `~` loudly rather than
    * guessing operand extents. A `~` after a keyword/operator/comma is
    * unary bitwise-not and stays untouched, as does `~~` (Postgres's
    * internal LIKE spelling — its right-operand parse fails on the
    * second `~`). Spark's regexp_like is a FIND like Postgres's `~`
    * (DuckDB's own `~` is a full match — oracle SQL there uses
    * regexp_matches instead).
    */
  def rewriteRegexMatch(sql: String): String = {
    val s = sql
    val out = new StringBuilder
    // start (in `out`) of the most recently completed primary
    // expression; -1 when the last significant token wasn't one
    var primStart = -1
    var i = 0

    // parse a primary expression at s(j0) (after whitespace/comments);
    // returns (rewrittenText, endIndex) or None
    def parsePrimary(j0: Int): Option[(String, Int)] = {
      val j = skipWs(s, j0)
      if (j >= s.length) None
      else s(j) match {
        case '\'' | '"' | '`' =>
          val e = skipQuoted(s, j)
          Some((s.substring(j, e), e))
        case c if c.isLetter || c == '_' =>
          var e = j
          while (e < s.length && (isWordChar(s(e)) || s(e) == '.')) e += 1
          val word = s.substring(j, e)
          if (e < s.length && s(e) == '(') {
            var depth = 0
            var k = e
            var close = -1
            while (k < s.length && close < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '(' => depth += 1; k += 1
                case ')' =>
                  depth -= 1
                  if (depth == 0) close = k
                  k += 1
                case _ => k += 1
              }
            }
            if (close < 0) None
            else Some((word + "(" + closeComment(rewriteRegexMatch(
              s.substring(e + 1, close))) + ")", close + 1))
          } else if (preOperatorKeywords.contains(word.toLowerCase)) None
          else Some((word, e))
        case '(' =>
          var depth = 0
          var k = j
          var close = -1
          while (k < s.length && close < 0) {
            s(k) match {
              case '\'' | '"' | '`' => k = skipQuoted(s, k)
              case _ if atComment(s, k) => k = skipComment(s, k)
              case '(' => depth += 1; k += 1
              case ')' =>
                depth -= 1
                if (depth == 0) close = k
                k += 1
              case _ => k += 1
            }
          }
          if (close < 0) None
          else Some(("(" + closeComment(rewriteRegexMatch(
            s.substring(j + 1, close))) + ")", close + 1))
        case _ => None
      }
    }

    def atOp(j: Int): Boolean =
      j < s.length &&
        (s(j) == '~' ||
          (s(j) == '!' && j + 1 < s.length && s(j + 1) == '~'))

    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i)
          primStart = out.length
          out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if c.isWhitespace => out.append(c); i += 1
        case _ if atOp(i) && primStart >= 0 =>
          val negate = s(i) == '!'
          var j = i + (if (negate) 2 else 1)
          val ci = j < s.length && s(j) == '*'
          if (ci) j += 1
          parsePrimary(j) match {
            case Some((right, end)) =>
              val left = out.substring(primStart)
              out.setLength(primStart)
              val pat = if (ci) s"concat('(?i)', $right)" else right
              val call = s"regexp_like($left, $pat)"
              val emitted = if (negate) s"(NOT $call)" else call
              primStart = out.length
              out.append(emitted)
              i = end
            case None =>
              out.append(s(i)); i += 1; primStart = -1
          }
        case c if c.isLetter || c == '_' =>
          parsePrimary(i) match {
            case Some((text, end)) =>
              primStart = out.length
              out.append(text); i = end
            case None =>
              // keyword (or unparseable call) — consume the word so the
              // keyword itself can't be mistaken for an operand
              var e = i
              while (e < s.length && (isWordChar(s(e)) || s(e) == '.')) e += 1
              out.append(s.substring(i, e)); i = e
              primStart = -1
          }
        case '(' =>
          parsePrimary(i) match {
            case Some((text, end)) =>
              primStart = out.length
              out.append(text); i = end
            case None => out.append('('); i += 1; primStart = -1
          }
        case ':' if primStart >= 0 && i + 1 < s.length && s(i + 1) == ':' =>
          // Postgres cast shorthand EXTENDS the preceding primary —
          // SQLAlchemy spells col.cast(Text).regexp_match() as
          // `x::text ~ 'pat'`, so the whole `x::text` must stay the
          // left operand; resetting primStart here would split it
          // into `x::regexp_like(text, 'pat')`. Grammar shared with
          // rewriteAnyAllArray via absorbCastSuffix.
          absorbCastSuffix(s, i) match {
            case None => out.append(s(i)); i += 1; primStart = -1
            case Some(end) =>
              out.append(s.substring(i, end)); i = end
              // primStart unchanged: cast is part of the primary
          }
        case c => out.append(c); i += 1; primStart = -1
      }
    }
    out.toString
  }

  /** Shared `::` cast-suffix absorber (used by rewriteRegexMatch AND
    * rewriteAnyAllArray so the two passes cannot diverge on type
    * grammar): given `i` at the first ':' of '::', returns Some(end)
    * one past the full cast — type word, optional second word for the
    * two-word Postgres spellings (double precision, character/bit
    * varying), optional (n[,m]) parameters, any number of []
    * suffixes, and chained '::text::varchar' casts — or None when no
    * type word follows (leave the colons to the caller).
    */
  private def absorbCastSuffix(s: String, i: Int): Option[Int] = {
    val e = skipWs(s, i + 2)
    var we = e
    while (we < s.length && isWordChar(s(we))) we += 1
    if (we == e) return None
    var end = we
    // two-word Postgres type spellings (PgTypes' list)
    Map("double" -> "precision", "character" -> "varying",
        "bit" -> "varying").get(s.substring(e, we).toLowerCase)
      .foreach { second =>
        val j2 = skipWs(s, end)
        var we2 = j2
        while (we2 < s.length && isWordChar(s(we2))) we2 += 1
        if (we2 > j2 && s.substring(j2, we2).toLowerCase == second)
          end = we2
      }
    // optional length/precision parameters: varchar(10)
    val jp = skipWs(s, end)
    if (jp < s.length && s(jp) == '(') {
      var depth = 0; var k = jp; var close = -1
      while (k < s.length && close < 0) {
        s(k) match {
          case '\'' | '"' | '`' => k = skipQuoted(s, k)
          case '(' => depth += 1; k += 1
          case ')' =>
            depth -= 1; if (depth == 0) close = k; k += 1
          case _ => k += 1
        }
      }
      if (close >= 0) end = close + 1
    }
    // optional array suffixes: text[]
    var ja = skipWs(s, end)
    while (ja + 1 < s.length && s(ja) == '[' && s(ja + 1) == ']') {
      end = ja + 2; ja = skipWs(s, end)
    }
    // chained casts: x::text::varchar
    if (end + 1 < s.length && s(end) == ':' && s(end + 1) == ':')
      absorbCastSuffix(s, end).foreach(e2 => end = e2)
    Some(end)
  }

  // ---------------------------------------------------------------
  // <expr> <op> ANY/SOME/ALL (ARRAY[...])  and  ARRAY[...]
  // ---------------------------------------------------------------

  private val anyAllOps: Seq[String] =
    // longest-first so <= wins over <, !~* over !~ over !=
    Seq("<=", ">=", "<>", "!=", "!~*", "!~", "~*", "=", "<", ">", "~")

  /** Postgres's array-comparison quantifiers over an ARRAY literal —
    * the spelling psycopg2/SQLAlchemy clients emit for list
    * membership (`x = ANY (ARRAY['a', 'b'])` is the expanded form of
    * a bound-list `IN`) and dbplyr for vectorized matches
    * (`x ~ ANY (ARRAY[p1, p2])`). Spark has ANY/ALL only for
    * subqueries, so the ARRAY-literal form is lowered to the exact
    * higher-order equivalent, op applied PAIRWISE inside the lambda
    * (Postgres's definition), three-valued logic preserved by
    * exists/forall:
    *
    *   x op ANY/SOME (ARRAY[a, b]) → exists(array(a, b), e -> x op e)
    *   x op ALL      (ARRAY[a, b]) → forall(array(a, b), e -> x op e)
    *
    * op ∈ {=, <>, !=, <, <=, >, >=} stays itself in the lambda; the
    * regex ops lower to (NOT) regexp_like with the inline (?i) —
    * which is also why this pass runs BEFORE rewriteRegexMatch: the
    * regex pass would otherwise read `ANY(...)` as the right-hand
    * primary of `~` and emit an invalid call. ANY/ALL over
    * subqueries or anything that is not literally `(ARRAY[...])` is
    * left unchanged (valid Spark for subqueries; loud reject
    * otherwise). The left operand is recovered like
    * rewriteRegexMatch's: a primary expression with `::` casts
    * absorbed.
    */
  def rewriteAnyAllArray(sql: String): String = {
    val s = sql
    val out = new StringBuilder
    var primStart = -1
    // start of the current OPERATOR CHAIN in `out`: Postgres binds
    // tighter-than-comparison binary ops (||, +, -, *, /, %, ^, &)
    // into the quantifier's left operand — `a || b = ANY (ARRAY[..])`
    // is `(a || b) = ANY (...)`. The chain survives op chars and
    // whitespace between primaries and breaks on anything else, so
    // the trigger can bind the WHOLE chain, not just the last primary
    // (which silently coerced the lambda's boolean into the concat).
    var chainStart = -1
    def isChainOp(c: Char): Boolean = "|+-*/%^&".indexOf(c.toInt) >= 0
    def startPrimary(): Unit = {
      primStart = out.length
      if (chainStart < 0) chainStart = primStart
    }
    var i = 0

    // op candidate at s(i): the longest spelling that matches
    def opAt(j: Int): Option[String] =
      anyAllOps.find(op => s.regionMatches(j, op, 0, op.length))

    // after an op at j: ws ANY|SOME|ALL ws ( ws ARRAY ws [ ... ] ws )
    // returns (quantifier, arrayInner, endIndexAfterCloseParen)
    def parseQuantified(j0: Int): Option[(String, String, Int)] = {
      var j = skipWs(s, j0)
      val quant =
        if (wordAt(s, j, "ANY")) { j += 3; "ANY" }
        else if (wordAt(s, j, "SOME")) { j += 4; "ANY" }
        else if (wordAt(s, j, "ALL")) { j += 3; "ALL" }
        else return None
      j = skipWs(s, j)
      if (j >= s.length || s(j) != '(') return None
      j = skipWs(s, j + 1)
      if (!wordAt(s, j, "ARRAY")) return None
      j = skipWs(s, j + 5)
      if (j >= s.length || s(j) != '[') return None
      var depth = 0
      val innerStart = j + 1
      var innerEnd = -1
      while (j < s.length && innerEnd < 0) {
        s(j) match {
          case '\'' | '"' | '`' => j = skipQuoted(s, j)
          case _ if atComment(s, j) => j = skipComment(s, j)
          case '[' => depth += 1; j += 1
          case ']' =>
            depth -= 1
            if (depth == 0) innerEnd = j
            j += 1
          case _ => j += 1
        }
      }
      if (innerEnd < 0) return None
      j = skipWs(s, innerEnd + 1)
      if (j >= s.length || s(j) != ')') return None
      Some((quant, s.substring(innerStart, innerEnd), j + 1))
    }

    // primary for the LEFT operand — rewriteRegexMatch's shape
    def parsePrimary(j0: Int): Option[(String, Int)] = {
      val j = skipWs(s, j0)
      if (j >= s.length) None
      else s(j) match {
        case '\'' | '"' | '`' =>
          val e = skipQuoted(s, j)
          Some((s.substring(j, e), e))
        case c if c.isLetter || c == '_' =>
          var e = j
          while (e < s.length && (isWordChar(s(e)) || s(e) == '.')) e += 1
          val word = s.substring(j, e)
          if (e < s.length && s(e) == '(') {
            var depth = 0; var k = e; var close = -1
            while (k < s.length && close < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '(' => depth += 1; k += 1
                case ')' =>
                  depth -= 1
                  if (depth == 0) close = k
                  k += 1
                case _ => k += 1
              }
            }
            if (close < 0) None
            else Some((word + "(" + closeComment(rewriteAnyAllArray(
              s.substring(e + 1, close))) + ")", close + 1))
          } else if (preOperatorKeywords.contains(word.toLowerCase)) None
          else Some((word, e))
        case '(' =>
          var depth = 0; var k = j; var close = -1
          while (k < s.length && close < 0) {
            s(k) match {
              case '\'' | '"' | '`' => k = skipQuoted(s, k)
              case _ if atComment(s, k) => k = skipComment(s, k)
              case '(' => depth += 1; k += 1
              case ')' =>
                depth -= 1
                if (depth == 0) close = k
                k += 1
              case _ => k += 1
            }
          }
          if (close < 0) None
          else Some(("(" + closeComment(rewriteAnyAllArray(
            s.substring(j + 1, close))) + ")", close + 1))
        case _ => None
      }
    }

    def predicate(op: String, left: String): String = op match {
      case "~" => s"regexp_like($left, __pg_e)"
      case "~*" => s"regexp_like($left, concat('(?i)', __pg_e))"
      case "!~" => s"(NOT regexp_like($left, __pg_e))"
      case "!~*" => s"(NOT regexp_like($left, concat('(?i)', __pg_e)))"
      case o => s"$left $o __pg_e"
    }

    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i)
          startPrimary()
          out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if c.isWhitespace => out.append(c); i += 1
        case c if primStart >= 0 && opAt(i).isDefined &&
          parseQuantified(i + opAt(i).get.length).isDefined =>
          val op = opAt(i).get
          val (quant, inner, end) =
            parseQuantified(i + op.length).get
          val leftStart = if (chainStart >= 0) chainStart else primStart
          val leftRaw = closeComment(out.substring(leftStart))
          // parenthesize multi-primary chains so the lambda cannot
          // re-associate them around the comparison
          val left = if (leftStart != primStart) s"($leftRaw)" else leftRaw
          out.setLength(leftStart)
          val fn = if (quant == "ANY") "exists" else "forall"
          val arr =
            "array(" + closeComment(rewriteAnyAllArray(inner)) + ")"
          primStart = out.length
          chainStart = primStart
          out.append(s"$fn($arr, __pg_e -> ${predicate(op, left)})")
          i = end
        case c if c.isLetter || c == '_' =>
          parsePrimary(i) match {
            case Some((text, end)) =>
              startPrimary()
              out.append(text); i = end
            case None =>
              var e = i
              while (e < s.length && (isWordChar(s(e)) || s(e) == '.')) e += 1
              out.append(s.substring(i, e)); i = e
              primStart = -1
              chainStart = -1
          }
        case c if c.isDigit =>
          // numeric literal left operands are meaningful here
          // (`3 > ALL (ARRAY[...])`) — unlike the regex pass, the
          // quantified trigger is unambiguous, so numbers qualify
          var e = i
          while (e < s.length && (s(e).isDigit || s(e) == '.')) e += 1
          startPrimary()
          out.append(s.substring(i, e)); i = e
        case '(' =>
          parsePrimary(i) match {
            case Some((text, end)) =>
              startPrimary()
              out.append(text); i = end
            case None =>
              out.append('('); i += 1; primStart = -1; chainStart = -1
          }
        case ':' if primStart >= 0 && i + 1 < s.length && s(i + 1) == ':' =>
          // absorb the cast like rewriteRegexMatch — SAME grammar via
          // absorbCastSuffix, so two-word types ('double precision',
          // 'character varying') and 'type[]' suffixes can't diverge
          // between the two passes (r16 advice)
          absorbCastSuffix(s, i) match {
            case None =>
              out.append(s(i)); i += 1; primStart = -1; chainStart = -1
            case Some(end) =>
              out.append(s.substring(i, end)); i = end
          }
        case c =>
          out.append(c); i += 1; primStart = -1
          if (!isChainOp(c)) chainStart = -1
      }
    }
    out.toString
  }

  /** Standalone Postgres `ARRAY[...]` constructors (SQLAlchemy's
    * postgresql.array literal) → Spark's `array(...)`. Runs AFTER
    * rewriteAnyAllArray has consumed the quantified forms; bare
    * subscripts (`arr[1]`) have no ARRAY keyword and pass through,
    * as does `ARRAY(subquery)` (no bracket — left for Spark's loud
    * reject). Nested constructors rewrite recursively.
    */
  def rewriteArrayConstructor(sql: String): String = {
    val s = sql
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if (c == 'a' || c == 'A') && wordAt(s, i, "ARRAY") =>
          val j = skipWs(s, i + 5)
          if (j < s.length && s(j) == '[') {
            var depth = 0; var k = j; var close = -1
            while (k < s.length && close < 0) {
              s(k) match {
                case '\'' | '"' | '`' => k = skipQuoted(s, k)
                case _ if atComment(s, k) => k = skipComment(s, k)
                case '[' => depth += 1; k += 1
                case ']' =>
                  depth -= 1
                  if (depth == 0) close = k
                  k += 1
                case _ => k += 1
              }
            }
            if (close < 0) { out.append(s.substring(i)); i = s.length }
            else {
              out.append("array(").append(closeComment(
                rewriteArrayConstructor(s.substring(j + 1, close))))
                .append(')')
              i = close + 1
            }
          } else { out.append(s.substring(i, i + 5)); i += 5 }
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---------------------------------------------------------------
  // EXTRACT(EPOCH FROM x)
  // ---------------------------------------------------------------

  def rewriteEpoch(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val s = sql
    while (i < s.length) {
      s(i) match {
        case '\'' | '"' | '`' =>
          val j = skipQuoted(s, i); out.append(s.substring(i, j)); i = j
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case c if (c == 'e' || c == 'E') && wordAt(s, i, "EXTRACT") =>
          // EXTRACT ( EPOCH FROM <expr> )
          var j = skipWs(s, i + 7)
          var ok = j < s.length && s(j) == '('
          if (ok) {
            j = skipWs(s, j + 1)
            ok = wordAt(s, j, "EPOCH")
            if (ok) {
              j = skipWs(s, j + 5)
              ok = wordAt(s, j, "FROM")
              if (ok) {
                j += 4
                val exprStart = j
                var depth = 1
                var exprEnd = -1
                while (j < s.length && exprEnd < 0) {
                  s(j) match {
                    case '\'' | '"' | '`' => j = skipQuoted(s, j)
                    case _ if atComment(s, j) => j = skipComment(s, j)
                    case '(' => depth += 1; j += 1
                    case ')' =>
                      depth -= 1
                      if (depth == 0) exprEnd = j
                      j += 1
                    case _ => j += 1
                  }
                }
                if (exprEnd >= 0) {
                  val expr = s.substring(exprStart, exprEnd).trim
                  // recurse: the operand may itself contain EXTRACT(EPOCH..)
                  out.append(
                    s"(unix_micros(${closeComment(rewriteEpoch(expr))}) / 1000000.0)")
                  i = exprEnd + 1
                } else { out.append(c); i += 1 }
              } else { out.append(c); i += 1 }
            } else { out.append(c); i += 1 }
          } else { out.append(c); i += 1 }
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }
}
