package graft.engine

import PgSelect.{skipComment, atComment}

/** The Postgres → Spark STRING-LITERAL bridge for the /sql facade.
  *
  * Postgres (standard_conforming_strings = on, the default since 9.1)
  * treats backslash as a LITERAL character inside '...' strings;
  * Spark's parser treats it as a C-style escape and silently EATS
  * unrecognized ones — `'\d'` reaches the engine as `d`, so a client's
  * `text ~ '\d+'` matches the letter d and every regex with a
  * character class is silently wrong (measured: Spark
  * `length('\d') = 1`, `regexp_like('d', '\d') = true`).
  *
  * `escape` doubles the backslashes inside plain single-quoted
  * literals, so Spark decodes them back to exactly the bytes the
  * Postgres client wrote. E'...' escape-strings — where Postgres DOES
  * process backslash escapes, like Spark — are lowered by dropping the
  * E prefix; the body passes through except `\'`, which is normalized
  * to the doubled-quote spelling `''` (identical Spark decode) so the
  * facade's quote scanners stay in sync (the common escapes
  * \\ \n \t \r \b \f agree; exotic \o/\x/\u forms are out of scope).
  * Double-quoted identifiers, backticks, and comments pass through
  * untouched.
  *
  * NOT idempotent by design (doubling twice quadruples), so it is NOT
  * part of PgSelect.rewrite: SqlGate.run applies it exactly once per
  * request, before the JSON/SELECT rewrites — it is the
  * transport-level decode of the Postgres dialect, not a query
  * rewrite.
  */
object PgStrings {

  def escape(sql: String): String = {
    val out = new StringBuilder
    val s = sql
    var i = 0
    while (i < s.length) {
      s(i) match {
        case _ if atComment(s, i) =>
          val j = skipComment(s, i); out.append(s.substring(i, j)); i = j
        case q @ ('"' | '`') =>
          var j = i + 1
          while (j < s.length && s(j) != q) j += 1
          j = math.min(j + 1, s.length)
          out.append(s.substring(i, j)); i = j
        case c @ ('e' | 'E')
          if i + 1 < s.length && s(i + 1) == '\'' &&
            (i == 0 || !(s(i - 1).isLetterOrDigit || s(i - 1) == '_')) =>
          // E'...': backslash-escaped string — find its end honouring
          // both \' and '' escapes, drop the E. The body is NOT kept
          // verbatim: \' is normalized to '' (Spark decodes both to a
          // single quote) because every downstream scanner
          // (skipQuoted, the facade rewrites) understands only the
          // doubled-quote convention — a surviving \' would flip
          // their quote-state for the rest of the query and let later
          // rewrites fire inside real string literals.
          val body = new StringBuilder("'")
          var j = i + 2
          var end = -1
          while (j < s.length && end < 0) {
            s(j) match {
              case '\\' if j + 1 < s.length && s(j + 1) == '\'' =>
                body.append("''"); j += 2
              case '\\' if j + 1 < s.length =>
                body.append(s(j)).append(s(j + 1)); j += 2
              case '\\' => body.append('\\'); j += 1
              case '\'' =>
                if (j + 1 < s.length && s(j + 1) == '\'') {
                  body.append("''"); j += 2
                } else { body.append('\''); end = j + 1 }
              case ch => body.append(ch); j += 1
            }
          }
          out.append(body)
          i = if (end < 0) s.length else end
        case '\'' =>
          // plain literal: '' stays, every backslash doubles
          var j = i + 1
          var end = -1
          while (j < s.length && end < 0) {
            if (s(j) == '\'' && j + 1 < s.length && s(j + 1) == '\'') j += 2
            else if (s(j) == '\'') end = j + 1
            else j += 1
          }
          val stop = if (end < 0) s.length else end
          out.append(s.substring(i, stop).replace("\\", "\\\\"))
          i = stop
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }
}
