package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity — the record-linkage scorer next to
  * levenshtein in the fuzzy-join family (fz02): tolerant of the
  * transpositions and short edits human-keyed names accumulate, with
  * the Winkler prefix boost favoring agreement where typos are rarest.
  *
  * Textbook definition, pinned by cross-checking DuckDB's independent
  * implementation (the fz02 oracle): match window
  * max(⌊max(|a|,|b|)/2⌋−1, 0); transpositions counted over matched
  * sequences /2; jaro = (m/|a| + m/|b| + (m−t)/m)/3, 0 when m = 0
  * (hence empty strings score 0, not 1); Winkler boost
  * jaro + ℓ·0.1·(1−jaro) ONLY when jaro > 0.7, prefix ℓ capped at 4.
  * All divisions are int/int in doubles, so both engines produce
  * bit-identical values. Spark's own stack stops at levenshtein —
  * this is the custom-Expression escape hatch doing what built-ins
  * can't, with the same compute-object codegen shape as
  * WordShingles (one native call per row inside whole-stage codegen).
  * Comparison is per UTF-16 code unit (ASCII-safe; matches DuckDB on
  * the name-like data the fuzzy family targets).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jaro_winkler expects (string, string), got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = DoubleType

  def compute(l: UTF8String, r: UTF8String): Double = {
    val a = l.toString
    val b = r.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxP = math.min(4, math.min(la, lb))
    while (prefix < maxP && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaroWinkler", this, classOf[JaroWinkler].getName)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object SimilarityFunctions {
  /** Column API: Jaro-Winkler similarity of two string columns. */
  def jaro_winkler(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_jaro_winkler", a, b)
}
