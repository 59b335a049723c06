package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression emitting every index-ordered pair of a
  * (pre-sorted, distinct) array: `[x1..xn]` → `[(x1,x2), (x1,x3), …,
  * (x_{n-1},x_n)]` as `array<struct<a,b>>`.
  *
  * This is the in-bucket pair generator behind co-occurrence
  * statistics (itemCosine, basketLift). The SQL-composable form —
  * `flatten(transform(m, a -> filter(transform(m, b -> …))))` —
  * evaluates THREE interpreted higher-order lambdas per element pair
  * (Spark HOFs are CodegenFallback), measured ~8 µs/pair on the cf02
  * frame; this expression is one generated nested loop. The caller
  * sorts (array_sort) so index order equals value order and the loop
  * needs no comparisons — with a distinct input that makes the output
  * exactly the a < b pair set.
  */
case class PairCombinations(child: Expression) extends UnaryExpression {

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if Seq(ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, StringType, DateType, TimestampType,
        BooleanType).contains(et) =>
      TypeCheckResult.TypeCheckSuccess
    // struct elements: the in-bucket member records of the dedup family
    // (doc_id, size) / (doc_id, sig). array_sort orders by the first
    // struct field, so the caller puts the pair-ordering key first.
    case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pair_combos expects an array of a primitive/string/struct type, got $t")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType, nullable = false),
    StructField("b", elemType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.get(i, elemType)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, arr.get(j, elemType)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      val getA = CodeGenerator.getValue(arr, elemType, i)
      val getB = CodeGenerator.getValue(arr, elemType, j)
      s"""
         |int $n = $arr.numElements();
         |Object[] $out = new Object[$n * ($n - 1) / 2];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    Object[] $row = new Object[2];
         |    $row[0] = $getA;
         |    $row[1] = $getB;
         |    $out[$k++] =
         |      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($row);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native cross-product pair generator: `([a1..an], [b1..bm])` →
  * `[(a1,b1), (a1,b2), …, (an,bm)]` as `array<struct<a,b>>`.
  *
  * The incremental-dedup shape (dd08): in-bucket candidates live on two
  * SIDES (new batch × base corpus) and only cross-side pairs matter.
  * The HOF form pays three interpreted lambdas per (i,j) INCLUDING the
  * same-side combinations it then discards; this is one generated
  * nested loop over exactly the |A|×|B| pairs that survive.
  */
case class CrossPairs(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if DataType.equalsStructurally(lt, rt, ignoreNullability = true) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cross_pairs expects two arrays of the same element type, got $l / $r")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType, nullable = false),
    StructField("b", elemType, nullable = false))), containsNull = false)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements(); val m = ra.numElements()
    val out = new Array[Any](n * m)
    var k = 0; var i = 0
    while (i < n) {
      val a = la.get(i, elemType)
      var j = 0
      while (j < m) {
        out(k) = new GenericInternalRow(Array[Any](a, ra.get(j, elemType)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, ra) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out"); val row = ctx.freshName("row")
      val getA = CodeGenerator.getValue(la, elemType, i)
      val getB = CodeGenerator.getValue(ra, elemType, j)
      s"""
         |int $n = $la.numElements();
         |int $m = $ra.numElements();
         |Object[] $out = new Object[$n * $m];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $j = 0; $j < $m; $j++) {
         |    Object[] $row = new Object[2];
         |    $row[0] = $getA;
         |    $row[1] = $getB;
         |    $out[$k++] =
         |      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($row);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayFunctions {
  /** Column API: all index-ordered pairs of a sorted distinct array. */
  def pair_combos(arr: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_pair_combos", arr)

  /** Column API: the |A|×|B| cross-side pairs of two arrays. */
  def cross_pairs(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cross_pairs", a, b)
}
