package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native membership test against a pre-built Bloom filter — the
  * filter-side half of runtime join pruning (ops/Prune.scala).
  *
  * The sketch is deserialized ONCE per executor (lazy val on the
  * expression instance, shipped as a reference object into generated
  * code), so the per-row cost is `mightContainLong` — a few xxhash
  * probes on a bit array — at scan speed inside whole-stage codegen.
  * Build side pairs with `DataFrame.stat.bloomFilter`, whose putLong
  * uses the same org.apache.spark.util.sketch hashing, so build and
  * probe agree bit-for-bit.
  */
case class BloomContainsLong(filterBytes: Array[Byte], child: Expression)
    extends UnaryExpression {

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects a BIGINT key, got $t")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    filter.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchFunctions {
  /** Column API: membership of `key` in a serialized Bloom sketch. */
  def bloom_contains(filterBytes: Array[Byte], key: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_contains",
      org.apache.spark.sql.functions.lit(filterBytes), key)
}
