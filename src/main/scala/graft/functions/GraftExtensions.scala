package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** Injects every native `graft_*` expression into each session Spark
  * builds. Spark finds this class through
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`
  * (classpath providers load by default:
  * `spark.sql.extensions.test.loadFromCp` is true), so
  * `spark.sql.extensions` stays unset and no session or operator
  * registers anything. The functions resolve in `spark.sql`, on every
  * `newSession()`, and in the Column API through `call_function` (see
  * the `*Functions` objects): the Column-to-Expression bridge is
  * session-internal in Spark 4, so a registered name is the public
  * route from the DSL to a custom Expression. Spark logs and skips a
  * provider that throws; `NativeFunctionsSpec` is the loud check.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
}

object GraftExtensions {
  // literal arguments (k, packed tables, forms) are folded at resolution
  // time, so executors never carry them as per-row columns
  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()
  private def str(e: Expression): String = e.eval(null).asInstanceOf[UTF8String].toString

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_float_dot" -> (e => FloatDotProduct(e(0), e(1))),
    "graft_jaro_winkler" -> (e => JaroWinkler(e(0), e(1))),
    "graft_shingles" -> (e => WordShingles(e(0), int(e(1)))),
    "graft_minhash_hashes" -> (e => MinhashHashes(e(0), int(e(1)))),
    "graft_simhash_pack" -> (e => SimhashVotePack(e(0))),
    "graft_bpe_encode" -> (e => BpeEncode(e(0), str(e(1)))),
    "graft_unigram_encode" -> (e => UnigramEncode(e(0), str(e(1)))),
    "graft_multi_match" -> (e => MultiMatch(e(0), str(e(1)))),
    "graft_unorm" -> (e =>
      UnicodeNormalize(e(0), str(e(1)), e(2).eval(null).asInstanceOf[Boolean])),
    "graft_pair_combos" -> (e => PairCombinations(e.head)),
    "graft_cross_pairs" -> (e => CrossPairs(e.head, e(1))),
    // the first argument is the serialized sketch, a binary literal
    "graft_bloom_contains" -> { e =>
      require(e.head.foldable, "bloom sketch must be a literal")
      BloomContainsLong(e.head.eval(InternalRow.empty).asInstanceOf[Array[Byte]], e(1))
    },
  )
}
