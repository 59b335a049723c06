package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions

/** Runtime join pruning with Bloom sketches (bf01).
  *
  * THE 100 TB join problem: a fact table joined to a selectively
  * FILTERED dimension still shuffles every fact row — the filter
  * lives on the other side of the exchange. Runtime row-level
  * filtering fixes it: aggregate the filtered dimension's join keys
  * into a Bloom sketch (one small job), ship the sketch to the fact
  * scan, and drop non-matching rows BEFORE the shuffle. At a 1%
  * false-positive rate the exchange carries ~selectivity + 1% of the
  * fact table instead of all of it.
  *
  * Spark's optimizer has an automatic version
  * (spark.sql.optimizer.runtime.bloomFilter.enabled, injected only
  * when its cost heuristics fire); this operator is the EXPLICIT,
  * deterministic form — the pipeline author knows the dimension is
  * selective, so the sketch is always built, with chosen capacity.
  *
  * Mechanics: the sketch is built distributed
  * (`DataFrame.stat.bloomFilter` — a treeAggregate of bit arrays) and
  * the DRIVER holds one serialized copy, bounded by (expectedItems,
  * fpp): ~1.2 MB per 1M keys at 1% — the bounded-collect category
  * (like the k-means/PQ samples), never data-proportional. The probe
  * side is a native codegen expression (BloomContainsLong) that
  * deserializes once per executor and tests at scan speed. The exact
  * join after the prune clears false positives, so results are
  * IDENTICAL to the unpruned join — which is what the bf01 oracle
  * pins.
  */
object Prune {

  /** Serialized Bloom sketch of `key` over `df` (build side). */
  def buildBloom(df: DataFrame, key: String, expectedItems: Long,
                 fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"bad sketch shape: items=$expectedItems fpp=$fpp")
    val bf = df.stat.bloomFilter(key, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Scan-speed prune of `df` to rows whose `key` might be in the
    * sketch (keeps all true matches; false positives pass at ~fpp).
    */
  def bloomPrune(df: DataFrame, key: Column, sketch: Array[Byte]): DataFrame = {
    df.filter(SketchFunctions.bloom_contains(sketch, key))
  }

  /** Inner join with the fact side bloom-pruned before the exchange.
    * Result is identical to `fact.join(dim, fact(factKey) ===
    * dim(dimKey))` — false positives are cleared by the exact join —
    * but the shuffle reads only surviving fact rows.
    */
  def bloomPrunedJoin(fact: DataFrame, factKey: String,
                      dim: DataFrame, dimKey: String,
                      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val pruned = bloomPrune(fact, col(factKey),
      buildBloom(dim, dimKey, expectedItems, fpp))
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }
}
