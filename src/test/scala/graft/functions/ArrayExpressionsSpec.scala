package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** PairCombinations: the native in-bucket pair generator must agree
  * exactly with the composed HOF form it replaced, across element
  * types and edge shapes, in both interpreted eval and codegen.
  */
class ArrayExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofPairs(c: org.apache.spark.sql.Column) =
    flatten(transform(c, a =>
      filter(transform(c, b => when(a < b, struct(a.as("a"), b.as("b")))),
        x => x.isNotNull)))

  test("pair_combos == composed HOF form on sorted distinct longs") {
    val df = Seq(Seq(1L, 3L, 7L, 9L), Seq(2L), Seq.empty[Long], Seq(5L, 6L))
      .toDF("m").select(array_sort(col("m")).as("m"))
    val native = df.select(ArrayFunctions.pair_combos(col("m")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(r =>
        (r.getLong(0), r.getLong(1))))
    val hof = df.select(hofPairs(col("m")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(r =>
        (r.getLong(0), r.getLong(1))))
    assert(native.map(_.toSet).toSeq == hof.map(_.toSet).toSeq)
    assert(native.head == Seq((1L, 3L), (1L, 7L), (1L, 9L), (3L, 7L),
      (3L, 9L), (7L, 9L)), "index order on a sorted array is a<b order")
    assert(native(1).isEmpty && native(2).isEmpty, "singleton/empty yield no pairs")
  }

  test("pair_combos on strings") {
    val r = Seq(Seq("b", "a", "c")).toDF("m")
      .select(ArrayFunctions.pair_combos(array_sort(col("m"))).as("p"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("pair_combos survives an aggregation pipeline (explode + count)") {
    // three buckets of sizes 4, 3, 1 -> 6 + 3 + 0 pairs
    val df = Seq((1, 10L), (1, 20L), (1, 30L), (1, 40L),
      (2, 10L), (2, 50L), (2, 60L), (3, 99L)).toDF("k", "v")
    val n = df.groupBy("k").agg(array_sort(collect_set(col("v"))).as("m"))
      .select(explode(ArrayFunctions.pair_combos(col("m"))))
      .count()
    assert(n == 9L)
  }

  test("pair_combos on struct elements: sorted by leading field, payload intact") {
    // the dedup member-record shape: (doc_id, sz); array_sort orders by
    // doc_id (leading field), so pairs are the doc_id-ordered a < b set
    val df = Seq((1, 30L, 3), (1, 10L, 1), (1, 20L, 2)).toDF("k", "doc_id", "sz")
      .groupBy("k").agg(collect_set(struct(col("doc_id"), col("sz"))).as("m"))
    val r = df.select(explode(ArrayFunctions.pair_combos(array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id").as("ida"), col("p.a.sz").as("sza"),
        col("p.b.doc_id").as("idb"), col("p.b.sz").as("szb"))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getInt(3)))
      .toSet
    assert(r == Set((10L, 1, 20L, 2), (10L, 1, 30L, 3), (20L, 2, 30L, 3)))
  }

  test("pair_combos on structs carrying nested arrays (the minhash sig shape)") {
    val df = Seq((1, 1L, Seq("h1", "h2")), (1, 2L, Seq("h1", "h3")))
      .toDF("k", "doc_id", "sig")
      .groupBy("k").agg(collect_set(struct(col("doc_id"), col("sig"))).as("m"))
    val agree = df
      .select(explode(ArrayFunctions.pair_combos(array_sort(col("m")))).as("p"))
      .select(col("p.a.doc_id"), col("p.b.doc_id"),
        aggregate(zip_with(col("p.a.sig"), col("p.b.sig"),
          (x, y) => (x === y).cast("int")), lit(0), (acc, v) => acc + v).as("eq"))
      .collect()
    assert(agree.length == 1)
    assert((agree.head.getLong(0), agree.head.getLong(1), agree.head.getInt(2))
      == (1L, 2L, 1))
  }

  test("cross_pairs: exactly the |A|x|B| cross-side pairs, empty side yields none") {
    val df = Seq(
      (1, Seq(1L, 2L), Seq(10L, 20L, 30L)),
      (2, Seq(5L), Seq.empty[Long]),
      (3, Seq.empty[Long], Seq(7L))).toDF("k", "ma", "mb")
    val rows = df.select(col("k"),
        explode(ArrayFunctions.cross_pairs(col("ma"), col("mb"))).as("p"))
      .select(col("k"), col("p.a"), col("p.b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(
      (1, 1L, 10L), (1, 1L, 20L), (1, 1L, 30L),
      (1, 2L, 10L), (1, 2L, 20L), (1, 2L, 30L)))
  }

  test("cross_pairs on struct elements matches the HOF cross-side form") {
    val df = Seq(
      (1L, 1, Seq("a", "b")), (2L, 1, Seq("a", "c")),
      (3L, 0, Seq("a", "b")), (4L, 0, Seq("d", "e")))
      .toDF("doc_id", "side", "sig").withColumn("k", lit(1))
      .groupBy("k")
      .agg(
        collect_set(when(col("side") === 1, struct(col("doc_id"), col("sig"))))
          .as("ma"),
        collect_set(when(col("side") === 0, struct(col("doc_id"), col("sig"))))
          .as("mb"))
    val pairs = df
      .select(explode(ArrayFunctions.cross_pairs(col("ma"), col("mb"))).as("p"))
      .select(col("p.a.doc_id").as("na"), col("p.b.doc_id").as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
  }
}
