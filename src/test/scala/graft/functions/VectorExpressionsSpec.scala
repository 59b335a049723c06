package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.1f, -0.2f), Array(0.3f, 0.4f)),
    (3L, Array.tabulate(64)(i => (math.sin(i) / 2).toFloat),
      Array.tabulate(64)(i => (math.cos(i) / 2).toFloat))
  ).toDF("id", "a", "b")

  test("native float_dot equals the composed zip_with/aggregate form bit-for-bit") {
    val rows = vecs.select($"id",
        VectorFunctions.float_dot($"a", $"b").as("native"),
        graft.ops.Similarity.dotHof($"a", $"b").as("composed"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row ${r.getLong(0)}")
    }
    assert(rows(0).getDouble(1) == 32.0) // 1*4 + 2*5 + 3*6
  }

  test("float_dot is callable from SQL after registration") {
    vecs.createOrReplaceTempView("vecs_test")
    val r = spark.sql("SELECT graft_float_dot(a, b) AS d FROM vecs_test WHERE id = 1")
      .head.getDouble(0)
    assert(r == 32.0)
  }

  test("nulls propagate, mismatched lengths truncate") {
    val df = Seq((Option(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df.select(VectorFunctions.float_dot($"a", $"b")).head.isNullAt(0))
    val got = vecs.filter($"id" === 2).select(VectorFunctions.float_dot($"a", $"b"))
      .head.getDouble(0)
    val want = (0.1f * 0.3f).toDouble + ((-0.2f) * 0.4f).toDouble
    assert(math.abs(got - want) <= 1e-9)
  }
}
