package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Every native `graft_*` function resolves on a session nothing has
  * touched, through its Column API and through SQL. Spark only logs a
  * warning when a SparkSessionExtensionsProvider throws, so this spec
  * is the loud check that GraftExtensions is listed in META-INF/services
  * and injects every function.
  */
class NativeFunctionsSpec extends AnyFunSuite {
  // a fresh session: no earlier query or suite can have prepared it
  private lazy val spark: SparkSession = TestSpark.spark.newSession()

  private val bloomBytes: Array[Byte] = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100)
    f.putLong(7L)
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  // bit b (b < 32) = high bit of md5 hex digit b; bit 32 + b = its second bit
  private def simhashBits(tok: String): Long = {
    val hex = md5Hex(tok)
    (0 until 32).foldLeft(0L) { (acc, b) =>
      val n = Character.digit(hex.charAt(b), 16)
      acc | (if ((n & 8) != 0) 1L << b else 0L) | (if ((n & 4) != 0) 1L << (b + 32) else 0L)
    }
  }

  private def pairs(v: Any): Seq[(Int, Int)] =
    v.asInstanceOf[scala.collection.Seq[Row]].map(r => (r.getInt(0), r.getInt(1))).toSeq

  private val floats = (xs: Seq[Int]) => array(xs.map(x => lit(x.toFloat)): _*)

  /** name -> (Column API call, the same call in SQL, check on the value) */
  private val cases: Seq[(String, Column, String, Any => Unit)] = Seq(
    ("graft_float_dot",
      VectorFunctions.float_dot(floats(Seq(1, 2, 3)), floats(Seq(4, 5, 6))),
      "graft_float_dot(cast(array(1, 2, 3) as array<float>), " +
        "cast(array(4, 5, 6) as array<float>))",
      v => assert(v == 32.0)),
    ("graft_jaro_winkler",
      SimilarityFunctions.jaro_winkler(lit("MARTHA"), lit("MARHTA")),
      "graft_jaro_winkler('MARTHA', 'MARHTA')",
      v => assert(math.abs(v.asInstanceOf[Double] - 17.3 / 18) < 1e-12)),
    ("graft_shingles",
      TextFunctions.shingles(lit("a b c d"), 2),
      "graft_shingles('a b c d', 2)",
      v => assert(v.asInstanceOf[scala.collection.Seq[String]].toSet == Set("a b", "b c", "c d"))),
    ("graft_minhash_hashes",
      TextFunctions.minhash_hashes(lit("a b"), 3),
      "graft_minhash_hashes('a b', 3)",
      v => assert(v == Seq("0#a b", "1#a b", "2#a b").map(md5Hex))),
    ("graft_simhash_pack",
      TextFunctions.simhash_pack(lit("tok")),
      "graft_simhash_pack('tok')",
      v => assert(v == simhashBits("tok"))),
    ("graft_bpe_encode",
      TextFunctions.bpe_encode(lit("abc"), Seq(("a", "b"))),
      "graft_bpe_encode('abc', 'a b')",
      v => assert(v == Seq("ab", "c", "</w>"))),
    ("graft_unigram_encode",
      TextFunctions.unigram_encode(lit("abc"), Seq(("ab", -1.0), ("c", -1.0))),
      "graft_unigram_encode('abc', 'ab -1.0\\nc -1.0')",
      v => assert(v == Seq("ab", "c"))),
    ("graft_multi_match",
      TextFunctions.multi_match(lit("The cat sat on the mat"), Seq("the", "cat", "dog")),
      "graft_multi_match('The cat sat on the mat', 'the\\ncat\\ndog')",
      v => { val r = v.asInstanceOf[Row]; assert((r.getLong(0), r.getInt(1)) == (3L, 2)) }),
    ("graft_unorm",
      TextFunctions.unicode_normalize(lit("Ｆｕｌｌ ﬁ"), "NFKC", casefold = true),
      "graft_unorm('Ｆｕｌｌ ﬁ', 'NFKC', true)",
      v => assert(v == "full fi")),
    ("graft_pair_combos",
      ArrayFunctions.pair_combos(array(lit(1), lit(3), lit(7))),
      "graft_pair_combos(array(1, 3, 7))",
      v => assert(pairs(v) == Seq((1, 3), (1, 7), (3, 7)))),
    ("graft_cross_pairs",
      ArrayFunctions.cross_pairs(array(lit(1), lit(2)), array(lit(3))),
      "graft_cross_pairs(array(1, 2), array(3))",
      v => assert(pairs(v) == Seq((1, 3), (2, 3)))),
    ("graft_bloom_contains",
      SketchFunctions.bloom_contains(bloomBytes, lit(7L)),
      s"graft_bloom_contains(X'${bloomBytes.map(b => f"${b & 0xff}%02X").mkString}', 7L)",
      v => assert(v == true)),
  )

  test("the provider injects exactly the graft_* functions this spec covers") {
    val injected = GraftExtensions.functions.map(_._1)
    assert(injected.size == 12 && injected.distinct.size == 12)
    assert(cases.map(_._1).sorted == injected.sorted)
    val listed = spark.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSeq
    assert(listed.sorted == injected.sorted)
  }

  cases.foreach { case (name, column, sql, check) =>
    test(s"$name resolves on a new session through the Column API and SQL") {
      check(spark.range(1).select(column).head().get(0))
      check(spark.sql(s"SELECT $sql").head().get(0))
    }
  }

  test("TextAnalysis.bpeFertility runs on a session nothing has registered on") {
    import spark.implicits._
    val df = Seq(("en", "web", "ab ab abc")).toDF("lang", "source", "text")
    val r = graft.ops.TextAnalysis.bpeFertility(df, Seq(("a", "b"))).collect()
    // "ab" -> [ab, </w>] twice, "abc" -> [ab, c, </w>]
    assert(r.map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_words"),
      x.getAs[Long]("n_tokens"))).toSeq == Seq(("en", 3L, 7L)))
  }
}
