package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.TestSpark

/** Property gate for Dedup.connectedComponents: on seeded graphs of
  * every shape the loop is known to find hard (random, chains and
  * cycles, hub stars, near-paths with duplicate and reversed pairs,
  * self-pairs), its labels must equal a driver-side union-find's, and
  * its round count must equal a driver-side model of the same
  * large-star/small-star rounds over plain Scala sets, stopped at the
  * first round that leaves the edge set unchanged. So the spec pins
  * both the answer and the set-equality stopping rule, whatever the
  * loop counts internally to decide it. Both checkpoint modes run.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Edges = Set[(Long, Long)]

  /** Component min of every node that appears in a non-self pair. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Rounds the set-semantics contraction runs until a round leaves the
    * canonical (u > v) edge set unchanged — the stopping rule the loop
    * must reproduce exactly.
    */
  private def modelRounds(pairs: Seq[(Long, Long)]): Int = {
    def largeStar(e: Edges): Edges = {
      val sym = e ++ e.map(_.swap)
      val m = sym.groupMapReduce(_._1)(_._2)(_ min _)
      sym.collect { case (u, v) if v > u => (v, m(u) min u) }
    }
    def smallStar(e: Edges): Edges = {
      val m = e.groupMapReduce(_._1)(_._2)(_ min _)
      e.map { case (u, v) => if (v == m(u)) (u, v) else (v, m(u)) }
    }
    var e: Edges = pairs.collect { case (a, b) if a != b => (a max b, a min b) }.toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val next = smallStar(largeStar(e))
      changed = next != e
      e = next
      rounds += 1
    }
    rounds
  }

  // ---- graph shapes (ids drawn from a shuffled range, so the
  // component min is not simply the first node of a chain) ----

  private def relabel(n: Int, base: Long): Gen[IndexedSeq[Long]] =
    Gen.choose(0L, Long.MaxValue).map(s =>
      new scala.util.Random(s).shuffle((0 until n).map(base + _)))

  private val randomGraph: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 60)
    base <- Gen.choose(-50L, 1000L)
    m <- Gen.choose(1, 2 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield es.map { case (a, b) => (base + a, base + b) }

  private val chainOrCycle: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 80)
    ids <- relabel(n, 1L)
    cycle <- Gen.oneOf(false, true)
  } yield {
    val path = ids.zip(ids.tail)
    if (cycle && n > 2) path :+ (ids.last -> ids.head) else path
  }

  private val hubStars: Gen[Seq[(Long, Long)]] = for {
    hubs <- Gen.choose(1, 4)
    leaves <- Gen.choose(2, 40)
    ids <- relabel(hubs * (leaves + 1), 100L)
    linked <- Gen.oneOf(false, true)
  } yield {
    val stars = ids.grouped(leaves + 1).toSeq
    val spokes = stars.flatMap(s => s.tail.map(l => (s.head, l)))
    if (linked) spokes ++ stars.map(_.head).sliding(2).collect {
      case Seq(a, b) => (b, a)
    } else spokes
  }

  private val nearPath: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(3, 60)
    ids <- relabel(n, 7L)
    path = ids.zip(ids.tail)
    dups <- Gen.someOf(path)
    revs <- Gen.someOf(path)
    skips <- Gen.listOfN(n / 10, Gen.choose(0, n - 3))
  } yield path ++ dups ++ revs.map(_.swap) ++ skips.map(i => (ids(i), ids(i + 2)))

  private def withSelfPairs(g: Gen[Seq[(Long, Long)]]): Gen[Seq[(Long, Long)]] = for {
    es <- g
    k <- Gen.choose(1, 5)
    self <- Gen.listOfN(k, Gen.oneOf(es.flatMap(e => Seq(e._1, e._2)) :+ 999999L))
  } yield es ++ self.map(x => (x, x))

  private val shapes: Seq[(String, Gen[Seq[(Long, Long)]])] = Seq(
    "random" -> randomGraph,
    "chain/cycle" -> chainOrCycle,
    "hub stars" -> hubStars,
    "near-path" -> nearPath,
    "self-pairs" -> withSelfPairs(Gen.oneOf(randomGraph, chainOrCycle, hubStars)))

  private def graphs(perShape: Int, seed: Long): Seq[(String, Seq[(Long, Long)])] =
    shapes.zipWithIndex.flatMap { case ((name, g), s) =>
      Gen.listOfN(perShape, g).apply(Gen.Parameters.default, Seed(seed + s))
        .get.map(name -> _)
    }

  private def check(shape: String, pairs: Seq[(Long, Long)]): Unit = {
    val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    val want = unionFind(pairs)
    assert(got.length == want.size, s"$shape: duplicate or missing nodes for $pairs")
    assert(got.toMap == want, s"$shape: labels differ for $pairs")
    assert(OpsMetrics.lastConvergence("graft.cc.convergence").contains(
      (modelRounds(pairs), 0L)), s"$shape: rounds differ for $pairs")
  }

  test("labels match union-find and rounds match the set model (local checkpoints)") {
    for ((shape, pairs) <- graphs(perShape = 5, seed = 20141L)) check(shape, pairs)
  }

  test("labels match union-find and rounds match the set model (reliable checkpoints)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try for ((shape, pairs) <- graphs(perShape = 2, seed = 7L)) check(shape, pairs)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  test("only self-pairs: empty output, one clean round") {
    check("self-only", Seq((5L, 5L), (6L, 6L)))
    assert(OpsMetrics.lastConvergence("graft.cc.convergence").contains((1, 0L)))
  }

  test("each round runs at most 3 Spark jobs") {
    // fixed per-call jobs (input scan, final distinct) cancel in the
    // difference, leaving jobs per extra round
    def run(n: Long): (Int, Int) = {
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val jobs = TestSpark.jobsOf(s"cc-path-$n") {
        Dedup.connectedComponents(pairs).collect()
      }
      (jobs.size, OpsMetrics.lastConvergence("graft.cc.convergence").get._1)
    }
    run(8L) // warm-up: first-use planning must not skew the difference
    val (j8, r8) = run(8L)
    val (j300, r300) = run(300L)
    assert(r300 > r8, s"rounds $r8 vs $r300")
    // rounds do not follow the diameter: one-hop label propagation
    // would need 4x the rounds on the 4x path
    val (_, r1200) = run(1200L)
    assert(r1200 <= 2 * r300, s"rounds grew $r300 -> $r1200 from a 300- to a 1200-node path")
    val perRound = (j300 - j8).toDouble / (r300 - r8)
    info(s"$perRound jobs per round")
    assert(perRound <= 3.0,
      s"$perRound jobs per round (8 nodes: $j8 jobs/$r8 rounds; 300 nodes: $j300/$r300)")
  }

  test("a forest of 10-node cliques: 4x the cliques writes at most 4.5x the shuffle records") {
    def records(cliques: Int): Long = {
      val pairs = (for (c <- 0 until cliques; a <- 0 until 10; b <- a + 1 until 10)
        yield (10L * c + a, 10L * c + b)).toDF("id_a", "id_b")
      TestSpark.run(s"cc-cliques-$cliques")(Dedup.connectedComponents(pairs).collect())
        .total(_.shuffleWriteMetrics.recordsWritten)
    }
    val (small, large) = (records(50), records(200))
    assert(small > 0, "no shuffle records counted")
    info(s"shuffle records: $small at 500 nodes, $large at 2000")
    assert(large <= 4.5 * small, s"shuffle records grew $small -> $large at 4x the cliques")
  }
}
