package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The iterative operators on `Flat.iterate`: Spark jobs per round for
  * each of them, k-truss on known graphs, and loops whose rounds run
  * out of rows, where AQE drops the round's CollectMetrics node and the
  * driver must read the missing count as 0. Empty-result cases run
  * under both checkpoint modes.
  */
class GraphLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def path(n: Int): DataFrame =
    (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")

  private def sym(es: Seq[(Long, Long)]): DataFrame =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  private lazy val ring: DataFrame = sym((0L until 40L).map(i => (i, (i + 1) % 40)))

  /** A triangulated tube of `levels` rings of 5 nodes: every edge lies
    * in exactly 2 triangles except the two end rings' edges, which lie
    * in 1. So the 4-truss peels it from both ends, about one ring per
    * two rounds, and does not converge within a few rounds.
    */
  private def tube(levels: Int): DataFrame = {
    val m = 5
    def id(l: Int, j: Int): Long = l.toLong * m + (j % m)
    sym(for (l <- 0 until levels; j <- 0 until m; e <- Seq(
        Some((id(l, j), id(l, j + 1))),
        Option.when(l + 1 < levels)((id(l, j), id(l + 1, j))),
        Option.when(l + 1 < levels)((id(l, j), id(l + 1, j + 1)))).flatten)
      yield e)
  }

  private lazy val comparisons: DataFrame =
    (for (i <- 0 until 10; j <- 0 until 10 if i != j && (i * 7 + j * 3) % 4 != 0)
      yield (s"p$i", s"p$j")).toDF("winner", "loser")

  /** Jobs per extra round: `run(x)` runs the loop at size `x` (a round
    * budget, or an input size for a loop that stops only when it
    * converges) and returns the rounds it ran. Fixed per-call jobs
    * cancel in the difference between the two sizes.
    */
  private def jobsPerRound(label: String, small: Int = 2, large: Int = 6)
                          (run: Int => Int): Double = {
    run(small) // warm-up: first-use planning must not skew the difference
    def measure(x: Int): (Int, Int) = {
      var rounds = 0
      val jobs = TestSpark.jobsOf(s"$label-$x") { rounds = run(x) }
      (jobs.size, rounds)
    }
    val (js, rs) = measure(small)
    val (jl, rl) = measure(large)
    assert(rl > rs, s"$label ran $rs and $rl rounds")
    val perRound = (jl - js).toDouble / (rl - rs)
    info(f"$label: $perRound%.2f jobs per round ($js jobs in $rs rounds, $jl in $rl)")
    perRound
  }

  private def rounds(metric: String): Int = OpsMetrics.lastConvergence(metric).get._1

  test("jobs per round of every iterative operator") {
    val perRound = Map(
      "pageRank" -> jobsPerRound("pagerank") { r =>
        Graph.pageRank(ring, iters = r).collect(); r },
      "hits" -> jobsPerRound("hits") { r => Graph.hits(ring, iters = r).collect(); r },
      "labelPropagation" -> jobsPerRound("lpa") { r =>
        Graph.labelPropagation(ring, rounds = r).collect(); r },
      "bradleyTerry" -> jobsPerRound("bradley-terry") { r =>
        Stats.bradleyTerry(comparisons, iters = r).collect(); r },
      "kCore" -> jobsPerRound("kcore") { r =>
        Graph.kCore(path(60), k = 2, rounds = r).collect(); rounds("graft.kcore") },
      "kTruss" -> jobsPerRound("ktruss") { r =>
        Graph.kTruss(tube(12), k = 4, rounds = r).collect(); rounds("graft.ktruss") },
      "hopDistance" -> jobsPerRound("bfs") { r =>
        Graph.hopDistance(path(60), Seq(0L).toDF("node"), maxHops = r).collect()
        rounds("graft.bfs")
      })
    // connected components stops only at convergence, which takes
    // more rounds on the longer path
    val cc = jobsPerRound("cc", 8, 300) { n =>
      Dedup.connectedComponents((1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b"))
        .collect()
      rounds("graft.cc.convergence")
    }
    // the measured values at 4 cores: any growth is a regression
    val bound = Map("pageRank" -> 4.0, "hits" -> 15.0, "labelPropagation" -> 4.0,
      "bradleyTerry" -> 9.0, "kCore" -> 5.0, "kTruss" -> 9.0, "hopDistance" -> 5.0)
    for ((loop, jobs) <- perRound)
      assert(jobs <= bound(loop), s"$loop: $jobs jobs per round, bound ${bound(loop)}")
    assert(cc <= 3.0, s"connectedComponents: $cc jobs per round")
  }

  test("kTruss: a 4-clique survives with support 2; the rest peels; one clean confirm round") {
    // K4 on 1..4, a triangle 4-5-6 hung off it and a pendant 6-7: the
    // triangle's edges have support 1 and the pendant 0, so round 1
    // drops them and round 2 drops nothing
    val edges = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)))
    val got = Graph.kTruss(edges, k = 4, rounds = 8).as[(Long, Long, Long)].collect()
    assert(got.sorted.toSeq == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    assert(OpsMetrics.lastConvergence("graft.ktruss").contains((2, 0L)))
  }

  test("kTruss: an exhausted budget reports survivors with support 0 and a nonzero count") {
    // square a-b-c-d with diagonal a-c: round 1 drops the 4 sides
    // (support 1 < 2), leaving a-c, which lies in no triangle
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c"))
      .flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    val got = Graph.kTruss(edges, k = 4, rounds = 1).as[(String, String, Long)].collect()
    assert(got.toSeq == Seq(("a", "c", 0L)))
    val conv = OpsMetrics.lastConvergence("graft.ktruss")
    assert(conv.exists { case (r, dropped) => r == 1 && dropped > 0 }, s"$conv")
  }

  /** Runs `f` with reliable checkpoints when `reliable`, local otherwise. */
  private def checkpointed(reliable: Boolean)(f: => Unit): Unit =
    if (!reliable) f
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft-loop-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      try f finally spark.sparkContext.setCheckpointDir(null)
    }

  for (reliable <- Seq(false, true)) {
    val mode = if (reliable) "reliable" else "local"

    test(s"kCore with k above the max degree: empty result, stops at (2, 0) ($mode checkpoints)") {
      checkpointed(reliable) {
        // round 1 peels every edge; round 2 runs over no edges, where
        // AQE drops the count, and must read it as 0
        assert(Graph.kCore(path(10), k = 3, rounds = 8).isEmpty)
        assert(OpsMetrics.lastConvergence("graft.kcore").contains((2, 0L)))
      }
    }

    test(s"hopDistance from no sources: empty result, stops at (1, 0) ($mode checkpoints)") {
      checkpointed(reliable) {
        val none = Seq.empty[Long].toDF("node")
        assert(Graph.hopDistance(path(10), none, maxHops = 5).isEmpty)
        assert(OpsMetrics.lastConvergence("graft.bfs").contains((1, 0L)))
      }
    }
  }
}
