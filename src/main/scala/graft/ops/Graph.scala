package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables. Corpus-curation use: link/domain
  * authority as a quality prior over web-scale crawls (PageRank is the
  * classic seed-quality signal), next to dd06's connected components
  * in Dedup (which handles the transitive-closure shape).
  */
object Graph {

  /** Deterministic PageRank with a FIXED iteration count (pr01):
    * r_{t+1}(v) = (1-d)/N + d·Σ_{u→v} r_t(u)/outdeg(u), uniform init
    * 1/N. No dangling nodes allowed — a sink would leak rank mass
    * every round, so the caller symmetrizes or prunes first and this
    * THROWS rather than silently deflating (checked with one
    * anti-join before the loop). Fixed iterations and no RNG make the
    * result reproducible across engines to float-sum order (gates
    * round at 6 decimals; PageRank is a damped contraction, so
    * reordering error stays at machine epsilon instead of amplifying).
    *
    * Scale shape (the Pregel loop in DataFrame form): edges+outdeg are
    * computed once and PERSISTED; each round is one join of ranks onto
    * the edge list (both sides keyed on src — co-partitioned after the
    * first round's exchange) and one (dst, sum) aggregate that
    * partial-aggregates map-side, so the shuffle carries one partial
    * per (task, dst), not one row per edge. Rounds run on
    * `Flat.iterate`, which flat-checkpoints each round's ranks, so
    * round N's plan never nests round N−1's.
    */
  def pageRank(edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e = edges.select(col("src"), col("dst")).persist()
    // materialize e before fan-out (labelPropagation's r19 note): the
    // dangling-check job otherwise computes deg + both node branches
    // off a cold cache, re-running the caller's edge chain per branch
    e.count()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
    val withDeg = e.join(deg, "src").persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val dangling = nodes
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .count()
    require(dangling == 0,
      s"$dangling dangling node(s) would leak rank mass — symmetrize or prune sinks first")
    val n = nodes.count()
    val seed = nodes.withColumn("rank", lit(1.0 / n))
    val (ranks, _, _) = Flat.iterate(seed, iters) { ranks =>
      val contrib = withDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("__outdeg")).as("__s"))
      nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), (lit((1 - damping) / n) +
          lit(damping) * coalesce(col("__s"), lit(0.0))).as("rank"))
    }
    e.unpersist(); withDeg.unpersist(); nodes.unpersist()
    ranks
  }

  /** Per-node triangle counts (tc01) — the local clustering signal
    * link-spam detection and community analysis start from. Input is
    * an undirected edge list (either orientation, duplicates fine);
    * self-loops are dropped and each edge is normalized to its sorted
    * (a < b) orientation before counting, so every triangle
    * {x < y < z} is found exactly once as the wedge x→y→z closed by
    * the x→z edge, and each of its three corners gets +1.
    *
    * Scale shape (the classic ordered wedge-join): orienting edges
    * low→high means a node's wedge fan-out is its HIGHER-neighbor
    * count, which turns degree-d hubs from d² wedge factories into
    * (higher-degree-only)² — the standard compact-forward trick. Both
    * joins are keyed shuffles; nothing is collected. For graphs with
    * residual super-hubs, `maxDegree` drops nodes whose degree
    * exceeds the cap BEFORE wedge building (the dedup family's
    * maxBucket discipline) — link-spam hubs are exactly what the cap
    * excludes, and silently exploding is worse than counting without
    * them. The excluded set is `highDegreeNodes(edges, maxDegree)`,
    * a first-class auditable output (same frame the filter uses), so
    * a pipeline can log/alert on the drop count instead of trusting
    * the cap blindly.
    */
  def triangleCount(edges: DataFrame, maxDegree: Int = 10000): DataFrame = {
    require(maxDegree > 1, s"maxDegree too small: $maxDegree")
    val norm = normalizedEdges(edges)
    val hubs = highDegreeNodes(edges, maxDegree).select(col("node"))
    val e = norm
      .join(hubs.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
      .join(hubs.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
    val tris = wedges
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(col("x"), col("y"), col("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Sorted-orientation distinct edge list: self-loops out, (a < b). */
  private def normalizedEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Nodes whose undirected degree exceeds `maxDegree` — the set
    * `triangleCount` excludes. One aggregate over the normalized edge
    * list; publish/count it next to the triangle output to make the
    * cap's data loss observable.
    */
  def highDegreeNodes(edges: DataFrame, maxDegree: Int): DataFrame = {
    val norm = normalizedEdges(edges)
    norm.select(col("a").as("node"))
      .union(norm.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") > maxDegree)
  }

  /** k-core membership after a FIXED number of peeling rounds (kc01):
    * repeatedly drop nodes with degree < k — the surviving subgraph
    * (every member has ≥ k neighbors inside it) is the standard dense
    * backbone for spam filtering and community seeding. Fixed `rounds`
    * (pr01's convention) keep the result oracle-replayable on any
    * engine; convergence is recorded in OpsMetrics("graft.kcore") so
    * callers can assert the peel actually reached the fixed point
    * (one extra round detects it: no edge dropped → converged).
    *
    * Scale shape: each round is one degree aggregate joined back onto
    * both endpoints of the shrinking edge set — never a materialized
    * neighbor list. Rounds run on `Flat.iterate`: flat-checkpointed,
    * with the dropped edges counted inside the round's checkpoint job.
    * Peel depth (degeneracy rounds) is small on real graphs; a chain
    * worst case needs diameter rounds — bound it with `rounds` and read
    * the convergence metric.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val (e, executed, dropped) =
      Flat.iterate(normalizedEdges(edges), rounds, Seq("graft_kcore_dropped")) { e =>
        val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val minDeg = least(col("__da"), col("__db"))
        e.join(deg.select(col("n").as("a"), col("deg").as("__da")), "a")
          .join(deg.select(col("n").as("b"), col("deg").as("__db")), "b")
          .observe("graft_kcore_dropped", count(when(minDeg < k, 1)))
          .filter(minDeg >= k)
          .select(col("a"), col("b"))
      }
    OpsMetrics.recordConvergence("graft.kcore", executed, dropped)
    val adj = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
    adj.groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
  }

  /** k-truss after a FIXED number of edge-peeling rounds (gr05): the
    * edge analog of kCore — repeatedly drop edges lying in fewer than
    * k−2 triangles of the CURRENT subgraph; what survives is the
    * cohesive backbone community detectors seed from (every surviving
    * edge is embedded in k−2 mutual-neighbor triangles, a much
    * stronger tie than degree alone). Fixed `rounds` keeps the result
    * oracle-replayable (kc01's convention); convergence is recorded in
    * OpsMetrics("graft.ktruss") so callers can see whether the peel
    * reached its fixed point or the round budget.
    *
    * Scale shape: each round is ONE wedge join over the sorted-
    * orientation edge list (per-node work = degree², hub-capped by
    * `maxDegree` with the auditable highDegreeNodes set), one
    * edge-keyed support aggregate, one join-back filter — never a
    * materialized neighbor list. Rounds run on `Flat.iterate`:
    * flat-checkpointed so lineage and join-size stats don't compound,
    * with the dropped edges counted inside the round's checkpoint job.
    * Output: surviving (a, b) edges with their final support.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3,
             maxDegree: Int = 10000): DataFrame = {
    require(k >= 3, s"k must be at least 3: $k")
    require(rounds >= 1 && rounds <= 32, s"rounds out of range: $rounds")
    val hubs = highDegreeNodes(edges, maxDegree).select(col("node"))
    val capped = normalizedEdges(edges)
      .join(hubs.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
      .join(hubs.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    def support(cur: DataFrame): DataFrame = {
      val wedges = cur.select(col("a").as("x"), col("b").as("y"))
        .join(cur.select(col("a").as("y"), col("b").as("z")), "y")
      val tris = wedges
        .join(cur.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      tris.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("y").as("a"), col("z").as("b")),
          struct(col("x").as("a"), col("z").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    val (e, executed, dropped) =
      Flat.iterate(capped, rounds, Seq("graft_ktruss_dropped")) { e =>
        // an edge in no triangle has no support row (null) and drops
        // (k − 2 ≥ 1), exactly the truss rule
        e.join(support(e), Seq("a", "b"), "left")
          .observe("graft_ktruss_dropped",
            count(when(coalesce(col("support"), lit(0L)) < k - 2, 1)))
          .filter(col("support") >= k - 2)
          .select(col("a"), col("b"))
      }
    OpsMetrics.recordConvergence("graft.ktruss", executed, dropped)
    // LEFT join + 0: when the round budget exhausts before the fixed
    // point, an edge can survive the last executed round yet lie in no
    // triangle of the final subgraph — it is a survivor with support 0,
    // not a droppable edge (an inner join here would silently peel one
    // extra round's worth). At convergence every survivor has support
    // ≥ k−2 ≥ 1 and the left join is byte-identical to the inner.
    e.join(support(e), Seq("a", "b"), "left")
      .na.fill(0L, Seq("support"))
  }

  /** Common-neighbor link prediction (jc01): for node pairs NOT
    * directly connected, the count of shared neighbors and the
    * neighbor-set Jaccard |Γ(u)∩Γ(w)| / |Γ(u)∪Γ(w)| — the classic
    * "who should be connected" score (recommendations, missing-edge
    * repair, entity-graph densification).
    *
    * Scale shape mirrors triangleCount: candidate pairs come from a
    * self-join of the adjacency list on the MIDDLE node (per-mid work
    * = degree², hub-capped by `maxDegree` with the auditable
    * highDegreeNodes set), existing edges leave via one anti-join,
    * degrees join back at node cardinality. Only pairs with ≥1 common
    * neighbor ever exist — the candidate frame is wedge-bounded, not
    * n². Top-k keeps the output bounded (TakeOrdered — no global
    * sort) with a deterministic (score, pair) tie-break.
    */
  def linkPrediction(edges: DataFrame, maxDegree: Int = 10000,
                     topK: Int = 100): DataFrame = {
    require(maxDegree > 1, s"maxDegree too small: $maxDegree")
    require(topK > 0, s"topK must be positive: $topK")
    val norm = normalizedEdges(edges)
    val hubs = highDegreeNodes(edges, maxDegree).select(col("node"))
    val e = norm
      .join(hubs.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
      .join(hubs.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    val adj = e.select(col("a").as("n"), col("b").as("nbr"))
      .union(e.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val cn = adj.select(col("n").as("m"), col("nbr").as("u"))
      .join(adj.select(col("n").as("m"), col("nbr").as("w")), "m")
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common"))
      .join(e.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_anti")
    cn.join(deg.select(col("n").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("n").as("w"), col("deg").as("deg_w")), Seq("w"))
      .select(col("u"), col("w"), col("common"), col("deg_u"), col("deg_w"),
        round(col("common") /
          (col("deg_u") + col("deg_w") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("w"))
      .limit(topK)
  }

  /** Multi-source BFS hop distance (bfs01): the shortest hop count
    * from any node of `sources` to every reachable node, capped at
    * `maxHops` — the reachability/radius primitive behind trust
    * propagation and contamination tracing.
    *
    * Scale shape: the classic frontier loop over ONE state frame of
    * (node, dist) — each round joins its frontier (dist = hop − 1)
    * onto the edge list, anti-joins the result against the state and
    * appends it. Rounds ≤ maxHops, on `Flat.iterate`: each round is one
    * flat checkpoint, which also counts the new frontier, and the loop
    * exits after the first round that reaches no new node.
    */
  def hopDistance(edges: DataFrame, sources: DataFrame,
                  maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops out of range: $maxHops")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    var hop = 0
    val (visited, executed, frontier) = Flat.iterate(
        sources.select(col("node")).distinct().withColumn("dist", lit(0)),
        maxHops, Seq("graft_bfs_frontier")) { visited =>
      hop += 1
      val next = visited.filter(col("dist") === hop - 1).select(col("node"))
        .join(e.withColumnRenamed("src", "node"), "node")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(hop))
        .observe("graft_bfs_frontier", count(lit(1)))
      visited.union(next)
    }
    OpsMetrics.recordConvergence("graft.bfs", executed, frontier)
    e.unpersist()
    visited
  }

  /** Local + average clustering coefficients (gr03) — per node,
    * triangles ÷ wedges (deg·(deg−1)/2): the density of a node's
    * neighborhood, THE standard small-world statistic next to
    * assortativity. Composes triangleCount (ordered wedge-join with
    * the hub cap) with one degree aggregate and a join-back; degree-1
    * nodes (no wedges) report null cc. One summary row is the mean
    * over nodes with ≥1 wedge (Watts–Strogatz average clustering);
    * this returns the per-node frame — callers aggregate.
    */
  def clusteringCoefficient(edges: DataFrame,
                            maxDegree: Int = 10000): DataFrame = {
    val norm = normalizedEdges(edges)
    val hubs = highDegreeNodes(edges, maxDegree).select(col("node"))
    val e = norm
      .join(hubs.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
      .join(hubs.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCount(edges, maxDegree)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2, round(
          coalesce(col("n_triangles"), lit(0L)) * 2.0 /
            (col("deg") * (col("deg") - 1)), 6)).as("cc"))
  }

  /** Degree assortativity (gr02, Newman 2002) — the Pearson
    * correlation of degrees across edge endpoints: positive for
    * social-style graphs (hubs befriend hubs), negative for
    * web/biology-style hub-and-spoke. Computed over the symmetrized
    * endpoint pairs (each undirected edge contributes both
    * orientations — the standard convention): one degree aggregate,
    * two keyed join-backs, a centered two-pass co-moment. A
    * one-number graph health check before any per-node algorithm.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    // ONE distinct over the symmetrized union (the r10 form distinct'd
    // both the raw edges AND the union — two full edge shuffles where
    // the union's dedup alone gives the same set), then collapse the
    // endpoint-degree frame to DEGREE-PAIR COUNTS: degrees are node-
    // bounded small integers, so (dx, dy, w) is degree-cardinality²
    // at most and every sufficient statistic is an exact integer sum
    // (Σw·dx, Σw·dx·dy, … stay under 2^63 until per-node degrees
    // reach ~1e8; ANSI mode fails loudly past that, and the fix is a
    // double cast). Means drop out exactly, the co-moments reduce to
    // Sxy − Sx·Sy/n with float error confined to the last two ops —
    // tighter than the old centered double sums over the edge list.
    // Three shuffles total (dedup, degree agg, pair-count agg; the
    // degree join-backs broadcast under AQE at node cardinality), with
    // the symmetrized edge frame flat-checkpointed once so the degree
    // and join consumers don't each re-run the caller's edge
    // construction (r19 perf).
    val m = assortativityStats(edges).head
    val n = m.getLong(0)
    require(n >= 2, s"assortativity needs ≥2 endpoint pairs (got $n)")
    val (sx, sy) = (m.getLong(1), m.getLong(2))
    val sxy = m.getLong(3) - sx.toDouble * sy.toDouble / n
    val sxx = m.getLong(4) - sx.toDouble * sx.toDouble / n
    val syy = m.getLong(5) - sy.toDouble * sy.toDouble / n
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((n, sxy, sxx, syy)).toDF("n_endpoints", "__sxy", "__sxx", "__syy")
      .select(col("n_endpoints"),
        when(col("__sxx") > 0 && col("__syy") > 0,
          Portability.zround(col("__sxy") / sqrt(col("__sxx") * col("__syy")), 6))
          .as("assortativity"))
  }

  /** gr02's lazy statistic frame — exposed for the plan guard: the
    * one-row (n, Sx, Sy, Sxy, Sxx, Syy) aggregate whose SHAPE (three
    * hash exchanges, no cartesian, degree join-backs broadcastable)
    * PlanQualitySpec pins.
    */
  private[graft] def assortativityStats(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    // flat-checkpoint the symmetrized distinct edge frame: it feeds
    // BOTH the degree aggregate and the join below, and without the
    // materialization each consumer re-computes the whole upstream
    // edge construction (for gr02 that is the orders⋈lineitem distinct
    // chain — the expensive part — run twice; r19 perf). The RDD
    // rebuild also keeps the lineage flat.
    // (union branches share one deterministic exchange subtree, so
    // ReuseExchange computes the caller's chain once — measured r19;
    // the checkpoint below is what stops the deg/join consumers from
    // re-running it)
    val e = Flat.flat(e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .groupBy(col("dx"), col("dy")).agg(count(lit(1)).as("w"))
      .agg(sum(col("w")).as("n"),
        sum(col("dx") * col("w")).as("sx"),
        sum(col("dy") * col("w")).as("sy"),
        sum(col("dx") * col("dy") * col("w")).as("sxy"),
        sum(col("dx") * col("dx") * col("w")).as("sxx"),
        sum(col("dy") * col("dy") * col("w")).as("syy"))
  }

  /** HITS hubs & authorities (hits01, Kleinberg 1999) — PageRank's
    * sibling link-analysis scoring: authority(v) = Σ hub(u) over
    * in-edges, hub(u) = Σ authority(v) over out-edges, L2-normalized
    * each round, FIXED iteration count (pr01's determinism contract —
    * the power iteration is a contraction on the unit sphere, so
    * float-sum reordering stays at epsilon and gates round at 6).
    *
    * Scale shape: per round, two keyed join+aggregate passes over the
    * edge list (authority from hubs, then hubs from authorities) plus
    * one scalar-aggregate norm folded back as a literal — NEVER a
    * normalization window. Rounds run on `Flat.iterate`
    * (flat-checkpointed); driver work is two doubles per round.
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // materialize e before fan-out (labelPropagation's r19 note)
    e.count()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    // the round's caches; each round unpersists the previous round's,
    // which fed only the scores Flat.iterate has materialized since
    var caches = Seq.empty[DataFrame]
    val seed = nodes.withColumn("hub", lit(1.0)).withColumn("auth", lit(1.0))
    val (scores, _, _) = Flat.iterate(seed, iters) { scores =>
      caches.foreach(_.unpersist(false))
      // each norm is a driver-synced scalar, and the score update
      // consumes the SAME frame the norm was computed from — persist
      // the round's three intermediates so the edge-join+aggregate
      // chains execute once per round, not once per consumer (the
      // un-persisted shape re-ran auth0 three times and hub0 twice:
      // norm action, hub build, and the final score join)
      val auth0 = e.join(scores.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst")).agg(sum(col("hub")).as("a0")).persist()
      val aNorm = math.sqrt(
        auth0.agg(sum(col("a0") * col("a0"))).head.getDouble(0))
      val auth = nodes
        .join(auth0.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("a0"), lit(0.0)) / aNorm).as("auth"))
        .persist()
      val hub0 = e.join(auth.select(col("node").as("dst"),
          col("auth").as("__a")), "dst")
        .groupBy(col("src")).agg(sum(col("__a")).as("h0")).persist()
      val hNorm = math.sqrt(
        hub0.agg(sum(col("h0") * col("h0"))).head.getDouble(0))
      caches = Seq(auth0, auth, hub0)
      nodes
        .join(hub0.withColumnRenamed("src", "node"), Seq("node"), "left")
        .join(auth.withColumnRenamed("auth", "__auth"), Seq("node"))
        .select(col("node"),
          (coalesce(col("h0"), lit(0.0)) / hNorm).as("hub"),
          col("__auth").as("auth"))
    }
    caches.foreach(_.unpersist(false))
    e.unpersist(); nodes.unpersist()
    scores
  }

  /** Deterministic synchronous label propagation (lp01) — the
    * near-linear community detector (Raghavan et al. 2007): every
    * node starts as its own community; each round it adopts the MOST
    * FREQUENT label among its in-neighbors, ties broken by smallest
    * label, nodes with no in-edges keep their label. Fixed round
    * count and the total tie order make the result reproducible
    * across engines exactly (labels are strings — no floats anywhere),
    * which is why the oracle can unroll the rounds as chained CTEs.
    * Synchronous LPA can oscillate on bipartite structure, so this is
    * a FIXED-ROUNDS snapshot, not a convergence loop — callers pick
    * `rounds` like pr01 picks `iters`.
    *
    * Scale shape (Pregel in DataFrame form, pr01's loop): per round,
    * one join of labels onto the edge list keyed on src (the edge set
    * is persisted PRE-PARTITIONED on src, so the big side never
    * re-exchanges across rounds — guide §2.4), one (dst, label) count
    * with map-side partials, then one per-dst min_by hash aggregate
    * for the winner (argmax count / smallest-label tie-break as an
    * orderable-struct min — no per-round partition sort). Isolated
    * destinations keep their label via a ZERO-COUNT SELF-VOTE unioned
    * into that aggregate instead of a join-back: a real vote sorts as
    * (-c ≤ -1, label) and strictly beats the self-vote's (0, old), so
    * min_by reads exactly coalesce(argmax-vote, old-label) — one
    * aggregate instead of a per-round labels⋈won join (r19 perf:
    * 40 → 29 stages, 161 → 101 MB shuffled on the sf0.1 trade graph,
    * byte-identical labels). Rounds run on `Flat.iterate`
    * (flat-checkpointed) so the plan never nests. Community detection
    * over a 100 TB crawl's host graph is this exact shape — O(E) per
    * round, 5-10 rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    // hash-partition on the join key BEFORE distinct: partitioning by
    // src satisfies the (src, dst) clustering distinct needs, so the
    // dedup costs no second exchange, and every round's labels join
    // reuses the persisted layout instead of re-shuffling the edges
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct().persist()
    // materialize e BEFORE fanning out: concurrent consumers of a cold
    // cache each compute the missed partitions (the block manager logs
    // "already exists; not re-adding" instead of deduplicating), so
    // without this count the nodes branches + round-1 join re-ran the
    // caller's edge chain up to 3× inside one job (r19 perf)
    e.count()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val seed = nodes.withColumn("label", col("node"))
    val (labels, _, _) = Flat.iterate(seed, rounds) { labels =>
      val counts = e.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // zero-count self-vote: supplies the old label exactly when a
      // node received no votes (any real vote's -__c is strictly
      // smaller), replacing the left join-back
      val votes = counts.unionByName(
        labels.select(col("node").as("dst"), col("label"), lit(0L).as("__c")))
      votes
        .groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("__nc"), col("label"))).as("label"))
        .withColumnRenamed("dst", "node")
    }
    e.unpersist(); nodes.unpersist()
    labels
  }

  /** Newman–Girvan modularity (gr04) of a node→community assignment
    * over an undirected graph given as a SYMMETRIZED directed edge
    * list (both directions present — the pr01/lp01 convention). Per
    * community c: Q_c = e_c/2m − (d_c/2m)², where e_c counts directed
    * edges with BOTH endpoints in c, d_c sums member degrees (= the
    * directed edges whose src lies in c), and 2m is the directed edge
    * count. Σ_c Q_c is the modularity score — the "did the community
    * detector find real structure, or just a partition" verdict a
    * curation pipeline reads next to labelPropagation's output before
    * trusting domain clusters for mixture weighting.
    *
    * `labels` is (node, label). Both statistics come from ONE frame
    * (edges with src/dst labels joined back): a single label-keyed
    * aggregate yields d_c (count) and e_c (conditional sum) together,
    * so the edge set is scanned once and shuffled once on the label
    * key; node counts are a second aggregate over the (small) label
    * frame, and 2m is Σ degree_sum over that checkpointed per-label
    * frame (src labels join LEFT so unlabeled-src edges land in a
    * null group that feeds 2m but never the output) — no second edge
    * pass, no collect, no window. The per-community terms are exact
    * integer counts; only the final contribution divides.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // distinct: 2m = Σ degree_sum (below) equals |E| only when `labels`
    // carries at most one row per node — duplicate (node, label) rows
    // would silently inflate 2m and every community's contribution
    // (r19 advice). distinct() makes exact duplicates safe; a node
    // carrying TWO DIFFERENT labels remains the caller's contract
    // violation (its edges would be double-counted into both groups,
    // as in any assignment-join formulation).
    val lab = labels.select(col("node"), col("label")).distinct()
    // dst label joins LEFT: under partial label coverage a member's
    // degree must count ALL its incident edges (an edge into an
    // unlabeled neighbor still contributes to d_c), or the statistics
    // go mutually inconsistent — 2m counts the full edge set while an
    // inner join here would silently shrink d_c. Unlabeled srcs stay
    // excluded (their edges belong to no community) but still count in
    // 2m, the standard partial-cover reading. With full coverage this
    // is byte-identical to the inner join.
    // src labels join LEFT (communityStructure's r19 shape): the
    // null-label group carries unlabeled-src edges, so 2m = Σ
    // degree_sum over ALL groups of this label-cardinality frame —
    // the edge list is scanned ONCE instead of paying a second full
    // pass (and, for gr04, a second orders⋈lineitem edge
    // construction) just for the 2m count. Labeled groups' statistics
    // are unchanged; the null group never reaches the output (sizes
    // only carries lab's labels).
    val perLabel = Flat.flat(e
      .join(lab.select(col("node").as("src"), col("label").as("__sl")),
        Seq("src"), "left")
      .join(lab.select(col("node").as("dst"), col("label").as("__dl")),
        Seq("dst"), "left")
      .groupBy(col("__sl").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("__sl") === col("__dl"), 1L).otherwise(0L)).as("in_edges")))
    val twoM = perLabel.agg(sum(col("degree_sum")).as("__2m"))
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    sizes.join(perLabel.filter(col("label").isNotNull), Seq("label"), "left")
      .na.fill(0L, Seq("degree_sum", "in_edges"))
      .crossJoin(broadcast(twoM))
      .select(col("label"), col("n_nodes"), col("in_edges"), col("degree_sum"),
        graft.ops.Portability.zround(col("in_edges") / col("__2m") -
          pow(col("degree_sum") / col("__2m"), 2), 6).as("contribution"))
  }

  /** Community-structure pipeline (gr06): modularity contributions AND
    * Newman's discrete label assortativity (Newman 2003 eq. 2,
    * "Mixing patterns in networks") off ONE per-label frame — the
    * pp05-style composition: the caller runs labelPropagation once,
    * this computes modularity's exact-integer per-label statistics
    * once (persisted), and the graph-level mixing coefficient
    * r = (Σᵢ eᵢᵢ − Σᵢ aᵢ²) / (1 − Σᵢ aᵢ²), with eᵢᵢ = in_edgesᵢ/2m and
    * aᵢ = degree_sumᵢ/2m, derives from THAT frame — the numerator is
    * exactly total modularity, so the edges are never re-scanned for
    * the scalar. As independent gates lp01 and gr04 each pay the label
    * propagation; a real pipeline pays it once. The per-label frame is
    * label-cardinality small: persist + two passes + localCheckpoint
    * costs nothing at scale, and the scalar folds back as a broadcast
    * single-row frame. r is NULL for a single all-covering community
    * (Σaᵢ² = 1 — the coefficient is undefined there).
    */
  def communityStructure(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // distinct for the same duplicate-row guard as modularity's
    val lab = labels.select(col("node"), col("label")).distinct()
    // ONE edge scan for BOTH statistics: src labels join LEFT so the
    // null-label group carries the unlabeled-src edges — 2m is then
    // Σ degree_sum over ALL groups of this label-cardinality frame
    // (standalone modularity pays a second edge pass for its 2m; the
    // pipeline form must not). Eager checkpoint: tiny frame, read by
    // three consumers (per-label stats, 2m, the mixing sums).
    val perLabel0 = e
      .join(lab.select(col("node").as("src"), col("label").as("__sl")),
        Seq("src"), "left")
      .join(lab.select(col("node").as("dst"), col("label").as("__dl")),
        Seq("dst"), "left")
      .groupBy(col("__sl").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("__sl") === col("__dl"), 1L).otherwise(0L)).as("in_edges"))
      .localCheckpoint(true)
    val twoM = perLabel0.agg(sum(col("degree_sum")).cast("double").as("__2m"))
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    val per = sizes
      .join(perLabel0.filter(col("label").isNotNull), Seq("label"), "left")
      .na.fill(0L, Seq("degree_sum", "in_edges"))
      .crossJoin(broadcast(twoM))
      .select(col("label"), col("n_nodes"), col("in_edges"), col("degree_sum"),
        graft.ops.Portability.zround(col("in_edges") / col("__2m") -
          pow(col("degree_sum") / col("__2m"), 2), 6).as("contribution"))
    // degree_sum² casts BEFORE the product (the auc convention); only
    // labeled groups enter the mixing sums (eᵢᵢ/aᵢ are per-community)
    val mix = perLabel0.filter(col("label").isNotNull)
      .agg(
        sum(col("in_edges")).cast("double").as("__sin"),
        sum(col("degree_sum").cast("double") * col("degree_sum")).as("__sd2"))
      .crossJoin(broadcast(twoM))
      .select(
        when(lit(1.0) - col("__sd2") / (col("__2m") * col("__2m")) > 0,
          graft.ops.Portability.zround(
            (col("__sin") / col("__2m") -
              col("__sd2") / (col("__2m") * col("__2m"))) /
            (lit(1.0) - col("__sd2") / (col("__2m") * col("__2m"))), 6))
          .as("label_assortativity"))
    per.crossJoin(broadcast(mix)).orderBy(col("label"))
  }
}
