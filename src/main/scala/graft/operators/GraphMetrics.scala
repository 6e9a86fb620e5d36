package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph metrics over pair-edge lists (the shape every graft
  * linker/deduper emits: `left_id, right_id` match pairs).
  *
  * Matchbox resolves edges into clusters (components); these metrics answer
  * the next question an entity-resolution or dedup pipeline asks about its
  * pair graph: how dense is it, how skewed are the degrees, and how
  * clustered is it (triangles/wedges = global clustering coefficient —
  * a standard health check on candidate-pair quality: random noise pairs
  * produce wedges but few triangles, true duplicate groups close them).
  *
  * Triangle counting uses degree-ordered orientation (Suri &
  * Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
  * WWW 2011): orient each undirected edge from the lower-(degree, id) node
  * to the higher one. Every triangle then has exactly one vertex with two
  * outgoing edges, and the maximum out-degree is O(√m) — which bounds the
  * per-vertex adjacency array the compact-forward enumeration in
  * [[triangleStats]] carries. At 100 TB this is the difference between a
  * shuffle-safe plan and "the last reducer" receiving a celebrity node's
  * square: every step is a plain shuffle hash join/agg on node keys that
  * AQE can split, with per-row state bounded by the orientation.
  */
object GraphMetrics {

  /** Node-sized per-round frames (surviving-node sets, rank vectors,
    * label tables) are broadcast into the edge join when the node count
    * fits `spark.graft.graph.broadcastNodesMax` (default 10M ≈ 160 MB) —
    * then the EDGE frame, the big object, never shuffles per round: the
    * sf10 replica's 1.69G-edge k-core/PageRank rounds each re-shuffled
    * ~27 GB of edges and exhausted local disk. Above the threshold the
    * plain shuffle join remains (a 10^10-node graph cannot broadcast its
    * node table), so the operator degrades to the general formulation
    * instead of the driver dying — the same adaptive trade
    * [[graft.operators.Components.connected]] makes.
    */
  private def broadcastNodesMax(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.graph.broadcastNodesMax", "10000000").toLong

  private def maybeBroadcast(nodeFrame: DataFrame, nodeCount: Long, max: Long): DataFrame =
    if (nodeCount <= max) broadcast(nodeFrame) else nodeFrame

  /** Canonicalise an arbitrary pair list (possibly with both orientations,
    * self-loops, duplicates) to distinct undirected simple edges `a < b`.
    */
  def canonicalEdges(pairs: DataFrame, left: String, right: String): DataFrame =
    pairs
      .where(col(left) =!= col(right))
      .select(
        least(col(left), col(right)).as("a"),
        greatest(col(left), col(right)).as("b"))
      .distinct()

  /** Per-node degree of a canonical edge list: `(n, deg)`. One shuffle. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy("n")
      .agg(count(lit(1)).as("deg"))

  /** Degree histogram `(degree, n_nodes)`, ordered by degree. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degrees(edges)
      .groupBy(col("deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Single-row global stats of a canonical edge list:
    * `(n_nodes, n_edges, n_triangles, n_wedges)` — all exact BIGINT
    * (global clustering coefficient = 3·triangles / wedges, left to the
    * caller so the output stays integer-exact across engines).
    *
    * Enumeration is COMPACT-FORWARD (Latapy, "Main-memory triangle
    * computations for very large graphs", TCS 2008), distributed: after
    * degree-rank orientation, group each vertex's out-neighbours into one
    * sorted array (bounded by the O(√m) oriented out-degree), then per
    * oriented edge u→v count `|out(u) ∩ out(v)|` with a native
    * two-pointer merge ([[graft.functions.SortedIntersectCount]]) and sum.
    * Each triangle scores exactly once, at the edge joining its two
    * lowest-rank vertices: the apex is their only common out-neighbour,
    * and the reverse containments are ruled out by orientation.
    *
    * Why not wedge-join + closure probe (the prior formulation): on a
    * high-clustering graph — the sf1 balance-band replica densifies to
    * ~150k nodes of degree ≈220, 16.8M edges, ~2·10⁹ oriented wedges,
    * MOST of which close — every surviving wedge is a shuffled row, and
    * the exchange OOMs or crawls precisely when the graph is dense. Here
    * no row is ever materialised per wedge or per triangle: per-edge
    * state is two bounded adjacency arrays and a counter, so memory is
    * flat in density, and the merge kernel costs ~1 ns/element inside
    * whole-stage codegen (measured at sf1: 209 s → seconds, in the
    * default heap). The Σ outdeg² element traffic in the head-side join
    * is the same asymptotic work the wedge stream carried, minus the
    * per-row join machinery.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // Feeds degree agg, two rank joins and the adjacency fold —
    // materialise once; the settle job counts the edges.
    val (e, nEdges) = graft.Ckpt.settleBulk(edges).head
    val (deg, _) = graft.Ckpt.settle(degrees(e)).head

    // read by the adjacency fold and the triangle join
    val (oriented, _) = graft.Ckpt.settleBulk(orient(e, deg)).head

    // One sorted out-adjacency array per orientation source. Group size is
    // bounded by the O(√m) oriented out-degree — no unbounded collect.
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))

    // Per oriented edge u→v: |out(u) ∩ out(v)| by native sorted merge.
    // The u-side join reuses adj's hash partitioning; the v-side exchange
    // ships each tail array once per out-edge (Σ outdeg² elements — the
    // same traffic the wedge stream was, as array payload in bounded rows
    // instead of one row per wedge). Heads with no out-edges drop out of
    // the inner join contributing their true zero.
    val triangles = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(graft.functions.SortedIntersectCount(col("nu"), col("nv")).as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("n_triangles"))

    val nodesWedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))

    nodesWedges.crossJoin(triangles)
      .select(col("n_nodes"), lit(nEdges).as("n_edges"), col("n_triangles"), col("n_wedges"))
  }

  /** Per-node triangle counts and local clustering coefficient (Watts &
    * Strogatz 1998: cc(n) = t(n) / (deg(n) choose 2)) — the node-level
    * refinement of [[triangleStats]], same compact-forward orientation.
    * Per oriented edge u→v the common out-neighborhood is materialised
    * ONCE (`array_intersect` of the two bounded O(√m) adjacency arrays)
    * and credited to all three corners: u and v take the intersection
    * SIZE, each member w takes 1 — so Σ t(n) = 3·triangles by
    * construction, with no second pass and no per-wedge row stream.
    * cc is the exact permille (2000·t) div (deg·(deg−1)), NULL below the
    * deg ≥ 2 domain.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val (e, _) = graft.Ckpt.settleBulk(edges).head
    val (deg, _) = graft.Ckpt.settle(degrees(e)).head
    val (oriented, _) = graft.Ckpt.settleBulk(orient(e, deg)).head
    // adj feeds BOTH posting joins — checkpoint or the groupBy+sort runs
    // twice (triangleStats tolerates that for its one-row output; here
    // the whole frame flows on)
    val (adj, _) = graft.Ckpt.settleBulk(oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))).head
    val credits = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.SortedIntersectValues(col("nu"), col("nv")).as("ws"))
      .select(explode(expr(
        """concat(
          |  array(named_struct('n', u, 'c', CAST(size(ws) AS BIGINT)),
          |        named_struct('n', v, 'c', CAST(size(ws) AS BIGINT))),
          |  transform(ws, w -> named_struct('n', w, 'c', 1L)))""".stripMargin))
        .as("p"))
      .groupBy(col("p.n").as("n")).agg(sum(col("p.c")).as("t"))
    deg.join(credits, Seq("n"), "left")
      .select(col("n").as("node_id"), col("deg").cast("long").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"))
      .withColumn("cc_permille", expr(
        "CASE WHEN degree >= 2 THEN (2000 * n_triangles) div (degree * (degree - 1)) END"))
  }

  /** DOULION edge-sampled triangle estimate (Tsourakakis, Kang &
    * Faloutsos, KDD 2009): keep each edge with probability p = 1/invP,
    * count triangles EXACTLY on the sparsified graph with the same
    * compact-forward kernel ([[triangleStats]]), and scale the count by
    * invP³ — an unbiased estimator whose work shrinks ~p² in the wedge
    * term, which is what makes a quadratic-density graph measurable at
    * 100× (the r12 verdict's sampled-triangle ask; the exactness gate is
    * the DuckDB oracle recomputing the SAMPLED subgraph's count).
    *
    * Sampling is deterministic: the first 16 bits of md5 of the edge's
    * canonical "a,b" key, mod invP — the repo's standard portable hash
    * (engine-exact between Spark's `conv(substring(md5…))` and DuckDB's
    * hex-digit parse), reproducible across runs, and independent of
    * partitioning. md5 digits, not a linear congruence: the first cut of
    * this operator used `(a·1000003 + b·7919) mod invP`, whose low bits
    * CORRELATE with the banded key structure of the proximity graph —
    * triangle closure forces `3a ≡ b (mod 16)` chains, and the sf1
    * estimate came out 7× the exact count. A cryptographic digest is
    * independent of any key structure. It is still a fixed hash, not an
    * i.i.d. coin: fine for a measurement harness, documented because
    * DOULION's variance analysis assumes independence. invP must divide
    * 2¹⁶ so the 16-bit digest mods without bias.
    *
    * @return one row: (sampled_nodes, sampled_edges, sampled_triangles,
    *         est_triangles = sampled · invP³, sampled_wedges, inv_p)
    */
  /** Deterministic 1-in-invP edge-sampling predicate over canonical
    * (a, b) edges — the DOULION device factored out so every
    * edge-sampled graph query (triangle estimate, sampled weak-edge
    * audit) uses the ONE portable definition both engines replay: first
    * 16 bits of md5 of "a,b" mod invP. Key-structure-independent and
    * partition-free; see [[triangleEstimateDoulion]]'s Scaladoc for why
    * a linear congruence is disqualified.
    */
  def edgeSamplePredicate(invP: Int): org.apache.spark.sql.Column = {
    require(invP >= 2, s"invP must be >= 2, got $invP")
    require(65536 % invP == 0,
      s"invP must divide 65536 (a 16-bit digest slice mods without bias), got $invP")
    expr(
      s"""CAST(conv(substring(md5(concat(CAST(a AS STRING), ',', CAST(b AS STRING))),
         |  1, 4), 16, 10) AS BIGINT) % $invP = 0""".stripMargin)
  }

  def triangleEstimateDoulion(edges: DataFrame, invP: Int): DataFrame = {
    require(invP >= 2, s"invP must be >= 2, got $invP (1 = just triangleStats)")
    val sampled = edges.filter(edgeSamplePredicate(invP))
    triangleStats(sampled).select(
      col("n_nodes").as("sampled_nodes"),
      col("n_edges").as("sampled_edges"),
      col("n_triangles").as("sampled_triangles"),
      (col("n_triangles") * lit(invP.toLong * invP * invP)).as("est_triangles"),
      col("n_wedges").as("sampled_wedges"),
      lit(invP.toLong).as("inv_p"))
  }

  /** Integer-exact PageRank over an undirected canonical edge list —
    * ranks in fixed-point `1/scale` units with ALL arithmetic in BIGINT,
    * so the result is bit-identical across engines and partitionings
    * (double-based PageRank sums in partition order and never is).
    *
    * Per iteration: `r'(n) = base + α·Σ_{m∼n} (r(m) div deg(m)) div 1`,
    * with `base = (1−α)·scale` and α = alphaNum/alphaDen, every division
    * a floor on nonnegative longs. Floor losses are ≤ deg(m) rank units
    * per node per iteration — at scale 1e8 that is an 1e-8-relative
    * perturbation, irrelevant for ranking, and identical in any engine
    * that floors the same way (DuckDB `//`, Spark `DIV`).
    *
    * Scale bound: `alphaNum · n_nodes · scale` must stay under 2^63 —
    * the default (85, 1e8) is safe past 10^9 nodes. Each iteration is
    * one equi-join + one aggregation on the node key (AQE-splittable);
    * the edge list and degrees are checkpointed once and reused, and the
    * rounds run through [[graft.Ckpt.iterate]].
    */
  def pageRank(
      edges: DataFrame, iters: Int, scale: Long = 100000000L,
      alphaNum: Long = 85, alphaDen: Long = 100): DataFrame =
    pageRankImpl(edges, None, iters, scale, alphaNum, alphaDen)

  /** Personalized PageRank: the teleport term lands only on `seeds` (one
    * id column), so rank mass diffuses OUT of the seed set — the standard
    * seed-expansion primitive ("find records/documents most connected to
    * a curated set"). Same integer fixed-point arithmetic as [[pageRank]],
    * so equally bit-exact across engines; non-seed nodes start at 0 and
    * earn rank only through in-flow.
    */
  def pageRankPersonalized(
      edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 100000000L,
      alphaNum: Long = 85, alphaDen: Long = 100): DataFrame =
    pageRankImpl(edges, Some(seeds), iters, scale, alphaNum, alphaDen)

  private def pageRankImpl(
      edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      scale: Long, alphaNum: Long, alphaDen: Long): DataFrame = {
    require(iters >= 1 && scale > 0 && alphaDen > 0 &&
      alphaNum >= 0 && alphaNum <= alphaDen)
    val (e2, _) = graft.Ckpt.settleBulk(
      edges.select(col("a").as("s"), col("b").as("t"))
        .unionAll(edges.select(col("b").as("s"), col("a").as("t")))).head
    val deg = e2.groupBy(col("s").as("n")).agg(count(lit(1)).as("d"))
    val base = (alphaDen - alphaNum) * scale / alphaDen
    // sflag ∈ {0,1}: which nodes receive the teleport term. The global
    // variant tags every node, so the plan keeps one shape; the tag join
    // is on the node key the aggregation already shuffles on.
    val (tagged, nodeCount) = graft.Ckpt.settle(seeds match {
      case None => deg.select(col("n"), col("d"), lit(1L).as("sflag"))
      case Some(sd) =>
        deg.join(
            sd.select(col(sd.columns.head).as("n")).distinct()
              .withColumn("sflag", lit(1L)),
            Seq("n"), "left")
          .select(col("n"), col("d"), coalesce(col("sflag"), lit(0L)).as("sflag"))
    }).head
    val bcMax = broadcastNodesMax(edges)
    val pr0 = tagged.select(col("n"), (lit(scale) * col("sflag")).as("r"))
    graft.Ckpt.iterate("pagerank", pr0, iters) { (pr, _) =>
      val contrib = maybeBroadcast(
        pr.join(tagged, "n")
          .select(col("n").as("s"), expr("r DIV d").as("c")),
        nodeCount, bcMax)
      e2.join(contrib, "s")
        .groupBy(col("t").as("n"))
        .agg(expr(s"($alphaNum * sum(c)) DIV $alphaDen").as("flow"))
        .join(tagged.select(col("n"), col("sflag")), "n")
        .select(col("n"), (col("flow") + lit(base) * col("sflag")).as("r"))
    }(graft.Ckpt.rows).frame
  }

  /** Synchronous label-propagation community detection (Raghavan, Albert
    * & Kumara 2007, Phys. Rev. E 76) made fully deterministic: labels
    * start as node ids; each iteration every node adopts the label most
    * frequent among its neighbours, ties broken by the SMALLEST label
    * (the paper breaks ties randomly; a total order makes the result a
    * pure function of the graph — bit-identical across engines and
    * partitionings, and expressible as an unrolled SQL oracle). A fixed
    * iteration count replaces the convergence test for the same reason.
    *
    * Per iteration: one equi-join (directed edge list ⋈ labels on the
    * source key) + a (node, label) count aggregation + a per-node argmin
    * of `struct(-count, label)` — all shuffle hash operations on the node
    * key with partial aggregation; no windows, no driver state. The
    * rounds run through [[graft.Ckpt.iterate]].
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val (e2, _) = graft.Ckpt.settleBulk(
      edges.select(col("a").as("s"), col("b").as("t"))
        .unionAll(edges.select(col("b").as("s"), col("a").as("t")))).head
    // round 0 of the loop: settled here for its count, reused as is there
    val (lab0, nodeCount) = graft.Ckpt.settle(e2.select(col("s").as("n")).distinct()
      .withColumn("lab", col("n"))).head
    val bcMax = broadcastNodesMax(edges)
    graft.Ckpt.iterate("labelprop", lab0, iters) { (lab, _) =>
      e2.join(maybeBroadcast(lab.withColumnRenamed("n", "s"), nodeCount, bcMax), "s")
        .groupBy(col("t").as("n"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("n")
        .agg(min(struct((-col("cnt")).as("negc"), col("lab").as("lab"))).as("w"))
        .select(col("n"), col("w.lab").as("lab"))
    }(graft.Ckpt.rows).frame
  }

  /** Fixed-round k-core peeling (Seidman 1983 "Network structure and
    * minimum degree"; the distributed formulation is Montresor et al.
    * 2013's message-passing peeling): repeatedly drop nodes whose degree
    * in the SURVIVING subgraph is < k. The true k-core is the fixpoint;
    * a FIXED round count replaces the data-dependent convergence test so
    * the result is expressible as an unrolled SQL oracle — after R
    * rounds the survivor set is the standard "peeling depth R"
    * approximation from above (⊇ k-core, equal once peeling stabilises,
    * which on real graphs happens in a handful of rounds). k-core is the
    * classic graph-quality filter: spam/bot candidate pairs live in
    * low-core fringe, dense duplicate groups in high cores.
    *
    * Per round: one degree aggregation + two semi-joins (edges to
    * surviving endpoints) — all equi-operations on node keys.
    *
    * @return surviving edges after `rounds` peels at threshold `k`.
    */
  def kCoreEdges(edges: DataFrame, k: Long, rounds: Int): DataFrame =
    kCorePeel(edges, k, rounds)(graft.Ckpt.rows, (n: Long) => n).frame

  /** Per-round peeling summary of [[kCoreEdges]]: `(round, n_nodes, n_edges)`
    * after each of `rounds` peels at threshold `k` — always exactly `rounds`
    * rows, so the health view stays non-empty even when the core collapses.
    * Early-exits at the fixed point like [[kCoreEdges]] and replays the
    * settled row for the remaining rounds driver-side (bit-identical to the
    * unrolled oracle, which computes the no-op rounds explicitly).
    */
  def kCorePeelStats(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def sizes(e: DataFrame): (Long, Long) = {
      val nEdges = graft.Ckpt.rows(e)
      val nNodes =
        if (nEdges == 0L) 0L
        else e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
          .distinct().count()
      (nNodes, nEdges)
    }
    val signals = kCorePeel(edges, k, rounds)(sizes, (s: (Long, Long)) => s._2).signals
    (1 to rounds).map { r =>
      val (nNodes, nEdges) = signals(math.min(r, signals.size - 1))
      (r, nNodes, nEdges)
    }.toDF("round", "n_nodes", "n_edges").orderBy("round")
  }

  /** The peel loop of [[kCoreEdges]] and [[kCorePeelStats]]. Fixed-point
    * early exit: if a round removes no edge, every surviving node already
    * has deg >= k, so all remaining rounds are no-ops — stop issuing
    * cluster jobs. On dense graphs (where no node ever peels) this turns
    * O(rounds) full-graph passes into one, which is what blew up 10×-data
    * wall time before.
    */
  private def kCorePeel[S](edges: DataFrame, k: Long, rounds: Int)(
      signal: DataFrame => S, nEdges: S => Long): graft.Ckpt.Rounds[S] = {
    require(k >= 1 && rounds >= 1)
    val bcMax = broadcastNodesMax(edges)
    graft.Ckpt.iterate("kcore.peel", edges, rounds, bulk = true) { (e, _) =>
      val (keep, nKeep) = graft.Ckpt.settle(
        degrees(e).filter(col("deg") >= k).select(col("n"))).head
      val kb = maybeBroadcast(keep, nKeep, bcMax)
      e.join(kb.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(kb.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select("a", "b")
    }(signal, (prev, next) => nEdges(next) == nEdges(prev) || nEdges(next) == 0L)
  }

  /** Each edge oriented low-rank → high-rank, as `(u, v)`. The total
    * order on nodes is (degree, id): ties broken by id so the orientation
    * is a strict tournament regardless of degree collisions.
    */
  private[graft] def orient(e: DataFrame, deg: DataFrame): DataFrame = {
    val rk = deg.select(col("n"), struct(col("deg"), col("n")).as("rk"))
    e.join(rk.select(col("n").as("a"), col("rk").as("rka")), "a")
      .join(rk.select(col("n").as("b"), col("rk").as("rkb")), "b")
      .select(
        when(col("rka") < col("rkb"),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
  }

  /** Reference-quality O(n³) triangle count for specs. */
  private[graft] def triangleStatsNaive(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("a").as("x"), col("b").as("y"))
    val e2 = edges.select(col("a").as("y"), col("b").as("z"))
    val e3 = edges.select(col("a").as("x"), col("b").as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = degrees(edges)
    val nw = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    nw.crossJoin(ne).crossJoin(tri)
      .select("n_nodes", "n_edges", "n_triangles", "n_wedges")
  }
}
