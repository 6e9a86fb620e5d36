package graft

import graft.operators.GraphMetrics
import org.apache.spark.sql.functions._
import scala.util.Random

/** Degree-oriented triangle counting must agree exactly with the naive
  * canonical triple-join on arbitrary graphs, count each triangle once
  * regardless of degree ties, and survive messy (duplicated / reversed /
  * self-loop) pair input through canonicalisation.
  */
class GraphMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(seed: Int, n: Int, m: Int) = {
    val rng = new Random(seed)
    Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .toDF("left_id", "right_id")
  }

  test("oriented triangle count equals the naive triple join on random graphs") {
    for ((seed, n, m) <- Seq((11, 20, 60), (12, 50, 300), (13, 8, 80))) {
      val e = GraphMetrics.canonicalEdges(randomEdges(seed, n, m), "left_id", "right_id")
      val fast = GraphMetrics.triangleStats(e).collect()(0)
      val naive = GraphMetrics.triangleStatsNaive(e).collect()(0)
      assert(fast == naive, s"seed=$seed: oriented=$fast naive=$naive")
    }
  }

  test("DOULION estimate: exact on the sampled subgraph, scaled by invP cubed") {
    for ((seed, n, m, invP) <- Seq((21, 30, 200, 2), (22, 60, 500, 4))) {
      val e = GraphMetrics.canonicalEdges(randomEdges(seed, n, m), "left_id", "right_id")
        .localCheckpoint(false)
      val est = GraphMetrics.triangleEstimateDoulion(e, invP).head()
      // the operator's sampled count must equal the naive count over the
      // SAME congruence-sampled edges (the exactness gate), and the
      // estimate must be exactly that count times invP^3
      val sampled = e.filter(expr(
        s"""CAST(conv(substring(md5(concat(CAST(a AS STRING), ',', CAST(b AS STRING))),
           |  1, 4), 16, 10) AS BIGINT) % $invP = 0""".stripMargin))
      val naive = GraphMetrics.triangleStatsNaive(sampled).head()
      assert(est.getAs[Long]("sampled_edges") == naive.getAs[Long]("n_edges"))
      assert(est.getAs[Long]("sampled_triangles") == naive.getAs[Long]("n_triangles"))
      assert(est.getAs[Long]("est_triangles") ==
        naive.getAs[Long]("n_triangles") * invP.toLong * invP * invP)
      assert(est.getAs[Long]("inv_p") == invP.toLong)
    }
    // invP=1 would be a no-op disguise; the operator refuses it
    intercept[IllegalArgumentException] {
      GraphMetrics.triangleEstimateDoulion(
        Seq((1L, 2L)).toDF("a", "b"), 1)
    }
  }

  test("the sorted-merge intersect kernel matches array_intersect on adjacency shapes") {
    // The native two-pointer kernel only sees sorted distinct arrays in
    // triangleStats; pin it against the built-in on exactly that shape,
    // including empty and disjoint arrays and both codegen'd and
    // interpreted eval (the spec frame is small enough that Spark fuses
    // the expression once and twice across the two projections).
    val rng = new Random(41)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rng.nextInt(20))(rng.nextInt(30).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(20))(rng.nextInt(30).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.SortedIntersectCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(got.where(col("c") =!= col("ref")).count() == 0)
  }

  test("the values kernel equals sorted array_intersect, elements and order") {
    val rng = new Random(43)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rng.nextInt(20))(rng.nextInt(30).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(20))(rng.nextInt(30).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.SortedIntersectValues(col("a"), col("b")).as("v"),
      // array_intersect preserves left order; left is sorted, so the
      // reference is ascending exactly like the kernel's merge output
      array_intersect(col("a"), col("b")).as("ref"))
    assert(got.where(col("v") =!= col("ref")).count() == 0)
    // SQL registration coerces int-literal arrays (the getLong hazard)
    val one = spark.sql(
      "SELECT sorted_intersect_values(array(1, 2, 3), array(2, 3, 4)) AS v")
      .head().getSeq[Long](0)
    assert(one == Seq(2L, 3L))
  }

  test("durable checkpoint mode converges identically to localCheckpoint mode") {
    // spark.graft.checkpoint.dir switches every iterative operator's
    // per-round lineage cut from executor-local blocks to reliable
    // checkpoint files (the fault-tolerant mode for a real cluster).
    // Truncation must never change results: pin PageRank, k-core and
    // components bit-identical across the two modes.
    val e = GraphMetrics.canonicalEdges(randomEdges(51, 40, 200), "left_id", "right_id")
    val pairs = randomEdges(52, 60, 150)
      .withColumnRenamed("left_id", "src").withColumnRenamed("right_id", "dst")
    def run() = (
      GraphMetrics.pageRank(e, iters = 5).orderBy("n").collect().toSeq,
      GraphMetrics.kCoreEdges(e, k = 3, rounds = 4).orderBy("a", "b").collect().toSeq,
      graft.operators.Components.connected(pairs, smallGraphThreshold = 0)
        .orderBy("id").collect().toSeq)
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val durable = run()
      assert(durable == local)
      // the durable mode really did write reliable checkpoints
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0,
        "no checkpoint files written under spark.graft.checkpoint.dir")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("a k-clique has C(k,3) triangles and C(k,2) edges; ties in degree are fine") {
    val k = 7
    val pairs = (for (i <- 0 until k; j <- 0 until k if i != j)
      yield (i.toLong, j.toLong)).toDF("left_id", "right_id")
    val e = GraphMetrics.canonicalEdges(pairs, "left_id", "right_id")
    val row = GraphMetrics.triangleStats(e).collect()(0)
    assert(row.getLong(0) == k)                      // nodes
    assert(row.getLong(1) == k * (k - 1) / 2)        // edges
    assert(row.getLong(2) == k * (k - 1) * (k - 2) / 6) // triangles
    assert(row.getLong(3) == k.toLong * ((k - 1) * (k - 2) / 2)) // wedges
  }

  test("canonicalisation drops self-loops and merges duplicate orientations") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L), (3L, 1L))
      .toDF("left_id", "right_id")
    val e = GraphMetrics.canonicalEdges(pairs, "left_id", "right_id")
    assert(e.count() == 3)
    val row = GraphMetrics.triangleStats(e).collect()(0)
    assert(row.getLong(2) == 1, s"expected the single 1-2-3 triangle: $row")
    val hist = GraphMetrics.degreeHistogram(e).as[(Long, Long)].collect().toSeq
    assert(hist == Seq((2L, 3L)), s"all three nodes have degree 2: $hist")
  }

  /** Driver-side integer PageRank mirror — the exact recurrence the
    * distributed operator (and the unrolled DuckDB oracle) computes.
    */
  private def pageRankRef(
      edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 100000000L, aN: Long = 85, aD: Long = 100,
      seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val adj = (edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val deg = adj.map { case (n, ns) => n -> ns.size.toLong }
    def sflag(n: Long): Long = if (seeds.forall(_.contains(n))) 1L else 0L
    val base = (aD - aN) * scale / aD
    var r = deg.map { case (n, _) => n -> scale * sflag(n) }
    (1 to iters).foreach { _ =>
      val c = r.map { case (n, v) => n -> v / deg(n) }
      r = adj.map { case (n, ns) =>
        n -> (aN * ns.map(c).sum / aD + base * sflag(n))
      }
    }
    r
  }

  test("distributed integer PageRank equals the driver-side reference exactly") {
    for ((seed, n, m) <- Seq((21, 15, 40), (22, 40, 200))) {
      val e = GraphMetrics.canonicalEdges(randomEdges(seed, n, m), "left_id", "right_id")
      val got = GraphMetrics.pageRank(e, iters = 4)
        .as[(Long, Long)].collect().toMap
      val want = pageRankRef(
        e.as[(Long, Long)].collect().toSeq, iters = 4)
      assert(got == want, s"seed=$seed")
    }
  }

  test("personalized PageRank equals the seeded reference; non-seeds only earn in-flow") {
    val e = GraphMetrics.canonicalEdges(randomEdges(31, 30, 120), "left_id", "right_id")
    val edgeSeq = e.as[(Long, Long)].collect().toSeq
    val seedSet = edgeSeq.flatMap(p => Seq(p._1, p._2)).distinct.filter(_ % 3 == 0).toSet
    val seeds = seedSet.toSeq.toDF("n")
    val got = GraphMetrics.pageRankPersonalized(e, seeds, iters = 4)
      .as[(Long, Long)].collect().toMap
    val want = pageRankRef(edgeSeq, iters = 4, seeds = Some(seedSet))
    assert(got == want)
    // global variant through the same impl still matches the unseeded ref
    val gotAll = GraphMetrics.pageRank(e, iters = 4).as[(Long, Long)].collect().toMap
    assert(gotAll == pageRankRef(edgeSeq, iters = 4))
    // the graph has non-seed nodes, and total rank mass never exceeds the
    // seed-injected fixed point |S|·scale (floors only lose mass)
    val nonSeedRanks = got.collect { case (n, r) if !seedSet.contains(n) => r }
    assert(seedSet.nonEmpty && nonSeedRanks.nonEmpty)
    assert(got.values.sum <= seedSet.size * 100000000L)
  }

  test("PageRank invariants: every rank >= base, mass bounded by n*scale, star hub dominates") {
    val scale = 100000000L
    val star = (1L to 8L).map(i => (0L, i)).toDF("left_id", "right_id")
    val e = GraphMetrics.canonicalEdges(star, "left_id", "right_id")
    val r = GraphMetrics.pageRank(e, iters = 5, scale = scale)
      .as[(Long, Long)].collect().toMap
    assert(r.size == 9)
    val base = 15L * scale / 100
    assert(r.values.forall(_ >= base))
    // floors only ever lose rank mass, never create it
    assert(r.values.sum <= 9L * scale)
    // the hub holds strictly more rank than any leaf, leaves all equal
    val leaves = (1L to 8L).map(r)
    assert(leaves.distinct.size == 1 && r(0L) > leaves.head)
  }

  test("a path graph has zero triangles but n-2 wedges") {
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val e = GraphMetrics.canonicalEdges(pairs, "left_id", "right_id")
    val row = GraphMetrics.triangleStats(e).collect()(0)
    assert(row.getLong(0) == 10 && row.getLong(1) == 9)
    assert(row.getLong(2) == 0 && row.getLong(3) == 8)
  }

  test("local clustering: triangle + pendant pins every column") {
    // triangle {1,2,3} plus pendant 4 hanging off 3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphMetrics.localClustering(e).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1000L)), 2L -> ((2L, 1L, 1000L)),
      3L -> ((3L, 1L, 333L)), 4L -> ((1L, 0L, -1L))))
  }

  test("local clustering credits sum to exactly 3x the global triangle count") {
    val rng = new scala.util.Random(4242)
    val edges = Seq.fill(160)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val e = edges.toDF("a", "b")
    val perNode = GraphMetrics.localClustering(e)
    val total = GraphMetrics.triangleStats(e).collect()(0).getLong(2)
    val creditSum = perNode.agg(sum("n_triangles")).head().getLong(0)
    assert(creditSum == 3 * total, s"$creditSum != 3 x $total")
    // cc bounds on the domain
    assert(perNode.filter(col("cc_permille") < 0 || col("cc_permille") > 1000).isEmpty)
    assert(perNode.filter(col("degree") < 2 && col("cc_permille").isNotNull).isEmpty)
  }
}
