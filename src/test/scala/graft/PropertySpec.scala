package graft

import graft.operators.{Components, Scores}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded randomized properties for the core invariants. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("components matches a reference union-find on random graphs, both paths") {
    val rng = new Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rng.nextInt(60)
      val m = 1 + rng.nextInt(3 * n)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val expected = referenceComponents(edges)
        for (threshold <- Seq(0L, Long.MaxValue)) {
          val got = Components.connected(edges.toDF("src", "dst"), smallGraphThreshold = threshold)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected, s"trial $trial threshold $threshold: $got != $expected")
        }
      }
    }
  }

  test("addEdges incremental update equals a full recompute on random graphs") {
    val rng = new Random(7)
    for (trial <- 1 to 6) {
      val n = 5 + rng.nextInt(50)
      val mOld = 1 + rng.nextInt(2 * n)
      val mNew = 1 + rng.nextInt(n)
      val oldEdges = Seq.fill(mOld)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // new edges may touch brand-new nodes (ids >= n)
      val newEdges = Seq.fill(mNew)(
        (rng.nextInt(n + 10).toLong, rng.nextInt(n + 10).toLong))
        .filter { case (a, b) => a != b }
      if (oldEdges.nonEmpty && newEdges.nonEmpty) {
        val persisted = Components.connected(oldEdges.toDF("src", "dst"))
        val got = Components.addEdges(persisted, newEdges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expected = referenceComponents(oldEdges ++ newEdges)
        assert(got == expected, s"trial $trial: $got != $expected")
      }
    }
  }

  test("addEdges multi-batch chains: deltas that progressively merge components, rep-of-rep") {
    // four 2-node components; each delta merges previously SEPARATE
    // components, so the persisted reps must chase across batches
    val base = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
    var persisted = Components.connected(base.toDF("src", "dst"))
    var cumulative = base
    val deltas = Seq(
      Seq((2L, 3L)),  // {1,2}+{3,4} -> comp 1
      Seq((6L, 7L)),  // {5,6}+{7,8} -> comp 5
      Seq((4L, 8L)),  // comp 1 + comp 5 -> comp 1 (rep of a merged rep)
      Seq((0L, 5L)))  // NEW node 0 becomes the min of the whole component
    deltas.zipWithIndex.foreach { case (delta, i) =>
      persisted = Components.addEdges(persisted, delta.toDF("src", "dst"))
        .localCheckpoint(false)
      cumulative = cumulative ++ delta
      val got = persisted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = referenceComponents(cumulative)
      assert(got == expected, s"after delta $i: $got != $expected")
    }
    // the final resolution is one component rooted at the late-arriving 0
    val comps = persisted.select("component").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(comps == Set(0L))
  }

  test("addEdges chained over random deltas equals full recompute at every step") {
    val rng = new Random(23)
    for (trial <- 1 to 3) {
      val n = 10 + rng.nextInt(40)
      val mOld = 1 + rng.nextInt(n)
      val oldEdges = Seq.fill(mOld)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (oldEdges.nonEmpty) {
        var persisted = Components.connected(oldEdges.toDF("src", "dst"))
        var cumulative = oldEdges
        for (step <- 1 to 4) {
          // each delta may bridge existing components and introduce new ids
          val delta = Seq.fill(1 + rng.nextInt(n / 2))(
            (rng.nextInt(n + 8 * step).toLong, rng.nextInt(n + 8 * step).toLong))
            .filter { case (a, b) => a != b }
          if (delta.nonEmpty) {
            persisted = Components.addEdges(persisted, delta.toDF("src", "dst"))
              .localCheckpoint(false)
            cumulative = cumulative ++ delta
            val got = persisted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            val expected = referenceComponents(cumulative)
            assert(got == expected, s"trial $trial step $step: $got != $expected")
          }
        }
      }
    }
  }

  test("triangle block join equals the naive cartesian on random vectors for any B") {
    val rng = new Random(11)
    for (trial <- 1 to 3) {
      val n = 20 + rng.nextInt(40)
      val dim = 4
      val vecs = (0 until n).map { i =>
        // sparse-ish ids (not 0..n-1) to exercise pmod blocking
        (i.toLong * 3 + rng.nextInt(2), Array.fill(dim)(rng.nextFloat() * 2 - 1))
      }
      val df = vecs.toDF("vec_id", "embedding")
      val naive = df.select(col("vec_id").as("left_id"), col("embedding").as("ea"))
        .join(df.select(col("vec_id").as("right_id"), col("embedding").as("eb")),
          col("left_id") < col("right_id"))
        .withColumn("sim", graft.functions.CosineSimilarity(col("ea"), col("eb")))
        .filter(col("sim") >= 0.2)
        .select("left_id", "right_id", "sim")
      for (b <- Seq(1, 3, 8)) {
        val tri = graft.operators.dedup.EmbedDedup
          .allPairs(df, "vec_id", "embedding", threshold = 0.2, numBlocks = b)
        assert(tri.except(naive).isEmpty && naive.except(tri).isEmpty,
          s"trial $trial B=$b")
      }
    }
  }

  test("distributed components path handles a 20k-edge mixed graph exactly") {
    // forces the large-star/small-star path (threshold 0) at a size where
    // multiple rounds actually run: chains (deep diameter), cliques (wide),
    // random noise edges — compared against the reference union-find
    val rng = new Random(99)
    val chain = (0L until 4000L).sliding(2).map(p => (p.head, p.last)).toSeq
    val cliques = (0 until 40).flatMap { c =>
      val base = 10000L + c * 50
      for (i <- 0 until 12; j <- i + 1 until 12) yield (base + i, base + j)
    }
    val noise = Seq.fill(12000)((rng.nextInt(30000).toLong, rng.nextInt(30000).toLong))
      .filter { case (a, b) => a != b }
    val edges = chain ++ cliques ++ noise
    val expected = referenceComponents(edges)
    val got = Components.connected(edges.toDF("src", "dst"), smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"distributed components wrong on ${edges.size} edges: " +
        s"${got.toSet.diff(expected.toSet).take(5)} vs ${expected.toSet.diff(got.toSet).take(5)}")
  }

  test("AST-fused weighted linker equals the naive per-comparison scoring on random rules") {
    import graft.operators.Link
    val rng = new Random(21)
    val n = 60
    def side(tag: String) = (0 until n).map { i =>
      (i.toLong, rng.nextInt(4), rng.nextInt(3), s"v${rng.nextInt(5)}", rng.nextInt(100))
    }.toDF("id", "a", "b", "name", "x")
    val left = side("l").localCheckpoint(true)
    val right = side("r").localCheckpoint(true)
    // rule pool mixes fusable equi-ANDs, residuals, parenthesised ORs, and
    // top-level ORs (never fusable), plus a literal containing ' AND '
    val pool = Seq(
      "l.a = r.a AND l.b = r.b",
      "l.a = r.a AND abs(l.x - r.x) < 30",
      "l.b = r.b AND (l.name = r.name OR l.x = r.x)",
      "l.a = r.a AND l.name = r.name OR l.b = r.b",
      "l.name = r.name AND l.name != 'zz AND zz'",
      "r.a = l.a AND l.x = r.x")
    for (trial <- 1 to 4) {
      val rules = rng.shuffle(pool).take(2 + rng.nextInt(3))
        .map(c => (c, 0.1 + rng.nextInt(9) / 10.0))
      val threshold = 0.2 + rng.nextInt(4) / 10.0
      val fused = Link.weighted(left, right, "id", "id", rules, threshold)
      // naive: per-comparison pair sets, integer milli-weights, same ratio
      val totalMilli = rules.map(w => math.round(w._2 * 1000)).sum
      val naive = rules.map { case (c, w) =>
        left.alias("l").join(right.alias("r"), expr(c))
          .select(col("l.id").cast("long").as("left_id"),
            col("r.id").cast("long").as("right_id"))
          .distinct()
          .withColumn("w", lit(math.round(w * 1000)))
      }.reduce(_ unionByName _)
        .groupBy("left_id", "right_id")
        .agg((sum(col("w")) / (1.0 * totalMilli)).as("score"))
        .filter(col("score") >= threshold)
      assert(fused.except(naive).isEmpty && naive.except(fused).isEmpty,
        s"trial $trial rules=$rules threshold=$threshold")
    }
  }

  test("n-ary explode equals chained binary explode on random sources") {
    import graft.operators.Combine
    val rng = new Random(7)
    for (trial <- 1 to 3) {
      def src(c: String) = Seq.fill(10 + rng.nextInt(20))(
        (rng.nextInt(12).toLong, rng.nextInt(5))).toDF("id", c)
      val (a, b, c) = (src("x"), src("y"), src("z"))
      val nary = Combine.explode(Seq(a, b, c), "id")
      val chained = Combine.explode(Combine.explode(a, b, "id"), c, "id")
      assert(nary.except(chained).isEmpty && chained.except(nary).isEmpty,
        s"trial $trial: n-ary and chained explode disagree")
      // every source id survives some row (full-outer semantics)
      val ids = nary.select("id").distinct().collect().map(_.getLong(0)).toSet
      val expected = (a.select("id") union b.select("id") union c.select("id"))
        .distinct().collect().map(_.getLong(0)).toSet
      assert(ids == expected)
    }
  }

  test("sampled u is clamped, deterministic, and exact under full coverage") {
    import graft.operators.Link
    val rng = new Random(13)
    val left = Seq.fill(40)((rng.nextInt(1000).toLong, rng.nextInt(4)))
      .distinctBy(_._1).toDF("id", "g")
    val right = Seq.fill(40)((rng.nextInt(1000).toLong + 10000, rng.nextInt(4)))
      .distinctBy(_._1).toDF("id", "g")
    val cond = Seq("l.g = r.g")
    val u = Link.estimateU(left, right, "id", "id", cond, maxPairs = 1000000L)
    assert(u.head > 0 && u.head < 1)
    assert(u == Link.estimateU(left, right, "id", "id", cond, maxPairs = 1000000L))
    // full coverage: the sample is the whole cross product, so u is the
    // exact agreement rate
    val exact = left.alias("l").crossJoin(right.alias("r"))
      .agg(avg(when(expr("l.g = r.g"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(math.abs(u.head - exact) < 1e-12, s"${u.head} vs $exact")
  }

  test("normalise is idempotent and orientation-invariant on random edge lists") {
    val rng = new Random(7)
    val edges = Seq.fill(300)((rng.nextInt(40).toLong, rng.nextInt(40).toLong,
      math.rint(rng.nextDouble() * 100) / 100))
      .filter { case (a, b, _) => a != b }
    val df = edges.toDF("left_id", "right_id", "score")
    val once = Scores.normalise(df)
    val twice = Scores.normalise(once)
    assert(once.except(twice).isEmpty && twice.except(once).isEmpty)
    assert(once.filter(col("left_id") >= col("right_id")).isEmpty)
    // swapping every pair's orientation must not change the result
    val swapped = Scores.normalise(df.select(
      col("right_id").as("left_id"), col("left_id").as("right_id"), col("score")))
    assert(once.except(swapped).isEmpty && swapped.except(once).isEmpty)
    // max semantics: every output score is the max over that canonical pair
    val truth = df.select(
      least(col("left_id"), col("right_id")).as("left_id"),
      greatest(col("left_id"), col("right_id")).as("right_id"), col("score"))
      .groupBy("left_id", "right_id").agg(max("score").as("score"))
    assert(once.except(truth).isEmpty && truth.except(once).isEmpty)
  }

  test("session_window equals the strict-gap islands formulation on random streams") {
    // Random event streams with deliberate exact-boundary collisions (gaps
    // drawn near the 60s session gap, including exactly 60s): the native
    // operator must match the lag/cumsum islands rebuild that the
    // q_session_window DuckDB oracle uses, with the SAME strict `>` split.
    val rng = new Random(7)
    for (trial <- 1 to 4) {
      val rows = (1 to 3).flatMap { user =>
        var t = 1700000000000000L // µs
        (1 to 20 + rng.nextInt(30)).map { _ =>
          // ~1 in 4 gaps land exactly on the 60s boundary (must MERGE)
          val gap = rng.nextInt(4) match {
            case 0 => 60000000L
            case 1 => 60000001L + rng.nextInt(1000000)
            case _ => rng.nextInt(60000000).toLong
          }
          t += gap
          (user.toLong, t)
        }
      }
      val ev = rows.toDF("user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      val native = ev
        .groupBy(col("user_id"), session_window(col("ts"), "60 seconds").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"), col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us")
      val islands = rows.toDF("user_id", "us")
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 60000000L, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(min("us").as("start_us"), (max("us") + 60000000L).as("end_us"),
          count(lit(1)).as("n"))
        .select("user_id", "start_us", "end_us", "n")
      assert(native.except(islands).isEmpty && islands.except(native).isEmpty,
        s"trial $trial: native session_window diverges from strict-gap islands")
    }
  }

  test("label propagation matches a driver-side reference on random graphs") {
    val rng = new Random(91)
    for (trial <- 1 to 6) {
      val n = 5 + rng.nextInt(40)
      val m = 1 + rng.nextInt(3 * n)
      val iters = 1 + rng.nextInt(4)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        // reference: synchronous updates, most-frequent neighbour label,
        // ties to the smallest label
        val adj = (edges ++ edges.map(_.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lab: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
        for (_ <- 1 to iters) {
          lab = adj.map { case (node, nbrs) =>
            val best = nbrs.groupBy(lab).view.mapValues(_.size)
              .toSeq.minBy { case (l, c) => (-c, l) }._1
            node -> best
          }
        }
        val got = graft.operators.GraphMetrics
          .labelPropagation(edges.toDF("a", "b"), iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == lab, s"trial $trial iters $iters: $got != $lab")
      }
    }
  }

  test("fixed-round k-core peeling matches a driver-side reference") {
    // reference: peel every round explicitly, no-op rounds included; the
    // survivors and (round, n_nodes, n_edges) after each round
    def check(label: String, edges: Seq[(Long, Long)], k: Long, rounds: Int): Unit = {
      var es = edges.toSet
      val wantStats = (1 to rounds).map { r =>
        val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        es = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        (r, es.toSeq.flatMap { case (a, b) => Seq(a, b) }.distinct.size.toLong,
          es.size.toLong)
      }
      val got = graft.operators.GraphMetrics
        .kCoreEdges(edges.toDF("a", "b"), k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == es, s"$label k=$k rounds=$rounds: $got != $es")
      val gotStats = graft.operators.GraphMetrics
        .kCorePeelStats(edges.toDF("a", "b"), k, rounds)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(gotStats == wantStats, s"$label k=$k rounds=$rounds: $gotStats != $wantStats")
    }
    val rng = new Random(23)
    for (trial <- 1 to 6) {
      val n = 6 + rng.nextInt(40)
      val m = 1 + rng.nextInt(4 * n)
      val k = 2L + rng.nextInt(3)
      val rounds = 1 + rng.nextInt(4)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) check(s"trial $trial", edges, k, rounds)
    }
    // a 4-clique with a 3-edge tail loses one tail edge per round; round 4
    // removes nothing, so the early exit replays its row for rounds 5-6
    val clique = for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)
    check("clique+tail", clique ++ Seq((3L, 4L), (4L, 5L), (5L, 6L)), k = 2L, rounds = 6)
  }

  test("prefix-filtered jaccard join equals the naive all-pairs join on random sets") {
    val rng = new Random(17)
    for (trial <- 1 to 5) {
      val n = 10 + rng.nextInt(30)
      val vocab = 8 + rng.nextInt(20)
      // random token-bag documents; a few near-identical pairs planted
      val base = Seq.tabulate(n)(i =>
        (i.toLong, Seq.fill(4 + rng.nextInt(20))(s"w${rng.nextInt(vocab)}").mkString(" ")))
      val planted = base.filter(_._1 % 4 == 0)
        .map { case (id, t) => (id + 1000L, t + " w0") }
      val docs = (base ++ planted).toDF("doc_id", "text")
        .select(col("doc_id"), lit("en").as("lang"), col("text"))
      // naive truth: all pairs over distinct 3-shingle-hash sets, 10o >= 6u
      val sets = docs.select(col("doc_id"),
          array_distinct(graft.functions.Sketches.shingleHashes(col("text"), 3)).as("sh"))
      val l = sets.select(col("doc_id").as("lid"), col("sh").as("lsh"))
      val r = sets.select(col("doc_id").as("rid"), col("sh").as("rsh"))
      val naive = l.crossJoin(r).where(col("lid") < col("rid"))
        .withColumn("o", expr("CAST(size(array_intersect(lsh, rsh)) AS BIGINT)"))
        .withColumn("u", expr("CAST(size(lsh) + size(rsh) AS BIGINT) - o"))
        .filter(expr("10 * o >= 6 * u"))
        .select(col("lid"), col("rid"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      val got = graft.queries.Pipeline.jaccardPrefixPairs(docs)
        .select(col("left_id"), col("right_id"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      assert(got == naive, s"trial $trial: $got != $naive")
    }
  }
}
