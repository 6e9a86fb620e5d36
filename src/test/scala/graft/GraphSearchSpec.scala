package graft

import graft.operators.ann.NnDescent
import graft.plans.GraphSearchExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import scala.util.Random

/** `NnDescent.searchGraph` runs as one partition-local exec over a
  * broadcast index; these cases pin its rows to a driver-side statement of
  * the search, its visited-set bound, and its named failures.
  */
class GraphSearchSpec extends SparkSpec {
  import spark.implicits._

  private type Vec = (Long, Array[Float])

  private def cosine(a: Array[Float], b: Array[Float]): Double =
    graft.functions.CosineSimilarity(
      Literal(ArrayData.toArrayData(a), ArrayType(FloatType, containsNull = false)),
      Literal(ArrayData.toArrayData(b), ArrayType(FloatType, containsNull = false)))
      .eval().asInstanceOf[Double]

  /** The search, stated on the driver: seed with the top `seeds` hubs and
    * the `seeds` floor nodes; `hops` times, expand the top `beam` visited
    * nodes to their out-neighbours that are targets and not yet visited,
    * and score them; return the top `k` visited, the query itself
    * excluded. Every order is sim descending under Spark's double order,
    * then node ascending. Hub flags and floor keys are Spark's own
    * hash expressions; sims are the CosineSimilarity expression's.
    */
  private def reference(
      queries: Seq[Vec], targets: Seq[Vec], edges: Seq[(Long, Long)],
      k: Int, beam: Int, hops: Int, seeds: Int, hubRate: Int,
      excludeSelf: Boolean): Seq[(Long, Long, Long, Double)] = {
    val keyed = targets.map(_._1).toDF("id")
      .select(col("id"), NnDescent.hubSample(col("id"), hubRate),
        xxhash64(col("id"), lit(11L)))
      .as[(Long, Boolean, Long)].collect().toSeq
    val hubs = keyed.filter(_._2).map(_._1)
    val floor = keyed.sortBy(r => (r._3, r._1)).take(seeds).map(_._1)
    val vec = targets.toMap
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    def before(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(a._2, b._2)
      c > 0 || (c == 0 && a._1 < b._1)
    }
    queries.flatMap { case (qid, qv) =>
      def score(n: Long) = n -> cosine(qv, vec(n))
      var visited = (hubs.map(score).sortWith(before).take(seeds) ++ floor.map(score)).toMap
      for (_ <- 1 to hops) {
        val frontier = visited.toSeq.sortWith(before).take(beam).map(_._1)
        val fresh = frontier.flatMap(out.getOrElse(_, Nil)).distinct
          .filter(n => vec.contains(n) && !visited.contains(n))
        visited ++= fresh.map(score)
      }
      visited.toSeq.filter(p => !excludeSelf || p._1 != qid).sortWith(before).take(k)
        .zipWithIndex.map { case ((n, s), i) => (qid, n, i + 1L, s) }
    }
  }

  private def frame(vs: Seq[Vec]): DataFrame = vs.toDF("id", "v")

  private def randomVecs(rng: Random, ids: Seq[Long], dim: Int): Seq[Vec] =
    ids.map(i => i -> Array.fill(dim)(rng.nextGaussian().toFloat))

  test("rows equal the driver-side reference exactly") {
    val rng = new Random(17)
    val targets = randomVecs(rng, 0L until 400L, 8)
    val edges = for (s <- 0L until 400L; _ <- 0 until 6) yield (s, rng.nextInt(400).toLong)
    // some query ids are targets (self-exclusion bites), the rest are new
    val queries = randomVecs(rng, (0L until 10L) ++ (1000L until 1020L), 8)
    // edges into and out of ids that are not targets
    val dangling = edges ++ (0L until 40L).map(s => (s, 900L + s)) ++
      (0L until 40L).map(s => (900L + s, s))
    // zero vectors: their cosine is 0.0 against everything, so the order
    // among them is by node alone
    val zeroT = targets.map { case (i, v) => if (i % 3 == 0) (i, new Array[Float](8)) else (i, v) }
    val zeroQ = queries.map { case (i, v) => if (i % 4 == 0) (i, new Array[Float](8)) else (i, v) }
    case class Case(name: String, q: Seq[Vec], t: Seq[Vec], e: Seq[(Long, Long)],
        hubRate: Int, excludeSelf: Boolean = true)
    val cases = Seq(
      Case("random graph", queries, targets, edges, 16),
      Case("random graph, self kept", queries, targets, edges, 16, excludeSelf = false),
      Case("disjoint ids, floor seeds only",
        queries.map { case (i, v) => (i + 5000L, v) }, targets, edges, 1000000),
      Case("edges to and from absent ids", queries, targets, dangling, 16),
      Case("zero vectors", zeroQ, zeroT, edges, 16))
    for (c <- cases; (k, beam, hops, seeds) <- Seq((5, 10, 3, 4), (3, 3, 1, 1))) {
      val got = NnDescent.searchGraph(frame(c.q).repartition(3), c.e.toDF("id", "nbr"),
        frame(c.t), "id", "v", k, beam, hops, seeds, c.excludeSelf, c.hubRate)
        .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._3))
      val want = reference(c.q, c.t, c.e, k, beam, hops, seeds, c.hubRate, c.excludeSelf)
        .sortBy(r => (r._1, r._3))
      assert(got == want, s"${c.name} (k=$k beam=$beam hops=$hops seeds=$seeds)")
      assert(got.map(_._1).distinct.size == c.q.size, s"${c.name}: every query returns rows")
    }
  }

  private def searchExec(df: DataFrame): GraphSearchExec = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan).collectFirst { case e: GraphSearchExec => e }.get
  }

  test("visited state is per query and bounded by 2·seeds + hops·beam·maxDegree") {
    // a star: node 0 links to 5,000 leaves and every leaf links back, so
    // expanding the hub visits the whole graph in one hop
    val rng = new Random(23)
    val leaves = 5000
    val center: Vec = (0L, Array(1f, 0f, 0f, 0f))
    val targets = center +: (1L to leaves.toLong).map(i =>
      i -> Array(0.2f, rng.nextFloat(), rng.nextFloat(), rng.nextFloat()))
    val edges = (1L to leaves.toLong).flatMap(i => Seq((0L, i), (i, 0L))).toDF("id", "nbr")
    val (seeds, beam, hops) = (4, 8, 3)
    def peak(nQueries: Int): Long = {
      val queries = (0 until nQueries).map(i => (100000L + i, Array(1f, 0.01f * (i % 7), 0f, 0f)))
      val res = NnDescent.searchGraph(frame(queries).coalesce(1), edges, frame(targets),
        "id", "v", k = 5, beam = beam, hops = hops, seeds = seeds)
      assert(res.collect().length == 5 * nQueries)
      val exec = searchExec(res)
      assert(exec.metrics("numQueries").value == nQueries)
      exec.metrics("peakVisited").value
    }
    val one = peak(1)
    val many = peak(200)
    assert(one >= leaves, s"the hub's out-list was never expanded: peak $one")
    assert(one <= 2 * seeds + hops * beam * leaves)
    assert(many == one, s"200 queries in one partition peaked at $many visited, one query at $one")
  }

  test("duplicate target ids fail by name") {
    val targets = frame(Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (1L, Array(1f, 1f))))
    val res = NnDescent.searchGraph(frame(Seq((9L, Array(1f, 0f)))),
      Seq((1L, 2L), (2L, 1L)).toDF("id", "nbr"), targets, "id", "v", k = 1, beam = 1,
      hops = 1, seeds = 1)
    val e = intercept[Exception](res.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("duplicate target id 1")), e.toString)
  }
}
