package graft

import graft.operators.ann.NnDescent
import graft.plans.{DescentRound, DescentRoundExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import scala.util.Random

/** One NN-Descent round runs as one exec over a broadcast round index;
  * these cases pin its rows to a driver-side statement of the round, its
  * metrics, and its named failures.
  */
class DescentRoundSpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (Long, Long, Double, Boolean)
  private type Vec = (Long, Array[Float])

  private def cosine(a: Array[Float], b: Array[Float]): Double =
    graft.functions.CosineSimilarity(
      Literal(ArrayData.toArrayData(a), ArrayType(FloatType, containsNull = false)),
      Literal(ArrayData.toArrayData(b), ArrayType(FloatType, containsNull = false)))
      .eval().asInstanceOf[Double]

  /** The round, stated on the driver. A node's neighbourhood is its whole
    * forward list plus the `cap − kBuild` sources of its in-edges with the
    * smallest (xxhash64(source, round), source), fresh if either route's
    * edge is, and then only members that have a vector. Every member pair
    * with a fresh member proposes both directed edges, scored by the
    * CosineSimilarity expression. Old edges enter stale; per (id, nbr) the
    * sim is the max and the edge is fresh only if every copy is; each id
    * keeps its top `kBuild` by sim descending under Spark's double order,
    * then nbr ascending. The salt is Spark's own xxhash64.
    */
  private def reference(graph: Seq[Edge], vecs: Seq[Vec], round: Int, kBuild: Int, cap: Int)
      : (Seq[Edge], Long, Long) = {
    val hs = graph.map(_._1).distinct.toDF("id")
      .select(col("id"), xxhash64(col("id"), lit(round))).as[(Long, Long)].collect().toMap
    val vec = vecs.toMap
    val nodes = (graph.map(_._1) ++ graph.map(_._2)).distinct
    val hoods = nodes.map { y =>
      val fwd = graph.filter(_._1 == y).map(e => e._2 -> e._4)
      val rev = graph.filter(_._2 == y).sortBy(e => (hs(e._1), e._1)).take(cap - kBuild)
        .map(e => e._1 -> e._4)
      (fwd ++ rev).groupBy(_._1).map { case (m, fs) => m -> fs.exists(_._2) }
        .filter { case (m, _) => vec.contains(m) }
    }
    val proposals = for {
      h <- hoods; (a, fa) <- h; (b, fb) <- h if a != b && (fa || fb)
    } yield (a, b, cosine(vec(a), vec(b)), true)
    def before(a: Edge, b: Edge): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(a._3, b._3)
      c > 0 || (c == 0 && a._2 < b._2)
    }
    val merged = (graph.map(e => e.copy(_4 = false)) ++ proposals)
      .groupBy(e => (e._1, e._2)).values
      .map(es => es.reduce((a, b) => (a._1, a._2,
        if (SQLOrderingUtil.compareDoubles(a._3, b._3) >= 0) a._3 else b._3, a._4 && b._4)))
      .toSeq.groupBy(_._1).values.flatMap(_.sortWith(before).take(kBuild)).toSeq
    (merged, hoods.map(_.size.toLong).sum, proposals.size.toLong)
  }

  private def roundExec(df: DataFrame): DescentRoundExec =
    executedNodes(df).collectFirst { case e: DescentRoundExec => e }.get

  test("one round's rows equal the driver-side reference exactly") {
    val rng = new Random(31)
    val dim = 6
    // ids 0-59 have vectors (every 7th a zero vector); 60-69 are graph
    // nodes without one; 100-119 only appear as edge targets
    val vecs: Seq[Vec] = (0L until 60L).map { i =>
      i -> (if (i % 7 == 3) new Array[Float](dim) else Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    val kBuild = 6
    val graph: Seq[Edge] = (0L until 70L).flatMap { i =>
      // node 0 is a hub: every node points at it, so its reverse sample caps
      val nbrs = (0L +: Seq.fill(kBuild)(
        if (rng.nextInt(8) == 0) 100L + rng.nextInt(20) else rng.nextInt(70).toLong))
        .distinct.filter(_ != i).take(kBuild)
      nbrs.map(j => (i, j, rng.nextInt(2000) / 1000.0 - 1.0, rng.nextInt(3) == 0))
    }
    val vf = vecs.toDF("id", "v")
    val gf = graph.toDF("id", "nbr", "sim", "fresh").repartition(3)
    for ((round, kb, cap) <- Seq((1, kBuild, 9), (3, kBuild, 9), (2, 4, 12))) {
      // lists over kBuild keep their best kb, as the loop's lists are
      val g = if (kb == kBuild) graph
        else graph.groupBy(_._1).values.flatMap(_.sortBy(e => (-e._3, e._2)).take(kb)).toSeq
      val res = DescentRound(if (kb == kBuild) gf else g.toDF("id", "nbr", "sim", "fresh"),
        vf, round, kb, cap)
      val got = res.collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .sortBy(e => (e._1, e._2))
      val (want, members, proposals) = reference(g, vecs, round, kb, cap)
      assert(got == want.sortBy(e => (e._1, e._2)), s"round=$round kBuild=$kb cap=$cap")
      assert(got.exists(_._4) && got.exists(!_._4), "fresh and stale edges both survive")
      val m = roundExec(res).metrics
      assert(m("numNodes").value == got.map(_._1).distinct.size)
      assert(m("numMembers").value == members)
      assert(m("numProposals").value == proposals)
      assert(m("numScored").value > 0 && m("numScored").value <= proposals)
      assert(m("numFresh").value == got.count(_._4))
    }
  }

  test("a descent round is two Spark jobs: the index broadcast and the settle") {
    val rng = new Random(9)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("id", "v")
    val graph = (0L until 200L).flatMap(i => (1 to 4).map(d => (i, (i + d * 37) % 200, 0.0, true)))
      .toDF("id", "nbr", "sim", "fresh")
    val Seq((v, _), (g, _)) = Ckpt.settle(vecs, graph)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // round 0 is already materialized: its fresh count is one job
      val rounds = Ckpt.iterate("nnd.round", g, 3) { (nn, r) =>
        DescentRound(nn, v, r, kBuild = 4, cap = 8)
      }(Ckpt.rowsWhere("fresh"))
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      assert(rounds.signals.size == 4 && rounds.signals.last > 0, rounds.signals)
      assert(jobs.get == 1 + 3 * 2, s"${jobs.get} jobs for 3 rounds")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("duplicate ids fail by name in knnGraph and addVectors") {
    def failsWith(what: String)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(what)), e.toString)
    }
    val rng = new Random(5)
    val vecs = (0L until 30L).map(i => (i, Array.fill(4)(rng.nextFloat())))
    failsWith("duplicate vector id 7") {
      NnDescent.knnGraph((vecs :+ (7L -> Array(1f, 0f, 0f, 0f))).toDF("id", "v"),
        "id", "v", k = 2).collect()
    }
    val base = vecs.toDF("id", "v")
    val graph = NnDescent.knnGraph(base, "id", "v", k = 2).localCheckpoint(true)
    failsWith("duplicate vector id 12") {
      NnDescent.addVectors(graph, base, Seq((12L, Array(0f, 1f, 0f, 0f)),
        (40L, Array(1f, 1f, 0f, 0f))).toDF("id", "v"), "id", "v", k = 2).collect()
    }
  }
}
