package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._
import scala.util.Random

/** The banded range join must agree exactly with the naive cross-join
  * formulation for any band width, and must plan as an equi-join (never a
  * nested loop) — that rewrite is its whole reason to exist.
  */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def randomData(seed: Int, nPoints: Int, nIntervals: Int) = {
    val rng = new Random(seed)
    val points = Seq.fill(nPoints)((rng.nextLong() % 500L, rng.nextInt(100).toLong))
      .zipWithIndex.map { case ((p, v), i) => (i.toLong, p, v) }
      .toDF("point_id", "p", "payload")
    val intervals = Seq.fill(nIntervals) {
      val s = rng.nextLong() % 500L
      (s, s + rng.nextInt(40).toLong)
    }.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      .toDF("interval_id", "lo", "hi")
    (points, intervals)
  }

  test("banded equals naive for assorted band widths, negative domains, ties") {
    for ((seed, w) <- Seq((1, 1L), (2, 7L), (3, 64L), (4, 1000L))) {
      val (points, intervals) = randomData(seed, nPoints = 300, nIntervals = 80)
      val banded = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", w)
        .select("point_id", "interval_id")
      val naive = points.crossJoin(intervals)
        .where(col("p") >= col("lo") && col("p") <= col("hi"))
        .select("point_id", "interval_id")
      assert(Gate.sameRows(banded, naive),
        s"seed=$seed bandWidth=$w diverged from naive")
    }
  }

  test("bounds are inclusive on both ends and self-width intervals match") {
    val points = Seq((1L, 10L), (2L, 11L), (3L, 9L)).toDF("point_id", "p")
    val intervals = Seq((100L, 10L, 10L)).toDF("interval_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 5)
      .select("point_id").as[Long].collect().sorted
    assert(got.sameElements(Array(1L)))
  }

  test("extra equi keys restrict matches and collapse duplicate columns") {
    val points = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("point_id", "p", "k")
    val intervals = Seq((100L, 0L, 20L, "a")).toDF("interval_id", "lo", "hi", "k")
    val got = RangeJoin.pointInInterval(
      points, "p", intervals, "lo", "hi", 7, extraEquiKeys = Seq("k"))
    assert(got.columns.count(_ == "k") == 1)
    assert(got.select("point_id").as[Long].collect().sameElements(Array(1L)))
  }

  test("plans an equi-join on the band key, not a nested loop") {
    val (points, intervals) = randomData(5, 200, 50)
    val plan = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("bands are exact beyond 2^53 (double floor-division would mis-band)") {
    // 2^53 + 1 is the first long a double cannot represent; points and
    // interval bounds straddling a band boundary up there must still match
    // exactly. Width 3 makes boundaries land off the double grid.
    val base = (1L << 53) + 1L
    val points = Seq((1L, base), (2L, base + 1L), (3L, base + 2L), (4L, base + 3L))
      .toDF("point_id", "p")
    val intervals = Seq((100L, base, base + 1L), (101L, base + 3L, base + 3L))
      .toDF("interval_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 3L)
      .select("point_id", "interval_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 100L), (4L, 101L)))
  }

  test("rejects a non-positive band width") {
    val (points, intervals) = randomData(6, 10, 5)
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 0)
    }
  }
}
