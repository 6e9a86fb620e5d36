package graft

import graft.plans.{NnMerge, NnMergeExec, TopK, TopKPerKeyExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** The NN-Descent merge combiner ([[graft.plans.NnMerge]]) must be
  * result-invariant: dedup(id,nbr)+top-k applied map-side BEFORE the merge
  * exchange may only ever drop rows the global merge aggregate + TopK would
  * truncate anyway. The adversarial inputs here stress exactly the risky
  * cases — duplicate (id,nbr) pairs split across partitions with DIFFERENT
  * fresh flags, per-id row counts straddling k, and a flush bound small
  * enough to force multiple emit epochs per partition.
  */
class NnMergeSpec extends SparkSpec {
  import spark.implicits._

  private def mergeReference(df: DataFrame, k: Int): DataFrame =
    TopK.perKey(
      df.groupBy("id", "nbr")
        .agg(max("sim").as("sim"), min("fresh").as("fresh")),
      Seq("id"), "sim", k, tieCols = Seq("nbr")).drop("rank")

  private def viaCombine(df: DataFrame, k: Int): DataFrame =
    TopK.perKey(
      NnMerge.combine(df, k)
        .repartition(col("id"))
        .groupBy("id", "nbr")
        .agg(max("sim").as("sim"), min("fresh").as("fresh")),
      Seq("id"), "sim", k, tieCols = Seq("nbr")).drop("rank")

  private def randomEdges(seed: Int, nIds: Int, nRows: Int) = {
    val rng = new Random(seed)
    // duplicates across the frame are the point: the same (id,nbr) appears
    // with fresh=true AND fresh=false; sims for a given (id,nbr) are equal
    // (the kernel-determinism invariant the combiner relies on)
    val sims = Map.empty[(Long, Long), Double]
    var simFor = Map.empty[(Long, Long), Double]
    Seq.fill(nRows) {
      val id = rng.nextInt(nIds).toLong
      val nbr = rng.nextInt(nIds).toLong
      val key = (id, nbr)
      val sim = simFor.getOrElse(key, {
        val s = rng.nextInt(1000) / 1000.0
        simFor += key -> s
        s
      })
      (id, nbr, sim, rng.nextBoolean())
    }.toDF("id", "nbr", "sim", "fresh")
  }

  test("combine + merge == plain merge, including fresh flags and ties") {
    for ((seed, k, parts) <- Seq((1, 2, 3), (2, 5, 8), (3, 20, 2))) {
      val df = randomEdges(seed, nIds = 12, nRows = 600).repartition(parts)
        .localCheckpoint(true)
      val ref = mergeReference(df, k)
      val got = viaCombine(df, k)
      assert(got.count() == ref.count(), s"seed=$seed k=$k")
      assert(Gate.sameRows(got, ref),
        s"seed=$seed k=$k")
    }
  }

  test("flush epochs (tiny flushRows) keep the result identical") {
    val prev = spark.conf.getOption("spark.graft.topk.flushRows")
    spark.conf.set("spark.graft.topk.flushRows", "7")
    try {
      val df = randomEdges(11, nIds = 9, nRows = 500).repartition(4)
        .localCheckpoint(true)
      val ref = mergeReference(df, 3)
      val got = viaCombine(df, 3).localCheckpoint(false)
      assert(Gate.sameRows(got, ref))
      // the memory bound, tested: no epoch buffered more than 7 rows
      val m = combineMetrics(viaCombine(df, 3))
      assert(m("numRowsIn") == 500)
      assert(m("numFlushes") > 1 && m("numRowsIn") <= 7 * m("numFlushes"), m)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.topk.flushRows", v)
        case None => spark.conf.unset("spark.graft.topk.flushRows")
      }
    }
  }

  /** The combiner's metrics after `df` has run. */
  private def combineMetrics(df: DataFrame): Map[String, Long] = {
    df.collect()
    executedNodes(df).collectFirst { case e: NnMergeExec => e }.get
      .metrics.map { case (n, m) => n -> m.value }
  }

  test("rows in, rows out and flushes are published by both combiners") {
    val df = randomEdges(21, nIds = 4, nRows = 800).coalesce(1).localCheckpoint(true)
    val combined = NnMerge.combine(df, 5)
    val m = combineMetrics(combined)
    assert(m("numRowsIn") == 800 && m("numFlushes") == 1, m)
    assert(m("numOutputRows") == combined.count(), m)
    val top = TopK.perKey(df, Seq("id"), "sim", 2, tieCols = Seq("nbr"))
    top.collect()
    val Seq(partial, last) = executedNodes(top).collect { case e: TopKPerKeyExec => e }
      .sortBy(!_.partial).map(_.metrics.map { case (n, m) => n -> m.value })
    assert(partial("numRowsIn") == 800 && partial("numFlushes") == 1, partial)
    assert(partial("numOutputRows") <= 4 * 2 * 10, partial)
    assert(last("numRowsIn") == partial("numOutputRows"), last)
    assert(last("numOutputRows") == top.count(), last)
  }

  test("flushRows below 1 fails by name in both combiners") {
    val df = randomEdges(3, nIds = 4, nRows = 50)
    spark.conf.set("spark.graft.topk.flushRows", "0")
    try {
      for (run <- Seq(() => NnMerge.combine(df, 2).collect(),
          () => TopK.perKey(df, Seq("id"), "sim", 2).collect())) {
        val e = intercept[Exception](run())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("spark.graft.topk.flushRows must be >= 1, got 0")),
          e.toString)
      }
    } finally spark.conf.unset("spark.graft.topk.flushRows")
  }

  test("combiner bounds per-partition output to ids·k deduplicated rows") {
    // one partition, 4 ids × 200 rows each (with duplicates) → combine
    // output must be ≤ 4·k rows and contain no (id,nbr) duplicates
    val df = randomEdges(21, nIds = 4, nRows = 800).coalesce(1)
      .localCheckpoint(true)
    val k = 5
    val combined = NnMerge.combine(df, k)
    val out = combined.collect()
    assert(out.length <= 4 * k, s"expected <= ${4 * k} rows, got ${out.length}")
    val keys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "duplicate (id,nbr) in combine output")
  }
}
