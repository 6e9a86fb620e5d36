package graft

import graft.plans.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random

/** The custom per-key top-k operator (logical plan + strategy + bounded-heap
  * physical node) must agree exactly with the window-function idiom and
  * plan without a per-group sort.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def randomScored(seed: Int, nKeys: Int, nRows: Int) = {
    val rng = new Random(seed)
    // duplicate scores on purpose: tie-breaking must be deterministic
    Seq.fill(nRows)((rng.nextInt(nKeys).toLong, rng.nextInt(nRows).toLong,
      (rng.nextInt(20) / 10.0)))
      .toDF("query_id", "neighbor_id", "sim")
      .dropDuplicates("query_id", "neighbor_id")
  }

  test("matches the row_number window formulation exactly, including ties") {
    for ((seed, k) <- Seq((1, 1), (2, 3), (3, 10))) {
      val df = randomScored(seed, nKeys = 7, nRows = 300)
      val viaWindow = df
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id")))
          .cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
      val viaTopK = TopK.perKey(df, Seq("query_id"), "sim", k,
        tieCols = Seq("neighbor_id"))
        .select("query_id", "neighbor_id", "rank", "sim")
      assert(viaTopK.count() == viaWindow.count(), s"seed=$seed k=$k")
      assert(viaTopK.except(viaWindow).isEmpty && viaWindow.except(viaTopK).isEmpty,
        s"seed=$seed k=$k")
    }
  }

  test("plans the custom exec with a single hash exchange and no sort or window") {
    val df = randomScored(5, nKeys = 4, nRows = 100)
    val plan = TopK.perKey(df, Seq("query_id"), "sim", 3, tieCols = Seq("neighbor_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Window"), s"window should be gone:\n$plan")
    assert(!plan.toLowerCase.contains("sortexec") && !plan.contains("+- Sort"),
      s"no per-group sort expected:\n$plan")
  }

  test("map-side partial bounds shuffle volume to partitions·keys·k") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // checkpoint the 8-partition input so the top-k job's ONLY shuffle is the
    // operator's own hash exchange
    val df = randomScored(7, nKeys = 2, nRows = 4000)
      .repartition(8).localCheckpoint(true)
    val rows = df.count()
    val topk = TopK.perKey(df, Seq("query_id"), "sim", 3, tieCols = Seq("neighbor_id"))
    assert(topk.collect().length == 6)
    // AQE hides materialized exchanges inside query stages — descend into them
    def findExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case s: ShuffleExchangeExec => s +: s.children.flatMap(findExchanges)
      case q: QueryStageExec => findExchanges(q.plan)
      case a: AdaptiveSparkPlanExec => findExchanges(a.executedPlan)
      case other => other.children.flatMap(findExchanges)
    }
    val exchanges = findExchanges(topk.queryExecution.executedPlan)
    assert(exchanges.nonEmpty,
      s"expected the operator's hash exchange:\n${topk.queryExecution.executedPlan}")
    val written = exchanges.map(_.metrics("shuffleRecordsWritten").value).sum
    // 8 partitions × 2 keys × k=3 = 48 max; without the partial stage this
    // would be every scored candidate (~4000)
    assert(written <= 48, s"partial top-k should bound shuffle rows, wrote $written of $rows")
  }

  test("ascending order and custom rank name work") {
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 1.0), (1L, 12L, 3.0)).toDF("query_id", "neighbor_id", "sim")
    val r = TopK.perKey(df, Seq("query_id"), "sim", 2, descending = false,
      tieCols = Seq("neighbor_id"), rankName = "r")
      .select("neighbor_id", "r").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((11L, 1L), (12L, 2L)))
  }

  test("partial flush bound: identical results when heaps flush mid-partition") {
    // The partial stage's key-map is bounded by spark.graft.topk.flushRows
    // (the NN-Descent OOM fix); force constant flushing and prove the final
    // merge still produces the exact window-formulation answer.
    val df = randomScored(11, nKeys = 2000, nRows = 20000).repartition(4)
      .localCheckpoint(true)
    val k = 3
    def run() = TopK.perKey(df, Seq("query_id"), "sim", k,
      tieCols = Seq("neighbor_id")).select("query_id", "neighbor_id", "rank", "sim")
    val unflushed = run().collect().toSet
    spark.conf.set("spark.graft.topk.flushRows", "16")
    try {
      val res = run()
      val flushed = res.collect().toSet
      assert(flushed == unflushed,
        s"flush path changed results: ${flushed.size} vs ${unflushed.size}")
      // the memory bound, tested: each epoch emits the ≤ 16 rows it buffered
      val partial = executedNodes(res).collectFirst {
        case e: graft.plans.TopKPerKeyExec if e.partial => e.metrics.map { case (n, m) => n -> m.value }
      }.get
      assert(partial("numFlushes") > 1 &&
        partial("numOutputRows") <= 16 * partial("numFlushes"), partial)
    } finally spark.conf.unset("spark.graft.topk.flushRows")
  }
}
