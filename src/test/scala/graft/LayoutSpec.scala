package graft

import graft.functions.{InterleaveBits, ZOrder}
import graft.operators.Layout
import org.apache.spark.sql.functions._
import scala.util.Random

/** Morton interleave + Z-order layout: bit-exact interleaving, codegen
  * parity, and the actual pruning property — z-clustered partitions must
  * have tighter two-dimensional bounding boxes than a single-column sort.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("morton code interleaves bits exactly") {
    assert(InterleaveBits.morton(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
    assert(InterleaveBits.morton(0L, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
    assert(InterleaveBits.morton(0L, 0L) == 0L)
    val rng = new Random(7)
    for (_ <- 1 to 200) {
      val a = rng.nextLong() & 0xFFFFFFFFL
      val b = rng.nextLong() & 0xFFFFFFFFL
      // reference: place bit i of a at 2i, bit i of b at 2i+1
      var expect = 0L
      for (i <- 0 until 32) {
        expect |= ((a >>> i) & 1L) << (2 * i)
        expect |= ((b >>> i) & 1L) << (2 * i + 1)
      }
      assert(InterleaveBits.morton(a, b) == expect, s"a=$a b=$b")
    }
  }

  test("codegen path agrees with interpreted eval, fallback disabled") {
    val df = Seq((1L, 2L), (0xFFFFFFFFL, 0L), (123456789L, 987654321L))
      .toDF("a", "b")
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val got = df.select(ZOrder.interleave(col("a"), col("b")).as("z"))
        .as[Long].collect()
      val expect = Seq(
        InterleaveBits.morton(1L, 2L),
        InterleaveBits.morton(0xFFFFFFFFL, 0L),
        InterleaveBits.morton(123456789L, 987654321L))
      assert(got.toSeq == expect)
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("searched bucket is an exact upper bound, ties and all, codegen on") {
    import graft.functions.SearchedBucket
    val cuts = Array(1.0, 3.0, 3.0, 7.0)
    assert(SearchedBucket.bucketOf(0.5, cuts) == 0L)
    assert(SearchedBucket.bucketOf(1.0, cuts) == 1L) // boundary goes up
    assert(SearchedBucket.bucketOf(3.0, cuts) == 3L) // past BOTH equal cuts
    assert(SearchedBucket.bucketOf(7.5, cuts) == 4L)
    val df = Seq(0.5, 1.0, 3.0, 7.5).toDF("v")
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val got = df.select(
        ZOrder.searchedBucket(col("v"), cuts).as("b")).as[Long].collect().toSeq
      assert(got == Seq(0L, 1L, 3L, 4L))
    }
  }

  test("zorder plans no global-window single-partition exchange") {
    val data = Seq.fill(100)((Random.nextInt(50).toLong, Random.nextInt(50).toLong))
      .toDF("x", "y")
    val plan = Layout.zorder(data, "x", "y", 4).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"zorder still plans a Window:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"zorder funnels through a single partition:\n$plan")
  }

  test("z-order layout prunes partitions for predicates on the SECOND dimension") {
    val rng = new Random(11)
    val data = Seq.fill(4000)((rng.nextInt(1000).toLong, rng.nextInt(1000).toLong))
      .toDF("x", "y")
    val files = 16

    // min/max stats per partition — exactly what parquet footers give a
    // file-pruning reader
    def stats(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid").agg(min("y").as("lo"), max("y").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))

    // how many partitions a pruning reader must open for y-window predicates
    def touched(st: Array[(Long, Long)]): Int =
      (0 until 1000 by 100).map { w =>
        st.count { case (lo, hi) => hi >= w && lo <= w + 49 }
      }.sum

    val zTouched = touched(stats(Layout.zorder(data, "x", "y", files)))
    val sortTouched = touched(stats(
      data.repartitionByRange(files, col("x")).sortWithinPartitions("x")))

    // The x-sorted layout spans ALL of y in every partition — a y predicate
    // opens every file. Z-order bounds y per partition; require >= 2x fewer
    // opens to be robust to tile boundary straddling.
    assert(zTouched * 2 <= sortTouched,
      s"z-order should prune y-predicates: z=$zTouched sort=$sortTouched")
  }

  test("zorder preserves rows exactly and drops helper columns") {
    val data = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("x", "y", "payload")
    val out = Layout.zorder(data, "x", "y", 2)
    assert(out.columns.toSeq == Seq("x", "y", "payload"))
    assert(Gate.sameRows(out, data))
  }
}
