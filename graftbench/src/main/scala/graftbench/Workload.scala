package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** A correctness gate failed: the program's output disagrees with the
  * planted truth or with the benchmark's own recomputation.
  */
final class GateFailure(workload: String, msg: String)
    extends RuntimeException(s"[$workload] $msg")

/** One generated input as written to parquet. */
final case class Input(name: String, rows: Long, digest: String)

/** What every workload gives the harness: seeded inputs, a batch pass, read
  * and write ops that each start from the same base state, the quality
  * gate, and its per-layer counts for the traced run.
  */
abstract class Workload(val name: String, val spark: SparkSession, val tracer: Tracer) {

  /** Input records one batch pass consumes. */
  def records: Long

  /** Generates the inputs from the seed, writes them under `dir` as parquet
    * and reads them back through `sources.Warehouse.read`.
    */
  def setup(dir: String): Seq[Input]

  /** One batch pass; materializes its output and keeps what the gate needs. */
  def batch(): Unit

  /** Checks the last batch pass's output against the planted truth. */
  def checkBatch(): Unit

  /** Builds the state every op starts from, out of the first batch pass. */
  def prepareBase(): Unit

  /** Read and write ops return the check of their output, which the
    * harness runs outside the timed region.
    */
  def read(i: Int): () => Unit
  def write(i: Int): () => Unit
  def readsPerCycle: Int
  def writesPerCycle: Int

  /** Ops run once before timing, one per op kind, by (kind, index). */
  def warmUpOps: Seq[(String, Int)] = Seq("read" -> 0, "write" -> 0)

  /** The output-quality score the gate checks, with its name. */
  def quality: (String, Double)

  /** Counts the traced run takes outside the timed spans. */
  def tracedCounts(): Unit = ()

  /** Kernel throughputs timed in isolation over this workload's inputs. */
  def kernels(): Map[String, Double]

  /** Counts noted during the current traced cycle. */
  val noted = mutable.LinkedHashMap.empty[String, Double]

  /** Adds `v` to a traced count; untraced runs do not evaluate it. */
  protected def note(key: String, v: => Double): Unit =
    if (tracer.on) noted(key) = noted.getOrElse(key, 0.0) + v

  protected def fail(msg: String): Nothing = throw new GateFailure(name, msg)

  protected def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** A layer call. Untraced it is the call itself, so adjacent layers stay
    * fused. Traced it runs in its own span and is materialized there, so
    * the work lands in that layer; its row count is noted under `rowsKey`.
    */
  protected def layer(span: String, rowsKey: String = null)(body: => DataFrame): DataFrame =
    if (!tracer.on) body
    else tracer.span(span) {
      val m = body.localCheckpoint(eager = true)
      lastRows = m.count()
      tracer.count("rows_out", lastRows)
      if (rowsKey != null) note(rowsKey, lastRows.toDouble)
      m
    }

  /** Rows out of the last traced layer call. */
  protected var lastRows = 0L

  protected def roundTrip(df: DataFrame, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    df.write.mode("overwrite").parquet(path)
    graft.sources.Warehouse.read(spark, "parquet", path)
  }

  /** Times `reps` runs of `body` over `rows` rows; returns the median rate. */
  protected def rowsPerSecond(rows: Long, reps: Int = 5)(body: => Unit): Double = {
    body // warm the JIT before timing
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    rows / Stats.median(ts)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Pairwise F1 of a clustering against planted labels. Ids absent from
    * `pred`, and truth label -1, stand for singletons.
    */
  def pairF1(pred: collection.Map[Long, Long], truth: collection.Map[Long, Int]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val predPairs = pred.groupBy(_._2).values.map(g => pairs(g.size.toLong)).sum
    val truePairs = truth.filter(_._2 >= 0).groupBy(_._2).values.map(g => pairs(g.size.toLong)).sum
    val tp = truth.toSeq.filter(t => t._2 >= 0 && pred.contains(t._1))
      .groupBy(t => (pred(t._1), t._2)).values.map(g => pairs(g.size.toLong)).sum
    if (predPairs + truePairs == 0) 1.0 else 2.0 * tp / (predPairs + truePairs)
  }

  /** Cosine as graft's kernel defines it: float inputs, double
    * accumulation in index order, 0 against a zero vector.
    */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Exact cosine top-k ids of `q` among `ids`/`vs`, excluding `self`. */
  def exactTopK(q: Array[Float], self: Long, ids: Array[Long], vs: Array[Array[Float]],
      k: Int): Set[Long] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by[(Double, Long), Double](-_._1))
    var i = 0
    while (i < ids.length) {
      if (ids(i) != self) {
        val s = cosine(q, vs(i))
        if (heap.size < k) heap.enqueue((s, ids(i)))
        else if (s > heap.head._1) { heap.dequeue(); heap.enqueue((s, ids(i))) }
      }
      i += 1
    }
    heap.map(_._2).toSet
  }
}
