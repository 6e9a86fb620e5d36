package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, Descending, Expression, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.LongType

/** Per-key top-k as a first-class operator: logical plan node + planner
  * strategy + physical bounded-heap execution, the (c)-level extension
  * point of the custom-operator ladder (compose built-ins < native
  * expression < custom plan).
  *
  * Spark's built-in formulation — `row_number().over(partitionBy(key)
  * .orderBy(...)) <= k` — must SORT every key group in full: the window
  * operator buffers and orders all rows per key before ranking, so a query
  * with 1M candidates per key pays O(n log n) sort and the memory to hold
  * the group. This operator keeps a bounded k-element heap per key
  * (O(n log k), O(keys·k) memory) after the same hash exchange, which is
  * the asymptotically right plan for ANN reranking at corpus scale.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rankAttr: AttributeReference, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Physical bounded-heap top-k per key.
  *
  * Runs in two stages, the `TakeOrderedAndProject` pattern generalised to
  * per-key limits: a `partial = true` instance keeps a k-heap per key per
  * *input* partition (no distribution requirement, no exchange), so the hash
  * exchange the final instance declares only ever carries
  * partitions·keys·k rows instead of every scored candidate. For ANN rerank
  * that is the difference between shuffling n·q candidates and shuffling a
  * bounded digest. The partial stage emits no rank (ranks are only
  * meaningful after the global merge).
  */
case class TopKPerKeyExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rankAttr: AttributeReference, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  // claimed by BOTH stages: the partial stage doesn't emit the rank, but it
  // references the attr (case-class field), and an unclaimed reference would
  // flag the node as missing input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  // The hash exchange on the key is the ONLY shuffle; EnsureRequirements
  // inserts it from the final stage's declaration. The partial stage runs
  // wherever the child's rows already are.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // Rows never move between partitions here (the heaps only DROP rows;
  // the final stage appends the rank column) — so the child's partitioning
  // passes through. Without this override the node reports
  // UnknownPartitioning and EnsureRequirements re-exchanges a child that is
  // ALREADY clustered by the key (measured: the NN-Descent merge paid a
  // second full exchange between its id-keyed aggregate and the TopK final
  // on every round).
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val isPartial = partial
    val flushRows = conf.getConfString("spark.graft.topk.flushRows", "262144").toInt
    require(flushRows >= 1, "spark.graft.topk.flushRows must be >= 1")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      // worst-at-head heap: candidates better than the current worst evict it
      val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      val reverse = ordering.reversed()
      def insert(row: InternalRow): Boolean = {
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](math.min(limit, 16), reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) { heap.add(row.copy()); true }
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy()); false
        } else false
      }
      import scala.jdk.CollectionConverters._
      if (isPartial) {
        // survivors only — rank assignment waits for the global merge.
        // Memory bound: this stage's key-map grows with the DISTINCT KEYS
        // seen in the input partition, which upstream of the key exchange
        // can be the whole key domain (measured OOM: NN-Descent's merge at
        // 200k nodes — 32 partitions × 200k keys × k buffered rows). When
        // the buffered row count hits the flush bound, emit every heap and
        // start fresh: partial output stays a correct candidate superset
        // (the final stage re-merges), only the shuffle saving degrades
        // toward pass-through. Bound set by spark.graft.topk.flushRows
        // (rows, not keys — a partition upstream of the exchange can see
        // the whole key domain, so keys are the unbounded dimension).
        new Iterator[InternalRow] {
          private var nBuf = 0
          private var out: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()
          private def pump(): Unit = {
            while (iter.hasNext && nBuf < flushRows) {
              if (insert(iter.next())) nBuf += 1
            }
            val all = new java.util.ArrayList[InternalRow](nBuf)
            heaps.values().forEach(h => all.addAll(h))
            heaps.clear(); nBuf = 0
            out = all.iterator()
          }
          override def hasNext: Boolean = {
            if (!out.hasNext && iter.hasNext) pump()
            out.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            out.next()
          }
        }
      } else {
        iter.foreach(insert)
        val resultProj = UnsafeProjection.create(
          childOutput :+ rankAttr, childOutput :+ rankAttr)
        val joined = new JoinedRow
        val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        heaps.values().iterator().asScala.flatMap { heap =>
          val rows = heap.toArray(new Array[InternalRow](heap.size()))
          java.util.Arrays.sort(rows, ordering)
          rows.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.update(0, (i + 1).toLong)
            resultProj(joined(r, rankRow))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyPlan]] as partial-then-final [[TopKPerKeyExec]].
  * The map-side partial is skipped for unbounded k (it would buffer whole
  * partitions for no shuffle saving).
  */
object TopKStrategy extends SparkStrategy {
  private val PartialMaxK = 100000
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, rankAttr, child) =>
      val inner =
        if (k <= PartialMaxK)
          TopKPerKeyExec(keys, order, k, rankAttr, partial = true, planLater(child))
        else planLater(child)
      TopKPerKeyExec(keys, order, k, rankAttr, partial = false, inner) :: Nil
    case _ => Nil
  }
}

object TopK {

  /** Top `k` rows per `keyCols` group ordered by `orderCol`
    * (descending by default, ties broken ascending by `tieCols`), with a
    * `rank` long column (1-based). Replaces the
    * `row_number().over(...)` + filter idiom without the per-group sort.
    * Plans only in a session that loads [[graft.GraftExtensions]].
    */
  def perKey(
      df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int,
      descending: Boolean = true, tieCols: Seq[String] = Nil,
      rankName: String = "rank"): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def resolve(n: String): Attribute = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order =
      SortOrder(resolve(orderCol), if (descending) Descending else Ascending) +:
        tieCols.map(t => SortOrder(resolve(t), Ascending))
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    DatasetBridge.ofRows(spark,
      TopKPerKeyPlan(keyCols.map(resolve), order, k, rankAttr, analyzed))
  }
}
