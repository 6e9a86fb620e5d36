package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}

/** Map-side combiner for NN-Descent's per-round merge (guide §2.3
  * "aggregate before you shuffle"): the round's proposal stream —
  * `(id, nbr, sim, fresh)`, the current graph unioned with both directions
  * of every scored wedge pair — is deduplicated per `(id, nbr)` (max sim /
  * min fresh, the merge aggregate's own semantics) and bounded to the best
  * `k` rows per `id` (sim DESC, nbr ASC — the downstream TopK's exact
  * order) WITHIN each input partition, before the rows ever reach the
  * merge exchange. The pair-merge exchange was the graph family's largest
  * remaining shuffle (~100 MB/build at sf0.1, r18 verdict #4).
  *
  * Result safety (why the final graph is bit-identical): the global merge
  * keeps, per id, the top `k` of the (id,nbr)-deduplicated rows under a
  * STRICT total order (nbr values are distinct per id after dedup, so
  * (sim DESC, nbr ASC) has no ties). Any row this combiner drops had `k`
  * strictly-better deduplicated rows for the same id in its own partition
  * (flush epoch) — all of which are emitted and therefore present
  * globally — so a dropped row (and any duplicate of it elsewhere, whose
  * surviving copy might carry a different `fresh` flag) can never rank in
  * the global top `k`: the final TopK truncates it regardless. Duplicate
  * `sim` values across copies are equal by construction (the cosine kernel
  * is deterministic on the same vectors), so max(sim) is pure dedup.
  *
  * Memory is bounded by rows, not keys (the TopKPerKeyExec lesson: a
  * partition upstream of the exchange can see the whole key domain) —
  * at `spark.graft.topk.flushRows` ([[FlushRows]]) buffered entries the
  * epoch is emitted and the state reset; dedup/top-k quality degrades
  * gracefully toward pass-through, output stays a correct superset per
  * epoch. The `flushes` metric counts the epochs.
  */
case class NnMergePlan(k: Int, cols: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // the combiner reads (id, nbr, sim, fresh) even when a parent prunes its
  // own needs down (e.g. a bare count()): carrying them as references stops
  // ColumnPruning from projecting them away below this node
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cols)
  override protected def withNewChildInternal(newChild: LogicalPlan): NnMergePlan =
    copy(child = newChild)
}

case class NnMergeExec(k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = FlushRows.metrics(sparkContext)

  // partition-local row dropper: partitioning passes through
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  private def ord(name: String): Int = {
    val i = child.output.indexWhere(_.name == name)
    require(i >= 0, s"nn_merge_combine: missing column $name")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val idOrd = ord("id"); val nbrOrd = ord("nbr")
    val simOrd = ord("sim"); val freshOrd = ord("fresh")
    require(child.output(idOrd).dataType == LongType &&
      child.output(nbrOrd).dataType == LongType &&
      child.output(simOrd).dataType == DoubleType &&
      child.output(freshOrd).dataType == BooleanType,
      "nn_merge_combine expects (id bigint, nbr bigint, sim double, fresh boolean)")
    val limit = k
    val types = child.output.map(_.dataType).toArray
    val nCols = types.length
    val flushRows = FlushRows(conf)
    val Seq(mIn, mOut, mFlushes) = Seq("numRowsIn", "numOutputRows", "numFlushes").map(metrics)
    child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(types)
      // Primitive column buffers + an index sort — the first cut of this
      // operator kept boxed java.util.HashMap state per (id, nbr) and
      // MEASURED 3× the task CPU of the shuffle it saved at sf1 (650 vs
      // 214 task-seconds on dx_knn_graph: two boxed Longs and map churn
      // per input row swamped the byte win). Sorting a flush epoch by
      // (id ASC, sim DESC, nbr ASC) puts duplicates of a pair ADJACENT —
      // copies of one (id,nbr) carry equal sims by construction (the
      // deterministic cosine invariant this combiner documents and its
      // spec pins) — so one linear scan dedups (AND-ing fresh) and keeps
      // the first `k` distinct neighbors per id, allocation-free until
      // the bounded emit. The buffers grow on demand up to `flushRows`.
      new Iterator[InternalRow] {
        private var ids = new Array[Long](math.min(flushRows, 1024))
        private var nbrs = new Array[Long](ids.length)
        private var sims = new Array[Double](ids.length)
        private var frs = new Array[Boolean](ids.length)
        private var perm = new Array[Int](ids.length)
        private var nBuf = 0
        private var out: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator()
        private val reuse = new GenericInternalRow(nCols)

        // perm(a) before perm(b) iff (id asc, sim desc, nbr asc)
        private def lt(a: Int, b: Int): Boolean = {
          if (ids(a) != ids(b)) return ids(a) < ids(b)
          if (sims(a) != sims(b)) return sims(a) > sims(b)
          nbrs(a) < nbrs(b)
        }
        private def sort(lo0: Int, hi0: Int): Unit = {
          // in-place quicksort over perm with median-of-3 pivots;
          // insertion sort below 16
          var lo = lo0; var hi = hi0
          while (hi - lo > 15) {
            val mid = lo + (hi - lo) / 2
            // median-of-3 → pivot index
            val p = {
              val (a, b, c) = (perm(lo), perm(mid), perm(hi))
              if (lt(a, b)) { if (lt(b, c)) b else if (lt(a, c)) c else a }
              else { if (lt(a, c)) a else if (lt(b, c)) c else b }
            }
            var i = lo; var j = hi
            while (i <= j) {
              while (lt(perm(i), p)) i += 1
              while (lt(p, perm(j))) j -= 1
              if (i <= j) {
                val t = perm(i); perm(i) = perm(j); perm(j) = t
                i += 1; j -= 1
              }
            }
            // recurse into the smaller half, loop on the larger
            if (j - lo < hi - i) { if (lo < j) sort(lo, j); lo = i }
            else { if (i < hi) sort(i, hi); hi = j }
          }
          var i = lo + 1
          while (i <= hi) {
            val v = perm(i)
            var j = i - 1
            while (j >= lo && lt(v, perm(j))) { perm(j + 1) = perm(j); j -= 1 }
            perm(j + 1) = v
            i += 1
          }
        }

        private def emitAll(): Unit = {
          val n = nBuf
          var i = 0
          while (i < n) { perm(i) = i; i += 1 }
          if (n > 1) sort(0, n - 1)
          val all = new java.util.ArrayList[InternalRow](math.min(n, 1024))
          i = 0
          var kept = 0 // distinct (id,nbr) runs emitted for the current id
          var curId = 0L
          var haveId = false
          while (i < n) {
            val p = perm(i)
            if (!haveId || ids(p) != curId) { curId = ids(p); kept = 0; haveId = true }
            // one (id,nbr) run: equal sims by invariant ⇒ duplicates are
            // adjacent under the sort; AND the fresh flags across the run
            val nbr = nbrs(p)
            var fresh = frs(p)
            var j = i + 1
            while (j < n && ids(perm(j)) == curId && nbrs(perm(j)) == nbr) {
              if (!frs(perm(j))) fresh = false
              j += 1
            }
            if (kept < limit) {
              reuse.update(idOrd, curId)
              reuse.update(nbrOrd, nbr)
              reuse.update(simOrd, sims(p))
              reuse.update(freshOrd, fresh)
              all.add(proj(reuse).copy())
              kept += 1
            }
            i = j
          }
          mIn += n; mOut += all.size; mFlushes += 1
          nBuf = 0
          out = all.iterator()
        }
        private def grow(): Unit = {
          val len = math.min(flushRows.toLong, 2L * ids.length).toInt
          ids = java.util.Arrays.copyOf(ids, len)
          nbrs = java.util.Arrays.copyOf(nbrs, len)
          sims = java.util.Arrays.copyOf(sims, len)
          frs = java.util.Arrays.copyOf(frs, len)
          perm = new Array[Int](len)
        }
        private def pump(): Unit = {
          while (iter.hasNext && nBuf < flushRows) {
            if (nBuf == ids.length) grow()
            val row = iter.next()
            ids(nBuf) = row.getLong(idOrd)
            nbrs(nBuf) = row.getLong(nbrOrd)
            sims(nBuf) = row.getDouble(simOrd)
            frs(nBuf) = row.getBoolean(freshOrd)
            nBuf += 1
          }
          emitAll()
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
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): NnMergeExec =
    copy(child = newChild)
}

object NnMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case NnMergePlan(k, _, child) => NnMergeExec(k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object NnMerge {
  /** Map-side (id,nbr)-dedup + per-id top-`k` combine of a
    * `(id, nbr, sim, fresh)` frame — see [[NnMergePlan]] for the result-
    * safety argument. Purely a shuffle-byte reducer: the global merge
    * aggregate + TopK downstream produce identical results with or
    * without it. Plans only in a session that loads [[graft.GraftExtensions]].
    */
  def combine(df: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    val cols = Seq("id", "nbr", "sim", "fresh").map { n =>
      analyzed.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"nn_merge_combine: missing column $n in ${analyzed.output.map(_.name)}"))
    }
    DatasetBridge.ofRows(spark, NnMergePlan(k, cols, analyzed))
  }
}
