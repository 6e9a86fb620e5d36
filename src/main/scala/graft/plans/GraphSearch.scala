package graft.plans

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, BroadcastMode, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._

/** Partition-local beam search over a broadcast graph index — the whole
  * of [[graft.operators.ann.NnDescent.searchGraph]] as one physical node.
  *
  * The join formulation paid three to four shuffles per hop on data that
  * was already clustered by query (≈30 Spark jobs for one 50-query call,
  * each ~50 ms of scheduling). Here the query child streams as is and the
  * index child — every target's `(id, v)` with its hub flag and floor key,
  * plus the graph's `(id, nbr)` edges, unioned into one frame — is
  * required as a broadcast. [[BeamIndexMode]] turns the collected rows
  * into primitive arrays once on the driver: targets sorted by id, vectors
  * flat, out-lists resolved to target ordinals (an edge to or from an id
  * outside the targets is dropped there: such a neighbour is never scored),
  * the hub ordinals and the `seeds` floor ordinals. Each task then runs
  * every one of its queries to completion in core:
  *
  *  1. seed with the top-`seeds` hubs by cosine plus the floor nodes;
  *  2. `hops` times: take the top-`beam` of everything visited, expand the
  *     out-lists of those not expanded before, score each target neighbour
  *     not yet visited;
  *  3. emit the top-`k` of everything visited (the query itself excluded
  *     when `excludeSelf`), ranked 1..k.
  *
  * Every ordering is [[TopKPerKeyExec]]'s on `(sim DESC, node ASC)`: sims
  * compare under Spark's double order (`SQLOrderingUtil.compareDoubles`,
  * nulls last), ties go to the smaller node id, so the rows are exactly
  * those of the join formulation. Cosines are [[CosineSimilarity]]'s
  * arithmetic. A null query id or target id has no key and is skipped; a
  * null vector scores null. Query rows are searched independently of each
  * other, so a batch's result is the union of its rows' results.
  *
  * State per query: the visited list (node, sim) — at most
  * `2·seeds + hops·beam·maxDegree` entries — plus two stamp arrays the
  * size of the index that the task reuses across its queries.
  */
case class GraphSearchPlan(
    k: Int, beam: Int, hops: Int, seeds: Int, excludeSelf: Boolean,
    in: Seq[Attribute], out: Seq[Attribute],
    queries: LogicalPlan, index: LogicalPlan) extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = index
  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): GraphSearchPlan =
    copy(queries = newLeft, index = newRight)
}

/** Physical [[GraphSearchPlan]]. `in` is (qid, qv) of the query child then
  * (id, v, nbr, hub, floor_key) of the index child; `k`, `beam`, `hops`
  * and `seeds` are plain fields (no code is generated from them).
  */
case class GraphSearchExec(
    k: Int, beam: Int, hops: Int, seeds: Int, excludeSelf: Boolean,
    in: Seq[Attribute], out: Seq[Attribute],
    queries: SparkPlan, index: SparkPlan) extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = index
  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numQueries" -> SQLMetrics.createMetric(sparkContext, "queries"),
    "numHops" -> SQLMetrics.createMetric(sparkContext, "hops"),
    "numExpanded" -> SQLMetrics.createMetric(sparkContext, "neighbours expanded"),
    "numScored" -> SQLMetrics.createMetric(sparkContext, "cosines scored"),
    // per task: the largest visited list of any of its queries (summed
    // over tasks, as every SQLMetric is)
    "peakVisited" -> SQLMetrics.createMetric(sparkContext, "peak visited per query"))

  private def ord(plan: SparkPlan, a: Attribute): Int = {
    val i = plan.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"graph_search: column ${a.name} missing from ${plan.output}")
    i
  }

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(BeamIndexMode(
      ord(index, in(2)), ord(index, in(3)), ord(index, in(4)), ord(index, in(5)),
      ord(index, in(6)), seeds)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val qidOrd = ord(queries, in(0))
    val qvOrd = ord(queries, in(1))
    val bc = index.executeBroadcast[Array[InternalRow]]()
    val (k0, beam0, hops0, seeds0, excl) = (k, beam, hops, seeds, excludeSelf)
    val types = out.map(_.dataType).toArray
    val Seq(mQueries, mHops, mExpanded, mScored, mPeak) =
      Seq("numQueries", "numHops", "numExpanded", "numScored", "peakVisited").map(metrics)
    queries.execute().mapPartitions { rows =>
      val search = new BeamSearch(BeamIndex.unpack(bc.value), k0, beam0, hops0, seeds0, excl)
      val proj = UnsafeProjection.create(types)
      val row = new GenericInternalRow(4)
      rows.filter(!_.isNullAt(qidOrd)).flatMap { r =>
        val qid = r.getLong(qidOrd)
        val qv = if (r.isNullAt(qvOrd)) null else r.getArray(qvOrd).toFloatArray()
        val m = search.run(qid, qv)
        mQueries += 1
        mHops += search.hopsRun; mExpanded += search.expanded; mScored += search.scored
        mPeak.set(search.peak.toLong)
        Iterator.range(0, m).map { i =>
          row.update(0, qid)
          row.update(1, search.resultId(i))
          row.update(2, (i + 1).toLong)
          row.update(3, search.resultSim(i))
          proj(row)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraphSearchExec =
    copy(queries = newLeft, index = newRight)
}

/** Builds a [[BeamIndex]] from the collected index rows on the driver and
  * ships it as [[Packed]] binary chunks. Fields are the
  * ordinals of (id, v, nbr, hub, floor_key) in the index child's output;
  * a row with a null `nbr` is a target, any other row an edge.
  */
case class BeamIndexMode(
    idOrd: Int, vOrd: Int, nbrOrd: Int, hubOrd: Int, floorOrd: Int, seeds: Int)
    extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, Some(rows.length.toLong))
  override def transform(
      rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] =
    BeamIndex.build(rows, this).pack()
  override def canonicalized: BroadcastMode = this
}

/** The broadcast index: `n` targets sorted by id (so ordinal order is id
  * order), vector `t` at `vecs[vOff(t), vOff(t+1))` unless `vNull(t)`,
  * out-list of `t` at `adj[adjOff(t), adjOff(t+1))` as target ordinals,
  * hub ordinals ascending, floor ordinals by (floor_key, id).
  */
private[plans] final class BeamIndex(
    val ids: Array[Long], val vOff: Array[Int], val vNull: Array[Boolean],
    val vecs: Array[Float], val adjOff: Array[Int], val adj: Array[Int],
    val hubs: Array[Int], val floor: Array[Int]) {
  def n: Int = ids.length

  def pack(): Array[InternalRow] = Packed.pack(ids, vOff, vNull, vecs, adjOff, adj, hubs, floor)
}

private[plans] object BeamIndex {
  def unpack(rows: Array[InternalRow]): BeamIndex = Packed.unpack(rows) match {
    case Seq(ids: Array[Long], vOff: Array[Int], vNull: Array[Boolean], vecs: Array[Float],
        adjOff: Array[Int], adj: Array[Int], hubs: Array[Int], floor: Array[Int]) =>
      new BeamIndex(ids, vOff, vNull, vecs, adjOff, adj, hubs, floor)
  }

  def build(rows: Iterator[InternalRow], mode: BeamIndexMode): BeamIndex = {
    import mode._
    // targets and edges in input order
    val tIdsB, tFloorB, eSrcB, eDstB = new ArrayBuilder.ofLong
    val tHubB, tNullB = new ArrayBuilder.ofBoolean
    val tLenB = new ArrayBuilder.ofInt
    val tVecsB = new ArrayBuilder.ofFloat
    rows.foreach { row =>
      if (!row.isNullAt(idOrd)) {
        if (row.isNullAt(nbrOrd)) {
          tIdsB += row.getLong(idOrd)
          tFloorB += row.getLong(floorOrd)
          tHubB += !row.isNullAt(hubOrd) && row.getBoolean(hubOrd)
          tNullB += row.isNullAt(vOrd)
          val v = if (row.isNullAt(vOrd)) Array.emptyFloatArray else row.getArray(vOrd).toFloatArray()
          tLenB += v.length
          tVecsB.addAll(v)
        } else {
          eSrcB += row.getLong(idOrd)
          eDstB += row.getLong(nbrOrd)
        }
      }
    }
    val (tIds, tFloor, tHub, tNull, tLen, tVecs) = (tIdsB.result(), tFloorB.result(),
      tHubB.result(), tNullB.result(), tLenB.result(), tVecsB.result())
    val (eSrc, eDst) = (eSrcB.result(), eDstB.result())
    val n = tIds.length
    val ids = tIds.clone()
    java.util.Arrays.sort(ids)
    var i = 1
    while (i < n) {
      if (ids(i) == ids(i - 1)) throw new IllegalArgumentException(
        s"searchGraph: duplicate target id ${ids(i)}; target ids must be unique")
      i += 1
    }
    def ordOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    // input position → ordinal, then vectors laid out in ordinal order
    val inOff = new Array[Int](n + 1)
    i = 0
    while (i < n) { inOff(i + 1) = inOff(i) + tLen(i); i += 1 }
    val toOrd = Array.tabulate(n)(t => ordOf(tIds(t)))
    val vOff = new Array[Int](n + 1)
    val vNull = new Array[Boolean](n)
    val hubFlag = new Array[Boolean](n)
    i = 0
    while (i < n) {
      val o = toOrd(i)
      vOff(o + 1) = tLen(i); vNull(o) = tNull(i); hubFlag(o) = tHub(i)
      i += 1
    }
    i = 0
    while (i < n) { vOff(i + 1) += vOff(i); i += 1 }
    val vecs = new Array[Float](vOff(n))
    i = 0
    while (i < n) {
      System.arraycopy(tVecs, inOff(i), vecs, vOff(toOrd(i)), tLen(i))
      i += 1
    }
    // out-lists: both endpoints must be targets (CSR by source ordinal)
    val ne = eSrc.length
    val src = new Array[Int](ne); val dst = new Array[Int](ne)
    val adjOff = new Array[Int](n + 1)
    i = 0
    while (i < ne) {
      src(i) = ordOf(eSrc(i)); dst(i) = ordOf(eDst(i))
      if (src(i) >= 0 && dst(i) >= 0) adjOff(src(i) + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) { adjOff(i + 1) += adjOff(i); i += 1 }
    val adj = new Array[Int](adjOff(n))
    val fill = java.util.Arrays.copyOf(adjOff, n)
    i = 0
    while (i < ne) {
      if (src(i) >= 0 && dst(i) >= 0) { adj(fill(src(i))) = dst(i); fill(src(i)) += 1 }
      i += 1
    }
    val hubs = (0 until n).filter(hubFlag).toArray
    // floor: the `seeds` smallest (floor_key, id), insertion into a tiny array
    val fKey = new Array[Long](n)
    i = 0
    while (i < n) { fKey(toOrd(i)) = tFloor(i); i += 1 }
    val floor = new Array[Int](math.min(seeds, n))
    var nf = 0
    i = 0
    while (i < n) {
      // ordinals arrive in id order, so on equal keys the earlier one stays ahead
      var j = nf
      while (j > 0 && fKey(floor(j - 1)) > fKey(i)) j -= 1
      if (j < floor.length) {
        System.arraycopy(floor, j, floor, j + 1, math.min(nf, floor.length - 1) - j)
        floor(j) = i
        if (nf < floor.length) nf += 1
      }
      i += 1
    }
    new BeamIndex(ids, vOff, vNull, vecs, adjOff, adj, hubs, floor)
  }
}

/** One task's search state over a [[BeamIndex]], reused query after query.
  * `seen`/`done` mark, per index node, the last query that visited /
  * expanded it, so nothing is cleared between queries; the visited list
  * lives in primitive buffers that grow to the largest query's need.
  */
private[plans] final class BeamSearch(
    ix: BeamIndex, k: Int, beam: Int, hops: Int, seeds: Int, excludeSelf: Boolean) {
  private val seen = new Array[Int](ix.n)
  private val done = new Array[Int](ix.n)
  private var stamp = 0
  // visited list of the current query
  private var vNode = new Array[Int](64)
  private var vSim = new Array[Double](64)
  private var vNull = new Array[Boolean](64)
  private var nv = 0
  // the coarse stage's scores, one per hub
  private val hSim = new Array[Double](ix.hubs.length)
  private val hNull = new Array[Boolean](ix.hubs.length)
  private val best = new BestOf
  private val outId = new Array[Long](k)
  private val outSim = new Array[Any](k)

  var hopsRun = 0L; var expanded = 0L; var scored = 0L; var peak = 0

  def resultId(i: Int): Long = outId(i)
  def resultSim(i: Int): Any = outSim(i)

  /** Searches one query; results are `resultId/resultSim(0 until m)`, ranked. */
  def run(qid: Long, q: Array[Float]): Int = {
    stamp += 1
    if (stamp == Int.MaxValue) {
      java.util.Arrays.fill(seen, 0); java.util.Arrays.fill(done, 0); stamp = 1
    }
    hopsRun = 0; expanded = 0; scored = 0
    nv = 0
    // coarse stage: score every hub, keep the top `seeds`
    val hubs = ix.hubs
    var i = 0
    while (i < hubs.length) {
      if (q == null || ix.vNull(hubs(i))) hNull(i) = true
      else { hNull(i) = false; hSim(i) = cosine(q, hubs(i)) }
      i += 1
    }
    scored += hubs.length
    val nh = best.select(hubs, hSim, hNull, hubs.length, seeds)
    i = 0
    while (i < nh) {
      val p = best(i)
      seen(hubs(p)) = stamp
      add(hubs(p), hSim(p), hNull(p))
      i += 1
    }
    // floor nodes shared by every query
    i = 0
    while (i < ix.floor.length) { visit(ix.floor(i), q); i += 1 }
    var h = 0
    var grew = true
    while (h < hops && grew) {
      val before = nv
      val m = best.select(vNode, vSim, vNull, nv, beam)
      var j = 0
      while (j < m) {
        val f = vNode(best(j))
        if (done(f) != stamp) {
          done(f) = stamp
          var e = ix.adjOff(f)
          val end = ix.adjOff(f + 1)
          expanded += end - e
          while (e < end) { visit(ix.adj(e), q); e += 1 }
        }
        j += 1
      }
      hopsRun += 1
      grew = nv > before
      h += 1
    }
    peak = math.max(peak, nv)
    // the query's own ordinal (negative when it is not a target)
    val self = if (excludeSelf) java.util.Arrays.binarySearch(ix.ids, qid) else -1
    val m = best.select(vNode, vSim, vNull, nv, k, self)
    i = 0
    while (i < m) {
      val p = best(i)
      outId(i) = ix.ids(vNode(p))
      outSim(i) = if (vNull(p)) null else vSim(p)
      i += 1
    }
    m
  }

  private def visit(t: Int, q: Array[Float]): Unit =
    if (seen(t) != stamp) {
      seen(t) = stamp
      scored += 1
      if (q == null || ix.vNull(t)) add(t, 0.0, isNull = true)
      else add(t, cosine(q, t), isNull = false)
    }

  private def add(t: Int, sim: Double, isNull: Boolean): Unit = {
    if (nv == vNode.length) {
      vNode = java.util.Arrays.copyOf(vNode, nv * 2)
      vSim = java.util.Arrays.copyOf(vSim, nv * 2)
      vNull = java.util.Arrays.copyOf(vNull, nv * 2)
    }
    vNode(nv) = t; vSim(nv) = sim; vNull(nv) = isNull
    nv += 1
  }

  private def cosine(q: Array[Float], t: Int): Double =
    IndexKit.cosine(q, 0, q.length, ix.vecs, ix.vOff(t), ix.vOff(t + 1) - ix.vOff(t))
}

object GraphSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraphSearchPlan(k, beam, hops, seeds, excludeSelf, in, out, queries, index) =>
      GraphSearchExec(k, beam, hops, seeds, excludeSelf, in, out,
        planLater(queries), planLater(index)) :: Nil
    case _ => Nil
  }
}

object GraphSearch {

  /** The search's vectors are read element by element as floats; any other
    * element type would be misread, not converted, so it fails here by name.
    */
  private def checkVector(what: String, dt: DataType): Unit = dt match {
    case ArrayType(FloatType, _) =>
    case other => throw new IllegalArgumentException(
      s"searchGraph requires array<float> $what vectors, got ${other.catalogString}")
  }

  /** Beam search of `queries` (qid bigint, qv array<float>) over `index`
    * (id bigint, v array<float>, nbr bigint, hub boolean, floor_key bigint;
    * target rows have a null `nbr`, edge rows a non-null one) — see
    * [[GraphSearchPlan]]. Returns (query_id, neighbor_id, rank, sim).
    * Plans only in a session that loads [[graft.GraftExtensions]].
    */
  def apply(
      queries: DataFrame, index: DataFrame, k: Int, beam: Int, hops: Int,
      seeds: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 1 && seeds >= 1)
    val spark = queries.sparkSession
    val q = queries.queryExecution.analyzed
    val ix = index.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"graph_search: missing column $n in ${p.output.map(_.name).mkString(", ")}"))
    val in = Seq("qid", "qv").map(attr(q, _)) ++
      Seq("id", "v", "nbr", "hub", "floor_key").map(attr(ix, _))
    checkVector("query", in(1).dataType)
    checkVector("target", in(3).dataType)
    val out = Seq(
      AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("neighbor_id", LongType, nullable = false)(),
      AttributeReference("rank", LongType, nullable = false)(),
      AttributeReference("sim", DoubleType, nullable = true)())
    DatasetBridge.ofRows(spark,
      GraphSearchPlan(k, beam, hops, seeds, excludeSelf, in, out, q, ix))
  }
}
