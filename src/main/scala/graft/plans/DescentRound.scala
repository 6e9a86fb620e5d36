package graft.plans

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, BroadcastMode, Distribution}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types._

/** One NN-Descent round (Dong, Moses & Li, WWW 2011, §2.3's local join) as
  * one physical node over a broadcast round index — the whole step of
  * [[graft.operators.ann.NnDescent]]'s descent loop.
  *
  * The index child is the round's graph `(id, nbr, sim, fresh)` — each
  * edge row carrying `hs = xxhash64(id, round)`, Spark's own hash of its
  * source — unioned with the `(id, v)` vector rows. [[DescentIndexMode]]
  * resolves every node's capped neighbourhood once, on the driver:
  *
  *  1. a node's neighbourhood is all of its forward list plus the
  *     `cap − kBuild` reverse members (sources of its in-edges) with the
  *     smallest `(hs, member)`; a member is fresh if either route's edge
  *     is. Members without a vector are then dropped (they have nothing to
  *     score), after the cap.
  *
  * Each task owns a slice of node ordinals and, for every node `x` it
  * owns, computes in core every proposal landing on `x` and merges `x`'s
  * list in place, so a round needs no exchange:
  *
  *  2. in every neighbourhood that holds `x`, each other member `z` where
  *     `x` or `z` is fresh proposes the edge `x → z`, scored with
  *     [[graft.functions.CosineSimilarity]]'s arithmetic (a pair met in
  *     several neighbourhoods is scored once: its cosine is the same);
  *  3. `x`'s old edges enter stale, a proposal duplicating one stays stale,
  *     duplicates of one `(x, z)` merge to the max sim, and `x` keeps its
  *     top `kBuild` by `(sim DESC under SQLOrderingUtil.compareDoubles,
  *     nulls last; nbr ASC)` — [[TopKPerKeyExec]]'s order.
  *
  * These are exactly the rows of the join formulation it replaced (a
  * capped reverse `TopK`, a dedup aggregate, a vector join, `collect_list`
  * blocks, a pairwise kernel and a merge exchange: ~6 Spark jobs a round);
  * a round now costs the index broadcast plus the job that consumes its
  * output. Graph and vectors must fit a broadcast (past Spark's limits the
  * round fails with Spark's own error); vector ids must be unique and
  * vectors non-null, or the round fails by name.
  */
case class DescentRoundPlan(
    kBuild: Int, cap: Int, in: Seq[Attribute], out: Seq[Attribute],
    index: LogicalPlan) extends UnaryNode {
  override def child: LogicalPlan = index
  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): DescentRoundPlan =
    copy(index = newChild)
}

/** Physical [[DescentRoundPlan]]. `in` is (id, nbr, sim, fresh, hs, v) of
  * the index child; the output has one partition per slice of node
  * ordinals (the session's default parallelism).
  */
case class DescentRoundExec(
    kBuild: Int, cap: Int, in: Seq[Attribute], out: Seq[Attribute],
    index: SparkPlan) extends UnaryExecNode {
  override def child: SparkPlan = index
  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numNodes" -> SQLMetrics.createMetric(sparkContext, "nodes"),
    "numMembers" -> SQLMetrics.createMetric(sparkContext, "neighbourhood members"),
    "numScored" -> SQLMetrics.createMetric(sparkContext, "cosines scored"),
    "numProposals" -> SQLMetrics.createMetric(sparkContext, "proposals"),
    "numFresh" -> SQLMetrics.createMetric(sparkContext, "fresh edges out"))

  private def ord(a: Attribute): Int = {
    val i = index.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"descent_round: column ${a.name} missing from ${index.output}")
    i
  }

  override def requiredChildDistribution: Seq[Distribution] =
    BroadcastDistribution(DescentIndexMode(
      ord(in(0)), ord(in(1)), ord(in(2)), ord(in(3)), ord(in(4)), ord(in(5)), kBuild, cap)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = index.executeBroadcast[Array[InternalRow]]()
    val slices = sparkContext.defaultParallelism
    val kBuild0 = kBuild
    val types = out.map(_.dataType).toArray
    val Seq(mNodes, mMembers, mScored, mProposals, mFresh) =
      Seq("numNodes", "numMembers", "numScored", "numProposals", "numFresh").map(metrics)
    sparkContext.parallelize(0 until slices, slices).mapPartitions(_.flatMap { s =>
      val ix = DescentIndex.unpack(bc.value)
      val join = new LocalJoin(ix, kBuild0,
        (ix.n.toLong * s / slices).toInt, (ix.n.toLong * (s + 1) / slices).toInt)
      mMembers += join.members
      val proj = UnsafeProjection.create(types)
      val row = new GenericInternalRow(4)
      Iterator.range(join.lo, join.hi).flatMap { x =>
        val m = join.merge(x)
        if (m > 0) mNodes += 1
        mScored += join.scored; mProposals += join.proposals
        Iterator.range(0, m).map { i =>
          if (join.fresh(i)) mFresh += 1
          row.update(0, ix.ids(x))
          row.update(1, ix.ids(join.nbr(i)))
          row.update(2, join.sim(i))
          row.update(3, join.fresh(i))
          proj(row)
        }
      }
    })
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DescentRoundExec =
    copy(index = newChild)
}

/** Builds a [[DescentIndex]] from the collected round-index rows on the
  * driver and ships it as [[Packed]] binary chunks. Fields are the ordinals
  * of (id, nbr, sim, fresh, hs, v) in the index child's output; a row with
  * a null `nbr` is a vector, any other row an edge.
  */
case class DescentIndexMode(
    idOrd: Int, nbrOrd: Int, simOrd: Int, freshOrd: Int, hsOrd: Int, vOrd: Int,
    kBuild: Int, cap: Int) extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, Some(rows.length.toLong))
  override def transform(
      rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] =
    DescentIndex.build(rows, this).pack()
  override def canonicalized: BroadcastMode = this
}

/** The broadcast round index over `n` nodes — every id that has a vector
  * or an edge — sorted by id, so ordinal order is id order. Node `t` has
  * its vector (if any) at `vecs[vOff(t), vOff(t+1))`, its old list at
  * `[eOff(t), eOff(t+1))` of (`eNbr` ordinal, `eSim`, `eNull` = sim is
  * null), and its capped neighbourhood at `[bOff(t), bOff(t+1))` of
  * (`bMem` ordinal, `bFresh`), members with a vector only.
  */
private[plans] final class DescentIndex(
    val ids: Array[Long], val vOff: Array[Int], val vecs: Array[Float],
    val eOff: Array[Int], val eNbr: Array[Int], val eSim: Array[Double], val eNull: Array[Boolean],
    val bOff: Array[Int], val bMem: Array[Int], val bFresh: Array[Boolean]) {
  def n: Int = ids.length

  def pack(): Array[InternalRow] =
    Packed.pack(ids, vOff, vecs, eOff, eNbr, eSim, eNull, bOff, bMem, bFresh)
}

private[plans] object DescentIndex {
  def unpack(rows: Array[InternalRow]): DescentIndex = Packed.unpack(rows) match {
    case Seq(ids: Array[Long], vOff: Array[Int], vecs: Array[Float], eOff: Array[Int],
        eNbr: Array[Int], eSim: Array[Double], eNull: Array[Boolean],
        bOff: Array[Int], bMem: Array[Int], bFresh: Array[Boolean]) =>
      new DescentIndex(ids, vOff, vecs, eOff, eNbr, eSim, eNull, bOff, bMem, bFresh)
  }

  /** CSR offsets from per-row group ordinals: `off(g)` is where group `g`
    * starts in a layout of `n` groups.
    */
  def offsets(group: Array[Int], n: Int): Array[Int] = {
    val off = new Array[Int](n + 1)
    group.foreach(g => off(g + 1) += 1)
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    off
  }

  /** Row positions grouped by `group` (stable within a group), per [[offsets]]. */
  def grouped(group: Array[Int], off: Array[Int]): Array[Int] = {
    val fill = java.util.Arrays.copyOf(off, off.length - 1)
    val at = new Array[Int](group.length)
    var i = 0
    while (i < group.length) { at(fill(group(i))) = i; fill(group(i)) += 1; i += 1 }
    at
  }

  def build(rows: Iterator[InternalRow], mode: DescentIndexMode): DescentIndex = {
    import mode._
    // vectors and edges in input order
    val vIdB, eSrcB, eDstB, eHsB = new ArrayBuilder.ofLong
    val vLenB = new ArrayBuilder.ofInt
    val vecB = new ArrayBuilder.ofFloat
    val eSimB = new ArrayBuilder.ofDouble
    val eNullB, eFreshB = new ArrayBuilder.ofBoolean
    rows.foreach { row =>
      val id = row.getLong(idOrd)
      if (row.isNullAt(nbrOrd)) {
        if (row.isNullAt(vOrd)) throw new IllegalArgumentException(
          s"NN-Descent: null vector for id $id; every vector must be non-null")
        val v = row.getArray(vOrd).toFloatArray()
        vIdB += id; vLenB += v.length; vecB.addAll(v)
      } else {
        eSrcB += id; eDstB += row.getLong(nbrOrd); eHsB += row.getLong(hsOrd)
        eNullB += row.isNullAt(simOrd)
        eSimB += (if (row.isNullAt(simOrd)) 0.0 else row.getDouble(simOrd))
        eFreshB += !row.isNullAt(freshOrd) && row.getBoolean(freshOrd)
      }
    }
    val (vIds, vLen, vIn) = (vIdB.result(), vLenB.result(), vecB.result())
    val (eSrc, eDst, eHs) = (eSrcB.result(), eDstB.result(), eHsB.result())
    val (eSimIn, eNullIn, eFresh) = (eSimB.result(), eNullB.result(), eFreshB.result())
    val sortedV = vIds.clone()
    java.util.Arrays.sort(sortedV)
    var i = 1
    while (i < sortedV.length) {
      if (sortedV(i) == sortedV(i - 1)) throw new IllegalArgumentException(
        s"NN-Descent: duplicate vector id ${sortedV(i)}; vector ids must be unique")
      i += 1
    }
    val all = sortedV ++ eSrc ++ eDst
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def ordOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    // vectors in ordinal order
    val vOrds = vIds.map(ordOf)
    val hasVec = new Array[Boolean](n)
    val vOff = new Array[Int](n + 1)
    i = 0
    while (i < vIds.length) { hasVec(vOrds(i)) = true; vOff(vOrds(i) + 1) = vLen(i); i += 1 }
    i = 0
    while (i < n) { vOff(i + 1) += vOff(i); i += 1 }
    val vecs = new Array[Float](vOff(n))
    var inAt = 0
    i = 0
    while (i < vIds.length) {
      System.arraycopy(vIn, inAt, vecs, vOff(vOrds(i)), vLen(i))
      inAt += vLen(i)
      i += 1
    }

    // old lists, by source; in-edges, by target
    val src = eSrc.map(ordOf)
    val dst = eDst.map(ordOf)
    val eOff = offsets(src, n)
    val byS = grouped(src, eOff)
    val eNbr = byS.map(dst)
    val eSim = byS.map(eSimIn)
    val eNull = byS.map(eNullIn)
    val rOff = offsets(dst, n)
    val byT = grouped(dst, rOff)
    // every edge row of a source carries the same hash of it
    val hs = new Array[Long](n)
    i = 0
    while (i < src.length) { hs(src(i)) = eHs(i); i += 1 }

    // neighbourhoods: forward list ∪ the `rev` smallest (hs, member) in-edge
    // sources, fresh OR-ed over both routes, then members with a vector
    val rev = cap - kBuild
    val bOff = new Array[Int](n + 1)
    val bMemB = new ArrayBuilder.ofInt
    val bFreshB = new ArrayBuilder.ofBoolean
    val mark = Array.fill(n)(-1)
    val pos = new Array[Int](n)
    var mem = new Array[Int](16)
    var fr = new Array[Boolean](16)
    val pick = new Array[Int](rev) // in-edge positions, best first
    def less(a: Int, b: Int): Boolean =
      hs(src(a)) < hs(src(b)) || (hs(src(a)) == hs(src(b)) && src(a) < src(b))
    var y = 0
    while (y < n) {
      var nm = 0
      def add(z: Int, f: Boolean): Unit =
        if (mark(z) == y) { if (f) fr(pos(z)) = true }
        else {
          if (nm == mem.length) {
            mem = java.util.Arrays.copyOf(mem, nm * 2); fr = java.util.Arrays.copyOf(fr, nm * 2)
          }
          mark(z) = y; pos(z) = nm; mem(nm) = z; fr(nm) = f; nm += 1
        }
      var e = eOff(y)
      while (e < eOff(y + 1)) { add(eNbr(e), eFresh(byS(e))); e += 1 }
      // insertion into a `rev`-long array keeps the smallest (hs, source)
      var np = 0
      e = rOff(y)
      while (e < rOff(y + 1)) {
        val p = byT(e)
        var j = np
        while (j > 0 && less(p, pick(j - 1))) j -= 1
        if (j < rev) {
          System.arraycopy(pick, j, pick, j + 1, math.min(np, rev - 1) - j)
          pick(j) = p
          if (np < rev) np += 1
        }
        e += 1
      }
      var j = 0
      while (j < np) { add(src(pick(j)), eFresh(pick(j))); j += 1 }
      j = 0
      while (j < nm) {
        if (hasVec(mem(j))) { bMemB += mem(j); bFreshB += fr(j); bOff(y + 1) += 1 }
        j += 1
      }
      bOff(y + 1) += bOff(y)
      y += 1
    }
    new DescentIndex(ids, vOff, vecs, eOff, eNbr, eSim, eNull, bOff,
      bMemB.result(), bFreshB.result())
  }
}

/** One task's share of a round: the nodes `[lo, hi)` of a [[DescentIndex]].
  * `inv` lists, per owned node, the neighbourhoods that hold it with its
  * fresh flag there; [[merge]] builds one node's new list in reused
  * primitive buffers, stamping candidates per node so nothing is cleared.
  */
private[plans] final class LocalJoin(ix: DescentIndex, kBuild: Int, val lo: Int, val hi: Int) {
  private val vecs = ix.vecs
  private val vOff = ix.vOff
  // Euclidean norms, accumulated as CosineSimilarity accumulates them
  private val norm = Array.tabulate(ix.n) { t =>
    var s = 0.0
    var i = vOff(t)
    while (i < vOff(t + 1)) { val d = vecs(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
  private val (invOff, invBlk, invFresh) = {
    val ownerB, blkB = new ArrayBuilder.ofInt
    val freshB = new ArrayBuilder.ofBoolean
    var y = 0
    while (y < ix.n) {
      var j = ix.bOff(y)
      while (j < ix.bOff(y + 1)) {
        val z = ix.bMem(j)
        if (z >= lo && z < hi) { ownerB += z - lo; blkB += y; freshB += ix.bFresh(j) }
        j += 1
      }
      y += 1
    }
    val owner = ownerB.result()
    val off = DescentIndex.offsets(owner, hi - lo)
    val at = DescentIndex.grouped(owner, off)
    (off, at.map(blkB.result()), at.map(freshB.result()))
  }
  /** Neighbourhood memberships of the owned nodes. */
  val members: Long = invBlk.length.toLong
  /** Cosines scored and proposals met by the last [[merge]]. */
  var scored = 0L
  var proposals = 0L

  // candidates of the current node
  private var cNode = new Array[Int](64)
  private var cSim = new Array[Double](64)
  private var cNull = new Array[Boolean](64)
  private var cFresh = new Array[Boolean](64)
  private var nc = 0
  // per node z: the last node x whose candidates hold z (`mark`), at
  // position `inAt`, and the last x that scored z (`done`)
  private val mark = Array.fill(ix.n)(-1)
  private val inAt = new Array[Int](ix.n)
  private val done = Array.fill(ix.n)(-1)
  private val best = new BestOf

  def nbr(i: Int): Int = cNode(best(i))
  def sim(i: Int): Any = if (cNull(best(i))) null else cSim(best(i))
  def fresh(i: Int): Boolean = cFresh(best(i))

  private def add(x: Int, z: Int, s: Double, isNull: Boolean, f: Boolean): Unit = {
    if (nc == cNode.length) {
      cNode = java.util.Arrays.copyOf(cNode, nc * 2)
      cSim = java.util.Arrays.copyOf(cSim, nc * 2)
      cNull = java.util.Arrays.copyOf(cNull, nc * 2)
      cFresh = java.util.Arrays.copyOf(cFresh, nc * 2)
    }
    mark(z) = x; inAt(z) = nc
    cNode(nc) = z; cSim(nc) = s; cNull(nc) = isNull; cFresh(nc) = f
    nc += 1
  }
  /** Merges node `x`'s new list; its rows are `nbr/sim/fresh(0 until m)`. */
  def merge(x: Int): Int = {
    nc = 0
    scored = 0; proposals = 0
    var e = ix.eOff(x)
    while (e < ix.eOff(x + 1)) {
      val z = ix.eNbr(e)
      if (mark(z) != x) add(x, z, ix.eSim(e), ix.eNull(e), f = false)
      else maxInto(inAt(z), ix.eSim(e), ix.eNull(e))
      e += 1
    }
    var b = invOff(x - lo)
    while (b < invOff(x - lo + 1)) {
      val y = invBlk(b)
      val fx = invFresh(b)
      var j = ix.bOff(y)
      while (j < ix.bOff(y + 1)) {
        val z = ix.bMem(j)
        if (z != x && (fx || ix.bFresh(j))) {
          proposals += 1
          if (done(z) != x) {
            done(z) = x
            val s = cosine(x, z)
            scored += 1
            // a proposal duplicating an old edge stays stale
            if (mark(z) == x) maxInto(inAt(z), s, isNull = false)
            else add(x, z, s, isNull = false, f = true)
          }
        }
        j += 1
      }
      b += 1
    }
    best.select(cNode, cSim, cNull, nc, kBuild)
  }

  /** max(sim) under Spark's double order, nulls ignored. */
  private def maxInto(p: Int, s: Double, isNull: Boolean): Unit =
    if (!isNull && (cNull(p) || SQLOrderingUtil.compareDoubles(s, cSim(p)) > 0)) {
      cSim(p) = s; cNull(p) = false
    }

  private def cosine(x: Int, z: Int): Double = {
    val (xo, zo) = (vOff(x), vOff(z))
    val len = vOff(x + 1) - xo
    if (len != vOff(z + 1) - zo) IndexKit.cosine(vecs, xo, len, vecs, zo, vOff(z + 1) - zo)
    else {
      var dot = 0.0
      var i = 0
      while (i < len) { dot += vecs(xo + i).toDouble * vecs(zo + i).toDouble; i += 1 }
      if (norm(x) == 0.0 || norm(z) == 0.0) 0.0 else dot / (norm(x) * norm(z))
    }
  }
}

object DescentRoundStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DescentRoundPlan(kBuild, cap, in, out, index) =>
      DescentRoundExec(kBuild, cap, in, out, planLater(index)) :: Nil
    case _ => Nil
  }
}

object DescentRound {

  /** One descent round of `graph` (id, nbr, sim, fresh) over `vecs`
    * (id, v array<float>) — see [[DescentRoundPlan]]. `round` salts the
    * reverse sample. Returns the merged (id, nbr, sim, fresh) graph, fresh
    * marking the edges this round added. Plans only in a session that
    * loads [[graft.GraftExtensions]].
    */
  def apply(graph: DataFrame, vecs: DataFrame, round: Int, kBuild: Int, cap: Int): DataFrame = {
    require(kBuild >= 1, s"NN-Descent: kBuild must be >= 1, got $kBuild")
    require(cap > kBuild, s"NN-Descent: cap must exceed kBuild ($kBuild), got $cap")
    val vt = vecs.schema("v").dataType
    vt match {
      case ArrayType(FloatType, _) =>
      case other => throw new IllegalArgumentException(
        s"NN-Descent requires array<float> vectors, got ${other.catalogString}")
    }
    val edges = graph
      .select(col("id").cast("long").as("id"), col("nbr").cast("long").as("nbr"),
        col("sim").cast("double").as("sim"), col("fresh").cast("boolean").as("fresh"),
        xxhash64(col("id").cast("long"), graft.functions.ScalarRef.int(round)).as("hs"),
        lit(null).cast(vt).as("v"))
      .filter(col("id").isNotNull && col("nbr").isNotNull)
    val nodes = vecs
      .select(col("id").cast("long").as("id"), lit(null).cast("long").as("nbr"),
        lit(null).cast("double").as("sim"), lit(null).cast("boolean").as("fresh"),
        lit(null).cast("long").as("hs"), col("v"))
      .filter(col("id").isNotNull)
    val ix = edges.unionByName(nodes).queryExecution.analyzed
    val in = Seq("id", "nbr", "sim", "fresh", "hs", "v").map(n => ix.output.find(_.name == n).get)
    val out = Seq(
      AttributeReference("id", LongType, nullable = false)(),
      AttributeReference("nbr", LongType, nullable = false)(),
      AttributeReference("sim", DoubleType, nullable = true)(),
      AttributeReference("fresh", BooleanType, nullable = false)())
    DatasetBridge.ofRows(graph.sparkSession, DescentRoundPlan(kBuild, cap, in, out, ix))
  }
}
