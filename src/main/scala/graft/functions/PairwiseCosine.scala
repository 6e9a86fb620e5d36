package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native block-pairwise cosine for NN-Descent's local join (Dong et al.
  * 2011 §2.3): given one node's assembled neighborhood —
  * `array<struct<nbr:bigint, fresh:boolean, v:array<float>>>` — emit every
  * unordered member pair `(x < y, sim)` where at least one member is fresh
  * (the incremental rule: old×old pairs were proposed in the round that
  * aged them).
  *
  * Why an expression over a per-node block instead of scoring a pair
  * FRAME: the pair frame needs the two vector payloads JOINED ONTO every
  * candidate row — at cap=40 that is cap²/2 ≈ 800 pair rows per node each
  * carrying two ~256 B vectors through a shuffle (~40 GB/round at 200 k
  * nodes, the measured sf10m wall), where the block formulation ships each
  * member vector ONCE per node (cap rows, ~2 GB) and turns the pairwise
  * work into an in-core loop. Per-pair math follows [[CosineSimilarity]]'s
  * accumulation exactly (sequential ascending-index double adds; norms are
  * independent accumulators, so hoisting them per member is bit-identical
  * to the fused per-pair loop).
  *
  * Eval-only (CodegenFallback): the per-row work is an O(cap²·dim)
  * compiled Scala loop — one virtual call per NODE row, not per pair, so
  * codegen fusion has nothing material to add.
  */
case class PairwiseCosine(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pairwise_cosine"

  // members are read via getLong/getBoolean/getFloat: any other layout
  // would be misread (array<double> vectors score garbage), so it is
  // rejected at analysis time, as CosineSimilarity does
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, BooleanType, _, _),
        StructField(_, ArrayType(FloatType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"array<struct<nbr:bigint, fresh:boolean, v:array<float>>> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val members = input.asInstanceOf[ArrayData]
    val n = members.numElements()
    val ids = new Array[Long](n)
    val fresh = new Array[Boolean](n)
    val vecs = new Array[Array[Float]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val m = members.getStruct(i, 3)
      ids(i) = m.getLong(0)
      fresh(i) = m.getBoolean(1)
      val v = m.getArray(2).toFloatArray()
      vecs(i) = v
      var s = 0.0; var j = 0
      while (j < v.length) { val d = v(j).toDouble; s += d * d; j += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    val out = new java.util.ArrayList[InternalRow](n * (n - 1) / 2)
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        if ((fresh(a) || fresh(b)) && ids(a) != ids(b)) {
          val va = vecs(a); val vb = vecs(b)
          val d = math.min(va.length, vb.length)
          var dot = 0.0; var j = 0
          while (j < d) { dot += va(j).toDouble * vb(j).toDouble; j += 1 }
          // zero-norm guard: 0/0 = NaN sorts GREATEST under Spark's total
          // order, so one degenerate vector would outrank every real
          // neighbor in the descending TopK heaps — emit 0.0 instead
          // (mirrors CosineSimilarity)
          val np = norms(a) * norms(b)
          val sim = if (np == 0.0) 0.0 else dot / np
          val lo = math.min(ids(a), ids(b)); val hi = math.max(ids(a), ids(b))
          out.add(new GenericInternalRow(Array[Any](lo, hi, sim)))
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PairwiseCosine {
  /** Column-API entry point over
    * `array<struct<nbr:bigint, fresh:boolean, v:array<float>>>`. */
  def apply(members: Column): Column =
    ColumnBridge.column(PairwiseCosine(ColumnBridge.expression(members)))
}
