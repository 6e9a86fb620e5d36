package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native ordered-pair expansion for the postings-group dedup idiom: given
  * a sorted array `ds` of n elements, emit the n(n−1)/2 pairs
  * `struct(l = ds(i), r = ds(j))` for i < j — exactly the row multiset of
  * the interpreted spelling
  *
  *   flatten(transform(ds, (x, i) ->
  *     transform(slice(ds, i + 2, size(ds)), y -> struct(x, y))))
  *
  * which pays one interpreted lambda invocation per pair plus a slice and
  * an inner array allocation per OUTER element (HOFs never enter
  * whole-stage codegen). Four oracle-pinned dedup paths feed their
  * postings groups through this expansion (ngram, jaccard-prefix,
  * substring-window, CDC-chunk); this kernel is one compiled double loop
  * per group. Generic over the element type (bigint ids or structs) —
  * struct elements are copied once per GROUP element, not per pair.
  *
  * Eval-only (CodegenFallback): per-ROW work is the O(n²) loop itself; a
  * codegen wrapper would add nothing.
  */
case class OrderedPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ordered_pairs"

  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"ordered_pairs expects an array input, got ${other.catalogString}")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array input, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("l", elemType, nullable = true),
    StructField("r", elemType, nullable = true))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // materialize elements once (structs copied out of any reused buffer)
    val elems = new Array[Any](n)
    var i = 0
    elemType match {
      case st: StructType =>
        val w = st.length
        while (i < n) {
          elems(i) = if (arr.isNullAt(i)) null else arr.getStruct(i, w).copy()
          i += 1
        }
      case et =>
        while (i < n) {
          elems(i) = if (arr.isNullAt(i)) null else arr.get(i, et)
          i += 1
        }
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](elems(i), elems(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OrderedPairs {
  /** Column-API entry point: all i<j element pairs of `arr` as
    * `array<struct<l, r>>`.
    */
  def apply(arr: Column): Column =
    ColumnBridge.column(OrderedPairs(ColumnBridge.expression(arr)))
}
