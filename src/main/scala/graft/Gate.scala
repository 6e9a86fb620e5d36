package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** The gate kit. A gate computes something twice, or against a reference,
  * and emits booleans: each is an [[all]] over named checks, and "these
  * frames hold the same rows" is [[sameRows]], never a gate's own
  * fingerprint.
  */
object Gate {

  /** Exact multiset equality by position (names are not compared): what
    * `a.exceptAll(b)` and `b.exceptAll(a)` both empty mean. Rows of `a`
    * count +1 and rows of `b` −1, summed per distinct row; any non-zero sum
    * is a difference. Rows are keyed as Spark's grouping keys them (the
    * aggregate `RewriteExceptAll` builds): −0.0 is 0.0, NaNs are one NaN,
    * nulls are equal. The sums run as a key-reduce, so the compare is ONE
    * job beyond the inputs' own stages; a SQL aggregate would add an
    * adaptive-execution stage job. Column counts or types (nullability
    * aside) that differ, and map columns, fail by name before any job.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val (fa, fb) = (a.schema.fields.toSeq, b.schema.fields.toSeq)
    def cols(fs: Seq[StructField]) =
      fs.map(f => s"${f.name} ${f.dataType.catalogString}").mkString("(", ", ", ")")
    require(fa.size == fb.size,
      s"Gate.sameRows: ${fa.size} columns ${cols(fa)} vs ${fb.size} ${cols(fb)}")
    for (((x, y), i) <- fa.zip(fb).zipWithIndex) {
      val (tx, ty) = (x.dataType.catalogString, y.dataType.catalogString)
      require(tx == ty, s"Gate.sameRows: column ${i + 1} is ${x.name} $tx vs ${y.name} $ty")
      require(!holdsMap(x.dataType),
        s"Gate.sameRows: column ${i + 1} ${x.name} is a $tx; maps cannot be grouped")
    }
    def tagged(df: DataFrame, tag: Long): RDD[(UnsafeRow, Long)] =
      df.queryExecution.toRdd.mapPartitions { rows =>
        val key = UnsafeProjection.create(fa.zipWithIndex.map { case (f, i) =>
          ColumnBridge.groupingKey(BoundReference(i, f.dataType, nullable = true))
        })
        rows.map(r => (key(r).copy(), tag))
      }
    tagged(a, 1L).union(tagged(b, -1L)).reduceByKey(_ + _).filter(_._2 != 0L).count() == 0L
  }

  private def holdsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => holdsMap(a.elementType)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
  }

  /** The AND of `checks`, all evaluated; each false one prints
    * `graft: gate <gate> check <name> failed` through [[BlockCleanup.loud]].
    */
  def all(gate: String)(checks: (String, Boolean)*): Boolean = {
    for ((name, ok) <- checks if !ok) BlockCleanup.loud(s"gate $gate check $name failed")
    checks.forall(_._2)
  }
}
