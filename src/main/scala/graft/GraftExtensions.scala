package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** The one extension point: graft's native SQL functions and its planner
  * strategies (`TopKStrategy`, `NnMergeStrategy`, `GraphSearchStrategy`,
  * `DescentRoundStrategy`),
  * injected into every session built with `spark.sql.extensions=graft.GraftExtensions`.
  * [[GraftSession]] sets that key; a pure-SQL user or `spark-submit` job
  * sets it the same way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => plans.NnMergeStrategy)
    ext.injectPlannerStrategy(_ => plans.GraphSearchStrategy)
    ext.injectPlannerStrategy(_ => plans.DescentRoundStrategy)
  }
}

object GraftExtensions {
  private def intLiteral(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      { exprs: Seq[Expression] => CosineSimilarity(exprs(0), exprs(1)) }),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      { exprs: Seq[Expression] =>
        MinHashSignature(exprs(0), intLiteral(exprs(1), "minhash_signature k")) }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      { exprs: Seq[Expression] => SimHash64(exprs(0)) }),
    (FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "interleave_bits"),
      { exprs: Seq[Expression] => InterleaveBits(exprs(0), exprs(1)) }),
    // named exactly like DuckDB's builtin so comparison-level conditions are
    // one string valid in both engines
    (FunctionIdentifier("jaro_winkler_similarity"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, "jaro_winkler_similarity"),
      { exprs: Seq[Expression] => JaroWinklerSimilarity(exprs(0), exprs(1)) }),
    (FunctionIdentifier("damerau_levenshtein"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "damerau_levenshtein"),
      { exprs: Seq[Expression] => DamerauLevenshtein(exprs(0), exprs(1)) }),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      { exprs: Seq[Expression] => SortedIntersectCount(exprs(0), exprs(1)) }),
    (FunctionIdentifier("sorted_intersect_values"),
      new ExpressionInfo(classOf[SortedIntersectValues].getName, "sorted_intersect_values"),
      { exprs: Seq[Expression] => SortedIntersectValues(exprs(0), exprs(1)) }),
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      { exprs: Seq[Expression] => CdcChunks(exprs(0),
        intLiteral(exprs(1), "cdc_chunks minLen"),
        intLiteral(exprs(2), "cdc_chunks div"),
        intLiteral(exprs(3), "cdc_chunks maxLen")) }),
    // DuckDB-compatible NFC normalization, plus the general form-selectable
    // variant (unicode_normalize(s, 'NFKC') etc.)
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfc_normalize"),
      { exprs: Seq[Expression] => UnicodeNormalize(exprs(0), "NFC") }),
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      { exprs: Seq[Expression] =>
        val form =
          if (exprs.length < 2) "NFC"
          else exprs(1).eval() match {
            case s: UTF8String => s.toString
            case other => throw new IllegalArgumentException(
              s"unicode_normalize form must be a string literal, got $other")
          }
        UnicodeNormalize(exprs(0), form) }))
}
