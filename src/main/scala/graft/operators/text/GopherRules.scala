package graft.operators.text

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}

/** The Gopher/MassiveText quality-rule battery (Rae et al. 2021,
  * Table A1), applied to a `lines` array column. Every ratio is an
  * integer permille (or centi) via truncating division, so a SQL oracle
  * replays the battery bit-exactly; a ratio whose denominator is 0 (no
  * lines, no characters) is NULL, as in the oracle, and fails the page.
  * The top-2-gram character fraction uses the standard `count × gram
  * length` approximation (overlaps double-counted), with ties broken
  * toward the lexicographically smallest gram (min over `(-count, gram)`
  * structs). Map-only per-row higher-order functions throughout — no
  * shuffle, no UDFs.
  *
  * Each intermediate (`full`, `words`, `grams`, the top-2-gram struct,
  * the verdict) is derived once per row wherever the battery runs, and
  * `gopher_pass` is one field of one struct. A filter on it is pushed
  * below the projections, and Catalyst copies a column alias's whole
  * expression into every reference, lambdas included; a lambda's
  * argument, though, is evaluated once. So the battery binds each
  * intermediate as a lambda argument ([[let]]) instead of naming it as a
  * column: the filter evaluates the battery once per page, and a
  * projection above it that keeps `full` joins the kept pages' lines once
  * more (pinned by `GopherRulesSpec`).
  */
object GopherRules {

  val stopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** `body` with `name` bound to one evaluation of `value`. */
  private def let(name: String, value: String)(body: String): String =
    s"element_at(transform(array($value), $name -> $body), 1)"

  /** Output metric columns, in order, over the bound page `f`, its words
    * `ws`, counts and grams `c` and top 2-gram `t`. `n_words` is at least
    * 1 (`split` yields one element for an empty string); the other
    * denominators can be 0.
    */
  private val metrics: Seq[(String, String)] = Seq(
    "words" -> "ws",
    "n_words" -> "c.n_words",
    "n_lines" -> "c.n_lines",
    "n_chars" -> "c.n_chars",
    "mwl_centi" -> "100 * aggregate(ws, 0L, (a, w) -> a + length(w)) DIV c.n_words",
    "symbol_permille" -> """1000 * (size(filter(ws, w -> w = '#'))
      |  + (c.n_chars - length(replace(f, '...', ''))) DIV 3) DIV c.n_words""".stripMargin,
    "bullet_permille" ->
      "1000 * size(filter(lines, l -> l LIKE '- %')) DIV nullif(c.n_lines, 0)",
    "ellipsis_permille" ->
      "1000 * size(filter(lines, l -> l LIKE '%...')) DIV nullif(c.n_lines, 0)",
    "alpha_permille" -> "1000 * size(filter(ws, w -> w RLIKE '[a-z]')) DIV c.n_words",
    "stop_hits" -> s"""CAST(size(filter(
      |  array(${stopwords.map(w => s"'$w'").mkString(",")}),
      |  sw -> array_contains(ws, sw))) AS BIGINT)""".stripMargin,
    "dup_line_permille" ->
      "1000 * (c.n_lines - size(c.distinct_lines)) DIV nullif(c.n_lines, 0)",
    "dup_line_char_permille" -> """1000 * (c.line_chars
      |  - aggregate(c.distinct_lines, 0L, (a, l) -> a + length(l)))
      |  DIV nullif(c.line_chars, 0)""".stripMargin,
    "grams" -> "c.grams",
    "top" -> "t",
    "top2gram" -> "t.g",
    "top2gram_char_permille" ->
      "1000 * (CAST(-t.nc AS BIGINT) * length(t.g)) DIV nullif(c.n_chars, 0)")

  /** One page's battery: struct `m` of the metric columns, and
    * `gopher_pass` computed from `m`.
    */
  private val battery: String =
    let("f", "full") {
      let("ws", "split(f, ' ')") {
        // guard: Spark's sequence(1, 0) DESCENDS, so a 1-word page needs an
        // explicit empty gram list (top2gram columns then go NULL)
        let("c", """named_struct(
          |  'n_words', CAST(size(ws) AS BIGINT),
          |  'n_lines', CAST(size(lines) AS BIGINT),
          |  'n_chars', CAST(length(f) AS BIGINT),
          |  'line_chars', aggregate(lines, 0L, (a, l) -> a + length(l)),
          |  'distinct_lines', array_distinct(lines),
          |  'grams', IF(size(ws) < 2, CAST(array() AS ARRAY<STRING>),
          |    transform(sequence(1, size(ws) - 1),
          |      i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))))"""
          .stripMargin) {
          let("t", """array_min(transform(array_distinct(c.grams),
            |  g -> named_struct('nc', -size(filter(c.grams, x -> x = g)), 'g', g)))"""
            .stripMargin) {
            let("m", metrics.map { case (n, e) => s"'$n', $e" }
              .mkString("named_struct(", ",\n", ")")) {
              """named_struct('m', m, 'gopher_pass',
                |  m.n_words BETWEEN 50 AND 100000 AND m.mwl_centi BETWEEN 300 AND 1000
                |  AND m.symbol_permille <= 100 AND m.bullet_permille <= 900
                |  AND m.ellipsis_permille <= 300 AND m.alpha_permille >= 800
                |  AND m.stop_hits >= 2 AND m.dup_line_permille <= 300
                |  AND m.dup_line_char_permille <= 200
                |  AND m.top2gram_char_permille <= 200)""".stripMargin
            }
          }
        }
      }
    }

  private val Battery = "_gopher"

  /** Adds `full`, the metric columns and `gopher_pass` derived from `lines`. */
  def apply(df: DataFrame): DataFrame = {
    val bound = df.withColumn("full", expr("array_join(lines, ' ')"))
      .withColumn(Battery, expr(battery))
    // ListMap keeps the columns in the order listed. A struct field reads
    // as nullable; stop_hits counts over a literal array, so coalesce
    // keeps it NOT NULL as it always is.
    bound.withColumns(ListMap(metrics.map {
      case ("stop_hits", _) => "stop_hits" -> coalesce(col(s"$Battery.m.stop_hits"), lit(0L))
      case (n, _) => n -> col(s"$Battery.m.$n")
    } :+ ("gopher_pass" -> col(s"$Battery.gopher_pass")): _*)).drop(Battery)
  }
}
