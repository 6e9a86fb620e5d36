package graft

import graft.operators.text.GopherRules
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, StringSplit}
import org.apache.spark.sql.functions.col

/** Specs for the Gopher quality battery: independent driver-side
  * reference of every metric, permille truncation, the top-2-gram
  * tie-break toward the lexicographically smallest gram, the pushed-down
  * pass filter, and pages whose ratios are undefined.
  */
class GopherRulesSpec extends SparkSpec {

  private case class Ref(nWords: Long, mwl: Long, sym: Long, bullet: Long,
    ell: Long, alpha: Long, stop: Long, dupLine: Long, dupChar: Long,
    top: String, topChar: Long, pass: Boolean)

  private def ref(lines: Seq[String]): Ref = {
    val full = lines.mkString(" ")
    val words = full.split(" ", -1)
    val nW = words.length.toLong
    val nL = lines.size.toLong
    val nC = full.length.toLong
    val mwl = 100L * words.map(_.length.toLong).sum / nW
    val nEll = (full.length - full.replace("...", "").length) / 3
    val sym = 1000L * (words.count(_ == "#") + nEll) / nW
    val bullet = 1000L * lines.count(_.startsWith("- ")) / nL
    val ell = 1000L * lines.count(_.endsWith("...")) / nL
    val alpha = 1000L * words.count(_.exists(c => c >= 'a' && c <= 'z')) / nW
    val stop = GopherRules.stopwords.count(words.contains).toLong
    val dupLine = 1000L * (nL - lines.distinct.size) / nL
    val lineChars = lines.map(_.length.toLong).sum
    val dupChar =
      1000L * (lineChars - lines.distinct.map(_.length.toLong).sum) / lineChars
    val grams = words.sliding(2).map(_.mkString(" ")).toSeq
    val byCount = grams.groupBy(identity).view.mapValues(_.size).toMap
    val top = byCount.toSeq.minBy { case (g, c) => (-c, g) }
    val topChar = 1000L * (top._2.toLong * top._1.length) / nC
    val pass = nW >= 50 && nW <= 100000 && mwl >= 300 && mwl <= 1000 &&
      sym <= 100 && bullet <= 900 && ell <= 300 && alpha >= 800 &&
      stop >= 2 && dupLine <= 300 && dupChar <= 200 && topChar <= 200
    Ref(nW, mwl, sym, bullet, ell, alpha, stop, dupLine, dupChar,
      top._1, topChar, pass)
  }

  private val clean = (1 to 9).map(i =>
    s"the quality of sentence number $i is fine and that would be it.")
  private val vocab = ('a' to 'z').map(c => s"${c}x$c")
  private val docs: Seq[Seq[String]] = Seq(
    clean,
    clean ++ Seq("- a bullet line.", "- another bullet line."),
    clean :+ "this one trails off into the distance...",
    clean :+ "symbols # and # and # crowd this line # a lot # here #.",
    clean :+ "42 12345 9000 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15.",
    clean ++ Seq.fill(6)("the exact same duplicated line appears here."),
    Seq("tiny page."),
    // tie-break: 'aa bb' and 'bb aa' both appear twice; smallest gram wins
    Seq("aa bb aa bb aa zz.", "the be to of and that have with words count."),
    // 400 words; nine 2-grams tie at 40 occurrences ('and that' wins)
    (1 to 40).map(i => s"the quality of item $i is fine and that would be it.")
      .map(_.split(" ").take(10).mkString(" ")),
    // the top 2-gram 'end. start' spans every line boundary
    (0 until 12).map(i =>
      s"start ${vocab(2 * i % 26)} the ${vocab((2 * i + 1) % 26)} of zz$i end."))

  private def docFrame(pages: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    pages.zipWithIndex.map { case (ls, i) => (i.toLong, ls) }.toDF("doc_id", "lines")
  }

  test("battery matches the independent reference") {
    val df = docFrame(docs)
    val got = GopherRules(df)
      .selectExpr("doc_id", "n_words", "mwl_centi", "symbol_permille",
        "bullet_permille", "ellipsis_permille", "alpha_permille", "stop_hits",
        "dup_line_permille", "dup_line_char_permille", "top2gram",
        "top2gram_char_permille", "gopher_pass")
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.zipWithIndex.foreach { case (ls, i) =>
      val e = ref(ls)
      val r = got(i.toLong)
      assert(r.getLong(1) === e.nWords, s"n_words doc $i")
      assert(r.getLong(2) === e.mwl, s"mwl doc $i")
      assert(r.getLong(3) === e.sym, s"sym doc $i")
      assert(r.getLong(4) === e.bullet, s"bullet doc $i")
      assert(r.getLong(5) === e.ell, s"ellipsis doc $i")
      assert(r.getLong(6) === e.alpha, s"alpha doc $i")
      assert(r.getLong(7) === e.stop, s"stop doc $i")
      assert(r.getLong(8) === e.dupLine, s"dup_line doc $i")
      assert(r.getLong(9) === e.dupChar, s"dup_char doc $i")
      assert(r.getString(10) === e.top, s"top2gram doc $i")
      assert(r.getLong(11) === e.topChar, s"top_char doc $i")
      assert(r.getBoolean(12) === e.pass, s"pass doc $i")
    }
    // the pushed-down plan the pass filter runs keeps the same pages
    val kept = GopherRules(df).filter(col("gopher_pass")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = docs.indices.filter(i => ref(docs(i)).pass).map(_.toLong).toSet
    assert(kept === want)
  }

  test("handcrafted pages exercise both pass outcomes") {
    assert(ref(docs(0)).pass)
    assert(ref(docs(8)).pass)
    assert(!ref(docs(6)).pass) // word-count floor
    assert(!ref(docs(5)).pass) // duplicate-line ceilings
    assert(ref(docs(8)).top === "and that") // the tie-break decides
    // the line-boundary 2-gram alone fails the page
    assert(ref(docs(9)).top === "end. start" && ref(docs(9)).topChar > 200)
  }

  test("a one-word page yields NULL top2gram instead of crashing") {
    import spark.implicits._
    val df = Seq((0L, Seq("lonely."))).toDF("doc_id", "lines")
    val r = GopherRules(df).selectExpr("top2gram", "top2gram_char_permille")
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("empty pages get NULL for undefined ratios and do not pass") {
    // lines = [] divides by 0 lines and 0 line characters; lines = [""]
    // by 0 line characters; both have 0 characters for the 2-gram share
    val df = docFrame(Seq(Seq(), Seq("")))
    val got = GopherRules(df).orderBy("doc_id")
      .selectExpr("bullet_permille", "ellipsis_permille", "dup_line_permille",
        "dup_line_char_permille", "top2gram_char_permille", "gopher_pass")
      .collect()
    def nulls(i: Int) = (0 until 5).filter(got(i).isNullAt)
    assert(nulls(0) === (0 until 5))
    assert(nulls(1) === Seq(3, 4))
    assert(got.map(_.getBoolean(5)).toSeq === Seq(false, false))
    assert(GopherRules(df).filter(col("gopher_pass")).count() === 0)
  }

  test("the pass filter evaluates the battery once per page") {
    // a cached, repartitioned input: over a LocalRelation the optimizer
    // folds the projections away and nothing is left to count
    val df = docFrame(docs).repartition(2).cache()
    def calls(q: DataFrame): (Int, Int) = {
      val es = q.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
      (es.map(_.collect { case s: StringSplit => s }.size).sum,
        es.map(_.collect { case j: ArrayJoin => j }.size).sum)
    }
    // the benchmark's shape: one battery in the filter, `full` once more
    // in the projection above it
    val (split, join) = calls(GopherRules(df).filter(col("gopher_pass")).select("doc_id", "full"))
    assert(split <= 2 && join <= 2, s"filtered: $split split, $join array_join")
    assert(calls(GopherRules(df)) === ((1, 1)), "unfiltered")
    info(s"filtered: $split split, $join array_join")
    df.unpersist()
  }
}
