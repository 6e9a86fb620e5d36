package graft

import graft.operators.dedup.SuffixDedup
import org.apache.spark.sql.functions._
import scala.util.Random

/** SuffixDedup contracts: the prefix-doubling rank machinery equals
  * brute-force window-string comparison for ANY minLen; planted spans are
  * recovered with exact provenance; sub-threshold duplicates are ignored;
  * and the ≥minLen positions are exactly the subset of shorter-window
  * duplicates the longer formulation must refine.
  */
class SuffixDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Naive duplicated window starts via raw window strings (the oracle's
    * formulation, in Spark) — the brute-force truth.
    */
  private def naiveStarts(docs: org.apache.spark.sql.DataFrame, minLen: Int) =
    docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= minLen)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - $minLen + 1),
           | i -> named_struct('pos', i, 'win', concat_ws(' ', slice(toks, i, $minLen))))""".stripMargin)).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("win")))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("pos").cast("int").as("pos"))

  private def randomDocs(seed: Int, n: Int, vocab: Int, minToks: Int, maxToks: Int) = {
    val rng = new Random(seed)
    Seq.tabulate(n) { i =>
      val len = minToks + rng.nextInt(maxToks - minToks + 1)
      (i.toLong, Seq.fill(len)(s"w${rng.nextInt(vocab)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("rank-pair window grouping equals brute-force string windows (several minLen)") {
    // small vocab so collisions and repeats are plentiful, incl. within-doc
    val docs = randomDocs(7, 60, vocab = 8, minToks = 5, maxToks = 40)
    for (minLen <- Seq(1, 2, 3, 6, 7, 12)) {
      val got = SuffixDedup.duplicateWindowStarts(docs, "doc_id", "text", minLen)
        .select(col("doc_id"), col("pos").cast("int").as("pos"))
      val want = naiveStarts(docs, minLen)
      assert(Gate.sameRows(got, want),
        s"rank-derived duplicate window starts diverge from brute force at minLen=$minLen")
    }
  }

  test("planted cross-doc span is recovered with exact provenance; 49 tokens is not") {
    val rng = new Random(11)
    def words(n: Int, tag: String) = Seq.tabulate(n)(i => s"$tag$i")
    val shared55 = words(55, "s") // planted ≥50 run
    val shared49 = words(49, "x") // one token under the threshold
    def noise(n: Int) = Seq.fill(n)(s"n${rng.nextInt(100000)}")
    val docs = Seq(
      (1L, (noise(10) ++ shared55 ++ noise(7)).mkString(" ")),
      (2L, (noise(3) ++ shared55 ++ noise(20)).mkString(" ")),
      (3L, (noise(12) ++ shared49 ++ noise(5)).mkString(" ")),
      (4L, (shared49 ++ noise(30)).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = SuffixDedup.duplicateSpans(docs, "doc_id", "text", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: tokens 11..65 are the shared run; doc 2: tokens 4..58
    assert(spans.toSeq == Seq((1L, 11L, 65L, 55L), (2L, 4L, 58L, 55L)),
      s"expected exactly the two planted 55-token spans, got ${spans.toSeq}")
  }

  test("within-doc repetition and overlap merging produce one maximal span") {
    // one doc where a 50-token block appears twice back to back: every
    // window inside the 100-token region is duplicated (the second copy),
    // so coverage must merge into ONE span covering all 100 tokens
    val block = Seq.tabulate(50)(i => s"b$i")
    val docs = Seq(
      (1L, (Seq("pre1", "pre2") ++ block ++ block ++ Seq("post")).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = SuffixDedup.duplicateSpans(docs, "doc_id", "text", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 3L, 102L)),
      s"expected one merged span over both copies, got ${spans.toSeq}")
  }

  test("≥50-token starts are a subset of the 6-token-window duplicates (dx_dedup_substring's domain)") {
    val docs = Tables(spark, sfDir, "documents")
    val long = SuffixDedup.duplicateWindowStarts(docs, "doc_id", "text", 50)
    val short = SuffixDedup.duplicateWindowStarts(docs, "doc_id", "text", 6)
    assert(long.count() > 0, "driver corpus should contain ≥50-token duplicate runs")
    // a duplicated 50-window's first 6 tokens are themselves a duplicated
    // 6-window at the same position — the longer formulation refines the
    // shorter one, never contradicts it
    assert(long.exceptAll(short).isEmpty,
      "a ≥50-token duplicate start must also be a ≥6-token duplicate start")
    // and the refinement is strict on this corpus (6-token boilerplate
    // runs that never extend to 50 tokens exist)
    assert(short.count() > long.count())
  }

  test("driver-corpus spans match the naive recomputation at the paper's L=50") {
    val docs = Tables(spark, sfDir, "documents")
    val got = SuffixDedup.duplicateWindowStarts(docs, "doc_id", "text", 50)
      .select(col("doc_id"), col("pos").cast("int").as("pos"))
    val want = naiveStarts(docs, 50)
    assert(Gate.sameRows(got, want))
  }

  test("scrub removes exactly the span token mass and keeps byte-identical text") {
    val scrub = graft.queries.Pipeline.defs
      .find(_.name == "dx_dedup_suffix_scrub").get.fn(spark, sfDir)
      .localCheckpoint(false)
    val docs = Tables(spark, sfDir, "documents")
    val spans = SuffixDedup.duplicateSpans(docs, "doc_id", "text", 50)
      .groupBy("doc_id").agg(sum("n_tokens").as("cut"))
    // merged spans are disjoint by construction, so the kept count is
    // exactly the token count minus the span mass
    val bad = scrub.join(spans, Seq("doc_id"), "left")
      .filter(col("n_kept") =!= col("n_tokens") - coalesce(col("cut"), lit(0L)))
    assert(bad.count() == 0, "scrub must cut exactly the merged span mass")
    // untouched documents keep their original text verbatim
    val untouched = scrub.join(spans, Seq("doc_id"), "left_anti")
      .join(docs.select(col("doc_id"),
        md5(concat_ws(" ", expr("split(trim(text), '\\\\s+')"))).as("orig_md5")),
        "doc_id")
    assert(untouched.count() > 0)
    assert(untouched.filter(col("kept_md5") =!= col("orig_md5")).count() == 0,
      "documents without duplicate spans must survive byte-identically")
    // a doc whose span was cut no longer contains any duplicated 50-window
    // against the original corpus minus itself... (covered by construction:
    // every duplicated window start is inside a span) — spot-check one
    // planted pair instead: after scrubbing, the two docs sharing a
    // 55-token run keep only their distinct noise tokens
    import spark.implicits._
    val planted = Seq(
      (1L, (Seq.tabulate(60)(i => s"n1$i") ++ Seq.tabulate(55)(i => s"s$i")).mkString(" ")),
      (2L, (Seq.tabulate(55)(i => s"s$i") ++ Seq.tabulate(3)(i => s"n2$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val ps = SuffixDedup.duplicateSpans(planted, "doc_id", "text", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ps.toSeq == Seq((1L, 61L, 115L), (2L, 1L, 55L)))
  }

  /** Naive KEEP-ONE starts via raw window strings: every duplicated
    * window occurrence except the lexicographically-first (doc, pos) of
    * its content class — the oracle's formulation, in Spark.
    */
  private def naiveKeepOneStarts(docs: org.apache.spark.sql.DataFrame, minLen: Int) =
    docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= minLen)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - $minLen + 1),
           | i -> named_struct('pos', i, 'win', concat_ws(' ', slice(toks, i, $minLen))))""".stripMargin)).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("win")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("win")
          .orderBy("doc_id", "pos")))
      .filter(col("n") >= 2 && col("rn") > 1)
      .select(col("doc_id"), col("pos").cast("int").as("pos"))

  test("keep-one starts equal brute force and exclude exactly one occurrence per class") {
    val docs = randomDocs(19, 60, vocab = 8, minToks = 5, maxToks = 40)
    for (minLen <- Seq(2, 3, 6, 9)) {
      val got = SuffixDedup.duplicateWindowStartsKeepOne(docs, "doc_id", "text", minLen)
        .select(col("doc_id"), col("pos").cast("int").as("pos"))
      val want = naiveKeepOneStarts(docs, minLen)
      assert(Gate.sameRows(got, want),
        s"keep-one starts diverge from brute force at minLen=$minLen")
      // keep-one ⊂ cut-all, short by exactly one (the canonical) per class
      val cutAll = SuffixDedup.duplicateWindowStarts(docs, "doc_id", "text", minLen)
        .select(col("doc_id"), col("pos").cast("int").as("pos"))
      assert(got.exceptAll(cutAll).isEmpty,
        s"keep-one must be a subset of cut-all at minLen=$minLen")
      // independent class count: distinct duplicated window CONTENTS
      val nClasses = docs
        .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
        .filter(size(col("toks")) >= minLen)
        .select(explode(expr(
          s"""transform(sequence(1, size(toks) - $minLen + 1),
             | i -> concat_ws(' ', slice(toks, i, $minLen)))""".stripMargin)).as("win"))
        .groupBy("win").agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        .count()
      assert(cutAll.count() - got.count() == nClasses,
        s"exactly one canonical occurrence per duplicate class at minLen=$minLen")
    }
  }

  test("suffix ranks at depth d separate exactly the d-token prefixes") {
    val docs = randomDocs(23, 30, vocab = 5, minToks = 3, maxToks = 20)
    val ranks = SuffixDedup.suffixRanks(docs, "doc_id", "text", 8)
    // join ranks back to the token prefix strings and verify the classes
    val pref = docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks)),
          | i -> named_struct('pos', i,
          |   'pref', concat_ws(' ', slice(toks, i, 8)),
          |   'plen', least(size(toks) - i + 1, 8)))""".stripMargin)).as("pw"))
      .select(col("doc_id"), col("pw.pos").cast("int").as("pos"),
        // end-of-doc is a unique terminator: a suffix shorter than depth
        // only matches suffixes of the SAME truncated length
        concat_ws("|", col("pw.pref"), col("pw.plen")).as("key"))
    val joined = ranks.join(pref, Seq("doc_id", "pos"))
    val viol = joined.groupBy("r").agg(countDistinct("key").as("nk"))
      .filter(col("nk") > 1).count() +
      joined.groupBy("key").agg(countDistinct("r").as("nr"))
        .filter(col("nr") > 1).count()
    assert(viol == 0, "depth-8 rank classes must biject with 8-token prefixes")
  }
}
