package graft

import graft.functions.{JaroWinklerImpl, JaroWinklerSimilarity}
import graft.operators.Link
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler kernel + multi-level / TF-adjusted Fellegi-Sunter. */
class FuzzyLinkSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerImpl.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro-winkler matches DuckDB's reference values bit-exactly") {
    // values read off DuckDB 1.x jaro_winkler_similarity on the same pairs
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dwayne", "duane") == 0.8400000000000001)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("abcdef", "abdcfe") == 0.9111111111111111)
    assert(jw("prefixaaaa", "prefixbbbb") == 0.8400000000000001)
    assert(jw("abcd", "abdc") == 0.9333333333333333)
  }

  test("jaro-winkler edge semantics: empty, identical, boost threshold, bytes") {
    assert(jw("", "") == 0.0) // DuckDB: empty side scores 0, not 1
    assert(jw("a", "") == 0.0)
    assert(jw("a", "a") == 1.0)
    assert(jw("ab", "ba") == 0.0) // window 0: no matches
    // jaro('xy','xz') = 2/3 <= 0.7 -> NO Winkler boost despite prefix 1
    assert(jw("xy", "xz") == 0.6666666666666666)
    // byte (not codepoint) semantics: 'é' counts as 2
    assert(jw("éa", "éb") == jw("xya", "xyb"))
  }

  test("jaro_winkler_similarity evaluates in codegen and SQL") {
    val got = Seq(("martha", "marhta"), ("xy", "xz"))
      .toDF("a", "b")
      .selectExpr("jaro_winkler_similarity(a, b) AS s")
      .as[Double].collect().toSeq
    assert(got == Seq(0.9611111111111111, 0.6666666666666666))
  }

  test("fellegiSunterLevels: first matching level wins, weights summed, gammas emitted") {
    val left = Seq((1L, "marhta", "A"), (2L, "zzzzzz", "B")).toDF("id", "name", "seg")
    val right = Seq((10L, "martha", "A"), (20L, "qqqqqq", "B")).toDF("id", "name", "seg")
    val out = Link.fellegiSunterLevels(
      left.withColumn("blk", lit(1)), right.withColumn("blk", lit(1)),
      "id", "id", "l.blk = r.blk",
      Seq(
        Link.LevelComparison(
          Seq("l.name = r.name",
            "jaro_winkler_similarity(l.name, r.name) >= 0.95",
            "jaro_winkler_similarity(l.name, r.name) >= 0.7"),
          Seq(-2.0, 1.0, 3.0, 5.0)),
        Link.LevelComparison(Seq("l.seg = r.seg"), Seq(-1.0, 2.0))),
      threshold = -10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getDouble(4))).toSet
    // (1, 10): jw(marhta, martha)=0.961 -> gamma 2 (not exact, >= 0.95), seg agree
    assert(out.contains((1L, 10L, 2, 1, 5.0)))
    // (2, 20): zzzzzz vs qqqqqq -> gamma 0 (-2.0), seg agree (+2.0)
    assert(out.contains((2L, 20L, 0, 1, 0.0)))
    // cross pairs: gamma 0, seg disagree
    assert(out.contains((1L, 20L, 0, 0, -3.0)))
    assert(out.contains((2L, 10L, 0, 0, -3.0)))
  }

  test("fellegiSunterLevels rejects unqualified level conditions") {
    val df = Seq((1L, "x")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      Link.fellegiSunterLevels(df, df, "id", "id", "l.id = r.id",
        Seq(Link.LevelComparison(Seq("name = r.name"), Seq(0.0, 1.0))), 0.0)
    }
  }

  test("nullLevel: NULL on either side is gamma -1 with zero weight, not a miss") {
    val left = Seq((1L, "ann", Option("A")), (2L, "bob", None))
      .toDF("id", "name", "seg").withColumn("blk", lit(1))
    val right = Seq((10L, "ann", Option("B")), (20L, "bob", None))
      .toDF("id", "name", "seg").withColumn("blk", lit(1))
    val out = Link.fellegiSunterLevels(
      left, right, "id", "id", "l.blk = r.blk",
      Seq(
        Link.LevelComparison(Seq("l.name = r.name"), Seq(-2.0, 4.0)),
        Link.LevelComparison(Seq("l.seg = r.seg"), Seq(-1.0, 2.0),
          nullLevel = Some("l.seg IS NULL OR r.seg IS NULL"))),
      threshold = -10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getDouble(4))).toSet
    // (1,10): names agree, segs both present but differ -> miss penalty
    assert(out.contains((1L, 10L, 1, 0, 3.0)))
    // (2,20): names agree, right seg NULL -> gamma -1, contribution 0.0
    assert(out.contains((2L, 20L, 1, -1, 4.0)))
    // (2,10): left seg NULL -> gamma -1 even though right has a value
    assert(out.contains((2L, 10L, 0, -1, -2.0)))
  }

  test("EM null exclusion: null pairs never move the comparison's m/u (1-iter invariant)") {
    // 6 pairs: 2 exact-agree, 2 disagree, 2 with a NULL side on seg
    val left = (1L to 6L).map(i => (i, s"n$i",
      if (i <= 4) Option(if (i <= 2) "X" else "A") else None))
      .toDF("id", "name", "seg").withColumn("blk", lit(1))
    val right = (1L to 6L).map(i => (i + 10L, s"n$i",
      if (i <= 4) Option(if (i <= 2) "X" else "B") else None))
      .toDF("id", "name", "seg").withColumn("blk", lit(1))
    val levels = Seq(Seq("l.name = r.name"), Seq("l.seg = r.seg"))
    val cand = Link.emLevelsCandidates(left, right, "id", "id", "l.blk = r.blk",
      levels, nullConditions = Seq(None, Some("l.seg IS NULL OR r.seg IS NULL")))
      .localCheckpoint(false)
    assert(cand.filter(col("g1") === -1).count() > 0, "nulls must be seeded")
    def segParams(c: org.apache.spark.sql.DataFrame) =
      Link.fellegiSunterEmLevelsOnCandidates(c, levels.map(_.size),
        iterations = 1, threshold = 0.0)._2(1)
    // one E/M step: pattern weights depend only on the fixed init, so
    // dropping the null pairs outright must leave seg's (m, u) bit-identical
    assert(segParams(cand) == segParams(cand.filter(col("g1") =!= -1)))
    // and a null pair's score must equal the same pair scored without the
    // null comparison contributing (factor 1.0): determinism run-twice
    val (s1, p1) = Link.fellegiSunterEmLevelsOnCandidates(cand, levels.map(_.size),
      threshold = 0.0)
    val (s2, p2) = Link.fellegiSunterEmLevelsOnCandidates(cand, levels.map(_.size),
      threshold = 0.0)
    assert(p1 == p2 && s1.orderBy("left_id", "right_id").collect().toSeq ==
      s2.orderBy("left_id", "right_id").collect().toSeq)
  }

  test("fellegiSunterEmLevels: deterministic, ordinal gammas learn a discriminative exact level") {
    // planted duplicates agree exactly; noise pairs agree weakly or not at all
    val left = (0L until 40L).map(i => (i, s"name$i", i / 10)).toDF("id", "name", "blk")
    val right = (0L until 40L).map { i =>
      val nm = if (i % 4 == 0) s"name$i" else if (i % 4 == 1) s"nam$i" else s"other$i"
      (i + 100L, nm, i / 10)
    }.toDF("id", "name", "blk")
    val levels = Seq(Seq(
      "l.name = r.name",
      "jaro_winkler_similarity(l.name, r.name) >= 0.85"))
    def run() = Link.fellegiSunterEmLevels(
      left, right, "id", "id", "l.blk = r.blk", levels, iterations = 15, threshold = 0.0)
    val (s1, p1) = run()
    val (s2, p2) = run()
    assert(p1 == p2)
    assert(s1.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq ==
      s2.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq)
    val (m, u) = p1.head
    assert(m.size == 3 && u.size == 3)
    // exact-agreement level carries more match evidence than the miss level
    assert(m(2) / u(2) > m(0) / u(0))
  }

  test("emPerRuleTraining: per-rule sessions skip rule-fixed comparisons, compose by mean") {
    // planted duplicates: same name AND same seg on i%3==0; blocks by blk
    val left = (0L until 30L).map(i => (i, s"name$i", s"s${i % 5}", i / 6))
      .toDF("id", "name", "seg", "blk")
    val right = (0L until 30L).map { i =>
      val nm = if (i % 3 == 0) s"name$i" else s"other$i"
      val sg = if (i % 3 == 0) s"s${i % 5}" else "sX"
      (i + 100L, nm, sg, i / 6)
    }.toDF("id", "name", "seg", "blk")
    val comparisons = Seq("l.name = r.name", "l.seg = r.seg")
    val sessions = Seq(
      ("l.name = r.name AND l.blk = r.blk", Set(0)),  // fixes name
      ("l.seg = r.seg AND l.blk = r.blk", Set(1)))    // fixes seg
    def run() = Link.emPerRuleTraining(left, right, "id", "id",
      sessions, comparisons, uFixed = Seq(0.05, 0.2), lambda = 0.2)
    val (m1, s1) = run()
    val (m2, s2) = run()
    assert(m1 == m2 && s1 == s2, "per-rule training must be deterministic")
    // separation: the name-blocked session trains seg only; vice versa
    assert(s1(0)(0).isEmpty && s1(0)(1).isDefined)
    assert(s1(1)(1).isEmpty && s1(1)(0).isDefined)
    // single-estimate comparisons compose as that estimate
    assert(m1(0) == s1(1)(0).get && m1(1) == s1(0)(1).get)
    assert(m1.forall(v => v > 0.0 && v < 1.0))
    // a comparison fixed by EVERY rule cannot be trained — refuse loudly
    val e = intercept[IllegalArgumentException] {
      Link.emPerRuleTraining(left, right, "id", "id",
        Seq(("l.name = r.name", Set(0, 1))), comparisons,
        uFixed = Seq(0.05, 0.2), lambda = 0.2)
    }
    assert(e.getMessage.contains("fixed by every blocking rule"))
    // a comparison free in BOTH sessions composes as the mean
    val threeComp = comparisons :+ "l.blk = r.blk"
    val (m3, s3) = Link.emPerRuleTraining(left, right, "id", "id",
      sessions, threeComp, uFixed = Seq(0.05, 0.2, 0.3), lambda = 0.2)
    assert(m3(2) == (s3(0)(2).get + s3(1)(2).get) / 2)
  }

  test("fellegiSunterLevelsMulti: candidates are the dedup'd union of all blocking rules") {
    val left = Seq((1L, "anna", 10, "A"), (2L, "bob", 20, "B")).toDF("id", "name", "blk", "seg")
    val right = Seq(
      (10L, "anna", 10, "Z"), // reached via blk rule only
      (20L, "bob", 99, "B"),  // reached via seg rule only
      (30L, "anna", 10, "A")  // reached via BOTH rules -> must appear once
    ).toDF("id", "name", "blk", "seg")
    val out = Link.fellegiSunterLevelsMulti(
      left, right, "id", "id",
      blockingRules = Seq("l.blk = r.blk", "l.seg = r.seg"),
      comparisons = Seq(Link.LevelComparison(Seq("l.name = r.name"), Seq(-1.0, 2.0))),
      threshold = -10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length == out.distinct.length, "duplicate candidate pair emitted")
    val asMap = out.map(t => (t._1, t._2) -> t._3).toMap
    assert(asMap((1L, 10L)) == 2.0) // blk-only candidate, name agrees
    assert(asMap((2L, 20L)) == 2.0) // seg-only candidate, name agrees
    assert(asMap((1L, 30L)) == 2.0) // both rules, emitted once
    assert(!asMap.contains(2L -> 10L)) // no rule reaches it
  }

  test("fellegiSunterLevelsTf: exact level is TF-adjusted, fuzzy levels keep fixed ratios") {
    val corpus = (Seq.fill(8)("COMMON") ++ Seq.fill(2)("RARE"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "seg")
    val left = Seq(
      (1L, "COMMON", "martha"), (2L, "RARE", "martha"), (3L, "COMMON", "martha"))
      .toDF("id", "seg", "name").withColumn("blk", lit(1))
    val right = Seq(
      (11L, "COMMON", "martha"),  // exact seg (tf 0.8) + exact name
      (12L, "RARE", "martha"),    // exact seg (tf 0.2) + exact name
      (13L, "OTHER", "marhta"))   // seg miss + fuzzy name (jw 0.961)
      .toDF("id", "seg", "name").withColumn("blk", lit(1))
    val out = Link.fellegiSunterLevelsTf(
      left, right, "id", "id", "l.blk = r.blk",
      tfComparison = Seq("l.seg = r.seg"), tfLeftValue = "l.seg",
      tfM = 0.8, tfLevelRatios = Seq(0.25),
      corpus = corpus, corpusCol = "seg",
      others = Seq((
        Seq("l.name = r.name", "jaro_winkler_similarity(l.name, r.name) >= 0.9"),
        Seq(0.1, 3.0, 10.0))),
      threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // (1,11): seg exact on COMMON tf=0.8 -> 0.8/0.8=1.0; name exact -> *10
    assert(math.abs(out((1L, 11L)) - 10.0) < 1e-12)
    // (2,12): seg exact on RARE tf=0.2 -> 0.8/0.2=4.0; name exact -> *10
    assert(math.abs(out((2L, 12L)) - 40.0) < 1e-12)
    // (1,13): seg miss -> 0.25; name jw(martha,marhta)=0.961 >= 0.9 -> *3
    assert(math.abs(out((1L, 13L)) - 0.75) < 1e-12)
  }

  test("fellegiSunterTf: common values score lower than rare on agreement") {
    val corpus = (Seq.fill(9)("COMMON") ++ Seq("RARE"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "seg")
    val left = Seq((1L, "COMMON", 5.0), (2L, "RARE", 5.0)).toDF("id", "seg", "bal")
    val right = Seq((11L, "COMMON", 5.0), (12L, "RARE", 5.0)).toDF("id", "seg", "bal")
    val out = Link.fellegiSunterTf(
      left.withColumn("blk", lit(1)), right.withColumn("blk", lit(1)),
      "id", "id", "l.blk = r.blk",
      tfAgree = "l.seg = r.seg", tfLeftValue = "l.seg",
      tfM = 0.9, tfDisagreeRatio = 0.125,
      corpus = corpus, corpusCol = "seg",
      others = Seq(("abs(l.bal - r.bal) < 1", 2.0, 0.5)),
      threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // agree on COMMON (tf 0.9): 0.9/0.9 * 2 = 2.0 ; agree on RARE (tf 0.1): 0.9/0.1 * 2 = 18.0
    assert(math.abs(out((1L, 11L)) - 2.0) < 1e-12)
    assert(math.abs(out((2L, 12L)) - 18.0) < 1e-12)
    // disagreement uses the fixed ratio: 0.125 * 2.0
    assert(math.abs(out((1L, 12L)) - 0.25) < 1e-12)
  }

  test("fellegiSunterTf: a left value absent from the corpus floors at tf_cnt = 1") {
    val corpus = Seq((0L, "SEEN")).toDF("id", "seg")
    val left = Seq((1L, "UNSEEN", 5.0)).toDF("id", "seg", "bal")
    val right = Seq((11L, "UNSEEN", 5.0)).toDF("id", "seg", "bal")
    val out = Link.fellegiSunterTf(
      left.withColumn("blk", lit(1)), right.withColumn("blk", lit(1)),
      "id", "id", "l.blk = r.blk",
      tfAgree = "l.seg = r.seg", tfLeftValue = "l.seg",
      tfM = 0.9, tfDisagreeRatio = 0.125,
      corpus = corpus, corpusCol = "seg",
      others = Seq.empty,
      threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // corpus has 1 row; UNSEEN floors at tf_cnt 1 -> ratio 0.9 / (1/1) = 0.9,
    // not a NULL ratio silently dropped by the threshold filter
    assert(out.contains((1L, 11L)))
    assert(math.abs(out((1L, 11L)) - 0.9) < 1e-12)
  }

  test("sortedNeighborhood: window candidates follow sort order within blocks") {
    val df = Seq(
      (1L, "anna", 1), (2L, "annb", 1), (3L, "annc", 1), (4L, "annd", 1),
      (5L, "zeta", 1),  // sorts last in block 1
      (6L, "anna", 2))  // other block: never pairs with block 1
      .toDF("id", "name", "blk")
    val got = Link.sortedNeighborhood(df, "id", col("name"), col("blk"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      (1L, 2L, 1), (1L, 3L, 2),
      (2L, 3L, 1), (2L, 4L, 2),
      (3L, 4L, 1), (3L, 5L, 2),
      (4L, 5L, 1)))
    // ties on the sort key break by id deterministically
    val ties = Seq((10L, "x", 1), (11L, "x", 1), (12L, "x", 1))
      .toDF("id", "name", "blk")
    val tiePairs = Link.sortedNeighborhood(ties, "id", col("name"), col("blk"), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiePairs == Set((10L, 11L), (11L, 12L)))
  }

  test("fellegiSunterEmLevelsTf: deterministic, trained levels discriminative, TF applied at the exact level") {
    // segments with very different corpus frequency; planted exact name
    // duplicates so EM has signal to learn from
    val corpus = (Seq.fill(16)("COMMON") ++ Seq.fill(4)("RARE"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "seg")
    val left = (0L until 40L).map { i =>
      (i, s"name$i", if (i % 5 == 0) "RARE" else "COMMON", i / 10)
    }.toDF("id", "name", "seg", "blk")
    val right = (0L until 40L).map { i =>
      val nm = if (i % 4 == 0) s"name$i" else if (i % 4 == 1) s"nam$i" else s"other$i"
      (i + 100L, nm, if (i % 5 == 0) "RARE" else "COMMON", i / 10)
    }.toDF("id", "name", "seg", "blk")
    def run() = Link.fellegiSunterEmLevelsTf(
      left, right, "id", "id", "l.blk = r.blk",
      tfComparison = Seq("l.seg = r.seg"), tfLeftValue = "l.seg",
      corpus = corpus, corpusCol = "seg",
      others = Seq(Seq(
        "l.name = r.name",
        "jaro_winkler_similarity(l.name, r.name) >= 0.85")),
      iterations = 15, threshold = 0.0)
    val (s1, p1) = run()
    val rows1 = s1.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq
    val (s2, p2) = run()
    assert(p1 == p2)
    assert(rows1 == s2.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq)
    // name comparison (index 1): exact level more discriminative than miss
    val (mName, uName) = p1(1)
    assert(mName.last / uName.last > mName.head / uName.head)
    // TF at prediction: same name gamma + exact segment agree -> RARE pair
    // outscores COMMON pair (value-specific u replaces the trained average)
    val byKey = rows1.map { r =>
      // columns: left_id, right_id, tf_cnt, g0, g1, score
      ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getInt(3), r.getInt(4), r.getDouble(5)))
    }.toMap
    val exactPairs = byKey.values.filter(v => v._2 == 1 && v._3 == 2)
    val rareScores = exactPairs.filter(_._1 == 4L).map(_._4)
    val commonScores = exactPairs.filter(_._1 == 16L).map(_._4)
    assert(rareScores.nonEmpty && commonScores.nonEmpty)
    assert(rareScores.min > commonScores.max)
  }

  test("each level ladder is evaluated once in the join condition and once in the projection") {
    // er_resolve's ladders: 2 + 1 jaro_winkler_similarity calls written
    val name = Seq("l.name = r.name",
      "jaro_winkler_similarity(l.name, r.name) >= 0.9",
      "jaro_winkler_similarity(l.name, r.name) >= 0.8")
    val city = Seq("l.city = r.city", "jaro_winkler_similarity(l.city, r.city) >= 0.85")
    val written = 3
    val left = Seq((1L, "martha", "york", 1), (2L, "dwayne", "leeds", 1))
      .toDF("id", "name", "city", "blk")
    val right = Seq((10L, "marhta", "yrok", 1), (20L, "duane", "leeds", 1))
      .toDF("id", "name", "city", "blk")
    val corpus = left.select("name")
    val levels = Seq(Link.LevelComparison(name, Seq(-4.0, 1.0, 3.0, 6.0)),
      Link.LevelComparison(city, Seq(-3.0, 2.0, 3.0)))
    val (tfCand, total) = Link.emLevelsTfCandidates(left, right, "id", "id",
      "l.blk = r.blk", name, "l.name", corpus, "name", Seq(city))
    // (operator, scored frame over un-checkpointed candidates, JW bound,
    // bound is exact); the EM tails name the ratio twice in lr / (lr + 1)
    val cases = Seq(
      ("fellegiSunterLevels", Link.fellegiSunterLevels(left, right, "id", "id",
        "l.blk = r.blk", levels, 5.0), 2 * written, true),
      ("fellegiSunterLevelsMulti", Link.fellegiSunterLevelsMulti(left, right, "id", "id",
        Seq("l.blk = r.blk", "l.city = r.city"), levels, 5.0), 2 * written, false),
      ("fellegiSunterLevelsTf", Link.fellegiSunterLevelsTf(left, right, "id", "id",
        "l.blk = r.blk", name, "l.name", 0.9, Seq(0.1, 2.0, 5.0), corpus, "name",
        Seq((city, Seq(0.2, 3.0, 8.0))), 1.0), 2 * written, false),
      ("fellegiSunterEmLevelsOnCandidates", Link.fellegiSunterEmLevelsOnCandidates(
        Link.emLevelsCandidates(left, right, "id", "id", "l.blk = r.blk", Seq(name, city)),
        Seq(3, 2), iterations = 2)._1, 3 * written, false),
      ("fellegiSunterEmLevelsTfOnCandidates", Link.fellegiSunterEmLevelsTfOnCandidates(
        tfCand, total, 3, Seq(2), iterations = 2)._1, 3 * written, false))
    cases.foreach { case (op, df, bound, exact) =>
      val calls = df.queryExecution.optimizedPlan.collect {
        case node => node.expressions.map(_.collect { case j: JaroWinklerSimilarity => j }.size).sum
      }.sum
      if (exact) assert(calls == bound, s"$op: $calls jaro_winkler_similarity calls in the plan")
      else assert(calls <= bound, s"$op: $calls jaro_winkler_similarity calls, bound $bound")
      info(s"$op: $calls")
    }
  }

  test("TF scorers reject an empty corpus by name") {
    val df = Seq((1L, "martha", 1)).toDF("id", "name", "blk")
    val empty = df.select("name").limit(0)
    val name = Seq("l.name = r.name", "jaro_winkler_similarity(l.name, r.name) >= 0.9")
    Seq(
      () => Link.fellegiSunterLevelsTf(df, df, "id", "id", "l.blk = r.blk", name, "l.name",
        0.9, Seq(0.1, 2.0), empty, "name", Nil, 1.0),
      () => Link.emLevelsTfCandidates(df, df, "id", "id", "l.blk = r.blk", name, "l.name",
        empty, "name", Nil)
    ).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("TF corpus is empty"))
    }
  }
}
