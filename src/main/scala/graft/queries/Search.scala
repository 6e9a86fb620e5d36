package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.text.{Phrase, Pii}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus search & compliance operators (SURVEY.md §2, "Training-data
  * pipeline extensions", r13): exact phrase search over positional
  * postings, collocation mining, and a checksum-validating PII battery.
  * All integer-exact, all oracle-matched.
  */
object Search {

  // ---- phrase search ---------------------------------------------------
  private val phrase2 = Seq("table", "hash")
  private val phrase3 = Seq("slow", "hash", "batch")

  /** Exact-phrase hits for a 2-word and a 3-word phrase via the
    * positional-postings operator (operators/text/Phrase.scala): postings
    * pruned to the phrase vocabulary BEFORE the alignment equi-joins — no
    * LIKE scan anywhere; overlapping occurrences count.
    */
  private def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Phrase.search(docs, phrase2).withColumn("phrase", lit(phrase2.mkString(" ")))
      .unionByName(Phrase.search(docs, phrase3)
        .withColumn("phrase", lit(phrase3.mkString(" "))))
      .select(col("phrase"), col("doc_id"), col("n_occ"))
      .orderBy("phrase", "doc_id")
  }

  private val phraseSearchSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS xs FROM documents),
       |p AS (SELECT doc_id, unnest(xs) AS w, generate_subscripts(xs, 1) AS i FROM t),
       |m2 AS (
       |  SELECT '${phrase2.mkString(" ")}' AS phrase, a.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_occ
       |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  WHERE a.w = '${phrase2(0)}' AND b.w = '${phrase2(1)}'
       |  GROUP BY a.doc_id),
       |m3 AS (
       |  SELECT '${phrase3.mkString(" ")}' AS phrase, a.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_occ
       |  FROM p a
       |  JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN p c ON a.doc_id = c.doc_id AND c.i = a.i + 2
       |  WHERE a.w = '${phrase3(0)}' AND b.w = '${phrase3(1)}' AND c.w = '${phrase3(2)}'
       |  GROUP BY a.doc_id)
       |SELECT * FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m3)
       |ORDER BY phrase, doc_id""".stripMargin

  // ---- collocations ----------------------------------------------------
  /** Dice-ranked bigram collocations ((2000·n_ab) div (n_a + n_b) — the
    * exact-integer collocation measure; PMI needs a log, Dice doesn't):
    * the vocabulary/phrase-mining census run before choosing tokenizer
    * merges or stop-phrases. One token explode feeds the unigram counts;
    * the bigram census is a per-doc adjacent-pair HOF (no self-join over
    * the posting frame); top-50 under a total ordering so the result SET
    * is engine-exact.
    */
  private def collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val bi = toks.select(explode(expr(
        """CASE WHEN size(ws) < 2 THEN array()
          |ELSE transform(sequence(1, size(ws) - 1),
          |  j -> struct(element_at(ws, j) AS w1,
          |              element_at(ws, CAST(j + 1 AS INT)) AS w2)) END"""
          .stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cnt", "n_w1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cnt", "n_w2"), "w2")
      .withColumn("dice_permille", expr("(2000 * n_pair) div (n_w1 + n_w2)"))
      .orderBy(desc("dice_permille"), desc("n_pair"), col("w1"), col("w2"))
      .limit(50)
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "dice_permille")
  }

  private val collocationsSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS xs FROM documents),
      |p AS (SELECT doc_id, unnest(xs) AS w, generate_subscripts(xs, 1) AS i FROM t),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY w),
      |bi AS (
      |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_pair
      |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  GROUP BY 1, 2)
      |SELECT w1, w2, n_pair, u1.cnt AS n_w1, u2.cnt AS n_w2,
      |  CAST((2000 * n_pair) // (u1.cnt + u2.cnt) AS BIGINT) AS dice_permille
      |FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2
      |ORDER BY dice_permille DESC, n_pair DESC, w1, w2 LIMIT 50""".stripMargin

  // ---- PII battery -----------------------------------------------------
  /** Multi-pattern PII battery with checksum validation (the Dolma/CCNet
    * scrub inventory beyond dx_scrub's emails): phones, IPv4s, and
    * 16-digit payment-card candidates where only Luhn-valid numbers count
    * — a digit-run regex alone over-fires on serials, and the battery
    * proves it by ALSO seeding checksum-broken numbers that must be
    * counted as candidates but never as valid. Seeds are keyed off doc_id
    * (phones %7, IPs %11, valid cards %13, broken cards %17) with the
    * card check digit computed by the same integer Luhn expression on
    * both engines (operators/text/Pii.scala). Map-only over the corpus.
    */
  private def piiSeedSql(divOp: String): String = {
    val base = s"(400000000000000 + (doc_id * 37) % 100000000)"
    val ccv = Pii.cardFromBase(base, divOp)
    val cci = Pii.cardFromBase(base, divOp, offset = 1)
    s"""concat(text,
       |  CASE WHEN doc_id % 7 = 0 THEN concat(' call 415-555-01',
       |    lpad(CAST(doc_id % 100 AS STRING), 2, '0')) ELSE '' END,
       |  CASE WHEN doc_id % 11 = 0 THEN concat(' from 10.0.',
       |    CAST(doc_id % 256 AS STRING), '.', CAST((doc_id * 7) % 256 AS STRING))
       |    ELSE '' END,
       |  CASE WHEN doc_id % 13 = 0 THEN concat(' card ', $ccv) ELSE '' END,
       |  CASE WHEN doc_id % 17 = 0 THEN concat(' card ', $cci) ELSE '' END)"""
      .stripMargin
  }

  private def piiBattery(s: SparkSession, dir: String): DataFrame = {
    val luhnCase =
      s"CASE WHEN ${Pii.luhnSum16("c")} % 10 = 0 THEN 1L ELSE 0L END"
    Tables(s, dir, "documents")
      .withColumn("t", expr(piiSeedSql("div")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(Pii.phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(Pii.ipRe), lit(0)))
          .cast("long").as("n_ips"),
        // candidates = MAXIMAL digit runs of exactly cardLen digits — the
        // boundary-guard form that crosses engines (see Pii.digitRunRe)
        expr(s"""CAST(size(filter(regexp_extract_all(t, '${Pii.digitRunRe}', 0),
                |  c -> length(c) = ${Pii.cardLen})) AS BIGINT)""".stripMargin)
          .as("n_cc_candidates"),
        expr(s"""aggregate(filter(regexp_extract_all(t, '${Pii.digitRunRe}', 0),
                |    c -> length(c) = ${Pii.cardLen}), 0L,
                |  (acc, c) -> acc + $luhnCase)""".stripMargin)
          .as("n_cc_valid"))
      .orderBy("doc_id")
  }

  private lazy val piiBatterySql =
    s"""WITH seeded AS (
       |  SELECT doc_id, ${piiSeedSql("//")} AS t FROM documents),
       |cand AS (
       |  SELECT doc_id, c FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(t, '${Pii.digitRunRe}')) AS c
       |    FROM seeded)
       |  WHERE length(c) = ${Pii.cardLen}),
       |vc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(CASE WHEN ${Pii.luhnSum16("c")} % 10 = 0
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
       |  FROM cand GROUP BY doc_id)
       |SELECT s.doc_id,
       |  CAST(len(regexp_extract_all(t, '${Pii.phoneRe}')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '${Pii.ipRe}')) AS BIGINT) AS n_ips,
       |  CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cc_candidates,
       |  CAST(coalesce(n_valid, 0) AS BIGINT) AS n_cc_valid
       |FROM seeded s LEFT JOIN vc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- containment search ----------------------------------------------
  /** Asymmetric shingle-containment search (|A∩B| / |A| — quote/excerpt
    * detection, the one-sided cousin of Jaccard dedup: a 50-token excerpt
    * inside a 5000-token page has tiny Jaccard but containment ≈ 1, which
    * is why Lee et al. 2022 "Deduplicating Training Data" treat substring
    * containment as its own dedup axis). Seeds: every doc_id % 9 = 0 doc
    * gets a half-length excerpt twin (+2000000), so excerpt→source pairs
    * must surface with ~1000 permille containment; source→excerpt stays
    * below threshold and must NOT.
    *
    * Scale shape: distinct 3-shingle postings with a df ≤ 64 hot-shingle
    * drop (frequent shingles carry no containment evidence — the same
    * bound that keeps dx_winnow_pairs' posting join linear at 100×); one
    * posting groupBy emits each list's ordered pairs locally (both
    * directions); sizes are rare-shingle counts, so both engines compute
    * the SAME normaliser. No length blocking — asymmetric containment is
    * exactly the case length-bucket blocking would wrongly prune.
    * Decisions are integer-exact ((1000·c) div n_src ≥ 800, n_src ≥ 5).
    */
  private def withExcerpts(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        expr("substring(text, 1, length(text) div 2)").as("text")))
  }

  private val excerptsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 2000000, substr(text, 1, length(text) // 2)
      |FROM documents WHERE doc_id % 9 = 0""".stripMargin

  private def containment(s: SparkSession, dir: String): DataFrame = {
    // Asymmetric PREFIX filter (the containment form of PPJoin's prefix
    // principle, one-sided because only the SRC size bounds the miss
    // budget): containment ≥ 800‰ lets src miss at most floor(n_src/5)
    // shingles, so a qualifying pair MUST co-occur in src's
    // floor(n_src/5)+1 RAREST shingles (pigeonhole). Candidates are
    // therefore prefix-postings × full-postings — Σ_prefix df instead of
    // the full index's Σdf² — and survivors verify EXACTLY on the
    // rare-shingle arrays. Same pair set, same values, ~5× less posting
    // work; at 100 TB the prefix is what keeps the join linear in docs.
    val (docs, _) = graft.Ckpt.settle(withExcerpts(s, dir)
      .select(col("doc_id"),
        array_distinct(
          graft.functions.Sketches.shingleHashes(col("text"), 3)).as("sh"))).head
    val posts = docs.select(col("doc_id"), explode(col("sh")).as("fp"))
    val rare = posts.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64)
    val (k, _) = graft.Ckpt.settle(posts.join(rare, "fp")).head
    // rare shingles per doc, rarest first ((df, fp) — a consistent total
    // order shared by prefix selection and nothing else; verification is
    // order-blind)
    val (arrs, _) = graft.Ckpt.settle(k
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("fp")))).as("sf"))
      .select(col("doc_id"), expr("transform(sf, x -> x.fp)").as("rsh"),
        expr("CAST(size(sf) AS BIGINT)").as("n_src"))).head
    val prefix = arrs.select(col("doc_id").as("src_id"),
      explode(expr("slice(rsh, 1, CAST(n_src div 5 AS INT) + 1)")).as("fp"))
    val cand = prefix
      .join(k.select(col("doc_id").as("dst_id"), col("fp")), "fp")
      .filter(col("src_id") =!= col("dst_id"))
      .select("src_id", "dst_id").distinct()
    cand
      .join(arrs.select(col("doc_id").as("src_id"), col("rsh").as("src_sh"),
        col("n_src")), "src_id")
      .join(arrs.select(col("doc_id").as("dst_id"), col("rsh").as("dst_sh")),
        "dst_id")
      .withColumn("n_shared",
        expr("CAST(size(array_intersect(src_sh, dst_sh)) AS BIGINT)"))
      .withColumn("containment_permille", expr("(1000 * n_shared) div n_src"))
      .filter(col("containment_permille") >= 800 && col("n_src") >= 5)
      .select("src_id", "dst_id", "n_shared", "n_src", "containment_permille")
      .orderBy("src_id", "dst_id")
  }

  private lazy val containmentSql =
    s"""WITH docs3 AS ($excerptsSql),
       |sh AS (SELECT doc_id, ${Pipeline.shingleDuck} AS hs FROM docs3),
       |f AS (SELECT doc_id, unnest(hs) AS fp FROM sh),
       |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 64),
       |k AS (SELECT doc_id, f.fp FROM f JOIN rare USING (fp)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_src FROM k GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT src_id, dst_id, n_shared, n_src,
       |  CAST((1000 * n_shared) // n_src AS BIGINT) AS containment_permille
       |FROM shared JOIN sz ON sz.doc_id = shared.src_id
       |WHERE (1000 * n_shared) // n_src >= 800 AND n_src >= 5
       |ORDER BY src_id, dst_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dx_phrase_search", phraseSearch, Some(phraseSearchSql)),
    QueryDef("dx_collocations", collocations, Some(collocationsSql)),
    QueryDef("dx_pii_battery", piiBattery, Some(piiBatterySql)),
    QueryDef("dx_containment", containment, Some(containmentSql)))
}
