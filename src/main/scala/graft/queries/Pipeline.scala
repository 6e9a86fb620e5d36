package graft.queries

import graft.{Gate, QueryDef, Tables}
import graft.operators.ann.Knn
import graft.operators.dedup.{MinHashLSH, SimHash}
import graft.operators.multimodal.Media
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` / `embeddings`
  * (SURVEY.md §2, "Training-data pipeline extensions").
  */
object Pipeline {

  // Fixed anchor-word profiles for the n-gram/stopword language heuristic.
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join", "row", "column", "big", "batch", "key"),
    "en" -> Seq("hash", "order", "table", "window", "row", "batch", "big", "group"),
    "es" -> Seq("slow", "agg", "hash", "merge", "vector", "value", "customer", "scan"),
    "fr" -> Seq("scan", "data", "query", "batch", "small", "join", "key", "column"),
    "zh" -> Seq("join", "small", "row", "customer", "column", "scan", "the", "value"))

  private def sparkLangScore(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
    s"CAST(size(filter(toks, t -> array_contains($arr, t))) AS BIGINT)"
  }

  private def duckLangScore(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($arr, t)))"
  }

  /** Alphabetical-preference argmax over the five scores — identical CASE
    * chain in both engines.
    */
  private def predCase(scoreName: String => String): String = {
    val langs = langProfiles.map(_._1)
    val branches = langs.dropRight(1).map { l =>
      val geAll = langs.filterNot(_ == l).map(o => s"${scoreName(l)} >= ${scoreName(o)}").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }
    s"CASE ${branches.mkString(" ")} ELSE '${langs.last}' END"
  }

  private def langId(s: SparkSession, dir: String): DataFrame = {
    val scores = langProfiles.map { case (l, ws) => expr(sparkLangScore(ws)).as(s"s_$l") }
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .select(col("doc_id") +: col("lang") +: scores: _*)
      .withColumn("pred_lang", expr(predCase(l => s"s_$l")))
      .withColumn("is_correct", col("pred_lang") === col("lang"))
      .drop("lang")
      .orderBy("doc_id")
  }

  private val langIdSql = {
    val scores = langProfiles.map { case (l, ws) => s"${duckLangScore(ws)} AS s_$l" }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, lang, $scores FROM t)
       |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
       |  ${predCase(l => s"s_$l")} AS pred_lang,
       |  (${predCase(l => s"s_$l")} = lang) AS is_correct
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---- trained language ID (CCNet-style) -------------------------------

  /** Planted multi-language truth set for the TRAINED language-ID family
    * (r17 verdict #4): the driver corpus's `lang` label is independent of
    * its synthetic English-ish text (measured — see the `dx_nb_classify`
    * stance in [[graft.queries.Selection]]), so a REAL lang-ID truth set
    * is planted instead: each document gets true_lang = langs[doc_id % 5]
    * and 12 words drawn deterministically (the md5-digit device) from that
    * language's 10-common-word vocabulary. Every generation step is
    * expressible in both engines, so the whole trained pipeline is
    * oracle-matched bit-exactly — not merely gated.
    */
  private val plantedLangs = Seq("de", "en", "es", "fr", "zh")
  private val plantedVocab: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "nicht", "das", "ist", "mit", "sich", "auch", "werden"),
    "en" -> Seq("the", "and", "was", "that", "have", "this", "with", "they", "from", "which"),
    "es" -> Seq("que", "los", "una", "con", "para", "por", "las", "del", "este", "como"),
    "fr" -> Seq("les", "des", "est", "dans", "pour", "une", "qui", "sur", "avec", "pas"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "men", "zhe", "guo", "ren", "zhong"))

  private val plantedLangCase =
    "CASE CAST(doc_id % 5 AS INT) " + plantedLangs.zipWithIndex
      .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ") + " END"

  /** CASE over true_lang selecting the idx-th vocab word — `elem` renders
    * the per-language 1-indexed list access in each engine's dialect, so
    * both sides index the SAME vocab literal.
    */
  private def plantedWordCase(elem: Seq[String] => String): String =
    "CASE true_lang " + plantedLangs.map { l =>
      s"WHEN '$l' THEN ${elem(plantedVocab(l))}"
    }.mkString(" ") + " END"

  private def plantedWords(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"))
      .withColumn("true_lang", expr(plantedLangCase))
      .withColumn("i", explode(expr("sequence(0, 11)")))
      .withColumn("idx", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 1, 1), 16, 10) AS INT) % 10"))
      .withColumn("word", expr(plantedWordCase(ws =>
        s"element_at(array(${ws.map(w => s"'$w'").mkString(", ")}), idx + 1)")))
      .select("doc_id", "true_lang", "word")

  /** Word-internal char-trigram features over boundary-padded words
    * (`^word$` — the fastText/CCNet character-n-gram recipe), hashed to
    * the family-standard 256 md5 buckets so the weight table stays
    * kilobytes regardless of corpus size.
    */
  private def plantedBuckets(words: DataFrame): DataFrame =
    words
      .withColumn("pw", concat(lit("^"), col("word"), lit("$")))
      .withColumn("tri", explode(expr(
        "transform(sequence(1, length(pw) - 2), p -> substring(pw, p, 3))")))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(tri), 1, 2), 16, 10) AS BIGINT)"))
      .select("doc_id", "true_lang", "bucket")

  /** TRAINED language ID — CCNet's actual recipe (Wenzek et al. 2020,
    * arXiv:1911.00359 run a trained fastText langid model, not stopword
    * heuristics): multinomial NB over word-internal char-trigram buckets,
    * trained on the even-doc half of the planted truth set and scored on
    * the odd-doc half. Reuses the integer-exact weight formula the NB
    * family already oracle-pins ([[Selection.nbWeightsFromCounts]]: ppm +
    * floor-log2 bits), priors and argmax exactly as `dx_nb_classify`.
    *
    * Shape at 100 TB: training is one partial-agg shuffle with
    * classes × 256 state; scoring is a per-doc histogram + a broadcast
    * join of the kilobyte weight table — the corpus never self-joins.
    */
  private def langIdTrained(s: SparkSession, dir: String): DataFrame = {
    val (buckets, _) = graft.Ckpt.settle(plantedBuckets(plantedWords(s, dir))).head
    val train = buckets.filter(col("doc_id") % 2 === 0)
    val w = Selection.nbWeightsFromCounts(
      train.groupBy(col("true_lang").as("lang"), col("bucket"))
        .agg(count(lit(1)).as("c")),
      train.groupBy(col("true_lang").as("lang")).agg(count(lit(1)).as("n")))
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
      .withColumn("true_lang", expr(plantedLangCase))
    val trainDocs = docs.filter(col("doc_id") % 2 === 0)
    val priors = trainDocs.groupBy(col("true_lang").as("cand"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("ndt"))))
      .withColumn("w_prior", expr(
        "CAST(length(bin(greatest(1L, (nd * 1000000) div ndt))) AS BIGINT)"))
      .select("cand", "w_prior")
    val hist = buckets.filter(col("doc_id") % 2 === 1)
      .groupBy("doc_id", "true_lang", "bucket").agg(count(lit(1)).as("cnt"))
    val scored = hist
      .join(broadcast(w.select(col("lang").as("cand"), col("bucket"), col("w_bits"))),
        "bucket")
      .groupBy("doc_id", "true_lang", "cand")
      .agg(sum(col("cnt") * col("w_bits")).as("ll"))
      .join(broadcast(priors), "cand")
      .withColumn("score", col("ll") + col("w_prior"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("cand"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("cand").as("pred_lang"),
        (col("cand") === col("true_lang")).as("is_correct"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB CTE chain: planted words → padded-word trigram buckets
    * → NB weights/priors → held-out argmax (mirrors `nbCommonSql`'s
    * devices; both engines derive vocab/CASE text from the same literals).
    */
  private val langIdTrainedCte = {
    val wordCase = plantedWordCase(ws =>
      s"[${ws.map(w => s"'$w'").mkString(", ")}][idx + 1]")
    s"""d AS (
       |  SELECT doc_id, $plantedLangCase AS true_lang FROM documents),
       |wd AS (
       |  SELECT doc_id, true_lang,
       |    (strpos('0123456789abcdef',
       |       substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 10
       |      AS idx
       |  FROM (SELECT doc_id, true_lang, unnest(range(12)) AS i FROM d)),
       |w2 AS (
       |  SELECT doc_id, true_lang, $wordCase AS word FROM wd),
       |tri AS (
       |  SELECT doc_id, true_lang,
       |    unnest(list_transform(range(1, length(pw) - 1),
       |      p -> substr(pw, CAST(p AS INT), 3))) AS tri
       |  FROM (SELECT doc_id, true_lang, '^' || word || '$$' AS pw FROM w2)),
       |bt AS (
       |  SELECT doc_id, true_lang,
       |    CAST((strpos('0123456789abcdef', substr(md5(tri), 1, 1)) - 1) * 16
       |      + strpos('0123456789abcdef', substr(md5(tri), 2, 1)) - 1 AS BIGINT)
       |      AS bucket
       |  FROM tri),
       |cnt AS (
       |  SELECT true_lang AS lang, bucket, CAST(count(*) AS BIGINT) AS c
       |  FROM bt WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |tot AS (
       |  SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS n
       |  FROM bt WHERE doc_id % 2 = 0 GROUP BY 1),
       |dense AS (
       |  SELECT lang, n, CAST(unnest(range(256)) AS BIGINT) AS bucket FROM tot),
       |wb AS (
       |  SELECT dn.lang, dn.bucket,
       |    CAST(length(bin(greatest(1,
       |      ((COALESCE(c.c, 0) + 1) * 1000000) // (dn.n + 256)))) AS BIGINT)
       |      AS w_bits
       |  FROM dense dn
       |  LEFT JOIN cnt c ON c.lang = dn.lang AND c.bucket = dn.bucket),
       |pri AS (
       |  SELECT a.true_lang AS cand,
       |    CAST(length(bin(greatest(1, (a.nd * 1000000) // b.ndt))) AS BIGINT)
       |      AS w_prior
       |  FROM (SELECT true_lang, CAST(count(*) AS BIGINT) AS nd
       |        FROM d WHERE doc_id % 2 = 0 GROUP BY 1) a
       |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS ndt
       |              FROM d WHERE doc_id % 2 = 0) b),
       |hist AS (
       |  SELECT doc_id, true_lang, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bt WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT h.doc_id, h.true_lang, w.lang AS cand,
       |    CAST(sum(h.cnt * w.w_bits) AS BIGINT) AS ll
       |  FROM hist h JOIN wb w USING (bucket) GROUP BY 1, 2, 3),
       |scp AS (
       |  SELECT sc.doc_id, sc.true_lang, sc.cand, sc.ll + p.w_prior AS score
       |  FROM sc JOIN pri p ON p.cand = sc.cand),
       |pr AS (
       |  SELECT doc_id, true_lang, cand,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand)
       |      AS rn
       |  FROM scp)""".stripMargin
  }

  private val langIdTrainedSql =
    s"""WITH $langIdTrainedCte
       |SELECT doc_id, true_lang, cand AS pred_lang,
       |  (cand = true_lang) AS is_correct
       |FROM pr WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Trained-beats-heuristic gate, itself fully oracle-recomputed: the
    * trained NB's held-out correct count vs the anchor-word heuristic
    * (`dx_lang_id`'s exact profiles + argmax CASE) evaluated on the SAME
    * planted slices. The heuristic's profiles were built for the synthetic
    * corpus's English-ish vocabulary, so on real multi-language text it
    * collapses to near-prior accuracy — which is precisely the CCNet
    * argument for training a classifier instead.
    */
  private def langIdTrainedGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trained = langIdTrained(s, dir)
    val heldWords = plantedWords(s, dir).filter(col("doc_id") % 2 === 1)
    val scoreCols = langProfiles.map { case (l, ws) =>
      sum(when(col("word").isin(ws: _*), 1L).otherwise(0L)).as(s"s_$l") }
    val heur = heldWords.groupBy("doc_id", "true_lang")
      .agg(scoreCols.head, scoreCols.tail: _*)
      .withColumn("pred_lang", expr(predCase(l => s"s_$l")))
    val nHeld = trained.count()
    val tCorrect = trained.filter(col("is_correct")).count()
    val hCorrect = heur.filter(col("pred_lang") === col("true_lang")).count()
    Seq((nHeld, tCorrect, hCorrect, Gate.all("dx_lang_id_trained_gate")(
        "trained_beats_heuristic" -> (tCorrect > hCorrect))))
      .toDF("n_held", "trained_correct", "heuristic_correct",
        "trained_beats_heuristic")
  }

  private val langIdTrainedGateSql = {
    val scores = langProfiles.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(sum(CASE WHEN list_contains($arr, word) THEN 1 ELSE 0 END) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    s"""WITH $langIdTrainedCte,
       |hs AS (
       |  SELECT doc_id, true_lang,
       |    $scores
       |  FROM w2 WHERE doc_id % 2 = 1 GROUP BY 1, 2),
       |hp AS (
       |  SELECT doc_id, true_lang, ${predCase(l => s"s_$l")} AS pred FROM hs),
       |tr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_held,
       |    CAST(sum(CASE WHEN cand = true_lang THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tc
       |  FROM pr WHERE rn = 1),
       |hh AS (
       |  SELECT CAST(sum(CASE WHEN pred = true_lang THEN 1 ELSE 0 END)
       |    AS BIGINT) AS hc FROM hp)
       |SELECT tr.n_held AS n_held, tr.tc AS trained_correct,
       |  hh.hc AS heuristic_correct, (tr.tc > hh.hc) AS trained_beats_heuristic
       |FROM tr CROSS JOIN hh""".stripMargin
  }

  private def quality(s: SparkSession, dir: String): DataFrame = {
    val en = langProfiles.toMap.apply("en")
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_nonspace", expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)"))
      .withColumn("mean_token_len", expr("CAST(n_nonspace AS DOUBLE) / n_tokens"))
      .withColumn("stop_ratio", expr(s"CAST(${sparkLangScore(en)} AS DOUBLE) / n_tokens"))
      .withColumn("quality_score",
        expr("round(stop_ratio * 0.4 + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6, 6)"))
      .select("doc_id", "n_chars", "n_tokens", "mean_token_len", "stop_ratio", "quality_score")
      .orderBy("doc_id")
  }

  private val qualitySql = {
    val en = langProfiles.toMap.apply("en")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace
       |  FROM documents),
       |s AS (SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, n_nonspace,
       |  ${duckLangScore(en)} AS n_stop FROM t)
       |SELECT doc_id, n_chars, n_tokens,
       |  CAST(n_nonspace AS DOUBLE) / n_tokens AS mean_token_len,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |  round(CAST(n_stop AS DOUBLE) / n_tokens * 0.4
       |    + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.6, 6) AS quality_score
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]"

  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_ws_tokens"),
        expr(s"CAST(size(regexp_extract_all(text, '$bpePattern', 0)) AS BIGINT)").as("n_bpe_tokens"),
        expr("CAST(length(text) AS DOUBLE) / size(split(trim(text), '\\\\s+'))").as("chars_per_token"))
      .orderBy("doc_id")

  private val tokensSql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    // per-position rolling hash amplifies CPU ~length× per row — spread
    // past the single-row-group scan bottleneck (no-op once splits ≥ cores)
    Tables.spread(Tables(s, dir, "documents").select("doc_id", "text"))
      .select(
        col("doc_id"),
        expr("""array_min(transform(sequence(1, greatest(length(text) - 7, 1)),
               | i -> md5(substring(text, i, 8))))""".stripMargin).as("fingerprint"))
      .orderBy("doc_id")

  private val fingerprintSql =
    """SELECT doc_id,
      |  list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
      |    i -> md5(substr(text, i, 8)))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Unicode normalization + control-char/whitespace cleanup — the pass a
    * corpus needs BEFORE any hash-based dedup (NFC-composed `é` and
    * decomposed `e`+U+0301 are byte-distinct, so un-normalized text leaks
    * duplicates past exact and MinHash dedup alike). The corpus is
    * ASCII-only, so both engines first inject decomposed accents, a BEL
    * control char and doubled spaces deterministically — making the NFC
    * composition, the control strip and the whitespace collapse all
    * observable in the digests. Spark side runs graft's native
    * `unicode_normalize` expression (functions/Normalize.scala, ASCII
    * fast-path, whole-stage codegen); DuckDB side its `nfc_normalize`
    * builtin. Only engine-portable regex features (RE2 ∩ Java).
    */
  private def normalizeText(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UnicodeNormalize
    val injected = regexp_replace(
      regexp_replace(col("text"), "e", "e\u0301"),
      "\\. ", ".\u0007  ")
    val nfc = UnicodeNormalize(injected)
    val cleaned = trim(regexp_replace(
      regexp_replace(nfc, "[\\x00-\\x08\\x0B-\\x1F]", ""),
      "\\s+", " "))
    Tables(s, dir, "documents").select(
      col("doc_id"),
      md5(cleaned).as("norm_md5"),
      length(cleaned).cast("long").as("n_chars_norm"),
      (length(injected) - length(nfc)).cast("long").as("n_composed"))
      .orderBy("doc_id")
  }

  private val normalizeTextSql =
    """WITH injected AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(text, 'e', 'e' || chr(769), 'g'),
      |                   '\. ', '.' || chr(7) || '  ', 'g') AS t
      |  FROM documents),
      |norm AS (SELECT doc_id, t, nfc_normalize(t) AS n FROM injected),
      |clean AS (
      |  SELECT doc_id, t, n,
      |    trim(regexp_replace(regexp_replace(n, '[\x00-\x08\x0B-\x1F]', '', 'g'),
      |                        '\s+', ' ', 'g')) AS c
      |  FROM norm)
      |SELECT doc_id,
      |  md5(c) AS norm_md5,
      |  CAST(length(c) AS BIGINT) AS n_chars_norm,
      |  CAST(length(t) - length(n) AS BIGINT) AS n_composed
      |FROM clean ORDER BY doc_id""".stripMargin

  /** PII scrubbing — the redaction pass every shipped training corpus runs.
    * Emails are planted deterministically (doc_id % 5) so the operator has
    * true positives in both engines; output is the redaction count plus a
    * digest of the scrubbed text, proving byte-identical scrub results.
    * The pattern uses no engine-specific regex features (safe under both
    * Java regex and RE2).
    */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  private def scrub(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("seeded",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact: user"),
            col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(col("text")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("seeded"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        md5(regexp_replace(col("seeded"), emailRe, "<EMAIL>")).as("scrubbed_md5"))
      .orderBy("doc_id")

  private val scrubSql =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |      ELSE text END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  md5(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g')) AS scrubbed_md5
      |FROM seeded ORDER BY doc_id""".stripMargin

  /** Within-document repetition ratio (a standard quality signal: spammy /
    * templated text repeats its own n-grams): 1 − distinct/total 3-gram
    * shingles, on the fused native tokenizer+shingler.
    */
  private def repetition(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      // repetition is defined over docs with at least one full 3-gram; the
      // same predicate in both engines keeps the under-3-token edge (where
      // Spark's fused shingler and the string twin legitimately differ) out
      // of the domain entirely
      .filter(expr("size(split(trim(text), '\\\\s+')) >= 3"))
      .withColumn("sh", graft.functions.Sketches.shingleHashes(col("text"), 3))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
        round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
          size(col("sh")), 6).as("repetition_ratio"))
      .orderBy("doc_id")

  // lazy: shingleDuck is declared later in the file
  private lazy val repetitionSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) - 2 AS BIGINT) AS n_shingles,
       |  CAST(len($shingleDuck) AS BIGINT) AS n_distinct,
       |  round(CAST(1 AS DOUBLE) - CAST(len($shingleDuck) AS DOUBLE)
       |    / (len(string_split_regex(trim(text), '\\s+')) - 2), 6) AS repetition_ratio
       |FROM documents
       |WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
       |ORDER BY doc_id""".stripMargin

  /** Corpus data-card stats: per-language document counts, token totals and
    * exact-integer-ratio means — the summary table a dataset release ships.
    * One map-side-combinable aggregate over per-row codegen'd metrics.
    */
  private def corpusStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"),
        expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        (sum("n_chars") / count(lit(1))).as("mean_chars"))
      .orderBy("lang")

  private val corpusStatsSql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  CAST(min(length(text)) AS BIGINT) AS min_chars,
      |  CAST(max(length(text)) AS BIGINT) AS max_chars,
      |  CAST(sum(length(text)) AS BIGINT) / count(*) AS mean_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- dedup ----------------------------------------------------------
  /** documents plus perturbed copies (id + 1,000,000) so near/exact-dup
    * operators have true positives to find — mirrored exactly in the oracle.
    */
  private def withDupes(s: SparkSession, dir: String, exact: Boolean): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    val dupes = d.filter(col("doc_id") % 7 === 0)
      .select(
        (col("doc_id") + 1000000).as("doc_id"), col("lang"),
        (if (exact) col("text")
         else expr("concat(substring(text, 1, length(text) - 10), ' spark dup tail')")).as("text"))
    d.unionByName(dupes)
  }

  private def dupesSql(exact: Boolean): String = {
    val mutated =
      if (exact) "text"
      else "concat(substr(text, 1, length(text) - 10), ' spark dup tail')"
    s"""SELECT doc_id, lang, text FROM documents
       |UNION ALL
       |SELECT doc_id + 1000000, lang, $mutated FROM documents WHERE doc_id % 7 = 0""".stripMargin
  }

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    withDupes(s, dir, exact = true)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  private val dedupExactSql =
    s"""WITH docs2 AS (${dupesSql(exact = true)})
       |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM docs2 GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** CCNet-style paragraph-level deduplication (Wenzek et al. 2019 §3.1:
    * "we deduplicate at the paragraph level, keeping the first occurrence"
    * — reference has no sub-document dedup; this is the LLM-pipeline step
    * between exact doc dedup and minhash). Paragraph = a disjoint
    * `paraW`-token segment (the corpus has no newlines, so segmentation is
    * positional — same trick as dx_chunk). An occurrence survives iff no
    * earlier occurrence of the same content hash exists in corpus order
    * (doc_id, para_no); each doc is then reassembled from its surviving
    * paragraphs.
    *
    * Scale shape: explode → one groupBy on the paragraph hash electing the
    * corpus-order winner as `min(struct(doc_id, para_no))` (a partial-agg
    * shuffle on the hash — never a window over the whole corpus, whose
    * per-hash sort DuckDB's row_number formulation implies) → equi-join
    * back on the hash → per-doc reassembly groupBy. Two shuffles total,
    * both on keys with bounded group sizes (a hash's group = its duplicate
    * count); at 100 TB the paragraph text would ride as xxhash64 ids with
    * the reassembly joining text back only for survivors.
    */
  private val paraW = 16
  private def dedupParagraph(s: SparkSession, dir: String): DataFrame = {
    val paras = withDupes(s, dir, exact = false)
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n", expr("CAST(size(toks) AS BIGINT)"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0L, (n - 1) DIV $paraW)")).as("para_no"),
        col("toks"))
      .withColumn("para",
        expr(s"concat_ws(' ', slice(toks, CAST(para_no * $paraW + 1 AS INT), $paraW))"))
      .select(col("doc_id"), col("para_no"), col("para"), md5(col("para")).as("h"))
    val winners = paras.groupBy("h")
      .agg(min(struct(col("doc_id"), col("para_no"))).as("w"))
    paras.join(winners, "h")
      .withColumn("is_keep",
        col("doc_id") === col("w.doc_id") && col("para_no") === col("w.para_no"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", expr(
          """transform(
            |  sort_array(collect_list(IF(is_keep, struct(para_no, para), NULL))),
            |  x -> x.para)""".stripMargin))).as("kept_hash"))
      .orderBy("doc_id")
  }

  private val dedupParagraphSql =
    s"""WITH docs2 AS (${dupesSql(exact = false)}),
       |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM docs2),
       |e AS (SELECT doc_id, toks,
       |        unnest(range(0, (len(toks) - 1) // $paraW + 1)) AS para_no
       |      FROM t),
       |p AS (SELECT doc_id, para_no,
       |        array_to_string(list_slice(toks, para_no * $paraW + 1,
       |          para_no * $paraW + $paraW), ' ') AS para
       |      FROM e),
       |k AS (SELECT doc_id, para_no, para,
       |        row_number() OVER (PARTITION BY md5(para)
       |                           ORDER BY doc_id, para_no) AS rn
       |      FROM p)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
       |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(para, ' ' ORDER BY para_no)
       |        FILTER (WHERE rn = 1), '')) AS kept_hash
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Driver-gated MinHash estimator accuracy — evidence for the sketch
    * itself, complementing the banding-recall gate: over the planted
    * near-dup pairs the signature-agreement estimate of Jaccard must track
    * the exact shingle-set Jaccard within a mean absolute error of 0.1
    * (128 hashes ⇒ per-pair σ ≈ √(J(1−J)/128) ≈ 0.04). The exact side
    * uses set intersection/union on the same shingle hashes, so the gate
    * isolates estimator error, not tokenization differences.
    */
  private def minhashEstGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (sets, _) = graft.Ckpt.settle(
      MinHashLSH.setsOf(withDupes(s, dir, exact = false), "doc_id", "text", 3)
        .withColumn("sig", graft.functions.Sketches.minhashSignature(col("hs"), 128))).head
    val pairs = sets.select(col("id").as("lid"), col("hs").as("lhs"), col("sig").as("lsig"))
      .join(sets.select(col("id").as("rid"), col("hs").as("rhs"), col("sig").as("rsig")),
        col("lid") + 1000000L === col("rid"))
      .withColumn("true_j",
        expr("CAST(size(array_intersect(lhs, rhs)) AS DOUBLE) / size(array_union(lhs, rhs))"))
      .withColumn("est_j",
        expr("CAST(size(filter(zip_with(lsig, rsig, (a, b) -> a = b), x -> x)) AS DOUBLE) / 128"))
    val row = pairs.agg(
      count(lit(1)).as("n"), avg(abs(col("est_j") - col("true_j"))).as("mae")).head()
    Seq((row.getLong(0), Gate.all("dx_minhash_est_gate")("mae_within_0.1" -> (row.getDouble(1) <= 0.1))))
      .toDF("n_pairs", "est_ok")
  }

  private val minhashEstGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(1 AS BOOLEAN) AS est_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Driver-gated b-bit minwise hashing (Li & König, CACM 2010, b=1) —
    * the storage-optimal MinHash variant: keep only the LOWEST BIT of
    * each of the 128 minhashes, shrinking a 1 KB signature to 16 bytes
    * (the 64× compression that makes billion-doc signature tables fit in
    * memory at corpus scale). One bit agrees half the time by chance, so
    * raw agreement A ≈ J + (1−J)/2 and the paper's corrected estimator
    * Ĵ = 2A − 1 (clamped at 0) unbiases it at the cost of ~2× the
    * variance of full minhash (σ ≈ 2·√(A(1−A)/128) ≈ 0.08 on the planted
    * pairs). Gate: over the same planted near-dup pairs as the full-width
    * estimator gate, the corrected 1-bit estimate must track the exact
    * shingle-set Jaccard within MAE 0.15 — the accuracy contract that
    * justifies shipping 16-byte signatures.
    */
  private def minhashBbitGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (sets, _) = graft.Ckpt.settle(
      MinHashLSH.setsOf(withDupes(s, dir, exact = false), "doc_id", "text", 3)
        .withColumn("sig", graft.functions.Sketches.minhashSignature(col("hs"), 128))
        // the b=1 signature: only the low bit of each minhash survives.
        // pmod, not %: Spark's signed remainder maps negative odd XXH64
        // values to -1, which would 3-value the "bit" and bias Ĵ = 2A−1
        // low by ~0.25·(1−J).
        .withColumn("bits", expr("transform(sig, x -> CAST(pmod(x, 2) AS INT))"))).head
    val pairs = sets.select(col("id").as("lid"), col("hs").as("lhs"), col("bits").as("lb"))
      .join(sets.select(col("id").as("rid"), col("hs").as("rhs"), col("bits").as("rb")),
        col("lid") + 1000000L === col("rid"))
      .withColumn("true_j",
        expr("CAST(size(array_intersect(lhs, rhs)) AS DOUBLE) / size(array_union(lhs, rhs))"))
      .withColumn("agree",
        expr("CAST(size(filter(zip_with(lb, rb, (a, b) -> a = b), x -> x)) AS DOUBLE) / 128"))
      .withColumn("est_j", expr("greatest(0D, 2 * agree - 1)"))
    val row = pairs.agg(
      count(lit(1)).as("n"), avg(abs(col("est_j") - col("true_j"))).as("mae")).head()
    Seq((row.getLong(0), Gate.all("dx_minhash_bbit_gate")("mae_within_0.15" -> (row.getDouble(1) <= 0.15))))
      .toDF("n_pairs", "est_ok")
  }

  private val minhashBbitGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(1 AS BOOLEAN) AS est_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Winnowing candidate pairs (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS fingerprinting algorithm): per document, hash every
    * 8-char k-gram, slide a w=4 window over the hash sequence and keep
    * each window's MINIMUM — the selected fingerprints are a guaranteed-
    * coverage, position-robust ~1/w sample of the k-grams (any shared
    * run of ≥ k+w−1 chars yields a shared fingerprint: the winnowing
    * guarantee, which MinHash does not give). Pairs then come from the
    * standard posting-list equi-join on fingerprints, with MOSS's two
    * own defenses applied: fingerprints appearing in more than 64
    * documents are DROPPED before the join (MOSS ignores over-common
    * fingerprints — boilerplate carries no pair signal; this also bounds
    * the join to Σ min(df,64)², the hot-key discipline every posting
    * join in this repo follows — without it the flat-vocabulary
    * synthetic corpus makes winnowed fingerprints corpus-common and the
    * raw pair set goes quadratic: 14M pairs at sf0.1), and pairs are
    * reported only at ≥ 50% CONTAINMENT of the smaller doc's retained
    * fingerprint set (MOSS's similarity threshold — a shared-count floor
    * alone floods on common text). The planted mutated copies are
    * exactly what survives.
    */
  private def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    // Extraction is ONE native kernel call per document
    // (winnow_fingerprints: Karp-Rabin k-gram hashes + window minima,
    // graft/functions/WinnowFingerprints.scala) — replacing the
    // interpreted per-position md5 + slice/array_min lambda pipeline that
    // dominated this query's CPU (the r11 plan-audit note).
    // extraction feeds df-filter, sizes AND both join sides
    val (fps, _) = graft.Ckpt.settle(withDupes(s, dir, exact = false)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), 8, 4)).as("fp"))).head
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select("fp")
    val kept = fps.join(rare, "fp")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    kept.join(sizes, "doc_id")
      .select(col("doc_id").as("left_id"), col("n_fp").as("nl"), col("fp"))
      .join(kept.join(sizes, "doc_id")
        .select(col("doc_id").as("right_id"), col("n_fp").as("nr"), col("fp")), "fp")
      .filter(col("left_id") < col("right_id"))
      .groupBy("left_id", "right_id", "nl", "nr")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") * 2 >= least(col("nl"), col("nr")))
      .select("left_id", "right_id", "n_shared", "nl", "nr")
      .orderBy("left_id", "right_id")
  }

  private val winnowPairsSql = {
    s"""WITH docs2 AS (${dupesSql(exact = false)}),
       |h AS (
       |  -- kernel twin: Karp-Rabin over Unicode code points at character
       |  -- positions (ord/substr), first code point as the fold seed;
       |  -- empty text is guarded to the kernel's [0] convention because
       |  -- list_reduce of an empty list raises in DuckDB
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |      i -> CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
       |        ELSE list_reduce(
       |          list_transform(range(i, least(i + 8, length(text) + 1)),
       |            t -> CAST(ord(substr(text, t, 1)) AS BIGINT)),
       |          (h, b) -> (h * 131 + b) % 1000000007) END) AS hs
       |  FROM docs2),
       |f AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(
       |      range(1, greatest(len(hs) - 3, 1) + 1),
       |      j -> list_min(hs[j:j+3])))) AS fp
       |  FROM h),
       |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 64),
       |k AS (SELECT doc_id, f.fp FROM f JOIN rare USING (fp)),
       |sz AS (SELECT doc_id, count(*) AS n_fp FROM k GROUP BY doc_id)
       |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       |  count(*) AS n_shared,
       |  CAST(sa.n_fp AS BIGINT) AS nl, CAST(sb.n_fp AS BIGINT) AS nr
       |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  JOIN sz sa ON sa.doc_id = a.doc_id
       |  JOIN sz sb ON sb.doc_id = b.doc_id
       |GROUP BY 1, 2, sa.n_fp, sb.n_fp
       |HAVING count(*) * 2 >= least(sa.n_fp, sb.n_fp)
       |ORDER BY 1, 2""".stripMargin
  }

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.candidatePairs(withDupes(s, dir, exact = false), "doc_id", "text",
      threshold = 0.5)
      .orderBy("left_id", "right_id")

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    SimHash.candidatePairs(withDupes(s, dir, exact = false), "doc_id", "text",
      maxHamming = 3)
      .orderBy("left_id", "right_id")

  private[queries] val shingleDuck =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) + 1),
      |  i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |       string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
      |       string_split_regex(trim(text), '\s+')[i+2]))""".stripMargin

  private def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    // Inverted-index formulation: instead of joining whole shingle arrays
    // per candidate pair (O(pairs x |set|) compute and ~GB array shuffles),
    // explode to (block, shingle, doc) postings and equi-join on the
    // shingle — the pair's intersection size falls out of a count. Work is
    // sum(df^2) over postings (bounded: max df here is ~62) and only pairs
    // sharing a shingle are ever materialised, which is exactly the set
    // that can pass a positive jaccard threshold. This is the 100 TB
    // formulation; jaccard values are unchanged, so the array-based DuckDB
    // oracle still matches bit-for-bit. Shingles are 64-bit hashes
    // (collisions negligible).
    // Shingles via the fused native tokenizer+shingler: identities differ
    // from the string shingles the oracle intersects, but distinct-set
    // cardinalities — and therefore every jaccard value — are identical
    // (collisions negligible; parity spec'd in PipelineSpec).
    val (docs, _) = graft.Ckpt.settle(withDupes(s, dir, exact = false)
      .select(col("doc_id"), col("lang"),
        expr("length(text) DIV 100").as("bucket"),
        array_distinct(graft.functions.Sketches.shingleHashes(col("text"), 3)).as("sh"))).head
    val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("sz"))
    val inv = docs.select(col("lang"), col("bucket"), col("doc_id"), explode(col("sh")).as("shingle"))
    // Postings group → in-group pair expansion: one groupBy materialises
    // each posting list once and emits its d(d-1)/2 pairs locally, instead
    // of shuffling the postings twice through a self-join. Output pairs are
    // identical; work is still Σdf² (inherent to the operator), but with
    // half the shuffle volume and no join build side.
    val common = inv
      .groupBy("lang", "bucket", "shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      // native ordered-pair kernel: one compiled double loop per postings
      // group instead of an interpreted lambda per pair (guide: prefer
      // codegen-path expressions in the hot path); identical pair multiset
      .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.l").as("left_id"), col("p.r").as("right_id"))
      .agg(count(lit(1)).as("c"))
    common
      .join(broadcast(sizes.withColumnRenamed("doc_id", "left_id").withColumnRenamed("sz", "szl")), "left_id")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "right_id").withColumnRenamed("sz", "szr")), "right_id")
      .withColumn("jaccard", expr("CAST(c AS DOUBLE) / (szl + szr - c)"))
      .filter(col("jaccard") >= 0.3)
      .select("left_id", "right_id", "jaccard")
      .orderBy("left_id", "right_id")
  }

  private val dedupNgramSql =
    s"""WITH docs2 AS (${dupesSql(exact = false)}),
       |s AS (SELECT doc_id, lang, length(text) // 100 AS bucket, $shingleDuck AS sh FROM docs2)
       |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       |  CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(list_distinct(list_concat(l.sh, r.sh))) AS jaccard
       |FROM s l JOIN s r
       |  ON l.lang = r.lang AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(list_distinct(list_concat(l.sh, r.sh))) >= 0.3
       |ORDER BY left_id, right_id""".stripMargin

  /** Exact set-similarity self-join via PREFIX FILTERING (Chaudhuri,
    * Ganti & Kaushik ICDE 2006; Bayardo, Ma & Srikant WWW 2007 "Scaling
    * Up All Pairs Similarity Search"; the candidate-generation core of
    * PPJoin) — the third candidate-generation strategy next to
    * dx_dedup_ngram's full inverted index and dx_dedup_minhash's LSH, and
    * unlike both it needs NO blocking key and stays EXACT: every pair
    * with shingle-set Jaccard ≥ t is found, none are missed.
    *
    * The filter: order each doc's shingles by ascending global document
    * frequency (rarest first; ties by shingle — any consistent total
    * order works), and index only the first `|s| − ceil(t·|s|) + 1`
    * shingles. Two sets with J ≥ t also satisfy the length condition
    * `t·|A| ≤ |B|`, and given that, their prefixes provably share a
    * token — so candidates = prefix-posting co-occurrence, a strict
    * subset of the full-index candidates (the common-shingle mass sits in
    * the FREQUENT tail, which is exactly what the prefix excludes).
    * Survivors are verified exactly on the full sorted sets. At 100 TB
    * this is the difference between Σdf² over all postings and Σdf² over
    * rare-prefix postings, typically orders of magnitude, while LSH
    * (probabilistic) stays the fallback when even prefixes are hot.
    *
    * Threshold arithmetic is integer-exact: t = 6/10, `ceil(t·s) =
    * (6s+9) DIV 10`, verification `10·o ≥ 6·(|A|+|B|−o)` — no doubles in
    * any pruning or acceptance decision, so engines agree bit-for-bit.
    * The oracle regenerates the same pair set from a FULL inverted index
    * (different candidate algorithm, same exact semantics).
    */
  private def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    jaccardPrefixPairs(withDupes(s, dir, exact = false))

  /** The operator core, on any `(doc_id, …, text)` frame — split out so the
    * property spec can drive it against a naive all-pairs reference.
    */
  private[graft] def jaccardPrefixPairs(input: DataFrame): DataFrame = {
    val (docs, _) = graft.Ckpt.settle(input
      .select(col("doc_id"),
        array_distinct(graft.functions.Sketches.shingleHashes(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) >= 1)).head
    val post = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfreq = post.groupBy("g").agg(count(lit(1)).as("df"))
    val (ordered, _) = graft.Ckpt.settle(post.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, g))), x -> x.g)").as("osh"))
      .withColumn("sz", size(col("osh")).cast("long"))
      .withColumn("plen", expr("CAST(sz - ((6 * sz + 9) DIV 10) + 1 AS INT)"))).head
    // Prefix postings → postings-group pair expansion (same idiom as
    // dx_dedup_ngram, but over the rare prefix only) + length-ratio filter
    // + PPJoin's POSITIONAL filter: at a shared prefix token sitting at
    // (1-based) positions i in A and j in B, the overlap from that token
    // on is at most 1 + min(|A|−i, |B|−j); and since both arrays follow
    // the same global order, the pair's EARLIEST shared token has no
    // common token before it, so that occurrence's bound caps the TOTAL
    // overlap. Filtering occurrences before the distinct keeps a pair iff
    // its earliest generated occurrence passes (earlier positions ⇒ larger
    // bound), which is exactly the sound PPJoin test — a true pair's
    // earliest shared token is in both prefixes (prefix theorem) and its
    // bound ≥ the true overlap ≥ the required minimum. Required overlap
    // for J ≥ 6/10 is o ≥ 6(|A|+|B|)/16, integer-exact as a DIV ceil.
    val cand = ordered
      .select(col("doc_id"), col("sz"),
        posexplode(expr("slice(osh, 1, plen)")).as(Seq("pos0", "g")))
      .select(col("doc_id"), col("sz"), (col("pos0") + 1).cast("long").as("pos"), col("g"))
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz"), col("pos")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      // native ordered-pair kernel (struct elements copied once per group
      // member, not per pair) — replaces the interpreted nested-transform
      .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
      .select(col("p.l.doc_id").as("left_id"), col("p.l.sz").as("szl"),
        col("p.l.pos").as("posl"), col("p.r.doc_id").as("right_id"),
        col("p.r.sz").as("szr"), col("p.r.pos").as("posr"))
      .filter(expr("10 * least(szl, szr) >= 6 * greatest(szl, szr)"))
      .filter(expr(
        "1 + least(szl - posl, szr - posr) >= (6 * (szl + szr) + 15) DIV 16"))
      .select("left_id", "szl", "right_id", "szr")
      .distinct()
    // Exact verification on the full sorted sets, candidate volume only.
    cand
      .join(ordered.select(col("doc_id").as("left_id"), col("osh").as("osh_l")), "left_id")
      .join(ordered.select(col("doc_id").as("right_id"), col("osh").as("osh_r")), "right_id")
      .withColumn("o", expr("CAST(size(array_intersect(osh_l, osh_r)) AS BIGINT)"))
      .filter(expr("10 * o >= 6 * (szl + szr - o)"))
      .select(col("left_id"), col("right_id"),
        expr("CAST(o AS DOUBLE) / (szl + szr - o)").as("jaccard"))
      .orderBy("left_id", "right_id")
  }

  /** Oracle twin: the same exact pair set from a FULL inverted index —
    * candidate generation differs (no prefix pruning), acceptance test is
    * the identical integer predicate, so any unsoundness in the prefix
    * filter (a missed pair) or the verification (a wrong count) breaks
    * the hash match.
    */
  private val dedupJaccardPrefixSql =
    s"""WITH docs2 AS (${dupesSql(exact = false)}),
       |s AS (SELECT doc_id, $shingleDuck AS sh FROM docs2),
       |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM s),
       |w AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
       |common AS (
       |  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       |    CAST(count(*) AS BIGINT) AS o
       |  FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT left_id, right_id,
       |  CAST(o AS DOUBLE) / (l.sz + r.sz - o) AS jaccard
       |FROM common
       |JOIN sz l ON l.doc_id = left_id
       |JOIN sz r ON r.doc_id = right_id
       |WHERE 10 * o >= 6 * (l.sz + r.sz - o)
       |ORDER BY left_id, right_id""".stripMargin

  /** Driver-gated MinHash recall floor over the *planted* duplicates: the
    * synthesized near-dup pairs (doc_id, doc_id+1000000) are known to both
    * engines, so the truth set needs no quadratic brute force at any scale
    * factor. MinHash misses a planted pair either by LSH banding
    * (probability ~1e-12 at 16 bands for jaccard ≥ 0.9) or because the
    * mutation pushed a short doc below the jaccard threshold — the 0.95
    * floor allows the latter. Oracle pins the planted count from the data
    * and the flag to true.
    */
  private def dedupMinhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (planted, nPlanted) = graft.Ckpt.settle(Tables(s, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("left_id"), (col("doc_id") + 1000000).as("right_id"))).head
    val found = MinHashLSH.candidatePairs(withDupes(s, dir, exact = false),
      "doc_id", "text", threshold = 0.5)
      .select("left_id", "right_id")
    val hits = planted.join(found, Seq("left_id", "right_id"), "left_semi").count()
    Seq((nPlanted, Gate.all("dx_dedup_minhash_gate")(
        "planted_recall_0.95" -> (hits.toDouble / nPlanted >= 0.95))))
      .toDF("n_planted", "recall_ok")
  }

  private val dedupMinhashGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted, CAST(1 AS BOOLEAN) AS recall_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** TF-IDF top terms per document — the keyword-extraction staple. Exact
    * integer scoring keeps it engine-deterministic: textbook `log(N/df)`
    * differs in last ulps across libm implementations, so the idf here is
    * the scaled integer ratio `1000000·N div df` (identical floor division
    * both engines), which preserves the tf-idf ranking for fixed N. Shape:
    * explode → two partial-agg groupBys (tf, then df over the already-
    * distinct (doc, term) pairs — never re-touching raw tokens) → equi-join
    * tf⋈df (AQE broadcasts the vocab side when it fits; stays a hash join
    * at corpus scale) → bounded-heap [[graft.plans.TopK]] per doc, so the
    * final exchange carries ≤ partitions·docs·3 rows, not every scored
    * term.
    */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(expr("split(trim(lower(text)), '\\\\s+')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * expr("(1000000L * n_docs) DIV df"))
      .select("doc_id", "term", "tf", "df", "score")
    graft.plans.TopK.perKey(scored, Seq("doc_id"), "score", k = 3,
        descending = true, tieCols = Seq("term"), rankName = "rn")
      .select("doc_id", "rn", "term", "tf", "df", "score")
      .orderBy("doc_id", "rn")
  }

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df, tf * ((1000000 * n_docs) // df) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT *, CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rn FROM scored)
      |SELECT doc_id, rn, term, tf, df, CAST(score AS BIGINT) AS score
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** Driver-gated HyperLogLog accuracy: `approx_count_distinct` (the
    * one-pass mergeable sketch that replaces exact `count(distinct)` at
    * corpus scale — exact distinct is a full shuffle of every distinct
    * value, the sketch is a few KB per partition) must land within 5% of
    * the exact count on this corpus. The sketch's internals aren't
    * oracle-comparable across engines; the accuracy contract is. Oracle
    * pins the exact count from the data and the flag to true.
    */
  private def cardinalityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = withDupes(s, dir, exact = true)
    val row = corpus.agg(
      countDistinct(col("text")).as("exact"),
      approx_count_distinct(col("text"), 0.02).as("approx")).head()
    val exact = row.getLong(0); val approx = row.getLong(1)
    Seq((exact, Gate.all("dx_cardinality_gate")(
        "approx_within_5pct" -> (math.abs(approx - exact).toDouble / exact <= 0.05))))
      .toDF("n_exact", "approx_ok")
  }

  private val cardinalityGateSql =
    """SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact,
      |  CAST(1 AS BOOLEAN) AS approx_ok
      |FROM documents""".stripMargin

  /** Driver-gated two-level sketch aggregation — the 100 TB count-distinct
    * maintenance pattern: build a Datasketches HLL sketch PER SHARD (the
    * few-KB objects a warehouse persists next to each partition), then
    * `hll_union_agg` them at read time. A new shard arriving means
    * sketching ONLY that shard and re-unioning K tiny buffers — the
    * incremental data-card refresh no exact count can give.
    *
    * The contract the library actually provides is ERROR-BOUNDED
    * estimates, not byte determinism: the one-pass HIP estimator does not
    * survive unions, and in the coupon→dense promotion region the unioned
    * estimate depends on how the sketches were grouped (measured here:
    * 16-way vs 4-way vs one-shot unions differ by <1% on this corpus) —
    * so any gate asserting bit-equality across merge structures would be
    * asserting something HLL does not promise. Gated instead: the union
    * estimate under BOTH shardings, and the single-pass estimate, each
    * land within 5% (the lgK=12 ±3σ bound is 4.9%) of the exact distinct
    * count, and the two sharded unions agree with each other to within
    * 5% — shard layout cannot push the answer outside the error budget.
    * Sketch internals aren't oracle-comparable; the oracle pins the exact
    * count from the data plus the flags.
    */
  private def hllMergeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 4 aggs
    val (docs, _) = graft.Ckpt.settle(Tables(s, dir, "documents")).head
    def unionEst(shardExpr: String): Long = docs
      .withColumn("shard", expr(shardExpr))
      .groupBy("shard").agg(expr("hll_sketch_agg(text, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))"))
      .head().getLong(0)
    val est16 = unionEst("CAST(doc_id % 16 AS INT)")
    val est4 = unionEst("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10) AS INT) % 4")
    val single = docs
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(text, 12))"))
      .head().getLong(0)
    val exact = docs.agg(countDistinct(col("text"))).head().getLong(0)
    def close(v: Long): Boolean = math.abs(v - exact).toDouble / exact <= 0.05
    val gate = "dx_hll_merge_gate"
    Seq((exact,
      Gate.all(gate)("union16_close" -> close(est16), "union4_close" -> close(est4)),
      Gate.all(gate)("unions_agree" -> (math.abs(est16 - est4).toDouble / exact <= 0.05)),
      Gate.all(gate)("single_close" -> close(single))))
      .toDF("n_exact", "merge_ok", "spread_ok", "single_ok")
  }

  private val hllMergeGateSql =
    """SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact,
      |  CAST(1 AS BOOLEAN) AS merge_ok,
      |  CAST(1 AS BOOLEAN) AS spread_ok,
      |  CAST(1 AS BOOLEAN) AS single_ok
      |FROM documents""".stripMargin

  /** Count-Min sketch frequency estimation (Cormode & Muthukrishnan 2005)
    * over the corpus 3-gram shingles — the fixed-size mergeable frequency
    * summary for streams/shards where the exact term-frequency table
    * doesn't fit: d=4 hash rows × w=256 counters (1024 longs total,
    * regardless of corpus size), est(t) = min over rows of the counter t
    * hashes into. Counters are plain sums, so per-shard sketches ADD into
    * the global sketch (map-side combinable; the build here is one
    * groupBy over ≤1024 cells). Everything — the 4 hash functions (md5
    * nibble pairs), counters, estimates, error stats — is exact integer
    * arithmetic computed identically by the oracle, so this gate is a
    * REAL cross-engine comparison, not a pinned boolean: it proves the
    * one-sided error contract (never undercounts — a deterministic CMS
    * property) and that every estimate stays within the 2N/w Markov
    * bound on this corpus (measured headroom ~2× at both sfs; the
    * probabilistic guarantee is per-token ≥ 1−2⁻ᵈ, and the measured
    * violation count is zero).
    */
  private def cmsGate(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .filter(expr("size(toks) >= 3"))
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 2),
          | i -> concat(try_element_at(toks, i), ' ',
          |             try_element_at(toks, CAST(i + 1 AS INT)), ' ',
          |             try_element_at(toks, CAST(i + 2 AS INT))))""".stripMargin))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val h = tf
      .select(col("term"), col("cnt"), explode(expr("array(0, 1, 2, 3)")).as("j"))
      .withColumn("cell", expr(
        "CAST(conv(substring(md5(term), CAST(2 * j + 1 AS INT), 2), 16, 10) AS BIGINT)"))
    val counters = h.groupBy("j", "cell").agg(sum("cnt").as("c"))
    val est = h.join(broadcast(counters), Seq("j", "cell"))
      .groupBy("term", "cnt").agg(min("c").as("est"))
    val tot = tf.agg(sum("cnt").as("n"))
    val out = est.crossJoin(broadcast(tot))
      .agg(
        count(lit(1)).as("v"), max("n").as("n"),
        min(col("est") - col("cnt")).as("min_over"),
        max(col("est") - col("cnt")).as("max_over"),
        sum(when((col("est") - col("cnt")) * 128 > col("n"), 1L).otherwise(0L))
          .as("n_over_bound"))
      .select(col("v"), col("n"),
        (col("min_over") >= 0).as("no_undercount"),
        col("max_over"), col("n_over_bound"),
        (col("n_over_bound") === 0).as("bound_ok"))
    // the one-row result, its two flags named through the gate kit
    val r = out.head()
    s.createDataFrame(java.util.List.of(Row(r(0), r(1),
      Gate.all("dx_cms_gate")("no_undercount" -> r.getBoolean(2)), r(3), r(4),
      Gate.all("dx_cms_gate")("within_markov_bound" -> r.getBoolean(5)))), out.schema)
  }

  private val cmsGateSql =
    """WITH t AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |sh AS (
      |  SELECT unnest(list_transform(range(1, len(toks) - 2 + 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
      |  FROM t WHERE len(toks) >= 3),
      |tf AS (SELECT term, count(*) AS cnt FROM sh GROUP BY term),
      |h AS (
      |  SELECT term, cnt, j,
      |    CAST((strpos('0123456789abcdef', substr(md5(term), 2*j+1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(term), 2*j+2, 1)) - 1
      |      AS BIGINT) AS cell
      |  FROM tf CROSS JOIN (VALUES (0), (1), (2), (3)) v(j)),
      |counters AS (SELECT j, cell, CAST(sum(cnt) AS BIGINT) AS c
      |             FROM h GROUP BY j, cell),
      |est AS (
      |  SELECT term, cnt, min(c) AS est
      |  FROM h JOIN counters USING (j, cell) GROUP BY term, cnt),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tf)
      |SELECT count(*) AS v, (SELECT n FROM tot) AS n,
      |  min(est - cnt) >= 0 AS no_undercount,
      |  CAST(max(est - cnt) AS BIGINT) AS max_over,
      |  CAST(count(*) FILTER ((est - cnt) * 128 > (SELECT n FROM tot))
      |    AS BIGINT) AS n_over_bound,
      |  count(*) FILTER ((est - cnt) * 128 > (SELECT n FROM tot)) = 0 AS bound_ok
      |FROM est""".stripMargin

  /** URL canonicalisation + dedup — the standard web-corpus prefilter:
    * normalise scheme/host case, strip `www.`, drop fragments and
    * `utm_*`/`fbclid` tracking params, trim trailing slashes, then group.
    * URLs are seeded deterministically from doc_id (the documents table has
    * no URL column) with planted case/slash/tracking variants, mirrored in
    * the oracle. The whole pass is per-row codegen'd regex work plus one
    * groupBy — the 100 TB shape. Regexes avoid lookaround so Java and RE2
    * semantics agree.
    */
  private def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val seeded = Tables(s, dir, "documents").select(col("doc_id"),
      expr(s"""concat(
        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'https://WWW.Example.com'
          WHEN 1 THEN 'https://www.example.com' ELSE 'https://example.com' END,
        '/docs/', CAST(doc_id % 100 AS STRING),
        CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
        '?utm_source=feed&page=', CAST(doc_id % 5 AS STRING),
        CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END,
        CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)""").as("url"))
    val canon = seeded.withColumn("no_frag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("host",
        regexp_replace(lower(regexp_extract(col("no_frag"), "^https?://([^/?#]+)", 1)),
          "^www\\.", ""))
      .withColumn("path",
        regexp_replace(regexp_extract(col("no_frag"), "^https?://[^/?#]+([^?#]*)", 1),
          "/$", ""))
      .withColumn("qs",
        regexp_replace(
          regexp_replace(regexp_extract(col("no_frag"), "\\?([^#]*)", 1),
            "(^|&)(utm_[a-z]+|fbclid)=[^&]*", ""),
          "^&", ""))
      .withColumn("canonical_url",
        concat(lit("https://"), col("host"), col("path"),
          when(col("qs") =!= "", concat(lit("?"), col("qs"))).otherwise(lit(""))))
    canon.groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_url")
  }

  private val dedupUrlSql =
    """WITH seeded AS (
      |  SELECT doc_id, concat(
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'https://WWW.Example.com'
      |      WHEN 1 THEN 'https://www.example.com' ELSE 'https://example.com' END,
      |    '/docs/', CAST(doc_id % 100 AS VARCHAR),
      |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
      |    '?utm_source=feed&page=', CAST(doc_id % 5 AS VARCHAR),
      |    CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END,
      |    CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    concat('https://',
      |      regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^https?://([^/?#]+)', 1)), '^www\.', ''),
      |      regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '^https?://[^/?#]+([^?#]*)', 1), '/$', ''),
      |      CASE WHEN regexp_replace(regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '(^|&)(utm_[a-z]+|fbclid)=[^&]*', '', 'g'), '^&', '') <> ''
      |        THEN concat('?', regexp_replace(regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '(^|&)(utm_[a-z]+|fbclid)=[^&]*', '', 'g'), '^&', ''))
      |        ELSE '' END) AS canonical_url
      |  FROM seeded)
      |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  /** Driver-gated SimHash *banding losslessness*: the band blocking promises
    * recall 1.0 for hamming ≤ bands−1 — this gate proves it per round by
    * comparing the banded candidate pairs against a brute-force hamming
    * check over every doc pair. The brute side runs as a triangle
    * block-partition equi-join (the [[graft.operators.dedup.EmbedDedup]]
    * device) over the 16-byte (id, simhash) table — no cartesian in the
    * plan, O(n·B) shuffle — with the codegen'd `bit_count(xor)` filter
    * row-local before any exchange. A planted-recall floor (the minhash
    * gate's shape) would be dishonest here: the tail mutation legitimately
    * pushes many planted pairs past hamming 3, and that miss is the
    * *fingerprint's* property, not the operator's. What the operator owes
    * the user is exactly "banded ≡ brute force", so that is what's gated.
    * Oracle pins the corpus size from the data and the flag to true.
    */
  private def dedupSimhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = withDupes(s, dir, exact = false)
    val (sh, _) = graft.Ckpt.settle(SimHash.simhash(corpus, "doc_id", "text")).head
    val numBlocks = 8
    val blk = sh.withColumn("blk", pmod(xxhash64(col("id")), lit(numBlocks.toLong)).cast("int"))
    val blockPairs = s.range(numBlocks.toLong * numBlocks)
      .select((col("id") / numBlocks).cast("int").as("bi"),
        pmod(col("id"), lit(numBlocks)).cast("int").as("bj"))
      .filter(col("bi") <= col("bj"))
    val left = blk.join(broadcast(blockPairs), col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("id").as("la"), col("simhash").as("lh"))
    val right = blk.join(broadcast(blockPairs), col("blk") === col("bj"))
      .select(col("bi").as("rbi"), col("bj").as("rbj"), col("id").as("rb"), col("simhash").as("rh"))
    val brute = left.join(right,
        col("bi") === col("rbi") && col("bj") === col("rbj") &&
          (col("bi") < col("rbj") || col("la") < col("rb")))
      .filter(expr("bit_count(lh ^ rh) <= 3"))
      .select(least(col("la"), col("rb")).as("left_id"),
        greatest(col("la"), col("rb")).as("right_id"))
    val banded = SimHash.candidatePairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("left_id", "right_id")
    Seq((corpus.count(), Gate.all("dx_dedup_simhash_gate")(
        "banded_equals_brute" -> Gate.sameRows(banded, brute))))
      .toDF("n_docs", "banding_lossless")
  }

  private val dedupSimhashGateSql =
    """SELECT CAST(count(*) + count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_docs,
      |  CAST(1 AS BOOLEAN) AS banding_lossless
      |FROM documents""".stripMargin

  /** End-to-end dedup *resolution* — what a training-data pipeline actually
    * ships: near-dup pair detection (exact n-gram jaccard, inverted-index
    * formulation) → connected components over the pair graph → one
    * canonical keep id per duplicate group (min member), docs untouched by
    * any pair keeping themselves. A corpus filter is then just
    * `kept = doc_id == keep_id`. Fully oracle-checked: the DuckDB twin
    * replays the jaccard join and a recursive min-label closure.
    */
  private def dedupResolve(s: SparkSession, dir: String): DataFrame = {
    val docs = withDupes(s, dir, exact = false).select(col("doc_id"))
    val comp = graft.operators.Components.connected(
      dedupNgram(s, dir).select(col("left_id").as("src"), col("right_id").as("dst")))
    docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"),
        (col("doc_id") === coalesce(col("component"), col("doc_id"))).as("kept"))
      .orderBy("doc_id")
  }

  private val dedupResolveSql = {
    val edges =
      s"""SELECT l.doc_id AS src, r.doc_id AS dst
         |FROM sh l JOIN sh r
         |  ON l.lang = r.lang AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / len(list_distinct(list_concat(l.sh, r.sh))) >= 0.3""".stripMargin
    s"""WITH RECURSIVE
       |docs2 AS (${dupesSql(exact = false)}),
       |sh AS (SELECT doc_id, lang, length(text) // 100 AS bucket, $shingleDuck AS sh FROM docs2),
       |e0 AS ($edges),
       |edges AS (SELECT src, dst FROM e0 WHERE src <> dst
       |          UNION SELECT dst, src FROM e0 WHERE src <> dst),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS keep_id,
       |  d.doc_id = coalesce(c.component, d.doc_id) AS kept
       |FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.id
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stratified sampling — per-language quota for corpus
    * curation. The pseudo-random order is md5 of the id (identical in both
    * engines), and the per-group quota runs on the custom bounded-heap
    * [[graft.plans.TopK]] operator: per input partition a 20-element heap
    * per language, so the exchange carries partitions·langs·20 rows — the
    * row_number-window idiom would sort every language group in full.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    graft.plans.TopK.perKey(docs, Seq("lang"), "h", k = 20,
      descending = false, tieCols = Seq("doc_id"), rankName = "rn")
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("lang", "rn")
  }

  private val sampleStratifiedSql =
    """SELECT doc_id, lang, rn FROM (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (
      |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, JACM 54(6) 2007): each item gets priority
    * `u_i / w_i` with `u_i` uniform, and the k smallest priorities form a
    * weight-proportional sample with unbiased subset-sum estimators. Here
    * `u_i` is a deterministic LCG hash of the id (glibc constants, mod
    * 2^31 — identical BIGINT arithmetic in both engines) and the division
    * is an integer floor, so the sample is a pure function of the data:
    * bit-exact across engines, partitionings and reruns. Weight = n_chars
    * (longer documents proportionally likelier — the curation default of
    * size-weighted selection).
    *
    * Scale shape: one narrow projection + a global bounded top-k
    * (`TakeOrdered`: per-partition k-heaps merged on the driver — only
    * partitions·k rows ever leave the executors; never a full sort).
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"))
      // id·multiplier stays in-range for ids < 2^63/1103515245 ≈ 8.4e9;
      // beyond that, pre-reduce the id (`doc_id % 2^31`) on BOTH sides —
      // silent Spark wraparound vs a DuckDB overflow error would diverge.
      .withColumn("priority",
        expr("((doc_id * 1103515245 + 12345) % 2147483648) DIV greatest(w, 1)"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(64)

  private val sampleWeightedSql =
    """SELECT doc_id, n_chars AS w,
      |  ((doc_id * 1103515245 + 12345) % 2147483648) // greatest(n_chars, 1) AS priority
      |FROM documents
      |ORDER BY priority, doc_id LIMIT 64""".stripMargin

  /** Embedding-table quality census — the Expectations pass for the
    * vector side of the corpus (an ANN index built over NaN, zero, or
    * wrong-dimension vectors fails silently at query time, so this gate
    * runs BEFORE any index build): per-vector dimension, NaN presence,
    * zero-norm detection, and the ‖v‖² distribution in integer bands.
    * Norm² is the same left-fold sum both engines reduce in array order
    * (the repo's exact-IEEE cosine trick), so banding its rounded
    * milli-value is cross-engine exact. One codegen'd scan + one
    * groupBy over |dims|×|bands| cells.
    */
  private def embeddingQc(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(size(embedding) AS BIGINT)").as("dim"),
        expr("exists(embedding, x -> isnan(x))").as("has_nan"),
        expr("""aggregate(embedding, 0D,
               | (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin)
          .as("norm2"))
      .select(col("vec_id"), col("dim"), col("has_nan"),
        (col("norm2") === 0.0).as("is_zero"),
        // NaN vectors land in a sentinel band (ANSI cast of NaN throws)
        when(col("has_nan"), lit(-1L))
          .otherwise(expr("CAST(round(norm2 * 1000) AS BIGINT) DIV 1000"))
          .as("norm_band"))
      .groupBy("dim", "norm_band")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero"),
        min("vec_id").as("min_id"), max("vec_id").as("max_id"))
      .orderBy("dim", "norm_band")

  private val embeddingQcSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |    len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b) AS norm2
      |  FROM embeddings)
      |SELECT dim,
      |  CASE WHEN has_nan THEN CAST(-1 AS BIGINT)
      |       ELSE CAST(round(norm2 * 1000) AS BIGINT) // 1000 END AS norm_band,
      |  count(*) AS n_vecs,
      |  CAST(count(*) FILTER (has_nan) AS BIGINT) AS n_nan,
      |  CAST(count(*) FILTER (norm2 = 0) AS BIGINT) AS n_zero,
      |  min(vec_id) AS min_id, max(vec_id) AS max_id
      |FROM v GROUP BY dim, norm_band
      |ORDER BY dim, norm_band""".stripMargin

  /** Embedding-cosine near-duplicate pairs — exact, via the triangle
    * block-partition equi-join (no cartesian/BNLJ in the plan; see
    * [[graft.operators.dedup.EmbedDedup.allPairs]]). Bit-identical to the
    * all-pairs oracle.
    */
  private def dedupEmbed(s: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.EmbedDedup
      .allPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, numBlocks = 8)
      .select(col("left_id"), col("right_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("left_id", "right_id")

  /** Approximate variant: banded hyperplane LSH candidates + exact verify.
    * The corpus-scale path (candidates ≪ n²); rows-only + recall spec, no
    * oracle — LSH recall at this low threshold is inherently partial.
    */
  private def dedupEmbedLsh(s: SparkSession, dir: String): DataFrame =
    // 8 planes per band = 256 buckets/band: raw candidates scale as
    // n²·bands/2^planes, so doubling the planes from 4 cuts candidate
    // volume ~16× at this corpus size; the high-sim near-dups this query
    // exists to find hash to identical band signatures and always collide
    graft.operators.dedup.EmbedDedup
      .lshPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, bands = 8, planesPerBand = 8)
      .select(col("left_id"), col("right_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("left_id", "right_id")

  /** Driver-gated embed-LSH floor. The corpus's organic pairs are
    * uniform-random vectors (neighbor cosine ~0.35 even for "near" dups) —
    * the hyperplane-LSH worst case, where recall is probabilistic and a
    * floor would gate noise. What LSH *guarantees* is that identical (and
    * near-identical) vectors share every band signature and are always
    * emitted — so the gate plants exact duplicate vectors
    * (vec_id + 1,000,000, same embedding — mirrored in the oracle's count)
    * and requires every planted pair back: recall 1.0, not a tuned floor.
    */
  private def dedupEmbedLshGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") % 7 === 0)
    val corpus = emb.unionByName(
      planted.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val pairs = graft.operators.dedup.EmbedDedup
      .lshPairs(corpus, "vec_id", "embedding", threshold = 0.3,
        bands = 8, planesPerBand = 8)
      .select("left_id", "right_id")
    val (truth, nPlanted) = graft.Ckpt.settle(planted
      .select(col("vec_id").as("left_id"), (col("vec_id") + 1000000).as("right_id"))).head
    val nHit = truth.join(pairs, Seq("left_id", "right_id"), "left_semi").count()
    Seq((nPlanted, Gate.all("dx_dedup_embed_lsh_gate")("planted_all_found" -> (nHit == nPlanted))))
      .toDF("n_planted", "recall_ok")
  }

  private val dedupEmbedLshGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted, CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings WHERE vec_id % 7 = 0""".stripMargin

  private val dedupEmbedSql =
    """WITH p AS (
      |  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
      |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |         k -> CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)), (x, y) -> x + y))
      |      * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
      |         k -> CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)), (x, y) -> x + y))) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT left_id, right_id, round(sim, 6) AS sim_r
      |FROM p WHERE sim >= 0.3 ORDER BY left_id, right_id""".stripMargin

  // ---- multimodal -----------------------------------------------------
  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Media.withPayload(Tables(s, dir, "documents"), "doc_id", "text")
      .select(
        col("media_id"),
        col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"),
        sha2(col("payload"), 256).as("payload_sha"))
      .orderBy("media_id")

  private val multimodalMetaSql =
    """SELECT doc_id AS media_id,
      |  'application/octet-stream' AS mime,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS payload_sha
      |FROM documents ORDER BY media_id""".stripMargin

  /** Frame sampling over opaque media payloads — the video half of the
    * multimodal surface (every `everyN`-th fixed-size byte window, the
    * one→many partition-batched explode of `Media.sampleFrames`). The
    * stub "decode" slices payload bytes, so frame content is a pure
    * function of the payload and the oracle can recompute every frame's
    * md5 with plain substring arithmetic (document text is pure ASCII at
    * every sf: char offsets ≡ byte offsets, checked by the n_bytes twin
    * in dx_multimodal_meta). Swap the stub for a real codec and the
    * oracle column becomes a spec instead — the plumbing under test
    * (schema, batching, fan-out) is the part that survives.
    */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(
        Media.withPayload(Tables(s, dir, "documents"), "doc_id", "text"),
        frameBytes = 64, everyN = 2)
      .select(col("media_id"), col("frame_idx"),
        expr("CAST(length(frame) AS BIGINT)").as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("media_id", "frame_idx")

  private val multimodalFramesSql =
    """WITH d AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
      |f AS (
      |  SELECT doc_id, text, n,
      |    unnest(range(0, CAST((n + 63) // 64 AS BIGINT), 2)) AS frame_idx
      |  FROM d)
      |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(least(64, n - frame_idx * 64) AS BIGINT) AS frame_bytes,
      |  md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  /** Driver-gated REAL image codec round-trip (no SQL oracle — DuckDB has
    * no image functions): synthesize a deterministic 16×16 PNG per
    * document (`javax.imageio` encode on executors), thumbnail it to 8×8
    * through the real decode → bilinear scale → re-encode path
    * ([[Media.resizeImages]]), then re-decode every output and assert one
    * output per input, all valid 8×8 PNGs (magic bytes + ImageIO
    * round-trip), zero decode failures, and bit-identical payloads
    * across two runs (Java's PNG writer emits no timestamp chunk). Capped
    * at 256 documents — the gate proves the codec, not throughput.
    */
  private def multimodalResizeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(256)
    def run() = Media.resizeImages(
      Media.synthesizePng(docs, "doc_id", "text", 16, 16), 8, 8)
    val (out, _) = graft.Ckpt.settle(run()).head
    val stats = out
      .select(col("media_id"), col("payload"), col("width"), col("height"))
      .as[(Long, Array[Byte], Long, Long)]
      .map { case (_, bytes, w, h) =>
        val okMagic = bytes != null && bytes.length > 8 &&
          (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
          bytes(2) == 'N' && bytes(3) == 'G'
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        val okDecode = img != null && img.getWidth == 8 && img.getHeight == 8
        if (okMagic && okDecode && w == 8L && h == 8L) 1L else 0L
      }
      .toDF("ok")
      .agg(sum("ok").as("n_ok"), count(lit(1)).as("n")).head()
    val ok = Gate.all("dx_multimodal_resize_gate")(
      "all_valid_8x8_png" -> (stats.getLong(0) == stats.getLong(1)),
      "one_output_per_input" -> (stats.getLong(1) == docs.count() && stats.getLong(1) > 0),
      "payloads_equal" -> Gate.sameRows(out.select("payload"), run().select("payload")))
    Seq(ok).toDF("resize_ok")
  }

  private val multimodalResizeGateSql =
    "SELECT CAST(1 AS BOOLEAN) AS resize_ok"

  /** Driver-gated REAL audio codec round-trip (no SQL oracle — DuckDB has
    * no audio functions): synthesize a deterministic 50 ms PCM16 WAV per
    * document (`javax.sound.sampled` encode on executors), decode features
    * through the real container parser ([[Media.audioFeatures]]), resample
    * 8 kHz → 4 kHz through the explicit linear-interpolation DSP kernel
    * ([[Media.resampleAudio]]), re-decode, and assert: one clip per input;
    * every source clip is 400 samples / 50 ms at 8 kHz with sane
    * amplitudes (0 < rms ≤ peak ≤ 1); every resampled clip is 200 samples
    * at 4 kHz; RMS drift under resampling ≤ 5% (a tone's energy survives
    * 2:1 decimation); and bit-identical payloads across two runs.
    * Capped at 256 documents — the gate proves the codec, not throughput.
    */
  private def multimodalAudioGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(256)
    def wavs() = Media.synthesizeWav(docs, "doc_id", "text", 8000, 50)
    val (w, _) = graft.Ckpt.settle(wavs()).head
    val n = docs.count()
    val src = Media.audioFeatures(w)
    val srcOk = src.agg(
      sum(when(col("sample_rate") === 8000L && col("n_samples") === 400L &&
        col("duration_ms") === 50L && col("rms") > 0.0 &&
        col("rms") <= col("peak") && col("peak") <= 1.0, 1L)
        .otherwise(0L)).as("ok"),
      count(lit(1)).as("cnt")).head()
    val (res, _) = graft.Ckpt.settle(Media.resampleAudio(w, 4000)).head
    val resFeat = Media.audioFeatures(res)
    val resOk = resFeat.agg(
      sum(when(col("sample_rate") === 4000L && col("n_samples") === 200L, 1L)
        .otherwise(0L)).as("ok"),
      count(lit(1)).as("cnt")).head()
    // energy preserved through 2:1 decimation of a band-limited tone
    val drift = src.select(col("media_id"), col("rms").as("rms0"))
      .join(resFeat.select(col("media_id"), col("rms").as("rms1")), "media_id")
      .agg(max(abs(col("rms1") - col("rms0")) / col("rms0"))).head().getDouble(0)
    val ok = Gate.all("dx_multimodal_audio_gate")(
      "source_clips_valid" -> (srcOk.getLong(0) == n && srcOk.getLong(1) == n && n > 0),
      "resampled_clips_valid" -> (resOk.getLong(0) == n && resOk.getLong(1) == n),
      "rms_drift_within_5pct" -> (drift <= 0.05),
      "payloads_equal" -> Gate.sameRows(w.select("payload"), wavs().select("payload")))
    Seq(ok).toDF("audio_ok")
  }

  private val multimodalAudioGateSql =
    "SELECT CAST(1 AS BOOLEAN) AS audio_ok"

  /** Driver-gated REAL multi-frame codec round-trip (no SQL oracle): one
    * 6-frame animated GIF per document (the JDK's GIF sequence writer —
    * the pure-JVM stand-in for a video container), every 2nd frame
    * extracted through the real `ImageReader` path and re-encoded PNG
    * ([[Media.sampleFramesReal]]); assert 3 frames per clip at indices
    * {0,2,4}, all 16×16 decodable PNGs, no flagged rows, and bit-identical
    * frame bytes across two runs. Capped at 128 documents.
    */
  private def multimodalFramesGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(128)
    val (gifs, _) = graft.Ckpt.settle(Media.synthesizeGif(docs, "doc_id", "text", 16, 16, 6)).head
    def frames() = Media.sampleFramesReal(gifs, everyN = 2)
    val (f, _) = graft.Ckpt.settle(frames()).head
    val n = docs.count()
    // every emitted frame is a decodable PNG at the declared size
    val decodable = f.select(col("frame"))
      .as[Array[Byte]]
      .map { bytes =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        if (img != null && img.getWidth == 16 && img.getHeight == 16) 1L else 0L
      }
      .toDF("ok").agg(sum("ok"), count(lit(1))).head()
    def frameRows(df: DataFrame) = df.select("media_id", "frame_idx", "frame")
    val ok = Gate.all("dx_multimodal_frames_gate")(
      "three_frames_per_clip" -> (n > 0 && threeFramesPerClip(f, n)),
      "frames_decodable" -> (decodable.getLong(0) == 3 * n && decodable.getLong(1) == 3 * n),
      "frames_equal" -> Gate.sameRows(frameRows(f), frameRows(frames())))
    Seq(ok).toDF("frames_ok")
  }

  /** Do `frames` (every 2nd frame sampled) hold exactly `n` clips of
    * three 16×16 non-NULL frames at indices {0, 2, 4}?
    */
  private def threeFramesPerClip(frames: DataFrame, n: Long): Boolean = {
    val r = frames.groupBy("media_id").agg(
        count(lit(1)).as("n_frames"),
        sort_array(collect_list("frame_idx")).as("idxs"),
        sum(when(col("width") === 16L && col("height") === 16L &&
          col("frame").isNotNull, 1L).otherwise(0L)).as("n_ok"))
      .agg(
        sum(when(col("n_frames") === 3L && col("n_ok") === 3L &&
          col("idxs") === array(lit(0L), lit(2L), lit(4L)), 1L)
          .otherwise(0L)).as("ok"),
        count(lit(1)).as("cnt")).head()
    r.getLong(0) == n && r.getLong(1) == n
  }

  private val multimodalFramesGateSql =
    "SELECT CAST(1 AS BOOLEAN) AS frames_ok"

  /** Driver-gated REAL video container round-trip (no SQL oracle): one
    * 5-frame RIFF/AVI clip per document through the pure-Scala writer
    * ([[Media.synthesizeAvi]]), in both codecs. Asserts: header-only
    * metadata scan ([[Media.aviMeta]]) reports the exact geometry / fps /
    * frame count / fourcc for every clip; frame extraction through the
    * real parser ([[Media.sampleFramesReal]], routed on the RIFF magic)
    * yields 3 frames per clip at indices {0,2,4}, all 16×16 with non-NULL
    * payloads; the DIB codec is LOSSLESS — decode → re-encode
    * ([[Media.transcodeAvi]]) is bit-identical to the source payload on
    * every clip; the Motion-JPEG variant parses to the same shape and
    * transcodes to decodable DIB; and synthesis is bit-deterministic
    * across two runs. Capped at 96 documents — the gate proves the codec,
    * not throughput.
    */
  private def multimodalVideoGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(96)
    val n = docs.count()
    def dibs() = Media.synthesizeAvi(docs, "doc_id", "text", 16, 16, 5, 10, "DIB ")
    val (dib, _) = graft.Ckpt.settle(dibs()).head
    def metaOk(df: DataFrame, codec: String): Boolean = {
      val r = Media.aviMeta(df).agg(
        sum(when(col("width") === 16L && col("height") === 16L &&
          col("fps") === 10L && col("n_frames") === 5L &&
          col("codec") === codec, 1L).otherwise(0L)).as("ok"),
        count(lit(1)).as("cnt")).head()
      r.getLong(0) == n && r.getLong(1) == n
    }
    def framesOk(df: DataFrame) = threeFramesPerClip(Media.sampleFramesReal(df, everyN = 2), n)
    // DIB is lossless: per-clip decode → re-encode must be bit-identical
    val losslessCnt = dib.select(col("media_id"), col("payload"))
      .join(
        Media.transcodeAvi(dib, "DIB ")
          .select(col("media_id"), col("payload").as("payload2")),
        "media_id")
      .filter(col("payload2").isNotNull && col("payload2") === col("payload"))
      .count()
    val (mjpg, _) = graft.Ckpt.settle(
      Media.synthesizeAvi(docs, "doc_id", "text", 16, 16, 5, 10, "MJPG")).head
    val mjpgToDib = Media.transcodeAvi(mjpg, "DIB ")
    def payloads(df: DataFrame) = df.select("media_id", "payload")
    val ok = Gate.all("dx_multimodal_video_gate")(
      "clips_present" -> (n > 0),
      "dib_meta" -> metaOk(dib, "DIB "),
      "dib_frames" -> framesOk(dib),
      "dib_lossless" -> (losslessCnt == n),
      "mjpg_meta" -> metaOk(mjpg, "MJPG"),
      "mjpg_frames" -> framesOk(mjpg),
      "mjpg_to_dib_meta" -> metaOk(mjpgToDib, "DIB "),
      "payloads_equal" -> Gate.sameRows(payloads(dib), payloads(dibs())))
    Seq(ok).toDF("video_ok")
  }

  private val multimodalVideoGateSql =
    "SELECT CAST(1 AS BOOLEAN) AS video_ok"

  // ---- perceptual image near-dup ---------------------------------------

  /** The phash-family corpus: one REAL 16×16 PNG per document (capped at
    * 160 — the family proves the codec+blocking machinery, not
    * throughput), plus two planted near-duplicate variants per image whose
    * dHash equals the base EXACTLY by construction
    * ([[Media.dHash64]]'s invariance properties): a 2× pixel-replication
    * upscale ([[Media.scaleNearest]] — a resize variant) and a lossless
    * BMP re-encode ([[Media.reencodeImages]] — same pixels, different
    * container bytes). Variant ids offset far above any doc_id.
    */
  private val phashVariantOffset = 10000000L

  /** Does `found` hold every planted near-dup pair of a three-variant
    * media corpus of `n` items? For each base id b the pairs are
    * (b, b+OFF), (b, b+2·OFF) and (b+OFF, b+2·OFF) — left < right holds
    * since OFF > max doc_id — each with its `offsets` entry as `offset`
    * when given.
    */
  private def plantedFound(corpus: DataFrame, n: Long, found: DataFrame,
      offsets: Seq[Long] = Nil): Boolean = {
    val ids = corpus.filter(col("media_id") < phashVariantOffset)
      .select(col("media_id").as("b"))
    val planted = Seq((0L, 1L), (0L, 2L), (1L, 2L)).zipWithIndex.map { case ((i, j), k) =>
      ids.select(Seq((col("b") + lit(i * phashVariantOffset)).as("left_id"),
        (col("b") + lit(j * phashVariantOffset)).as("right_id")) ++
        offsets.lift(k).map(lit(_).as("offset")): _*)
    }.reduce(_ unionByName _)
    val nPlanted = planted.count()
    nPlanted == 3 * (n / 3) &&
      planted.join(found, planted.columns.toSeq, "left_semi").count() == nPlanted
  }

  private def phashCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(160)
    val (base, _) = graft.Ckpt.settle(Media.synthesizePng(docs, "doc_id", "text", 16, 16)).head
    def shifted(df: DataFrame, k: Long) = df.select(
      (col("media_id") + lit(k * phashVariantOffset)).as("media_id"),
      col("payload"))
    base
      .unionByName(shifted(Media.scaleNearest(base, 2), 1L))
      .unionByName(shifted(Media.reencodeImages(base, "bmp"), 2L))
  }

  /** Perceptual image near-dup pairs — the `dx_dedup_simhash` machinery
    * applied to decoded pixels (r17 verdict #2): 64-bit dHash per image
    * computed in [[Media]]'s partition-batched style, then
    * [[SimHash.bandedHammingPairs]] banded blocking (lossless for
    * hamming ≤ bands − 1) with exact `bit_count(xor)` verification. No
    * image ever compares against more than its band-bucket cohort — the
    * image analogue of the text SimHash scale shape. Rows-only (DuckDB
    * cannot decode PNGs); `dx_dedup_phash_gate` pins planted recall,
    * banding losslessness and hash determinism.
    */
  private def dedupPhash(s: SparkSession, dir: String): DataFrame =
    SimHash.bandedHammingPairs(
        Media.dHash64(phashCorpus(s, dir)).filter(col("decode_ok")),
        "media_id", "dhash", bands = 4, maxHamming = 3)
      .orderBy("left_id", "right_id")

  /** Driver-gated evidence for the perceptual near-dup family (no SQL
    * oracle — DuckDB has no image codec; the oracle pins corpus size):
    *   (a) planted recall 1.0 — every (base, upscale), (base, re-encode)
    *       and (upscale, re-encode) pair is recovered by the banded join
    *       (structural: both variants are hamming-0 by dHash's exactness
    *       properties, and banding is lossless at hamming ≤ bands − 1);
    *   (b) banding ≡ brute force — the banded pairs equal the all-pairs
    *       hamming join at the same threshold, bit-for-bit (the
    *       `dx_dedup_simhash_gate` losslessness claim on image hashes);
    *   (c) determinism — synthesize + decode + hash twice, bit-identical;
    *   (d) coverage — every planted image decodes (no flagged rows).
    */
  private def dedupPhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(hashDedupChecks("dx_dedup_phash_gate", () => phashCorpus(s, dir), Media.dHash64,
      "dhash", dedupPhash(s, dir))).toDF("n_images", "phash_ok")
  }

  /** The checks of an image or audio hash dedup gate over a three-variant
    * corpus: every item decodes, every planted pair is found, the banded
    * pairs equal a brute-force hamming ≤ 3 join over the (bounded) hash
    * table — O(n²) on ≤480 hashes by design — and hashing a rebuilt
    * corpus gives the same hashes. Returns the corpus size and the AND.
    */
  private def hashDedupChecks(gate: String, build: () => DataFrame,
      hash: DataFrame => DataFrame, hashCol: String, dedup: => DataFrame): (Long, Boolean) = {
    val (corpus, n) = graft.Ckpt.settle(build()).head
    val (hashes, _) = graft.Ckpt.settle(hash(corpus)).head
    val nDecoded = hashes.filter(col("decode_ok")).count()
    val (found, _) = graft.Ckpt.settle(dedup.select("left_id", "right_id")).head
    def decoded(h: DataFrame) = h.filter(col("decode_ok")).select("media_id", hashCol)
    val hs = decoded(hashes)
    val brute = hs.select(col("media_id").as("left_id"), col(hashCol).as("lh"))
      .join(hs.select(col("media_id").as("right_id"), col(hashCol).as("rh")),
        col("left_id") < col("right_id"))
      .filter(expr("bit_count(lh ^ rh)") <= 3)
      .select("left_id", "right_id")
    (n, Gate.all(gate)(
      "all_decoded" -> (n >= 3 && nDecoded == n),
      "planted_recovered" -> plantedFound(corpus, n, found),
      "banded_equals_brute" -> Gate.sameRows(found, brute),
      "hashes_equal" -> Gate.sameRows(hs, decoded(hash(build())))))
  }


  private val dedupPhashGateSql =
    """SELECT CAST(3 * least(count(*), 160) AS BIGINT) AS n_images,
      |  CAST(1 AS BOOLEAN) AS phash_ok
      |FROM documents""".stripMargin

  /** The video near-dup corpus: one REAL 16×16 5-frame DIB-coded AVI per
    * document (capped at 120), plus two planted near-duplicate variants
    * per clip whose shared-position frame hashes equal the base EXACTLY
    * by construction: an fps retime ([[Media.retimeAvi]] — same frames,
    * different stream header) and a 3-frame prefix truncation
    * ([[Media.truncateAvi]] — the clipped-excerpt variant). Variant ids
    * offset far above any doc_id (the [[phashVariantOffset]] device).
    */
  private def vhashCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(120)
    val (base, _) = graft.Ckpt.settle(Media.synthesizeAvi(docs, "doc_id", "text", 16, 16,
        nFrames = 5, fps = 10)).head
    def shifted(df: DataFrame, k: Long) = df.select(
      (col("media_id") + lit(k * phashVariantOffset)).as("media_id"),
      col("payload"))
    base
      .unionByName(shifted(Media.retimeAvi(base, 20), 1L))
      .unionByName(shifted(Media.truncateAvi(base, 3), 2L))
  }

  /** Perceptual VIDEO near-dup pairs — the phash machinery lifted to the
    * frame sequence: per-frame 64-bit dHash ([[Media.frameDHash64]], the
    * real AVI decode), banded-hamming blocking ALIGNED ON FRAME POSITION
    * ([[SimHash.bandedHammingPairsKeyed]] — a clip only ever compares
    * against its band-bucket cohort at the same position), exact
    * `bit_count(xor)` verification per matched position, then a
    * pair-level similarity = matched positions / min(frame counts) in
    * exact permille. Pairs at ≥ 600‰ survive — planted variants sit at
    * exactly 1000‰ (retime: 5/5; truncation: 3/3 — shared positions only).
    * Rows-only (DuckDB cannot decode AVI); `dx_dedup_vhash_gate` pins
    * planted recall, banding ≡ brute and hash determinism.
    */
  private def dedupVhash(s: SparkSession, dir: String): DataFrame = {
    val (frames, _) = graft.Ckpt.settle(Media.frameDHash64(vhashCorpus(s, dir))
      .filter(col("decode_ok"))).head
    val nf = frames.groupBy("media_id")
      .agg(first("n_frames").as("nf"))
    val matched = SimHash.bandedHammingPairsKeyed(
        frames, "media_id", "frame_idx", "dhash", bands = 4, maxHamming = 3)
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_matched"))
    matched
      .join(nf.select(col("media_id").as("left_id"), col("nf").as("nf_l")),
        "left_id")
      .join(nf.select(col("media_id").as("right_id"), col("nf").as("nf_r")),
        "right_id")
      .withColumn("min_frames", least(col("nf_l"), col("nf_r")))
      .withColumn("sim_permille",
        (lit(1000L) * col("n_matched")) / col("min_frames"))
      .withColumn("sim_permille", col("sim_permille").cast("long"))
      .filter(col("sim_permille") >= 600)
      .select("left_id", "right_id", "n_matched", "min_frames",
        "sim_permille")
      .orderBy("left_id", "right_id")
  }

  /** Driver-gated evidence for the video near-dup family (no SQL oracle —
    * DuckDB has no AVI parser; the oracle pins corpus size):
    *   (a) planted recall 1.0 — every (base, retime), (base, truncation)
    *       and (retime, truncation) pair is recovered at 1000‰
    *       (structural: shared-position frames are bit-identical DIB, so
    *       their dHashes collide at hamming 0, and banding is lossless at
    *       hamming ≤ bands − 1);
    *   (b) banding ≡ brute — the banded pair set equals the all-pairs
    *       position-aligned hamming join at the same threshold and floor,
    *       bit-for-bit;
    *   (c) determinism — synthesize + decode + hash twice, bit-identical;
    *   (d) coverage — every planted clip decodes (no flagged rows).
    */
  private def dedupVhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (corpus, nVideos) = graft.Ckpt.settle(vhashCorpus(s, dir)).head
    val (frames, _) = graft.Ckpt.settle(Media.frameDHash64(corpus)).head
    val decoded = frames.filter(col("decode_ok"))
    val nUndecoded = frames.filter(!col("decode_ok")).count()
    val (found, _) = graft.Ckpt.settle(dedupVhash(s, dir)
      .select("left_id", "right_id", "sim_permille")).head
    // brute-force reference: position-aligned all-pairs hamming join over
    // the (bounded) frame table, same similarity floor — O(n²) per
    // position on ≤360 clips by design
    val fl = decoded.select(col("media_id").as("left_id"),
      col("frame_idx"), col("dhash").as("lh"), col("n_frames").as("nf_l"))
    val fr = decoded.select(col("media_id").as("right_id"),
      col("frame_idx"), col("dhash").as("rh"), col("n_frames").as("nf_r"))
    val brute = fl.join(fr, Seq("frame_idx"))
      .filter(col("left_id") < col("right_id"))
      .filter(expr("bit_count(lh ^ rh)") <= 3)
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("m"), first("nf_l").as("nf_l"),
        first("nf_r").as("nf_r"))
      .filter((lit(1000L) * col("m")) / least(col("nf_l"), col("nf_r")) >= 600)
      .select("left_id", "right_id")
    val ok = Gate.all("dx_dedup_vhash_gate")(
      "all_decoded" -> (nVideos >= 3 && nUndecoded == 0),
      "planted_recovered" ->
        plantedFound(corpus, nVideos, found.filter(col("sim_permille") === 1000)),
      "banded_equals_brute" -> Gate.sameRows(found.select("left_id", "right_id"), brute),
      "hashes_equal" -> Gate.sameRows(frameHashes(decoded),
        frameHashes(Media.frameDHash64(vhashCorpus(s, dir)).filter(col("decode_ok")))))
    Seq((nVideos, ok)).toDF("n_videos", "vhash_ok")
  }

  /** The frame fingerprints a video dedup gate re-derives and compares. */
  private def frameHashes(frames: DataFrame): DataFrame =
    frames.select("media_id", "frame_idx", "dhash")

  private val dedupVhashGateSql =
    """SELECT CAST(3 * least(count(*), 120) AS BIGINT) AS n_videos,
      |  CAST(1 AS BOOLEAN) AS vhash_ok
      |FROM documents""".stripMargin

  /** The audio near-dup corpus: one REAL PCM16 mono WAV per document
    * (capped at 200), plus two planted near-duplicate variants per clip
    * whose [[Media.aHash64]] equals the base EXACTLY by the hash's
    * invariance properties: a phase inversion ([[Media.invertAudio]] —
    * negated samples, identical energies) and an identity resample
    * ([[Media.resampleAudio]] at the source rate — the interpolation
    * collapses to the exact samples, so this is the "same audio,
    * re-written container" variant).
    */
  private def ahashCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(200)
    val (base, _) = graft.Ckpt.settle(Media.synthesizeWav(docs, "doc_id", "text",
        sampleRate = 8000, durationMs = 50)).head
    def shifted(df: DataFrame, k: Long) = df.select(
      (col("media_id") + lit(k * phashVariantOffset)).as("media_id"),
      col("payload"))
    base
      .unionByName(shifted(Media.invertAudio(base), 1L))
      .unionByName(shifted(
        Media.resampleAudio(base, 8000).select("media_id", "payload"), 2L))
  }

  /** Perceptual AUDIO near-dup pairs — the phash machinery on the acoustic
    * fingerprint: 64-bit energy-envelope delta-sign hash per clip
    * ([[Media.aHash64]], real WAV decode), then the shared
    * [[SimHash.bandedHammingPairs]] banded blocking with exact
    * `bit_count(xor)` verification. Rows-only (DuckDB cannot decode WAV);
    * `dx_dedup_ahash_gate` pins planted recall, banding ≡ brute and hash
    * determinism.
    */
  private def dedupAhash(s: SparkSession, dir: String): DataFrame =
    SimHash.bandedHammingPairs(
        Media.aHash64(ahashCorpus(s, dir)).filter(col("decode_ok")),
        "media_id", "ahash", bands = 4, maxHamming = 3)
      .orderBy("left_id", "right_id")

  /** Driver-gated evidence for the audio near-dup family (no SQL oracle —
    * DuckDB has no WAV codec; the oracle pins corpus size): planted
    * recall 1.0 (structural — both variants are hamming-0 by
    * [[Media.aHash64]]'s invariance under phase inversion and identity
    * resample), banding ≡ brute force at the same threshold, synthesis +
    * decode + hash determinism, and full decode coverage.
    */
  private def dedupAhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(hashDedupChecks("dx_dedup_ahash_gate", () => ahashCorpus(s, dir), Media.aHash64,
      "ahash", dedupAhash(s, dir))).toDF("n_clips", "ahash_ok")
  }


  private val dedupAhashGateSql =
    """SELECT CAST(3 * least(count(*), 200) AS BIGINT) AS n_clips,
      |  CAST(1 AS BOOLEAN) AS ahash_ok
      |FROM documents""".stripMargin

  /** The offset-family corpus: base clips plus a TRIMMED-INTRO variant
    * ([[Media.trimAviStart]] — the first two frames dropped, so the
    * surviving frames are bit-identical DIB at positions SHIFTED by −2)
    * and an fps retime (aligned at offset 0). The trim is the variant
    * position-aligned matching structurally cannot see — the reason this
    * family exists.
    */
  private def vhashOffsetCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").orderBy("doc_id").limit(120)
    val (base, _) = graft.Ckpt.settle(Media.synthesizeAvi(docs, "doc_id", "text", 16, 16,
        nFrames = 5, fps = 10)).head
    def shifted(df: DataFrame, k: Long) = df.select(
      (col("media_id") + lit(k * phashVariantOffset)).as("media_id"),
      col("payload"))
    base
      .unionByName(shifted(Media.trimAviStart(base, 2), 1L))
      .unionByName(shifted(Media.retimeAvi(base, 20), 2L))
  }

  /** SHIFT-ROBUST video near-dup pairs — the temporal-misalignment member
    * of the vhash family (the video analogue of what FastCDC chunking is
    * to fixed-window text dedup): trimmed intros, mid-roll inserts and
    * excerpt re-uploads shift every frame position, so `dx_dedup_vhash`'s
    * positional alignment structurally misses them. Here candidates come
    * from the position-FREE banded-hamming join over frame hashes
    * ([[SimHash.bandedHammingPairsKeyed]] degenerates to key 0 — plain
    * band buckets), each surviving frame match votes for its OFFSET
    * (left position − right position), the pair's alignment is the
    * offset with the most matches (ties → largest offset, a total order),
    * and similarity = matches at that offset / min(frame counts) in exact
    * permille with the family's 600‰ floor. The planted trim sits at
    * offset +2 with 3/3 = 1000‰ — recovered exactly; the retime at
    * offset 0. Per-frame candidate cost stays band-bucket-cohort-bounded;
    * nothing compares clip×clip. Rows-only (DuckDB cannot decode AVI);
    * the gate pins planted recall, offset correctness, banding ≡ brute
    * and determinism.
    */
  private def dedupVhashOffset(s: SparkSession, dir: String): DataFrame = {
    val (frames, _) = graft.Ckpt.settle(Media.frameDHash64(vhashOffsetCorpus(s, dir))
      .filter(col("decode_ok"))).head
    vhashOffsetPairs(frames)
  }

  /** The offset-vote program over a (media_id, frame_idx, dhash,
    * n_frames) table — shared by the registered query and its gate's
    * brute-force reference (which swaps only the candidate generator).
    */
  private def vhashOffsetPairs(frames: DataFrame): DataFrame = {
    val nf = frames.groupBy("media_id").agg(first("n_frames").as("nf"))
    val matches = SimHash.bandedHammingPairsKeyed(
        frames.withColumn("zero", lit(0L)),
        "media_id", "zero", "dhash", bands = 4, maxHamming = 3)
    // bandedHammingPairsKeyed pairs IDs, losing which frame matched —
    // recover positions by joining hashes back per side, then vote
    vhashOffsetVote(matches.select("left_id", "right_id"), frames, nf)
  }

  private def vhashOffsetVote(
      candPairs: DataFrame, frames: DataFrame, nf: DataFrame): DataFrame = {
    val fl = frames.select(col("media_id").as("left_id"),
      col("frame_idx").as("li"), col("dhash").as("lh"))
    val fr = frames.select(col("media_id").as("right_id"),
      col("frame_idx").as("ri"), col("dhash").as("rh"))
    val pairFrames = candPairs.dropDuplicates("left_id", "right_id")
      .join(fl, "left_id").join(fr, "right_id")
      .filter(expr("bit_count(lh ^ rh)") <= 3)
      .select(col("left_id"), col("right_id"),
        (col("li") - col("ri")).as("off"), col("li"))
      .dropDuplicates("left_id", "right_id", "off", "li")
    val voted = pairFrames.groupBy("left_id", "right_id", "off")
      .agg(count(lit(1)).as("m"))
      .groupBy("left_id", "right_id")
      .agg(max(struct(col("m"), col("off"))).as("best"))
      .select(col("left_id"), col("right_id"),
        col("best.m").as("n_matched"), col("best.off").as("offset"))
    voted
      .join(nf.select(col("media_id").as("left_id"), col("nf").as("nf_l")),
        "left_id")
      .join(nf.select(col("media_id").as("right_id"), col("nf").as("nf_r")),
        "right_id")
      .withColumn("min_frames", least(col("nf_l"), col("nf_r")))
      .withColumn("sim_permille",
        ((lit(1000L) * col("n_matched")) / col("min_frames")).cast("long"))
      .filter(col("sim_permille") >= 600)
      .select("left_id", "right_id", "offset", "n_matched", "min_frames",
        "sim_permille")
      .orderBy("left_id", "right_id")
  }

  /** Driver-gated evidence for the shift-robust family (oracle pins
    * corpus size): (a) planted recall 1.0 with CORRECT offsets — every
    * (base, trim) pair recovered at offset +2 and 1000‰ (structural:
    * trimmed frames are bit-identical at the shift), every (base,
    * retime) at offset 0, every (trim, retime) at −2; (b) candidates ≡
    * brute — the banded-candidate pair set run through the shared
    * offset-vote program equals the all-pairs run bit-for-bit; (c)
    * determinism; (d) full decode coverage.
    */
  private def dedupVhashOffsetGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (corpus, nVideos) = graft.Ckpt.settle(vhashOffsetCorpus(s, dir)).head
    val (frames, _) = graft.Ckpt.settle(Media.frameDHash64(corpus)).head
    val decoded = frames.filter(col("decode_ok"))
    val nUndecoded = frames.filter(!col("decode_ok")).count()
    val (found, _) = graft.Ckpt.settle(vhashOffsetPairs(decoded)).head
    // brute reference: ALL clip pairs as candidates, same vote program
    val allIds = decoded.select("media_id").distinct()
    val bruteCands = allIds.select(col("media_id").as("left_id"))
      .join(allIds.select(col("media_id").as("right_id")),
        col("left_id") < col("right_id"))
    val nfTab = decoded.groupBy("media_id").agg(first("n_frames").as("nf"))
    val brute = vhashOffsetVote(bruteCands, decoded, nfTab)
    val ok = Gate.all("dx_dedup_vhash_offset_gate")(
      "all_decoded" -> (nVideos >= 3 && nUndecoded == 0),
      // each planted pair at the offset the vote's tie-break picks
      "planted_recovered" -> plantedFound(corpus, nVideos,
        found.filter(col("sim_permille") === 1000), offsets = Seq(2L, 0L, -2L)),
      "banded_equals_brute" -> Gate.sameRows(found, brute),
      "hashes_equal" -> Gate.sameRows(frameHashes(decoded),
        frameHashes(Media.frameDHash64(vhashOffsetCorpus(s, dir)).filter(col("decode_ok")))))
    Seq((nVideos, ok)).toDF("n_videos", "vhash_offset_ok")
  }

  private val dedupVhashOffsetGateSql =
    """SELECT CAST(3 * least(count(*), 120) AS BIGINT) AS n_videos,
      |  CAST(1 AS BOOLEAN) AS vhash_offset_ok
      |FROM documents""".stripMargin

  /** STREAMING perceptual-dedup maintenance promoted to a registered
    * oracle row (the `st_components_apply_gate` promotion recipe applied
    * to the media near-dup family): the image fingerprint corpus arrives
    * as three deterministic micro-batches (xxhash64(media_id) mod 3 —
    * the same decomposition StreamingSpec drives through a real
    * MemoryStream + foreachBatch), each trigger computing its new pairs
    * via [[SimHash.incrementalBandedPairs]] against the accumulated
    * state. Claim pinned bit-for-bit: the union of per-trigger pair sets
    * is MULTISET-EQUAL to the batch [[SimHash.bandedHammingPairs]] over
    * the full corpus — every near-dup pair discovered exactly once, at
    * the trigger where its later endpoint arrives. Per-trigger cost is
    * |delta|·cohort (state is only ever probed through the band
    * equi-join), which is what makes this the 100 TB continuous-ingest
    * dedup shape. Oracle pins corpus size, trigger count and the flag.
    */
  private def stPhashGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (hashes, nImages) = graft.Ckpt.settle(Media.dHash64(phashCorpus(s, dir))
      .filter(col("decode_ok")).select("media_id", "dhash")).head
    val nTriggers = 3
    val deltas = (0 until nTriggers).map(i =>
      hashes.filter(pmod(xxhash64(col("media_id")), lit(nTriggers)) === i))
    // the state each trigger's increment reads: one settle per trigger
    // that another follows, so the next one reads it materialized
    val states = deltas.init.scanLeft(hashes.limit(0)) { (state, delta) =>
      graft.Ckpt.settle(state.unionByName(delta)).head._1
    }
    val batch = SimHash.bandedHammingPairs(
      hashes, "media_id", "dhash", bands = 4, maxHamming = 3)
    val folded = states.zip(deltas).map { case (state, delta) =>
      SimHash.incrementalBandedPairs(
        state, delta, "media_id", "dhash", bands = 4, maxHamming = 3)
    }.reduce(_ unionByName _)
    val foldEqBatch = Gate.all("st_phash_gate")("fold_equals_batch" -> Gate.sameRows(folded, batch))
    Seq((nImages, nTriggers.toLong, foldEqBatch))
      .toDF("n_images", "n_triggers", "fold_equal_ok")
  }

  private val stPhashGateSql =
    """SELECT CAST(3 * least(count(*), 160) AS BIGINT) AS n_images,
      |  CAST(3 AS BIGINT) AS n_triggers,
      |  CAST(1 AS BOOLEAN) AS fold_equal_ok
      |FROM documents""".stripMargin

  /** Corpus-adaptive boilerplate stripping — the cross-document removal
    * step (C4-style: segments that recur across most documents are
    * template noise, not content). Tokens present in >80% of documents
    * are computed from a distinct-token document-frequency aggregate, the
    * (small) common set rides a broadcast to a per-row filter, and each
    * document's cleaned text is reconstructed in original token order.
    * Two aggregates + one broadcast — the corpus-wide statistic never
    * shuffles the documents themselves. Cleaned text is proven by md5.
    */
  private def boilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val common = docs
      .select(explode(expr("array_distinct(toks)")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") * 5 > col("n_docs") * 4)
      .agg(sort_array(collect_list("tok")).as("common"))
    docs.crossJoin(broadcast(common))
      .select(col("doc_id"),
        expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
        expr("filter(toks, t -> NOT array_contains(common, t))").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(size(kept) AS BIGINT)").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  private val boilerplateSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |t AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d),
      |dfreq AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
      |c AS (SELECT coalesce(list(tok ORDER BY tok), []) AS common FROM dfreq
      |  WHERE df * 5 > (SELECT count(*) FROM documents) * 4),
      |k AS (SELECT doc_id, toks,
      |    list_filter(toks, x -> NOT list_contains(common, x)) AS kept
      |  FROM d CROSS JOIN c)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  md5(array_to_string(kept, ' ')) AS cleaned_md5
      |FROM k ORDER BY doc_id""".stripMargin

  /** Token-length histogram per language — the data-card distribution
    * plot behind `dx_corpus_stats`' scalar summary: fixed integer-width
    * buckets (20 tokens, top bucket open) so binning is exact and
    * engine-independent; one per-row bucket expression + one aggregate.
    */
  private def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"),
        expr("least(CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) div 20, 9L)").as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "bucket")

  private val lengthHistogramSql =
    """SELECT lang,
      |  least(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) // 20, 9) AS bucket,
      |  count(*) AS n_docs
      |FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  /** Gopher-style hard quality filters (Rae et al. 2021, "Scaling Language
    * Models" §A.1.1 rule set, re-expressed as one codegen'd scan): word-count
    * window, mean-word-length window, stopword presence, lexical diversity.
    * Every rule is a per-row expression — no shuffle until the final
    * order-by, so the scan streams at parquet speed at any corpus size; on a
    * cluster the keep-filter pushes straight down onto the column scan.
    */
  private def qualityRules(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("mean_word_len",
        expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS DOUBLE) / n_tokens"))
      .withColumn("distinct_ratio",
        expr("CAST(size(array_distinct(toks)) AS DOUBLE) / n_tokens"))
      .withColumn("wc_ok", col("n_tokens").between(20, 80))
      .withColumn("mwl_ok", col("mean_word_len").between(3.0, 4.5))
      .withColumn("stop_ok", expr("array_contains(toks, 'the')"))
      .withColumn("div_ok", col("distinct_ratio") >= 0.5)
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("div_ok"))
      .select("doc_id", "n_tokens", "mean_word_len", "distinct_ratio",
        "wc_ok", "mwl_ok", "stop_ok", "div_ok", "keep")
      .orderBy("doc_id")

  private val qualityRulesSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
      |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace
      |  FROM documents),
      |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(n_nonspace AS DOUBLE) / len(toks) AS mean_word_len,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
      |  list_contains(toks, 'the') AS stop_ok FROM t)
      |SELECT doc_id, n_tokens, mean_word_len, distinct_ratio,
      |  n_tokens BETWEEN 20 AND 80 AS wc_ok,
      |  mean_word_len BETWEEN 3.0 AND 4.5 AS mwl_ok,
      |  stop_ok,
      |  distinct_ratio >= 0.5 AS div_ok,
      |  (n_tokens BETWEEN 20 AND 80) AND (mean_word_len BETWEEN 3.0 AND 4.5)
      |    AND stop_ok AND distinct_ratio >= 0.5 AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination — the pre-training hygiene pass that drops
    * training documents sharing any 3-gram with a held-out eval set (the
    * n-gram-overlap rule of Brown et al. 2020 §C / GPT-3 appendix). The eval
    * set is the deterministic `doc_id % 50 = 0` slice so both engines agree
    * on it. Inverted-index formulation: explode each side to distinct
    * (shingle, doc) postings, equi-join train postings against the
    * deduplicated eval shingle vocabulary, count distinct hits per training
    * doc. One shuffle on the shingle key, one on doc_id — never a doc×doc
    * join. At corpus scale the join key would be `xxhash64(shingle)` (8
    * bytes instead of a string); kept as the string here so the DuckDB twin
    * is exact.
    */
  private[queries] def shingledDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)),
          | i -> concat(try_element_at(toks, i), ' ',
          |             try_element_at(toks, CAST(i + 1 AS INT)), ' ',
          |             try_element_at(toks, CAST(i + 2 AS INT)))))""".stripMargin))
        .as("sh"))

  /** Corpus-order n-gram novelty — "how much of this document is text the
    * corpus hasn't seen yet" (the document-level signal behind the
    * train-on-novel-text orderings studied alongside dedup in Lee et al.
    * 2021): a doc's distinct 3-gram shingles are NOVEL if no
    * earlier-ordered doc (lower doc_id — substitute ingest timestamp in
    * production) contains them. One aggregate pins each shingle's first
    * owner (min doc_id over the posting list), one equi-join back
    * attributes novelty — never doc×doc, work is Σ postings. Low-novelty
    * docs are near-dup/boilerplate suspects even when no single pair
    * crosses a dedup threshold.
    */
  private def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val shingled = shingledDocs(s, dir)
    val firstOwner = shingled.groupBy("sh").agg(min("doc_id").as("first_doc"))
    shingled.join(firstOwner, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("CAST((1000 * n_novel) DIV n_shingles AS BIGINT)").as("novelty_permille"))
      .orderBy("doc_id")
  }

  private val ngramNoveltySql =
    s"""WITH s AS (
       |  SELECT doc_id, unnest($shingleDuck) AS sh FROM documents),
       |f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(*) FILTER (f.first_doc = s.doc_id) AS BIGINT) AS n_novel,
       |  CAST((1000 * count(*) FILTER (f.first_doc = s.doc_id)) // count(*)
       |    AS BIGINT) AS novelty_permille
       |FROM s JOIN f USING (sh)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** k-anonymity census (Sweeney 2002) — the release gate for training
    * data carrying person-linked attributes: generalise the
    * quasi-identifiers (here nation × market segment × account-balance
    * band, the standard generalisation step), size every equivalence
    * class, and report the class-size histogram plus how many records sit
    * in classes below k=5 — the set that must be suppressed or
    * generalised further before the corpus ships. One groupBy over the
    * generalised keys + one re-aggregate over class sizes; all integer.
    */
  private def kanonymity(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr(s"${graft.Num.centsSql("c_acctbal")} DIV 100000").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes"),
        (count(lit(1)) * col("k")).as("n_records"),
        sum(when(col("k") < 5, col("k")).otherwise(0L)).as("n_suppress"))
      .select(col("k"), col("n_classes"), col("n_records"),
        (col("n_suppress") > 0).as("below_k5"))
      .orderBy("k")

  private val kanonymitySql =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    ${graft.Num.centsSql("c_acctbal")} // 100000 AS bal_band
       |  FROM customer),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS k
       |  FROM g GROUP BY 1, 2, 3)
       |SELECT k, count(*) AS n_classes,
       |  CAST(count(*) * k AS BIGINT) AS n_records,
       |  sum(CASE WHEN k < 5 THEN k ELSE 0 END) > 0 AS below_k5
       |FROM cls GROUP BY k ORDER BY k""".stripMargin

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val shingled = shingledDocs(s, dir)
    val evalVocab = shingled.filter(col("doc_id") % 50 === 0)
      .select("sh").distinct()
    shingled.filter(col("doc_id") % 50 =!= 0)
      .join(evalVocab, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    s"""WITH s AS (
       |  SELECT doc_id, unnest($shingleDuck) AS sh FROM documents),
       |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0)
       |SELECT doc_id, count(*) AS n_shared
       |FROM s JOIN ev USING (sh)
       |WHERE doc_id % 50 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Driver-gated Bloom-filter decontamination
    * ([[graft.operators.Decontaminate.bloomFlagged]]) — the zero-shuffle
    * scale path: the eval vocabulary's Bloom filter broadcasts to every
    * executor and the corpus is probed inside the scan, never shuffled.
    * Contracts checked against the exact inverted-index join on the same
    * postings: (a) NO false negatives — every contaminated doc's flagged
    * count covers its exact shared count (Bloom's one-sided error); (b) the
    * shingle-level false-positive rate stays within 5× the configured fpp.
    * Oracle pins the data-derived contaminated-doc count plus both flags.
    */
  private def decontaminateBloomGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // feeds 3 plans
    val (shingled, _) = graft.Ckpt.settle(shingledDocs(s, dir)).head
    val evalVocab = shingled.filter(col("doc_id") % 50 === 0)
      .select("sh").distinct()
    val train = shingled.filter(col("doc_id") % 50 =!= 0)
    val exact = train.join(evalVocab, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val fpp = 0.001
    val bloom = graft.operators.Decontaminate
      .bloomFlagged(train, "doc_id", "sh", evalVocab, "sh", fpp)
    val cmp = exact.join(bloom, Seq("doc_id"), "full").agg(
      sum(when(col("n_shared").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
      sum(when(col("n_shared").isNotNull &&
        (col("n_flagged").isNull || col("n_flagged") < col("n_shared")), 1L)
        .otherwise(0L)).as("missed"),
      coalesce(graft.Num.bigSum(col("n_shared")), lit(0)).as("shared_postings"),
      coalesce(graft.Num.bigSum(col("n_flagged")), lit(0)).as("flagged_postings")).head()
    val totalTrainPostings = train.count()
    val nContaminated = cmp.getLong(0)
    val noFalseNegatives = cmp.getLong(1) == 0L
    val shared = cmp.getDecimal(2).longValueExact()
    val flagged = cmp.getDecimal(3).longValueExact()
    val cleanPostings = math.max(totalTrainPostings - shared, 1L)
    val fpOk = (flagged - shared).toDouble / cleanPostings <= 5 * fpp
    Seq((nContaminated,
      Gate.all("dx_decontaminate_bloom_gate")("no_false_negatives" -> noFalseNegatives),
      Gate.all("dx_decontaminate_bloom_gate")("fp_rate_within_5x" -> fpOk)))
      .toDF("n_contaminated", "no_false_negatives", "fp_rate_ok")
  }

  private val decontaminateBloomGateSql =
    s"""WITH s AS (
       |  SELECT doc_id, unnest($shingleDuck) AS sh FROM documents),
       |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0)
       |SELECT count(DISTINCT doc_id) AS n_contaminated,
       |  CAST(1 AS BOOLEAN) AS no_false_negatives,
       |  CAST(1 AS BOOLEAN) AS fp_rate_ok
       |FROM s JOIN ev USING (sh)
       |WHERE doc_id % 50 <> 0""".stripMargin

  /** Exact corpus-wide frequent-token top-k: two-phase hash aggregate (the
    * map-side partial combine keeps shuffle volume at |vocab| per partition,
    * not |tokens|) + a global bounded top-k. Deterministic tiebreak on the
    * token itself. The sketch-path twin for open vocabularies is
    * [[graft.operators.HeavyHitters]], gated by dx_heavy_hitters_gate.
    */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(20)

  private val heavyHittersSql =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS cnt FROM t
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  /** Driver-gated Misra–Gries guarantee: every token with true frequency
    * strictly above n/k must appear in the merged per-partition sketch
    * (k = 8 counters — smaller than the vocabulary, so the decrement path
    * is actually exercised). Exact integer comparison `cnt * 8 > n` keeps
    * the threshold engine-identical. The oracle pins the data-derived heavy
    * count and the coverage flag.
    */
  private def heavyHittersGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (toks, n) = graft.Ckpt.settle(Tables(s, dir, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("token"))).head
    val heavy = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 8 > n)
    val cand = graft.operators.HeavyHitters.candidates(toks, "token", 8)
      .select(col("key").as("token"))
    val nHeavy = heavy.count()
    val missed = heavy.join(cand, Seq("token"), "left_anti").count()
    Seq((nHeavy, Gate.all("dx_heavy_hitters_gate")("heavy_all_candidates" -> (missed == 0L))))
      .toDF("n_heavy", "covered_ok")
  }

  private val heavyHittersGateSql =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
      |n AS (SELECT count(*) AS total FROM t)
      |SELECT CAST((SELECT count(*) FROM c, n WHERE cnt * 8 > total) AS BIGINT) AS n_heavy,
      |  true AS covered_ok""".stripMargin

  /** Distributed spherical k-means cluster census over the embeddings table
    * (operators/cluster/KMeans): per-cell population under the final
    * centroids. Cluster populations have no SQL twin (the fit is iterative),
    * so this is rows-only; the Lloyd invariants are driver-gated by
    * dx_embed_kmeans_gate.
    */
  private def embedKmeans(s: SparkSession, dir: String): DataFrame =
    graft.operators.cluster.KMeans
      .fit(Tables(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 4)
      .assignments
      .groupBy("cell")
      .agg(count(lit(1)).as("n_points"))
      .orderBy("cell")

  /** Driver-gated Lloyd invariants: inertia non-increasing across
    * iterations (guaranteed for exact Lloyd; 1e-9 relative tolerance
    * absorbs float merge order), every point assigned exactly once
    * (cluster populations sum to the table count — pinned from the data by
    * the oracle), and the cell-id range respected.
    */
  private def embedKmeansGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fit = graft.operators.cluster.KMeans
      .fit(Tables(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 4)
    val sizes = fit.assignments.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nPoints = sizes.map(_._2).sum
    val cellsOk = sizes.nonEmpty && sizes.forall { case (c, _) => c >= 0 && c < 8 }
    val inertiaOk = fit.inertia.sliding(2).forall {
      case Seq(a, b) => b <= a * (1 + 1e-9) + 1e-9
      case _ => true
    }
    Seq((nPoints, Gate.all("dx_embed_kmeans_gate")("cells_in_range" -> cellsOk),
      Gate.all("dx_embed_kmeans_gate")("inertia_non_increasing" -> inertiaOk)))
      .toDF("n_points", "cells_ok", "inertia_ok")
  }

  private val embedKmeansGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_points, true AS cells_ok,
      |  true AS inertia_ok
      |FROM embeddings""".stripMargin

  /** SemDeDup semantic near-dup pairs (operators/dedup/SemDedup): k-means
    * cells bound the candidate set to Σ n_c² — the web-scale semantic
    * pruning path. Pair membership depends on the iterative fit, so
    * rows-only; the containment + planted-recall contracts are driver-gated
    * below.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SemDedup
      .pairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, k = 8, iters = 4)
      .select(col("left_id"), col("right_id"), round(col("sim"), 6).as("sim_r"))
      .orderBy("left_id", "right_id")

  /** Driver-gated SemDeDup contracts: (a) within-cell pairs are a subset of
    * the exact all-pairs join at the same threshold; (b) planted exact
    * duplicates (identical vectors — deterministic assignment puts both
    * copies in the same cell) are always recovered: recall 1.0, not a tuned
    * floor. Oracle pins the data-derived planted count and both flags.
    */
  private def dedupSemanticGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") % 7 === 0)
    val corpus = emb.unionByName(
      planted.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val Seq((sem, _), (truth, nPlanted)) = graft.Ckpt.settle(
      graft.operators.dedup.SemDedup
        .pairs(corpus, "vec_id", "embedding", threshold = 0.3, k = 8, iters = 4)
        .select("left_id", "right_id"),
      planted.select(col("vec_id").as("left_id"), (col("vec_id") + 1000000).as("right_id")))
    val exact = graft.operators.dedup.EmbedDedup
      .allPairs(corpus, "vec_id", "embedding", threshold = 0.3)
      .select("left_id", "right_id")
    val nHit = truth.join(sem, Seq("left_id", "right_id"), "left_semi").count()
    val escaped = sem.join(exact, Seq("left_id", "right_id"), "left_anti").count()
    Seq((nPlanted,
      Gate.all("dx_dedup_semantic_gate")("pairs_within_exact" -> (escaped == 0L)),
      Gate.all("dx_dedup_semantic_gate")("planted_all_found" -> (nHit == nPlanted))))
      .toDF("n_planted", "subset_ok", "recall_ok")
  }

  private val dedupSemanticGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted, CAST(1 AS BOOLEAN) AS subset_ok,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings WHERE vec_id % 7 = 0""".stripMargin

  /** Sequence packing — grouping documents into fixed token budgets is how
    * training batches are actually materialised (packed sequences waste no
    * pad tokens). Deterministic contiguous packing: shard documents into
    * hash-independent buckets (`doc_id % 16` — each bucket packs
    * independently, so parallelism scales with the bucket count and no
    * global order is needed), running-total the token counts inside each
    * bucket, and open a new pack every `budget` tokens. A document joins
    * the pack its first token lands in (the standard streaming packer: a
    * pack can overflow by at most one document, never undershoot).
    * Windows partition by bucket — bounded state, no single-partition sort.
    */
  /** PCA rotation of the embeddings table (operators/embed/Pca — the
    * whitening step before OPQ/quantization/semantic dedup): top-8
    * components, long-form integer-micro coordinates. The fit is a pure
    * function of the table (exact decimal sufficient statistics +
    * fixed-sweep Jacobi), but an eigensolve has no SQL twin, so this is
    * rows-only; the spectral invariants are driver-gated below.
    */
  private val pcaDim = 64
  private val pcaK = 8

  private def embedPca(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val f = graft.operators.embed.Pca.fit(emb, "embedding", pcaDim, pcaK)
    graft.operators.embed.Pca.project(emb, "vec_id", "embedding", f)
      .orderBy("vec_id", "comp")
  }

  /** JL random projection 64→16 (`operators/embed/RandomProjection`):
    * data-independent, fit-free, one map-only scan through the native
    * MatVec kernel. Long-form rounded coordinates; rows-only (the
    * deterministic ±1/√k matrix is Scala-side), distortion gated below.
    */
  private val rpK = 16

  private def embedRp(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.embed.RandomProjection
      .project(emb, "embedding", pcaDim, rpK)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("comp", "y")))
      .select(col("vec_id"), col("comp"),
        round(col("y").cast("double"), 6).as("y_r"))
      .orderBy("vec_id", "comp")
  }

  /** Driver-gated JL distortion contract: over the full query-slice pair
    * grid (vec_id < 50 → 1225 pairs), the projected/original squared-
    * euclidean ratio stays within 1 ± 0.75 for ≥ 90% of pairs, and the
    * MEAN ratio within 1 ± 0.1 (the unbiasedness of ±1/√k entries —
    * Achlioptas 2003 Thm 1.1; k=16 puts the per-pair sd at √(2/k) ≈
    * 0.35, measured 0.94-0.99 in-band across sfs). Oracle pins the
    * data-derived pair count plus the flags.
    */
  private def embedRpGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings").filter(col("vec_id") < 50)
    val proj = graft.operators.embed.RandomProjection
      .project(emb, "embedding", pcaDim, rpK)
    def d2(df: DataFrame, out: String): DataFrame =
      df.select(col("vec_id").as("a"), col("embedding").as("va"))
        .join(df.select(col("vec_id").as("b"), col("embedding").as("vb")),
          col("a") < col("b"))
        .select(col("a"), col("b"), expr(
          s"""aggregate(zip_with(va, vb,
             |  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
             |  0D, (acc, t) -> acc + t)""".stripMargin).as(out))
    val ratios = d2(emb, "d2o").join(d2(proj, "d2p"), Seq("a", "b"))
      .filter(col("d2o") > 0)
      .select((col("d2p") / col("d2o")).as("r"))
    val row = ratios.agg(
      count(lit(1)).as("n_pairs"),
      avg(when(abs(col("r") - 1) <= 0.75, 1.0).otherwise(0.0)).as("frac_in"),
      avg(col("r")).as("mean_r")).head()
    Seq((row.getLong(0),
      Gate.all("dx_embed_rp_gate")("ratio_band_0.9" -> (row.getDouble(1) >= 0.9)),
      Gate.all("dx_embed_rp_gate")("mean_ratio_near_1" -> (math.abs(row.getDouble(2) - 1.0) <= 0.1))))
      .toDF("n_pairs", "band_ok", "mean_ok")
  }

  /** Driver-gated spectral contracts of the PCA fit: (a) the rotation is
    * orthonormal (max |V·Vᵀ−I| ≤ 1e-9); (b) eigenvalues are descending
    * and non-negative (≥ −1e-9 — exact zeros can round negative); (c)
    * Jacobi preserved the trace (Σλ = tr C, rel 1e-9); (d) the Rayleigh
    * identity holds END TO END — for each kept component, the distributed
    * projection's mean squared coordinate equals its eigenvalue (rel
    * 2e-3: micro-quantization of the emitted coordinates is the only
    * slack), which ties the PROJECTION pass to the fit, not just the fit
    * to itself; (e) run-twice determinism of the full fit, bit-for-bit.
    * Oracle pins the data-derived point count plus the flags.
    */
  private def embedPcaGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    // Determinism evidence = the distributed sufficient-statistics pass
    // run twice (the only stage that could vary with partition order) +
    // the pure driver eigensolve run twice on each — not two full fits:
    // the sums pass is the expensive one, and fitFromSums is a pure
    // function of its output (microseconds at dim=64).
    val (n1, lin1, quad1) = graft.operators.embed.Pca.sums(emb, "embedding", pcaDim)
    val (n2, lin2, quad2) = graft.operators.embed.Pca.sums(emb, "embedding", pcaDim)
    val sumsDeterministic = n1 == n2 && lin1.sameElements(lin2) &&
      quad1.zip(quad2).forall { case (a, b) => a.sameElements(b) }
    val f = graft.operators.embed.Pca.fitFromSums(n1, lin1, quad1, pcaK)
    val f2 = graft.operators.embed.Pca.fitFromSums(n2, lin2, quad2, pcaK)
    val fitsEqual = f.n == f2.n &&
      f.values.sameElements(f2.values) &&
      f.vectors.zip(f2.vectors).forall { case (a, b) => a.sameElements(b) }
    val orthoErr = (for (a <- f.vectors; b <- f.vectors) yield {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      math.abs(dot - (if (a eq b) 1.0 else 0.0))
    }).max
    val orderOk = f.values.sliding(2).forall {
      case Array(x, y) => x >= y; case _ => true
    } && f.values.forall(_ >= -1e-9)
    val traceOk = math.abs(f.values.sum - f.trace) <=
      1e-9 * math.max(math.abs(f.trace), 1e-12)
    val ss = graft.operators.embed.Pca.project(emb, "vec_id", "embedding", f)
      .groupBy("comp")
      .agg(sum(expr("CAST(y_micro AS DECIMAL(18,0)) * y_micro")).as("ss"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
    val rayleighOk = (0 until pcaK).forall { c =>
      val lhs = ss(c) / 1e12 / f.n.toDouble
      math.abs(lhs - f.values(c)) <= math.max(2e-3 * f.values(c), 1e-6)
    }
    val gate = "dx_embed_pca_gate"
    Seq((f.n, Gate.all(gate)("orthonormal" -> (orthoErr <= 1e-9)),
      Gate.all(gate)("eigenvalues_descending" -> orderOk),
      Gate.all(gate)("trace_preserved" -> traceOk),
      Gate.all(gate)("rayleigh_identity" -> rayleighOk),
      Gate.all(gate)("sums_equal" -> sumsDeterministic, "fit_equal" -> fitsEqual)))
      .toDF("n_points", "ortho_ok", "order_ok", "trace_ok", "rayleigh_ok",
        "deterministic_ok")
  }

  private val embedPcaGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_points, true AS ortho_ok,
      |  true AS order_ok, true AS trace_ok, true AS rayleigh_ok,
      |  true AS deterministic_ok
      |FROM embeddings""".stripMargin

  /** Main-content HTML extraction (operators/text/HtmlExtract — the
    * jusText/trafilatura boilerplate-removal shape): the corpus is
    * word-soup, so the query first synthesizes deterministic HTML from it
    * — per 10-token block, `(doc_id + block) % 3` picks nav (every token
    * a link → dropped by density), mixed (only ≥7-char tokens linked →
    * straddles the threshold from below, kept), or plain prose — wrapped
    * in head/script/style the extractor must strip (the script body
    * contains a literal `<`). Then the extractor runs and the census
    * reports per-doc block/kept/link counts plus the md5 of the
    * extracted main text. Everything is per-row regex + HOF expressions
    * — integer decisions, no shuffles beyond the final sort — and the
    * oracle synthesizes AND extracts with the twin DuckDB chain
    * (`HtmlExtract.duckSnippets` keeps the regexes in lockstep).
    */
  private def htmlSynthSpark: String = {
    val slice = "slice(toks, b * 10 + 1, 10)"
    s"""concat(
       |  '<html><head><script>var x = 1 < 2;</script>',
       |  '<style>p { color: red; }</style></head><body>',
       |  array_join(transform(sequence(0, (size(toks) - 1) div 10), b ->
       |    CASE CAST((doc_id + b) % 3 AS INT)
       |      WHEN 0 THEN concat('<p class="nav">',
       |        array_join(transform($slice,
       |          t -> concat('<a href="/', t, '">', t, '</a>')), ' '), '</p>')
       |      WHEN 1 THEN concat('<p>',
       |        array_join(transform($slice,
       |          t -> CASE WHEN length(t) >= 7
       |            THEN concat('<a href="/', t, '">', t, '</a>')
       |            ELSE t END), ' '), '</p>')
       |      ELSE concat('<p>', array_join($slice, ' '), '</p>')
       |    END), ''),
       |  '</body></html>')""".stripMargin
  }

  private def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val withHtml = Tables.spread(Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks")))
      .withColumn("html", expr(htmlSynthSpark))
    graft.operators.text.HtmlExtract.extract(withHtml, "html")
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        expr("CAST(size(regexp_extract_all(html, '<a[^>]*>', 0)) AS BIGINT)")
          .as("n_links"),
        expr("CAST(length(main_text) AS BIGINT)").as("main_chars"),
        md5(col("main_text")).as("main_md5"))
      .orderBy("doc_id")
  }

  private val htmlExtractSql: String = {
    val slice = "list_slice(toks, b * 10 + 1, b * 10 + 10)"
    // NB every `||` sits at END of line: this snippet is re-embedded in a
    // stripMargin'd string, and a leading `||` would lose a pipe to the
    // outer stripMargin (the bpeEncodeSql trap, dev/NOTES r11)
    val synth =
      s"""'<html><head><script>var x = 1 < 2;</script>' ||
         |  '<style>p { color: red; }</style></head><body>' ||
         |  coalesce(list_aggregate(
         |       list_transform(range(0, (len(toks) - 1) // 10 + 1), b ->
         |         CASE CAST((doc_id + b) % 3 AS INT)
         |           WHEN 0 THEN '<p class="nav">' ||
         |             coalesce(list_aggregate(list_transform($slice,
         |                  t -> '<a href="/' || t || '">' || t || '</a>'),
         |                  'string_agg', ' '), '') || '</p>'
         |           WHEN 1 THEN '<p>' ||
         |             coalesce(list_aggregate(list_transform($slice,
         |                  t -> CASE WHEN length(t) >= 7
         |                    THEN '<a href="/' || t || '">' || t || '</a>'
         |                    ELSE t END), 'string_agg', ' '), '') || '</p>'
         |           ELSE '<p>' ||
         |             coalesce(list_aggregate($slice, 'string_agg', ' '), '') ||
         |             '</p>'
         |         END), 'string_agg', ''), '') ||
         |  '</body></html>'""".stripMargin
    val (nb, nk, main) = graft.operators.text.HtmlExtract.duckSnippets("html")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |h AS (SELECT doc_id, $synth AS html FROM tk)
       |SELECT doc_id,
       |  CAST($nb AS BIGINT) AS n_blocks,
       |  CAST($nk AS BIGINT) AS n_kept,
       |  CAST(len(regexp_extract_all(html, '<a[^>]*>', 0)) AS BIGINT) AS n_links,
       |  CAST(length($main) AS BIGINT) AS main_chars,
       |  md5($main) AS main_md5
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** C4-style page cleaning (Raffel et al. 2020, the C4 construction
    * rules): line-level — keep only lines ending in terminal punctuation,
    * with ≥ 3 words, and not mentioning "javascript"; page-level — drop
    * any page containing "lorem ipsum" or a curly brace, or with fewer
    * than 5 surviving sentences. The corpus is punctuation-free word
    * soup, so the query first synthesizes deterministic line structure
    * (8-token lines whose decoration cycles on `(doc_id·7 + line) % 5`:
    * terminal period / bare / javascript-tagged / 2-word short / question
    * mark, plus page-level lorem/brace injections on doc_id residues) —
    * every rule family fires. Per-rule drop counters use a fixed
    * precedence (javascript → no-punctuation → too-short) so the counts
    * partition the dropped lines identically in both engines. Pure
    * per-row HOFs — no shuffle before the final sort. Cleaned text is
    * proven by md5 (NULL for dropped pages).
    */
  private def c4Clean(s: SparkSession, dir: String): DataFrame =
    graft.operators.text.C4Rules(Tables.spread(Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks")))
      .withColumn("lines", expr(
        """concat(
          |  transform(sequence(0, (size(toks) - 1) div 8), b ->
          |    CASE CAST((doc_id * 7 + b) % 5 AS INT)
          |      WHEN 0 THEN concat(concat_ws(' ', slice(toks, b*8+1, 8)), '.')
          |      WHEN 1 THEN concat_ws(' ', slice(toks, b*8+1, 8))
          |      WHEN 2 THEN concat(concat_ws(' ', slice(toks, b*8+1, 8)), ' javascript.')
          |      WHEN 3 THEN concat(concat_ws(' ', slice(toks, b*8+1, 2)), '.')
          |      ELSE concat(concat_ws(' ', slice(toks, b*8+1, 8)), '?')
          |    END),
          |  filter(array('lorem ipsum dolor sit.'), x -> doc_id % 17 = 0),
          |  filter(array('var f = function() {.'), x -> doc_id % 23 = 0))"""
          .stripMargin)))
      .select(col("doc_id"),
        expr("CAST(size(lines) AS BIGINT)").as("n_lines"),
        col("drop_js"), col("drop_nopunct"), col("drop_short"),
        col("n_kept"), col("doc_keep"), col("drop_reason"), col("cleaned_md5"))
      .orderBy("doc_id")

  private val c4CleanSql = {
    val synth =
      s"""list_concat(list_concat(
         |  list_transform(range(0, (len(toks) - 1) // 8 + 1), b ->
         |    CASE CAST((doc_id * 7 + b) % 5 AS INT)
         |      WHEN 0 THEN array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') || '.'
         |      WHEN 1 THEN array_to_string(list_slice(toks, b*8+1, b*8+8), ' ')
         |      WHEN 2 THEN array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') ||
         |        ' javascript.'
         |      WHEN 3 THEN array_to_string(list_slice(toks, b*8+1, b*8+2), ' ') || '.'
         |      ELSE array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') || '?'
         |    END),
         |  CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum dolor sit.']
         |    ELSE CAST([] AS VARCHAR[]) END),
         |  CASE WHEN doc_id % 23 = 0 THEN ['var f = function() {.']
         |    ELSE CAST([] AS VARCHAR[]) END)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |li AS (SELECT doc_id, $synth AS lines FROM t),
       |k AS (SELECT doc_id, lines,
       |    list_filter(lines, l -> NOT l LIKE '%javascript%'
       |      AND right(l, 1) IN ('.', '!', '?', '"')
       |      AND len(string_split(l, ' ')) >= 3) AS kept,
       |    len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) > 0 AS has_lorem,
       |    len(list_filter(lines, l -> l LIKE '%{%')) > 0 AS has_brace
       |  FROM li),
       |f AS (SELECT doc_id, lines, kept, has_lorem, has_brace,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    (NOT has_lorem AND NOT has_brace AND len(kept) >= 5) AS doc_keep
       |  FROM k)
       |SELECT doc_id,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(lines, l -> l LIKE '%javascript%')) AS BIGINT)
       |    AS drop_js,
       |  CAST(len(list_filter(lines, l -> NOT l LIKE '%javascript%'
       |    AND NOT right(l, 1) IN ('.', '!', '?', '"'))) AS BIGINT) AS drop_nopunct,
       |  CAST(len(list_filter(lines, l -> NOT l LIKE '%javascript%'
       |    AND right(l, 1) IN ('.', '!', '?', '"')
       |    AND len(string_split(l, ' ')) < 3)) AS BIGINT) AS drop_short,
       |  n_kept, doc_keep,
       |  CASE WHEN has_lorem THEN 'lorem_ipsum'
       |    WHEN has_brace THEN 'brace'
       |    WHEN n_kept < 5 THEN 'too_few_sentences'
       |    ELSE '' END AS drop_reason,
       |  CASE WHEN doc_keep
       |    THEN md5(array_to_string(kept, chr(10)))
       |    ELSE CAST(NULL AS VARCHAR) END AS cleaned_md5
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Gopher quality-rule battery (Rae et al. 2021, Table A1 — the
    * MassiveText filters): word count, mean word length, symbol-to-word
    * ratio (`#` and `…`), bullet-start / ellipsis-end line fractions,
    * alphabetic-word fraction, Gopher stopword hits, duplicate-line and
    * duplicate-line-character fractions, and the most-frequent-2-gram
    * character fraction. Every ratio is an integer permille (or centi)
    * via truncating division, so the DuckDB twin is bit-exact. The corpus
    * is punctuation-free word soup, so the query synthesizes
    * deterministic line structure first (8-token lines cycling bullet /
    * ellipsis / symbol+digit / fixed-duplicate / plain on
    * `(doc_id·11 + line) % 5`) — every rule family fires. The top-2-gram
    * statistic is per-row HOFs (distinct grams → count → min struct), so
    * the whole battery is map-only; char coverage uses the standard
    * `count × gram length` approximation (overlaps double-counted).
    * `GopherRules` derives each intermediate (page text, words, grams,
    * top 2-gram, verdict) once per row, and a filter on `gopher_pass`
    * reads that one value.
    */
  private def gopherRules(s: SparkSession, dir: String): DataFrame =
    graft.operators.text.GopherRules(Tables.spread(Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks")))
      .withColumn("lines", expr(
        """transform(sequence(0, (size(toks) - 1) div 8), b ->
          |  CASE CAST((doc_id * 11 + b) % 5 AS INT)
          |    WHEN 0 THEN concat('- ', concat_ws(' ', slice(toks, b*8+1, 8)), '.')
          |    WHEN 1 THEN concat(concat_ws(' ', slice(toks, b*8+1, 8)), '...')
          |    WHEN 2 THEN concat('# ', concat_ws(' ', slice(toks, b*8+1, 8)), ' 12345.')
          |    WHEN 3 THEN 'that line would have to be of use with the dup marker.'
          |    ELSE concat(concat_ws(' ', slice(toks, b*8+1, 8)), '.')
          |  END)""".stripMargin)))
      .select("doc_id", "n_words", "mwl_centi", "symbol_permille",
        "bullet_permille", "ellipsis_permille", "alpha_permille", "stop_hits",
        "dup_line_permille", "dup_line_char_permille", "top2gram",
        "top2gram_char_permille", "gopher_pass")
      .orderBy("doc_id")

  private val gopherRulesSql = {
    val synth =
      s"""list_transform(range(0, (len(toks) - 1) // 8 + 1), b ->
         |  CASE CAST((doc_id * 11 + b) % 5 AS INT)
         |    WHEN 0 THEN '- ' || array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') || '.'
         |    WHEN 1 THEN array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') || '...'
         |    WHEN 2 THEN '# ' || array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') ||
         |      ' 12345.'
         |    WHEN 3 THEN 'that line would have to be of use with the dup marker.'
         |    ELSE array_to_string(list_slice(toks, b*8+1, b*8+8), ' ') || '.'
         |  END)""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |li AS (SELECT doc_id, $synth AS lines FROM t),
       |f AS (SELECT doc_id, lines, array_to_string(lines, ' ') AS ftext FROM li),
       |w AS (SELECT doc_id, lines, ftext, string_split(ftext, ' ') AS words,
       |    CAST(len(string_split(ftext, ' ')) AS BIGINT) AS n_words,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(length(ftext) AS BIGINT) AS n_chars
       |  FROM f),
       |g AS (SELECT *, list_transform(range(1, len(words)),
       |    i -> words[i] || ' ' || words[i+1]) AS grams FROM w),
       |tp AS (SELECT *, list_min(list_transform(list_distinct(grams),
       |    x -> struct_pack(nc := -len(list_filter(grams, y -> y = x)), g := x)))
       |    AS top FROM g)
       |SELECT doc_id, n_words,
       |  CAST(100 * list_aggregate(list_transform(words, w -> length(w)), 'sum')
       |    // n_words AS BIGINT) AS mwl_centi,
       |  1000 * (len(list_filter(words, w -> w = '#'))
       |    + (length(ftext) - length(replace(ftext, '...', ''))) // 3)
       |    // n_words AS symbol_permille,
       |  1000 * len(list_filter(lines, l -> l LIKE '- %')) // n_lines
       |    AS bullet_permille,
       |  1000 * len(list_filter(lines, l -> l LIKE '%...')) // n_lines
       |    AS ellipsis_permille,
       |  1000 * len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
       |    // n_words AS alpha_permille,
       |  CAST(len(list_filter(
       |    ['the','be','to','of','and','that','have','with'],
       |    sw -> list_contains(words, sw))) AS BIGINT) AS stop_hits,
       |  1000 * (n_lines - len(list_distinct(lines))) // n_lines
       |    AS dup_line_permille,
       |  CAST(1000 * (list_aggregate(list_transform(lines, l -> length(l)), 'sum')
       |    - list_aggregate(list_transform(list_distinct(lines), l -> length(l)),
       |        'sum'))
       |    // list_aggregate(list_transform(lines, l -> length(l)), 'sum')
       |    AS BIGINT) AS dup_line_char_permille,
       |  top.g AS top2gram,
       |  1000 * (CAST(-top.nc AS BIGINT) * length(top.g)) // n_chars
       |    AS top2gram_char_permille,
       |  (n_words BETWEEN 50 AND 100000
       |    AND 100 * list_aggregate(list_transform(words, w -> length(w)), 'sum')
       |      // n_words BETWEEN 300 AND 1000
       |    AND 1000 * (len(list_filter(words, w -> w = '#'))
       |      + (length(ftext) - length(replace(ftext, '...', ''))) // 3)
       |      // n_words <= 100
       |    AND 1000 * len(list_filter(lines, l -> l LIKE '- %')) // n_lines <= 900
       |    AND 1000 * len(list_filter(lines, l -> l LIKE '%...')) // n_lines <= 300
       |    AND 1000 * len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
       |      // n_words >= 800
       |    AND len(list_filter(['the','be','to','of','and','that','have','with'],
       |      sw -> list_contains(words, sw))) >= 2
       |    AND 1000 * (n_lines - len(list_distinct(lines))) // n_lines <= 300
       |    AND 1000 * (list_aggregate(list_transform(lines, l -> length(l)), 'sum')
       |      - list_aggregate(list_transform(list_distinct(lines), l -> length(l)),
       |          'sum'))
       |      // list_aggregate(list_transform(lines, l -> length(l)), 'sum') <= 200
       |    AND 1000 * (CAST(-top.nc AS BIGINT) * length(top.g)) // n_chars <= 200)
       |    AS gopher_pass
       |FROM tp ORDER BY doc_id""".stripMargin
  }

  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tokens"))
      .withColumn("bucket", col("doc_id") % 16)
      .withColumn("cum", sum("n_tokens").over(w))
      // Two-column pack key: a fused `bucket * C + ordinal` id aliases
      // across buckets once any bucket accumulates C packs — at corpus
      // scale that silently merges unrelated packs. (bucket, pack_no)
      // cannot collide at any scale.
      .withColumn("pack_no", expr("(cum - n_tokens) div 512"))
      .groupBy("bucket", "pack_no")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"))
      .orderBy("bucket", "pack_no")
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    doc_id % 16 AS bucket
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens, bucket,
      |  CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
      |SELECT bucket, (cum - n_tokens) // 512 AS pack_no,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      |FROM c GROUP BY 1, 2 ORDER BY bucket, pack_no""".stripMargin

  /** BM25 keyword search top-10 (Robertson–Spärck Jones; k1=1.2, b=0.75) —
    * the retrieval-engine capability over the same inverted index the dedup
    * and tf-idf paths use. Per-(doc,term) scores come from exact-integer
    * tf/df/dl plus one shared avgdl double, so both engines evaluate
    * IDENTICAL double expression trees; the per-doc total is a fixed-order
    * sum of the (≤3) per-term columns — never a shuffle-ordered double
    * aggregation. Scores rounded to 6dp for cross-engine ln() ulp safety.
    * Plan: explode → (doc,term) count → broadcast df + one-row stats →
    * pivot → top-k; the one-row stats cross-join is the same scalar shape
    * as dx_tfidf/q22.
    */
  private val bm25Terms = Seq("hash", "join", "window")

  private def bm25Search(s: SparkSession, dir: String): DataFrame = {
    // Zero-allocation tokenless scan: with the query terms known up front,
    // per-doc tf comes from `regexp_count` with token-boundary lookarounds
    // and dl from counting whitespace runs — no token array materialises,
    // nothing explodes, no (doc, term) shuffle, no pivot. One projection
    // over the corpus (settled so the one-row stats aggregate and the
    // scoring scan share it), one broadcast stats row, one top-k.
    // The earlier split→filter→explode→pivot formulation spent its whole
    // budget (20 CPU-s at sf0.1) materialising every token as an object;
    // this plan computes identical integers, so the double expression
    // trees — kept in the oracle's exact shape and summed in fixed term
    // order — still match DuckDB bit-for-bit after 6dp rounding.
    val (counts, _) = graft.Ckpt.settle(Tables(s, dir, "documents")
      .select(
        (col("doc_id") +:
          (regexp_count(trim(col("text")), lit("\\s+")) + 1)
            .cast("long").as("dl") +:
          bm25Terms.zipWithIndex.map { case (t, i) =>
            regexp_count(col("text"), lit("(?<=^|\\s)" + t + "(?=\\s|$)"))
              .cast("long").as(s"tf$i")
          }): _*)).head
    val statAggs = sum("dl").as("sum_dl") +:
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = counts.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val withStats = counts
      .filter(bm25Terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    // per-term score, same expression tree as the oracle; an absent term
    // contributes exactly +0.0 (idf > 0, tf = 0 ⇒ s = 0), matching the
    // oracle's coalesce(s, 0.0) in the same fixed term order
    val total = bm25Terms.indices.map { i =>
      val idf = log((col("n_docs").cast("double") - col(s"df$i") + 0.5) /
        (col(s"df$i") + 0.5) + 1.0)
      idf * (col(s"tf$i") * 2.2) /
        (col(s"tf$i") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduceLeft(_ + _)
    withStats
      .withColumn("score", total)
      .orderBy(desc("score"), col("doc_id"))
      .limit(10)
      .select(col("doc_id"), round(col("score"), 6).as("score_r"))
  }

  private val bm25SearchSql = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    val totalExpr = bm25Terms.zipWithIndex
      .map { case (t, i) => s"coalesce(s$i, 0.0)" }.mkString(" + ")
    val pivots = bm25Terms.zipWithIndex
      .map { case (t, i) => s"max(CASE WHEN term = '$t' THEN s END) AS s$i" }
      .mkString(",\n  ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |  WHERE term IN ($terms)
       |  GROUP BY doc_id, dl, term),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |sc AS (
       |  SELECT doc_id, tf.term AS term,
       |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * CAST(2.2 AS DOUBLE))
       |      / (tf + CAST(1.2 AS DOUBLE)
       |           * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
       |  FROM tf, dfr, st WHERE tf.term = dfr.term),
       |p AS (SELECT doc_id, $pivots FROM sc GROUP BY doc_id)
       |SELECT doc_id, round($totalExpr, 6) AS score_r
       |FROM p ORDER BY $totalExpr DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Exact substring-duplicate pairs (the exact-match half of Lee et al.
    * 2021, arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better"): documents sharing at least one identical run of
    * `subK` consecutive tokens, with the count of distinct shared runs.
    * Same inverted-index shape as dx_dedup_ngram — (window, doc) postings,
    * postings-group pair expansion, never doc×doc — so the work is Σdf²
    * over window frequencies (max df 3 on this corpus). At corpus scale
    * the join key becomes `xxhash64(window)` (8 bytes) and ultra-common
    * boilerplate windows get a df cap, exactly as the ngram path documents;
    * kept as the raw string here so the DuckDB twin is exact.
    */
  private val subK = 6
  private def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .filter(expr(s"size(toks) >= $subK"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - $subK + 1),
           | i -> concat_ws(' ', slice(toks, i, $subK))))""".stripMargin)).as("win"))
      .groupBy("win")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      // native ordered-pair kernel: one compiled double loop per postings
      // group instead of an interpreted lambda per pair (guide: prefer
      // codegen-path expressions in the hot path); identical pair multiset
      .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.l").as("left_id"), col("p.r").as("right_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("left_id", "right_id")

  private val dedupSubstringSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - $subK + 2),
       |        i -> array_to_string(list_slice(toks, i, i + $subK - 1), ' '))) AS win
       |      FROM t WHERE len(toks) >= $subK)
       |SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS n_shared
       |FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY left_id, right_id""".stripMargin

  /** Suffix-array exact-substring dedup at the paper's span scale
    * ([[graft.operators.dedup.SuffixDedup]] — Lee et al. 2021
    * "ExactSubstr", arXiv:2107.06499 §4.1): one row per maximal span of
    * ≥ 50 consecutive tokens that occurs ≥ 2 times anywhere in the
    * corpus, with doc/offset provenance (1-based token positions). The
    * Spark side computes prefix-doubling suffix ranks to depth 32 and
    * groups duplicated 50-windows as overlapping rank pairs —
    * O(N·log 50), no window strings shipped; the DuckDB twin runs the
    * naive window-string comparison, so a bit-exact match proves the
    * rank machinery equals brute-force string equality.
    */
  private val suffixLen = 50

  // Session cache for the suffix-array WINDOW-KEY table — the
  // lrFitCached/builtIndexes serving-split economics applied to the
  // ExactSubstr family: the rank program (prefix-doubling to depth 32)
  // is the expensive shared artifact; the cut-all/keep-one policies are
  // cheap aggregates over it. dx_dedup_suffix (the build row) ALWAYS
  // recomputes the full program and refreshes the persisted table; the
  // census/scrub/keep rows serve from it (QueryDefs carry warm=true so
  // the bench artifact says so). Persisted as parquet keyed by sf dir —
  // NOT as cached blocks, which Verify's between-query BlockCleanup
  // would drop from under a later query. Deleted at JVM exit.
  private val suffixKeyTables =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private lazy val suffixCleanupHook: Unit = {
    sys.addShutdownHook {
      suffixKeyTables.values.foreach { p =>
        try {
          val parent = new org.apache.hadoop.fs.Path(p).getParent
          val fs = parent.getFileSystem(new org.apache.hadoop.conf.Configuration())
          fs.delete(parent, true); ()
        } catch {
          case scala.util.control.NonFatal(e) => graft.BlockCleanup.loud("temp dir cleanup", e)
        }
      }
    }
    ()
  }

  private def rebuildSuffixKeys(s: SparkSession, dir: String): String = {
    val path = suffixKeyTables.getOrElseUpdate(dir, {
      suffixCleanupHook
      // Scratch lives on the SAME FileSystem as the sf dir (ADVICE r17): a
      // driver-local java.nio temp dir is invisible to executors when the
      // default FS is an hdfs://-style shared store, so qualify a unique
      // scratch path against the sf dir's FS. On the local FS this
      // resolves to a java.io.tmpdir temp directory as before.
      val hconf = s.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
      val base =
        if (fs.getScheme == "file")
          new org.apache.hadoop.fs.Path(
            java.nio.file.Files.createTempDirectory("graft_sfxkeys").toString)
        else
          new org.apache.hadoop.fs.Path(
            "/tmp/graft_sfxkeys_" + java.util.UUID.randomUUID().toString.take(12))
      fs.mkdirs(base)
      fs.makeQualified(base).toString + "/keys"
    })
    graft.operators.dedup.SuffixDedup
      .windowKeys(Tables(s, dir, "documents"), "doc_id", "text", suffixLen)
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Build-if-absent (the ANN `ensure*Index` contract): serve rows pay
    * construction only when no build row ran yet in this session.
    * Reuse is gated on the committer's `_SUCCESS` marker, not a bare
    * directory-exists check — a partially-written table (writer died
    * mid-commit) has the directory but no marker, and must be rebuilt
    * (ADVICE r17).
    */
  private def ensureSuffixKeys(s: SparkSession, dir: String): DataFrame = {
    val path = suffixKeyTables.get(dir).filter { p =>
      val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
    }.getOrElse(rebuildSuffixKeys(s, dir))
    s.read.parquet(path)
  }

  /** The build row derives its result from the artifact it just wrote
    * (build → persist → read back), so its wall is construction + the
    * cheap span aggregate — never a silently-reused cache.
    */
  private def dedupSuffix(s: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SuffixDedup
      .spansFromKeys(s.read.parquet(rebuildSuffixKeys(s, dir)), suffixLen)
      .orderBy("doc_id", "span_start")

  private val dedupSuffixSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) - $suffixLen + 2)) AS pos, toks
       |      FROM t WHERE len(toks) >= $suffixLen),
       |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |        array_to_string(list_slice(toks, pos, pos + $suffixLen - 1), ' ') AS win
       |      FROM p),
       |d AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
       |s AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
       |g AS (SELECT doc_id, pos,
       |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $suffixLen
       |             THEN 1 ELSE 0 END AS brk
       |      FROM s),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM g)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $suffixLen - 1 AS BIGINT) AS span_end,
       |  CAST(max(pos) + $suffixLen - min(pos) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_windows
       |FROM i GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** The CUT half of ExactSubstr: the deduplicated corpus itself. Every
    * token covered by a duplicated ≥50-token span is removed (the
    * aggressive cut-all-occurrences variant — Lee et al.'s tool keeps one
    * occurrence per duplicate cluster; the cut-all form is what C4-style
    * pipelines ship when provenance-free, and is the variant our merged
    * span set defines exactly), and the retained text is proven
    * byte-identical across engines by md5 over the surviving tokens in
    * order. Map-shaped after one doc←spans join: spans per doc are few,
    * so the coverage test is a per-row HOF over the collected span list —
    * no token-level join, nothing corpus-wide beyond the span program.
    */
  private def scrubBySpans(docs: DataFrame, spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        """filter(transform(toks, (t, i) -> named_struct('t', t, 'p', CAST(i + 1 AS BIGINT))),
          | x -> spans IS NULL OR NOT exists(spans,
          |   sp -> x.p >= sp.span_start AND x.p <= sp.span_end))""".stripMargin))
      .select(col("doc_id"),
        expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(kept) AS BIGINT)").as("n_kept"),
        expr("md5(concat_ws(' ', transform(kept, x -> x.t)))").as("kept_md5"))
      .orderBy("doc_id")
  }

  private def dedupSuffixScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    scrubBySpans(docs, graft.operators.dedup.SuffixDedup
      .spansFromKeys(ensureSuffixKeys(s, dir), suffixLen))
  }

  /** The KEEP-ONE scrub — Lee et al.'s released-tool policy (cut every
    * duplicate occurrence but leave one copy in the corpus): each
    * duplicated 50-window class keeps its lexicographically-first
    * (doc, pos) occurrence; a position is cut iff some NON-canonical
    * duplicated window covers it
    * ([[graft.operators.dedup.SuffixDedup.duplicateSpansKeepOne]]). The
    * DuckDB twin replays the canonical choice over naive window strings
    * (row_number by (doc, pos) per window content), so the bit-exact
    * match proves the rank-class canonicalisation ≡ string-level
    * canonicalisation. Same shape as the cut-all scrub plus one
    * struct-min per window class.
    */
  private def dedupSuffixKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    scrubBySpans(docs, graft.operators.dedup.SuffixDedup
      .spansKeepOneFromKeys(ensureSuffixKeys(s, dir), suffixLen))
  }

  private val dedupSuffixKeepSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) - $suffixLen + 2)) AS pos, toks
       |      FROM t WHERE len(toks) >= $suffixLen),
       |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |        array_to_string(list_slice(toks, pos, pos + $suffixLen - 1), ' ') AS win
       |      FROM p),
       |c AS (SELECT doc_id, pos,
       |        row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
       |        count(*) OVER (PARTITION BY win) AS n
       |      FROM w),
       |s AS (SELECT doc_id, pos FROM c WHERE n >= 2 AND rn > 1),
       |g AS (SELECT doc_id, pos,
       |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $suffixLen
       |             THEN 1 ELSE 0 END AS brk
       |      FROM s),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM g),
       |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |         CAST(max(pos) + $suffixLen - 1 AS BIGINT) AS span_end
       |       FROM i GROUP BY doc_id, island),
       |e AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tp, toks FROM t),
       |k AS (SELECT e.doc_id, e.tp, e.toks[e.tp] AS tok,
       |        NOT EXISTS (SELECT 1 FROM sp
       |          WHERE sp.doc_id = e.doc_id
       |            AND e.tp BETWEEN sp.span_start AND sp.span_end) AS keep
       |      FROM e)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(tok, ' ' ORDER BY tp) FILTER (keep), '')) AS kept_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val dedupSuffixScrubSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) - $suffixLen + 2)) AS pos, toks
       |      FROM t WHERE len(toks) >= $suffixLen),
       |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |        array_to_string(list_slice(toks, pos, pos + $suffixLen - 1), ' ') AS win
       |      FROM p),
       |d AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
       |s AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
       |g AS (SELECT doc_id, pos,
       |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $suffixLen
       |             THEN 1 ELSE 0 END AS brk
       |      FROM s),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM g),
       |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |         CAST(max(pos) + $suffixLen - 1 AS BIGINT) AS span_end
       |       FROM i GROUP BY doc_id, island),
       |e AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tp, toks FROM t),
       |k AS (SELECT e.doc_id, e.tp, e.toks[e.tp] AS tok,
       |        NOT EXISTS (SELECT 1 FROM sp
       |          WHERE sp.doc_id = e.doc_id
       |            AND e.tp BETWEEN sp.span_start AND sp.span_end) AS keep
       |      FROM e)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(tok, ' ' ORDER BY tp) FILTER (keep), '')) AS kept_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Map-side window-key extraction shared by the substring
    * decontamination guard's batch and streaming paths: every distinct
    * 50-token window of a doc, keyed by md5 of the window string. md5
    * keeps both engines bit-exact (DuckDB has no xxhash64); a 100 TB run
    * swaps in `xxhash64` for an 8-byte key, exactly as the ngram-dedup
    * path documents.
    */
  private[graft] def substrWindows(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .filter(size(col("toks")) >= suffixLen)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - $suffixLen + 1),
           | i -> md5(concat_ws(' ', slice(toks, i, $suffixLen)))))""".stripMargin))
        .as("wk"))

  /** Cross-corpus ExactSubstr DECONTAMINATION guard — the train-test
    * overlap scrub of Lee et al. 2021 §6.2 (and the eval-integrity pass
    * every pretraining pipeline runs): flag every TRAINING document that
    * shares a ≥50-token verbatim window with any benchmark/eval document
    * (here the `doc_id % 10 = 8` slice), with shared-window and eval-doc
    * counts as the removal evidence. The 3-gram `dx_decontaminate` is
    * the recall-oriented fuzzy guard; this is the paper's exact long-span
    * form.
    *
    * Scale shape: both sides are map-side window explodes; the eval side
    * (benchmarks are tiny vs the corpus) broadcasts, so the guard is a
    * broadcast semi-join per training window — no shuffle of the corpus
    * at all; the per-doc census is one doc-keyed aggregate.
    */
  /** The flagging core shared by the batch query, its gate and the
    * streaming guard ([[graft.streaming.Streams.substrGuardStream]]):
    * broadcast semi-join of a doc set's windows against the eval-window
    * index, per-doc removal evidence out.
    */
  private[graft] def substrFlag(train: DataFrame, evalW: DataFrame): DataFrame =
    substrWindows(train)
      .join(broadcast(evalW), "wk")
      .groupBy("doc_id")
      .agg(countDistinct(col("wk")).as("n_shared_windows"),
        countDistinct(col("eval_id")).as("n_eval_docs"))

  /** Eval-window index over the benchmark slice — computed once, tiny. */
  private[graft] def substrEvalWindows(docs: DataFrame): DataFrame =
    substrWindows(docs.filter(col("doc_id") % 10 === 8))
      .select(col("wk"), col("doc_id").as("eval_id")).distinct()

  private def substrDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    substrFlag(docs.filter(col("doc_id") % 10 =!= 8),
        substrEvalWindows(docs))
      .orderBy("doc_id")
  }

  private val substrDecontaminateSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - $suffixLen + 2),
       |        i -> md5(array_to_string(list_slice(toks, i, i + $suffixLen - 1), ' ')))) AS wk
       |      FROM t WHERE len(toks) >= $suffixLen),
       |ev AS (SELECT DISTINCT wk, doc_id AS eval_id FROM w WHERE doc_id % 10 = 8)
       |SELECT w.doc_id,
       |  CAST(count(DISTINCT w.wk) AS BIGINT) AS n_shared_windows,
       |  CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
       |FROM w JOIN ev USING (wk)
       |WHERE w.doc_id % 10 <> 8
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  /** Streaming twin of the guard (`Streams.substrGuardStream`'s batch
    * gate, the `st_vec_serve_gate` recipe): the eval-window index is
    * static state computed once; the training stream is flagged per
    * trigger by the same broadcast semi-join — keyed by doc_id, zero
    * cross-batch state, so micro-batch union ≡ one batch call
    * BIT-IDENTICALLY. StreamingSpec drives it through a MemoryStream
    * with planted contaminated/clean docs.
    */
  private def substrGuardGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val Seq((evalW, _), (train, _)) = graft.Ckpt.settle(substrEvalWindows(docs),
      docs.filter(col("doc_id") % 10 =!= 8).select("doc_id", "text"))
    val (full, nFull) = graft.Ckpt.settle(substrFlag(train, evalW)).head
    val micro = (0 until 3)
      .map(i => substrFlag(train.filter(col("doc_id") % 3 === i), evalW))
      .reduce(_ unionByName _)
    val equal = Gate.all("st_substr_guard_gate")("micro_equals_batch" -> Gate.sameRows(micro, full))
    Seq((nFull, equal)).toDF("n_flagged", "batch_equal_ok")
  }

  private val substrGuardGateSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |w AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - $suffixLen + 2),
       |        i -> md5(array_to_string(list_slice(toks, i, i + $suffixLen - 1), ' ')))) AS wk
       |      FROM t WHERE len(toks) >= $suffixLen),
       |ev AS (SELECT DISTINCT wk FROM w WHERE doc_id % 10 = 8)
       |SELECT CAST(count(DISTINCT w.doc_id) AS BIGINT) AS n_flagged,
       |  CAST(1 AS BOOLEAN) AS batch_equal_ok
       |FROM w JOIN ev USING (wk)
       |WHERE w.doc_id % 10 <> 8""".stripMargin

  /** Corpus census over the suffix-dedup spans — the removal-accounting
    * half of ExactSubstr (how much duplicated token mass a ≥50-token cut
    * pass would drop, over how many documents), integer-exact.
    */
  private def dedupSuffixCensus(s: SparkSession, dir: String): DataFrame = {
    val spans = graft.operators.dedup.SuffixDedup
      .spansFromKeys(ensureSuffixKeys(s, dir), suffixLen)
    spans.agg(
      count(lit(1)).as("n_spans"),
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("n_tokens")).as("dup_tokens"),
      max(col("n_tokens")).as("max_span"))
  }

  private val dedupSuffixCensusSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) - $suffixLen + 2)) AS pos, toks
       |      FROM t WHERE len(toks) >= $suffixLen),
       |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |        array_to_string(list_slice(toks, pos, pos + $suffixLen - 1), ' ') AS win
       |      FROM p),
       |d AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
       |s AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (win)),
       |g AS (SELECT doc_id, pos,
       |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $suffixLen
       |             THEN 1 ELSE 0 END AS brk
       |      FROM s),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM g),
       |sp AS (SELECT doc_id,
       |         CAST(max(pos) + $suffixLen - min(pos) AS BIGINT) AS n_tokens
       |       FROM i GROUP BY doc_id, island)
       |SELECT CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS dup_tokens,
       |  CAST(max(n_tokens) AS BIGINT) AS max_span
       |FROM sp""".stripMargin

  /** Content-defined chunking census (`functions/CdcChunks` — the
    * Gear/FastCDC shape): cut positions from the native rolling-gear
    * kernel, then a chunk-hash dedup census — per document, the chunk
    * count, min/max chunk length, an md5 of the cut vector (proves
    * byte-identical boundaries across engines), and how many of the
    * document's chunks also occur (by md5 of chunk text) in at least one
    * OTHER document. The census is the scale path for shift-robust
    * substring dedup: chunking is map-only, the dedup is ONE groupBy on
    * an 8–16-byte chunk hash — no pair expansion, no fixed-stride
    * alignment sensitivity (contrast dx_dedup_substring's token windows).
    * The DuckDB twin replays the gear hash via its closed form
    * (windowed sum mod 2^28 — see the kernel's Scaladoc) and the cut scan
    * as a saturating list_reduce jump, so boundaries are oracle-exact.
    */
  private val (cdcMin, cdcDiv, cdcMax) = (12, 32, 96)
  private def cdcChunk(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("cuts",
        graft.functions.CdcChunks(col("text"), cdcMin, cdcDiv, cdcMax))
      .withColumn("lens", expr(
        "transform(cuts, (c, i) -> c - CASE WHEN i = 0 THEN 0L ELSE element_at(cuts, i) END)"))
    val ex = base.select(col("doc_id"), explode(expr(
      """transform(cuts, (c, i) -> md5(substring(text,
        |  CAST(CASE WHEN i = 0 THEN 1L ELSE element_at(cuts, i) + 1L END AS INT),
        |  CAST(c - CASE WHEN i = 0 THEN 0L ELSE element_at(cuts, i) END AS INT))))"""
        .stripMargin)).as("chash"))
    val shared = ex.groupBy("chash")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = ex.join(shared, "chash").groupBy("doc_id")
      .agg(sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    base
      .select(col("doc_id"),
        expr("CAST(size(cuts) AS BIGINT)").as("n_chunks"),
        expr("array_min(lens)").as("min_chunk"),
        expr("array_max(lens)").as("max_chunk"),
        md5(expr("concat_ws(',', transform(cuts, c -> CAST(c AS STRING)))"))
          .as("cuts_md5"))
      .join(perDoc, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** CDC oracle chain through `ch` (doc_id, cut, clen, chash),
    * parameterized on the doc source so the CDC-dedup twin runs the same
    * hash/scan over the seeded corpus.
    */
  private def cdcCtes(srcSql: String): String = {
    // closed form of the rolling gear hash at position t (1-indexed):
    // only the last 28 terms survive mod 2^28, so h_t is a windowed sum —
    // per-position, no sequential state (terms < 2^55, sum < 2^60: safe)
    val hsExpr =
      s"""list_transform(range(1, n + 1), t ->
         |  CAST(list_aggregate(list_transform(range(greatest(1, t - 27), t + 1),
         |    j -> ((ord(substr(text, j, 1)) * 2654435761) % 268435456)
         |           * (CAST(1 AS BIGINT) << CAST(t - j AS INT))), 'sum')
         |    % 268435456 AS BIGINT))""".stripMargin
    // saturating jump scan: from the last cut p, the next cut is the first
    // position in [p+min, p+max] whose hash is a div-multiple, else the
    // forced p+max, capped at n. `nxt` precomputes that jump for EVERY
    // start position in list_transform context; the sequential walk itself
    // is a RECURSIVE CTE (0 → nxt[1] → …, strictly increasing, stops at
    // n) — deliberately not a list_reduce: DuckDB 1.0 mis-binds nested
    // lambdas inside list_reduce across vector rows and segfaults on
    // list-typed accumulators, while recursive CTEs are plain relational
    // iteration. Chunk lengths then fall out of a lag() window.
    val nxtExpr =
      s"""list_transform(range(0, n), p ->
         |  least(n, coalesce(
         |    list_min(list_filter(ms,
         |      t -> t >= p + $cdcMin AND t <= p + $cdcMax)),
         |    p + $cdcMax)))""".stripMargin
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, text, length(text) AS n FROM ($srcSql)),
       |h AS (SELECT doc_id, n, $hsExpr AS hs FROM d),
       |m AS (SELECT doc_id, n,
       |  list_filter(range(1, n + 1), t -> hs[t] % $cdcDiv = 0) AS ms FROM h),
       |j AS (SELECT doc_id, n, $nxtExpr AS nxt FROM m),
       |r AS (SELECT doc_id, CAST(0 AS BIGINT) AS p FROM j
       |  UNION ALL
       |  SELECT r.doc_id, j.nxt[r.p + 1] AS p
       |  FROM r JOIN j ON r.doc_id = j.doc_id WHERE r.p < j.n),
       |cr AS (SELECT doc_id, p AS cut,
       |    lag(p, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY p) AS prev
       |  FROM r WHERE p > 0),
       |ch AS (SELECT cr.doc_id, cut, cut - prev AS clen,
       |    md5(substr(d.text, CAST(prev + 1 AS INT), CAST(cut - prev AS INT))) AS chash
       |  FROM cr JOIN d ON cr.doc_id = d.doc_id)""".stripMargin
  }

  private val cdcChunkSql =
    cdcCtes("SELECT doc_id, text FROM documents") +
    s""",
       |sh AS (SELECT chash, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
       |pd AS (SELECT ch.doc_id,
       |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM ch JOIN sh USING (chash) GROUP BY 1),
       |agg AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(min(clen) AS BIGINT) AS min_chunk,
       |    CAST(max(clen) AS BIGINT) AS max_chunk,
       |    md5(string_agg(CAST(cut AS VARCHAR), ',' ORDER BY cut)) AS cuts_md5
       |  FROM ch GROUP BY 1)
       |SELECT agg.doc_id, n_chunks, min_chunk, max_chunk, cuts_md5, n_shared
       |FROM agg JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** CDC-chunk substring dedup pairs — the operator the dx_cdc_chunk
    * census exists to feed (the way real substring dedup runs at scale:
    * LBFS/Venti-style content-defined chunking, then docs sharing chunk
    * hashes pair up): per doc the DISTINCT chunk-hash set, a per-chunk
    * group with a 2..64 occupancy band (singleton chunks pair nothing;
    * hot chunks — boilerplate — carry no dedup evidence, the same cap as
    * dx_containment's postings), then each group's ordered pairs with
    * shared-chunk counts and shared BYTES (chunk lengths are content-
    * determined, so the byte sum is well-defined). Runs over the
    * mutated-dup seeded corpus (withDupes): a near-dup copy shares every
    * chunk except where the tail edit lands — shift-robust by CDC
    * construction, no alignment sensitivity. No pair ever materialises
    * outside a shared-chunk group: Σ over groups of d(d−1)/2, bounded by
    * the occupancy cap — the 100 TB shape.
    */
  private def dedupCdc(s: SparkSession, dir: String): DataFrame = {
    val ex = withDupes(s, dir, exact = false)
      .select(col("doc_id"), col("text"))
      .withColumn("cuts",
        graft.functions.CdcChunks(col("text"), cdcMin, cdcDiv, cdcMax))
      .select(col("doc_id"), explode(expr(
        """transform(cuts, (c, i) -> struct(
          |  md5(substring(text,
          |    CAST(CASE WHEN i = 0 THEN 1L ELSE element_at(cuts, i) + 1L END AS INT),
          |    CAST(c - CASE WHEN i = 0 THEN 0L ELSE element_at(cuts, i) END AS INT)))
          |    AS chash,
          |  c - CASE WHEN i = 0 THEN 0L ELSE element_at(cuts, i) END AS clen))"""
          .stripMargin)).as("ch"))
      .select(col("doc_id"), col("ch.chash").as("chash"), col("ch.clen").as("clen"))
      .distinct()
    ex.groupBy("chash", "clen")
      .agg(sort_array(collect_list("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, 64))
      .select(col("clen"),
        explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.l").as("left_id"), col("p.r").as("right_id"))
      .agg(count(lit(1)).as("shared_chunks"), sum("clen").as("shared_bytes"))
      .filter(col("shared_chunks") >= 2)
      .orderBy("left_id", "right_id")
  }

  private lazy val dedupCdcSql =
    cdcCtes(dupesSql(exact = false)) +
    s""",
       |dch AS (SELECT DISTINCT doc_id, chash, clen FROM ch),
       |g AS (SELECT chash, clen FROM dch GROUP BY 1, 2
       |      HAVING count(*) BETWEEN 2 AND 64)
       |SELECT left_id, right_id, shared_chunks, shared_bytes FROM (
       |  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       |    CAST(count(*) AS BIGINT) AS shared_chunks,
       |    CAST(sum(a.clen) AS BIGINT) AS shared_bytes
       |  FROM dch a
       |  JOIN g ON g.chash = a.chash AND g.clen = a.clen
       |  JOIN dch b ON a.chash = b.chash AND a.clen = b.clen
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |WHERE shared_chunks >= 2 ORDER BY left_id, right_id""".stripMargin

  /** Overlapping sliding-window chunking — the context-window preparation
    * step between cleaning and packing: split each document into
    * `chunkW`-token windows advancing by `chunkS` (stride < window ⇒
    * adjacent chunks overlap, the standard long-document recipe). Pure
    * per-row explode: no shuffle until the final order-by, so it streams
    * map-side at any corpus size. Chunk content is carried as an md5
    * digest so the row stays narrow while still proving byte-identical
    * chunk text across engines.
    */
  private val (chunkW, chunkS) = (32, 16)
  private def chunk(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_chunks",
        expr(s"IF(n <= $chunkW, 1L, 1L + (n - $chunkW + $chunkS - 1) DIV $chunkS)"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_no"))
      .withColumn("chunk_tokens",
        expr(s"least(CAST($chunkW AS BIGINT), n - chunk_no * $chunkS)"))
      .withColumn("chunk_hash", expr(
        s"md5(concat_ws(' ', slice(toks, CAST(chunk_no * $chunkS + 1 AS INT), CAST(chunk_tokens AS INT))))"))
      .select("doc_id", "chunk_no", "chunk_tokens", "chunk_hash")
      .orderBy("doc_id", "chunk_no")

  private val chunkSql =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |m AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, toks, n,
       |        CASE WHEN n <= $chunkW THEN 1 ELSE 1 + (n - $chunkW + $chunkS - 1) // $chunkS END AS n_chunks
       |      FROM m),
       |e AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_no FROM c)
       |SELECT doc_id, chunk_no,
       |  least($chunkW, n - chunk_no * $chunkS) AS chunk_tokens,
       |  md5(array_to_string(list_slice(toks, chunk_no * $chunkS + 1,
       |    chunk_no * $chunkS + least($chunkW, n - chunk_no * $chunkS)), ' ')) AS chunk_hash
       |FROM e ORDER BY doc_id, chunk_no""".stripMargin

  /** Temperature-scaled domain mixing (the multilingual data-balancing
    * recipe of mT5/XLM-R: sample language l with probability ∝ n_l^α,
    * α = 0.5, so low-resource languages are up-weighted relative to their
    * corpus share). All allocation math is exact integers — weights are
    * `floor(sqrt(n_l)·1e6)` (sqrt is IEEE-correctly-rounded in both
    * engines, the scaled floor kills last-ulp drift and makes the integer
    * sum order-independent) and quotas are `T·w_l div Σw` — so both
    * engines compute identical quotas. Selection is the deterministic
    * md5 pseudo-order; per-language take runs on the bounded-heap TopK
    * operator (k = T caps every heap), NOT a global sort: at corpus scale
    * each executor keeps T rows per language and only winners shuffle.
    */
  private def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val target = 200
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    val weights = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_l"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1e6) AS BIGINT)"))
    // Σw as a scalar aggregate broadcast back — not `sum(w) OVER ()`, whose
    // single-partition WindowExec warning would mask real regressions in the
    // bench log (and single-partitions a genuinely large group-count table)
    val quotas = weights
      .crossJoin(broadcast(weights.agg(sum("w").as("w_sum"))))
      .withColumn("quota", expr(s"$target * w DIV w_sum"))
      .select("lang", "n_l", "quota")
    val ranked = graft.plans.TopK.perKey(docs, Seq("lang"), "h", k = target,
      descending = false, tieCols = Seq("doc_id"), rankName = "rn")
    ranked.join(broadcast(quotas), "lang")
      .filter(col("rn") <= col("quota"))
      .select("lang", "doc_id", "rn", "quota")
      .orderBy("lang", "rn")
  }

  private val sampleTemperatureSql =
    """WITH q AS (
      |  SELECT lang, count(*) AS n_l,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w
      |  FROM documents GROUP BY lang),
      |a AS (SELECT lang, n_l, CAST(200 * w // sum(w) OVER () AS BIGINT) AS quota FROM q),
      |r AS (SELECT doc_id, lang,
      |    CAST(row_number() OVER (
      |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |SELECT r.lang AS lang, r.doc_id, r.rn, a.quota
      |FROM r JOIN a ON r.lang = a.lang WHERE r.rn <= a.quota
      |ORDER BY r.lang, r.rn""".stripMargin

  /** Per-source mixture weights for training-corpus composition — the
    * static data-mixing step (the hand-tuned ancestor of DoReMi, Xie et
    * al. 2023: choose domain weights, then sample each domain at
    * weight/share). Target here is the UNIFORM mix across sources; the
    * emitted `weight_ppm` is the upsampling factor `target_share /
    * actual_token_share` in parts-per-million, computed entirely in
    * BIGINT floor arithmetic (`1e6·total DIV (n_sources·tok_s)`) so both
    * engines agree bit-for-bit. A sampler multiplies each source's
    * selection rate by `weight_ppm/1e6` to hit the target mix.
    *
    * Scale shape: one token-count aggregation per source (partial aggs —
    * the corpus never shuffles raw text), a one-row scalar aggregate
    * (total + source count) crossed back into the tiny per-source table
    * (the justified scalar-agg BNLJ shape), and a sort of `n_sources`
    * rows.
    */
  private def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables(s, dir, "documents")
      .select(col("source"),
        expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
    val totals = perSource.agg(
      sum("tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    // ppm numerators in DECIMAL(38,0): `1e6·total_tokens` overflows a long
    // once the corpus passes ~9.2e12 tokens (≈ 35 TB of text) — the
    // 128-bit product with an integral DIV floors identically to DuckDB's
    // HUGEINT `//` at any corpus size (the q11 discipline).
    perSource.crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr(
        "CAST((CAST(tokens AS DECIMAL(38,0)) * 1000000) DIV total_tokens AS BIGINT)"))
      .withColumn("weight_ppm", expr(
        "CAST((CAST(total_tokens AS DECIMAL(38,0)) * 1000000) DIV (n_sources * tokens) AS BIGINT)"))
      .select("source", "n_docs", "tokens", "share_ppm", "weight_ppm")
      .orderBy("source")
  }

  private val mixtureWeightsSql =
    """WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
      |        CAST(count(*) AS BIGINT) AS n_sources FROM s)
      |SELECT source, n_docs, tokens,
      |  CAST(CAST(tokens AS HUGEINT) * 1000000 // total_tokens AS BIGINT) AS share_ppm,
      |  CAST(CAST(total_tokens AS HUGEINT) * 1000000 // (n_sources * tokens) AS BIGINT) AS weight_ppm
      |FROM s, t ORDER BY source""".stripMargin

  /** Fixed-weight linear quality classifier — the shape of the fastText /
    * logistic-regression corpus filters every shipped training set runs
    * (quality features → w·f ≥ margin keep decision). Weights are pinned
    * and all arithmetic is exact-integer (features in per-mille, floor
    * division), so the decision boundary is bit-identical cross-engine —
    * no sigmoid, the monotone margin test decides identically. Pure
    * per-row codegen'd scan: the 100 TB cost is one pass, no shuffle.
    */
  private def classifierFilter(s: SparkSession, dir: String): DataFrame = {
    val en = langProfiles.toMap.apply("en")
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_nonspace", expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)"))
      .withColumn("f_stop", expr(s"(1000 * ${sparkLangScore(en)}) div n_tokens"))
      .withColumn("f_len", expr("least(1000L, 10 * n_tokens)"))
      .withColumn("f_mtl", expr("(10 * n_nonspace) div n_tokens"))
      .withColumn("score", expr("greatest(0L, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) div 100"))
      .withColumn("keep", col("score") >= 500)
      .select("doc_id", "f_stop", "f_len", "f_mtl", "score", "keep")
      .orderBy("doc_id")
  }

  private val classifierFilterSql = {
    val en = langProfiles.toMap.apply("en")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace
       |  FROM documents),
       |f AS (SELECT doc_id,
       |    CAST((1000 * ${duckLangScore(en)}) // len(toks) AS BIGINT) AS f_stop,
       |    CAST(least(1000, 10 * len(toks)) AS BIGINT) AS f_len,
       |    CAST((10 * n_nonspace) // len(toks) AS BIGINT) AS f_mtl
       |  FROM t)
       |SELECT doc_id, f_stop, f_len, f_mtl,
       |  CAST(greatest(0, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) // 100 AS BIGINT) AS score,
       |  (greatest(0, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) // 100 >= 500) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Rare-token document scoring — the integer-exact stand-in for the
    * perplexity/surprisal filters (CCNet-style) that rank documents by how
    * unusual their vocabulary is against the corpus: per document, the
    * mean corpus document-frequency of its tokens. The df table is the
    * inverted index aggregated to vocabulary size; re-joining it to the
    * token stream is a posting-list equi-join on the token (the shuffle
    * key a 100 TB vocabulary join wants), then one per-doc aggregate. All
    * integers — a float log-prob sum would not be cross-engine exact.
    */
  private def tokenRarity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("tok"))
    val dfreq = toks.groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"))
    toks.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("sum_df"))
      .withColumn("mean_df_milli", expr("(1000 * sum_df) div n_tokens"))
      .orderBy("doc_id")
  }

  private val tokenRaritySql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(df) AS BIGINT) AS sum_df,
      |  CAST((1000 * sum(df)) // count(*) AS BIGINT) AS mean_df_milli
      |FROM t JOIN df USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet-style LM quality filter (Wenzek et al. 2019): score each
    * document's per-token surprisal under a corpus-trained bigram model
    * with stupid backoff (Brants et al. 2007 — no discounting, a fixed
    * α = 0.4 backoff to the unigram, the web-scale recipe). Everything is
    * integer-exact across engines: probabilities are parts-per-million by
    * integer division, and the per-token surprisal is whole BITS via exact
    * floor-log2 — `length(bin(x)) - 1`, the same bit-length primitive in
    * Spark and DuckDB — so no libm log whose last ulp differs.
    *
    * Scale shape (the CCNet pipeline's): token stream → two count
    * aggregates (unigram, bigram — the distributed LM "training"), then
    * posting-list equi-joins back onto the stream (shuffle key = token,
    * exactly the 100 TB vocabulary-join shape) and one per-doc aggregate.
    * The only scalar (total token count N) rides a broadcast one-row
    * aggregate. Nothing quadratic, nothing driver-side.
    *
    * Scale bound: the ppm products (`1e6 · count`) stay in BIGINT up to
    * ~9.2e12 corpus tokens (tens of TB of text); past that BOTH engines
    * fail loudly (ANSI Spark / DuckDB overflow) rather than silently
    * diverging — lower the ppm scale or move the product to DECIMAL when
    * training on a larger corpus.
    */
  private def perplexity(s: SparkSession, dir: String): DataFrame =
    perplexityStats(s, dir).orderBy("doc_id")

  /** Per-doc (n_tokens, nll_bits, mean_millibits) under the stupid-backoff
    * bigram LM — shared by [[perplexity]] and [[perplexityBuckets]].
    */
  private def perplexityStats(s: SparkSession, dir: String): DataFrame = {
    // feeds LM training AND scoring
    val (stream, _) = graft.Ckpt.settle(Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks)),
          |  i -> struct(IF(i = 1, NULL, element_at(toks, i - 1)) AS prev,
          |              element_at(toks, i) AS tok))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.tok").as("tok"))).head
    // joined twice (token + context)
    val (uni, _) = graft.Ckpt.settle(stream.groupBy("tok").agg(count(lit(1)).as("c_uni"))).head
    val total = uni.agg(sum("c_uni").as("n_corpus"))
    val bi = stream.filter(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("c_bi"))
    stream
      .join(uni, "tok")
      .join(uni.select(col("tok").as("prev"), col("c_uni").as("c_prev")),
        Seq("prev"), "left")
      .join(bi, Seq("prev", "tok"), "left")
      .crossJoin(broadcast(total))
      // p in ppm ∈ [1, 1e6]; c_bi ≤ c_prev and c_uni ≤ N keep it ≤ 1e6
      .withColumn("p_ppm", expr(
        """CASE WHEN prev IS NULL THEN greatest(1L, (1000000 * c_uni) div n_corpus)
          |     WHEN c_bi IS NOT NULL THEN greatest(1L, (1000000 * c_bi) div c_prev)
          |     ELSE greatest(1L, (400000 * c_uni) div n_corpus) END""".stripMargin))
      // surprisal in whole bits: floor_log2(1e6)=19, minus exact floor-log2
      .withColumn("bits", expr("20L - length(bin(p_ppm))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("nll_bits"))
      .withColumn("mean_millibits", expr("(1000 * nll_bits) div n_tokens"))
  }

  /** The CCNet selection step on top of [[perplexity]] (Wenzek et al. 2019
    * §4.4): split the corpus into head / middle / tail by per-doc LM
    * surprisal terciles — head (lowest perplexity) is the cleanest training
    * slice, tail the noisiest. Thresholds come from the mergeable GK
    * sketch sized exact at oracle scale (the qPercentiles contract: rank
    * error < 1 ⇒ bit-identical to DuckDB's percentile_disc; at 100 TB a
    * caller pins accuracy to a rank budget instead) and ride a broadcast
    * one-row aggregate into a value comparison — ties land in the same
    * bucket in both engines, no global sort or rank anywhere. Output is
    * the per-bucket census a mixing pipeline consumes.
    */
  private def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    // feeds the threshold sketch AND the tagging
    val (stats, _) = graft.Ckpt.settle(perplexityStats(s, dir)).head
    val n = Tables(s, dir, "documents").count()
    val acc = math.min(math.max(100000L, 2L * n), Int.MaxValue.toLong)
    val thr = stats.agg(
      expr(s"approx_percentile(mean_millibits, 0.34, $acc)").as("p34"),
      expr(s"approx_percentile(mean_millibits, 0.67, $acc)").as("p67"))
    stats.crossJoin(broadcast(thr))
      .withColumn("bucket", expr(
        """CASE WHEN mean_millibits <= p34 THEN 'head'
          |     WHEN mean_millibits <= p67 THEN 'middle'
          |     ELSE 'tail' END""".stripMargin))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("mean_millibits").as("min_mmb"),
        max("mean_millibits").as("max_mmb"))
      .orderBy("bucket")
  }

  // lazy: declared above perplexityCtes in file order
  private lazy val perplexityBucketsSql =
    s"""$perplexityCtes,
       |stats AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST((1000 * sum(20 - length(bin(p_ppm)))) // count(*) AS BIGINT)
       |      AS mean_millibits
       |  FROM scored GROUP BY doc_id),
       |thr AS (
       |  SELECT percentile_disc(0.34) WITHIN GROUP (ORDER BY mean_millibits) AS p34,
       |    percentile_disc(0.67) WITHIN GROUP (ORDER BY mean_millibits) AS p67
       |  FROM stats)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  min(mean_millibits) AS min_mmb, max(mean_millibits) AS max_mmb
       |FROM (
       |  SELECT n_tokens, mean_millibits,
       |    CASE WHEN mean_millibits <= p34 THEN 'head'
       |         WHEN mean_millibits <= p67 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM stats CROSS JOIN thr)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Shared WITH-clause prefix: the token stream, LM counts and per-token
    * scored probabilities — everything through the `scored` CTE.
    */
  private val perplexityCtes =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |st AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks) + 1),
      |      i -> CASE WHEN i = 1 THEN NULL ELSE toks[i - 1] END)) AS prev,
      |    unnest(list_transform(range(1, len(toks) + 1), i -> toks[i])) AS tok
      |  FROM d),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_uni FROM st GROUP BY tok),
      |tot AS (SELECT CAST(sum(c_uni) AS BIGINT) AS n_corpus FROM uni),
      |bi AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c_bi
      |       FROM st WHERE prev IS NOT NULL GROUP BY prev, tok),
      |scored AS (
      |  SELECT st.doc_id,
      |    CASE WHEN st.prev IS NULL
      |           THEN greatest(1, (1000000 * u.c_uni) // n_corpus)
      |         WHEN b.c_bi IS NOT NULL
      |           THEN greatest(1, (1000000 * b.c_bi) // up.c_uni)
      |         ELSE greatest(1, (400000 * u.c_uni) // n_corpus) END AS p_ppm
      |  FROM st
      |  JOIN uni u ON u.tok = st.tok
      |  LEFT JOIN uni up ON up.tok = st.prev
      |  LEFT JOIN bi b ON b.prev = st.prev AND b.tok = st.tok
      |  CROSS JOIN tot)""".stripMargin

  private val perplexitySql =
    s"""$perplexityCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(20 - length(bin(p_ppm))) AS BIGINT) AS nll_bits,
       |  CAST((1000 * sum(20 - length(bin(p_ppm)))) // count(*) AS BIGINT)
       |    AS mean_millibits
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic corpus sharding — the write-side layout step that turns
    * a curated corpus into N equal-ish training shards with a
    * content-derived, order-free assignment (first md5 nibble → 16
    * shards). The assignment is a pure per-row expression (no global
    * sort, no ntile single-partition funnel — the scale trap), and the
    * per-shard census is one groupBy over 16 groups. At 100 TB the same
    * expression feeds `DataFrameWriter.partitionBy` for the physical
    * write; the census output is what's oracle-compared.
    */
  private def shard(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        col("doc_id"), col("n_chars"), col("lang"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("shard")

  private val shardSql =
    """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  /** Corpus SNAPSHOT DIFF — the lakehouse version-comparison census
    * (Delta/Iceberg "what changed between snapshot v1 and v2", the audit
    * a curation pipeline runs after every refresh): v2 is derived from
    * the documents table by deterministic mutations (every 17th doc
    * dropped, every 13th surviving doc rewritten, every 19th≡3 doc
    * re-appended under a fresh id), then both versions are reduced to
    * (id, content-hash, chars) and full-outer-joined to classify each id
    * as added / removed / changed / unchanged.
    *
    * Scale shape: content is hashed BEFORE the join, so only (id, 32-byte
    * hash, long) rows ever shuffle — never document bodies; the diff is
    * one full-outer equi-join on id and the census one 4-group aggregate.
    * At 100 TB both sides would be bucketed by id and the join
    * shuffle-free; the hash-first projection is what makes the compare
    * byte-cheap either way.
    */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
    val base = Tables(s, dir, "documents").filter(col("doc_id") % 17 =!= 0)
    // Fresh ids for the re-appended docs start ABOVE max(doc_id) (max_id
    // + doc_id + 1, replayed identically by the oracle) — a fixed
    // +1000000 offset collides with real v1 ids on any corpus whose ids
    // reach 1e6, fanning out the full-outer join below with duplicate v2
    // keys in BOTH engines (an oracle-invisible defect; r16 advice).
    val mx = broadcast(Tables(s, dir, "documents").agg(max("doc_id").as("max_id")))
    val v2full = base
      .withColumn("text",
        when(col("doc_id") % 13 === 0, upper(col("text"))).otherwise(col("text")))
      .select(col("doc_id"), col("text"), col("n_chars"))
      .unionAll(base.filter(col("doc_id") % 19 === 3).crossJoin(mx)
        .select(col("max_id") + col("doc_id") + 1L, col("text"), col("n_chars")))
    val v2 = v2full.select(col("doc_id"), md5(col("text")).as("h"), col("n_chars"))
    v1.as("a").join(v2.as("b"), Seq("doc_id"), "full_outer")
      .select(
        when(col("a.h").isNull, lit("added"))
          .when(col("b.h").isNull, lit("removed"))
          .when(col("a.h") =!= col("b.h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("b.n_chars"), col("a.n_chars")).as("nc"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"))
      .orderBy("status")
  }

  private val snapshotDiffSql =
    """WITH v1 AS (
      |  SELECT doc_id, md5(text) AS h, n_chars FROM documents),
      |base AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      |v2 AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS h,
      |    n_chars
      |  FROM base
      |  UNION ALL
      |  SELECT (SELECT max(doc_id) FROM documents) + doc_id + 1, md5(text), n_chars
      |  FROM base WHERE doc_id % 19 = 3)
      |SELECT CASE WHEN a.h IS NULL THEN 'added'
      |            WHEN b.h IS NULL THEN 'removed'
      |            WHEN a.h <> b.h THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      |  count(*) AS n_docs,
      |  CAST(sum(COALESCE(b.n_chars, a.n_chars)) AS BIGINT) AS sum_chars
      |FROM v1 a FULL OUTER JOIN v2 b USING (doc_id)
      |GROUP BY status ORDER BY status""".stripMargin

  /** Driver-gated quantile-sketch accuracy: `approx_percentile` (the
    * mergeable sketch that replaces the exact sort-aggregate at corpus
    * scale) must satisfy its rank contract — the CDF at the approximate
    * p-quantile lands within p ± 0.05 (the sketch guarantees ±1/accuracy;
    * the slack absorbs duplicate-value CDF jumps). Sketch internals are
    * not oracle-comparable across engines; the rank contract is checked
    * Spark-side against the exact CDF and the oracle pins the row count
    * from the data plus the flag.
    */
  private def percentileGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").select(graft.Num.cents(col("value")).as("cents"))
    val approx = ev.agg(
      count(lit(1)).as("n"),
      expr("approx_percentile(cents, 0.5, 1000)").as("p50"),
      expr("approx_percentile(cents, 0.9, 1000)").as("p90")).head()
    val n = approx.getLong(0)
    val ranks = ev.agg(
      sum(when(col("cents") <= approx.getLong(1), 1L).otherwise(0L)).as("r50"),
      sum(when(col("cents") <= approx.getLong(2), 1L).otherwise(0L)).as("r90")).head()
    val ok = Gate.all("dx_percentile_gate")(
      "p50_rank_within_0.05" -> (math.abs(ranks.getLong(0).toDouble / n - 0.5) <= 0.05),
      "p90_rank_within_0.05" -> (math.abs(ranks.getLong(1).toDouble / n - 0.9) <= 0.05))
    Seq((n, ok)).toDF("n_rows", "rank_ok")
  }

  private val percentileGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(1 AS BOOLEAN) AS rank_ok
      |FROM events""".stripMargin

  /** Grouped variant of the quantile-sketch gate: `approx_percentile`'s
    * rank contract must hold inside EVERY group (per event type), not
    * just globally — the per-key profile is how the sketch is actually
    * used in reports. One pass computes all groups' sketches; the exact
    * CDF check joins the (tiny) approx row back per group.
    */
  private def percentileGroupGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ev, _) = graft.Ckpt.settle(Tables(s, dir, "events")
      .select(col("event_type"), graft.Num.cents(col("value")).as("cents"))).head
    val approx = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), expr("approx_percentile(cents, 0.5, 1000)").as("p50"))
    val checked = ev.join(approx, "event_type")
      .groupBy("event_type")
      .agg(
        first("n").as("n"),
        sum(when(col("cents") <= col("p50"), 1L).otherwise(0L)).as("r50"))
      .withColumn("off", abs(col("r50").cast("double") / col("n") - 0.5))
      .agg(count(lit(1)).as("n_groups"), max("off").as("worst"))
      .head()
    Seq((checked.getLong(0), Gate.all("dx_percentile_group_gate")(
        "every_group_p50_within_0.05" -> (checked.getDouble(1) <= 0.05))))
      .toDF("n_groups", "rank_ok")
  }

  private val percentileGroupGateSql =
    """SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_groups,
      |  CAST(1 AS BOOLEAN) AS rank_ok
      |FROM events""".stripMargin

  /** Flagship corpus-curation pipeline — the data-side twin of
    * `mb_pipeline_e2e`, composing the shipped-corpus steps end to end:
    * PII scrub → exact dedup (keep lowest id) → classifier quality filter
    * → per-language cap in deterministic pseudo-random order. Every stage
    * is one of the already-oracle-matched operators, so the whole
    * composition is SQL-expressible and bit-exact cross-engine. Plan
    * shape at scale: one per-row scrub scan, one content-hash groupBy,
    * one semi-join back, one per-row score scan, and the bounded-heap
    * TopK cap (partitions·langs·30 exchange rows) — no global sort.
    */
  private def corpusE2e(s: SparkSession, dir: String): DataFrame = {
    val en = langProfiles.toMap.apply("en")
    val scrubbed = withDupes(s, dir, exact = true)
      .withColumn("seeded",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact: user"),
            col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("seeded"), emailRe, "<EMAIL>").as("text"))
    val keep = scrubbed.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val kept = scrubbed.join(keep, Seq("doc_id"), "left_semi")
    val scored = kept
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_nonspace", expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)"))
      .withColumn("f_stop", expr(s"(1000 * ${sparkLangScore(en)}) div n_tokens"))
      .withColumn("f_len", expr("least(1000L, 10 * n_tokens)"))
      .withColumn("f_mtl", expr("(10 * n_nonspace) div n_tokens"))
      .withColumn("score", expr("greatest(0L, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) div 100"))
      .filter(col("score") >= 500)
      .select(col("doc_id"), col("lang"), col("score"),
        md5(col("doc_id").cast("string")).as("h"))
    graft.plans.TopK.perKey(scored, Seq("lang"), "h", k = 30,
      descending = false, tieCols = Seq("doc_id"), rankName = "rn")
      .select(col("lang"), col("rn"), col("doc_id"), col("score"))
      .orderBy("lang", "rn")
  }

  /** Per-stage attrition waterfall of the curation pipeline — the
    * data-card/observability census every production corpus build ships
    * next to its output (which stage dropped what, so a collapsed corpus
    * is diagnosable without re-running anything): raw → exact-dedup →
    * quality filter → per-language cap, each row reporting in/out/dropped
    * and the drop rate in exact permille. Stage predicates are the very
    * expressions `dx_corpus_e2e` runs. The cap stage needs NO ranking
    * pass for a census — survivors per language are `min(30, n_pass)`,
    * so the whole report is two aggregates and a handful of scalars
    * (counts collect driver-side; at 100 TB these are the same
    * partial-agg scans, and nothing materialises per row).
    */
  private def funnelReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val en = langProfiles.toMap.apply("en")
    // three aggregates off one frame
    val (scrubbed, nRaw) = graft.Ckpt.settle(withDupes(s, dir, exact = true)
      .withColumn("seeded",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact: user"),
            col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("seeded"), emailRe, "<EMAIL>").as("text"))).head
    val keep = scrubbed.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val passPerLang = scrubbed.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_nonspace", expr("CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)"))
      .withColumn("f_stop", expr(s"(1000 * ${sparkLangScore(en)}) div n_tokens"))
      .withColumn("f_len", expr("least(1000L, 10 * n_tokens)"))
      .withColumn("f_mtl", expr("(10 * n_nonspace) div n_tokens"))
      .withColumn("score", expr("greatest(0L, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) div 100"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(when(col("score") >= 500, 1L).otherwise(0L)).as("n_pass"))
      .agg(sum("n_kept").as("n_dedup"), sum("n_pass").as("n_quality"),
        sum(least(lit(30L), col("n_pass"))).as("n_final"))
      .head()
    val (nDedup, nQuality, nFinal) =
      (passPerLang.getLong(0), passPerLang.getLong(1), passPerLang.getLong(2))
    Seq(
      ("1_dedup_exact", nRaw, nDedup),
      ("2_quality_filter", nDedup, nQuality),
      ("3_lang_cap", nQuality, nFinal))
      .toDF("stage", "n_in", "n_out")
      .select(col("stage"), col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("dropped"),
        expr("CAST((1000 * (n_in - n_out)) DIV n_in AS BIGINT)").as("drop_permille"))
      .orderBy("stage")
  }

  private val funnelReportSql = {
    val en = langProfiles.toMap.apply("en")
    s"""WITH docs2 AS (${dupesSql(exact = true)}),
       |seeded AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 5 = 0
       |      THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      ELSE text END AS t
       |  FROM docs2),
       |scrubbed AS (
       |  SELECT doc_id, lang, regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS text
       |  FROM seeded),
       |keep AS (SELECT min(doc_id) AS doc_id FROM scrubbed GROUP BY md5(text)),
       |feat AS (
       |  SELECT s.doc_id, s.lang, string_split_regex(trim(s.text), '\\s+') AS toks,
       |    CAST(length(regexp_replace(s.text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace
       |  FROM scrubbed s JOIN keep USING (doc_id)),
       |f AS (SELECT doc_id, lang,
       |    CAST((1000 * ${duckLangScore(en)}) // len(toks) AS BIGINT) AS f_stop,
       |    CAST(least(1000, 10 * len(toks)) AS BIGINT) AS f_len,
       |    CAST((10 * n_nonspace) // len(toks) AS BIGINT) AS f_mtl
       |  FROM feat),
       |q AS (SELECT doc_id, lang,
       |    CAST(greatest(0, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) // 100 AS BIGINT) AS score
       |  FROM f),
       |pl AS (
       |  SELECT lang, count(*) AS n_kept,
       |    count(*) FILTER (score >= 500) AS n_pass
       |  FROM q GROUP BY lang),
       |tot AS (
       |  SELECT (SELECT count(*) FROM scrubbed) AS n_raw,
       |    CAST(sum(n_kept) AS BIGINT) AS n_dedup,
       |    CAST(sum(n_pass) AS BIGINT) AS n_quality,
       |    CAST(sum(least(30, n_pass)) AS BIGINT) AS n_final
       |  FROM pl),
       |w AS (
       |  SELECT '1_dedup_exact' AS stage, n_raw AS n_in, n_dedup AS n_out FROM tot
       |  UNION ALL
       |  SELECT '2_quality_filter', n_dedup, n_quality FROM tot
       |  UNION ALL
       |  SELECT '3_lang_cap', n_quality, n_final FROM tot)
       |SELECT stage, n_in, n_out, n_in - n_out AS dropped,
       |  CAST((1000 * (n_in - n_out)) // n_in AS BIGINT) AS drop_permille
       |FROM w ORDER BY stage""".stripMargin
  }

  private val corpusE2eSql = {
    val en = langProfiles.toMap.apply("en")
    s"""WITH docs2 AS (${dupesSql(exact = true)}),
       |seeded AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 5 = 0
       |      THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      ELSE text END AS t
       |  FROM docs2),
       |scrubbed AS (
       |  SELECT doc_id, lang,
       |    regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS text
       |  FROM seeded),
       |keep AS (SELECT min(doc_id) AS doc_id FROM scrubbed GROUP BY md5(text)),
       |kept AS (SELECT s.* FROM scrubbed s JOIN keep USING (doc_id)),
       |feat AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace
       |  FROM kept),
       |f AS (SELECT doc_id, lang,
       |    CAST((1000 * ${duckLangScore(en)}) // len(toks) AS BIGINT) AS f_stop,
       |    CAST(least(1000, 10 * len(toks)) AS BIGINT) AS f_len,
       |    CAST((10 * n_nonspace) // len(toks) AS BIGINT) AS f_mtl
       |  FROM feat),
       |q AS (
       |  SELECT doc_id, lang,
       |    CAST(greatest(0, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) // 100 AS BIGINT) AS score
       |  FROM f),
       |r AS (
       |  SELECT lang, doc_id, score,
       |    CAST(row_number() OVER (
       |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
       |  FROM q WHERE score >= 500)
       |SELECT lang, rn, doc_id, score FROM r WHERE rn <= 30
       |ORDER BY lang, rn""".stripMargin
  }

  /** The Z-order layout's core — the native `interleave_bits` Morton
    * expression (`functions.InterleaveBits`, whole-stage codegen) —
    * oracle-matched bit for bit: the oracle rebuilds each code with a
    * 32-term shift/mask sum (disjoint bit positions, so sum ≡ bit-or).
    * The full `Layout.zorder` pass (approxQuantile rank buckets → range
    * partition) stays spec-gated in LayoutSpec because sketch-derived cut
    * points aren't cross-engine comparable; the bit interleave that gives
    * the layout its pruning power is.
    */
  private def zorderKey(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        graft.functions.ZOrder.interleave(col("c_custkey") % 1024, col("c_nationkey"))
          .as("zkey"))
      .orderBy("c_custkey")

  private val zorderKeySql =
    """SELECT c_custkey,
      |  CAST(
      |    list_sum(list_transform(range(0, 32), i ->
      |      (((c_custkey % 1024) >> i) & 1) << (2 * i))) +
      |    list_sum(list_transform(range(0, 32), i ->
      |      ((CAST(c_nationkey AS BIGINT) >> i) & 1) << (2 * i + 1)))
      |  AS BIGINT) AS zkey
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Data-quality expectations over the corpus — the pre-ship validation
    * gate (`operators/Expectations`): completeness, uniqueness, value
    * ranges, set membership and cross-column consistency, ALL evaluated
    * in one aggregate pass (single scan however many checks are
    * declared), reported as exact per-mille metrics with acceptance
    * bands.
    */
  private def expectations(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val docs = Tables(s, dir, "documents")
    evaluate(docs, Seq(
      Check("text_complete", completeness(docs, "text"), 1000, 1000),
      Check("doc_id_unique", uniqueness(docs, "doc_id"), 1000, 1000),
      Check("n_chars_in_range", compliance("n_chars BETWEEN 1 AND 10000"), 1000, 1000),
      Check("lang_in_set", compliance("lang IN ('de','en','es','fr','zh')"), 1000, 1000),
      Check("n_chars_consistent", compliance("length(text) = n_chars"), 1000, 1000),
      Check("english_share", compliance("lang = 'en'"), 200, 600)))
      .orderBy("ord")
  }

  private val expectationsSql = {
    val metrics = Seq(
      ("text_complete", "(1000 * count(text)) // count(*)", 1000, 1000),
      ("doc_id_unique", "(1000 * count(DISTINCT doc_id)) // count(*)", 1000, 1000),
      ("n_chars_in_range", "(1000 * count(*) FILTER (n_chars BETWEEN 1 AND 10000)) // count(*)", 1000, 1000),
      ("lang_in_set", "(1000 * count(*) FILTER (lang IN ('de','en','es','fr','zh'))) // count(*)", 1000, 1000),
      ("n_chars_consistent", "(1000 * count(*) FILTER (length(text) = n_chars)) // count(*)", 1000, 1000),
      ("english_share", "(1000 * count(*) FILTER (lang = 'en')) // count(*)", 200, 600))
    val aggs = metrics.zipWithIndex
      .map { case ((_, m, _, _), i) => s"CAST($m AS BIGINT) AS m$i" }.mkString(",\n  ")
    val rows = metrics.zipWithIndex.map { case ((name, _, lo, hi), i) =>
      s"""SELECT CAST($i AS BIGINT) AS ord, '$name' AS "check", m$i AS metric,
         |  CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi,
         |  (m$i >= $lo AND m$i <= $hi) AS ok FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT
       |  $aggs
       |FROM documents)
       |$rows
       |ORDER BY ord""".stripMargin
  }

  /** Per-language quality report — the grouped expectations variant: the
    * same single-scan evaluation keyed by language, reporting each
    * group's completeness, volume and length profile with acceptance
    * bands. |groups|·|checks| report rows from one partial-agg shuffle.
    */
  private def expectationsByLang(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val docs = Tables(s, dir, "documents")
    evaluateGrouped(docs, Seq("lang"), Seq(
      Check("text_complete", completeness(docs, "text"), 1000, 1000),
      Check("min_volume", expr("count(*)"), 5, Long.MaxValue),
      Check("mean_chars_milli", expr("(1000 * sum(n_chars)) div count(*)"), 100000, 500000)))
      .orderBy("lang", "ord")
  }

  private val expectationsByLangSql = {
    val metrics = Seq(
      ("text_complete", "(1000 * count(text)) // count(*)", 1000L, 1000L),
      ("min_volume", "count(*)", 5L, Long.MaxValue),
      ("mean_chars_milli", "(1000 * sum(n_chars)) // count(*)", 100000L, 500000L))
    val aggs = metrics.zipWithIndex
      .map { case ((_, m, _, _), i) => s"CAST($m AS BIGINT) AS m$i" }.mkString(",\n  ")
    val rows = metrics.zipWithIndex.map { case ((name, _, lo, hi), i) =>
      s"""SELECT lang, CAST($i AS BIGINT) AS ord, '$name' AS "check", m$i AS metric,
         |  CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi,
         |  (m$i >= $lo AND m$i <= $hi) AS ok FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT lang,
       |  $aggs
       |FROM documents GROUP BY lang)
       |$rows
       |ORDER BY lang, ord""".stripMargin
  }

  /** Referential-integrity expectation across tables: every lineitem must
    * reference an existing order (the Deequ `isContainedIn`/foreign-key
    * check). One anti-join counts the orphans; the report row carries the
    * orphan count with a [0,0] band. At scale this is a broadcast or
    * shuffle equi-join — never a per-row lookup.
    */
  private def expectationsRi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"))
    val orders = Tables(s, dir, "orders").select(col("o_orderkey"))
    val orphans = li.join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    Seq(("lineitem_orderkey_fk", orphans, orphans == 0L))
      .toDF("check", "n_orphans", "ok")
  }

  private val expectationsRiSql =
    """SELECT 'lineitem_orderkey_fk' AS "check",
      |  CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_orphans,
      |  (count(*) FILTER (o_orderkey IS NULL) = 0) AS ok
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dx_corpus_e2e", corpusE2e, Some(corpusE2eSql)),
    QueryDef("dx_expectations", expectations, Some(expectationsSql)),
    QueryDef("dx_expectations_by_lang", expectationsByLang, Some(expectationsByLangSql)),
    QueryDef("dx_expectations_ri", expectationsRi, Some(expectationsRiSql)),
    QueryDef("dx_zorder_key", zorderKey, Some(zorderKeySql)),
    QueryDef("dx_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("dx_dedup_paragraph", dedupParagraph, Some(dedupParagraphSql)),
    QueryDef("dx_dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    QueryDef("dx_dedup_suffix", dedupSuffix, Some(dedupSuffixSql)),
    QueryDef("dx_dedup_suffix_census", dedupSuffixCensus, Some(dedupSuffixCensusSql),
      warm = true),
    QueryDef("dx_dedup_suffix_scrub", dedupSuffixScrub, Some(dedupSuffixScrubSql),
      warm = true),
    QueryDef("dx_dedup_suffix_keep", dedupSuffixKeep, Some(dedupSuffixKeepSql),
      warm = true),
    QueryDef("dx_substr_decontaminate", substrDecontaminate,
      Some(substrDecontaminateSql)),
    QueryDef("st_substr_guard_gate", substrGuardGate, Some(substrGuardGateSql)),
    QueryDef("dx_cdc_chunk", cdcChunk, Some(cdcChunkSql)),
    QueryDef("dx_dedup_cdc", dedupCdc, Some(dedupCdcSql)),
    QueryDef("dx_chunk", chunk, Some(chunkSql)),
    QueryDef("dx_sample_temperature", sampleTemperature, Some(sampleTemperatureSql)),
    QueryDef("dx_dedup_url", dedupUrl, Some(dedupUrlSql)),
    QueryDef("dx_cardinality_gate", cardinalityGate, Some(cardinalityGateSql)),
    QueryDef("dx_hll_merge_gate", hllMergeGate, Some(hllMergeGateSql)),
    QueryDef("dx_cms_gate", cmsGate, Some(cmsGateSql)),
    QueryDef("dx_tfidf", tfidf, Some(tfidfSql)),
    QueryDef("dx_dedup_minhash", dedupMinhash, None),
    QueryDef("dx_dedup_minhash_gate", dedupMinhashGate, Some(dedupMinhashGateSql)),
    QueryDef("dx_minhash_est_gate", minhashEstGate, Some(minhashEstGateSql)),
    QueryDef("dx_minhash_bbit_gate", minhashBbitGate, Some(minhashBbitGateSql)),
    QueryDef("dx_winnow_pairs", winnowPairs, Some(winnowPairsSql)),
    QueryDef("dx_dedup_simhash", dedupSimhash, None),
    QueryDef("dx_dedup_simhash_gate", dedupSimhashGate, Some(dedupSimhashGateSql)),
    QueryDef("dx_dedup_phash", dedupPhash, None),
    QueryDef("dx_dedup_phash_gate", dedupPhashGate, Some(dedupPhashGateSql)),
    QueryDef("dx_dedup_vhash", dedupVhash, None),
    QueryDef("dx_dedup_vhash_gate", dedupVhashGate, Some(dedupVhashGateSql)),
    QueryDef("dx_dedup_ahash", dedupAhash, None),
    QueryDef("dx_dedup_ahash_gate", dedupAhashGate, Some(dedupAhashGateSql)),
    QueryDef("st_phash_gate", stPhashGate, Some(stPhashGateSql)),
    QueryDef("dx_dedup_vhash_offset", dedupVhashOffset, None),
    QueryDef("dx_dedup_vhash_offset_gate", dedupVhashOffsetGate,
      Some(dedupVhashOffsetGateSql)),
    QueryDef("dx_dedup_ngram", dedupNgram, Some(dedupNgramSql)),
    QueryDef("dx_dedup_jaccard_prefix", dedupJaccardPrefix, Some(dedupJaccardPrefixSql)),
    QueryDef("dx_dedup_resolve", dedupResolve, Some(dedupResolveSql)),
    QueryDef("dx_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QueryDef("dx_sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    QueryDef("dx_mixture_weights", mixtureWeights, Some(mixtureWeightsSql)),
    QueryDef("dx_dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    QueryDef("dx_dedup_embed_lsh", dedupEmbedLsh, None),
    QueryDef("dx_dedup_embed_lsh_gate", dedupEmbedLshGate, Some(dedupEmbedLshGateSql)),
    QueryDef("dx_lang_id", langId, Some(langIdSql)),
    QueryDef("dx_lang_id_trained", langIdTrained, Some(langIdTrainedSql)),
    QueryDef("dx_lang_id_trained_gate", langIdTrainedGate,
      Some(langIdTrainedGateSql)),
    QueryDef("dx_quality", quality, Some(qualitySql)),
    QueryDef("dx_quality_rules", qualityRules, Some(qualityRulesSql)),
    QueryDef("dx_boilerplate", boilerplate, Some(boilerplateSql)),
    QueryDef("dx_classifier_filter", classifierFilter, Some(classifierFilterSql)),
    QueryDef("dx_token_rarity", tokenRarity, Some(tokenRaritySql)),
    QueryDef("dx_perplexity", perplexity, Some(perplexitySql)),
    QueryDef("dx_perplexity_buckets", perplexityBuckets, Some(perplexityBucketsSql)),
    QueryDef("dx_shard", shard, Some(shardSql)),
    QueryDef("dx_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("dx_percentile_gate", percentileGate, Some(percentileGateSql)),
    QueryDef("dx_percentile_group_gate", percentileGroupGate, Some(percentileGroupGateSql)),
    QueryDef("dx_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("dx_ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    QueryDef("dx_funnel_report", funnelReport, Some(funnelReportSql)),
    QueryDef("dx_embedding_qc", embeddingQc, Some(embeddingQcSql)),
    QueryDef("dx_kanonymity", kanonymity, Some(kanonymitySql)),
    QueryDef("dx_decontaminate_bloom_gate", decontaminateBloomGate,
      Some(decontaminateBloomGateSql)),
    QueryDef("dx_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("dx_heavy_hitters_gate", heavyHittersGate, Some(heavyHittersGateSql)),
    QueryDef("dx_embed_kmeans", embedKmeans, None),
    QueryDef("dx_embed_kmeans_gate", embedKmeansGate, Some(embedKmeansGateSql)),
    QueryDef("dx_dedup_semantic", dedupSemantic, None),
    QueryDef("dx_dedup_semantic_gate", dedupSemanticGate, Some(dedupSemanticGateSql)),
    QueryDef("dx_embed_pca", embedPca, None),
    QueryDef("dx_embed_rp", embedRp, None),
    // n_pairs mirrors the Spark side's d2o > 0 exclusion (r15 ADVICE: a
    // duplicate embedding among vec_id < 50 would otherwise diverge the
    // engines on the pair count) — a pair is counted iff the vectors
    // differ in at least one coordinate, which is exactly d2o > 0 for
    // NaN-free floats
    QueryDef("dx_embed_rp_gate", embedRpGate, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(1 AS BOOLEAN) AS band_ok, CAST(1 AS BOOLEAN) AS mean_ok
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id AND b.vec_id < 50
        |WHERE a.embedding <> b.embedding""".stripMargin)),
    QueryDef("dx_embed_pca_gate", embedPcaGate, Some(embedPcaGateSql)),
    QueryDef("dx_html_extract", htmlExtract, Some(htmlExtractSql)),
    QueryDef("dx_c4_clean", c4Clean, Some(c4CleanSql)),
    QueryDef("dx_gopher_rules", gopherRules, Some(gopherRulesSql)),
    QueryDef("dx_pack_sequences", packSequences, Some(packSequencesSql)),
    QueryDef("dx_bm25_search", bm25Search, Some(bm25SearchSql)),
    QueryDef("dx_tokens", tokens, Some(tokensSql)),
    QueryDef("dx_fingerprint", fingerprint, Some(fingerprintSql)),
    QueryDef("dx_scrub", scrub, Some(scrubSql)),
    QueryDef("dx_repetition", repetition, Some(repetitionSql)),
    QueryDef("dx_corpus_stats", corpusStats, Some(corpusStatsSql)),
    QueryDef("dx_length_histogram", lengthHistogram, Some(lengthHistogramSql)),
    QueryDef("dx_multimodal_meta", multimodalMeta, Some(multimodalMetaSql)),
    QueryDef("dx_multimodal_frames", multimodalFrames, Some(multimodalFramesSql)),
    QueryDef("dx_multimodal_resize_gate", multimodalResizeGate,
      Some(multimodalResizeGateSql)),
    QueryDef("dx_multimodal_audio_gate", multimodalAudioGate,
      Some(multimodalAudioGateSql)),
    QueryDef("dx_multimodal_frames_gate", multimodalFramesGate,
      Some(multimodalFramesGateSql)),
    QueryDef("dx_multimodal_video_gate", multimodalVideoGate,
      Some(multimodalVideoGateSql)))
}
