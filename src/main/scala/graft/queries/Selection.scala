package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.operators.text.{Unigram, WordPiece}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection operators for training-corpus curation (SURVEY.md §2,
  * "Training-data pipeline extensions", r11 additions): importance-resampling
  * selection (DSIR), distributed BPE tokenizer-merge training, and the
  * per-benchmark contamination report.
  *
  * All three follow the repo's exactness discipline: every decision value is
  * exact integer arithmetic (ppm probabilities, floor-log2 bits via
  * `length(bin(x))`, floor division), so the DuckDB oracle matches bit-for-bit.
  */
object Selection {

  /** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score each raw document by how target-like its
    * hashed-feature distribution is, then keep the top slice.
    *
    * Shape (the paper's recipe, integer-exact):
    *   - features: tokens hashed into 256 buckets (first md5 byte — the
    *     hashed n-gram generative model of DSIR §3.2);
    *   - fit: bucket unigram distributions for the target slice
    *     (`doc_id % 37 = 0`, the in-domain exemplar set) and the raw rest —
    *     ONE partial-agg shuffle over ≤256 groups, conditional counts for
    *     both sides in the same pass;
    *   - log importance weight per bucket: floor-log2(p_target_ppm) −
    *     floor-log2(p_raw_ppm) via `length(bin(x))` (no libm, cross-engine
    *     exact; +1-clamped ppm is add-one smoothing);
    *   - per-doc score: sum of bucket weights over token occurrences —
    *     the 256-row weight table broadcasts, so scoring is a map-side
    *     join + one per-doc aggregate;
    *   - selection: top-100 by (score DESC, doc_id) as a bounded top-k
    *     (`TakeOrdered`), never a global sort.
    *
    * At 100 TB: the fit is a 256-group aggregate (constant-size state), the
    * weight table is bytes to broadcast, and scoring touches each token once
    * with zero extra shuffles beyond the per-doc combine.
    */
  private def dsir(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // feeds the fit AND the scoring pass
    val (toks, _) = graft.Ckpt.settle(docs
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("tok"))
      .withColumn("bucket", expr("CAST(conv(substring(md5(tok), 1, 2), 16, 10) AS BIGINT)"))).head
    val bucketCounts = toks
      .groupBy("bucket")
      .agg(
        sum(when(col("doc_id") % 37 === 0, 1L).otherwise(0L)).as("c_t"),
        sum(when(col("doc_id") % 37 =!= 0, 1L).otherwise(0L)).as("c_r"))
    val totals = bucketCounts.agg(
      sum("c_t").as("n_t"), sum("c_r").as("n_r"))
    val weights = bucketCounts.crossJoin(broadcast(totals))
      .withColumn("w_bits", expr(
        """CAST(length(bin(greatest(1L, (1000000 * c_t) div n_t))) AS BIGINT)
          | - CAST(length(bin(greatest(1L, (1000000 * c_r) div n_r))) AS BIGINT)""".stripMargin))
      .select("bucket", "w_bits")
    val scored = toks.filter(col("doc_id") % 37 =!= 0)
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("w_bits").as("score"))
    scored
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "n_toks", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(100)
  }

  private val dsirSql =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |bt AS (
      |  SELECT doc_id,
      |    CAST((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS BIGINT)
      |      AS bucket
      |  FROM tk),
      |bc AS (
      |  SELECT bucket,
      |    CAST(count(*) FILTER (doc_id % 37 = 0) AS BIGINT) AS c_t,
      |    CAST(count(*) FILTER (doc_id % 37 <> 0) AS BIGINT) AS c_r
      |  FROM bt GROUP BY bucket),
      |tot AS (
      |  SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_r) AS BIGINT) AS n_r
      |  FROM bc),
      |w AS (
      |  SELECT bucket,
      |    CAST(length(bin(greatest(1, (1000000 * c_t) // n_t))) AS BIGINT)
      |    - CAST(length(bin(greatest(1, (1000000 * c_r) // n_r))) AS BIGINT)
      |      AS w_bits
      |  FROM bc CROSS JOIN tot),
      |sc AS (
      |  SELECT bt.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |    CAST(sum(w_bits) AS BIGINT) AS score
      |  FROM bt JOIN w USING (bucket)
      |  WHERE doc_id % 37 <> 0
      |  GROUP BY bt.doc_id)
      |SELECT d.doc_id, d.lang, n_toks, score
      |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
      |ORDER BY score DESC, d.doc_id LIMIT 100""".stripMargin

  /** Distributed BPE tokenizer-merge training (Sennrich et al. 2016,
    * arXiv:1508.07909) — the way real trainers run it (HuggingFace
    * tokenizers, SentencePiece BPE): the corpus collapses to a word-frequency
    * table first (the ONLY corpus-scale aggregate, one shuffle), and every
    * merge iteration operates on the distinct-word VOCABULARY — bounded and
    * tiny relative to 100 TB of text.
    *
    * Each word is kept as a delimiter-padded symbol string
    * (`" c1  c2  ...  </w> "`, double space between symbols, single space at
    * the borders) so a merge is ONE codegen'd literal `replace`:
    * `" a  b "` → `" ab "` — string replace's leftmost, non-overlapping,
    * no-rescan semantics are exactly BPE's merge-application semantics
    * (in `a a a a` the rule `a+a` yields `aa aa`, never `aaa a`). Pair
    * counting per iteration is a split + posexplode + 1 aggregate over the
    * vocabulary; the argmax pair (count DESC, then lexicographic) is a
    * driver-side head() of a bounded limit-1 sort.
    *
    * Output: the learned merge table (iter, lhs, rhs, merged, pair_count) —
    * the oracle replays the identical algorithm as unrolled SQL CTEs.
    */
  private val bpeMerges = 8

  /** Runs the merge-learning loop; returns the merge table rows and the
    * final vocabulary frame (`w`, post-merge `sym`, `cnt`) for the encode
    * side.
    */
  private def bpeLearn(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val wf = Tables(s, dir, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    bpeLearnFrom(wf, bpeMerges)
  }

  /** The merge loop over an arbitrary (w, cnt) word-frequency frame —
    * exposed for the property spec, which drives it with adversarial
    * vocabularies (multi-char symbols whose concatenations collide as
    * substrings) to pin the padded-string replace formulation against a
    * driver-side reference BPE.
    */
  private[graft] def bpeLearnFrom(wf0: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    // the corpus never rescans across iterations
    val (wf1, _) = graft.Ckpt.settle(wf0
      .withColumn("sym", expr(
        """concat(' ', concat_ws('  ',
          |  concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)),
          |         array('</w>'))), ' ')""".stripMargin))
      .select("w", "sym", "cnt")).head
    // Size-derived partitioning (the lrTrain device): the merge loop runs
    // nMerges pair-count aggregates over this VOCABULARY-sized table —
    // at bench vocabularies CoalesceExec(1) claims SinglePartition, so
    // each iteration's aggregate+argmax is one exchange-free job; past
    // ~8k distinct words the exchange (bounded by the pair domain)
    // reappears on its own.
    val nW = wf1.count()
    val wf = wf1.coalesce(math.max(1L,
      math.min(wf1.rdd.getNumPartitions.toLong, nW / 8192L)).toInt)
    var words = wf
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (it <- 1 to nMerges) {
      val top = words
        .select(expr("split(trim(sym), '  ')").as("syms"), col("cnt"))
        // A fully-merged word is ONE symbol and contributes no pairs —
        // and Spark's sequence(1, 0) is DESCENDING [1, 0], not empty, so
        // the size guard is load-bearing (element_at(syms, 2) on a
        // 1-element array aborts under ANSI).
        .select(explode(expr(
          """CASE WHEN size(syms) < 2 THEN array()
            |ELSE transform(sequence(1, size(syms) - 1),
            |  j -> struct(element_at(syms, j) AS a,
            |              element_at(syms, CAST(j + 1 AS INT)) AS b)) END""".stripMargin))
          .as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("pcnt"))
        .orderBy(desc("pcnt"), asc("a"), asc("b"))
        .limit(1).head()
      val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((it.toLong, a, b, a + b, c))
      words = words.withColumn("sym",
        call_function("replace", col("sym"), lit(s" $a  $b "), lit(s" $a$b ")))
    }
    (merges.result(), words)
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeLearn(s, dir)._1
      .toDF("iter", "lhs", "rhs", "merged", "pair_count")
      .orderBy("iter")
  }

  /** Shared unrolled-CTE prefix replaying the merge loop: `wf` (word freq),
    * `w0..wN` (padded symbol strings after each merge), `p1..pN` (the
    * argmax pair per iteration).
    */
  private def bpeCtes: String = {
    val head =
      """WITH tokw AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tokw GROUP BY w),
        |w0 AS (
        |  SELECT w, ' ' || array_to_string(
        |      list_transform(range(1, length(w) + 1), i -> substr(w, i, 1))
        |        || ['</w>'], '  ') || ' ' AS sym, cnt
        |  FROM wf)""".stripMargin
    val iters = (1 to bpeMerges).map { it =>
      val prev = s"w${it - 1}"
      s""",
         |p$it AS (
         |  SELECT a, b, pcnt FROM (
         |    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
         |      SELECT unnest(list_transform(range(1, len(syms)), j -> syms[j])) AS a,
         |             unnest(list_transform(range(1, len(syms)), j -> syms[j + 1])) AS b,
         |             cnt
         |      FROM (SELECT string_split(trim(sym), '  ') AS syms, cnt FROM $prev))
         |    GROUP BY a, b)
         |  ORDER BY pcnt DESC, a, b LIMIT 1),
         |w$it AS (
         |  SELECT w, replace(sym, ' ' || a || '  ' || b || ' ',
         |                    ' ' || a || b || ' ') AS sym, cnt
         |  FROM $prev CROSS JOIN p$it)""".stripMargin
    }.mkString
    head + iters
  }

  private val bpeTrainSql: String = {
    val rows = (1 to bpeMerges).map { it =>
      s"SELECT CAST($it AS BIGINT) AS iter, a AS lhs, b AS rhs, a || b AS merged, pcnt AS pair_count FROM p$it"
    }.mkString("\n  UNION ALL\n  ")
    s"$bpeCtes\nSELECT * FROM (\n  $rows\n) ORDER BY iter"
  }

  /** The encode side of the tokenizer loop: apply the learned merges to the
    * corpus and report per-document BPE token counts plus the compression
    * against the unmerged character-symbol baseline.
    *
    * The merges were learned ON the vocabulary, so encoding is a
    * vocabulary-sized lookup: final symbol count per distinct word joins
    * back to the corpus token stream (plain equi-join on the word — AQE
    * broadcasts it when the vocabulary is small) and one per-doc aggregate.
    * No per-document merge replay anywhere — the corpus is touched exactly
    * once after training.
    */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = bpeLearn(s, dir)._2
      .select(col("w"),
        expr("CAST(size(split(trim(sym), '  ')) AS BIGINT)").as("n_sym"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_sym").as("n_bpe_tokens"),
        (sum(length(col("w"))).cast("long") + count(lit(1))).as("n_base_symbols"))
      .withColumn("compression_permille",
        expr("(1000 * n_bpe_tokens) div n_base_symbols"))
      .orderBy("doc_id")
  }

  // NB: the tail is stripMargin'd ALONE — running stripMargin over the
  // embedded (already-stripped) bpeCtes would eat the first `|` of any
  // `||` that starts a continuation line there.
  private val bpeEncodeSql: String =
    bpeCtes +
      s""",
         |vocab AS (
         |  SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS n_sym
         |  FROM w$bpeMerges),
         |enc AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(length(w)) + count(*) AS BIGINT) AS n_base_symbols,
         |  CAST((1000 * sum(n_sym)) // (sum(length(w)) + count(*)) AS BIGINT)
         |    AS compression_permille
         |FROM enc JOIN vocab USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-benchmark contamination report — the eval-side mirror of
    * `dx_decontaminate`: for every eval document (the `doc_id % 50 = 0`
    * slice), the fraction of its distinct 3-gram shingles that appear
    * anywhere in the training split. This is the number actually published
    * in model cards ("n-gram overlap of benchmark X with pretraining data"),
    * where `dx_decontaminate` is the filter applied to the corpus.
    *
    * Plan: one shingle explode feeds both sides; the training vocabulary is
    * a distinct projection; the report is a posting-list LEFT equi-join on
    * the shingle plus one per-doc aggregate — eval-slice-sized output, no
    * doc×doc anything.
    */
  private def contaminationReport(s: SparkSession, dir: String): DataFrame = {
    val (sh, _) = graft.Ckpt.settle(Pipeline.shingledDocs(s, dir)).head
    val trainVocab = sh.filter(col("doc_id") % 50 =!= 0)
      .select("sh").distinct().withColumn("hit", lit(1L))
    sh.filter(col("doc_id") % 50 === 0)
      .join(trainVocab, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_permille", expr("(1000 * n_hit) div n_shingles"))
      .orderBy("doc_id")
  }

  private val contaminationReportSql =
    s"""WITH s AS (
       |  SELECT doc_id, unnest(${Pipeline.shingleDuck}) AS sh FROM documents),
       |tv AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 <> 0)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(tv.sh) AS BIGINT) AS n_hit,
       |  CAST((1000 * count(tv.sh)) // count(*) AS BIGINT) AS hit_permille
       |FROM s LEFT JOIN tv ON s.sh = tv.sh
       |WHERE s.doc_id % 50 = 0
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Deterministic stratified train/validation/test split — the assignment
    * step every training pipeline runs before anything touches a model.
    * The split key is a pure content-free hash of the stable id (4 md5
    * nibbles mod 1000 → 800/100/100 permille bands), which buys the two
    * properties a corpus split must have at scale: (a) STABILITY — a doc's
    * split never changes when the corpus grows, so incremental ingest
    * can't leak validation docs into train; (b) no coordination — the
    * assignment is a per-row expression (zero shuffles; at 100 TB the
    * same expression feeds `partitionBy` on the physical write). The
    * census reports per-(split, language) counts plus each language's
    * observed permille share, making the stratification balance — the
    * thing hash splitting is trusted to deliver — the checked output.
    * Everything is integer, so the oracle matches bit-for-bit.
    */
  private def splitStratified(s: SparkSession, dir: String): DataFrame = {
    val census = Tables(s, dir, "documents")
      .withColumn("p", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 1000"))
      .withColumn("split",
        when(col("p") < 800, "train")
          .when(col("p") < 900, "validation")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    val byLang = census.groupBy("lang").agg(sum("n_docs").as("lang_total"))
    census.join(broadcast(byLang), "lang")
      .select(col("split"), col("lang"), col("n_docs"), col("sum_chars"),
        expr("CAST((1000 * n_docs) DIV lang_total AS BIGINT)").as("share_permille"))
      .orderBy("split", "lang")
  }

  private val splitStratifiedSql =
    """WITH a AS (
      |  SELECT lang, n_chars,
      |    (((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) % 1000
      |      AS p
      |  FROM documents),
      |c AS (
      |  SELECT CASE WHEN p < 800 THEN 'train'
      |              WHEN p < 900 THEN 'validation'
      |              ELSE 'test' END AS split,
      |    lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM a GROUP BY 1, 2),
      |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
      |      FROM c GROUP BY lang)
      |SELECT split, c.lang, n_docs, sum_chars,
      |  CAST((1000 * n_docs) // lang_total AS BIGINT) AS share_permille
      |FROM c JOIN t ON c.lang = t.lang
      |ORDER BY split, c.lang""".stripMargin

  // ---------------------------------------------------------------- unigram

  /** Word-frequency collapse shared by the unigram trainer's passes —
    * the ONLY corpus-scale aggregate of the tokenizer loop (checkpointed:
    * it feeds the substring seed AND both Viterbi passes). Words beyond
    * `Unigram.maxWord` are outside the query's contract on both engines
    * (the oracle unrolls the DP to that length).
    */
  private def unigramWf(s: SparkSession, dir: String): DataFrame =
    graft.Ckpt.settle(Tables(s, dir, "documents")
      .select(explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .filter(length(col("w")) <= Unigram.maxWord)
      .groupBy("w").agg(count(lit(1)).as("cnt"))).head._1

  /** Unigram-LM tokenizer training (operators/text/Unigram — Kudo 2018,
    * SentencePiece's other model family next to dx_bpe_train): integer
    * bit-cost hard-EM, two Viterbi E-steps with a zero-usage prune in
    * between. Output is the surviving vocabulary with final usage counts
    * and re-estimated costs; the oracle replays both DP rounds as
    * unrolled min-plus CTEs, bit-for-bit.
    */
  private def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Unigram.train(unigramWf(s, dir)).vocab
      .toDF("piece", "n_uses", "cost_bits").orderBy("piece")
  }

  /** Unigram encode census: per-document piece counts under the trained
    * model plus compression against the character baseline. The corpus is
    * touched once — the vocabulary-sized word→n_pieces frame (the round-2
    * segmentations) joins the token stream (AQE broadcasts it) and one
    * per-doc aggregate closes.
    */
  private def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val np = Unigram.train(unigramWf(s, dir)).words
      .select(col("w"), expr("CAST(size(pieces) AS BIGINT)").as("n_pieces"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .join(np, "w")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("w"))).cast("long").as("n_base_chars"))
      .withColumn("compression_permille",
        expr("(1000 * n_pieces) div n_base_chars"))
      .orderBy("doc_id")
  }

  /** Oracle replay of the unigram trainer: seed substring mass → c0 →
    * round-1 DP (unrolled positions 1..maxWord, combined `best·16+bp`
    * min-plus exactly as the Spark fold) → usage → prune → c1 → round-2
    * DP → final stats. Mechanically generated, like bpeCtes.
    */
  private def unigramCtes: String = {
    val P = Unigram.maxPiece
    val L = Unigram.maxWord
    val M = Unigram.missingCost
    // DP + backtrack chain for one round over wfu with cost cte `cN`;
    // returns (sql, lastCteName). Piece costs are pre-joined into
    // per-word columns c_j_i (one LEFT JOIN against the cost table over
    // the 34 (boundary, end) position pairs) — a correlated scalar
    // subquery per DP term would make DuckDB re-evaluate the whole cost
    // subtree per lookup.
    val positions: Seq[(Int, Int)] =
      for (i <- 1 to L; j <- math.max(0, i - P) until i) yield (j, i)
    def dpChain(r: Int, costCte: String): (String, String) = {
      val sb = new StringBuilder
      val pairVals = positions.map { case (j, i) => s"($j, $i)" }.mkString(", ")
      val pivots = positions.map { case (j, i) =>
        s"min(CASE WHEN j = $j AND i = $i THEN c END) AS c_${j}_$i"
      }.mkString(",\n    ")
      sb.append(s""",
         |wc$r AS (
         |  SELECT w,
         |    $pivots
         |  FROM (
         |    SELECT f.w, t.j, t.i, coalesce(k.cost, $M) AS c
         |    FROM wfu f
         |    CROSS JOIN (VALUES $pairVals) t(j, i)
         |    LEFT JOIN $costCte k ON k.piece = substr(f.w, t.j + 1, t.i - t.j)
         |    WHERE length(f.w) >= t.i) q
         |  GROUP BY w),
         |d${r}_0 AS (SELECT * FROM wfu JOIN wc$r USING (w))""".stripMargin)
      var prev = s"d${r}_0"
      for (i <- 1 to L) {
        val terms = (math.max(0, i - P) until i).map { j =>
          val b = if (j == 0) "CAST(0 AS BIGINT)" else s"(q$j // 16)"
          s"($b + c_${j}_$i) * 16 + $j"
        }
        val body =
          if (terms.size == 1) terms.head
          else s"least(\n    ${terms.mkString(",\n    ")})"
        sb.append(s""",
           |d${r}_$i AS (SELECT *, CASE WHEN length(w) >= $i THEN
           |  $body END AS q$i FROM $prev)""".stripMargin)
        prev = s"d${r}_$i"
      }
      sb.append(s""",
         |g${r}_0 AS (SELECT *, CAST(length(w) AS BIGINT) AS s0 FROM $prev)"""
        .stripMargin)
      prev = s"g${r}_0"
      val bpCases = (1 to L).map(i => s"WHEN $i THEN q$i % 16").mkString(" ")
      for (k <- 1 to L) {
        sb.append(s""",
           |g${r}_$k AS (SELECT *, CASE WHEN s${k - 1} > 0 THEN
           |  (CASE s${k - 1} $bpCases END) ELSE 0 END AS s$k FROM $prev)"""
          .stripMargin)
        prev = s"g${r}_$k"
      }
      (sb.toString, prev)
    }
    def usageCte(r: Int, lastG: String): String = {
      val pieceCases = (1 to L).map(k =>
        s"CASE WHEN s${k - 1} > 0 THEN substr(w, s$k + 1, s${k - 1} - s$k) END")
        .mkString(",\n    ")
      s""",
         |u$r AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n_u FROM (
         |    SELECT unnest([$pieceCases]) AS piece, cnt FROM $lastG) q
         |  WHERE piece IS NOT NULL GROUP BY piece)""".stripMargin
    }
    val head =
      s"""WITH tokw AS (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
         |wfu AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tokw
         |        WHERE length(w) <= $L GROUP BY w),
         |sub AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |    SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
         |      i -> list_transform(range(i, least(length(w), i + ${P - 1}) + 1),
         |           j -> substr(w, i, j - i + 1))))) AS piece, cnt
         |    FROM wfu) q
         |  GROUP BY piece),
         |v0 AS (
         |  SELECT piece, freq FROM sub WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, freq FROM (
         |    SELECT piece, freq FROM sub WHERE length(piece) > 1
         |    ORDER BY freq DESC, piece LIMIT ${Unigram.multiVocab}) q),
         |t0 AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM v0),
         |c0 AS (SELECT piece,
         |  CAST(20 - length(bin(greatest(1, (1000000 * freq) // total))) AS BIGINT)
         |    AS cost
         |  FROM v0 CROSS JOIN t0)""".stripMargin
    val (chain1, g1) = dpChain(1, "c0")
    val (chain2, g2) = dpChain(2, "c1")
    val mid =
      s""",
         |v1 AS (
         |  SELECT piece FROM v0 WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece FROM v0 JOIN u1 USING (piece)
         |  WHERE length(piece) > 1 AND n_u > 0),
         |t1 AS (SELECT CAST(sum(n_u) AS BIGINT) AS total FROM u1),
         |c1 AS (SELECT piece,
         |  CAST(20 - length(bin(greatest(1, (1000000 * coalesce(n_u, 0)) // total)))
         |    AS BIGINT) AS cost
         |  FROM v1 LEFT JOIN u1 USING (piece) CROSS JOIN t1)""".stripMargin
    head + chain1 + usageCte(1, g1) + mid + chain2 + usageCte(2, g2) +
      s""",
         |t2 AS (SELECT CAST(sum(n_u) AS BIGINT) AS total FROM u2),
         |np AS (SELECT w, CAST(${(1 to L).map(k =>
             s"(CASE WHEN s${k - 1} > 0 THEN 1 ELSE 0 END)").mkString(" + ")}
         |  AS BIGINT) AS n_pieces FROM $g2)""".stripMargin
  }

  private val unigramTrainSql: String =
    unigramCtes +
      s"""
         |SELECT piece, CAST(coalesce(n_u, 0) AS BIGINT) AS n_uses,
         |  CAST(20 - length(bin(greatest(1, (1000000 * coalesce(n_u, 0)) // total)))
         |    AS BIGINT) AS cost_bits
         |FROM v1 LEFT JOIN u2 USING (piece) CROSS JOIN t2
         |ORDER BY piece""".stripMargin

  private val unigramEncodeSql: String =
    unigramCtes +
      s""",
         |enc AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(length(w)) AS BIGINT) AS n_base_chars,
         |  CAST((1000 * sum(n_pieces)) // sum(length(w)) AS BIGINT)
         |    AS compression_permille
         |FROM enc JOIN np USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** WordPiece greedy-encode census — the third tokenizer family next to
    * dx_bpe_* and dx_unigram_*: greedy longest-match-first (max-munch)
    * segmentation over the unigram seed inventory, the serving algorithm
    * of the BERT-family encoders (operators/text/WordPiece.scala). Per
    * doc: word/piece counts, fertility (pieces per 1000 words — the
    * number tokenizer papers report) and compression vs the char
    * baseline. The corpus is touched once (word-freq collapse + one
    * vocabulary-sized equi-join); segmentation is a pure fold over the
    * distinct-word frame; the oracle replays the greedy walk as an
    * unrolled jump-table chain (longest match per position pivoted into
    * per-word columns, then maxWord CASE steps).
    */
  private def wordpieceWords(s: SparkSession, dir: String): DataFrame = {
    val wf = unigramWf(s, dir)
    WordPiece.segment(wf, WordPiece.vocab(wf))
  }

  private def wordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val seg = wordpieceWords(s, dir)
      .select(col("w"), expr("CAST(size(pieces) AS BIGINT)").as("n_pieces"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("w"))
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("w"))).cast("long").as("n_base_chars"))
      .withColumn("fertility_permille", expr("(1000 * n_pieces) div n_words"))
      .withColumn("compression_permille",
        expr("(1000 * n_pieces) div n_base_chars"))
      .orderBy("doc_id")
  }

  /** Piece-usage table of the greedy segmentations (Σ word-frequency ×
    * occurrences-on-walk): the vocabulary census a tokenizer report ships
    * — `##`-continuation entries count separately from word-initial ones,
    * exactly as a split WordPiece vocabulary would. One piece-domain
    * aggregate over the segmented distinct-word frame.
    */
  private def wordpieceUsage(s: SparkSession, dir: String): DataFrame =
    wordpieceWords(s, dir)
      .select(explode(col("pieces")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("n_uses"))
      .orderBy("piece")

  /** Oracle replay of the greedy walk: seed vocabulary (tokw/wfu/sub/v0 —
    * the unigram head verbatim) → longest vocabulary match per (word,
    * position) pivoted into per-word jump columns (inner join against the
    * (position, length) candidate grid, single-char fallback via LEFT
    * JOIN + coalesce) → maxWord unrolled walk steps → per-word piece
    * count and piece extraction. Mechanically generated, like bpeCtes.
    */
  private def wordpieceCtes: String = {
    val P = Unigram.maxPiece
    val L = Unigram.maxWord
    val pairVals = (for (p <- 1 to L; m <- 2 to P) yield s"($p, $m)")
      .mkString(", ")
    val jPivot = (1 to L).map(p =>
      s"max(CASE WHEN t.p = $p THEN t.m END) AS j_$p").mkString(",\n    ")
    val kCoalesce = (1 to L).map(p => s"coalesce(j_$p, 1) AS k_$p")
      .mkString(", ")
    val jumpCases = (1 to L).map(p => s"WHEN $p THEN k_$p").mkString(" ")
    val head =
      s"""WITH tokw AS (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
         |wfu AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tokw
         |        WHERE length(w) <= $L GROUP BY w),
         |sub AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM (
         |    SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
         |      i -> list_transform(range(i, least(length(w), i + ${P - 1}) + 1),
         |           j -> substr(w, i, j - i + 1))))) AS piece, cnt
         |    FROM wfu) q
         |  GROUP BY piece),
         |v0 AS (
         |  SELECT piece FROM sub WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece FROM (
         |    SELECT piece FROM sub WHERE length(piece) > 1
         |    ORDER BY freq DESC, piece LIMIT ${Unigram.multiVocab}) q),
         |wj AS (
         |  SELECT f.w,
         |    $jPivot
         |  FROM wfu f
         |  JOIN (VALUES $pairVals) t(p, m) ON length(f.w) >= t.p + t.m - 1
         |  JOIN v0 v ON v.piece = substr(f.w, t.p, t.m)
         |  GROUP BY f.w),
         |g0 AS (
         |  SELECT w, cnt, length(w) AS lw, $kCoalesce, 0 AS pos0
         |  FROM wfu LEFT JOIN wj USING (w))""".stripMargin
    val walk = (1 to L).map { k =>
      s""",
         |g$k AS (SELECT *, CASE WHEN pos${k - 1} < lw THEN pos${k - 1}
         |  + (CASE pos${k - 1} + 1 $jumpCases END)
         |  ELSE pos${k - 1} END AS pos$k FROM g${k - 1})""".stripMargin
    }.mkString
    val nPieces = (1 to L).map(k =>
      s"(CASE WHEN pos$k > pos${k - 1} THEN 1 ELSE 0 END)").mkString(" + ")
    head + walk +
      s""",
         |np AS (SELECT w, CAST($nPieces AS BIGINT) AS n_pieces FROM g$L)"""
        .stripMargin
  }

  private val wordpieceEncodeSql: String =
    wordpieceCtes +
      s""",
         |enc AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(length(w)) AS BIGINT) AS n_base_chars,
         |  CAST((1000 * sum(n_pieces)) // count(*) AS BIGINT)
         |    AS fertility_permille,
         |  CAST((1000 * sum(n_pieces)) // sum(length(w)) AS BIGINT)
         |    AS compression_permille
         |FROM enc JOIN np USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val wordpieceUsageSql: String = {
    val L = Unigram.maxWord
    // concat(), not ||: these lines are stripMargin'd, and a leading ||
    // would lose its first pipe (the bpeEncodeSql gotcha)
    val pieceCases = (1 to L).map(k =>
      s"""CASE WHEN pos$k > pos${k - 1} THEN concat(
         |      CASE WHEN pos${k - 1} = 0 THEN '' ELSE '##' END,
         |      substr(w, pos${k - 1} + 1, pos$k - pos${k - 1})) END"""
        .stripMargin).mkString(",\n    ")
    wordpieceCtes +
      s""",
         |up AS (
         |  SELECT unnest([$pieceCases]) AS piece, cnt FROM g$L)
         |SELECT piece, CAST(sum(cnt) AS BIGINT) AS n_uses
         |FROM up WHERE piece IS NOT NULL
         |GROUP BY piece ORDER BY piece""".stripMargin
  }

  // ---- distributed Naive Bayes quality/lang classifier ----------------

  /** Shared tokenization for the NB pair: DSIR's hashed-feature device
    * verbatim (whitespace tokens → 256 md5 buckets), so the feature space
    * is bounded and the weight table broadcastable no matter the corpus.
    * ONE tokenize+bucket definition feeds BOTH training features
    * ([[nbTokens]], consumed by the NB and LR fits) and LR serving
    * ([[lrScore]]) — a bucketing change cannot skew train vs serve
    * silently while both paths still run (r16 advice).
    */
  private[graft] def hashedTokens(docs: DataFrame, carry: String*): DataFrame =
    docs
      .select(Seq(col("doc_id")) ++ carry.map(col) :+
        explode(expr("split(trim(text), '\\\\s+')")).as("tok"): _*)
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(tok), 1, 2), 16, 10) AS BIGINT)"))

  private[graft] def nbTokens(docs: DataFrame): DataFrame =
    hashedTokens(docs, "lang")

  /** Trained per-(class, bucket) weight table: add-one-smoothed ppm class
    * likelihoods quantized to floor-log2 bits (`length(bin(x))` — the DSIR
    * integer device, so both engines agree bit-for-bit with no libm). The
    * table is densified over all 256 buckets per class, so the scoring
    * join needs no missing-feature special case.
    */
  /** Weights from the sufficient statistics — split out so the streaming
    * model-maintenance spec can fold micro-batch counts into the SAME
    * formula (counts are additive, so incremental training is exact).
    */
  private[graft] def nbWeightsFromCounts(
      counts: DataFrame, totals: DataFrame): DataFrame =
    totals
      // densify by generator, not crossJoin — a map-only explode of the
      // 256-bucket literal (no join in the plan at all)
      .withColumn("bucket", explode(lit((0 until 256).map(_.toLong).toArray)))
      .join(counts, Seq("lang", "bucket"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("w_bits", expr(
        "CAST(length(bin(greatest(1L, ((c + 1) * 1000000) div (n + 256)))) AS BIGINT)"))
      .select("lang", "bucket", "c", "w_bits")

  private def nbWeights(s: SparkSession, toks: DataFrame): DataFrame = {
    val train = toks.filter(col("doc_id") % 2 === 0)
    nbWeightsFromCounts(
      train.groupBy("lang", "bucket").agg(count(lit(1)).as("c")),
      train.groupBy("lang").agg(count(lit(1)).as("n")))
  }

  /** Distributed multinomial Naive Bayes TRAINING (McCallum & Nigam 1998;
    * the fastText-shaped "train a classifier on the corpus" step a curation
    * pipeline runs before classifier filtering — `dx_classifier_filter`
    * applies fixed weights, this LEARNS them from labeled docs): fit
    * per-(lang, bucket) token likelihoods on the even-doc training half.
    *
    * Shape at 100 TB: training is ONE partial-agg shuffle whose state is
    * classes × 256 buckets (constant), totals a classes-sized agg, and the
    * output weight table is kilobytes — model state never scales with the
    * corpus, exactly like the DSIR fit. Integer-exact throughout (ppm +
    * floor-log2 bits), so the oracle matches bit-for-bit.
    */
  private def nbTrain(s: SparkSession, dir: String): DataFrame =
    nbWeights(s, nbTokens(Tables(s, dir, "documents")))
      .orderBy("lang", "bucket")

  /** Streaming NB MODEL MAINTENANCE gate (the `st_golden_apply_gate`
    * recipe on classifier state, promoting the StreamingSpec fold to a
    * registered oracle row): the training half split into three disjoint
    * doc slices, each reduced to the additive sufficient statistics
    * ((lang, bucket) counts and per-lang totals) and folded by regrouped
    * sums; the weights derived from the FOLDED counts through the SAME
    * [[nbWeightsFromCounts]] formula must equal the one-shot batch fit
    * BIT-IDENTICALLY — which is what the oracle recomputes. State is
    * classes × 256 (constant), flat in stream history: incremental model
    * training at 100 TB is count maintenance, not refitting.
    */
  private def nbApplyGate(s: SparkSession, dir: String): DataFrame = {
    val (train, _) = graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))
      .filter(col("doc_id") % 2 === 0)).head
    val slices = (0 until 3).map { i =>
      val slice = train.filter(col("doc_id") % 3 === i)
      (slice.groupBy("lang", "bucket").agg(count(lit(1)).as("c")),
        slice.groupBy("lang").agg(count(lit(1)).as("n")))
    }
    // each round's running counts and totals feed the next round's merge:
    // one settle job per round materializes both
    val (counts, totals) = slices.tail.foldLeft(slices.head) {
      case ((counts, totals), (sc, st)) =>
        val Seq((c, _), (t, _)) = graft.Ckpt.settle(
          counts.unionByName(sc).groupBy("lang", "bucket").agg(sum("c").as("c")),
          totals.unionByName(st).groupBy("lang").agg(sum("n").as("n")))
        (c, t)
    }
    nbWeightsFromCounts(counts, totals).orderBy("lang", "bucket")
  }

  private val nbCommonSql =
    """tk AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |bt AS (
      |  SELECT doc_id, lang,
      |    CAST((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS BIGINT)
      |      AS bucket
      |  FROM tk),
      |cnt AS (
      |  SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM bt WHERE doc_id % 2 = 0 GROUP BY lang, bucket),
      |tot AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n
      |  FROM bt WHERE doc_id % 2 = 0 GROUP BY lang),
      |dense AS (
      |  SELECT lang, n, CAST(unnest(range(256)) AS BIGINT) AS bucket
      |  FROM tot),
      |wb AS (
      |  SELECT d.lang, d.bucket, COALESCE(c.c, 0) AS c,
      |    CAST(length(bin(greatest(1,
      |      ((COALESCE(c.c, 0) + 1) * 1000000) // (d.n + 256)))) AS BIGINT)
      |      AS w_bits
      |  FROM dense d
      |  LEFT JOIN cnt c ON c.lang = d.lang AND c.bucket = d.bucket)""".stripMargin

  private val nbTrainSql =
    s"""WITH $nbCommonSql
       |SELECT lang, bucket, c, w_bits FROM wb ORDER BY lang, bucket""".stripMargin

  /** Naive Bayes SCORING on the held-out odd-doc half: per-doc bucket
    * histogram (one shuffle on doc_id), broadcast-join the kilobyte weight
    * table across every candidate class, integer log-score = prior bits +
    * Σ cnt·w_bits, argmax by (score DESC, class ASC), reported as the
    * actual×predicted confusion matrix.
    *
    * On this driver corpus the labels are independent of the synthetic
    * text (held-out NB accuracy ≈ the majority prior — measured, and the
    * same for any classifier), so the pinned contract is the MECHANISM:
    * train+score is distributed-right and bit-exact vs the oracle, the
    * same stance as `dx_dsir`.
    */
  private def nbClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    // feeds fit AND scoring
    val (toks, _) = graft.Ckpt.settle(nbTokens(docs)).head
    val w = nbWeights(s, toks)
    val trainDocs = docs.filter(col("doc_id") % 2 === 0)
    val priors = trainDocs.groupBy("lang").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("ndt"))))
      .withColumn("w_prior", expr(
        "CAST(length(bin(greatest(1L, (nd * 1000000) div ndt))) AS BIGINT)"))
      .select(col("lang").as("cand"), col("w_prior"))
    val hist = toks.filter(col("doc_id") % 2 === 1)
      .groupBy(col("doc_id"), col("lang").as("actual"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val scored = hist
      .join(broadcast(w.select(col("lang").as("cand"), col("bucket"), col("w_bits"))),
        "bucket")
      .groupBy("doc_id", "actual", "cand")
      .agg(sum(col("cnt") * col("w_bits")).as("ll"))
      .join(broadcast(priors), "cand")
      .withColumn("score", col("ll") + col("w_prior"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("cand"))))
      .filter(col("rn") === 1)
      .groupBy(col("actual"), col("cand").as("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "pred")
  }

  private val nbClassifySql =
    s"""WITH $nbCommonSql,
       |pri AS (
       |  SELECT a.lang AS cand,
       |    CAST(length(bin(greatest(1, (a.nd * 1000000) // b.ndt))) AS BIGINT)
       |      AS w_prior
       |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS nd
       |        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang) a
       |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS ndt
       |              FROM documents WHERE doc_id % 2 = 0) b),
       |hist AS (
       |  SELECT doc_id, lang AS actual, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bt WHERE doc_id % 2 = 1 GROUP BY doc_id, lang, bucket),
       |sc AS (
       |  SELECT h.doc_id, h.actual, w.lang AS cand,
       |    CAST(sum(h.cnt * w.w_bits) AS BIGINT) AS ll
       |  FROM hist h JOIN wb w USING (bucket)
       |  GROUP BY h.doc_id, h.actual, w.lang),
       |scp AS (
       |  SELECT sc.doc_id, sc.actual, sc.cand, sc.ll + p.w_prior AS score
       |  FROM sc JOIN pri p ON p.cand = sc.cand),
       |pr AS (
       |  SELECT doc_id, actual, cand,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand)
       |      AS rn
       |  FROM scp)
       |SELECT actual, cand AS pred, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pr WHERE rn = 1 GROUP BY actual, cand ORDER BY actual, pred""".stripMargin

  // ---- distributed logistic-regression quality classifier -------------

  /** Features for the LR pair: PRESENCE of each of the 256 hashed token
    * buckets (the NB feature space binarized — presence conditions a
    * linear model far better than raw counts on short docs). The label is
    * derived from the text itself (doc contains the whole token 'spark'),
    * so the classifier has real signal to learn — unlike the synthetic
    * lang labels, which are independent of the text (the dx_nb_* stance).
    */
  private def lrExamples(toks: DataFrame): (DataFrame, DataFrame) = (
    toks.select(col("doc_id"), col("bucket")).distinct(),
    toks.groupBy("doc_id")
      .agg(max(when(col("tok") === "spark", 1L).otherwise(0L)).as("y")))

  private[graft] final case class LrModel(
      wMicro: Array[Long], biasMicro: Long, lossMicroByIter: Seq[Long])

  /** Distributed LOGISTIC-REGRESSION training by full-batch gradient
    * descent (the fastText-style linear quality classifier a curation
    * pipeline TRAINS where `dx_classifier_filter` applies fixed weights,
    * and the discriminative sibling of the generative `dx_nb_train`).
    *
    * Determinism is engineered, not hoped for: the model lives on the
    * driver as 256+1 doubles but is SHIPPED each iteration quantized to
    * integer micro-units, so every per-doc margin is an exact LONG sum
    * (no float accumulation-order hazard in the doc aggregate); the
    * per-doc sigmoid/gradient is a pure double expression of that exact
    * margin; and the per-bucket gradient sums accumulate as DECIMAL
    * (order-invariant) after a deterministic round-to-12-places. Two runs
    * of the full fit are bit-identical — `dx_lr_gate` pins that.
    *
    * Shape at 100 TB: model state is kilobytes on the driver, broadcast
    * as a literal array (no join to fetch weights); each iteration is one
    * doc-keyed shuffle (margins) plus one 256-group aggregate with
    * map-side combine (gradients). The corpus is never collected and no
    * state scales with it — the same contract as the NB and DSIR fits.
    */
  private[graft] def lrTrain(feats: DataFrame, labels: DataFrame,
      iters: Int = 30, rate: Double = 1.0): LrModel = {
    var w = Array.fill(256)(0.0)
    var b = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Long]
    // One row per doc carrying its feature-bucket ARRAY plus the label —
    // materialised once, so each GD iteration is a single map-shaped pass:
    // margin = exact-long sum over the array (order-invariant), per-doc
    // p/g/l from that margin, then ONE explode → 257-group aggregate (the
    // bias rides as synthetic bucket −1). The first formulation re-keyed
    // (doc,bucket) rows by doc_id AND re-joined labels AND re-joined the
    // feature rows EVERY iteration — 3 doc-keyed exchanges × 30 iterations
    // of pure re-partitioning of static data (guide §2.4: remove shuffles
    // outright; measured: dx_lr_train 324 scheduler jobs, wall dominated
    // by job floors, not compute). The per-doc aggregate values are
    // unchanged: the long margin sum is exact in any order, and the
    // gradient/loss sums stay round(·,12)-then-DECIMAL (order-invariant),
    // so the fitted model is bit-identical.
    // LEFT join from labels so a labelled doc with zero feature rows keeps
    // its row (empty bucket array ⇒ margin = bias, exactly the original
    // union-with-synthetic-bucket semantics) instead of silently dropping
    // out of n / df(-1) / the bias gradient. Current callers derive labels
    // from the same toks frame, so the branch is inert there — this makes
    // the invariant structural rather than a comment.
    val (docs0, n) = graft.Ckpt.settle(labels
      .join(feats.groupBy("doc_id").agg(collect_list(col("bucket")).as("bks")),
        Seq("doc_id"), "left")
      .select(coalesce(col("bks"), lit(Array.empty[Long])).as("bks"), col("y"))).head
    require(n > 0, "cannot fit a classifier on an empty training set")
    // Size-derived partitioning (guide §2: adapt to input, don't pin to
    // core count): at proxy-fit sizes the whole table coalesces to one
    // partition, whose SinglePartition output satisfies the 257-group
    // aggregate's clustering — each GD iteration is then ONE job with NO
    // exchange at all; past ~8k docs/partition the coalesce widens and the
    // per-iteration exchange (bounded at 257 groups) comes back on its own.
    // Unconditional: even when the checkpoint already HAS that few
    // partitions, only CoalesceExec(1) CLAIMS SinglePartition to the
    // planner — a bare checkpoint scan reports unknown partitioning and
    // the per-iteration aggregate re-inserts its exchange (and AQE its
    // per-stage job) anyway.
    val parts = math.max(1L, math.min(
      docs0.rdd.getNumPartitions.toLong, n / 8192L)).toInt
    val docs = docs0.coalesce(parts)
    // Frequency preconditioner: per-bucket step = rate·Σg/df_b, the
    // diagonal-Newton scaling for logistic at p≈½ (H_bb ≈ df_b/4 for
    // binary features). A global 1/n step crawls on rare features and
    // diverges when pushed; df is an integer count, so the scaling stays
    // deterministic. Computed once per fit — one 257-group aggregate.
    val dfs = docs
      .select(explode(concat(col("bks"), array(lit(-1L)))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    // static pieces hoisted out of the loop: expr() re-parses its SQL text
    // on every call, and these don't depend on the model state
    val lCol = expr(
      """-(y * log(greatest(p, 1e-12d))
        | + (1L - y) * log(greatest(1.0d - p, 1e-12d)))""".stripMargin)
    // round→DECIMAL once per DOC (before the explode), not once per
    // (doc,bucket) row — the addends, and therefore the order-invariant
    // decimal sums, are unchanged
    val gdCol = expr("CAST(round(g, 12) AS DECIMAL(26, 12))")
    val ldCol = expr("CAST(round(l, 12) AS DECIMAL(26, 12))")
    for (_ <- 0 until iters) {
      // Model state travels as codegen REFERENCE OBJECTS (the native
      // IndexedWeightSum kernel for the weights, a non-foldable ScalarRef
      // for the bias), never inlined scalars: the generated code text is
      // identical across iterations, so the codegen cache hits 29 times
      // instead of recompiling per iteration (the first formulation inlined
      // ${bq}L — a fresh source string, a fresh Janino compile, every
      // round; the element_at(lit(Array(b)), 1) spelling that replaced it
      // was constant-folded back to an inline literal and fixed nothing).
      val wq = w.map(x => math.round(x * 1e6))
      val bRef = graft.functions.ScalarRef.long(math.round(b * 1e6))
      val rows = docs
        .withColumn("mq", graft.functions.IndexedWeightSum(col("bks"), wq))
        .withColumn("p", lit(1.0d) / (lit(1.0d) +
          exp(-((col("mq") + bRef) / lit(1e6)))))
        .withColumn("g", col("p") - col("y"))
        .withColumn("l", lCol)
        .withColumn("gd", gdCol)
        .withColumn("ld", ldCol)
        .select(explode(concat(col("bks"), array(lit(-1L)))).as("bucket"),
          col("gd"), col("ld"))
        .groupBy("bucket").agg(
          sum(col("gd")).as("gs"),
          sum(when(col("bucket") === -1L, col("ld"))).as("ls"))
        .collect()
      val grads = rows.map(r => r.getLong(0) -> r.getDecimal(1).doubleValue).toMap
      val loss = rows.find(_.getLong(0) == -1L)
        .map(_.getDecimal(2).doubleValue).getOrElse(0.0)
      losses += math.round(loss / n * 1e6)
      b -= rate * grads.getOrElse(-1L, 0.0) / dfs(-1L)
      w = w.zipWithIndex.map { case (x, i) =>
        x - rate * grads.getOrElse(i.toLong, 0.0) /
          dfs.getOrElse(i.toLong, 1.0)
      }
    }
    LrModel(w.map(x => math.round(x * 1e6)), math.round(b * 1e6), losses.toSeq)
  }

  /** Fit on the training half, optionally on a deterministic 1-in-
    * `sampleDen` document slice of it (`pmod(xxhash64(doc_id), den) = 0`
    * — hash-keyed so the slice is unbiased w.r.t. the id structure and
    * identical on every run). `sampleDen = 1` (the default, and what
    * every oracle sf runs) is the exact full fit; larger values are the
    * documented 100 TB recipe — GD cost scales with the SLICE while
    * serving stays corpus-wide, the DSIR/proxy-model economics. The
    * sampled path is gated (dx_lr_train fits a 1-in-4 model every run and
    * require()s it to still beat the majority class held-out).
    */
  private def lrFit(s: SparkSession, toksAll: DataFrame,
      sampleDen: Long = 1L): LrModel = {
    val train = toksAll.filter(col("doc_id") % 2 === 0)
    val sliced =
      if (sampleDen <= 1L) train
      else train.filter(pmod(xxhash64(col("doc_id")), lit(sampleDen)) === 0)
    val (tf, tl) = lrExamples(sliced)
    // no checkpoint here: lrTrain folds both into its per-doc array table
    // and materialises THAT once — checkpointing the (doc,bucket) rows too
    // would just add two jobs re-materialising frames read a single time
    lrTrain(tf, tl)
  }

  // Session model cache — the serving-split economics the ANN index
  // queries established (`queries/Ann.scala` builtIndexes): the TRAIN row
  // always pays a full fit (so its bench wall is construction, min-of-2
  // can't deflate it) and refreshes the cache; the scoring/serving rows
  // reuse the session model when one exists, so their published walls are
  // warm-model BY CONSTRUCTION (QueryDefs carry `warm = true`).
  // The cache stores the sample DENOMINATOR the model was trained with
  // alongside the model (ADVICE r17): a dx_lr_train run under
  // spark.graft.lr.sampleDen > 1 caches the sampled model, and letting
  // the gate / classify / mixture rows silently consume it would make
  // them order-dependent session state — lrFitCached refits the exact
  // full model instead of serving a den != 1 cache entry.
  private val lrModels =
    scala.collection.concurrent.TrieMap.empty[String, (LrModel, Long)]

  private[graft] def lrFitCached(s: SparkSession, dir: String,
      toksAll: => DataFrame): LrModel =
    lrModels.get(dir) match {
      case Some((m, 1L)) => m
      case _ =>
        // absent, or present but trained on a 1-in-den slice: refit the
        // exact full model and replace the entry
        val m = lrFit(s, toksAll)
        lrModels.put(dir, (m, 1L))
        m
    }

  /** Held-out confusion matrix for a trained model — scoring is the same
    * exact-long margin the trainer uses, so served ≡ trained arithmetic.
    */
  private def lrConfusion(m: LrModel, heldToks: DataFrame): DataFrame = {
    val (hf, hl) = lrExamples(heldToks)
    val wArr = array(m.wMicro.map(lit(_)): _*)
    hf.withColumn("wv", element_at(wArr, col("bucket").cast("int") + 1))
      .groupBy("doc_id").agg(sum(col("wv")).as("mq"))
      .join(hl, "doc_id")
      .select(col("y").as("actual"),
        when(col("mq") + lit(m.biasMicro) >= 0L, 1L).otherwise(0L).as("pred"))
      .groupBy("actual", "pred").agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "pred")
  }

  /** Per-doc scoring by the exact-long margin rule, from raw (doc_id,
    * text) — shared by the batch gate and the streaming scorer
    * ([[graft.streaming.Streams.lrScoreStream]]). Map-shaped: tokenize →
    * bucket → presence-distinct → one doc-keyed aggregate; the model
    * rides in the plan as a literal array (no join to fetch weights).
    */
  private[graft] def lrScore(docs: DataFrame, m: LrModel): DataFrame = {
    val wArr = array(m.wMicro.map(lit(_)): _*)
    hashedTokens(docs)
      .select("doc_id", "bucket").distinct()
      .withColumn("wv", element_at(wArr, col("bucket").cast("int") + 1))
      .groupBy("doc_id").agg(sum(col("wv")).as("mq"))
      .select(col("doc_id"),
        (col("mq") + lit(m.biasMicro)).as("margin_micro"),
        when(col("mq") + lit(m.biasMicro) >= 0L, 1L).otherwise(0L).as("pred"))
  }

  /** Streaming-scoring gate for the trained classifier (the
    * `st_vec_serve_gate` recipe on the model-serving side): the same
    * trained model scores the held-out half once in full and once as
    * three disjoint micro-batches — union must be BIT-IDENTICAL (margins
    * are exact longs keyed by doc_id; no cross-doc state anywhere in the
    * scoring program). StreamingSpec drives the same equality through a
    * real MemoryStream + foreachBatch.
    */
  private def lrScoreGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val m = lrFitCached(s, dir, graft.Ckpt.settle(nbTokens(docs)).head._1)
    val (held, nHeld) = graft.Ckpt.settle(
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")).head
    val micro = (0 until 3)
      .map(i => lrScore(held.filter(col("doc_id") % 3 === i), m))
      .reduce(_ unionByName _)
    val equal = graft.Gate.all("st_lr_score_gate")(
      "micro_equals_batch" -> graft.Gate.sameRows(micro, lrScore(held, m)))
    Seq((nHeld, equal)).toDF("n_docs", "batch_equal_ok")
  }

  private val lrScoreGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok
      |FROM documents WHERE doc_id % 2 = 1""".stripMargin

  /** Held-out (correct, total, majority) for a model — the quality triple
    * both the train row's sampled-fit check and the gate's floor use.
    */
  private def lrAccuracy(m: LrModel, held: DataFrame): (Long, Long, Long) = {
    val conf = lrConfusion(m, held)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = conf.values.sum
    val correct = conf.getOrElse((0L, 0L), 0L) + conf.getOrElse((1L, 1L), 0L)
    val majority = Seq(0L, 1L)
      .map(y => conf.collect { case ((a, _), c) if a == y => c }.sum).max
    (correct, total, majority)
  }

  private def lrTrainQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ALWAYS a fresh fit (the build row pays construction); refresh the
    // session cache so scoring rows after it serve warm. The sample
    // denominator is conf-driven (default 1 = exact full fit, which is
    // what every oracle run uses): on a 100 TB corpus set
    // spark.graft.lr.sampleDen so 30 GD iterations price against a
    // bounded slice.
    //
    // THIS row carries the sampled-fit quality evidence (r17 verdict #6
    // moved it here from dx_lr_gate, whose core claim is the determinism
    // pair): every den=1 run ALSO fits the 1-in-4 slice — the documented
    // 100 TB recipe executed, not just described — and require()s that it
    // still beats the held-out majority class, so a quality regression in
    // the sampled path fails the train row loudly in every Verify/Bench
    // run. A den>1 run's main fit IS the sampled form and gets the same
    // require directly.
    val den = s.conf.get("spark.graft.lr.sampleDen", "1").toLong
    val (toksAll, _) = graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))).head
    val m = lrFit(s, toksAll, den)
    lrModels.put(dir, (m, den))
    val held = toksAll.filter(col("doc_id") % 2 === 1)
    val sampled = if (den > 1L) m else lrFit(s, toksAll, sampleDen = 4L)
    val (sCorrect, sTotal, sMajority) = lrAccuracy(sampled, held)
    require(sCorrect > sMajority && sTotal > 0,
      s"sampled LR fit (den=${if (den > 1L) den else 4L}) no longer beats " +
        s"the majority class held-out: $sCorrect/$sTotal vs $sMajority")
    (m.wMicro.zipWithIndex.map { case (wm, bk) => (bk.toLong, wm) }.toSeq :+
      ((-1L, m.biasMicro)))
      .toDF("bucket", "w_micro").orderBy("bucket")
  }

  private def lrClassify(s: SparkSession, dir: String): DataFrame = {
    val (toksAll, _) = graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))).head
    lrConfusion(lrFitCached(s, dir, toksAll),
      toksAll.filter(col("doc_id") % 2 === 1))
  }

  /** Driver-gated LR training evidence (the mb_link_em_gate recipe for the
    * classifier): run-twice bit-identical weights/bias/loss-curve, loss
    * strictly reduced over the fit, and held-out accuracy that BEATS the
    * majority-class baseline (the labels are learnable from the text, so
    * unlike dx_nb_classify the gate can demand real discrimination) with
    * an absolute floor of 0.85.
    *
    * The SAMPLED-fit quality claim (1-in-4 slice still beats the majority
    * class — the `spark.graft.lr.sampleDen` 100 TB recipe) is carried by
    * `dx_lr_train`, which executes + require()s it on every run (r17
    * verdict #6): the gate keeps only its core claim, the determinism
    * pair, so its wall is one fresh full fit — not three.
    */
  private def lrGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (toksAll, _) = graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))).head
    // determinism evidence: one (possibly session-cached) fit vs one
    // ALWAYS-fresh fit — still a genuine run-twice comparison of the full
    // training program every time the gate runs
    val m1 = lrFitCached(s, dir, toksAll)
    val m2 = lrFit(s, toksAll)
    val (held, _) = graft.Ckpt.settle(toksAll.filter(col("doc_id") % 2 === 1)).head
    val (correct, total, majority) = lrAccuracy(m1, held)
    val ok = graft.Gate.all("dx_lr_gate")(
      "fits_equal" -> (m1.wMicro.sameElements(m2.wMicro) &&
        m1.biasMicro == m2.biasMicro && m1.lossMicroByIter == m2.lossMicroByIter),
      "loss_decreased" -> (m1.lossMicroByIter.last < m1.lossMicroByIter.head),
      "accuracy_0.85" -> (correct * 1000 >= total * 850),
      "beats_majority" -> (correct > majority))
    Seq(ok).toDF("lr_ok")
  }

  private val lrGateSql = "SELECT CAST(1 AS BOOLEAN) AS lr_ok"

  // ---- DoReMi-lite learned mixture weights -----------------------------

  /** LEARNED per-source mixture weights — DoReMi (Xie et al. 2023,
    * arXiv:2305.10429 "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining") restated in the repo's exact-integer
    * style, one mirror-descent round: a small PROXY model is evaluated
    * per domain, domains where the proxy does WORSE than the corpus
    * average (= more headroom) get upweighted relative to their token
    * share. `dx_mixture_weights` (queries/Pipeline.scala) is the static
    * hand-tuned baseline twin this replaces with measured signal.
    *
    * Restatement choices, each pinned to a determinism device already in
    * the repo:
    *   - proxy = the trained LR classifier (the session model the
    *     dx_lr_* family maintains) — margins are exact longs;
    *   - per-doc excess-loss surrogate = HINGE loss in micro units,
    *     `max(0, 1e6 − (2y−1)·margin_micro)` — exact long arithmetic,
    *     no libm (the paper's per-domain log-perplexity gap needs exp;
    *     hinge is the standard convex surrogate with the same ordering);
    *   - the exponential update `α ∝ share·exp(η·excess)` is linearized
    *     to one integer step `α ∝ tokens·(1e6 + excess_ppm)` (first-order
    *     Taylor at η = 1), then floor-normalized to ppm — bit-exact on
    *     any engine and any partitioning (DECIMAL(38,0) products).
    *
    * Scale shape: one corpus-wide scoring pass (the lrScore map + one
    * doc-keyed aggregate), one per-source aggregate with map-side
    * combine, then all remaining arithmetic on an n_sources-row table
    * crossed with two broadcast scalars. Nothing new scales with the
    * corpus beyond the scoring pass the serving path already runs.
    */
  /** Per-source sufficient statistics of the learned mixture — the
    * ASSOCIATIVE fold unit (counts and token/hinge sums add), so a
    * streaming maintenance loop folding doc micro-batches through
    * [[mixtureMergeStats]] reproduces the batch reweighting bit-exactly
    * under a fixed proxy model (the goldenStats/goldenMerge stance;
    * StreamingSpec drives it through a MemoryStream).
    */
  private[graft] def mixtureStats(docs: DataFrame, m: LrModel): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tok"),
      // same label rule as lrExamples' explode-max, map-side
      expr("CAST(exists(split(trim(text), '\\\\s+'), t -> t = 'spark') AS BIGINT)")
        .as("y"))
    val scored = lrScore(docs.select("doc_id", "text"), m)
      .select(col("doc_id"), col("margin_micro"))
    base.join(scored, Seq("doc_id"))
      .withColumn("hinge_micro", greatest(lit(0L),
        lit(1000000L) - (col("y") * 2L - 1L) * col("margin_micro")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("tokens"),
        Num.bigSum(col("hinge_micro")).as("hinge_sum"))
  }

  /** Fold two stats frames (running ∪ delta) back to the source grain. */
  private[graft] def mixtureMergeStats(stats: DataFrame): DataFrame =
    stats.groupBy("source").agg(
      sum("n_docs").as("n_docs"), sum("tokens").as("tokens"),
      sum("hinge_sum").as("hinge_sum"))

  /** The reweighting step from the statistics — shared by the batch query
    * and the incremental fold, so the two cannot drift.
    */
  private[graft] def mixtureFromStats(perSource: DataFrame): DataFrame = {
    val totals = perSource.agg(
      sum("n_docs").as("c_docs"),
      sum("hinge_sum").as("c_hinge"))
    // n_sources rows; feeds its own normalizer
    val (stepped, _) = graft.Ckpt.settle(perSource.crossJoin(broadcast(totals))
      .withColumn("avg_loss_micro",
        expr("CAST(hinge_sum DIV n_docs AS BIGINT)"))
      .withColumn("c_avg_micro",
        expr("CAST(c_hinge DIV c_docs AS BIGINT)"))
      .withColumn("excess_ppm", expr(
        """greatest(CAST(0 AS BIGINT),
          |  CAST((CAST(avg_loss_micro - c_avg_micro AS DECIMAL(38,0)) * 1000000)
          |       DIV greatest(c_avg_micro, 1) AS BIGINT))""".stripMargin))
      .withColumn("raw", expr(
        "CAST(tokens AS DECIMAL(38,0)) * (1000000 + excess_ppm)"))).head
    val norm = stepped.agg(sum("raw").as("raw_sum"))
    stepped.crossJoin(broadcast(norm))
      .withColumn("weight_ppm",
        expr("CAST((raw * 1000000) DIV raw_sum AS BIGINT)"))
      .select("source", "n_docs", "tokens", "avg_loss_micro", "excess_ppm",
        "weight_ppm")
      .orderBy("source")
  }

  private[graft] def mixtureLearnedFrom(s: SparkSession, dir: String,
      m: LrModel): DataFrame =
    mixtureFromStats(mixtureStats(Tables(s, dir, "documents"), m))

  private def mixtureLearned(s: SparkSession, dir: String): DataFrame =
    mixtureLearnedFrom(s, dir,
      lrFitCached(s, dir, graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))).head._1))

  /** Gate for the learned mixture (rows-only family contract: every
    * non-oracled member is shadowed by an oracle-green gate): run the
    * whole reweighting twice from the same proxy — bit-identical; floor
    * normalization sums to 1e6 within n_sources floor slack; every
    * weight positive; and the reweighting is MONOTONE — ranking sources
    * by excess loss ranks them identically by their upsampling factor
    * weight/tokens (the DoReMi contract that harder domains get more
    * mass). The oracle pins n_sources from the data plus the flag.
    */
  private def mixtureLearnedGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = lrFitCached(s, dir, graft.Ckpt.settle(nbTokens(Tables(s, dir, "documents"))).head._1)
    val (t1, _) = graft.Ckpt.settle(mixtureLearnedFrom(s, dir, m)).head
    val t2 = mixtureLearnedFrom(s, dir, m)
    val rows = t1.collect()
    val n = rows.length.toLong
    val wSum = rows.map(_.getLong(5)).sum
    val allPos = rows.forall(_.getLong(5) > 0L)
    // upsampling factor = weight/tokens, exact rationals compared by
    // cross-multiplication: w_i/t_i > w_j/t_j ⟺ w_i·t_j > w_j·t_i.
    // Floor normalization perturbs each weight by < 1, which can invert
    // the ratio order between sources whose excess is (near-)equal — so
    // monotonicity is asserted only across pairs with a ≥ 1000 ppm excess
    // gap, where the true ratio gap dwarfs the floor slack, and there it
    // must hold STRICTLY (harder domains get strictly more upsampling).
    val monotone = (for {
      hi <- rows; lo <- rows
      if hi.getLong(4) >= lo.getLong(4) + 1000L
    } yield BigInt(hi.getLong(5)) * BigInt(lo.getLong(2)) >
      BigInt(lo.getLong(5)) * BigInt(hi.getLong(2))).forall(identity)
    val ok = graft.Gate.all("dx_mixture_learned_gate")(
      "runs_equal" -> graft.Gate.sameRows(t1, t2),
      "weights_positive" -> allPos,
      "monotone_in_excess" -> monotone,
      "weights_sum_1e6" -> (wSum <= 1000000L && wSum >= 1000000L - n))
    Seq((n, ok)).toDF("n_sources", "mixture_ok")
  }

  private val mixtureLearnedGateSql =
    """SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(1 AS BOOLEAN) AS mixture_ok
      |FROM documents""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dx_dsir", dsir, Some(dsirSql)),
    QueryDef("dx_lr_train", lrTrainQuery, None),
    QueryDef("dx_lr_classify", lrClassify, None, warm = true),
    QueryDef("dx_lr_gate", lrGate, Some(lrGateSql), warm = true),
    QueryDef("st_lr_score_gate", lrScoreGate, Some(lrScoreGateSql), warm = true),
    QueryDef("dx_mixture_learned", mixtureLearned, None, warm = true),
    QueryDef("dx_mixture_learned_gate", mixtureLearnedGate,
      Some(mixtureLearnedGateSql), warm = true),
    QueryDef("dx_nb_train", nbTrain, Some(nbTrainSql)),
    QueryDef("st_nb_apply_gate", nbApplyGate, Some(nbTrainSql)),
    QueryDef("dx_nb_classify", nbClassify, Some(nbClassifySql)),
    QueryDef("dx_split_stratified", splitStratified, Some(splitStratifiedSql)),
    QueryDef("dx_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("dx_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("dx_unigram_train", unigramTrain, Some(unigramTrainSql)),
    QueryDef("dx_unigram_encode", unigramEncode, Some(unigramEncodeSql)),
    QueryDef("dx_wordpiece", wordpieceEncode, Some(wordpieceEncodeSql)),
    QueryDef("dx_wordpiece_usage", wordpieceUsage, Some(wordpieceUsageSql)),
    QueryDef("dx_contamination_report", contaminationReport,
      Some(contaminationReportSql)))
}
