package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.functions.Hashing
import graft.operators.{Combine, Components, Dedupe, Link, Lookup, Scores}
import graft.eval.PrecisionRecall
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Matchbox core surface (SURVEY.md §2, "Matchbox core") exercised over the
  * synthetic warehouse: customer/supplier play the roles of two sources to
  * index, dedupe, link, resolve and evaluate.
  */
object Matchbox {

  // ---- source indexing ------------------------------------------------
  private val indexCols = Seq("c_name", "c_nationkey", "c_mktsegment")

  private def sourceIndex(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    c.select(
      col("c_custkey").as("rec_key"),
      Hashing.rowHash(c, indexCols).as("row_hash"))
      .orderBy("rec_key")
  }

  private val sourceIndexSql =
    s"""SELECT c_custkey AS rec_key, ${Hashing.rowHashSql(indexCols)} AS row_hash
       |FROM customer ORDER BY rec_key""".stripMargin

  /** Order-invariant whole-table content digest (reference:
    * common/hash.py `hash_arrow_table` — row hashes sorted then digested, so
    * the hash is independent of row order / partitioning). At 100 TB this
    * would tree-hash per partition then combine; the sorted-aggregate form
    * is the semantic contract.
    */
  private def tableHash(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    c.select(Hashing.rowHash(c, indexCols).as("h"))
      .agg(
        Hashing.clusterHash(col("h")).as("table_hash"),
        count(lit(1)).as("n_rows"))
  }

  private val tableHashSql =
    s"""SELECT ${Hashing.clusterHashSql("h")} AS table_hash, count(*) AS n_rows
       |FROM (SELECT ${Hashing.rowHashSql(indexCols)} AS h FROM customer) t""".stripMargin

  /** The hash WIRE format a matchbox client sees (reference
    * common/hash.py:27-37 `hash_to_base64`/`base64_to_hash` and
    * :220-232 `hash_model_results`/`hash_clusters`): model-result and
    * cluster fingerprints via the full `hash_arrow_table`
    * canonicalisation (sorted-pair collapse, sorted column names, list
    * explode, sorted row digests), plus the url-safe base64 codec, all
    * replayed bit-for-bit by the DuckDB oracle. Model pairs arrive in
    * BOTH orientations (flip on odd keys) — the sorted-list collapse must
    * erase the difference. The byte-exact `referenceExact` digest path is
    * pinned against hashlib-derived vectors in FunctionsSpec (DuckDB's
    * sha256 cannot take BLOBs, so the oracle pins the hex-chain mode).
    */
  private def hashWire(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val supp = Tables(s, dir, "supplier")
    val joined = cust.join(supp, col("c_custkey") === col("s_suppkey"))
      .select((col("c_custkey") * 2).cast("long").as("ca"),
        (col("s_suppkey") * 2 + 1).cast("long").as("sb"))
    // orientation flips on odd keys: hash_model_results must not care
    val results = joined.select(
      when(col("ca") % 4 === 2, col("sb")).otherwise(col("ca")).as("left_id"),
      when(col("ca") % 4 === 2, col("ca")).otherwise(col("sb")).as("right_id"))
    val clusters = cust.select(
      col("c_nationkey").cast("long").as("parent_id"),
      col("c_custkey").cast("long").as("child_id"))
    val rh = Hashing.modelResultsHash(results)
      .select(col("table_hash").as("results_hash"), col("n_rows").as("n_rows_results"))
    val ch = Hashing.clustersHash(clusters)
      .select(col("table_hash").as("clusters_hash"), col("n_rows").as("n_rows_clusters"))
    rh.crossJoin(ch) // two one-row frames
      .select(
        col("results_hash"),
        Hashing.hashToBase64(unhex(col("results_hash"))).as("results_hash_b64"),
        col("clusters_hash"),
        col("n_rows_results"), col("n_rows_clusters"),
        (lower(hex(Hashing.base64ToHash(
          Hashing.hashToBase64(unhex(col("results_hash")))))) === col("results_hash"))
          .as("roundtrip_ok"))
  }

  private val hashWireSql = {
    val us = Hashing.UnitSep; val rs = Hashing.RecordSep
    s"""WITH p AS (
       |  SELECT CAST(2 * c_custkey AS BIGINT) AS a,
       |    CAST(2 * s_suppkey + 1 AS BIGINT) AS b
       |  FROM customer JOIN supplier ON c_custkey = s_suppkey),
       |e AS (SELECT unnest([least(a, b), greatest(a, b)]) AS v FROM p),
       |rh AS (SELECT sha256(concat('sorted_list', '$us',
       |    coalesce(CAST(v AS VARCHAR), chr(0)), '$rs')) AS h FROM e),
       |r1 AS (SELECT
       |    CASE WHEN count(*) = 0 THEN 'empty_table_hash'
       |      ELSE sha256(string_agg(h, '' ORDER BY h)) END AS results_hash,
       |    count(*) AS n_rows_results
       |  FROM rh),
       |c0 AS (SELECT CAST(c_nationkey AS BIGINT) AS parent_id,
       |    CAST(c_custkey AS BIGINT) AS child_id FROM customer),
       |g AS (SELECT parent_id, list_sort(list_distinct(list(child_id))) AS child_ids
       |  FROM c0 GROUP BY parent_id),
       |o AS (SELECT child_ids,
       |    row_number() OVER (ORDER BY child_ids) AS cluster_ordinal FROM g),
       |ce AS (SELECT cluster_ordinal, unnest(child_ids) AS child_id FROM o),
       |crh AS (SELECT sha256(concat(
       |    'child_id', '$us', coalesce(CAST(child_id AS VARCHAR), chr(0)), '$rs',
       |    'cluster_ordinal', '$us', CAST(cluster_ordinal AS VARCHAR), '$rs')) AS h
       |  FROM ce),
       |r2 AS (SELECT
       |    CASE WHEN count(*) = 0 THEN 'empty_table_hash'
       |      ELSE sha256(string_agg(h, '' ORDER BY h)) END AS clusters_hash,
       |    count(*) AS n_rows_clusters
       |  FROM crh)
       |SELECT r1.results_hash,
       |  ${Hashing.hashToBase64Sql("unhex(r1.results_hash)")} AS results_hash_b64,
       |  r2.clusters_hash, r1.n_rows_results, r2.n_rows_clusters,
       |  CAST(1 AS BOOLEAN) AS roundtrip_ok
       |FROM r1, r2""".stripMargin
  }

  // ---- combine types --------------------------------------------------
  private def custSrc(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(
      col("c_custkey").as("rec_key"), col("c_name").as("name"),
      col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("mktsegment"))

  private def suppSrc(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier").select(
      col("s_suppkey").as("rec_key"), col("s_name").as("name"),
      col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"))

  private def queryConcat(s: SparkSession, dir: String): DataFrame =
    Combine.concat(Seq("customer" -> custSrc(s, dir), "supplier" -> suppSrc(s, dir)))
      .orderBy("source", "rec_key")

  private val queryConcatSql =
    """SELECT 'customer' AS source, c_custkey AS rec_key, c_name AS name,
      |  c_nationkey AS nationkey, c_acctbal AS acctbal, c_mktsegment AS mktsegment
      |FROM customer
      |UNION ALL
      |SELECT 'supplier', s_suppkey, s_name, s_nationkey, s_acctbal, NULL
      |FROM supplier
      |ORDER BY source, rec_key""".stripMargin

  private def queryExplode(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"), col("c_mktsegment").as("mktsegment"))
    val r = Tables(s, dir, "orders")
      .select(col("o_custkey").as("id"), col("o_orderkey"), col("o_orderstatus"))
    Combine.explode(l, r, "id")
      .orderBy(col("id"), col("o_orderkey"))
  }

  private val queryExplodeSql =
    """SELECT DISTINCT coalesce(l.id, r.id) AS id, l.name AS name, l.mktsegment AS mktsegment,
      |  r.o_orderkey, r.o_orderstatus
      |FROM (SELECT c_custkey AS id, c_name AS name, c_mktsegment AS mktsegment FROM customer) l
      |FULL JOIN (SELECT o_custkey AS id, o_orderkey, o_orderstatus FROM orders) r
      |  ON l.id = r.id
      |ORDER BY id NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  /** N-ary explode over three sources (reference queries.py:150-210: one
    * combine call over all requested sources). events.user_id only overlaps
    * the low customer keys, so every full-outer branch (all three present,
    * customer-only, event-only) is exercised.
    */
  private def queryExplode3(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_mktsegment").as("mktsegment"))
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey").as("id"), col("o_orderstatus").as("orderstatus"))
    val e = Tables(s, dir, "events")
      .select(col("user_id").as("id"), col("event_type"))
    Combine.explode(Seq(c, o, e), "id")
      .orderBy("id", "orderstatus", "event_type")
  }

  private val queryExplode3Sql =
    """WITH c AS (SELECT c_custkey AS id, c_mktsegment AS mktsegment FROM customer),
      |     o AS (SELECT o_custkey AS id, o_orderstatus AS orderstatus FROM orders),
      |     e AS (SELECT user_id AS id, event_type FROM events),
      |     co AS (SELECT coalesce(c.id, o.id) AS id, mktsegment, orderstatus
      |            FROM c FULL JOIN o ON c.id = o.id)
      |SELECT DISTINCT coalesce(co.id, e.id) AS id, mktsegment, orderstatus, event_type
      |FROM co FULL JOIN e ON co.id = e.id
      |ORDER BY id, orderstatus NULLS FIRST, event_type NULLS FIRST""".stripMargin

  private def querySetAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey").as("id"), col("o_orderstatus"), col("o_orderpriority"))
    Combine.setAgg(o, "id")
      .select(
        col("id"),
        array_join(col("o_orderstatus"), ",").as("statuses"),
        array_join(col("o_orderpriority"), ",").as("priorities"))
      .orderBy("id")
  }

  private val querySetAggSql =
    """SELECT o_custkey AS id,
      |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities
      |FROM orders GROUP BY o_custkey ORDER BY id""".stripMargin

  // ---- cleaning -------------------------------------------------------
  private def cleanQuery(s: SparkSession, dir: String): DataFrame =
    Combine.clean(
      Tables(s, dir, "customer").withColumnRenamed("c_custkey", "id"),
      "id",
      Map(
        "name_clean" -> "lower(trim(c_name))",
        "name_sig" -> "regexp_replace(c_name, '[0-9]+', '#')",
        "bal_band" -> "CAST(floor(c_acctbal / 1000) AS BIGINT)"))
      .orderBy("id")

  private val cleanSql =
    """SELECT c_custkey AS id,
      |  lower(trim(c_name)) AS name_clean,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_sig,
      |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      |FROM customer ORDER BY id""".stripMargin

  // ---- dedupe ---------------------------------------------------------
  private val dedupeFields = Seq("c_nationkey", "c_mktsegment")

  private def dedupeNaive(s: SparkSession, dir: String): DataFrame =
    Dedupe.naive(Tables(s, dir, "customer"), "c_custkey", dedupeFields)
      .orderBy("left_id", "right_id")

  private val dedupeNaiveSql =
    Dedupe.naiveSql("customer", "c_custkey", dedupeFields) + "\nORDER BY left_id, right_id"

  // ---- linkers --------------------------------------------------------
  private val linkComparisons = Seq(
    "l.c_custkey = r.s_suppkey",
    "l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 10")

  private def linkDeterministic(s: SparkSession, dir: String): DataFrame =
    Link.deterministic(
      Tables(s, dir, "customer"), Tables(s, dir, "supplier"),
      "c_custkey", "s_suppkey", linkComparisons)
      .orderBy("left_id", "right_id")

  private val linkDeterministicSql =
    """SELECT left_id, right_id, CAST(1.0 AS DOUBLE) AS score FROM (
      |  SELECT DISTINCT left_id, right_id FROM (
      |    SELECT l.c_custkey AS left_id, r.s_suppkey AS right_id
      |    FROM customer l JOIN supplier r ON l.c_custkey = r.s_suppkey
      |    UNION ALL
      |    SELECT l.c_custkey, r.s_suppkey
      |    FROM customer l JOIN supplier r
      |      ON l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 10))
      |ORDER BY left_id, right_id""".stripMargin

  private def linkRounds(s: SparkSession, dir: String): DataFrame =
    Link.deterministicRounds(
      Tables(s, dir, "customer"), Tables(s, dir, "supplier"),
      "c_custkey", "s_suppkey",
      Seq(
        Seq("l.c_custkey = r.s_suppkey"),
        Seq("l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 5")))
      .orderBy("left_id", "right_id")

  private val linkRoundsSql =
    """WITH r1 AS (
      |  SELECT DISTINCT l.c_custkey AS left_id, r.s_suppkey AS right_id
      |  FROM customer l JOIN supplier r ON l.c_custkey = r.s_suppkey),
      |c2 AS (SELECT * FROM customer WHERE c_custkey NOT IN (SELECT left_id FROM r1)),
      |s2 AS (SELECT * FROM supplier WHERE s_suppkey NOT IN (SELECT right_id FROM r1)),
      |r2 AS (
      |  SELECT DISTINCT l.c_custkey AS left_id, r.s_suppkey AS right_id
      |  FROM c2 l JOIN s2 r
      |    ON l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 5)
      |SELECT left_id, right_id, CAST(1.0 AS DOUBLE) AS score
      |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
      |ORDER BY left_id, right_id""".stripMargin

  private def linkWeighted(s: SparkSession, dir: String): DataFrame =
    Link.weighted(
      Tables(s, dir, "customer"), Tables(s, dir, "supplier"),
      "c_custkey", "s_suppkey",
      Seq(
        "l.c_custkey = r.s_suppkey" -> 1.0,
        "l.c_nationkey = r.s_nationkey" -> 0.5,
        "l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 50" -> 0.5),
      threshold = 0.5)
      .orderBy("left_id", "right_id")

  private val linkWeightedSql =
    """SELECT left_id, right_id, score FROM (
      |  SELECT left_id, right_id, sum(w) / 2000.0 AS score FROM (
      |    SELECT DISTINCT l.c_custkey AS left_id, r.s_suppkey AS right_id, 1000 AS w
      |    FROM customer l JOIN supplier r ON l.c_custkey = r.s_suppkey
      |    UNION ALL
      |    SELECT DISTINCT l.c_custkey, r.s_suppkey, 500
      |    FROM customer l JOIN supplier r ON l.c_nationkey = r.s_nationkey
      |    UNION ALL
      |    SELECT DISTINCT l.c_custkey, r.s_suppkey, 500
      |    FROM customer l JOIN supplier r
      |      ON l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 50)
      |  GROUP BY left_id, right_id)
      |WHERE score >= 0.5
      |ORDER BY left_id, right_id""".stripMargin

  private def evenCustomers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
  private def oddCustomers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter(col("c_custkey") % 2 === 1)

  private def linkFellegiSunter(s: SparkSession, dir: String): DataFrame =
    Link.fellegiSunter(
      evenCustomers(s, dir), oddCustomers(s, dir),
      "c_custkey", "c_custkey",
      blocking = "l.c_nationkey = r.c_nationkey",
      comparisons = Seq(
        ("l.c_mktsegment = r.c_mktsegment", 2.5, -1.2),
        ("abs(l.c_acctbal - r.c_acctbal) < 100", 3.1, -0.8)),
      threshold = 1.5)
      .orderBy("left_id", "right_id")

  private val linkFellegiSunterSql =
    """SELECT * FROM (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    (CASE WHEN l.c_mktsegment = r.c_mktsegment
      |          THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
      |   + CASE WHEN abs(l.c_acctbal - r.c_acctbal) < 100
      |          THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END) AS match_weight
      |  FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) l
      |  JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 1) r
      |    ON l.c_nationkey = r.c_nationkey)
      |WHERE match_weight >= 1.5
      |ORDER BY left_id, right_id""".stripMargin

  /** EM-trained Fellegi–Sunter — not SQL-expressible (iterative EM); gated by
    * MatchboxSpec instead. Follows the splink training recipe (reference
    * splinklinker.py:69-82): u is first estimated from a deterministic
    * random pair sample (no blocking bias), then held fixed while EM trains
    * λ and m on the blocked candidates.
    */
  // One EM recipe shared by mb_link_em and its gate — if the query's
  // configuration drifts, the gate must drift with it or it gates nothing.
  private val emComparisons = Seq(
    "l.c_mktsegment = r.c_mktsegment",
    "abs(l.c_acctbal - r.c_acctbal) < 100")
  private val emBlocking =
    "l.c_nationkey = r.c_nationkey AND abs(l.c_custkey - r.c_custkey) <= 20"

  private def emRun(s: SparkSession, dir: String, u: Seq[Double]) =
    Link.fellegiSunterEm(
      evenCustomers(s, dir), oddCustomers(s, dir),
      "c_custkey", "c_custkey", emBlocking, emComparisons,
      threshold = 0.0, uInit = Some(u), trainU = false)

  private def emSampledU(s: SparkSession, dir: String): Seq[Double] =
    Link.estimateU(evenCustomers(s, dir), oddCustomers(s, dir),
      "c_custkey", "c_custkey", emComparisons, maxPairs = 250000L)

  private def linkEm(s: SparkSession, dir: String): DataFrame =
    emRun(s, dir, emSampledU(s, dir))._1
      .orderBy("left_id", "right_id")

  /** Driver-gated EM evidence (the mb_link_em twin is iterative, so it has
    * no SQL oracle): mb_link_em's claim is that it is *deterministic given
    * fixed iterations* — so run the whole pipeline twice from scratch
    * (candidate generation, pattern collection, EM loop) and require
    * bit-identical learned parameters AND a bit-identical score-set hash,
    * plus discriminative parameters (m > u on the segment comparison) and
    * scores inside [0,1]. Emitted as a one-row boolean whose oracle is
    * pinned `true`, converting the spec-only evidence into a per-round gate.
    */
  private def linkEmGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = emSampledU(s, dir)
    // The blocked candidate join is the expensive half and is itself
    // deterministic (equi-join + literal CASE gammas), so materialise it
    // ONCE; each determinism run still re-executes the distributed pattern
    // aggregation, the EM fit, and the score projection from that frame —
    // the parts whose run-to-run stability the gate actually asserts
    // (float accumulation order, collect() ordering, driver arithmetic).
    val cand = Link.emCandidates(
      evenCustomers(s, dir), oddCustomers(s, dir),
      "c_custkey", "c_custkey", emBlocking, emComparisons)
      .localCheckpoint(false)
    def run() = {
      val (scored, params) = Link.fellegiSunterEmOnCandidates(
        cand, emComparisons.size, threshold = 0.0,
        uInit = Some(u), trainU = false)
      (scored.localCheckpoint(false), params)
    }
    def scoreHash(df: DataFrame): Long = df
      .agg(expr(
        "bit_xor(xxhash64(left_id, right_id, CAST(round(score, 9) AS STRING)))"))
      .head().getLong(0)
    val (scored1, p1) = run()
    val (scored2, p2) = run()
    val stats = scored1.agg(
      min("score"), max("score"), count(lit(1))).head()
    val ok = p1 == p2 && scoreHash(scored1) == scoreHash(scored2) &&
      // at least one comparison learned discriminative params (which one
      // carries the signal varies with the data: segment at sf0.001,
      // acctbal proximity at sf0.01)
      p1.exists { case (m, uu) => m > uu } &&
      stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0 &&
      stats.getLong(2) > 0
    Seq(ok).toDF("em_ok")
  }

  private val linkEmGateSql = "SELECT CAST(1 AS BOOLEAN) AS em_ok"

  /** Blocking-rule-scoped EM training sessions (splink's
    * `estimate_parameters_using_expectation_maximisation` per rule;
    * reference splinklinker.py:80-140) as a driver gate, composing the
    * FULL splink recipe deterministically: λ from deterministic rules
    * (`estimate_probability_two_random_records_match`), u from unblocked
    * random-pair sampling, then one m-training session per blocking rule
    * with the rule-fixed comparison dropped from that session's model.
    *
    * Gate asserts (oracle pinned true):
    *  - run-twice determinism of the whole composition — λ, u, every
    *    per-session m, and the composed means bit-identical;
    *  - per-rule m/u separation — the nationkey-blocked session trains
    *    segment+acctbal but NOT nationkey, the segment-blocked session
    *    trains nationkey+acctbal but NOT segment (None in the session
    *    matrix), and the two sessions' acctbal estimates are both present
    *    (composed as their mean);
    *  - discriminative signal — composed m exceeds sampled u on at least
    *    one comparison, all parameters inside (0,1).
    */
  private def linkEmRulesGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val left = evenCustomers(s, dir)
    val right = oddCustomers(s, dir)
    val comparisons = Seq(
      "l.c_mktsegment = r.c_mktsegment",          // 0: fixed under rule B
      "abs(l.c_acctbal - r.c_acctbal) < 100",     // 1: free in both sessions
      "l.c_nationkey = r.c_nationkey")            // 2: fixed under rule A
    val sessions = Seq(
      ("l.c_nationkey = r.c_nationkey AND abs(l.c_custkey - r.c_custkey) <= 20",
        Set(2)),
      ("l.c_mktsegment = r.c_mktsegment AND abs(l.c_custkey - r.c_custkey) <= 20",
        Set(0)))
    def run() = {
      val lambda = Link.estimateLambda(left, right, "c_custkey", "c_custkey",
        Seq("r.c_custkey = l.c_custkey + 1"), recall = 0.8)
      val u = Link.estimateU(left, right, "c_custkey", "c_custkey",
        comparisons, maxPairs = 250000L)
      val (m, perSession) = Link.emPerRuleTraining(
        left, right, "c_custkey", "c_custkey", sessions, comparisons,
        uFixed = u, lambda = lambda)
      (lambda, u, m, perSession)
    }
    val (l1, u1, m1, s1) = run()
    val (l2, u2, m2, s2) = run()
    val separation =
      s1(0)(2).isEmpty && s1(0)(0).isDefined && s1(0)(1).isDefined &&
      s1(1)(0).isEmpty && s1(1)(2).isDefined && s1(1)(1).isDefined &&
      // acctbal trained twice -> composed as the mean of both sessions
      m1(1) == (s1(0)(1).get + s1(1)(1).get) / 2
    val ok = l1 == l2 && u1 == u2 && m1 == m2 && s1 == s2 &&
      separation &&
      m1.zip(u1).exists { case (m, u) => m > u } &&
      m1.forall(v => v > 0.0 && v < 1.0) && l1 > 0.0 && l1 < 1.0
    Seq(ok).toDF("em_rules_ok")
  }

  private val linkEmRulesGateSql = "SELECT CAST(1 AS BOOLEAN) AS em_rules_ok"

  // ---- multi-level fuzzy comparisons ---------------------------------
  /** Seeded fuzzy-duplicate pair: each ODD customer carries a perturbed
    * copy of its even neighbour's synthetic name (md5-prefix — diverse
    * 9-char strings, unlike the mechanical `Customer#...` names), with the
    * perturbation keyed off the custkey: exact copy, one char dropped
    * (JW ≈ 0.978), three chars dropped (JW ≈ 0.933), or reversed (miss).
    * Both engines derive the names with identical md5/substr/reverse calls,
    * so the fuzzy comparison levels are exercised bit-exactly.
    */
  private def fuzzyLeft(s: SparkSession, dir: String): DataFrame =
    evenCustomers(s, dir)
      .withColumn("sname", expr("substr(md5(CAST(c_custkey AS STRING)), 1, 9)"))
      .withColumn("blk", expr("c_custkey DIV 20"))

  private def fuzzyRight(s: SparkSession, dir: String): DataFrame =
    oddCustomers(s, dir)
      .withColumn("base", expr("substr(md5(CAST(c_custkey - 1 AS STRING)), 1, 9)"))
      .withColumn("sname", expr(
        """CASE CAST(c_custkey % 10 AS INT)
          |  WHEN 5 THEN substr(base, 1, 8)
          |  WHEN 7 THEN substr(base, 1, 6)
          |  WHEN 9 THEN reverse(base)
          |  ELSE base END""".stripMargin))
      .withColumn("blk", expr("(c_custkey - 1) DIV 20"))

  /** Blocking-scheme quality census — the evaluation loop that precedes
    * every linkage run (splink's blocking-rule analysis surface: before
    * trusting a blocking rule you measure what it COSTS and what it
    * MISSES): for each candidate-generation scheme over the seeded fuzzy
    * corpus, the candidate count, how many of the planted truth pairs it
    * covers (pair completeness), and the reduction ratio vs the full
    * |L|×|R| cross product — the two numbers that trade off against each
    * other in blocking design, in exact permille. The custkey-band rule
    * is complete by construction; the segment rule demonstrates a cheap
    * rule that silently drops ~4/5 of the truth; the union shows the
    * standard multi-rule recovery.
    *
    * The scale-critical move: candidate counts are NEVER materialized as
    * pairs. |candidates| for an equi-rule is Σ over key values of
    * |L_k|·|R_k| — arithmetic over grouped COUNTS — and the union count
    * comes from inclusion–exclusion with the both-rules intersection
    * (grouped by the compound key). A bad rule's 11M-pair candidate set
    * costs this census two tiny aggregates instead of an 11M-row join
    * (the DuckDB oracle deliberately keeps the naive materializing
    * formulation, so the arithmetic is cross-checked against real joins).
    * Truth coverage reads off the truth pairs' own attributes.
    */
  private def blockingQuality(s: SparkSession, dir: String): DataFrame = {
    val le = fuzzyLeft(s, dir).select(col("c_custkey").as("lid"),
      col("c_mktsegment").as("lseg"), col("blk").as("lblk"))
    val ri = fuzzyRight(s, dir).select(col("c_custkey").as("rid"),
      col("c_mktsegment").as("rseg"), col("blk").as("rblk"))
    def pairCount(lKeys: Seq[String], rKeys: Seq[String], name: String) =
      le.groupBy(lKeys.map(col): _*).agg(count(lit(1)).as("nl"))
        .join(ri.groupBy(rKeys.map(col): _*).agg(count(lit(1)).as("nr")),
          lKeys.zip(rKeys).map { case (l, r) => col(l) === col(r) }
            .reduce(_ && _))
        .agg(coalesce(sum(col("nl") * col("nr")), lit(0L)).as(name))
    val truthAttrs = le.join(ri, col("lid") === col("rid") - 1)
      .select((col("lblk") === col("rblk")).as("m1"),
        (col("lseg") === col("rseg")).as("m2"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("m1"), 1L).otherwise(0L)).as("cov1"),
        sum(when(col("m2"), 1L).otherwise(0L)).as("cov2"),
        sum(when(col("m1") || col("m2"), 1L).otherwise(0L)).as("cov3"))
    val row = pairCount(Seq("lblk"), Seq("rblk"), "c1")
      .crossJoin(broadcast(pairCount(Seq("lseg"), Seq("rseg"), "c2")))
      .crossJoin(broadcast(pairCount(Seq("lblk", "lseg"), Seq("rblk", "rseg"), "c12")))
      .crossJoin(broadcast(le.agg(count(lit(1)).as("n_l"))))
      .crossJoin(broadcast(ri.agg(count(lit(1)).as("n_r"))))
      .crossJoin(broadcast(truthAttrs))
    row.select(
        expr("stack(3, '1_block20', c1, cov1, '2_segment', c2, cov2, " +
          "'3_union', c1 + c2 - c12, cov3) AS (scheme, n_cand, n_covered)"),
        col("n_truth"), col("n_l"), col("n_r"))
      .select(col("scheme"), col("n_cand"), col("n_truth"), col("n_covered"),
        expr("CAST((1000 * n_covered) DIV n_truth AS BIGINT)").as("completeness_permille"),
        expr("CAST(1000 - (1000 * n_cand) DIV (n_l * n_r) AS BIGINT)").as("reduction_permille"))
      .orderBy("scheme")
  }

  private val blockingQualitySql =
    """WITH le AS (
      |  SELECT c_custkey AS lid, c_mktsegment AS lseg, c_custkey // 20 AS lblk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey AS rid, c_mktsegment AS rseg,
      |    (c_custkey - 1) // 20 AS rblk
      |  FROM customer WHERE c_custkey % 2 = 1),
      |truth AS (
      |  SELECT lid AS tl, rid AS tr FROM le JOIN ri ON lid = rid - 1),
      |c1 AS (SELECT '1_block20' AS scheme, lid, rid
      |       FROM le JOIN ri ON lblk = rblk),
      |c2 AS (SELECT '2_segment' AS scheme, lid, rid
      |       FROM le JOIN ri ON lseg = rseg),
      |c3 AS (SELECT '3_union' AS scheme, lid, rid FROM (
      |  SELECT DISTINCT lid, rid FROM (
      |    SELECT lid, rid FROM c1 UNION ALL SELECT lid, rid FROM c2))),
      |tot AS (
      |  SELECT (SELECT count(*) FROM le) AS n_l,
      |    (SELECT count(*) FROM ri) AS n_r,
      |    (SELECT count(*) FROM truth) AS n_truth),
      |cc AS (
      |  SELECT scheme, count(*) AS n_cand,
      |    CAST(count(t.tl) AS BIGINT) AS n_covered
      |  FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
      |        UNION ALL SELECT * FROM c3) c
      |  LEFT JOIN truth t ON c.lid = t.tl AND c.rid = t.tr
      |  GROUP BY scheme)
      |SELECT scheme, n_cand, CAST(n_truth AS BIGINT) AS n_truth, n_covered,
      |  CAST((1000 * n_covered) // n_truth AS BIGINT) AS completeness_permille,
      |  CAST(1000 - (1000 * n_cand) // (n_l * n_r) AS BIGINT) AS reduction_permille
      |FROM cc CROSS JOIN tot ORDER BY scheme""".stripMargin

  /** META-BLOCKING (Papadakis et al., TKDE 2013 "Meta-Blocking: Taking
    * Entity Resolution to the Next Level" — the standard block-collection
    * refinement between blocking and pairwise comparison at web scale):
    * four redundancy-positive blocking schemes over one dirty-ER customer
    * collection, then (a) BLOCK PURGING — oversized blocks (> 256
    * entities) dropped, since their pairs are overwhelmingly superfluous
    * and, at scale, they are exactly the keys that would skew the
    * pair-generation shuffle; (b) every co-occurring pair weighted by the
    * CBS scheme (Common Blocks Scheme = number of blocks the two entities
    * share); (c) WEIGHTED EDGE PRUNING — keep pairs whose weight reaches
    * the global mean edge weight.
    *
    * Scale shape: block keys are a map-side explode; purging is one
    * block-keyed count broadcast back onto the key stream (bounding
    * per-block fanout to cap² — the skew guard); pair generation is one
    * equi-join shuffle on block key; CBS one pair-keyed aggregate with
    * map-side combine; the WEP threshold is a broadcast scalar compared
    * exactly by cross-multiplication (cbs·|E| ≥ Σw) — no ratio, no
    * floating point, bit-exact cross-engine.
    */
  /** The purged-block CBS-weighted pair graph shared by both pruning
    * schemes (WEP and CNP).
    */
  private def cbsPairs(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val keys = c.select(col("c_custkey").as("id"), explode(array(
      concat(lit("seg:"), col("c_mktsegment")),
      concat(lit("nat:"), col("c_nationkey").cast("string")),
      concat(lit("blk:"), expr("CAST(c_custkey DIV 20 AS STRING)")),
      concat(lit("bal:"),
        expr("CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS STRING)"))))
      .as("bk"))
    val kept = keys.join(
      broadcast(keys.groupBy("bk").agg(count(lit(1)).as("sz"))
        .filter(col("sz").between(2, 256)).select("bk")),
      "bk")
    kept.as("a").join(kept.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .agg(count(lit(1)).as("cbs"))
      // every consumer reads the pair table at least twice (WEP: pairs +
      // their global mean; CNP: both union orientations) — materialise
      // the block self-join once instead of replaying it per branch
      .localCheckpoint(false)
  }

  private def metaBlocking(s: SparkSession, dir: String): DataFrame = {
    val pairs = cbsPairs(s, dir)
    val tot = pairs.agg(sum("cbs").as("w_sum"), count(lit(1)).as("n_edges"))
    pairs.crossJoin(broadcast(tot))
      .filter(col("cbs") * col("n_edges") >= col("w_sum"))
      .select("left_id", "right_id", "cbs")
      .orderBy("left_id", "right_id")
  }

  private val cbsPairsSql =
    """keys AS (
      |  SELECT c_custkey AS id, unnest([
      |    'seg:' || c_mktsegment,
      |    'nat:' || CAST(c_nationkey AS VARCHAR),
      |    'blk:' || CAST(c_custkey // 20 AS VARCHAR),
      |    'bal:' || CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS VARCHAR)
      |  ]) AS bk
      |  FROM customer),
      |kept AS (
      |  SELECT k.id, k.bk FROM keys k JOIN (
      |    SELECT bk FROM keys GROUP BY bk
      |    HAVING count(*) BETWEEN 2 AND 256) s USING (bk)),
      |pairs AS (
      |  SELECT a.id AS left_id, b.id AS right_id,
      |    CAST(count(*) AS BIGINT) AS cbs
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.id < b.id
      |  GROUP BY a.id, b.id)""".stripMargin

  private val metaBlockingSql =
    s"""WITH $cbsPairsSql,
       |tot AS (SELECT sum(cbs) AS w_sum, count(*) AS n_edges FROM pairs)
       |SELECT left_id, right_id, cbs FROM pairs CROSS JOIN tot
       |WHERE cbs * n_edges >= w_sum
       |ORDER BY left_id, right_id""".stripMargin

  /** MODEL-PARAMETER REPORT (splink's comparison-viewer table — the
    * per-level m/u/match-weight summary a reviewer reads alongside the
    * waterfall): for every level of every fuzzy comparison, m from the
    * labeled truth pairs (`mb_link_m_from_labels`' estimator), u from the
    * unblocked pair population (the `mb_sampled_u` recipe: hash-ordered
    * per-side sample that covers both halves entirely at these scales, so
    * the oracle can replay it as the full cross product), and the level's
    * match weight as the integer floor-log2 of the smoothed ppm ratio
    * (`length(bin(x))`, the DSIR device — no libm anywhere).
    *
    * Like `mb_sampled_u`, the estimation aggregates run at construction
    * (the pair population never survives into the returned plan); the
    * report itself is six literal rows. At 100 TB the u sample is
    * √maxPairs per side — bounded by protocol, not by the corpus.
    */
  private def linkParamsReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parallelism = s.sessionState.conf.numShufflePartitions
    // 8000/side = 64M sampled pairs, a bounded protocol cost at ANY
    // corpus scale (63245/side read 4 BILLION jaro-winkler pairs at sf1 —
    // measured 193 s; 64M is ~1/60th of that). The cap covers both halves
    // entirely at EVERY sf the correctness harness runs (sf0.01: 750/side;
    // sf0.1: 7500/side — the r16 advice caught that a 4000 cap silently
    // diverged from the full-cross oracle at sf0.1), so DuckDB replays the
    // sample as the full cross product at both.
    def sample(df: DataFrame) = df
      .orderBy(xxhash64(col("c_custkey")), col("c_custkey")).limit(8000)
    def gammaHist(cand: DataFrame): Map[(String, Long), Long] = cand
      .select(fuzzyComparisons(0).gammaOf.cast("long").as("gn"),
        fuzzyComparisons(1).gammaOf.cast("long").as("gs"))
      .select(expr(
        "stack(2, 'name', gn, 'segment', gs) AS (comparison, gamma)"))
      .groupBy("comparison", "gamma").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val mHist = gammaHist(fuzzyLeft(s, dir).alias("l")
      .join(fuzzyRight(s, dir).alias("r"),
        expr("l.c_custkey = r.c_custkey - 1")))
    val uHist = gammaHist(sample(fuzzyLeft(s, dir))
      .repartition(parallelism).alias("l")
      .crossJoin(broadcast(sample(fuzzyRight(s, dir)).alias("r"))))
    // per-comparison pair totals (every pair carries exactly one gamma
    // per comparison, so both comparisons total to the pair count)
    def totals(h: Map[(String, Long), Long]): Map[String, Long] =
      h.groupBy(_._1._1).view.mapValues(_.values.sum.max(1L)).toMap
    val (mTot, uTot) = (totals(mHist), totals(uHist))
    def bits(ppm: Long): Long =
      java.lang.Long.toBinaryString(math.max(1L, ppm)).length.toLong
    val rows = for {
      (comparison, levels) <- Seq(("name", 0L to 3L), ("segment", 0L to 1L))
      g <- levels
    } yield {
      val mPpm = 1000000L * mHist.getOrElse((comparison, g), 0L) /
        mTot.getOrElse(comparison, 1L)
      val uPpm = 1000000L * uHist.getOrElse((comparison, g), 0L) /
        uTot.getOrElse(comparison, 1L)
      (comparison, g, mPpm, uPpm, bits(mPpm) - bits(uPpm))
    }
    rows.toDF("comparison", "gamma", "m_ppm", "u_ppm", "weight_bits")
      .orderBy("comparison", "gamma")
  }

  // lazy: fuzzySrcSql is declared later in the file
  private lazy val linkParamsReportSql =
    s"""WITH $fuzzySrcSql,
       |tg AS (
       |  SELECT CASE WHEN l.sname = r.sname THEN 3
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
       |           ELSE 0 END AS gn,
       |         CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gs
       |  FROM le l JOIN ri r ON l.c_custkey = r.c_custkey - 1),
       |ug AS (
       |  SELECT CASE WHEN l.sname = r.sname THEN 3
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
       |           ELSE 0 END AS gn,
       |         CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gs
       |  FROM le l CROSS JOIN ri r),
       |grid AS (
       |  SELECT * FROM (VALUES
       |    ('name', 0), ('name', 1), ('name', 2), ('name', 3),
       |    ('segment', 0), ('segment', 1)) AS t(comparison, gamma)),
       |tm AS (SELECT comparison, gamma, count(*) AS n FROM (
       |         SELECT 'name' AS comparison, gn AS gamma FROM tg
       |         UNION ALL SELECT 'segment', gs FROM tg)
       |       GROUP BY comparison, gamma),
       |um AS (SELECT comparison, gamma, count(*) AS n FROM (
       |         SELECT 'name' AS comparison, gn AS gamma FROM ug
       |         UNION ALL SELECT 'segment', gs FROM ug)
       |       GROUP BY comparison, gamma),
       |tot AS (SELECT greatest(1, (SELECT sum(n) // 2 FROM tm)) AS nm,
       |               greatest(1, (SELECT sum(n) // 2 FROM um)) AS nu)
       |SELECT g.comparison, CAST(g.gamma AS BIGINT) AS gamma,
       |  CAST(1000000 * COALESCE(tm.n, 0) // nm AS BIGINT) AS m_ppm,
       |  CAST(1000000 * COALESCE(um.n, 0) // nu AS BIGINT) AS u_ppm,
       |  CAST(length(bin(greatest(1, 1000000 * COALESCE(tm.n, 0) // nm)))
       |     - length(bin(greatest(1, 1000000 * COALESCE(um.n, 0) // nu)))
       |    AS BIGINT) AS weight_bits
       |FROM grid g
       |LEFT JOIN tm ON tm.comparison = g.comparison AND tm.gamma = g.gamma
       |LEFT JOIN um ON um.comparison = g.comparison AND um.gamma = g.gamma
       |CROSS JOIN tot
       |ORDER BY 1, 2""".stripMargin

  /** CARDINALITY NODE PRUNING — the other canonical meta-blocking pruning
    * scheme (Papadakis et al. TKDE 2014, the precision-oriented
    * RECIPROCAL variant): each entity retains only its top-k weighted
    * co-occurrence edges (k = 4 here; production derives k from the
    * block-collection size), and a pair survives only when BOTH endpoints
    * retain it. The per-entity top-k runs on graft's custom bounded-heap
    * operator ([[graft.plans.TopK]] — partial-then-final `TopKPerKeyExec`,
    * k rows of heap state per entity, map-side combinable), NOT a
    * `row_number()` window: at web scale a window sorts every entity's
    * full candidate list, the heap keeps k. Ties broken (cbs DESC,
    * neighbor ASC) so retention is total-ordered and the DuckDB
    * `row_number` twin matches bit-for-bit.
    */
  /** CNP retention core, unordered — shared by the registered query and
    * the `mb_er_e2e` flagship.
    */
  private def cnpRetained(s: SparkSession, dir: String): DataFrame = {
    val pairs = cbsPairs(s, dir)
    val edges = pairs
      .select(col("left_id").as("e"), col("right_id").as("nbr"), col("cbs"))
      .unionByName(pairs
        .select(col("right_id").as("e"), col("left_id").as("nbr"), col("cbs")))
    graft.plans.TopK.perKey(edges, Seq("e"), "cbs", k = 4,
        descending = true, tieCols = Seq("nbr"))
      .select(least(col("e"), col("nbr")).as("left_id"),
        greatest(col("e"), col("nbr")).as("right_id"), col("cbs"))
      .groupBy("left_id", "right_id", "cbs")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") === 2) // reciprocal: retained from BOTH endpoints
      .select("left_id", "right_id", "cbs")
  }

  private def metaBlockingCnp(s: SparkSession, dir: String): DataFrame =
    cnpRetained(s, dir).orderBy("left_id", "right_id")

  /** END-TO-END ER FLAGSHIP over the r16 blocking stack (`mb_er_e2e` —
    * the dirty-ER twin of `mb_pipeline_e2e`, which blocks by rule): CNP
    * meta-blocking retains the candidate pairs → Fellegi–Sunter scoring
    * with the `mb_link_fellegi_sunter` literal weights over the retained
    * pairs (attributes fetched by two id equi-joins — candidates are the
    * small side after pruning, so both joins broadcast the attribute
    * projection at this scale and shuffle-hash at 100 TB) → threshold →
    * connected components over the surviving match edges → resolution
    * census (clusters, clustered records, largest cluster, edge count).
    * Every stage is a proven operator; the composition is what an ER user
    * ships.
    */
  private def erE2e(s: SparkSession, dir: String): DataFrame = {
    val attrs = Tables(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
        col("c_acctbal").as("bal"))
    val scored = cnpRetained(s, dir)
      .join(attrs.select(col("id").as("left_id"), col("seg").as("lseg"),
        col("bal").as("lbal")), "left_id")
      .join(attrs.select(col("id").as("right_id"), col("seg").as("rseg"),
        col("bal").as("rbal")), "right_id")
      .withColumn("w",
        when(col("lseg") === col("rseg"), lit(2.5)).otherwise(lit(-1.2)) +
        when(abs(col("lbal") - col("rbal")) < 100, lit(3.1)).otherwise(lit(-0.8)))
    val edges = scored.filter(col("w") >= 1.5)
      .select(col("left_id").as("src"), col("right_id").as("dst"))
      .localCheckpoint(false) // feeds components AND the census count
    val comp = Components.connected(edges)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("sz"))
    sizes.agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_records_clustered"),
        max("sz").as("max_cluster"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_match_edges"))))
      .select("n_clusters", "n_records_clustered", "max_cluster",
        "n_match_edges")
  }

  private val erE2eSql =
    s"""WITH RECURSIVE
       |$cbsPairsSql,
       |ed AS (
       |  SELECT left_id AS e, right_id AS nbr, cbs FROM pairs
       |  UNION ALL
       |  SELECT right_id, left_id, cbs FROM pairs),
       |rk AS (
       |  SELECT e, nbr, cbs,
       |    row_number() OVER (PARTITION BY e ORDER BY cbs DESC, nbr) AS rn
       |  FROM ed),
       |cnp AS (
       |  SELECT least(e, nbr) AS left_id, greatest(e, nbr) AS right_id, cbs
       |  FROM rk WHERE rn <= 4
       |  GROUP BY 1, 2, cbs HAVING count(*) = 2),
       |sc AS (
       |  SELECT c.left_id, c.right_id,
       |    (CASE WHEN a.c_mktsegment = b.c_mktsegment
       |          THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
       |     + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100
       |          THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END) AS w
       |  FROM cnp c
       |  JOIN customer a ON a.c_custkey = c.left_id
       |  JOIN customer b ON b.c_custkey = c.right_id),
       |me AS (SELECT left_id AS src, right_id AS dst FROM sc WHERE w >= 1.5),
       |edges AS (SELECT src, dst FROM me WHERE src <> dst
       |          UNION SELECT dst, src FROM me WHERE src <> dst),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS s
       |       FROM comp GROUP BY component)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_clusters,
       |  (SELECT CAST(sum(s) AS BIGINT) FROM sz) AS n_records_clustered,
       |  (SELECT CAST(max(s) AS BIGINT) FROM sz) AS max_cluster,
       |  (SELECT CAST(count(*) AS BIGINT) FROM me) AS n_match_edges""".stripMargin

  private val metaBlockingCnpSql =
    s"""WITH $cbsPairsSql,
       |ed AS (
       |  SELECT left_id AS e, right_id AS nbr, cbs FROM pairs
       |  UNION ALL
       |  SELECT right_id, left_id, cbs FROM pairs),
       |rk AS (
       |  SELECT e, nbr, cbs,
       |    row_number() OVER (PARTITION BY e ORDER BY cbs DESC, nbr) AS rn
       |  FROM ed)
       |SELECT least(e, nbr) AS left_id, greatest(e, nbr) AS right_id, cbs
       |FROM rk WHERE rn <= 4
       |GROUP BY 1, 2, cbs HAVING count(*) = 2
       |ORDER BY left_id, right_id""".stripMargin

  /** Edit-distance comparison ladder (splink's `levenshtein_at_thresholds`
    * surface — the other standard string comparison next to
    * jaro-winkler, preferred when typos are insert/delete-shaped):
    * ordinal levels exact / lev ≤ 1 / lev ≤ 3 / miss over the same
    * seeded perturbations (drop-1 ⇒ lev 1, drop-3 ⇒ lev 3, reversed ⇒
    * miss), so each planted class lands in a distinct level. Both
    * engines ship a native `levenshtein`, so the condition strings run
    * verbatim in each — same contract as the jaro_winkler ladder.
    */
  private def linkLevenshtein(s: SparkSession, dir: String): DataFrame = {
    Link.fellegiSunterLevels(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey",
      blocking = "l.blk = r.blk",
      comparisons = Seq(
        Link.LevelComparison(
          Seq("l.sname = r.sname",
            "levenshtein(l.sname, r.sname) <= 1",
            "levenshtein(l.sname, r.sname) <= 3"),
          Seq(-3.0, 1.5, 4.0, 6.0)),
        Link.LevelComparison(
          Seq("l.c_mktsegment = r.c_mktsegment"),
          Seq(-0.5, 1.2))),
      threshold = 1.0)
      .withColumnRenamed("gamma0", "gamma_name")
      .withColumnRenamed("gamma1", "gamma_seg")
      .orderBy("left_id", "right_id")
  }

  private val linkLevenshteinSql =
    """WITH le AS (
      |  SELECT c_custkey, c_mktsegment,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |g AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN levenshtein(l.sname, r.sname) <= 1 THEN 2
      |         WHEN levenshtein(l.sname, r.sname) <= 3 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gamma_seg
      |  FROM le l JOIN ri r ON l.blk = r.blk)
      |SELECT * FROM (
      |  SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |    gamma_name, gamma_seg,
      |    (CASE gamma_name WHEN 3 THEN CAST(6.0 AS DOUBLE) WHEN 2 THEN CAST(4.0 AS DOUBLE)
      |       WHEN 1 THEN CAST(1.5 AS DOUBLE) ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE gamma_seg WHEN 1 THEN CAST(1.2 AS DOUBLE)
      |       ELSE CAST(-0.5 AS DOUBLE) END) AS match_weight
      |  FROM g)
      |WHERE match_weight >= 1.0
      |ORDER BY left_id, right_id""".stripMargin

  /** Damerau–Levenshtein + date-difference comparison ladder (splink's
    * `cl.damerau_levenshtein_at_thresholds` and `cll.datediff_level`
    * surfaces): the native [[graft.functions.DamerauLevenshtein]] charges
    * an adjacent transposition ONE edit — the planted `%10 = 3` class
    * swaps the first two name bytes, so it lands in the DL ≤ 1 level
    * where plain levenshtein would score 2 (the class that separates the
    * two ladders). The date comparison runs on precomputed epoch-day
    * columns (`datediff` from a fixed epoch per side), which makes
    * splink's datediff_level a plain `abs(l.ed - r.ed) <= k` condition
    * string, valid verbatim in both engines — per-side date classes plant
    * ±2 days (close), +20 (mid), +45 (miss).
    */
  private def linkDamerau(s: SparkSession, dir: String): DataFrame = {
    val left = fuzzyLeft(s, dir)
      .withColumn("ed",
        datediff(date_add(to_date(lit("1997-01-01")), (col("c_custkey") % 360).cast("int")),
          to_date(lit("1970-01-01"))))
    val right = oddCustomers(s, dir)
      .withColumn("base", expr("substr(md5(CAST(c_custkey - 1 AS STRING)), 1, 9)"))
      .withColumn("sname", expr(
        """CASE CAST(c_custkey % 10 AS INT)
          |  WHEN 3 THEN concat(substr(base, 2, 1), substr(base, 1, 1), substr(base, 3, 7))
          |  WHEN 5 THEN substr(base, 1, 8)
          |  WHEN 7 THEN substr(base, 1, 6)
          |  WHEN 9 THEN reverse(base)
          |  ELSE base END""".stripMargin))
      .withColumn("blk", expr("(c_custkey - 1) DIV 20"))
      .withColumn("ed",
        datediff(date_add(to_date(lit("1997-01-01")),
            (((col("c_custkey") - 1) % 360) +
              when(col("c_custkey") % 10 === 1, 45)
                .when(col("c_custkey") % 10 === 3, 20)
                .otherwise(2)).cast("int")),
          to_date(lit("1970-01-01"))))
    Link.fellegiSunterLevels(
      left, right,
      "c_custkey", "c_custkey",
      blocking = "l.blk = r.blk",
      comparisons = Seq(
        Link.LevelComparison(
          Seq("l.sname = r.sname",
            "damerau_levenshtein(l.sname, r.sname) <= 1",
            "damerau_levenshtein(l.sname, r.sname) <= 3"),
          Seq(-3.0, 1.5, 4.0, 6.0)),
        Link.LevelComparison(
          Seq("abs(l.ed - r.ed) <= 7",
            "abs(l.ed - r.ed) <= 30"),
          Seq(-1.0, 0.8, 2.0))),
      threshold = 1.0)
      .withColumnRenamed("gamma0", "gamma_name")
      .withColumnRenamed("gamma1", "gamma_date")
      .orderBy("left_id", "right_id")
  }

  private val linkDamerauSql =
    """WITH le AS (
      |  SELECT c_custkey,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk,
      |    datediff('day', DATE '1970-01-01',
      |      DATE '1997-01-01' + to_days(CAST(c_custkey % 360 AS INT))) AS ed
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 3 THEN concat(substr(base, 2, 1), substr(base, 1, 1), substr(base, 3, 7))
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk,
      |    datediff('day', DATE '1970-01-01',
      |      DATE '1997-01-01' + to_days(CAST((c_custkey - 1) % 360
      |        + CASE CAST(c_custkey % 10 AS INT)
      |            WHEN 1 THEN 45 WHEN 3 THEN 20 ELSE 2 END AS INT))) AS ed
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |g AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN damerau_levenshtein(l.sname, r.sname) <= 1 THEN 2
      |         WHEN damerau_levenshtein(l.sname, r.sname) <= 3 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    CASE WHEN abs(l.ed - r.ed) <= 7 THEN 2
      |         WHEN abs(l.ed - r.ed) <= 30 THEN 1
      |         ELSE 0 END AS gamma_date
      |  FROM le l JOIN ri r ON l.blk = r.blk)
      |SELECT * FROM (
      |  SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |    gamma_name, gamma_date,
      |    (CASE gamma_name WHEN 3 THEN CAST(6.0 AS DOUBLE) WHEN 2 THEN CAST(4.0 AS DOUBLE)
      |       WHEN 1 THEN CAST(1.5 AS DOUBLE) ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE gamma_date WHEN 2 THEN CAST(2.0 AS DOUBLE) WHEN 1 THEN CAST(0.8 AS DOUBLE)
      |       ELSE CAST(-1.0 AS DOUBLE) END) AS match_weight
      |  FROM g)
      |WHERE match_weight >= 1.0
      |ORDER BY left_id, right_id""".stripMargin

  /** Multi-level fuzzy Fellegi–Sunter (splink's
    * `cl.jaro_winkler_at_thresholds` surface — reference
    * splinklinker.py:112): the name comparison has four ordinal levels
    * (exact / JW ≥ 0.95 / JW ≥ 0.88 / miss), the segment comparison two;
    * gammas ride along like splink's `gamma_` columns and the match weight
    * is the sum of per-level literal weights. `jaro_winkler_similarity` is
    * graft's native codegen expression, pinned bit-exact to DuckDB's
    * builtin of the same name — the condition strings are valid in both
    * engines verbatim.
    */
  // One fuzzy-scorer recipe shared by mb_link_fuzzy, its waterfall and the
  // m-from-labels estimator — if the query's configuration drifts, the
  // dependents must drift with it or they describe a different model than
  // the one that ran.
  private val fuzzyComparisons = Seq(
    Link.LevelComparison(
      Seq("l.sname = r.sname",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
      // weights indexed by gamma: miss, weak-fuzzy, strong-fuzzy, exact
      Seq(-3.0, 1.5, 4.0, 6.0)),
    Link.LevelComparison(
      Seq("l.c_mktsegment = r.c_mktsegment"),
      Seq(-0.5, 1.2)))

  private def fuzzyScored(s: SparkSession, dir: String): DataFrame = {
    Link.fellegiSunterLevels(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey",
      blocking = "l.blk = r.blk",
      comparisons = fuzzyComparisons,
      threshold = 1.0)
  }

  private def linkFuzzy(s: SparkSession, dir: String): DataFrame =
    fuzzyScored(s, dir)
      .withColumnRenamed("gamma0", "gamma_name")
      .withColumnRenamed("gamma1", "gamma_seg")
      .orderBy("left_id", "right_id")

  /** Per-pair match-weight WATERFALL (splink's `waterfall_chart` data —
    * the explainability artifact a reviewer reads before trusting a
    * linkage model: how each comparison's matched level contributed to a
    * pair's final weight). Re-runs the `mb_link_fuzzy` scorer verbatim and
    * unpivots each surviving pair into ordered steps (one per comparison)
    * carrying the gamma level, that level's weight contribution, and the
    * running cumulative weight; the last step's cumulative IS the pair's
    * `match_weight`.
    *
    * Scale shape: the scorer is the same single blocked equi-join as
    * `mb_link_fuzzy`; the unpivot is a map-side Expand (2 rows per pair,
    * no shuffle) and the running sum windows over 2-row pair partitions —
    * never corpus-shaped. Level weights are literal doubles, so every
    * step and cumulative sum is a sum of literals: bit-exact cross-engine.
    * The CASE weight expressions are GENERATED from [[fuzzyComparisons]]'
    * weight vectors (not re-typed literals), so a weight change in the
    * shared recipe re-derives the waterfall with it — the scorer and its
    * explainability artifact cannot desynchronize.
    */
  /** `CASE <gammaCol> WHEN g THEN w_g … ELSE w_0 END` built from a
    * [[Link.LevelComparison]] weight vector (indexed by gamma; head =
    * miss). Doubles render with an explicit cast so both the Spark expr
    * and any SQL twin stay double-typed.
    */
  private def levelWeightCaseSql(gammaCol: String, weights: Seq[Double]): String = {
    val whens = weights.zipWithIndex.drop(1).reverse
      .map { case (w, g) => s"WHEN $g THEN CAST($w AS DOUBLE)" }
      .mkString(" ")
    s"CASE $gammaCol $whens ELSE CAST(${weights.head} AS DOUBLE) END"
  }

  private def linkWaterfall(s: SparkSession, dir: String): DataFrame =
    fuzzyScored(s, dir)
      .select(col("left_id"), col("right_id"), expr(
        s"""stack(2,
           |  1L, 'name', CAST(gamma0 AS BIGINT),
           |  ${levelWeightCaseSql("gamma0", fuzzyComparisons(0).weights)},
           |  2L, 'segment', CAST(gamma1 AS BIGINT),
           |  ${levelWeightCaseSql("gamma1", fuzzyComparisons(1).weights)})
           |  AS (step_no, comparison, gamma, weight)""".stripMargin))
      .withColumn("cum_weight", sum(col("weight")).over(
        Window.partitionBy("left_id", "right_id").orderBy("step_no")))
      .orderBy("left_id", "right_id", "step_no")

  // Shared CTE prefixes for the fuzzy scorer's oracle and its dependents
  // (waterfall, m-from-labels) — the oracle-side twin of one recipe.
  private val fuzzySrcSql =
    """le AS (
      |  SELECT c_custkey, c_mktsegment,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1))""".stripMargin

  private val fuzzyCtesSql =
    s"""$fuzzySrcSql,
      |g AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gamma_seg
      |  FROM le l JOIN ri r ON l.blk = r.blk),
      |surv AS (
      |  SELECT * FROM (
      |    SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |      gamma_name, gamma_seg,
      |      (${levelWeightCaseSql("gamma_name", fuzzyComparisons(0).weights)}
      |       + ${levelWeightCaseSql("gamma_seg", fuzzyComparisons(1).weights)}
      |      ) AS match_weight
      |    FROM g)
      |  WHERE match_weight >= 1.0)""".stripMargin

  private val linkFuzzySql =
    s"""WITH $fuzzyCtesSql
       |SELECT * FROM surv ORDER BY left_id, right_id""".stripMargin

  // The CASE weights are generated from fuzzyComparisons like the Spark
  // side's — neither twin re-types the literals.
  private val linkWaterfallSql =
    s"""WITH $fuzzyCtesSql,
       |steps AS (
       |  SELECT left_id, right_id, CAST(1 AS BIGINT) AS step_no,
       |    'name' AS comparison, CAST(gamma_name AS BIGINT) AS gamma,
       |    ${levelWeightCaseSql("gamma_name", fuzzyComparisons(0).weights)} AS weight
       |  FROM surv
       |  UNION ALL
       |  SELECT left_id, right_id, CAST(2 AS BIGINT), 'segment',
       |    CAST(gamma_seg AS BIGINT),
       |    ${levelWeightCaseSql("gamma_seg", fuzzyComparisons(1).weights)}
       |  FROM surv)
       |SELECT left_id, right_id, step_no, comparison, gamma, weight,
       |  sum(weight) OVER (PARTITION BY left_id, right_id ORDER BY step_no)
       |    AS cum_weight
       |FROM steps ORDER BY left_id, right_id, step_no""".stripMargin

  /** m-parameter estimation from PAIRWISE LABELS (splink's
    * `estimate_m_from_pairwise_labels` — the supervised alternative to EM
    * when a labeled match set exists, e.g. from clerical review): over
    * the seeded truth pairs (left key = right key − 1, the same ground
    * truth `mb_blocking_quality` scores against), the per-level m of each
    * fuzzy comparison is the exact-permille share of matches observed at
    * that gamma. Gammas come from the SAME `fuzzyComparisons` ladder the
    * linker runs — drift-proof by construction. One equi-join on the
    * label key + one (comparison, gamma)-group aggregate; labels are tiny
    * relative to candidates, so at 100 TB this is the cheap path EM
    * replaces with iterations.
    */
  private def linkMFromLabels(s: SparkSession, dir: String): DataFrame = {
    val cand = fuzzyLeft(s, dir).alias("l")
      .join(fuzzyRight(s, dir).alias("r"),
        expr("l.c_custkey = r.c_custkey - 1"))
    cand
      .select(
        fuzzyComparisons(0).gammaOf.cast("long").as("gamma_name"),
        fuzzyComparisons(1).gammaOf.cast("long").as("gamma_seg"))
      .select(expr(
        """stack(2, 'name', gamma_name, 'segment', gamma_seg)
          |  AS (comparison, gamma)""".stripMargin))
      .groupBy("comparison", "gamma")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("m_permille", expr(
        """CAST((1000 * n_pairs) DIV
          |  (sum(n_pairs) OVER (PARTITION BY comparison)) AS BIGINT)""".stripMargin))
      .orderBy("comparison", "gamma")
  }

  private val linkMFromLabelsSql =
    s"""WITH $fuzzySrcSql,
       |t AS (
       |  SELECT CASE WHEN l.sname = r.sname THEN 3
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
       |           WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
       |           ELSE 0 END AS gamma_name,
       |         CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END
       |           AS gamma_seg
       |  FROM le l JOIN ri r ON l.c_custkey = r.c_custkey - 1),
       |u AS (
       |  SELECT 'name' AS comparison, CAST(gamma_name AS BIGINT) AS gamma FROM t
       |  UNION ALL
       |  SELECT 'segment', CAST(gamma_seg AS BIGINT) FROM t),
       |c AS (
       |  SELECT comparison, gamma, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM u GROUP BY comparison, gamma)
       |SELECT comparison, gamma, n_pairs,
       |  CAST((1000 * n_pairs) //
       |    (sum(n_pairs) OVER (PARTITION BY comparison)) AS BIGINT)
       |    AS m_permille
       |FROM c ORDER BY comparison, gamma""".stripMargin

  /** Null-aware comparison levels — splink's null handling (reference
    * splinklinker.py comparison templates): a NULL on either side of a
    * comparison is its own gamma level (-1) with ZERO weight contribution,
    * not a "miss" — without it sparse fields bias every linker toward
    * disagreement. Segments are deterministically nulled on both sides
    * (key % 10 buckets) so the null level actually fires; the name
    * comparison is the usual fuzzy ladder.
    */
  private def linkFuzzyNulls(s: SparkSession, dir: String): DataFrame = {
    Link.fellegiSunterLevels(
      nulledSeg(fuzzyLeft(s, dir), 0), nulledSeg(fuzzyRight(s, dir), 5),
      "c_custkey", "c_custkey",
      blocking = "l.blk = r.blk",
      comparisons = Seq(
        Link.LevelComparison(
          Seq("l.sname = r.sname",
            "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
            "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
          Seq(-3.0, 1.5, 4.0, 6.0)),
        Link.LevelComparison(
          Seq("l.seg_n = r.seg_n"),
          Seq(-0.5, 1.2),
          nullLevel = Some("l.seg_n IS NULL OR r.seg_n IS NULL"))),
      threshold = 1.0)
      .withColumnRenamed("gamma0", "gamma_name")
      .withColumnRenamed("gamma1", "gamma_seg")
      .orderBy("left_id", "right_id")
  }

  /** Segment nulled when `c_custkey % 10 = mod` — the seeded-sparsity twin
    * both engines derive identically.
    */
  private def nulledSeg(df: DataFrame, mod: Int): DataFrame =
    df.withColumn("seg_n",
      expr(s"CASE WHEN c_custkey % 10 = $mod THEN NULL ELSE c_mktsegment END"))

  private val linkFuzzyNullsSql =
    """WITH le AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END AS seg_n,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 5 THEN NULL ELSE c_mktsegment END AS seg_n,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |g AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    CASE WHEN l.seg_n IS NULL OR r.seg_n IS NULL THEN -1
      |         WHEN l.seg_n = r.seg_n THEN 1 ELSE 0 END AS gamma_seg
      |  FROM le l JOIN ri r ON l.blk = r.blk)
      |SELECT * FROM (
      |  SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |    gamma_name, gamma_seg,
      |    (CASE gamma_name WHEN 3 THEN CAST(6.0 AS DOUBLE) WHEN 2 THEN CAST(4.0 AS DOUBLE)
      |       WHEN 1 THEN CAST(1.5 AS DOUBLE) ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE gamma_seg WHEN 1 THEN CAST(1.2 AS DOUBLE)
      |         WHEN 0 THEN CAST(-0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
      |    ) AS match_weight
      |  FROM g)
      |WHERE match_weight >= 1.0
      |ORDER BY left_id, right_id""".stripMargin

  /** Driver-gated EM null invariant: pairs whose comparison is NULL must
    * not move that comparison's m/u estimates (they are excluded from its
    * estimation mass; splink's null contract). Proven exactly: ONE EM
    * iteration makes each pattern's E-step weight a pure function of the
    * (fixed) init params, so the segment comparison's (m, u) trained on
    * the null-marked candidates must be BIT-IDENTICAL to those trained on
    * the candidates with every null pair physically removed. Also gates
    * full-EM run-twice determinism and that the seeding actually produced
    * null pairs.
    */
  private def linkFuzzyNullsGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val levels = Seq(
      Seq("l.sname = r.sname",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
      Seq("l.seg_n = r.seg_n"))
    val cand = Link.emLevelsCandidates(
      nulledSeg(fuzzyLeft(s, dir), 0), nulledSeg(fuzzyRight(s, dir), 5),
      "c_custkey", "c_custkey", "l.blk = r.blk", levels,
      nullConditions = Seq(None, Some("l.seg_n IS NULL OR r.seg_n IS NULL")))
      .localCheckpoint(false)
    // Everything this gate asserts is a pure function of the gamma-pattern
    // contingency table, so collect it twice (the determinism contract
    // needs two independent distributed aggregations) and derive all four
    // EM fits, the scored counts and the null-pair count driver-side —
    // two cluster jobs instead of seven serial ones.
    val nLevels = levels.map(_.size + 1)
    val pat1 = Link.patternCounts(cand, levels.size)
    val pat2 = Link.patternCounts(cand, levels.size)
    def segParams(pat: Seq[(IndexedSeq[Int], Long)]) = {
      val (_, m, u) = Link.emFitLevels(pat, nLevels, iterations = 1, lambdaInit = 0.1)
      (m(1).toSeq, u(1).toSeq)
    }
    // null invariant: dropping the g1 = -1 pattern rows IS the
    // "null pairs physically removed" candidate set
    val oneIterInvariant =
      segParams(pat1) == segParams(pat1.filter(_._1(1) >= 0))
    def fullFit(pat: Seq[(IndexedSeq[Int], Long)]) = {
      val (l, m, u) = Link.emFitLevels(pat, nLevels, iterations = 20, lambdaInit = 0.1)
      val scoredCount = pat.collect {
        case (g, n) if Link.levelPatternScore(g, l, m, u) >= 0.5 => n
      }.sum
      (levels.indices.map(i => (m(i).toSeq, u(i).toSeq)), scoredCount)
    }
    val (p1, n1) = fullFit(pat1)
    val (p2, n2) = fullFit(pat2)
    val nullPairs = pat1.collect { case (g, n) if g(1) == -1 => n }.sum
    val ok = oneIterInvariant && p1 == p2 && n1 == n2 && nullPairs > 0L
    Seq(ok).toDF("nulls_ok")
  }

  private val linkFuzzyNullsGateSql = "SELECT CAST(1 AS BOOLEAN) AS nulls_ok"

  /** Multiple blocking rules for candidate generation — splink's
    * `blocking_rules_to_generate_predictions` list: pairs missed by the
    * key-bucket rule (planted duplicates whose custkeys straddle a bucket
    * boundary) are still reached through the (nation, segment) rule; the
    * candidate set is the deduplicated union and every rule plans as its
    * own equi-join. Scoring is the same fuzzy multi-level comparison as
    * mb_link_fuzzy.
    */
  private def linkBlockingRules(s: SparkSession, dir: String): DataFrame = {
    Link.fellegiSunterLevelsMulti(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey",
      blockingRules = Seq(
        "l.blk = r.blk",
        "l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment"),
      comparisons = Seq(
        Link.LevelComparison(
          Seq("l.sname = r.sname",
            "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
            "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
          Seq(-3.0, 1.5, 4.0, 6.0)),
        Link.LevelComparison(
          Seq("l.c_mktsegment = r.c_mktsegment"),
          Seq(-0.5, 1.2))),
      threshold = 1.0)
      .withColumnRenamed("gamma0", "gamma_name")
      .withColumnRenamed("gamma1", "gamma_seg")
      .orderBy("left_id", "right_id")
  }

  private val linkBlockingRulesSql =
    """WITH le AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |cand AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id
      |  FROM le l JOIN ri r ON l.blk = r.blk
      |  UNION
      |  SELECT l.c_custkey, r.c_custkey
      |  FROM le l JOIN ri r
      |    ON l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment),
      |g AS (
      |  SELECT c.left_id, c.right_id,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gamma_seg
      |  FROM cand c
      |  JOIN le l ON l.c_custkey = c.left_id
      |  JOIN ri r ON r.c_custkey = c.right_id)
      |SELECT * FROM (
      |  SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |    gamma_name, gamma_seg,
      |    (CASE gamma_name WHEN 3 THEN CAST(6.0 AS DOUBLE) WHEN 2 THEN CAST(4.0 AS DOUBLE)
      |       WHEN 1 THEN CAST(1.5 AS DOUBLE) ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE gamma_seg WHEN 1 THEN CAST(1.2 AS DOUBLE) ELSE CAST(-0.5 AS DOUBLE) END
      |    ) AS match_weight
      |  FROM g)
      |WHERE match_weight >= 1.0
      |ORDER BY left_id, right_id""".stripMargin

  /** Driver-gated EM over ordinal gammas (the trained twin of
    * mb_link_fuzzy — iterative, so no SQL oracle): the blocked candidate
    * join materialises once (deterministic plan — the em_gate treatment);
    * pattern aggregation, EM fit and scoring run twice and must produce
    * bit-identical per-level (m, u) vectors and score-set hash; the
    * learned parameters must be discriminative — the exact-match level's
    * likelihood ratio m/u must exceed the miss level's (fuzzy agreement
    * is evidence FOR a match).
    */
  private def linkFuzzyEmGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val levels = Seq(
      Seq("l.sname = r.sname",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
        "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
      Seq("l.c_mktsegment = r.c_mktsegment"))
    // blocked join + gamma CASE materialise once (deterministic plan);
    // each run re-executes pattern aggregation, EM fit and scoring — the
    // parts whose run-to-run stability the gate asserts
    val cand = Link.emLevelsCandidates(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey", "l.blk = r.blk", levels)
      .localCheckpoint(false)
    def run() = {
      val (scored, params) = Link.fellegiSunterEmLevelsOnCandidates(
        cand, levels.map(_.size), threshold = 0.5)
      (scored.localCheckpoint(false), params)
    }
    def scoreHash(df: DataFrame): Long = df
      .agg(expr(
        "bit_xor(xxhash64(left_id, right_id, CAST(round(score, 9) AS STRING)))"))
      .head().getLong(0)
    val (scored1, p1) = run()
    val (scored2, p2) = run()
    val (mName, uName) = p1.head
    val stats = scored1.agg(min("score"), max("score"), count(lit(1))).head()
    val ok = p1 == p2 && scoreHash(scored1) == scoreHash(scored2) &&
      mName.last / uName.last > mName.head / uName.head &&
      stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0 &&
      stats.getLong(2) > 0
    Seq(ok).toDF("em_ok")
  }

  private val linkFuzzyEmGateSql = "SELECT CAST(1 AS BOOLEAN) AS em_ok"

  /** Term-frequency-adjusted Fellegi–Sunter (splink's
    * `term_frequency_adjustments` setting — reference splinklinker.py
    * SplinkSettings pass-through): agreeing on a common segment is weak
    * evidence, agreeing on a rare one strong — the agreement likelihood
    * ratio is m / tf(value) from the corpus value-frequency table instead
    * of m / u_avg. Scores are likelihood-ratio PRODUCTS (identical IEEE op
    * order in both engines; no logs, whose libm last-ulps differ).
    */
  private def linkTf(s: SparkSession, dir: String): DataFrame =
    Link.fellegiSunterTf(
      evenCustomers(s, dir), oddCustomers(s, dir),
      "c_custkey", "c_custkey",
      blocking = "l.c_nationkey = r.c_nationkey",
      tfAgree = "l.c_mktsegment = r.c_mktsegment",
      tfLeftValue = "l.c_mktsegment",
      tfM = 0.9, tfDisagreeRatio = 0.125,
      corpus = Tables(s, dir, "customer"), corpusCol = "c_mktsegment",
      others = Seq(("abs(l.c_acctbal - r.c_acctbal) < 100", 9.0, 0.25)),
      threshold = 2.0)
      .orderBy("left_id", "right_id")

  private val linkTfSql =
    """WITH tf AS (SELECT c_mktsegment AS v, count(*) AS cnt FROM customer GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM customer)
      |SELECT * FROM (
      |  SELECT CAST(l.c_custkey AS BIGINT) AS left_id,
      |    CAST(r.c_custkey AS BIGINT) AS right_id,
      |    (CASE WHEN l.c_mktsegment = r.c_mktsegment
      |          THEN CAST(0.9 AS DOUBLE) / (CAST(tf.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE))
      |          ELSE CAST(0.125 AS DOUBLE) END
      |     * CASE WHEN abs(l.c_acctbal - r.c_acctbal) < 100
      |            THEN CAST(9.0 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END) AS match_ratio
      |  FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) l
      |  JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 1) r
      |    ON l.c_nationkey = r.c_nationkey
      |  JOIN tf ON tf.v = l.c_mktsegment
      |  CROSS JOIN tot)
      |WHERE match_ratio >= 2.0
      |ORDER BY left_id, right_id""".stripMargin

  /** The full splink comparison shape in one linker: fuzzy multi-level
    * name comparison (fixed likelihood ratios per level) COMBINED with a
    * term-frequency-adjusted segment comparison (exact agreement on a
    * common segment is weak evidence, on a rare one strong). Ratio-product
    * scoring, log-free — bit-exact across engines.
    */
  private def linkFuzzyTf(s: SparkSession, dir: String): DataFrame = {
    Link.fellegiSunterLevelsTf(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey",
      blocking = "l.blk = r.blk",
      tfComparison = Seq("l.c_mktsegment = r.c_mktsegment"),
      tfLeftValue = "l.c_mktsegment",
      tfM = 0.9, tfLevelRatios = Seq(0.125),
      corpus = Tables(s, dir, "customer"), corpusCol = "c_mktsegment",
      others = Seq((
        Seq("l.sname = r.sname",
          "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
          "jaro_winkler_similarity(l.sname, r.sname) >= 0.88"),
        Seq(0.05, 2.0, 12.0, 40.0))),
      threshold = 1.0)
      .withColumnRenamed("gamma0", "gamma_name")
      .orderBy("left_id", "right_id")
  }

  private val linkFuzzyTfSql =
    """WITH le AS (
      |  SELECT c_custkey, c_mktsegment,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 9) AS sname,
      |    c_custkey // 20 AS blk
      |  FROM customer WHERE c_custkey % 2 = 0),
      |ri AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE CAST(c_custkey % 10 AS INT)
      |      WHEN 5 THEN substr(base, 1, 8)
      |      WHEN 7 THEN substr(base, 1, 6)
      |      WHEN 9 THEN reverse(base)
      |      ELSE base END AS sname,
      |    (c_custkey - 1) // 20 AS blk
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |tf AS (SELECT c_mktsegment AS v, count(*) AS cnt FROM customer GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM customer),
      |g AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
      |    CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END AS gamma_tf,
      |    CASE WHEN l.sname = r.sname THEN 3
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.95 THEN 2
      |         WHEN jaro_winkler_similarity(l.sname, r.sname) >= 0.88 THEN 1
      |         ELSE 0 END AS gamma_name,
      |    tf.cnt AS tf_cnt, tot.n AS tot_n
      |  FROM le l JOIN ri r ON l.blk = r.blk
      |  JOIN tf ON tf.v = l.c_mktsegment CROSS JOIN tot)
      |SELECT * FROM (
      |  SELECT CAST(left_id AS BIGINT) AS left_id, CAST(right_id AS BIGINT) AS right_id,
      |    gamma_tf, gamma_name,
      |    (CASE WHEN gamma_tf = 1
      |          THEN CAST(0.9 AS DOUBLE) / (CAST(tf_cnt AS DOUBLE) / CAST(tot_n AS DOUBLE))
      |          ELSE CAST(0.125 AS DOUBLE) END
      |     * CASE gamma_name WHEN 3 THEN CAST(40.0 AS DOUBLE) WHEN 2 THEN CAST(12.0 AS DOUBLE)
      |         WHEN 1 THEN CAST(2.0 AS DOUBLE) ELSE CAST(0.05 AS DOUBLE) END
      |    ) AS match_ratio
      |  FROM g)
      |WHERE match_ratio >= 1.0
      |ORDER BY left_id, right_id""".stripMargin

  /** Driver-gated TRAINED fuzzy+TF linker (iterative EM — no SQL oracle):
    * the full composed splink recipe in one model — multi-level fuzzy name
    * comparison and a TF-adjusted segment comparison, with per-level m/u
    * learned by EM and the term-frequency adjustment applied to the exact
    * level at prediction (reference splinklinker.py:56-175). The candidate
    * join and TF table materialise once (deterministic plans — the
    * em_gate treatment); the pattern aggregation, EM fit and scoring run
    * twice and must produce bit-identical per-level (m, u) vectors and
    * score-set hash; the learned name comparison must be discriminative
    * (exact level's likelihood ratio above the miss level's); and the TF
    * contract must hold — among pairs agreeing exactly on the segment with
    * the same name gamma, the score is strictly decreasing in the corpus
    * frequency of the agreed value (rarer value ⇒ stronger evidence).
    */
  private def linkFuzzyTfEmGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Candidate join + TF table are deterministic plans — materialise once
    // (the em_gate treatment); each determinism run re-executes the
    // distributed pattern aggregation, the EM fit and the score projection.
    val (cand0, total) = Link.emLevelsTfCandidates(
      fuzzyLeft(s, dir), fuzzyRight(s, dir),
      "c_custkey", "c_custkey", "l.blk = r.blk",
      tfComparison = Seq("l.c_mktsegment = r.c_mktsegment"),
      tfLeftValue = "l.c_mktsegment",
      corpus = Tables(s, dir, "customer"), corpusCol = "c_mktsegment",
      others = Seq(
        Seq("l.sname = r.sname",
          "jaro_winkler_similarity(l.sname, r.sname) >= 0.95",
          "jaro_winkler_similarity(l.sname, r.sname) >= 0.88")))
    val cand = cand0.localCheckpoint(false)
    def run() = Link.fellegiSunterEmLevelsOnCandidates(
      cand, Seq(1, 3), threshold = 0.0, tfTotal = Some(total))
    // Keep the driver-job chain short (it is the whole latency of this
    // gate): run 1 is checkpointed because three checks read it; run 2
    // exists only for the determinism hash, so it stays a single
    // un-checkpointed action.
    val (s1, p1) = run()
    val scored1 = s1.localCheckpoint(false)
    val (scored2, p2) = run()
    def scoreHash(df: DataFrame): Long = df
      .agg(expr(
        "bit_xor(xxhash64(left_id, right_id, CAST(round(score, 9) AS STRING)))"))
      .head().getLong(0)
    val (mName, uName) = p1(1)
    // TF contract: score is a function of (gammas, tf_cnt) only, so within
    // each (name gamma, tf_cnt) cell min == max, and across tf_cnt at fixed
    // name gamma the exact-agree score strictly decreases as the agreed
    // segment gets more common
    val tfRows = scored1.filter(col("g0") === 1)
      .groupBy("g1", "tf_cnt")
      .agg(min("score").as("mn"), max("score").as("mx"))
      .collect()
      .map(r => (r.getAs[Int]("g1"), r.getAs[Long]("tf_cnt"),
        r.getAs[Double]("mn"), r.getAs[Double]("mx")))
    val tfMonotone = tfRows.nonEmpty && tfRows.groupBy(_._1).values.forall {
      rows =>
        rows.forall { case (_, _, mn, mx) => mn == mx } &&
        rows.sortBy(_._2).toSeq.sliding(2).forall { w =>
          w.size < 2 || (w(0)._2 < w(1)._2 && w(1)._4 < w(0)._3)
        }
    }
    // One pass for determinism hash + range/count stats of run 1.
    val h1row = scored1.agg(
      expr("bit_xor(xxhash64(left_id, right_id, CAST(round(score, 9) AS STRING)))"),
      min("score"), max("score"), count(lit(1))).head()
    val ok = p1 == p2 && h1row.getLong(0) == scoreHash(scored2) &&
      mName.last / uName.last > mName.head / uName.head &&
      tfMonotone &&
      h1row.getDouble(1) >= 0.0 && h1row.getDouble(2) <= 1.0 &&
      h1row.getLong(3) > 0
    Seq(ok).toDF("em_ok")
  }

  private val linkFuzzyTfEmGateSql = "SELECT CAST(1 AS BOOLEAN) AS em_ok"

  /** Sorted-neighborhood linkage (Hernández–Stolfo): candidates are pairs
    * within 3 positions of the per-nation name sort order — no shared
    * blocking key needed — then Fellegi–Sunter weights score them. The
    * window-lead candidate pass and the literal CASE weights are both
    * exactly expressible in the oracle (row_number self-join there, one
    * lead-array window pass here; same pairs, same weights).
    */
  private def linkSortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val cand = Link.sortedNeighborhood(
      customer, "c_custkey", col("c_name"), col("c_nationkey"), window = 3)
    val attrs = customer.select(col("c_custkey").cast("long").as("aid"),
      col("c_mktsegment").as("seg"), Num.cents(col("c_acctbal")).as("bal"))
    cand
      .join(attrs.select(col("aid").as("left_id"), col("seg").as("lseg"),
        col("bal").as("lbal")), "left_id")
      .join(attrs.select(col("aid").as("right_id"), col("seg").as("rseg"),
        col("bal").as("rbal")), "right_id")
      .withColumn("match_weight",
        when(col("lseg") === col("rseg"), lit(2.5)).otherwise(lit(-1.2)) +
        when(abs(col("lbal") - col("rbal")) < 10000, lit(3.1))
          .otherwise(lit(-0.8)))
      .filter(col("match_weight") >= 1.5)
      .select("left_id", "right_id", "dist", "match_weight")
      .orderBy("left_id", "right_id")
  }

  private val linkSortedNeighborhoodSql =
    s"""WITH r AS (
       |  SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
       |    ${Num.centsSql("c_acctbal")} AS bal,
       |    row_number() OVER (PARTITION BY c_nationkey
       |      ORDER BY c_name, c_custkey) AS rn
       |  FROM customer)
       |SELECT * FROM (
       |  SELECT CAST(l.id AS BIGINT) AS left_id, CAST(r2.id AS BIGINT) AS right_id,
       |    CAST(r2.rn - l.rn AS INT) AS dist,
       |    (CASE WHEN l.seg = r2.seg THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
       |     + CASE WHEN abs(l.bal - r2.bal) < 10000 THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END
       |    ) AS match_weight
       |  FROM r l JOIN r r2 ON l.blk = r2.blk AND r2.rn - l.rn BETWEEN 1 AND 3)
       |WHERE match_weight >= 1.5
       |ORDER BY left_id, right_id""".stripMargin

  /** Seeded scenario-factory round-trip (the reference's
    * common/factories/scenarios.py + entities.py testkit, run as a
    * driver-gated query — no SQL oracle, the scenario is generated not
    * read): build a known-truth linking scenario (60 entities × two
    * sources × variation slots: identity, company suffix, 7th-char
    * replace + postcode suffix), run the REAL pipeline — multi-rule
    * blocked fuzzy linker over the union of sources, large-star/small-star
    * components — and require the recovered clusters to be EXACTLY the
    * planted truth partition (bijection check, no driver-side cluster
    * walk), with bit-identical re-generation of the sources.
    */
  private def scenarioGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.testkit.Scenario
    def sources() = {
      val ents = Scenario.entities(s, 60, seed = 42L, Seq("company", "postcode"))
      val a = Scenario.source(ents, "crm", Seq(
        Map.empty[String, Scenario.Variation],
        Map("company" -> Scenario.Suffix(" ltd"))))
      val b = Scenario.source(ents, "web", Seq(
        Map("company" -> Scenario.Replace("^(.{6}).", "$1z"),
            "postcode" -> Scenario.Suffix("-9"))))
      a.unionByName(b)
    }
    def run(): Boolean = {
      val all = sources()
      val keyed = all
        .withColumn("kid", xxhash64(col("key")))
        .withColumn("blk", substring(col("company"), 1, 4))
        .localCheckpoint(false)
      val scored = Link.fellegiSunterLevelsMulti(
        keyed, keyed, "kid", "kid",
        blockingRules = Seq("l.postcode = r.postcode", "l.blk = r.blk"),
        comparisons = Seq(
          Link.LevelComparison(
            Seq("l.company = r.company",
              "jaro_winkler_similarity(l.company, r.company) >= 0.95",
              "jaro_winkler_similarity(l.company, r.company) >= 0.88"),
            Seq(-10.0, 3.0, 5.0, 7.0)),
          Link.LevelComparison(
            Seq("l.postcode = r.postcode"), Seq(-1.0, 1.0))),
        threshold = 2.0)
        .filter(col("left_id") < col("right_id"))
      val assignment = Components.connected(
        scored.select(col("left_id").as("src"), col("right_id").as("dst")))
        .join(keyed.select(col("kid").as("id"), col("key")), Seq("id"))
        .select(col("key"), col("component"))
      Scenario.matchesTruth(assignment, all.select(col("key"), col("entity_id")))
    }
    // generation determinism: the scenario is gate-sized (180 rows) by
    // construction, so a sorted driver-side compare beats two except jobs.
    // The pipeline itself runs ONCE: linker/components determinism is
    // already driver-hash-asserted by the mb_link_* oracle rows every
    // round; this gate's own claim is exact truth recovery.
    val deterministic = {
      def rows(df: DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      rows(sources()) == rows(sources())
    }
    val ok = deterministic && run()
    Seq(ok).toDF("scenario_ok")
  }

  private val scenarioGateSql = "SELECT CAST(1 AS BOOLEAN) AS scenario_ok"

  /** Incremental match as a batch (the server's real-time
    * "match new records against existing clusters" promise — reference
    * README + client/_handler/main.py — run as its batch twin): the
    * persisted resolution is the customer components, the incoming batch
    * is the supplier table; each new record is matched by a deterministic
    * rule and lands in the lowest matching cluster. Spark runs the real
    * resolution operator (large-star/small-star components); the oracle
    * rebuilds it with a recursive CTE.
    */
  private def matchIncremental(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    // per-nation chains: every customer is in a >=2-member component, so
    // each match resolves (the (nation, segment) chains of mb_components
    // are mostly singletons at tiny sf)
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val edges = customer
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val resolution = Components.connected(edges)
    val matches = Link.deterministic(
      Tables(s, dir, "supplier"), customer, "s_suppkey", "c_custkey",
      Seq("l.s_nationkey = r.c_nationkey AND abs(l.s_acctbal - r.c_acctbal) < 500"))
    matches.join(resolution, matches("right_id") === resolution("id"))
      .groupBy(col("left_id").as("new_key"))
      .agg(min("component").as("cluster_id"), count(lit(1)).as("n_matches"))
      .orderBy("new_key")
  }

  private val nationChainEdgesSql =
    """SELECT src, dst FROM (
      |  SELECT c_custkey AS src,
      |    lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS dst
      |  FROM customer) WHERE dst IS NOT NULL""".stripMargin

  /** Incremental resolution maintenance: the persisted (nation, segment)
    * chain components absorb a batch of NEW bridge edges (every 10th
    * customer linked to the next multiple-of-10 in its nation — merging
    * previously separate segment chains) via [[Components.addEdges]] —
    * cost proportional to the delta, never a recompute over the edge
    * history. The oracle IS the full recompute (recursive CTE over the
    * union of old and new edges), so the driver check proves
    * incremental == from-scratch, bit-exact.
    */
  private def componentsIncremental(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val persisted = Components.connected(chainEdges(customer))
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val bridges = customer.filter(col("c_custkey") % 10 === 0)
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"), col("dst").cast("long").as("dst"))
    Components.addEdges(persisted, bridges).orderBy("id")
  }

  private val bridgeEdgesSql =
    """SELECT src, dst FROM (
      |  SELECT c_custkey AS src,
      |    lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS dst
      |  FROM customer WHERE c_custkey % 10 = 0) WHERE dst IS NOT NULL""".stripMargin

  private lazy val componentsIncrementalSql =
    Components.connectedSql(
      chainEdgesSql.stripMargin + "\nUNION ALL\n" + bridgeEdgesSql) + "\nORDER BY id"

  /** STREAMING RESOLUTION MAINTENANCE — the last cell of the
    * incremental×streaming matrix and the continuous-ER serving path a
    * matchbox user actually runs (reference `client/_handler/main.py`
    * match composed with `resolvers/components.py` over time): edge
    * micro-batches fold one by one through [[Components.addEdges]] from
    * an EMPTY persisted resolution, and the final assignment must equal
    * the one-shot batch recompute over all edges BIT-IDENTICALLY — which
    * is exactly what the oracle is (the recursive-CTE full recompute over
    * chain ∪ bridge edges), so the hash compare IS the fold≡batch pin.
    * The fold is associative because every persisted representative is
    * the minimum member id of its component (the addEdges contract): a
    * later batch contracts against those minima and re-derives global
    * minima. StreamingSpec drives the same fold through a real
    * MemoryStream + foreachBatch.
    *
    * Scale shape per micro-batch: two endpoint equi-joins into the
    * persisted assignment, components over the CONTRACTED delta graph
    * (proportional to the batch, never the edge history), one remap join
    * — the cost profile continuous resolution needs at 100 TB, where the
    * edge history is unboundedly larger than any batch.
    */
  private def componentsApplyGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = Tables(s, dir, "customer")
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val bridges = customer.filter(col("c_custkey") % 10 === 0)
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val edges = chainEdges(customer).unionByName(bridges)
      .localCheckpoint(false)
    var state = Seq.empty[(Long, Long)].toDF("id", "component")
    (0 until 3).foreach { i =>
      state = Components
        .addEdges(state, edges.filter(col("src") % 3 === i))
        .localCheckpoint(false)
    }
    state.orderBy("id")
  }

  private lazy val componentsApplyGateSql = componentsIncrementalSql

  private val matchIncrementalSql =
    s"""WITH comp AS (${Components.connectedSql(nationChainEdgesSql)}),
       |pairs AS (
       |  SELECT DISTINCT s.s_suppkey AS left_id, c.c_custkey AS right_id
       |  FROM supplier s JOIN customer c
       |    ON s.s_nationkey = c.c_nationkey AND abs(s.s_acctbal - c.c_acctbal) < 500)
       |SELECT CAST(p.left_id AS BIGINT) AS new_key,
       |  min(comp.component) AS cluster_id, count(*) AS n_matches
       |FROM pairs p JOIN comp ON comp.id = p.right_id
       |GROUP BY p.left_id ORDER BY new_key""".stripMargin

  // ---- resolver: connected components --------------------------------
  private def chainEdges(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    customer
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"), col("dst").cast("long").as("dst"))
  }

  private val chainEdgesSql =
    """SELECT src, dst FROM (
      |  SELECT c_custkey AS src,
      |    lead(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey) AS dst
      |  FROM customer) WHERE dst IS NOT NULL"""

  private def componentsQuery(s: SparkSession, dir: String): DataFrame =
    Components.connected(chainEdges(Tables(s, dir, "customer")))
      .orderBy("id")

  private val componentsSql =
    Components.connectedSql(chainEdgesSql.stripMargin) + "\nORDER BY id"

  /** GOLDEN-RECORD SURVIVORSHIP — the master-data step after resolution
    * (what an MDM user does with matchbox's clusters: fuse each cluster's
    * member records into one canonical record by per-field survivorship
    * rules). Rules here, each a standard policy with a DETERMINISTIC
    * tiebreak so both engines agree on every pick:
    *   - name: longest value wins, ties to the lexicographically smallest
    *     (one struct-min per cluster — no window sort);
    *   - segment: most frequent value wins, ties to the smallest value
    *     (mode via a (cluster, value) count + struct-min, map-side
    *     combinable — never a per-cluster sort);
    *   - balance: maximum, in exact cents.
    *
    * Scale shape: one members join on id, one (cluster, value) aggregate
    * for the mode, one cluster-keyed aggregate for the rest, one join of
    * the two — all keyed shuffles with map-side combine, nothing
    * cluster-size-quadratic.
    */
  /** Mergeable survivorship statistics at (component, seg) grain — the
    * fold unit for INCREMENTAL golden-record maintenance (every policy is
    * associative: counts add, the name struct-min and balance max merge),
    * so a streaming fold of member micro-batches reproduces the batch
    * golden record exactly — the `nbWeightsFromCounts` stance. Input
    * needs (component, c_name, seg, bal_cents).
    */
  private[graft] def goldenStats(m: DataFrame): DataFrame =
    m.groupBy("component", "seg").agg(
      count(lit(1)).as("cnt"),
      min(struct((-length(col("c_name"))).as("nl"), col("c_name"))).as("nm"),
      max(col("bal_cents")).as("bm"))

  /** Fold two stats frames (running ∪ delta) back to the grain. */
  private[graft] def goldenMerge(stats: DataFrame): DataFrame =
    stats.groupBy("component", "seg").agg(
      sum("cnt").as("cnt"), min("nm").as("nm"), max("bm").as("bm"))

  /** Final picks from the statistics — shared by the batch query and the
    * incremental fold, so the two cannot drift.
    */
  private[graft] def goldenFromStats(stats: DataFrame): DataFrame =
    stats.groupBy("component").agg(
      sum("cnt").as("n_members"),
      min("nm").getField("c_name").as("name_pick"),
      min(struct((-col("cnt")).as("nc"), col("seg")))
        .getField("seg").as("seg_pick"),
      max("bm").as("bal_cents_max"))

  private def goldenMembers(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val comp = Components.connected(chainEdges(customer))
    comp.join(customer.select(
      col("c_custkey").cast("long").as("id"), col("c_name"),
      col("c_mktsegment").as("seg"),
      graft.Num.cents(col("c_acctbal")).as("bal_cents")), "id")
  }

  private def goldenRecord(s: SparkSession, dir: String): DataFrame =
    goldenFromStats(goldenStats(goldenMembers(s, dir)))
      .select(col("component").as("cluster_id"), col("n_members"),
        col("name_pick"), col("seg_pick"), col("bal_cents_max"))
      .orderBy("cluster_id")

  /** Streaming GOLDEN-RECORD maintenance gate (the `st_cdc_apply_gate`
    * recipe on the survivorship statistics, promoting the StreamingSpec
    * fold to a registered oracle row): the member stream split into three
    * disjoint slices, each reduced to the mergeable (component, seg)
    * statistics and folded through [[goldenMerge]]; the final
    * [[goldenFromStats]] read must equal the one-shot batch fusion
    * BIT-IDENTICALLY — which is exactly what the oracle recomputes (the
    * full survivorship SQL), so the hash compare IS the fold ≡ batch pin.
    * Every policy in the stats is associative (counts add, the name
    * struct-min and balance max merge), so state stays at (clusters ×
    * segments) grain — flat in stream history, the MDM continuous-fusion
    * shape at 100 TB.
    */
  private def goldenApplyGate(s: SparkSession, dir: String): DataFrame = {
    val m = goldenMembers(s, dir).localCheckpoint(false)
    var running: DataFrame = null
    (0 until 3).foreach { i =>
      val slice = goldenStats(m.filter(col("id") % 3 === i))
      running =
        (if (running == null) slice
         else goldenMerge(running.unionByName(slice)))
          .localCheckpoint(false)
    }
    goldenFromStats(running)
      .select(col("component").as("cluster_id"), col("n_members"),
        col("name_pick"), col("seg_pick"), col("bal_cents_max"))
      .orderBy("cluster_id")
  }

  private lazy val goldenRecordSql =
    s"""WITH comp AS (${Components.connectedSql(chainEdgesSql.stripMargin)}),
       |m AS (
       |  SELECT comp.component, c.c_name, c.c_mktsegment AS seg,
       |    CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
       |  FROM comp JOIN customer c ON c.c_custkey = comp.id),
       |base AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(max(bal_cents) AS BIGINT) AS bal_cents_max
       |  FROM m GROUP BY component),
       |np AS (
       |  SELECT component, c_name AS name_pick FROM (
       |    SELECT component, c_name, row_number() OVER (
       |      PARTITION BY component
       |      ORDER BY length(c_name) DESC, c_name) AS rn
       |    FROM m) WHERE rn = 1),
       |sc AS (SELECT component, seg, count(*) AS cnt
       |       FROM m GROUP BY component, seg),
       |sp AS (
       |  SELECT component, seg AS seg_pick FROM (
       |    SELECT component, seg, row_number() OVER (
       |      PARTITION BY component ORDER BY cnt DESC, seg) AS rn
       |    FROM sc) WHERE rn = 1)
       |SELECT base.component AS cluster_id, n_members, name_pick, seg_pick,
       |  bal_cents_max
       |FROM base JOIN np USING (component) JOIN sp USING (component)
       |ORDER BY cluster_id""".stripMargin

  private def clusterHashQuery(s: SparkSession, dir: String): DataFrame =
    Components.connected(chainEdges(Tables(s, dir, "customer")))
      .withColumn("leaf_hash", sha2(col("id").cast("string"), 256))
      .groupBy("component")
      .agg(
        Hashing.clusterHash(col("leaf_hash")).as("cluster_hash"),
        count(lit(1)).as("n_leaves"))
      .orderBy("component")

  private val clusterHashSql =
    s"""WITH comp AS (${Components.connectedSql(chainEdgesSql.stripMargin)}),
       |h AS (SELECT component, sha256(CAST(id AS VARCHAR)) AS lh FROM comp)
       |SELECT component, ${Hashing.clusterHashSql("lh")} AS cluster_hash,
       |  count(*) AS n_leaves
       |FROM h GROUP BY component ORDER BY component""".stripMargin

  /** RESOLUTION DIFF — the clustering-churn census between two resolver
    * runs (the audit a matchbox operator reads after new evidence lands:
    * v1 = the resolution before ~25% of the edges existed, v2 = after —
    * the `mb_components_incremental` theme at the reporting layer). All
    * quantities are exact pair-count arithmetic over the cluster
    * contingency table (the ARI machinery of `mb_eval_ari`):
    * pairs_stable = pairs co-clustered in BOTH, pairs_split = together in
    * v1 only, pairs_merged = together in v2 only; identical clusters
    * counted as contingency cells that exhaust both their row and column
    * (member-set equality without comparing member lists). Nodes the v1
    * edge set never saw resolve to singletons, so both resolutions cover
    * the same universe.
    *
    * Scale shape: two component runs (alternating star rounds), one
    * contingency aggregate keyed by (c1, c2), two marginal aggregates,
    * and four one-row reductions crossed into the census row — nothing
    * pairwise is ever materialised; the pair counts are closed-form in
    * the cell sizes.
    */
  private def resolutionDiff(s: SparkSession, dir: String): DataFrame = {
    val e2 = chainEdges(Tables(s, dir, "customer"))
    val e1 = e2.filter((col("src") + col("dst")) % 4 =!= 0)
    val ids = e2.select(col("src").as("id"))
      .unionByName(e2.select(col("dst").as("id"))).distinct()
    val r2 = Components.connected(e2).withColumnRenamed("component", "c2")
    val r1 = ids.join(
        Components.connected(e1).withColumnRenamed("component", "c"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("c1"))
    val cont = r1.join(r2, "id")
      .groupBy("c1", "c2").agg(count(lit(1)).as("nij"))
      .localCheckpoint(false) // feeds four reductions
    val s1 = cont.groupBy("c1").agg(sum("nij").as("a"))
    val s2 = cont.groupBy("c2").agg(sum("nij").as("b"))
    val t1 = s1.agg(count(lit(1)).as("n_clusters_v1"),
      sum(expr("a * (a - 1) DIV 2")).as("tog1"))
    val t2 = s2.agg(count(lit(1)).as("n_clusters_v2"),
      sum(expr("b * (b - 1) DIV 2")).as("tog2"))
    val t11 = cont.agg(sum(expr("nij * (nij - 1) DIV 2")).as("n11"),
      sum("nij").as("n_nodes"))
    val ident = cont.join(s1, "c1").join(s2, "c2")
      .filter(col("nij") === col("a") && col("nij") === col("b"))
      .agg(count(lit(1)).as("n_identical"))
    t11.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .crossJoin(broadcast(ident))
      .select(col("n_nodes"), col("n_clusters_v1"), col("n_clusters_v2"),
        col("n_identical"), col("n11").as("pairs_stable"),
        (col("tog1") - col("n11")).as("pairs_split"),
        (col("tog2") - col("n11")).as("pairs_merged"))
  }

  private val resolutionDiffSql =
    s"""WITH RECURSIVE
       |e2 AS (${chainEdgesSql.stripMargin}),
       |e1 AS (SELECT * FROM e2 WHERE (src + dst) % 4 <> 0),
       |ed2 AS (SELECT src, dst FROM e2 WHERE src <> dst
       |        UNION SELECT dst, src FROM e2 WHERE src <> dst),
       |ed1 AS (SELECT src, dst FROM e1 WHERE src <> dst
       |        UNION SELECT dst, src FROM e1 WHERE src <> dst),
       |nodes AS (SELECT src AS id FROM ed2 UNION SELECT dst FROM ed2),
       |reach2(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach2.r FROM reach2 JOIN ed2 e ON e.src = reach2.id),
       |reach1(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach1.r FROM reach1 JOIN ed1 e ON e.src = reach1.id),
       |a2 AS (SELECT id, min(r) AS c2 FROM reach2 GROUP BY id),
       |a1 AS (SELECT id, min(r) AS c1 FROM reach1 GROUP BY id),
       |cont AS (SELECT c1, c2, CAST(count(*) AS BIGINT) AS nij
       |         FROM a1 JOIN a2 USING (id) GROUP BY c1, c2),
       |s1 AS (SELECT c1, sum(nij) AS a FROM cont GROUP BY c1),
       |s2 AS (SELECT c2, sum(nij) AS b FROM cont GROUP BY c2)
       |SELECT
       |  (SELECT CAST(sum(nij) AS BIGINT) FROM cont) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_clusters_v1,
       |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_clusters_v2,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cont
       |   JOIN s1 USING (c1) JOIN s2 USING (c2)
       |   WHERE nij = a AND nij = b) AS n_identical,
       |  (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) FROM cont)
       |    AS pairs_stable,
       |  CAST((SELECT sum(a * (a - 1) // 2) FROM s1)
       |    - (SELECT sum(nij * (nij - 1) // 2) FROM cont) AS BIGINT)
       |    AS pairs_split,
       |  CAST((SELECT sum(b * (b - 1) // 2) FROM s2)
       |    - (SELECT sum(nij * (nij - 1) // 2) FROM cont) AS BIGINT)
       |    AS pairs_merged""".stripMargin

  // ---- resolution lookup / match ------------------------------------
  /** Namespace two sources into one id space (customer: 2k, supplier: 2k+1),
    * link on key equality, resolve with the generic Components operator, and
    * emit the cluster ↔ source-key lookup (reference: results.py
    * `ResolverMatches.as_lookup`). The oracle exploits the 1-1 structure
    * (component = even id) — the Spark side runs the general algorithm.
    */
  private def resolveParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val customer = Tables(s, dir, "customer")
    val supplier = Tables(s, dir, "supplier")
    val edges = customer
      .join(supplier, col("c_custkey") === col("s_suppkey"))
      .select(
        (col("c_custkey") * 2).cast("long").as("src"),
        (col("s_suppkey") * 2 + 1).cast("long").as("dst"))
    val members = customer.select(
      (col("c_custkey") * 2).cast("long").as("id"),
      lit("customer").as("source"), col("c_custkey").as("rec_key"), col("c_name").as("name"))
      .unionByName(supplier.select(
        (col("s_suppkey") * 2 + 1).cast("long").as("id"),
        lit("supplier").as("source"), col("s_suppkey").as("rec_key"), col("s_name").as("name")))
    (Components.connected(edges), members)
  }

  private def resolveLookup(s: SparkSession, dir: String): DataFrame = {
    val (comp, members) = resolveParts(s, dir)
    comp.join(members, "id")
      .select(col("component").as("cluster_id"), col("source"), col("rec_key"), col("name"))
      .orderBy("cluster_id", "source")
  }

  private val resolveLookupSql =
    """SELECT 2 * c_custkey AS cluster_id, 'customer' AS source,
      |  c_custkey AS rec_key, c_name AS name
      |FROM customer JOIN supplier ON c_custkey = s_suppkey
      |UNION ALL
      |SELECT 2 * s_suppkey, 'supplier', s_suppkey, s_name
      |FROM supplier JOIN customer ON c_custkey = s_suppkey
      |ORDER BY cluster_id, source""".stripMargin

  /** One cluster's records viewed across sources (reference results.py:138
    * `view_cluster`, oracle-matched since r7 — spec-only before): resolve
    * customer+supplier, then fetch and diagonal-concat the members of the
    * cluster holding key 7 (cluster_id 14 under the 2k/2k+1 vertex
    * encoding) with source-qualified columns. The oracle rebuilds the
    * two-source view directly from the deterministic resolution shape.
    */
  private def clusterView(s: SparkSession, dir: String): DataFrame = {
    val (comp, members) = resolveParts(s, dir)
    val lookup = comp.join(members, "id")
      .select(col("component").as("cluster_id"), col("source"), col("rec_key"))
    val cust = Tables(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    graft.operators.Lookup.viewCluster(14L,
      Seq(("customer", cust, "c_custkey"), ("supplier", supp, "s_suppkey")), lookup)
  }

  private val clusterViewSql =
    """SELECT c_custkey AS customer_c_custkey, CAST(NULL AS BIGINT) AS supplier_s_suppkey,
      |  c_name AS customer_c_name, c_nationkey AS customer_c_nationkey,
      |  CAST(NULL AS VARCHAR) AS supplier_s_name, CAST(NULL AS INTEGER) AS supplier_s_nationkey
      |FROM customer WHERE c_custkey = 7
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), s_suppkey, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
      |  s_name, s_nationkey
      |FROM supplier WHERE s_suppkey = 7""".stripMargin

  /** Judgement netting as an oracle-matched query (reference eval.py
    * `process_judgements`; distributed twin `Judgements.net`, spec-only
    * until r7). Deterministic seeding: suppliers form bounded-size shown
    * clusters; one judgement endorses its even-key members, a second
    * its odd-key members (together a valid partition). Net weights: pairs
    * inside an endorsed set get `1 + (n_shown − n_endorsed)/n_shown`,
    * cross pairs collect `−n_endorsed/n_shown` from both endorsements —
    * two-term double sums, order-safe (IEEE addition of two terms is
    * commutative), so the oracle's CASE arithmetic is bit-exact.
    */
  private def judgementsNet(s: SparkSession, dir: String): DataFrame = {
    // Cluster key: (suppkey DIV 40, nation mod 5) packed as one long. The
    // mod-5 fold keeps the query non-empty at sf0.001 (ten suppliers, all
    // in distinct nations, would otherwise be singletons with no pairs);
    // the DIV-40 term BOUNDS shown-cluster size (≤ 40 · nation share) no
    // matter the sf. That bound is the honest scale model for judgements:
    // a person is SHOWN a cluster, so shown clusters are human-scale by
    // contract (the operator itself refuses >maxClusterSize leaves) — a
    // 100× corpus means 100× MORE judgement events, never 100×-bigger
    // shown clusters, so netted pair output grows linearly with sf (the
    // r12 sf10 run's quadratic pair blow-up was this seeding's artefact,
    // not the operator's).
    val supp = Tables(s, dir, "supplier")
      .select((expr("s_suppkey DIV 40") * 5 + col("s_nationkey") % 5)
        .cast("long").as("nk"), col("s_suppkey").as("id"))
    // root encoding: shown = nk·3, endorsed-even = nk·3+1, endorsed-odd =
    // nk·3+2 — collision-free for unbounded nk (the old +1000/+2000
    // offsets would alias once nk crossed 1000)
    val shown = supp.groupBy("nk")
      .agg(sort_array(collect_list("id")).as("leaves"))
      .select((col("nk") * 3).as("root"), col("leaves"))
    def endorsedSet(parity: Int, tag: Long) = supp
      .filter(col("id") % 2 === parity)
      .groupBy("nk")
      .agg(sort_array(collect_list("id")).as("leaves"))
      .select((col("nk") * 3 + tag).as("root"), col("leaves"))
    val expansion = shown
      .unionByName(endorsedSet(0, 1L)).unionByName(endorsedSet(1, 2L))
    // derive judgement rows from the endorsed sets that actually exist —
    // a cluster whose suppliers are all one parity gets one endorsement
    // covering the whole shown cluster, not a phantom empty one
    val judgements = expansion.filter(col("root") % 3 =!= 0)
      .select((expr("root DIV 3") * 3).as("shown"), col("root").as("endorsed"))
    graft.eval.Judgements.net(judgements, expansion)
      .orderBy("a", "b")
  }

  private val judgementsNetSql =
    """WITH s AS (SELECT CAST((s_suppkey // 40) * 5 + s_nationkey % 5 AS BIGINT) AS nk,
      |    s_suppkey AS id FROM supplier),
      |c AS (SELECT nk, count(*) AS n,
      |    count(*) FILTER (id % 2 = 0) AS ne, count(*) FILTER (id % 2 = 1) AS no
      |  FROM s GROUP BY nk),
      |p AS (SELECT a.nk, a.id AS a, b.id AS b
      |  FROM s a JOIN s b ON a.nk = b.nk AND a.id < b.id)
      |SELECT a, b,
      |  CASE
      |    WHEN a % 2 = 0 AND b % 2 = 0 THEN (1.0 + (n - ne) / n) + (-no / n)
      |    WHEN a % 2 = 1 AND b % 2 = 1 THEN (1.0 + (n - no) / n) + (-ne / n)
      |    ELSE (-ne / n) + (-no / n)
      |  END AS net
      |FROM p JOIN c USING (nk)
      |ORDER BY a, b""".stripMargin

  /** λ estimation (splink `estimate_probability_two_random_records_match`)
    * as an oracle-matched scalar: distinct rule-match count, scaled by the
    * declared recall over the full pair space, clamped to (0,1) — the
    * oracle replays the identical double arithmetic. Spec-only until r7.
    */
  private def lambdaEstimate(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val supp = Tables(s, dir, "supplier")
    val lam = Link.estimateLambda(cust, supp, "c_custkey", "s_suppkey",
      Seq("l.c_custkey = r.s_suppkey",
        "l.c_nationkey = r.s_nationkey AND l.c_custkey = r.s_suppkey"),
      recall = 0.8)
    import s.implicits._
    Seq(lam).toDF("lambda")
  }

  private val lambdaEstimateSql =
    """WITH m AS (
      |  SELECT count(DISTINCT (c_custkey, s_suppkey)) AS matched
      |  FROM customer JOIN supplier ON c_custkey = s_suppkey),
      |t AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM customer)
      |           * (SELECT CAST(count(*) AS DOUBLE) FROM supplier) AS total)
      |SELECT least(greatest((CAST(matched AS DOUBLE) / CAST(0.8 AS DOUBLE)) / total,
      |    CAST(1e-9 AS DOUBLE)), CAST(1 AS DOUBLE) - CAST(1e-9 AS DOUBLE)) AS lambda
      |FROM m, t""".stripMargin

  /** Sampled-u estimation (splink `estimate_u_using_random_sampling`,
    * `Link.estimateU`; spec-only until r7) run at full pair coverage at
    * every sf the correctness harness uses, so the estimate is exact and
    * oracle-comparable: `maxPairs` = 225M ⇒ 15000/side, the whole table
    * on each side at sf0.01 (1500×100) AND sf0.1 (15000×1000), so the
    * agreement rate is an exact integer-ratio double (sums of 0/1
    * doubles are exact) and the oracle replays count-ratio + clamp
    * arithmetic identically. Above that the sample caps by PROTOCOL, not
    * by the corpus — the r16 4G-pair cap let sf1 evaluate all 1.5e9
    * pairs (a measured decade-scale hazard of the same species as the
    * params-report's 4-billion-JW-pair lesson); at 15000/side sf1 reads
    * 150M cheap predicate pairs, seconds on one box. The sampling path
    * below full coverage stays property-spec'd (PropertySpec).
    */
  private def sampledU(s: SparkSession, dir: String): DataFrame = {
    val us = Link.estimateU(
      Tables(s, dir, "customer"), Tables(s, dir, "supplier"),
      "c_custkey", "s_suppkey",
      Seq("l.c_nationkey = r.s_nationkey",
        "l.c_custkey % 10 = r.s_suppkey % 10",
        "abs(l.c_acctbal - r.s_acctbal) < 100"),
      maxPairs = 225000000L)
    import s.implicits._
    Seq((us(0), us(1), us(2))).toDF("u_nation", "u_mod10", "u_balance")
  }

  private val sampledUSql = {
    def u(cond: String) =
      s"""least(greatest(
         |    CAST(count(*) FILTER ($cond) AS DOUBLE) / CAST(count(*) AS DOUBLE),
         |    CAST(1e-6 AS DOUBLE)), CAST(1 AS DOUBLE) - CAST(1e-6 AS DOUBLE))""".stripMargin
    s"""SELECT
       |  ${u("c_nationkey = s_nationkey")} AS u_nation,
       |  ${u("c_custkey % 10 = s_suppkey % 10")} AS u_mod10,
       |  ${u("abs(c_acctbal - s_acctbal) < 100")} AS u_balance
       |FROM customer, supplier""".stripMargin
  }

  private def matchKeys(s: SparkSession, dir: String): DataFrame = {
    val (comp, members) = resolveParts(s, dir)
    val assigned = comp.join(members, "id")
    val probe = assigned
      .filter(col("source") === "customer" && col("rec_key") < 50)
      .select(col("component"), col("rec_key").as("key"))
    val matched = assigned.filter(col("source") === "supplier")
      .select(col("component"), col("rec_key").as("matched_key"), col("name").as("matched_name"))
    probe.join(matched, "component")
      .select("key", "matched_key", "matched_name")
      .orderBy("key", "matched_key")
  }

  private val matchKeysSql =
    """SELECT c_custkey AS key, s_suppkey AS matched_key, s_name AS matched_name
      |FROM customer JOIN supplier ON c_custkey = s_suppkey
      |WHERE c_custkey < 50
      |ORDER BY key, matched_key""".stripMargin

  /** Cluster sampling for human judgement (reference: client/eval/samples.py
    * `get_samples` + server `sample_for_eval` — serve clusters with their
    * member records for annotation), upgraded to the disagreement-weighted
    * stratified contract (r12 verdict ask): clusters are banded by size and,
    * within each band, the two clusters where the chain resolution and an
    * alternative resolution (nation × custkey%3 — planted to split chains
    * unevenly) disagree on the most pairs are served first, members
    * attached. [[graft.eval.Samples.disagreementStratified]] does the
    * ranking on pair-counting sufficient statistics — exact integers, so
    * the oracle replays it bit-for-bit.
    */
  private def evalSample(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val resolution = Components.connected(chainEdges(customer))
    val alternative = customer.select(
      col("c_custkey").cast("long").as("id"),
      (col("c_nationkey") * 10 + col("c_custkey") % 3).cast("long").as("alt"))
    val sampled = graft.eval.Samples.disagreementStratified(
      resolution, alternative, perBand = 2)
    sampled
      .join(resolution.withColumnRenamed("component", "cluster_id"), "cluster_id")
      .join(customer, col("id") === col("c_custkey"))
      .select(
        col("band").cast("long").as("band"),
        col("cluster_id"), col("id"), col("c_name").as("name"),
        col("dis_ppm"))
      .orderBy("band", "cluster_id", "id")
  }

  private val evalSampleSql =
    s"""WITH comp AS (${Components.connectedSql(chainEdgesSql.stripMargin)}),
       |m AS (
       |  SELECT comp.id, comp.component,
       |    CAST(c_nationkey * 10 + c_custkey % 3 AS BIGINT) AS alt, c_name
       |  FROM comp JOIN customer ON id = c_custkey),
       |cells AS (SELECT component, alt, count(*) AS n_i FROM m GROUP BY 1, 2),
       |cl AS (SELECT component AS cluster_id,
       |    CAST(sum(n_i) AS BIGINT) AS csize,
       |    CAST(sum(n_i * (n_i - 1) // 2) AS BIGINT) AS agree
       |  FROM cells GROUP BY 1),
       |st AS (SELECT cluster_id, csize,
       |    csize * (csize - 1) // 2 - agree AS split_pairs,
       |    csize * (csize - 1) // 2 AS total_pairs,
       |    CAST(length(bin(csize)) - 1 AS BIGINT) AS band
       |  FROM cl),
       |rk AS (SELECT band, cluster_id,
       |    CAST(split_pairs * 1000000 // greatest(total_pairs, 1) AS BIGINT) AS dis_ppm,
       |    row_number() OVER (PARTITION BY band
       |      ORDER BY split_pairs * 1000000 // greatest(total_pairs, 1) DESC,
       |        cluster_id) AS rn
       |  FROM st)
       |SELECT band, cluster_id, m.id, c_name AS name, dis_ppm
       |FROM rk JOIN m ON m.component = rk.cluster_id
       |WHERE rn <= 2
       |ORDER BY band, cluster_id, id""".stripMargin

  // ---- score normalisation -------------------------------------------
  private def normaliseScores(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val supplier = Tables(s, dir, "supplier")
    val fuzzy = customer.alias("l")
      .join(supplier.alias("r"),
        expr("l.c_nationkey = r.s_nationkey AND abs(l.c_acctbal - r.s_acctbal) < 10"))
      .select(
        col("r.s_suppkey").cast("long").as("left_id"),
        col("l.c_custkey").cast("long").as("right_id"),
        lit(0.6).as("score"))
    val exact = customer.alias("l")
      .join(supplier.alias("r"), expr("l.c_custkey = r.s_suppkey"))
      .select(
        col("l.c_custkey").cast("long").as("left_id"),
        col("r.s_suppkey").cast("long").as("right_id"),
        lit(1.0).as("score"))
    Scores.normalise(fuzzy.union(exact)).orderBy("left_id", "right_id")
  }

  private val normaliseScoresSql =
    """WITH e AS (
      |  SELECT s_suppkey AS left_id, c_custkey AS right_id, CAST(0.6 AS DOUBLE) AS score
      |  FROM customer JOIN supplier
      |    ON c_nationkey = s_nationkey AND abs(c_acctbal - s_acctbal) < 10
      |  UNION ALL
      |  SELECT c_custkey, s_suppkey, CAST(1.0 AS DOUBLE)
      |  FROM customer JOIN supplier ON c_custkey = s_suppkey)
      |SELECT least(left_id, right_id) AS left_id,
      |  greatest(left_id, right_id) AS right_id, max(score) AS score
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Flagship end-to-end pipeline: two sources -> naive dedupe (within
    * customers) + deterministic link (customer<->supplier on key equality)
    * -> union the scored edges -> resolve with connected components over the
    * namespaced id space -> cluster/key lookup. Exercises the composed
    * operator chain exactly as a matchbox DAG would run it. The oracle
    * exploits the known structure (dedupe cliques + 1-1 links) with a
    * window function; the Spark side runs the general operators.
    */
  private def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val supplier = Tables(s, dir, "supplier")
    // namespace: customer id = 2k, supplier id = 2k+1. Star edges, not the
    // quadratic pair list — connectivity-equivalent for the resolver (see
    // Dedupe.naiveStarEdges) and the difference between linear and 100×
    // edge growth at 10× data.
    val dedupeEdges = Dedupe.naiveStarEdges(
      customer, "c_custkey", Seq("c_nationkey", "c_mktsegment"))
      .select((col("left_id") * 2).as("src"), (col("right_id") * 2).as("dst"))
    val linkEdges = Link.deterministic(
      customer, supplier, "c_custkey", "s_suppkey", Seq("l.c_custkey = r.s_suppkey"))
      .select((col("left_id") * 2).as("src"), (col("right_id") * 2 + 1).as("dst"))
    val comp = Components.connected(dedupeEdges.union(linkEdges))
    val members = customer.select(
      (col("c_custkey") * 2).cast("long").as("id"),
      lit("customer").as("source"), col("c_custkey").as("rec_key"))
      .unionByName(supplier.select(
        (col("s_suppkey") * 2 + 1).cast("long").as("id"),
        lit("supplier").as("source"), col("s_suppkey").as("rec_key")))
    Lookup.asLookup(comp, members)
      .select(col("cluster_id"), col("source"), col("rec_key"))
      .orderBy("cluster_id", "source", "rec_key")
  }

  private val pipelineE2eSql =
    """WITH g AS (
      |  SELECT c_custkey,
      |    2 * min(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment) AS comp
      |  FROM customer)
      |SELECT comp AS cluster_id, 'customer' AS source, c_custkey AS rec_key FROM g
      |UNION ALL
      |SELECT g.comp, 'supplier', s_suppkey
      |FROM supplier JOIN g ON s_suppkey = c_custkey
      |ORDER BY cluster_id, source, rec_key""".stripMargin

  /** Root/leaf/source/key dump (reference results.py `as_dump`): every
    * member row with its resolved cluster and its own leaf id; records no
    * model touched keep singleton clusters. The oracle exploits the 1-1
    * link structure (customer leaf 2k always wins the min) — the Spark
    * side runs the general lookup.
    */
  private def resolveDump(s: SparkSession, dir: String): DataFrame = {
    val (comp, members) = resolveParts(s, dir)
    Lookup.asLookup(comp, members)
      .select(col("cluster_id"), col("id").as("leaf_id"), col("source"), col("rec_key"))
      .orderBy("cluster_id", "source", "rec_key")
  }

  private val resolveDumpSql =
    """SELECT cluster_id, leaf_id, source, rec_key FROM (
      |  SELECT 2 * c_custkey AS cluster_id, 2 * c_custkey AS leaf_id,
      |    'customer' AS source, c_custkey AS rec_key FROM customer
      |  UNION ALL
      |  -- every supplier key is a customer key: always co-clustered at 2k
      |  SELECT 2 * s_suppkey, 2 * s_suppkey + 1, 'supplier', s_suppkey FROM supplier)
      |ORDER BY cluster_id, source, rec_key""".stripMargin

  /** Merge two resolutions over three namespaced sources (customer: 3k,
    * supplier: 3k+1, part: 3k+2): resolution A links customer↔supplier on
    * key equality, resolution B links customer↔part; the merged clustering
    * (reference results.py:182 `ResolverMatches.merge`) unions both
    * co-memberships and re-resolves, then emits the three-source lookup
    * chain. The oracle exploits the key containment (supplier ⊆ customer ⊆
    * part keys); the Spark side runs the general operators.
    */
  private def resolveMerge(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val supplier = Tables(s, dir, "supplier")
    val part = Tables(s, dir, "part")
    val members = customer.select(
      (col("c_custkey") * 3).cast("long").as("id"),
      lit("customer").as("source"), col("c_custkey").cast("long").as("rec_key"))
      .unionByName(supplier.select(
        (col("s_suppkey") * 3 + 1).cast("long").as("id"),
        lit("supplier").as("source"), col("s_suppkey").cast("long").as("rec_key")))
      .unionByName(part.select(
        (col("p_partkey") * 3 + 2).cast("long").as("id"),
        lit("part").as("source"), col("p_partkey").cast("long").as("rec_key")))
    val edgesA = Link.deterministic(customer, supplier, "c_custkey", "s_suppkey",
      Seq("l.c_custkey = r.s_suppkey"))
      .select((col("left_id") * 3).as("src"), (col("right_id") * 3 + 1).as("dst"))
    val edgesB = Link.deterministic(customer, part, "c_custkey", "p_partkey",
      Seq("l.c_custkey = r.p_partkey"))
      .select((col("left_id") * 3).as("src"), (col("right_id") * 3 + 2).as("dst"))
    // Both resolutions share one member universe, so solve them in ONE
    // components run over the disjoint tagged union (A's node k → 2k, B's →
    // 2k+1): the per-side namespacing is strictly monotone, so each side's
    // min-id representative maps back to exactly the representative a
    // standalone run would pick — halving the O(log n) iterative rounds.
    val comp = Components.connected(
      edgesA.select((col("src") * 2).as("src"), (col("dst") * 2).as("dst"))
        .unionByName(
          edgesB.select((col("src") * 2 + 1).as("src"), (col("dst") * 2 + 1).as("dst"))))
      .localCheckpoint(false) // feeds both per-side splits
    def resolution(tag: Int): DataFrame =
      Lookup.asLookup(
        comp.where(col("id") % 2 === tag)
          // 2k+tag >> 1 = k for tag ∈ {0,1}: exact LongType untagging
          .select(shiftright(col("id"), 1).as("id"),
            shiftright(col("component"), 1).as("component")),
        members)
        .select(col("cluster_id"), col("id").as("leaf_id"))
    val resA = resolution(0)
    val resB = resolution(1)
    Lookup.mergeResolutions(resA, resB)
      .join(members.withColumnRenamed("id", "leaf_id"), "leaf_id")
      .select(col("cluster_id"), col("source"), col("rec_key"))
      .orderBy("cluster_id", "source", "rec_key")
  }

  private val resolveMergeSql =
    """SELECT cluster_id, source, rec_key FROM (
      |  SELECT 3 * c_custkey AS cluster_id, 'customer' AS source, c_custkey AS rec_key
      |  FROM customer
      |  UNION ALL
      |  -- every supplier key is a customer key, so suppliers always co-cluster
      |  SELECT 3 * s_suppkey, 'supplier', s_suppkey FROM supplier
      |  UNION ALL
      |  SELECT CASE WHEN c.c_custkey IS NOT NULL THEN 3 * p_partkey
      |              ELSE 3 * p_partkey + 2 END, 'part', p_partkey
      |  FROM part LEFT JOIN customer c ON p_partkey = c_custkey)
      |ORDER BY cluster_id, source, rec_key""".stripMargin

  /** Resolver threshold sweep (the per-model score-threshold surface of
    * resolvers/components.py `compute_clusters`, swept): the SAME scored
    * edge set resolved at three thresholds — clusters dissolve
    * monotonically as the threshold rises. One row per threshold with
    * integer cluster census; the oracle recomputes each resolution with a
    * recursive CTE.
    */
  private def resolverSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Resolver
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") < 300)
    val edges = Link.fellegiSunter(
      cust.filter(col("c_custkey") % 2 === 0),
      cust.filter(col("c_custkey") % 2 === 1),
      "c_custkey", "c_custkey",
      blocking = "l.c_nationkey = r.c_nationkey",
      comparisons = Seq(
        ("l.c_mktsegment = r.c_mktsegment", 2.5, -1.2),
        ("abs(l.c_acctbal - r.c_acctbal) < 100", 3.1, -0.8)),
      threshold = -100.0)
      .select(col("left_id"), col("right_id"),
        col("match_weight").as("score"))
      .localCheckpoint(false)
    resolverSweepThresholds.map { t =>
      val assignment = Resolver
        .computeClusters(Map("fs" -> edges), Map("fs" -> t))
        .localCheckpoint(false)
      val sizes = assignment.groupBy("component").count()
      assignment.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(sizes.agg(
          count(lit(1)).as("n_components"), max("count").as("max_cluster")))
        .select(lit(t).as("threshold"), col("n_nodes"),
          col("n_components"), col("max_cluster"))
    }.reduce(_ unionByName _).orderBy("threshold")
  }

  private val resolverSweepThresholds = Seq(1.5, 3.0, 5.0)

  private val resolverSweepSql = {
    val blocks = resolverSweepThresholds.zipWithIndex.map { case (t, i) =>
      s"""e$i AS (SELECT left_id AS src, right_id AS dst FROM scored WHERE w >= $t),
         |ed$i AS (SELECT src, dst FROM e$i UNION SELECT dst, src FROM e$i),
         |n$i AS (SELECT src AS id FROM ed$i UNION SELECT dst FROM ed$i),
         |reach$i(id, r) AS (
         |  SELECT id, id FROM n$i
         |  UNION
         |  SELECT e.dst, reach$i.r FROM reach$i JOIN ed$i e ON e.src = reach$i.id),
         |comp$i AS (SELECT id, min(r) AS component FROM reach$i GROUP BY id),
         |sz$i AS (SELECT component, count(*) AS n FROM comp$i GROUP BY 1),
         |row$i AS (SELECT CAST($t AS DOUBLE) AS threshold,
         |  (SELECT CAST(count(*) AS BIGINT) FROM comp$i) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sz$i) AS n_components,
         |  (SELECT CAST(max(n) AS BIGINT) FROM sz$i) AS max_cluster)""".stripMargin
    }.mkString(",\n")
    val rows = resolverSweepThresholds.indices
      .map(i => s"SELECT * FROM row$i").mkString(" UNION ALL ")
    s"""WITH RECURSIVE cust AS (SELECT * FROM customer WHERE c_custkey < 300),
       |scored AS (
       |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id,
       |    (CASE WHEN l.c_mktsegment = r.c_mktsegment
       |          THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
       |   + CASE WHEN abs(l.c_acctbal - r.c_acctbal) < 100
       |          THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END) AS w
       |  FROM (SELECT * FROM cust WHERE c_custkey % 2 = 0) l
       |  JOIN (SELECT * FROM cust WHERE c_custkey % 2 = 1) r
       |    ON l.c_nationkey = r.c_nationkey),
       |$blocks
       |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
  }

  // ---- eval -----------------------------------------------------------
  /** Deterministic synthetic judgements over customers < 300: within-group
    * pairs with a hash-ish verdict sign, plus sparse cross-segment
    * endorsements — mirrored exactly in the oracles.
    */
  private def syntheticJudgements(cust: DataFrame): DataFrame = {
    val jA = cust.alias("l")
      .join(cust.alias("r"),
        expr("""l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment
                AND l.c_custkey < r.c_custkey"""))
      .select(
        col("l.c_custkey").cast("long").as("left_id"),
        col("r.c_custkey").cast("long").as("right_id"),
        when((col("l.c_custkey") + col("r.c_custkey")) % 5 === 0, -1).otherwise(1).as("verdict"))
    val jB = cust.alias("l")
      .join(cust.alias("r"),
        expr("""l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
                AND (l.c_custkey + r.c_custkey) % 97 = 0"""))
      .select(
        col("l.c_custkey").cast("long").as("left_id"),
        col("r.c_custkey").cast("long").as("right_id"),
        lit(1).as("verdict"))
    jA.union(jB)
  }

  private def evalPr(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") < 300)
    val assignments = Components.connected(chainEdges(cust))
    PrecisionRecall(assignments, syntheticJudgements(cust))
      .withColumnRenamed("precision", "precision_score")
      .withColumnRenamed("recall", "recall_score")
  }

  /** Multi-model PR: two clusterings of the same customers — fine
    * (nation, segment) vs coarse (nation) — scored against one judgement
    * set on the shared-leaf universe (reference eval.py:52 scores a *list*
    * of models). One row per model.
    */
  private def evalPrMulti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") < 300)
    val fine = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .cast("long").as("component"))
    val coarse = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey"))
        .cast("long").as("component"))
    PrecisionRecall.multi(Seq(fine, coarse), syntheticJudgements(cust))
      .withColumnRenamed("precision", "precision_score")
      .withColumnRenamed("recall", "recall_score")
  }

  /** B-cubed sufficient statistics for the coarse (nation) clustering
    * scored against the fine (nation, segment) truth classes — per-group
    * INTEGER rows (member count, Σ overlap²), exact and hash-stable; the
    * derived B³ precision/recall doubles are asserted in EvalSpec
    * (coarse-over-fine ⇒ recall 1, precision < 1).
    */
  private def evalBcubed(s: SparkSession, dir: String): DataFrame = {
    import graft.eval.BCubed
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") < 300)
    val assignment = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey"))
        .cast("long").as("component"))
    val truth = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .cast("long").as("entity_id"))
    BCubed.stats(assignment, truth).orderBy("side", "group_id")
  }

  private val evalBcubedSql =
    """WITH cust AS (SELECT * FROM customer WHERE c_custkey < 300),
      |a AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey) AS component FROM cust),
      |t AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment) AS entity_id FROM cust),
      |ct AS (
      |  SELECT component, entity_id, CAST(count(*) AS BIGINT) AS c_ct
      |  FROM a JOIN t USING (id) GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT 'cluster' AS side, CAST(component AS BIGINT) AS group_id,
      |    CAST(sum(c_ct) AS BIGINT) AS n, CAST(sum(c_ct * c_ct) AS BIGINT) AS sq
      |  FROM ct GROUP BY 2
      |  UNION ALL
      |  SELECT 'class', CAST(entity_id AS BIGINT),
      |    CAST(sum(c_ct) AS BIGINT), CAST(sum(c_ct * c_ct) AS BIGINT)
      |  FROM ct GROUP BY 2)
      |ORDER BY side, group_id""".stripMargin

  /** Adjusted-Rand-Index pair-counting sums for the same coarse-vs-fine
    * clustering comparison as mb_eval_bcubed — one exact INTEGER row; the
    * ARI double and its perfect/independent/degenerate properties are
    * asserted in EvalSpec.
    */
  private def evalAri(s: SparkSession, dir: String): DataFrame = {
    import graft.eval.RandIndex
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") < 300)
    val assignment = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey"))
        .cast("long").as("component"))
    val truth = cust.select(
      col("c_custkey").cast("long").as("id"),
      min("c_custkey").over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .cast("long").as("entity_id"))
    RandIndex.stats(assignment, truth)
  }

  private val evalAriSql =
    """WITH cust AS (SELECT * FROM customer WHERE c_custkey < 300),
      |a AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey) AS component FROM cust),
      |t AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment) AS entity_id FROM cust),
      |ct AS (
      |  SELECT component, entity_id, CAST(count(*) AS BIGINT) AS c_ct
      |  FROM a JOIN t USING (id) GROUP BY 1, 2),
      |cl AS (SELECT component, sum(c_ct) AS n FROM ct GROUP BY 1),
      |tr AS (SELECT entity_id, sum(c_ct) AS n FROM ct GROUP BY 1)
      |SELECT
      |  CAST((SELECT sum(c_ct * (c_ct - 1) // 2) FROM ct) AS BIGINT) AS index_pairs,
      |  CAST((SELECT sum(n * (n - 1) // 2) FROM cl) AS BIGINT) AS cluster_pairs,
      |  CAST((SELECT sum(n * (n - 1) // 2) FROM tr) AS BIGINT) AS class_pairs,
      |  CAST((SELECT sum(c_ct) FROM ct) * ((SELECT sum(c_ct) FROM ct) - 1) // 2
      |    AS BIGINT) AS total_pairs""".stripMargin

  private val evalPrMultiSql =
    """WITH cust AS (SELECT * FROM customer WHERE c_custkey < 300),
      |m0 AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment) AS component FROM cust),
      |m1 AS (SELECT c_custkey AS id,
      |  min(c_custkey) OVER (PARTITION BY c_nationkey) AS component FROM cust),
      |jA AS (
      |  SELECT l.c_custkey AS a, r.c_custkey AS b,
      |    CASE WHEN (l.c_custkey + r.c_custkey) % 5 = 0 THEN -1 ELSE 1 END AS verdict
      |  FROM cust l JOIN cust r
      |    ON l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment
      |    AND l.c_custkey < r.c_custkey),
      |jB AS (
      |  SELECT l.c_custkey AS a, r.c_custkey AS b, 1 AS verdict
      |  FROM cust l JOIN cust r
      |    ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      |    AND (l.c_custkey + r.c_custkey) % 97 = 0),
      |j AS (SELECT * FROM jA UNION ALL SELECT * FROM jB),
      |net AS (SELECT a, b, sum(verdict) AS net FROM j GROUP BY a, b HAVING sum(verdict) <> 0),
      |-- both models assign every cust id, so the shared-leaf intersection
      |-- equals the judged-leaf set, and net pairs already lie within it
      |v AS (SELECT a, b FROM net WHERE net > 0),
      |p0 AS (SELECT x.id AS a, y.id AS b FROM m0 x
      |       JOIN m0 y ON x.component = y.component AND x.id < y.id
      |       JOIN net ON net.a = x.id AND net.b = y.id),
      |p1 AS (SELECT x.id AS a, y.id AS b FROM m1 x
      |       JOIN m1 y ON x.component = y.component AND x.id < y.id
      |       JOIN net ON net.a = x.id AND net.b = y.id),
      |t0 AS (SELECT count(*) AS tp FROM p0 JOIN v ON p0.a = v.a AND p0.b = v.b),
      |t1 AS (SELECT count(*) AS tp FROM p1 JOIN v ON p1.a = v.a AND p1.b = v.b)
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS model, (SELECT tp FROM t0) AS tp,
      |    (SELECT count(*) FROM p0) AS n_model,
      |    (SELECT count(*) FROM v) AS n_validation,
      |    CAST((SELECT tp FROM t0) AS DOUBLE) / (SELECT count(*) FROM p0) AS precision_score,
      |    CAST((SELECT tp FROM t0) AS DOUBLE) / (SELECT count(*) FROM v) AS recall_score
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), (SELECT tp FROM t1),
      |    (SELECT count(*) FROM p1),
      |    (SELECT count(*) FROM v),
      |    CAST((SELECT tp FROM t1) AS DOUBLE) / (SELECT count(*) FROM p1),
      |    CAST((SELECT tp FROM t1) AS DOUBLE) / (SELECT count(*) FROM v))
      |ORDER BY model""".stripMargin

  private val evalPrSql =
    """WITH RECURSIVE cust AS (SELECT * FROM customer WHERE c_custkey < 300),
      |e0 AS (SELECT src, dst FROM (
      |  SELECT c_custkey AS src,
      |    lead(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey) AS dst
      |  FROM cust) WHERE dst IS NOT NULL),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |jA AS (
      |  SELECT l.c_custkey AS a, r.c_custkey AS b,
      |    CASE WHEN (l.c_custkey + r.c_custkey) % 5 = 0 THEN -1 ELSE 1 END AS verdict
      |  FROM cust l JOIN cust r
      |    ON l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment
      |    AND l.c_custkey < r.c_custkey),
      |jB AS (
      |  SELECT l.c_custkey AS a, r.c_custkey AS b, 1 AS verdict
      |  FROM cust l JOIN cust r
      |    ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      |    AND (l.c_custkey + r.c_custkey) % 97 = 0),
      |j AS (SELECT * FROM jA UNION ALL SELECT * FROM jB),
      |net AS (SELECT a, b, sum(verdict) AS net FROM j GROUP BY a, b HAVING sum(verdict) <> 0),
      |jleaves AS (SELECT DISTINCT id FROM
      |  (SELECT a AS id FROM net UNION ALL SELECT b AS id FROM net)),
      |member AS (SELECT comp.id, comp.component FROM comp JOIN jleaves ON comp.id = jleaves.id),
      |mpairs AS (
      |  SELECT x.id AS a, y.id AS b FROM member x
      |  JOIN member y ON x.component = y.component AND x.id < y.id),
      |mj AS (SELECT mpairs.a, mpairs.b FROM mpairs JOIN net ON mpairs.a = net.a AND mpairs.b = net.b),
      |mleaves AS (SELECT id FROM comp),
      |v AS (
      |  SELECT net.a, net.b FROM net
      |  JOIN mleaves ma ON net.a = ma.id
      |  JOIN mleaves mb ON net.b = mb.id
      |  WHERE net.net > 0),
      |tp AS (SELECT mj.a, mj.b FROM mj JOIN v ON mj.a = v.a AND mj.b = v.b)
      |SELECT
      |  (SELECT count(*) FROM tp) AS tp,
      |  (SELECT count(*) FROM mj) AS n_model,
      |  (SELECT count(*) FROM v) AS n_validation,
      |  CAST((SELECT count(*) FROM tp) AS DOUBLE) / (SELECT count(*) FROM mj) AS precision_score,
      |  CAST((SELECT count(*) FROM tp) AS DOUBLE) / (SELECT count(*) FROM v) AS recall_score""".stripMargin

  /** CDC merge of a change batch into the indexed base (the warehouse
    * refresh step every matchbox-style deployment runs between pipeline
    * executions; reference sources re-index on upstream change). The delta
    * is a deterministic slice of the base itself — updates (+100 balance),
    * key deletes, and inserts under shifted keys — so both engines derive
    * the identical batch. Plan shape (operators/Merge): base LEFT ANTI
    * broadcast(delta keys) + UNION ALL of non-delete delta rows — the base
    * never shuffles; see Merge.upsert for the 100 TB rationale.
    */
  /** Per-key LAST-WRITER-WINS fold over a change feed — the associative
    * unit CDC state maintenance folds on (one struct-max per key:
    * version order = (ts, event_id), unique so the pick is total).
    * Tombstones ('error' rows here) must survive the fold — a later
    * fold step may not resurrect a deleted key — so deletion filtering
    * happens only at read time ([[cdcStateFromLatest]]).
    *
    * CONTRACT: `event_id` must be globally unique. The struct-max also
    * carries (event_type, value) after the version key; on a (ts,
    * event_id) tie Spark would break lexicographically on the payload
    * while the oracle's `row_number` twin breaks arbitrarily — so
    * non-unique ids would diverge nondeterministically rather than fail.
    * [[cdcApplyGate]] asserts the uniqueness LOUDLY (a `require` that
    * aborts the verify run) instead of letting a violating feed surface
    * as a spurious hash diff.
    */
  private[graft] def cdcLatest(changes: DataFrame): DataFrame =
    changes.groupBy("user_id").agg(
      max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("s"))

  private[graft] def cdcStateFromLatest(latest: DataFrame): DataFrame =
    latest
      .filter(col("s.event_type") =!= "error")
      .select(col("user_id"), col("s.event_id").as("version"),
        col("s.event_type").as("last_type"),
        graft.Num.cents(col("s.value")).as("last_cents"))

  /** CDC STATE TABLE — apply a whole change feed as last-writer-wins
    * upserts with tombstones (the lakehouse "apply CDC to a dimension"
    * shape; `mb_merge_upsert` is one MERGE between two snapshots, this is
    * the event-log replay that produces the snapshot): per key the
    * latest change by (ts, id) wins; keys whose latest change is a
    * delete ('error') leave the table. One key-grouped struct-max — no
    * window sort, no shuffle beyond the key — and the fold unit is
    * associative, so the streaming gate can fold micro-batches into the
    * identical state.
    */
  private def cdcState(s: SparkSession, dir: String): DataFrame =
    cdcStateFromLatest(cdcLatest(Tables(s, dir, "events")))
      .orderBy("user_id")

  private val cdcStateSql =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id AS version, event_type AS last_type,
      |  CAST(round(value * 100) AS BIGINT) AS last_cents
      |FROM latest WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** Streaming CDC maintenance gate (the `st_vec_serve_gate` recipe on
    * warehouse state): the change feed split into three disjoint slices,
    * folded slice by slice through [[cdcLatest]]/[[cdcMergeLatest]] —
    * the final read must equal the one-shot batch apply BIT-IDENTICALLY
    * (struct-max is associative; tombstones survive the fold).
    * StreamingSpec drives the same fold through a MemoryStream.
    */
  private def cdcApplyGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").localCheckpoint(false)
    // The LWW version key's totality precondition (see cdcLatest): a feed
    // with duplicate event ids must abort, not tie-break differently in
    // each engine and read as a mysterious hash mismatch.
    val idCounts = ev.agg(count(lit(1)).as("n"),
      countDistinct(col("event_id")).as("nd")).head()
    require(idCounts.getLong(0) == idCounts.getLong(1),
      s"cdc version key not total: ${idCounts.getLong(0)} events but only " +
        s"${idCounts.getLong(1)} distinct event_ids — LWW tie-breaks would " +
        "be engine-dependent")
    val full = cdcStateFromLatest(cdcLatest(ev)).localCheckpoint(false)
    var running: DataFrame = null
    (0 until 3).foreach { i =>
      val slice = cdcLatest(ev.filter(col("event_id") % 3 === i))
      running =
        (if (running == null) slice
         else cdcMergeLatest(running.unionByName(slice)))
          .localCheckpoint(false)
    }
    val folded = cdcStateFromLatest(running)
    val equal = folded.exceptAll(full).count() == 0 &&
      full.exceptAll(folded).count() == 0
    Seq((full.count(), equal)).toDF("n_state", "batch_equal_ok")
  }

  private[graft] def cdcMergeLatest(latest: DataFrame): DataFrame =
    latest.groupBy("user_id").agg(max(col("s")).as("s"))

  private val cdcApplyGateSql =
    """WITH latest AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT CAST(count(*) AS BIGINT) AS n_state,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok
      |FROM latest WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = base
      .filter(col("c_custkey") % 10 === 3 && col("c_custkey") % 53 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("U").as("op"))
    val deletes = base.filter(col("c_custkey") % 53 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("D").as("op"))
    val inserts = base.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
        lit(0.0).as("c_acctbal"), lit("I").as("op"))
    graft.operators.Merge.upsert(
      base, updates.unionByName(deletes).unionByName(inserts), Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  private val mergeUpsertSql =
    """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |delta AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, 'U' AS op
      |  FROM base WHERE c_custkey % 10 = 3 AND c_custkey % 53 <> 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, 'D' FROM base WHERE c_custkey % 53 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, CAST(0.0 AS DOUBLE), 'I'
      |  FROM base WHERE c_custkey % 97 = 0)
      |SELECT b.c_custkey, b.c_name, b.c_acctbal FROM base b
      |  ANTI JOIN delta d ON b.c_custkey = d.c_custkey
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal FROM delta WHERE op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  // ---- linkage QA: unlinkables + cluster graph metrics ----------------
  /** Unlinkables analysis (splink's `unlinkables_chart`, the standard
    * linkage-QA artifact next to the m/u parameter charts): for every
    * left-side record, the BEST match weight it achieves against any
    * blocked candidate, then — over a fixed grid of would-be thresholds —
    * how many records would link to nothing at all. Records with no
    * blocked candidate are unlinkable at every threshold (−999 sentinel).
    * Uses the mb_link_fellegi_sunter weight model so the chart describes
    * that linker's thresholds.
    *
    * Scale shape: the blocked-pair frame is the linker's own candidate
    * join; best-per-record is one map-side-combinable max (record-sized
    * output); the grid pass is a broadcast cross join against 17 literal
    * rows plus one aggregate. Weights are 2-term sums of literal doubles
    * (identical bits on both engines), thresholds are tenths integers and
    * the grid points are exact binary halves, so every comparison — and
    * therefore the whole chart — is engine-exact.
    */
  private def unlinkables(s: SparkSession, dir: String): DataFrame = {
    val pairs = evenCustomers(s, dir).alias("l")
      .join(oddCustomers(s, dir).alias("r"),
        col("l.c_nationkey") === col("r.c_nationkey"))
      .select(col("l.c_custkey").as("left_id"),
        (when(col("l.c_mktsegment") === col("r.c_mktsegment"), lit(2.5d))
           .otherwise(lit(-1.2d)) +
         when(abs(col("l.c_acctbal") - col("r.c_acctbal")) < 100, lit(3.1d))
           .otherwise(lit(-0.8d))).as("w"))
    val best = pairs.groupBy("left_id").agg(max("w").as("best"))
    val recs = evenCustomers(s, dir).select(col("c_custkey").as("left_id"))
      .join(best, Seq("left_id"), "left")
      .select(coalesce(col("best"), lit(-999.0d)).as("best"))
    val grid = s.range(-4, 13)
      .select((col("id") * 5).cast("int").as("threshold_tenths"))
    recs.crossJoin(broadcast(grid))
      .groupBy("threshold_tenths")
      .agg(
        sum(when(col("best") < col("threshold_tenths") / lit(10.0d), 1L)
          .otherwise(0L)).as("n_unlinkable"),
        count(lit(1)).as("n_records"))
      .withColumn("prop_permille", expr("(1000 * n_unlinkable) div n_records"))
      .orderBy("threshold_tenths")
  }

  private val unlinkablesSql =
    """WITH pairs AS (
      |  SELECT l.c_custkey AS left_id,
      |    (CASE WHEN l.c_mktsegment = r.c_mktsegment
      |          THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
      |   + CASE WHEN abs(l.c_acctbal - r.c_acctbal) < 100
      |          THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END) AS w
      |  FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) l
      |  JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 1) r
      |    ON l.c_nationkey = r.c_nationkey),
      |best AS (SELECT left_id, max(w) AS best FROM pairs GROUP BY left_id),
      |recs AS (
      |  SELECT coalesce(best, CAST(-999.0 AS DOUBLE)) AS best
      |  FROM (SELECT c_custkey AS left_id FROM customer WHERE c_custkey % 2 = 0) c
      |  LEFT JOIN best USING (left_id)),
      |grid AS (SELECT CAST(unnest(range(-20, 61, 5)) AS INT) AS threshold_tenths)
      |SELECT threshold_tenths,
      |  CAST(sum(CASE WHEN best < threshold_tenths / 10.0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unlinkable,
      |  CAST(count(*) AS BIGINT) AS n_records,
      |  CAST((1000 * sum(CASE WHEN best < threshold_tenths / 10.0 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS prop_permille
      |FROM recs CROSS JOIN grid
      |GROUP BY threshold_tenths ORDER BY threshold_tenths""".stripMargin

  /** Record-sampled unlinkables chart — the form splink users actually run
    * at scale: [[unlinkables]]' blocked-pair scan is quadratic BY CONTRACT
    * (every left record × its blocked candidates — 172 s at sf10m, honest
    * but the wrong default at 100×), so the production chart estimates the
    * same CDF from a deterministic record sample. Sampling is on the LEFT
    * records only (1/16 via the first md5 hex digit — content-derived, so
    * the sample is reproducible on any engine and stable under corpus
    * growth); each sampled record still scores against its FULL blocked
    * candidate set, so every per-record best weight — and therefore the
    * chart over the sample — is EXACT, not estimated. The only
    * approximation is which records the CDF averages over, which is the
    * estimator splink's own chart tooling applies to big tables. The
    * DuckDB oracle replays the whole computation over the same sample —
    * the exactness gate.
    */
  private def unlinkablesSampled(s: SparkSession, dir: String): DataFrame = {
    val sampledLeft = evenCustomers(s, dir)
      .filter(substring(md5(col("c_custkey").cast("string")), 1, 1) === "0")
    val pairs = sampledLeft.alias("l")
      .join(oddCustomers(s, dir).alias("r"),
        col("l.c_nationkey") === col("r.c_nationkey"))
      .select(col("l.c_custkey").as("left_id"),
        (when(col("l.c_mktsegment") === col("r.c_mktsegment"), lit(2.5d))
           .otherwise(lit(-1.2d)) +
         when(abs(col("l.c_acctbal") - col("r.c_acctbal")) < 100, lit(3.1d))
           .otherwise(lit(-0.8d))).as("w"))
    val best = pairs.groupBy("left_id").agg(max("w").as("best"))
    val recs = sampledLeft.select(col("c_custkey").as("left_id"))
      .join(best, Seq("left_id"), "left")
      .select(coalesce(col("best"), lit(-999.0d)).as("best"))
    val grid = s.range(-4, 13)
      .select((col("id") * 5).cast("int").as("threshold_tenths"))
    recs.crossJoin(broadcast(grid))
      .groupBy("threshold_tenths")
      .agg(
        sum(when(col("best") < col("threshold_tenths") / lit(10.0d), 1L)
          .otherwise(0L)).as("n_unlinkable"),
        count(lit(1)).as("n_records"))
      .withColumn("prop_permille", expr("(1000 * n_unlinkable) div n_records"))
      .orderBy("threshold_tenths")
  }

  private val unlinkablesSampledSql =
    """WITH sl AS (
      |  SELECT * FROM customer WHERE c_custkey % 2 = 0
      |    AND substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
      |pairs AS (
      |  SELECT l.c_custkey AS left_id,
      |    (CASE WHEN l.c_mktsegment = r.c_mktsegment
      |          THEN CAST(2.5 AS DOUBLE) ELSE CAST(-1.2 AS DOUBLE) END
      |   + CASE WHEN abs(l.c_acctbal - r.c_acctbal) < 100
      |          THEN CAST(3.1 AS DOUBLE) ELSE CAST(-0.8 AS DOUBLE) END) AS w
      |  FROM sl l
      |  JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 1) r
      |    ON l.c_nationkey = r.c_nationkey),
      |best AS (SELECT left_id, max(w) AS best FROM pairs GROUP BY left_id),
      |recs AS (
      |  SELECT coalesce(best, CAST(-999.0 AS DOUBLE)) AS best
      |  FROM (SELECT c_custkey AS left_id FROM sl) c
      |  LEFT JOIN best USING (left_id)),
      |grid AS (SELECT CAST(unnest(range(-20, 61, 5)) AS INT) AS threshold_tenths)
      |SELECT threshold_tenths,
      |  CAST(sum(CASE WHEN best < threshold_tenths / 10.0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unlinkable,
      |  CAST(count(*) AS BIGINT) AS n_records,
      |  CAST((1000 * sum(CASE WHEN best < threshold_tenths / 10.0 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS prop_permille
      |FROM recs CROSS JOIN grid
      |GROUP BY threshold_tenths ORDER BY threshold_tenths""".stripMargin

  /** Cluster graph metrics (splink's `compute_graph_metrics`: per-cluster
    * node count, edge count, max node degree, density and Freeman degree
    * centralisation) over the resolver's components — the linkage-QA view
    * that tells you whether a cluster is a clean clique or a hairball
    * chained through one hub record. Runs on the same chain+bridge edge
    * set the incremental-resolution query maintains, so both surfaces
    * describe one resolution.
    *
    * Everything is keyed by cluster id: canonical undirected edges (one
    * distinct), one degree aggregate, one per-cluster edge count and one
    * per-cluster node rollup, joined cluster-to-cluster — no pair
    * materialisation beyond the edge set itself. Metrics are exact
    * permille integers — density (2000·E) div (n·(n−1)); Freeman
    * centralisation (1000·Σ(degmax−deg)) div ((n−1)·(n−2)) via
    * Σ(degmax−deg) = n·degmax − 2E, NULL below its n>2 domain.
    */
  private def clusterGraphMetrics(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val bridges = customer.filter(col("c_custkey") % 10 === 0)
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    val raw = chainEdges(customer).unionByName(bridges)
    // canonical undirected edge set feeds components, degrees AND the
    // per-cluster edge count — checkpoint once, scan three times
    val edges = raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(false)
    val comp = Components.connected(
      edges.select(col("a").as("src"), col("b").as("dst")))
    val deg = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val nodeStats = comp.join(deg, "id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_nodes"), max("degree").as("max_degree"),
        sum("degree").as("sum_degree"))
    val edgeStats = edges.join(comp.withColumnRenamed("id", "a"), "a")
      .groupBy("component").agg(count(lit(1)).as("n_edges"))
    nodeStats.join(edgeStats, "component")
      .select(col("component").as("cluster_id"), col("n_nodes"),
        col("n_edges"), col("max_degree"),
        expr("(2000 * n_edges) div (n_nodes * (n_nodes - 1))")
          .as("density_permille"),
        expr("""CASE WHEN n_nodes > 2
               |THEN (1000 * (n_nodes * max_degree - sum_degree))
               |     div ((n_nodes - 1) * (n_nodes - 2)) END""".stripMargin)
          .as("centralisation_permille"))
      .orderBy("cluster_id")
  }

  private lazy val clusterGraphMetricsSql =
    s"""WITH comp AS (${Components.connectedSql(
         chainEdgesSql.stripMargin + "\nUNION ALL\n" + bridgeEdgesSql)}),
       |rawe AS (${chainEdgesSql.stripMargin}
       |  UNION ALL
       |  $bridgeEdgesSql),
       |edges AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM rawe WHERE src <> dst),
       |deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT a AS id FROM edges UNION ALL SELECT b FROM edges)
       |  GROUP BY id),
       |ns AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
       |    max(degree) AS max_degree, CAST(sum(degree) AS BIGINT) AS sum_degree
       |  FROM comp JOIN deg USING (id) GROUP BY component),
       |es AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM edges JOIN comp ON comp.id = edges.a GROUP BY component)
       |SELECT component AS cluster_id, n_nodes, n_edges, max_degree,
       |  CAST((2000 * n_edges) // (n_nodes * (n_nodes - 1)) AS BIGINT)
       |    AS density_permille,
       |  CAST(CASE WHEN n_nodes > 2
       |    THEN (1000 * (n_nodes * max_degree - sum_degree))
       |         // ((n_nodes - 1) * (n_nodes - 2)) END AS BIGINT)
       |    AS centralisation_permille
       |FROM ns JOIN es USING (component)
       |ORDER BY cluster_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mb_source_index", sourceIndex, Some(sourceIndexSql)),
    QueryDef("mb_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    QueryDef("mb_cdc_state", cdcState, Some(cdcStateSql)),
    QueryDef("st_cdc_apply_gate", cdcApplyGate, Some(cdcApplyGateSql)),
    QueryDef("mb_table_hash", tableHash, Some(tableHashSql)),
    QueryDef("mb_hash_wire", hashWire, Some(hashWireSql)),
    QueryDef("mb_query_concat", queryConcat, Some(queryConcatSql)),
    QueryDef("mb_query_explode", queryExplode, Some(queryExplodeSql)),
    QueryDef("mb_query_explode3", queryExplode3, Some(queryExplode3Sql)),
    QueryDef("mb_query_set_agg", querySetAgg, Some(querySetAggSql)),
    QueryDef("mb_clean", cleanQuery, Some(cleanSql)),
    QueryDef("mb_dedupe_naive", dedupeNaive, Some(dedupeNaiveSql)),
    QueryDef("mb_link_deterministic", linkDeterministic, Some(linkDeterministicSql)),
    QueryDef("mb_link_rounds", linkRounds, Some(linkRoundsSql)),
    QueryDef("mb_link_weighted", linkWeighted, Some(linkWeightedSql)),
    QueryDef("mb_link_fellegi_sunter", linkFellegiSunter, Some(linkFellegiSunterSql)),
    QueryDef("mb_link_em", linkEm, None),
    QueryDef("mb_link_em_gate", linkEmGate, Some(linkEmGateSql)),
    QueryDef("mb_link_em_rules_gate", linkEmRulesGate, Some(linkEmRulesGateSql)),
    QueryDef("mb_link_fuzzy", linkFuzzy, Some(linkFuzzySql)),
    QueryDef("mb_link_levenshtein", linkLevenshtein, Some(linkLevenshteinSql)),
    QueryDef("mb_link_damerau", linkDamerau, Some(linkDamerauSql)),
    QueryDef("mb_blocking_quality", blockingQuality, Some(blockingQualitySql)),
    QueryDef("mb_meta_blocking", metaBlocking, Some(metaBlockingSql)),
    QueryDef("mb_meta_blocking_cnp", metaBlockingCnp, Some(metaBlockingCnpSql)),
    QueryDef("mb_er_e2e", erE2e, Some(erE2eSql)),
    QueryDef("mb_link_waterfall", linkWaterfall, Some(linkWaterfallSql)),
    QueryDef("mb_link_m_from_labels", linkMFromLabels, Some(linkMFromLabelsSql)),
    QueryDef("mb_link_params_report", linkParamsReport, Some(linkParamsReportSql)),
    QueryDef("mb_unlinkables", unlinkables, Some(unlinkablesSql)),
    QueryDef("mb_unlinkables_sampled", unlinkablesSampled, Some(unlinkablesSampledSql)),
    QueryDef("mb_cluster_graph_metrics", clusterGraphMetrics,
      Some(clusterGraphMetricsSql)),
    QueryDef("mb_link_fuzzy_nulls", linkFuzzyNulls, Some(linkFuzzyNullsSql)),
    QueryDef("mb_link_fuzzy_nulls_gate", linkFuzzyNullsGate,
      Some(linkFuzzyNullsGateSql)),
    QueryDef("mb_link_blocking_rules", linkBlockingRules, Some(linkBlockingRulesSql)),
    QueryDef("mb_link_fuzzy_em_gate", linkFuzzyEmGate, Some(linkFuzzyEmGateSql)),
    QueryDef("mb_link_tf", linkTf, Some(linkTfSql)),
    QueryDef("mb_link_fuzzy_tf", linkFuzzyTf, Some(linkFuzzyTfSql)),
    QueryDef("mb_link_fuzzy_tf_em_gate", linkFuzzyTfEmGate,
      Some(linkFuzzyTfEmGateSql)),
    QueryDef("mb_scenario_gate", scenarioGate, Some(scenarioGateSql)),
    QueryDef("mb_link_sorted_neighborhood", linkSortedNeighborhood,
      Some(linkSortedNeighborhoodSql)),
    QueryDef("mb_match_incremental", matchIncremental, Some(matchIncrementalSql)),
    QueryDef("st_components_apply_gate", componentsApplyGate,
      Some(componentsApplyGateSql)),
    QueryDef("mb_components_incremental", componentsIncremental,
      Some(componentsIncrementalSql)),
    QueryDef("mb_components", componentsQuery, Some(componentsSql)),
    QueryDef("mb_resolution_diff", resolutionDiff, Some(resolutionDiffSql)),
    QueryDef("mb_cluster_hash", clusterHashQuery, Some(clusterHashSql)),
    QueryDef("mb_golden_record", goldenRecord, Some(goldenRecordSql)),
    QueryDef("st_golden_apply_gate", goldenApplyGate, Some(goldenRecordSql)),
    QueryDef("mb_resolve_lookup", resolveLookup, Some(resolveLookupSql)),
    QueryDef("mb_cluster_view", clusterView, Some(clusterViewSql)),
    QueryDef("mb_resolve_merge", resolveMerge, Some(resolveMergeSql)),
    QueryDef("mb_resolve_dump", resolveDump, Some(resolveDumpSql)),
    QueryDef("mb_match_keys", matchKeys, Some(matchKeysSql)),
    QueryDef("mb_normalise_scores", normaliseScores, Some(normaliseScoresSql)),
    QueryDef("mb_eval_pr", evalPr, Some(evalPrSql)),
    QueryDef("mb_judgements_net", judgementsNet, Some(judgementsNetSql)),
    QueryDef("mb_lambda", lambdaEstimate, Some(lambdaEstimateSql)),
    QueryDef("mb_sampled_u", sampledU, Some(sampledUSql)),
    QueryDef("mb_eval_pr_multi", evalPrMulti, Some(evalPrMultiSql)),
    QueryDef("mb_eval_bcubed", evalBcubed, Some(evalBcubedSql)),
    QueryDef("mb_eval_ari", evalAri, Some(evalAriSql)),
    QueryDef("mb_resolver_sweep", resolverSweep, Some(resolverSweepSql)),
    QueryDef("mb_eval_sample", evalSample, Some(evalSampleSql)),
    QueryDef("mb_pipeline_e2e", pipelineE2e, Some(pipelineE2eSql)))
}
