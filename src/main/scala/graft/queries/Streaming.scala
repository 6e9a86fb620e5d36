package graft.queries

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch twins of the streaming operators (SURVEY.md §2, "Streaming").
  * The streaming forms run in StreamingSpec via MemoryStream; these batch
  * twins share the same aggregation logic and gate it against DuckDB.
  */
object Streaming {

  private def eventsRate(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(
        col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(Num.cents(col("value"))) / 100.0).as("sum_value"))
      .orderBy("event_type", "day")

  private val eventsRateSql =
    s"""SELECT event_type,
       |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       |  count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users,
       |  sum(${Num.centsSql("value")})/100.0 AS sum_value
       |FROM events
       |GROUP BY event_type, day
       |ORDER BY event_type, day""".stripMargin

  /** Batch twin of `Streams.incrementalFuzzyMatchWindowed` — the EXACT
    * code path the stream runs (withWatermark is a no-op in batch, the
    * event-time window groups identically), so the DuckDB oracle gates
    * the windowed fuzzy-match aggregation itself, not a re-statement.
    * Stream records are the odd customers with a synthetic event time
    * spreading each hour window; the reference is the even customers;
    * comparisons are the same seeded JW levels as mb_link_fuzzy.
    */
  private def fuzzyWindowed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Link
    val cust = Tables(s, dir, "customer")
    def side(parityEven: Boolean): DataFrame = {
      val base = cust.filter(col("c_custkey") % 2 === (if (parityEven) 0 else 1))
      if (parityEven)
        base.withColumn("sname",
            expr("substr(md5(CAST(c_custkey AS STRING)), 1, 9)"))
          .withColumn("blk", expr("c_custkey DIV 20"))
      else
        base.withColumn("base",
            expr("substr(md5(CAST(c_custkey - 1 AS STRING)), 1, 9)"))
          .withColumn("sname", expr(
            """CASE CAST(c_custkey % 10 AS INT)
              |  WHEN 5 THEN substr(base, 1, 8)
              |  WHEN 7 THEN substr(base, 1, 6)
              |  WHEN 9 THEN reverse(base)
              |  ELSE base END""".stripMargin))
          .withColumn("blk", expr("(c_custkey - 1) DIV 20"))
          .withColumn("ts", expr(
            "timestamp'2026-01-01 00:00:00' + " +
              "make_interval(0, 0, 0, 0, 0, CAST(c_custkey % 90 AS INT), 0)"))
    }
    graft.streaming.Streams.incrementalFuzzyMatchWindowed(
      side(parityEven = false), side(parityEven = true),
      "c_custkey", "c_custkey",
      timeCol = "ts", watermarkDelay = "10 minutes", windowDuration = "1 hour",
      blocking = "l.blk = r.blk",
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
      .orderBy("window_start", "left_id")
  }

  private val fuzzyWindowedSql =
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
      |    (c_custkey - 1) // 20 AS blk,
      |    TIMESTAMP '2026-01-01 00:00:00'
      |      + to_minutes(CAST(c_custkey % 90 AS BIGINT)) AS ts
      |  FROM (SELECT *, substr(md5(CAST(c_custkey - 1 AS VARCHAR)), 1, 9) AS base
      |        FROM customer WHERE c_custkey % 2 = 1)),
      |scored AS (
      |  SELECT date_trunc('hour', r.ts) AS window_start,
      |    CAST(r.c_custkey AS BIGINT) AS left_id,
      |    (CASE WHEN r.sname = l.sname THEN CAST(6.0 AS DOUBLE)
      |          WHEN jaro_winkler_similarity(r.sname, l.sname) >= 0.95 THEN CAST(4.0 AS DOUBLE)
      |          WHEN jaro_winkler_similarity(r.sname, l.sname) >= 0.88 THEN CAST(1.5 AS DOUBLE)
      |          ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE WHEN r.c_mktsegment = l.c_mktsegment THEN CAST(1.2 AS DOUBLE)
      |            ELSE CAST(-0.5 AS DOUBLE) END) AS w
      |  FROM ri r JOIN le l ON r.blk = l.blk)
      |SELECT window_start, left_id,
      |  max(w) AS best_weight, CAST(count(*) AS BIGINT) AS n_matches
      |FROM scored WHERE w >= 1.0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Batch twin of `Streams.intervalJoin` — the stream-stream interval
    * join, run through the EXACT streaming code path (`withWatermark` is
    * a no-op in batch; the equi-key + time-range join condition is the
    * same plan either way, and its output is a SET, so batch execution is
    * deterministic and oracle-hashable). Events split by id parity stand
    * in for the two live feeds; pairs within ±120 s on the same user are
    * counted per user.
    */
  private def intervalJoinTwin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    graft.streaming.Streams.intervalJoin(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        key = "user_id", intervalSeconds = 120)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  private val intervalJoinTwinSql =
    """WITH l AS (SELECT user_id AS k, ts AS lts FROM events WHERE event_id % 2 = 0),
      |r AS (SELECT user_id AS rk, ts AS rts FROM events WHERE event_id % 2 = 1)
      |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM l JOIN r ON k = rk
      |  AND rts >= lts - INTERVAL 120 SECOND
      |  AND rts <= lts + INTERVAL 120 SECOND
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Driver-gated stream-static MinHash dedup
    * ([[graft.streaming.Streams.incrementalDedup]], batch-executed — every
    * join in it is stream-static, so the plan is identical either way):
    * the stream is the planted perturbed copies (doc_id + 1,000,000 of
    * every doc_id % 7 = 0, the dx_dedup_minhash corpus), the reference is
    * the original documents. Contracts: (a) FORMULATION EQUIVALENCE — the
    * streaming band-bucket⋈verify pipeline must emit exactly the
    * cross-side subset of the batch `MinHashLSH.candidatePairs` run on
    * the union corpus with the same parameters, jaccard values included
    * (both verify over the same shingle-hash sets); (b) planted-pair
    * recall ≥ 0.95 (the minhash-gate floor — a mutated short doc may
    * legitimately fall below the jaccard threshold). Oracle pins the
    * planted count from the data plus both flags.
    */
  private def dedupIncrementalGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.dedup.MinHashLSH
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val stream = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        expr("concat(substring(text, 1, length(text) - 10), ' spark dup tail')")
          .as("text"))
    // Distributed multiset equality stays executor-side (the sf1 pair sets
    // made the old collect().toSet compare a 66 s driver gate); the stream
    // side is settled because the recall probe reads it too.
    val Seq((streamPairs, _), (planted, nPlanted)) = graft.Ckpt.settle(
      graft.streaming.Streams
        .incrementalDedup(stream, docs, "doc_id", "text")
        .select(col("stream_id"), col("ref_id"), round(col("jaccard"), 9).as("j")),
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("stream_id"), col("doc_id").as("ref_id")))
    val batchCross = MinHashLSH.candidatePairs(docs.unionByName(stream), "doc_id", "text")
      .filter(col("right_id") >= 1000000L && col("left_id") < 1000000L)
      .select(col("right_id").as("stream_id"), col("left_id").as("ref_id"),
        round(col("jaccard"), 9).as("j"))
    val hits = planted
      .join(streamPairs.select("stream_id", "ref_id"),
        Seq("stream_id", "ref_id"), "left_semi")
      .count()
    val gate = "st_dedup_incremental_gate"
    Seq((nPlanted,
      graft.Gate.all(gate)("stream_equals_batch" -> graft.Gate.sameRows(streamPairs, batchCross)),
      graft.Gate.all(gate)("planted_recall_0.95" -> (hits.toDouble / nPlanted >= 0.95))))
      .toDF("n_planted", "batch_equal_ok", "recall_ok")
  }

  private val dedupIncrementalGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok, CAST(1 AS BOOLEAN) AS recall_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Driver-gated stream-static embedding dedup
    * ([[graft.streaming.Streams.incrementalEmbedDedup]], batch-executed):
    * the stream is exact copies of every vec_id % 7 = 0 embedding
    * (+1,000,000 ids — the dx_dedup_embed_lsh_gate plant), the reference
    * is the original embeddings. Contracts: (a) FORMULATION EQUIVALENCE
    * with the cross-side subset of the batch
    * `EmbedDedup.lshPairs` on the union (same seeded hyperplanes, same
    * cosine verify — sims must match to 9dp); (b) exact-copy recall 1.0
    * (identical vectors share every band signature, so LSH cannot miss
    * them). Oracle pins the planted count plus both flags.
    */
  private def embedIncrementalGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.dedup.EmbedDedup
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") % 7 === 0)
    val stream = planted.select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    // Distributed compare, same shape as the minhash gate above: multiset
    // equality through the gate kit, anti-join for full planted recall.
    val Seq((streamPairs, _), (truth, nTruth)) = graft.Ckpt.settle(
      graft.streaming.Streams
        .incrementalEmbedDedup(stream, emb, "vec_id", "embedding",
          threshold = 0.3, bands = 8, planesPerBand = 8)
        .select(col("stream_id"), col("ref_id"), round(col("sim"), 9).as("s")),
      planted.select((col("vec_id") + 1000000L).as("stream_id"), col("vec_id").as("ref_id")))
    val batchCross = EmbedDedup.lshPairs(emb.unionByName(stream), "vec_id", "embedding",
        threshold = 0.3, bands = 8, planesPerBand = 8)
      .filter(col("right_id") >= 1000000L && col("left_id") < 1000000L)
      .select(col("right_id").as("stream_id"), col("left_id").as("ref_id"),
        round(col("sim"), 9).as("s"))
    val missed = truth
      .join(streamPairs.select("stream_id", "ref_id"),
        Seq("stream_id", "ref_id"), "left_anti")
      .count()
    val gate = "st_embed_incremental_gate"
    Seq((nTruth,
      graft.Gate.all(gate)("stream_equals_batch" -> graft.Gate.sameRows(streamPairs, batchCross)),
      graft.Gate.all(gate)("planted_all_found" -> (missed == 0L))))
      .toDF("n_planted", "batch_equal_ok", "recall_ok")
  }

  private val embedIncrementalGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_planted,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok, CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings WHERE vec_id % 7 = 0""".stripMargin

  /** Batch execution of [[graft.streaming.Streams.sessionWindows]] — the
    * EXACT code path the native session_window streaming operator runs
    * (withWatermark is a no-op in batch; the session-merge aggregation
    * plans identically), oracle-gated against the lag/cumsum island
    * rebuild. `q_session_window` pins the same semantics on a
    * hand-written plan; this gate pins the OPERATOR FUNCTION itself, so
    * a regression inside Streams.sessionWindows (gap arithmetic, state
    * column naming, money scaling) cannot hide behind the batch twin.
    */
  private def sessionGate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionWindows(
        Tables(s, dir, "events"), gap = "30 minutes", watermark = "1 hour")
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  private val sessionGateSql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    ${Num.centsSql("value")} AS cents
       |  FROM events),
       |x AS (
       |  SELECT user_id, us, cents,
       |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
       |y AS (
       |  SELECT user_id, us, cents,
       |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
       |  FROM x),
       |z AS (
       |  SELECT user_id, us, cents,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM y)
       |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
       |  count(*) AS n_events, sum(cents)/100.0 AS sum_value
       |FROM z GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  /** Batch execution of [[graft.streaming.Streams.watermarkDedup]] — the
    * EXACT operator code path (`withWatermark` is a no-op in batch and
    * `dropDuplicatesWithinWatermark` degrades to key dedup, per its
    * contract — within-watermark semantics only bound STATE, never change
    * which keys survive). The surviving row per key is engine-arbitrary,
    * so the gate projects the key columns — the deterministic part of the
    * operator's contract — and the oracle pins the exact key set.
    */
  private def watermarkDedupGate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.watermarkDedup(
        Tables(s, dir, "events").select(col("user_id"), col("event_type"), col("ts")),
        "ts", Seq("user_id", "event_type"), watermark = "10 minutes")
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")

  private val watermarkDedupGateSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Batch execution of [[graft.streaming.Streams.sessionize]] — the
    * `flatMapGroupsWithState` arbitrary-state surface, run on the real
    * events table through the exact streaming function (batch invokes it
    * once per user with the full group; timeouts never fire and the open
    * trailing session stays in discarded state, so the output is every
    * user's CLOSED sessions — deterministic, and exactly the lag/cumsum
    * island rebuild minus each user's last session). Compared in the
    * MILLISECOND domain: the state logic clocks `Timestamp.getTime`
    * (floor-to-ms), and the oracle floors the same way with epoch_ms.
    */
  private def sessionizeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[graft.streaming.SessionEvent]
    graft.streaming.Streams.sessionize(ev, gapSeconds = 1800, watermark = "1 hour")
      .toDF()
      .select(col("user_id"),
        (unix_micros(col("session_start")) / 1000).cast("long").as("start_ms"),
        col("n_events"))
      .orderBy("user_id", "start_ms")
  }

  private val sessionizeGateSql =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
      |x AS (
      |  SELECT user_id, ms,
      |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev FROM e),
      |y AS (
      |  SELECT user_id, ms,
      |    CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM x),
      |z AS (
      |  SELECT user_id, ms,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM y),
      |sess AS (
      |  SELECT user_id, CAST(min(ms) AS BIGINT) AS start_ms,
      |    count(*) AS n_events,
      |    row_number() OVER (PARTITION BY user_id ORDER BY min(ms) DESC) AS rn
      |  FROM z GROUP BY user_id, sid)
      |SELECT user_id, start_ms, n_events FROM sess WHERE rn > 1
      |ORDER BY user_id, start_ms""".stripMargin

  /** Batch execution of [[graft.streaming.Streams.incrementalMatch]] — the
    * deterministic-rules streaming matcher (reference
    * client/_handler/main.py match loop): every rule is a stream-static
    * join, the union dedups on the pair, score is the rule-hit constant.
    * Stream = odd customers, reference = even customers, two rules of
    * different selectivity sharing the nation block.
    */
  private def matchIncrementalGate(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    // Blocking columns precomputed per side with the Num.cents money
    // convention (whole-dollar band), so both rules are equi-conjuncts
    // the DuckDB twin states identically.
    def side(parityEven: Boolean): DataFrame =
      cust.filter(col("c_custkey") % 2 === (if (parityEven) 0 else 1))
        .withColumn("bal_dollars", expr(s"${Num.centsSql("c_acctbal")} DIV 100"))
    graft.streaming.Streams.incrementalMatch(
        side(parityEven = false), side(parityEven = true),
        "c_custkey", "c_custkey",
        comparisons = Seq(
          "l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment" +
            " AND l.c_custkey DIV 100 = r.c_custkey DIV 100",
          "l.c_nationkey = r.c_nationkey AND l.bal_dollars = r.bal_dollars"))
      .orderBy("left_id", "right_id")
  }

  private val matchIncrementalGateSql =
    s"""WITH l AS (SELECT *, ${Num.centsSql("c_acctbal")} // 100 AS bal_dollars
      |  FROM customer WHERE c_custkey % 2 = 1),
      |r AS (SELECT *, ${Num.centsSql("c_acctbal")} // 100 AS bal_dollars
      |  FROM customer WHERE c_custkey % 2 = 0),
      |hits AS (
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id
      |  FROM l JOIN r ON l.c_nationkey = r.c_nationkey
      |    AND l.c_mktsegment = r.c_mktsegment
      |    AND l.c_custkey // 100 = r.c_custkey // 100
      |  UNION
      |  SELECT l.c_custkey AS left_id, r.c_custkey AS right_id
      |  FROM l JOIN r ON l.c_nationkey = r.c_nationkey
      |    AND l.bal_dollars = r.bal_dollars)
      |SELECT CAST(left_id AS BIGINT) AS left_id,
      |  CAST(right_id AS BIGINT) AS right_id, CAST(1.0 AS DOUBLE) AS score
      |FROM hits ORDER BY left_id, right_id""".stripMargin

  /** Batch execution of [[graft.streaming.Streams.incrementalFuzzyMatch]]
    * — the UNWINDOWED stream-static fuzzy matcher (the per-record
    * groupBy-max that needs update mode on a live stream plans as a plain
    * aggregation in batch). Same sides, blocking, JW comparison ladder
    * and threshold as `st_fuzzy_windowed`, so the two gates differ by
    * exactly the windowing — a drift in either shows as a one-sided
    * failure.
    */
  private def fuzzyIncrementalGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Link
    val cust = Tables(s, dir, "customer")
    def side(parityEven: Boolean): DataFrame = {
      val base = cust.filter(col("c_custkey") % 2 === (if (parityEven) 0 else 1))
      if (parityEven)
        base.withColumn("sname",
            expr("substr(md5(CAST(c_custkey AS STRING)), 1, 9)"))
          .withColumn("blk", expr("c_custkey DIV 20"))
      else
        base.withColumn("base",
            expr("substr(md5(CAST(c_custkey - 1 AS STRING)), 1, 9)"))
          .withColumn("sname", expr(
            """CASE CAST(c_custkey % 10 AS INT)
              |  WHEN 5 THEN substr(base, 1, 8)
              |  WHEN 7 THEN substr(base, 1, 6)
              |  WHEN 9 THEN reverse(base)
              |  ELSE base END""".stripMargin))
          .withColumn("blk", expr("(c_custkey - 1) DIV 20"))
    }
    graft.streaming.Streams.incrementalFuzzyMatch(
        side(parityEven = false), side(parityEven = true),
        "c_custkey", "c_custkey",
        blocking = "l.blk = r.blk",
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
      .orderBy("left_id")
  }

  private val fuzzyIncrementalGateSql =
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
      |scored AS (
      |  SELECT CAST(r.c_custkey AS BIGINT) AS left_id,
      |    (CASE WHEN r.sname = l.sname THEN CAST(6.0 AS DOUBLE)
      |          WHEN jaro_winkler_similarity(r.sname, l.sname) >= 0.95 THEN CAST(4.0 AS DOUBLE)
      |          WHEN jaro_winkler_similarity(r.sname, l.sname) >= 0.88 THEN CAST(1.5 AS DOUBLE)
      |          ELSE CAST(-3.0 AS DOUBLE) END
      |     + CASE WHEN r.c_mktsegment = l.c_mktsegment THEN CAST(1.2 AS DOUBLE)
      |            ELSE CAST(-0.5 AS DOUBLE) END) AS w
      |  FROM ri r JOIN le l ON r.blk = l.blk)
      |SELECT left_id, max(w) AS best_weight, CAST(count(*) AS BIGINT) AS n_matches
      |FROM scored WHERE w >= 1.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("st_events_rate", eventsRate, Some(eventsRateSql)),
    QueryDef("st_session_gate", sessionGate, Some(sessionGateSql)),
    QueryDef("st_fuzzy_windowed", fuzzyWindowed, Some(fuzzyWindowedSql)),
    QueryDef("st_interval_join", intervalJoinTwin, Some(intervalJoinTwinSql)),
    QueryDef("st_dedup_incremental_gate", dedupIncrementalGate,
      Some(dedupIncrementalGateSql)),
    QueryDef("st_embed_incremental_gate", embedIncrementalGate,
      Some(embedIncrementalGateSql)),
    QueryDef("st_watermark_dedup_gate", watermarkDedupGate,
      Some(watermarkDedupGateSql)),
    QueryDef("st_sessionize_gate", sessionizeGate, Some(sessionizeGateSql)),
    QueryDef("st_match_incremental_gate", matchIncrementalGate,
      Some(matchIncrementalGateSql)),
    QueryDef("st_fuzzy_incremental_gate", fuzzyIncrementalGate,
      Some(fuzzyIncrementalGateSql)))
}
