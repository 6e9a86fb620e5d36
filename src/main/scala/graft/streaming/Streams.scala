package graft.streaming

import graft.Num
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming twins of the batch operators — matchbox's
  * "batch and real-time matching" surface (reference README; the server's
  * incremental upload/match path). The same declarative plans run on
  * `readStream` inputs; Spark handles incremental state.
  */
object Streams {

  /** Tumbling-window event rates with a watermark for late data. The
    * watermark bounds aggregation state at scale — without it a 100 TB/day
    * stream would accumulate windows forever.
    */
  def eventRates(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Num.moneySum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Incremental matching: a stream of new records equi-joined against a
    * static, already-indexed reference (stream-static join — stateless on
    * the stream side, so it scales to unbounded input; the reference side
    * is re-broadcast / re-read per micro-batch).
    *
    * Multiple comparison conditions are unioned; duplicate pairs across
    * conditions are dropped with `dropDuplicates` (bound its state with a
    * watermark on the stream side in production).
    */
  def incrementalMatch(
      stream: DataFrame, reference: DataFrame,
      streamId: String, refId: String,
      comparisons: Seq[String]): DataFrame =
    comparisons
      .map { c =>
        stream.alias("l")
          .join(reference.alias("r"), expr(c))
          .select(
            col(s"l.$streamId").cast("long").as("left_id"),
            col(s"r.$refId").cast("long").as("right_id"))
      }
      .reduce(_ union _)
      .dropDuplicates("left_id", "right_id")
      .withColumn("score", lit(1.0))

  /** Incremental FUZZY match: each new record in the stream scores against
    * the static reference with multi-level fuzzy comparisons (the streaming
    * twin of `Link.fellegiSunterLevels` — splink's comparison levels over
    * the real-time "match new records" path). The blocking condition keys a
    * stream-static equi-join (stateless), and each comparison's level
    * ladder (including the native `jaro_winkler_similarity`) is evaluated
    * as in `Link.fellegiSunterLevels`: once in the join condition, once in
    * the output projection.
    *
    * The trailing per-record groupBy-max IS a stateful streaming
    * aggregation: its state grows with the number of distinct stream ids
    * and it needs update/complete output mode. That is fine for bounded
    * backfills or small id spaces; for unbounded streams use
    * [[incrementalFuzzyMatchWindowed]], whose watermark lets Spark drop
    * each window's state once it closes.
    *
    * @return (left_id = stream record, best_weight, n_matches) per stream
    *         record with at least one candidate at or above `threshold`
    */
  def incrementalFuzzyMatch(
      stream: DataFrame, reference: DataFrame,
      streamId: String, refId: String,
      blocking: String,
      comparisons: Seq[graft.operators.Link.LevelComparison],
      threshold: Double): DataFrame = {
    val scored = graft.operators.Link.fellegiSunterLevels(
      stream, reference, streamId, refId, blocking, comparisons, threshold)
    scored
      .groupBy("left_id")
      .agg(
        max(col("match_weight")).as("best_weight"),
        count(lit(1)).as("n_matches"))
  }

  /** [[incrementalFuzzyMatch]] with BOUNDED state: the stream carries an
    * event-time column, the aggregation groups by (event-time window,
    * record id), and the watermark lets Spark evict a window's state once
    * the watermark passes its end — state is O(ids per open window), not
    * O(all ids ever seen), and the query runs in append mode (each
    * record's final best-match emits exactly once, when its window
    * closes). A stream record lands in one micro-batch, so windowing by
    * arrival time never splits a record's candidate set.
    *
    * @return (window_start, left_id, best_weight, n_matches) per stream
    *         record with at least one candidate at or above `threshold`
    */
  def incrementalFuzzyMatchWindowed(
      stream: DataFrame, reference: DataFrame,
      streamId: String, refId: String,
      timeCol: String, watermarkDelay: String, windowDuration: String,
      blocking: String,
      comparisons: Seq[graft.operators.Link.LevelComparison],
      threshold: Double): DataFrame = {
    val cand = stream.withWatermark(timeCol, watermarkDelay).alias("l")
      .join(reference.alias("r"), expr(blocking))
    graft.operators.Link.scoreLevels(
        cand, streamId, refId, comparisons, threshold,
        carry = Seq(s"l.$timeCol" -> "evt"))
      .groupBy(window(col("evt"), windowDuration), col("left_id"))
      .agg(
        max(col("match_weight")).as("best_weight"),
        count(lit(1)).as("n_matches"))
      .select(col("window.start").as("window_start"), col("left_id"),
        col("best_weight"), col("n_matches"))
  }

  /** Incremental near-duplicate detection: a stream of new documents is
    * checked against a static, pre-indexed corpus via MinHash band buckets
    * — the streaming twin of `MinHashLSH.candidatePairs`.
    *
    * Everything on the stream side is stateless per-row work (shingle →
    * signature → band buckets), and every join is stream-static (bucket
    * equi-join against the corpus band table, then the corpus shingle sets
    * for exact-jaccard verify), so state never grows with the stream. The
    * trailing dropDuplicates collapses multi-band hits; bound its state
    * with a watermark on the stream side in production.
    *
    * @param reference static corpus of (idCol, textCol)
    * @return (stream_id, ref_id, jaccard) verified matches
    */
  def incrementalDedup(
      stream: DataFrame, reference: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import graft.operators.dedup.MinHashLSH
    val (refSets, _) =
      graft.Ckpt.settle(MinHashLSH.setsOf(reference, idCol, textCol, shingleSize)).head
    val refBands = MinHashLSH.bandsOf(refSets, numHashes, bands)
      .select(col("id").as("ref_id"), col("band"), col("bucket"))
    // stream side carries its shingle set through the band explode so the
    // verify step needs no stream-stream self-join
    val streamBands = MinHashLSH.bandsOf(
      MinHashLSH.setsOf(stream, idCol, textCol, shingleSize), numHashes, bands)
      .select(col("id").as("stream_id"), col("hs").as("shs"), col("band"), col("bucket"))
    streamBands
      .join(refBands, Seq("band", "bucket"))
      .join(refSets.select(col("id").as("ref_id"), col("hs").as("rhs")), "ref_id")
      .withColumn("jaccard",
        expr("""CAST(size(array_intersect(shs, rhs)) AS DOUBLE) /
                size(array_union(shs, rhs))"""))
      .filter(col("jaccard") >= threshold)
      .select("stream_id", "ref_id", "jaccard")
      .dropDuplicates("stream_id", "ref_id")
  }

  /** Incremental embedding near-duplicate detection: a stream of new
    * vectors is checked against a static, pre-indexed corpus via banded
    * random-hyperplane buckets — the streaming twin of
    * [[graft.operators.dedup.EmbedDedup.lshPairs]], and the embedding
    * sibling of [[incrementalDedup]].
    *
    * The hyperplane signature is a per-row native expression (stateless),
    * the band explode multiplies the stream by `bands` (bounded, stateless),
    * and both joins are stream-static: bucket equi-join against the corpus
    * band table, then the corpus vectors for the exact cosine verify. State
    * never grows with the stream; the trailing dropDuplicates collapses
    * multi-band hits (bound its state with a watermark in production).
    *
    * @param reference static corpus of (idCol, vecCol)
    * @return (stream_id, ref_id, sim) verified near-duplicates
    */
  def incrementalEmbedDedup(
      stream: DataFrame, reference: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = 0.3, bands: Int = 8, planesPerBand: Int = 4,
      dim: Int = 64): DataFrame = {
    import graft.operators.dedup.EmbedDedup.bandedSignatures
    def banded(df: DataFrame, idAs: String, vecAs: String) =
      bandedSignatures(df, idCol, vecCol, idAs, vecAs, bands, planesPerBand, dim)
    val (refBands, _) = graft.Ckpt.settle(banded(reference, "ref_id", "rvec")).head
    // the stream side carries its vector through the band explode so the
    // verify step needs no second stream join
    banded(stream, "stream_id", "svec")
      .join(refBands, Seq("band", "key"))
      .filter(col("stream_id") =!= col("ref_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("svec"), col("rvec")))
      .filter(col("sim") >= threshold)
      .select("stream_id", "ref_id", "sim")
      .dropDuplicates("stream_id", "ref_id")
  }

  /** Online ANN retrieval over a persisted serving index
    * ([[graft.operators.ann.GraphIndex]]): each micro-batch of query
    * vectors runs the batch beam search against the STATIC graph + corpus.
    * The search broadcasts the graph and corpus as one index, which a
    * streaming plan cannot, so the streaming form is the `foreachBatch`
    * shape — the same split a production retrieval service runs (index
    * built once by a cluster job, query batches served as they arrive).
    *
    * Correctness contract:
    * [[graft.operators.ann.NnDescent.searchGraph]] searches each query row
    * on its own (its seeds, beam and visited set never meet another
    * query's), so the union of micro-batch outputs is BIT-IDENTICAL to one
    * batch call over the union of queries by construction. `st_ann_serve_gate` pins that equality per round and
    * StreamingSpec drives it end-to-end through a real MemoryStream.
    *
    * State: none. The graph and corpus are static and each batch is
    * independent, so serving cost per trigger is one index broadcast plus
    * the batch's in-core searches, flat in stream history — the property that lets
    * this run indefinitely at scale.
    *
    * @param sink consumes each micro-batch's finished search result
    *   (write to a table/queue in production; the spec collects)
    */
  def annServeStream(
      queryStream: DataFrame, graph: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      beam: Int = 32, hops: Int = 3, seeds: Int = 8)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // foreachBatch can deliver empty micro-batches (batch 0, trigger
        // with no new data); skip the full 3-hop search program and the
        // sink for those.
        if (!batch.isEmpty)
          sink(graft.operators.ann.NnDescent.searchGraph(
            batch, graph, corpus, idCol, vecCol, k, beam, hops, seeds))
      }
      .start()

  /** Streaming serving over a persisted COMPRESSED index
    * ([[graft.operators.ann.VectorIndex]], either codec via `search`) —
    * the compressed-domain sibling of [[annServeStream]]: query batches
    * arrive on a stream, each trigger runs probe + compressed scan +
    * exact rerank against the static persisted inverted lists. Same
    * correctness contract (every scan/rerank stage is keyed by query id,
    * so micro-batch union ≡ one batch call bit-identically —
    * `st_vec_serve_gate` pins it), same statelessness (index static,
    * batches independent, cost flat in stream history). The model is
    * loaded ONCE here, not per trigger — kilobytes of driver state
    * parameterizing every batch's scan, the production serving shape.
    */
  def vecServeStream(
      queryStream: DataFrame, indexPath: String, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 6, rerankFactor: Int = 4)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val s = targets.sparkSession
    val (model, compressed) = graft.operators.ann.VectorIndex.loadSq(s, indexPath)
    val (codes, _) = graft.Ckpt.settle(compressed).head
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.operators.ann.Sq.scanIvfSq(
            batch, codes, targets, idCol, vecCol, model, k,
            nprobe, rerankFactor))
      }
      .start()
  }

  /** Streaming classifier scoring over a document stream with a TRAINED
    * logistic-regression model ([[graft.queries.Selection]]'s LR family)
    * — the model-serving twin of [[vecServeStream]] on the classifier
    * side: the model is kilobytes of driver state captured ONCE (it rides
    * every trigger's plan as a literal array — no join, no broadcast
    * table to refresh), each trigger is a map-shaped score pass keyed by
    * doc_id, so micro-batch union ≡ one batch call bit-identically
    * (margins are exact longs; `st_lr_score_gate` pins it). Zero
    * streaming state; cost flat in stream history.
    */
  def lrScoreStream(
      docStream: DataFrame, model: graft.queries.Selection.LrModel)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.queries.Selection.lrScore(batch, model))
      }
      .start()

  /** Streaming ExactSubstr decontamination guard
    * ([[graft.queries.Pipeline]]'s `dx_substr_decontaminate` on a live
    * ingest feed — the admission check a pretraining pipeline runs on
    * every incoming document batch): the eval-window index is static
    * state computed once and broadcast into every trigger's flagging
    * join; each trigger is a map-side window explode + broadcast
    * semi-join keyed by doc_id, so micro-batch union ≡ one batch call
    * bit-identically (`st_substr_guard_gate` pins it). Zero streaming
    * state; cost flat in stream history.
    */
  def substrGuardStream(docStream: DataFrame, evalWindows: DataFrame)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.queries.Pipeline.substrFlag(batch, evalWindows))
      }
      .start()

  /** Stream-stream interval join: match events from two live streams whose
    * timestamps fall within `intervalSeconds` of each other, keyed on
    * `key`. Both sides carry watermarks, so Spark can discard buffered
    * state once the other side can no longer produce a match — the
    * requirement for unbounded-input joins at scale.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      key: String, intervalSeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("k"), col("ts").as("lts"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("rk"), col("ts").as("rts"))
    l.join(r,
      col("k") === col("rk") &&
      col("rts") >= col("lts") - expr(s"INTERVAL $intervalSeconds SECONDS") &&
      col("rts") <= col("lts") + expr(s"INTERVAL $intervalSeconds SECONDS"))
      .select(col("k").as(key), col("lts"), col("rts"))
  }

  /** Streaming exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key's dedup state only until
    * the event-time watermark passes it, so state size tracks the watermark
    * horizon instead of the full stream history — the only exact-dedup
    * formulation that survives an unbounded ingest feed. Emits the first
    * arrival of each key (e.g. a content hash) per watermark horizon;
    * re-arrivals inside the horizon are suppressed.
    *
    * On a BATCH frame the same contract degrades to plain key dedup (one
    * surviving row per key — the watermark only ever bounds state, it
    * never changes which keys survive), and Spark rejects
    * `dropDuplicatesWithinWatermark` outside streaming, so the operator
    * dispatches on `isStreaming`. This is what lets the
    * `st_watermark_dedup_gate` batch twin drive this exact function
    * against the DuckDB oracle.
    */
  def watermarkDedup(
      records: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    if (records.isStreaming)
      records
        .withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else records.dropDuplicates(keyCols)

  /** Native `session_window` streaming sessionization — the built-in
    * session state operator (streaming twin of the oracle-matched batch
    * query `q_session_window`). Spark merges per-user session state
    * incrementally across micro-batches; the watermark finalises (emits,
    * in append mode) sessions whose gap horizon has passed and evicts
    * their state — which is what bounds state on an unbounded stream.
    * Prefer this over [[sessionize]] when plain gap semantics suffice;
    * `flatMapGroupsWithState` remains for session logic windows can't
    * express.
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), Num.moneySum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Custom streaming state: gap-based sessionization with
    * `flatMapGroupsWithState` — the arbitrary-state surface for semantics
    * windows can't express. State per user is one open session (start,
    * last-seen, count); a session closes and is emitted when the gap
    * exceeds `gapSeconds` or the state times out via the event-time
    * watermark (which is what bounds state at scale).
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // Batch execution (the st_sessionize_gate oracle twin) invokes the
    // state function once per group: timeouts can never fire and the
    // batch GroupState has no watermark to read, so arming the timer is
    // both pointless and an error — skip it. Streaming behaviour is
    // untouched.
    val streaming = events.isStreaming
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, new Timestamp(s.startMs), s.n)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapSeconds * 1000 =>
                  cur = Some(s.copy(lastMs = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.startMs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (streaming) {
                // A timeout at or below the current watermark throws and
                // kills the query (possible when a group's events arrive
                // very late); clamp to just past the watermark so the
                // session still closes on the next trigger.
                val target = s.lastMs + gapSeconds * 1000
                state.setTimeoutTimestamp(
                  math.max(state.getCurrentWatermarkMs() + 1, target))
              }
            }
            closed.reverseIterator
          }
      }
  }
}

final case class SessionEvent(user_id: Long, ts: Timestamp)
final case class SessionState(startMs: Long, lastMs: Long, n: Long)
final case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Long)
