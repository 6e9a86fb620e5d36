package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class SEv(user_id: Long, ts: Timestamp, value: Double)
case class Rec(id: Long, nationkey: Int)
case class NamedRec(id: Long, blk: Long, name: String)
case class TimedRec(id: Long, blk: Long, name: String, ts: Timestamp)
case class Doc(id: Long, text: String)
case class Vec(vec_id: Long, embedding: Seq[Float])
case class Fp(media_id: Long, dhash: Long)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming eventRates matches the batch twin on the same data") {
    implicit val ctx = spark.sqlContext
    val events = Tables(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .as[Ev].collect().toSeq

    val input = MemoryStream[Ev]
    input.addData(events)
    val q = Streams.eventRates(input.toDF())
      .writeStream.format("memory").queryName("rates").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("rates")
    // same plan over a batch DataFrame; the watermark is a no-op in batch
    val batch = Streams.eventRates(
      Tables(spark, sfDir, "events").select(col("ts"), col("event_type"), col("value")))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("incremental stream-static match equals the batch linker") {
    implicit val ctx = spark.sqlContext
    val reference = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val newRecords = Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") < 20)
      .select(col("c_custkey").as("id"), col("c_nationkey").cast("int").as("nationkey"))
      .as[Rec].collect().toSeq

    val input = MemoryStream[Rec]
    input.addData(newRecords)
    val q = Streams.incrementalMatch(
      input.toDF(), reference, "id", "s_suppkey",
      Seq("l.id = r.s_suppkey", "l.nationkey = r.s_nationkey AND l.id = r.s_suppkey"))
      .writeStream.format("memory").queryName("matches").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("matches").select("left_id", "right_id")
    val batchPairs = Tables(spark, sfDir, "customer").filter(col("c_custkey") < 20).alias("l")
      .join(reference.alias("r"), expr("l.c_custkey = r.s_suppkey"))
      .select(col("c_custkey").cast("long").as("left_id"), col("s_suppkey").cast("long").as("right_id"))
    assert(streamed.count() > 0)
    assert(streamed.except(batchPairs).isEmpty && batchPairs.except(streamed).isEmpty)
  }

  test("incremental fuzzy match scores streamed records like the batch linker") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Link
    val reference = Seq(
      (100L, 1L, "martha"), (101L, 1L, "jonathan"), (102L, 2L, "martha"))
      .toDF("id", "blk", "name")
    val levels = Seq(Link.LevelComparison(
      Seq("l.name = r.name", "jaro_winkler_similarity(l.name, r.name) >= 0.9"),
      Seq(-1.0, 2.0, 5.0)))
    val newRecords = Seq(
      NamedRec(1L, 1L, "martha"),   // exact vs 100 (+5), miss vs 101 (-1)
      NamedRec(2L, 1L, "marhta"),   // fuzzy 0.961 vs 100 (+2), miss vs 101
      NamedRec(3L, 2L, "zzzzzz"),   // miss vs 102 only -> below threshold
      NamedRec(4L, 9L, "martha"))   // no blocking partner at all

    val input = MemoryStream[NamedRec]
    input.addData(newRecords)
    val q = Streams.incrementalFuzzyMatch(
      input.toDF(), reference, "id", "id", "l.blk = r.blk", levels, threshold = 1.0)
      .writeStream.format("memory").queryName("fuzzy_matches")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("fuzzy_matches")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got(1L) == (5.0, 1L)) // exact match kept, miss filtered by threshold
    assert(got(2L) == (2.0, 1L)) // fuzzy level
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("windowed incremental fuzzy match emits finalised windows in append mode") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Link
    val reference = Seq(
      (100L, 1L, "martha"), (101L, 1L, "jonathan"), (102L, 2L, "martha"))
      .toDF("id", "blk", "name")
    val levels = Seq(Link.LevelComparison(
      Seq("l.name = r.name", "jaro_winkler_similarity(l.name, r.name) >= 0.9"),
      Seq(-1.0, 2.0, 5.0)))
    val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
    val late = Timestamp.valueOf("2026-01-01 01:00:00") // advances watermark past t0's window
    val input = MemoryStream[TimedRec]
    // watermarked aggregation: state for t0's window is evicted (and its
    // rows emitted, append mode) once the watermark passes the window end
    val q = Streams.incrementalFuzzyMatchWindowed(
      input.toDF(), reference, "id", "id",
      timeCol = "ts", watermarkDelay = "10 seconds", windowDuration = "1 minute",
      blocking = "l.blk = r.blk", comparisons = levels, threshold = 1.0)
      .writeStream.format("memory").queryName("fuzzy_windowed")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        TimedRec(1L, 1L, "martha", t0),
        TimedRec(2L, 1L, "marhta", t0),
        TimedRec(3L, 2L, "zzzzzz", t0)))
      q.processAllAvailable()
      input.addData(Seq(TimedRec(9L, 1L, "martha", late)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fuzzy_windowed")
      .collect().map(r => r.getLong(1) -> (r.getDouble(2), r.getLong(3))).toMap
    // t0's window finalised: same scores as the unwindowed twin
    assert(got(1L) == (5.0, 1L))
    assert(got(2L) == (2.0, 1L))
    assert(!got.contains(3L)) // below threshold
    assert(!got.contains(9L)) // its window is still open past the watermark
  }

  test("incremental streaming dedup finds near-dups of the static corpus only") {
    implicit val ctx = spark.sqlContext
    val corpus = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    // stream: a perturbed copy of doc 7 (near-dup) and an unrelated doc
    val doc7 = corpus.filter(col("doc_id") === 7).select("text").head().getString(0)
    val newDocs = Seq(
      Doc(1000007L, doc7.dropRight(10) + " stream dup tail"),
      Doc(2000000L, "completely unrelated text with no overlapping shingles at all"))
    val input = MemoryStream[Doc]
    input.addData(newDocs)
    val q = Streams.incrementalDedup(
      input.toDF().withColumnRenamed("id", "doc_id"), corpus, "doc_id", "text")
      .writeStream.format("memory").queryName("stream_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("stream_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1000007L, 7L)), s"near-dup of doc 7 not found: $out")
    assert(!out.exists(_._1 == 2000000L), s"unrelated doc matched: $out")
  }

  test("incremental streaming embed-dedup matches the static corpus only") {
    implicit val ctx = spark.sqlContext
    val corpus = Tables(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val v7 = corpus.filter(col("vec_id") === 7).select("embedding").head()
      .getSeq[Float](0)
    val v3 = corpus.filter(col("vec_id") === 3).select("embedding").head()
      .getSeq[Float](0)
    val input = MemoryStream[Vec]
    input.addData(Seq(
      Vec(1000007L, v7), // exact copy: cosine 1, guaranteed bucket collision
      Vec(2000003L, v3.map(-_)))) // near-negation of the corpus: no match >= 0.8
    val q = Streams.incrementalEmbedDedup(
      input.toDF(), corpus, "vec_id", "embedding", threshold = 0.8)
      .writeStream.format("memory").queryName("stream_embed").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("stream_embed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists { case (s, ref, sim) => s == 1000007L && ref == 7L && sim > 0.999 },
      s"exact copy of vec 7 not recovered: ${out.toSeq}")
    assert(!out.exists(_._1 == 2000003L), s"negated vector matched: ${out.toSeq}")
    assert(out.forall(_._3 >= 0.8), "verify step must enforce the threshold exactly")
  }

  test("stream-stream interval join matches pairs within the window") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.SessionEvent
    def ts(min: Long) = new Timestamp((1440 + min) * 60000)
    val a = MemoryStream[SessionEvent]
    val b = MemoryStream[SessionEvent]
    a.addData(Seq(SessionEvent(1, ts(0)), SessionEvent(2, ts(100))))
    b.addData(Seq(SessionEvent(1, ts(5)), SessionEvent(1, ts(90)), SessionEvent(2, ts(95))))
    val joined = Streams.intervalJoin(
      a.toDF().withColumnRenamed("user_id", "uid"),
      b.toDF().withColumnRenamed("user_id", "uid"),
      "uid", intervalSeconds = 600)
    val q = joined.writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ssjoin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000 - 1440,
        r.getTimestamp(2).getTime / 60000 - 1440)).toSet
    // user 1: (0,5) within 10 min; (0,90) outside; user 2: (100,95) within
    assert(out == Set((1L, 0L, 5L), (2L, 100L, 95L)), s"got $out")
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.{SessionEvent, SessionOut}
    // offset from epoch: rows at/below the initial watermark (0) are dropped
    def ts(min: Long) = new Timestamp((1440 + min) * 60000)
    val input = MemoryStream[SessionEvent]
    // user 1: two sessions separated by a 40-min gap; user 2: one session
    input.addData(Seq(
      SessionEvent(1, ts(0)), SessionEvent(1, ts(10)),
      SessionEvent(1, ts(55)), SessionEvent(2, ts(5))))
    val q = Streams.sessionize(input.toDS(), gapSeconds = 1800, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance event time far enough that the watermark times out open state
      input.addData(Seq(SessionEvent(99, ts(500))))
      q.processAllAvailable()
      input.addData(Seq(SessionEvent(99, ts(1000))))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sessions").as[SessionOut].collect()
      .map(s => (s.user_id, s.session_start.getTime / 60000 - 1440, s.n_events)).toSet
    assert(out.contains((1L, 0L, 2L)), s"first session of user 1 missing: $out")
    assert(out.contains((1L, 55L, 1L)), s"second session of user 1 missing: $out")
    assert(out.contains((2L, 5L, 1L)), s"user 2 session missing: $out")
  }

  test("native session_window stream finalises sessions past the watermark") {
    implicit val ctx = spark.sqlContext
    def ts(min: Long) = new Timestamp((1440 + min) * 60000)
    val input = MemoryStream[SEv]
    // user 1: two sessions separated by a 40-min gap; user 2: one session
    input.addData(Seq(
      SEv(1, ts(0), 1.0), SEv(1, ts(10), 2.5),
      SEv(1, ts(55), 4.0), SEv(2, ts(5), 8.0)))
    val q = Streams.sessionWindows(input.toDF(), gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("swsessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance event time so the watermark passes every session's horizon
      input.addData(Seq(SEv(99, ts(500), 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("swsessions").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").getTime / 60000 - 1440,
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    assert(out.contains((1L, 0L, 2L, 3.5)), s"first session of user 1 missing: $out")
    assert(out.contains((1L, 55L, 1L, 4.0)), s"second session of user 1 missing: $out")
    assert(out.contains((2L, 5L, 1L, 8.0)), s"user 2 session missing: $out")
    // the flush event's own session must NOT have been finalised yet
    assert(!out.exists(_._1 == 99L), s"unfinalised session leaked: $out")
  }

  test("watermarked streaming dedup suppresses re-arrivals within the horizon") {
    implicit val ctx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new Timestamp(t0.getTime + mins * 60000L)

    val input = MemoryStream[Ev]
    // batch 1: key A twice in-batch, key B once
    input.addData(Seq(Ev(at(0), "A", 1.0), Ev(at(1), "A", 2.0), Ev(at(2), "B", 3.0)))
    val q = Streams.watermarkDedup(input.toDF(), "ts", Seq("event_type"), "30 minutes")
      .writeStream.format("memory").queryName("wmdedup").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: A re-arrives inside the horizon (suppressed), C is new
      input.addData(Seq(Ev(at(5), "A", 4.0), Ev(at(6), "C", 5.0)))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("wmdedup").select("event_type", "value")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set("A", "B", "C"), s"expected one row per key, got $out")
    assert(out("A") == 1.0, "the FIRST arrival of a duplicated key must win")
  }

  test("streaming ANN serving over a prebuilt graph equals the batch search") {
    implicit val ctx = spark.sqlContext
    import graft.operators.ann.NnDescent
    val corpus = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val graph = NnDescent.knnGraph(corpus, "vec_id", "embedding", k = 10,
      iters = 2, cap0 = 40).localCheckpoint(false)
    val queries = corpus.filter(col("vec_id") < 6).as[Vec].collect().toSeq
    assert(queries.size == 6)

    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val input = MemoryStream[Vec]
    val q = Streams.annServeStream(input.toDF(), graph, corpus,
        "vec_id", "embedding", k = 5, beam = 20, hops = 3, seeds = 4) { out =>
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      buf.synchronized { buf ++= rows }
    }
    try {
      // two triggers: micro-batching must be value-neutral
      input.addData(queries.take(3)); q.processAllAvailable()
      input.addData(queries.drop(3)); q.processAllAvailable()
    } finally q.stop()

    val batch = NnDescent.searchGraph(
        corpus.filter(col("vec_id") < 6), graph, corpus,
        "vec_id", "embedding", k = 5, beam = 20, hops = 3, seeds = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(batch.length == 30, s"expected 6 queries x top-5, got ${batch.length}")
    assert(buf.toSet == batch.toSet,
      s"streamed serving diverged from batch: ${buf.toSet.diff(batch.toSet)} / ${batch.toSet.diff(buf.toSet)}")
  }

  test("streaming compressed-index serving equals the batch scan (IVF-SQ)") {
    implicit val ctx = spark.sqlContext
    import graft.operators.ann.VectorIndex
    val corpus = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("sqserve_spec").toString
    try {
      VectorIndex.buildSq(corpus, "vec_id", "embedding", s"$tmp/idx", numFiles = 2)
      val queries = corpus.filter(col("vec_id") < 6).as[Vec].collect().toSeq
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      val input = MemoryStream[Vec]
      val q = Streams.vecServeStream(input.toDF(), s"$tmp/idx", corpus,
          "vec_id", "embedding", k = 5) { out =>
        val rows = out.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        buf.synchronized { buf ++= rows }
      }
      try {
        input.addData(queries.take(3)); q.processAllAvailable()
        input.addData(queries.drop(3)); q.processAllAvailable()
      } finally q.stop()
      val batch = VectorIndex.searchSq(
          corpus.filter(col("vec_id") < 6), s"$tmp/idx", corpus,
          "vec_id", "embedding", k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(batch.length == 30)
      assert(buf.toSet == batch.toSet,
        s"streamed compressed serving diverged: ${buf.toSet.diff(batch.toSet)} / ${batch.toSet.diff(buf.toSet)}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("streaming index maintenance folds delta micro-batches into the graph") {
    implicit val ctx = spark.sqlContext
    import graft.operators.ann.NnDescent
    val corpus = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = corpus.filter(col("vec_id") % 5 =!= 3)
    // mutable serving state updated per trigger — the foreachBatch
    // maintenance loop (DiskANN's insert path run on arrival)
    var graph = NnDescent.knnGraph(base, "vec_id", "embedding", k = 10,
      iters = 2, cap0 = 40).localCheckpoint(false)
    var known = base.localCheckpoint(false)
    val input = MemoryStream[Vec]
    val q = input.toDF().writeStream
      .foreachBatch { (delta: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!delta.isEmpty) {
          // EAGER checkpoints: the folded state must be materialized
          // INSIDE the micro-batch (foreachBatch only guarantees the
          // batch DataFrame during the trigger; a lazy checkpoint first
          // computed after q.stop() reads it outside that lifetime)
          graph = NnDescent.addVectors(graph, known, delta,
            "vec_id", "embedding", k = 10, iters = 2, cap0 = 40)
            .localCheckpoint(true)
          known = known.unionByName(
            delta.select(col("vec_id"), col("embedding"))).localCheckpoint(true)
        }
      }
      .start()
    val delta = corpus.filter(col("vec_id") % 5 === 3).as[Vec].collect().toSeq
    val (d1, d2) = delta.splitAt(delta.size / 2)
    try {
      input.addData(d1); q.processAllAvailable()
      input.addData(d2); q.processAllAvailable()
    } finally q.stop()

    // every corpus vector (base + both deltas) owns an edge list
    assert(graph.select("id").distinct().count() == corpus.count())
    // the maintained graph still retrieves: top-5 recall vs brute force
    // on the FULL union corpus over the standard query slice
    val got = graft.plans.TopK.perKey(
        graph.filter(col("id") < 10), Seq("id"), "sim", 5, tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"))
    val truth = graft.operators.ann.Knn.bruteForce(
        corpus.filter(col("vec_id") < 10), corpus, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val nTruth = truth.count()
    val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nTruth >= 0.6,
      s"streamed-maintenance recall ${hits.toDouble / nTruth} below floor")
  }

  test("streaming perceptual dedup folds micro-batches to the batch pair set") {
    implicit val ctx = spark.sqlContext
    import graft.operators.dedup.SimHash
    import graft.operators.multimodal.Media
    // real fingerprints: dHash over synthesized PNGs plus exact planted
    // near-dups (pixel-replication upscale — hamming 0 by construction)
    val base = Media.synthesizePng(
      Tables(spark, sfDir, "documents").orderBy("doc_id").limit(30),
      "doc_id", "text", 16, 16).localCheckpoint(false)
    val corpus = base.unionByName(Media.scaleNearest(base, 2)
      .select((col("media_id") + 1000000L).as("media_id"), col("payload")))
    val hashes = Media.dHash64(corpus).filter(col("decode_ok"))
      .select(col("media_id"), col("dhash")).localCheckpoint(false)
    val batch = SimHash.bandedHammingPairs(hashes, "media_id", "dhash",
      bands = 4, maxHamming = 3).localCheckpoint(false)

    // mutable maintenance state updated per trigger — the foreachBatch
    // continuous-ingest dedup loop st_phash_gate batch-executes
    var state = hashes.limit(0).localCheckpoint(true)
    var folded = batch.limit(0).localCheckpoint(true)
    val input = MemoryStream[Fp]
    val q = input.toDF().writeStream
      .foreachBatch { (delta: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!delta.isEmpty) {
          // EAGER checkpoints: folded state must materialize inside the
          // trigger (the delta frame only exists during it)
          folded = folded.unionByName(SimHash.incrementalBandedPairs(
              state, delta, "media_id", "dhash", bands = 4, maxHamming = 3))
            .localCheckpoint(true)
          state = state.unionByName(
            delta.select(col("media_id"), col("dhash"))).localCheckpoint(true)
        }
      }
      .start()
    val rows = hashes.as[Fp].collect().toSeq
    val (d1, rest) = rows.splitAt(rows.size / 3)
    val (d2, d3) = rest.splitAt(rest.size / 2)
    try {
      input.addData(d1); q.processAllAvailable()
      input.addData(d2); q.processAllAvailable()
      input.addData(d3); q.processAllAvailable()
    } finally q.stop()

    // exactly-once pair discovery: fold union ≡ batch pairs, multiset
    assert(Gate.sameRows(folded, batch),
      "streamed pair union must equal the batch banded-hamming pairs")
    // and the planted upscale twins are all present
    val planted = base.select(col("media_id").as("left_id"),
      (col("media_id") + 1000000L).as("right_id"))
    assert(planted.join(folded, Seq("left_id", "right_id"), "left_anti")
      .isEmpty, "planted upscale pair missed by the streamed fold")
  }

  test("incremental NB training: accumulated micro-batch counts equal the batch fit") {
    implicit val ctx = spark.sqlContext
    import graft.queries.Selection
    // NB's sufficient statistics are additive counts, so a foreachBatch
    // maintenance loop that folds each micro-batch's (class, bucket)
    // counts into bounded state reproduces the batch-trained weight table
    // BIT-exactly — streaming model maintenance with classes×256 state,
    // flat in stream history
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    var counts = Seq.empty[(String, Long, Long)]
      .toDF("lang", "bucket", "c")
    var totals = Seq.empty[(String, Long)].toDF("lang", "n")
    val input = MemoryStream[Doc]
    val q = input.toDF()
      .select(col("id").as("doc_id"), col("text"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val toks = Selection.nbTokens(
          batch.join(docs.select("doc_id", "lang"), "doc_id"))
        // eager: materialize the folded counts inside the batch lifetime
        counts = counts
          .unionByName(toks.groupBy("lang", "bucket").agg(count(lit(1)).as("c")))
          .groupBy("lang", "bucket").agg(sum("c").as("c"))
          .localCheckpoint(true)
        totals = totals
          .unionByName(toks.groupBy("lang").agg(count(lit(1)).as("n")))
          .groupBy("lang").agg(sum("n").as("n"))
          .localCheckpoint(true)
      }
      .start()
    val rows = train.select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = Selection.nbWeightsFromCounts(counts, totals)
    val batchW = Selection.nbWeightsFromCounts(
      Selection.nbTokens(train).groupBy("lang", "bucket").agg(count(lit(1)).as("c")),
      Selection.nbTokens(train).groupBy("lang").agg(count(lit(1)).as("n")))
    assert(streamed.count() > 0)
    assert(Gate.sameRows(streamed, batchW),
      "incrementally-trained NB weights diverged from the batch fit")
  }

  test("streaming LR scoring with a fixed model equals the batch score pass") {
    implicit val ctx = spark.sqlContext
    // serving contract only — any model works; a fixed synthetic one keeps
    // the spec fast and makes the margins obviously model-determined
    val m = graft.queries.Selection.LrModel(
      Array.tabulate(256)(i => ((i * 37) % 101 - 50) * 1000L),
      biasMicro = 500L, lossMicroByIter = Nil)
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    assert(docs.size >= 6)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[Doc]
    val stream = input.toDF().select(col("id").as("doc_id"), col("text"))
    val q = Streams.lrScoreStream(stream, m) { out =>
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      buf.synchronized { buf ++= rows }
    }
    try {
      // two triggers: micro-batching must be value-neutral
      input.addData(docs.take(3)); q.processAllAvailable()
      input.addData(docs.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.queries.Selection.lrScore(
        Tables(spark, sfDir, "documents").filter(col("doc_id") < 20)
          .select(col("doc_id"), col("text")), m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.length == docs.size)
    assert(buf.toSet == batch.toSet,
      s"streamed LR scoring diverged from batch: ${buf.toSet.diff(batch.toSet)}")
  }

  test("streaming substring guard flags planted contamination, equals batch") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val shared = (1 to 55).map(i => s"s$i").mkString(" ") // a ≥50-token run
    val evalDocs = Seq(
      (108L, s"eval preamble $shared eval tail words here"),
      (118L, (1 to 60).map(i => s"e$i").mkString(" "))).toDF("doc_id", "text")
    val evalW = graft.queries.Pipeline.substrEvalWindows(
      // ids ≡ 8 (mod 10) so the slice filter keeps them
      evalDocs).localCheckpoint(false)
    assert(evalW.count() > 0)
    val dirty = Doc(3L, s"train junk $shared more train junk " +
      (1 to 20).map(i => s"t$i").mkString(" "))
    val clean = Doc(4L, (1 to 80).map(i => s"c$i").mkString(" "))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[Doc]
    val stream = input.toDF().select(col("id").as("doc_id"), col("text"))
    val q = Streams.substrGuardStream(stream, evalW) { out =>
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      buf.synchronized { buf ++= rows }
    }
    try {
      input.addData(dirty); q.processAllAvailable()
      input.addData(clean); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.queries.Pipeline.substrFlag(
        Seq(dirty, clean).toDF("doc_id", "text")
          .select(col("doc_id"), col("text")), evalW)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.map(_._1).toSet == Set(3L),
      "only the planted contaminated doc is flagged")
    assert(buf.toSet == batch.toSet,
      s"streamed guard diverged from batch: $buf vs ${batch.toSeq}")
  }

  test("streaming CDC fold reproduces the batch state, tombstones persist") {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sfDir, "events").localCheckpoint(false)
    val batch = queries.Matchbox.cdcStateFromLatest(
      queries.Matchbox.cdcLatest(ev)).localCheckpoint(false)
    // fold in EVENT-TIME order (the stream's arrival order), two batches
    val mid = ev.agg(expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)"))
      .head().getDouble(0)
    var running = queries.Matchbox.cdcLatest(
      ev.filter(col("ts").cast("double") <= mid)).localCheckpoint(true)
    running = queries.Matchbox.cdcMergeLatest(running.unionByName(
        queries.Matchbox.cdcLatest(ev.filter(col("ts").cast("double") > mid))))
      .localCheckpoint(true)
    val folded = queries.Matchbox.cdcStateFromLatest(running)
    assert(batch.count() > 0)
    assert(Gate.sameRows(folded, batch),
      "folded CDC state diverged from the batch apply")
    // tombstone semantics: users whose LAST event is 'error' are absent
    val deleted = ev.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))))
      .filter(col("rn") === 1 && col("event_type") === "error")
      .select("user_id").collect().map(_.getLong(0)).toSet
    val present = folded.select("user_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "fixture must exercise the tombstone path")
    assert(deleted.intersect(present).isEmpty,
      "a tombstoned key must not survive the fold")
  }

  test("incrementally-folded golden-record stats equal the batch picks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // associative survivorship stats: fold member micro-batches, compare
    // the final picks against one batch pass over the union
    val rng = new scala.util.Random(47)
    val members = Seq.tabulate(300) { i =>
      (rng.nextInt(10).toLong, s"name${rng.nextInt(40)}${"x" * rng.nextInt(6)}",
        s"seg${rng.nextInt(4)}", rng.nextInt(100000).toLong)
    }
    def toDF(ms: Seq[(Long, String, String, Long)]) =
      ms.toDF("component", "c_name", "seg", "bal_cents")
    val batches = members.grouped(100).toSeq
    var running = queries.Matchbox.goldenStats(toDF(batches.head))
      .localCheckpoint(true)
    batches.tail.foreach { b =>
      running = queries.Matchbox.goldenMerge(
        running.unionByName(queries.Matchbox.goldenStats(toDF(b))))
        .localCheckpoint(true)
    }
    val streamed = queries.Matchbox.goldenFromStats(running)
    val batch = queries.Matchbox.goldenFromStats(
      queries.Matchbox.goldenStats(toDF(members)))
    assert(streamed.count() == 10)
    assert(Gate.sameRows(streamed, batch),
      "incrementally-folded golden records diverged from the batch fusion")
  }

  test("streaming resolution maintenance: folded addEdges equals batch components") {
    implicit val ctx = spark.sqlContext
    // The continuous-ER serving fold (st_components_apply_gate's recipe
    // through a REAL MemoryStream): edge micro-batches fold through
    // Components.addEdges from an empty resolution; the maintained
    // assignment must equal the one-shot batch recompute bit-exactly
    // (addEdges' min-representative contract makes the fold associative).
    val customer = Tables(spark, sfDir, "customer")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    val edges = customer
      .withColumn("dst", lead("c_custkey", 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("c_custkey").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    var state = Seq.empty[(Long, Long)].toDF("id", "component")
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("src", "dst").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          // eager: the folded state must materialize inside the batch
          // lifetime (the StreamingSpec fold protocol)
          state = graft.operators.Components.addEdges(state, batch)
            .localCheckpoint(true)
        }
      }
      .start()
    val rows = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val third = math.max(1, rows.size / 3)
    try {
      rows.grouped(third).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val batchAll = graft.operators.Components.connected(edges)
    assert(state.count() == batchAll.count())
    assert(Gate.sameRows(state, batchAll),
      "streamed-fold resolution diverged from the batch recompute")
  }

  test("streaming mixture maintenance: folded per-source stats equal the batch reweighting") {
    implicit val ctx = spark.sqlContext
    import graft.queries.Selection
    // The learned-mixture sufficient statistics (per-source doc/token
    // counts and hinge-loss sums) are additive under a FIXED proxy model,
    // so folding doc micro-batches through mixtureMergeStats and applying
    // the shared reweighting step reproduces the batch dx_mixture_learned
    // table bit-exactly — corpus-growth maintenance without rescoring
    // history.
    val docs = Tables(spark, sfDir, "documents")
    val m = Selection.lrFitCached(spark, sfDir,
      Selection.nbTokens(docs).localCheckpoint(true))
    var stats = Seq.empty[(String, Long, Long, BigDecimal)]
      .toDF("source", "n_docs", "tokens", "hinge_sum")
      .select(col("source"), col("n_docs"), col("tokens"),
        col("hinge_sum").cast("decimal(38,0)").as("hinge_sum"))
    val input = MemoryStream[Doc]
    val q = input.toDF()
      .select(col("id").as("doc_id"), col("text"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          // eager: materialize the folded stats inside the batch lifetime
          stats = Selection.mixtureMergeStats(
            stats.unionByName(Selection.mixtureStats(
              batch.join(docs.select("doc_id", "source"), "doc_id"), m)))
            .localCheckpoint(true)
        }
      }
      .start()
    val rows = docs.select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val third = math.max(1, rows.size / 3)
    try {
      rows.grouped(third).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = Selection.mixtureFromStats(stats)
    val batchTable = Selection.mixtureLearnedFrom(spark, sfDir, m)
    assert(streamed.count() > 0)
    assert(Gate.sameRows(streamed, batchTable),
      "incrementally-folded mixture weights diverged from the batch table")
  }

  test("dag runs steps in dependency order and memoises results") {
    val dag = new graft.dags.Dag
    dag.source("customer")(Tables(spark, sfDir, "customer"))
    dag.model("dedupe", Seq("customer")) { deps =>
      graft.operators.Dedupe.naive(deps("customer"), "c_custkey", Seq("c_nationkey", "c_mktsegment"))
    }
    dag.resolver("resolve", Seq("dedupe")) { deps =>
      graft.operators.Components.connected(
        deps("dedupe").select(col("left_id").as("src"), col("right_id").as("dst")))
    }
    val results = dag.run()
    val direct = graft.operators.Components.connected(
      graft.operators.Dedupe.naive(
        Tables(spark, sfDir, "customer"), "c_custkey", Seq("c_nationkey", "c_mktsegment"))
        .select(col("left_id").as("src"), col("right_id").as("dst")))
    assert(results("resolve").except(direct).isEmpty && direct.except(results("resolve")).isEmpty)
  }
}
