package graft

import graft.operators.ann.Knn
import graft.operators.dedup.{MinHashLSH, SimHash}
import graft.operators.multimodal.Media
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def docsWithDupes = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 1000000).as("doc_id"),
        expr("concat(substring(text, 1, length(text) - 10), ' spark dup tail')").as("text")))
  }

  test("minhash LSH recovers high-jaccard pairs found by brute force") {
    val sh = MinHashLSH.shingled(docsWithDupes, "doc_id", "text", 3)
    val l = sh.select(col("id").as("a"), col("shingles").as("ls"))
    val r = sh.select(col("id").as("b"), col("shingles").as("rs"))
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("j", expr("CAST(size(array_intersect(ls, rs)) AS DOUBLE) / size(array_union(ls, rs))"))
      .filter(col("j") >= 0.7)
      .select(col("a"), col("b"))
    val found = MinHashLSH.candidatePairs(docsWithDupes, "doc_id", "text", threshold = 0.5)
      .select(col("left_id").as("a"), col("right_id").as("b"))
    val nBrute = brute.count()
    val nHit = brute.join(found, Seq("a", "b"), "left_semi").count()
    assert(nBrute > 0, "expected some true near-duplicate pairs")
    assert(nHit.toDouble / nBrute >= 0.9, s"LSH recall $nHit/$nBrute below 0.9")
    // verification step guarantees precision: every reported pair really has j >= 0.5
    val bad = MinHashLSH.candidatePairs(docsWithDupes, "doc_id", "text", threshold = 0.5)
      .filter(col("jaccard") < 0.5 || col("jaccard") > 1.0)
    assert(bad.isEmpty)
  }

  test("native shingle hashes mirror the string-shingle set structure") {
    import graft.functions.Sketches
    val docs = Tables(spark, sfDir, "documents").limit(100)
    val stringSets = MinHashLSH.shingled(docs, "doc_id", "text", 3)
      .select(col("id"), size(col("shingles")).as("n_str"))
    val nativeSets = docs.select(col("doc_id").cast("long").as("id"),
      size(array_distinct(Sketches.shingleHashes(col("text"), 3))).as("n_native"))
    val joined = stringSets.join(nativeSets, "id")
    assert(joined.filter(col("n_str") =!= col("n_native")).isEmpty,
      "distinct shingle counts must agree (collisions negligible)")
    // jaccard parity on the synthesized near-dup pairs
    val dupes = docsWithDupes
    val sets = MinHashLSH.setsOf(dupes, "doc_id", "text", 3)
    val hashJ = sets.alias("a")
      .join(sets.alias("b"), col("b.id") === col("a.id") + 1000000)
      .select(col("a.id"),
        (size(array_intersect(col("a.hs"), col("b.hs"))).cast("double") /
          size(array_union(col("a.hs"), col("b.hs")))).as("jh"))
    val strSets = MinHashLSH.shingled(dupes, "doc_id", "text", 3)
    val strJ = strSets.alias("a")
      .join(strSets.alias("b"), col("b.id") === col("a.id") + 1000000)
      .select(col("a.id"),
        (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast("double") /
          size(array_union(col("a.shingles"), col("b.shingles")))).as("js"))
    val cmp = hashJ.join(strJ, "id").filter(col("jh") =!= col("js"))
    assert(cmp.isEmpty, "hash-set jaccard must equal string-set jaccard")
  }

  test("simhash pairs are within the declared hamming budget") {
    val pairs = SimHash.candidatePairs(docsWithDupes, "doc_id", "text", maxHamming = 3)
    assert(pairs.filter(col("hamming") > 3).isEmpty)
    // hamming is symmetric-canonical: left < right, no duplicates
    assert(pairs.filter(col("left_id") >= col("right_id")).isEmpty)
    assert(pairs.groupBy("left_id", "right_id").count().filter(col("count") > 1).isEmpty)
  }

  test("knn LSH results agree with brute-force similarities and find some true neighbors") {
    val emb = Tables(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForce(q, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("sim").as("bsim"))
    val approx = Knn.lsh(q, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // any (q, n) pair reported by LSH must carry the exact brute-force sim
    val joined = approx.join(
      Knn.bruteForce(q, emb, "vec_id", "embedding", Int.MaxValue)
        .select(col("query_id"), col("neighbor_id"), col("sim").as("bsim")),
      Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("sim") =!= col("bsim")).isEmpty)
    val hits = approx.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits > 0, "LSH found no true top-5 neighbors at all")
  }

  test("IVF search beats LSH recall at the same k and carries exact sims") {
    val emb = Tables(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForce(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val ivf = graft.operators.ann.Ivf.search(q, emb, "vec_id", "embedding", 5)
    // reported sims must equal the exact brute-force cosine
    val exact = Knn.bruteForce(q, emb, "vec_id", "embedding", Int.MaxValue)
      .select(col("query_id"), col("neighbor_id"), col("sim").as("bsim"))
    assert(ivf.join(exact, Seq("query_id", "neighbor_id"))
      .filter(col("sim") =!= col("bsim")).isEmpty)
    val nBrute = brute.count()
    val hits = ivf.select("query_id", "neighbor_id")
      .join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.3, s"IVF recall $hits/$nBrute below 0.3")
  }

  test("media stub decode is deterministic and consistent with payload bytes") {
    val p = Media.withPayload(Tables(spark, sfDir, "documents"), "doc_id", "text")
    val f1 = Media.extractFeatures(p)
    val f2 = Media.extractFeatures(p)
    assert(f1.except(f2).isEmpty && f2.except(f1).isEmpty)
    val joined = f1.alias("f").join(p.alias("p"),
        col("f.media_id") === col("p.media_id"))
      .filter(col("f.n_bytes") =!= col("p.meta.n_bytes"))
    assert(joined.isEmpty)
  }

  test("embed dedup triangle join matches the naive cartesian bit-for-bit, with no BNLJ") {
    import graft.operators.dedup.EmbedDedup
    val emb = Tables(spark, sfDir, "embeddings")
    val tri = EmbedDedup.allPairs(emb, "vec_id", "embedding", threshold = 0.3)
    val a = emb.select(col("vec_id").as("left_id"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("right_id"), col("embedding").as("eb"))
    val naive = a.join(b, col("left_id") < col("right_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("ea"), col("eb")))
      .filter(col("sim") >= 0.3)
      .select("left_id", "right_id", "sim")
    assert(tri.count() > 0)
    assert(tri.except(naive).isEmpty && naive.except(tri).isEmpty)
    val plan = tri.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "exact embed dedup must not plan a cartesian")
  }

  test("embed LSH dedup is a subset of exact pairs with identical sims") {
    import graft.operators.dedup.EmbedDedup
    val emb = Tables(spark, sfDir, "embeddings")
    val exact = EmbedDedup.allPairs(emb, "vec_id", "embedding", threshold = 0.3)
    val approx = EmbedDedup.lshPairs(emb, "vec_id", "embedding", threshold = 0.3)
    assert(approx.count() > 0, "LSH path found no pairs at all")
    assert(approx.except(exact).isEmpty, "LSH pair not present in exact result")
  }

  test("media resize and frame sampling keep the partition-batch shape") {
    val p = Media.withPayload(Tables(spark, sfDir, "documents").limit(50), "doc_id", "text")
    // resize: exact output size, deterministic content
    val r1 = Media.resizeStub(p, 16, 8)
    val r2 = Media.resizeStub(p, 16, 8)
    assert(r1.except(r2).isEmpty && r2.except(r1).isEmpty)
    val sizes = r1.select(length(col("payload")).as("n"), col("width"), col("height"))
      .distinct().collect()
    assert(sizes.forall(r => r.getInt(0) == 16 * 8 && r.getLong(1) == 16 && r.getLong(2) == 8),
      s"unexpected resize shapes: ${sizes.toSeq}")
    // frame sampling: every 2nd 256-byte window, count matches the payload size
    val frames = Media.sampleFrames(p, frameBytes = 256, everyN = 2)
    val counts = frames.groupBy("media_id").count()
      .join(p.select(col("media_id"), col("meta.n_bytes").as("nb")), "media_id")
    val bad = counts.filter(
      col("count") =!= expr("(CAST(ceil(nb / 256.0) AS BIGINT) + 1) DIV 2"))
    assert(bad.isEmpty, s"frame counts off: ${bad.collect().toSeq.take(5)}")
    // frames are real prefixes/windows of the payload bytes
    assert(frames.filter(col("frame_idx") % 2 =!= 0).isEmpty)
  }

  test("real image codec: synthesized PNGs decode, resize bilinearly, re-encode deterministically") {
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    val docs = Tables(spark, sfDir, "documents").orderBy("doc_id").limit(30)
    val pngs = Media.synthesizePng(docs, "doc_id", "text", 16, 16)
    // the synthesized payloads are REAL PNGs: decodable at the right size
    val srcRows = pngs.collect()
    assert(srcRows.length == 30)
    srcRows.foreach { r =>
      val img = ImageIO.read(new ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    }
    // resize through the real codec path
    val thumbs = Media.resizeImages(pngs, 8, 8)
    val rows = thumbs.collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getLong(2) == 8 && r.getLong(3) == 8)
      val img = ImageIO.read(new ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      assert(img != null && img.getWidth == 8 && img.getHeight == 8)
    }
    // determinism: PNG bytes are a pure function of the pixels
    val again = Media.resizeImages(pngs, 8, 8)
    assert(thumbs.except(again).isEmpty && again.except(thumbs).isEmpty)
    // undecodable payloads are flagged, not dropped
    import spark.implicits._
    val junk = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val flagged = Media.resizeImages(junk, 8, 8).collect()
    assert(flagged.length == 1 && flagged(0).isNullAt(1) &&
      flagged(0).getLong(2) == -1L)
  }

  test("real audio codec: WAV round-trip, features, linear resample") {
    import javax.sound.sampled.AudioSystem
    import java.io.ByteArrayInputStream
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").orderBy("doc_id").limit(20)
    val wavs = Media.synthesizeWav(docs, "doc_id", "text", 8000, 50)
    val rows = wavs.collect()
    assert(rows.length == 20)
    // the payloads are REAL WAV containers: the JDK parser reads them back
    rows.foreach { r =>
      val ais = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
        fmt.getSampleSizeInBits == 16)
      assert(ais.getFrameLength == 400L) // 50 ms at 8 kHz
    }
    // features from the real decode
    val feats = Media.audioFeatures(wavs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats.size == 20)
    feats.values.foreach { f =>
      assert(f.getLong(1) == 8000L && f.getLong(2) == 400L && f.getLong(3) == 50L)
      assert(f.getDouble(4) > 0.0 && f.getDouble(4) <= f.getDouble(5) &&
        f.getDouble(5) <= 1.0)
    }
    // resample 2:1 halves the samples and keeps tone energy within 5%
    val res = Media.resampleAudio(wavs, 4000)
    val resFeats = Media.audioFeatures(res).collect()
      .map(r => r.getLong(0) -> r).toMap
    resFeats.foreach { case (id, f) =>
      assert(f.getLong(1) == 4000L && f.getLong(2) == 200L)
      val rms0 = feats(id).getDouble(4)
      assert(math.abs(f.getDouble(4) - rms0) / rms0 <= 0.05,
        s"clip $id rms drifted ${feats(id).getDouble(4)} -> ${f.getDouble(4)}")
    }
    // determinism + flagged junk
    assert(wavs.except(Media.synthesizeWav(docs, "doc_id", "text", 8000, 50)).isEmpty)
    val junkAudio = Seq((7L, Array[Byte](9, 9, 9))).toDF("media_id", "payload")
    val bad = Media.audioFeatures(junkAudio).collect()
    assert(bad.length == 1 && bad(0).getLong(1) == -1L)
  }

  test("real multi-frame codec: animated GIF encode, frame extraction, sampling") {
    import javax.imageio.ImageIO
    import java.io.ByteArrayInputStream
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").orderBy("doc_id").limit(10)
    val gifs = Media.synthesizeGif(docs, "doc_id", "text", 16, 16, 6)
    // payloads are REAL animated GIFs: the JDK reader sees 6 frames
    gifs.collect().foreach { r =>
      val iis = ImageIO.createImageInputStream(
        new ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      val reader = ImageIO.getImageReaders(iis).next()
      reader.setInput(iis, false)
      assert(reader.getNumImages(true) == 6)
      val f0 = reader.read(0)
      assert(f0.getWidth == 16 && f0.getHeight == 16)
      reader.dispose()
    }
    // every-2nd sampling keeps frames 0,2,4 as standalone PNGs
    val frames = Media.sampleFramesReal(gifs, everyN = 2)
    val byClip = frames.collect().groupBy(_.getLong(0))
    assert(byClip.size == 10)
    byClip.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(0L, 2L, 4L))
      rows.foreach { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.getAs[Array[Byte]]("frame")))
        assert(img != null && img.getWidth == 16 && img.getHeight == 16)
      }
    }
    // frames differ across indices (the animation is not static)
    val distinctPerClip = frames
      .groupBy("media_id").agg(countDistinct(md5(col("frame"))).as("d"))
      .filter(col("d") < 2)
    assert(distinctPerClip.isEmpty, "all sampled frames identical")
    // undecodable payload -> one flagged row
    val junkGif = Seq((5L, Array[Byte](3, 1, 4))).toDF("media_id", "payload")
    val flaggedF = Media.sampleFramesReal(junkGif).collect()
    assert(flaggedF.length == 1 && flaggedF(0).getLong(1) == -1L &&
      flaggedF(0).isNullAt(2))
  }

  test("real video codec: AVI container round-trip, DIB lossless, MJPG decode") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").orderBy("doc_id").limit(10)
    val dib = Media.synthesizeAvi(docs, "doc_id", "text", 12, 10, 4, 25, "DIB ")
    // header-only scan reads back exactly what the writer put in
    val meta = Media.aviMeta(dib).collect()
    assert(meta.length == 10)
    meta.foreach { r =>
      assert(r.getLong(1) == 12L && r.getLong(2) == 10L &&
        r.getLong(3) == 25L && r.getLong(4) == 4L &&
        r.getString(5) == "DIB ")
    }
    // DIB is lossless AND the writer deterministic: decode -> re-encode
    // is bit-identical to the source container on every clip
    val back = Media.transcodeAvi(dib, "DIB ")
      .select(col("media_id"), col("payload").as("payload2"))
    val diff = dib.join(back, "media_id")
      .filter(col("payload2").isNull || !(col("payload2") === col("payload")))
    assert(diff.isEmpty, "DIB transcode not bit-identical")
    // frame sampling routes RIFF payloads to the AVI parser
    val frames = Media.sampleFramesReal(dib, everyN = 3).collect()
    val byClip = frames.groupBy(_.getLong(0))
    assert(byClip.size == 10)
    byClip.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(0L, 3L))
      rows.foreach(r => assert(r.getLong(3) == 12L && r.getLong(4) == 10L))
    }
    // MJPG clips hold real JPEGs (SOI marker) and decode to the geometry
    val mjpg = Media.synthesizeAvi(docs, "doc_id", "text", 12, 10, 4, 25, "MJPG")
    assert(Media.aviMeta(mjpg).filter(col("codec") === "MJPG").count() == 10)
    val mframes = Media.sampleFramesReal(mjpg, everyN = 1).collect()
    assert(mframes.length == 40 && mframes.forall(r =>
      !r.isNullAt(2) && r.getLong(3) == 12L && r.getLong(4) == 10L))
    // truncated container and non-RIFF junk are flagged, never dropped
    val cut = dib.limit(1).collect()(0).getAs[Array[Byte]]("payload").take(40)
    val junk = Seq((1L, cut), (2L, Array[Byte](9, 9)), (3L, null: Array[Byte]))
      .toDF("media_id", "payload")
    val flagged = Media.sampleFramesReal(junk).collect()
    assert(flagged.length == 3 &&
      flagged.forall(r => r.getLong(1) == -1L && r.isNullAt(2)))
    assert(Media.aviMeta(junk).collect().forall(r =>
      r.getLong(1) == -1L && r.isNullAt(5)))
    assert(Media.transcodeAvi(junk, "MJPG").collect().forall(_.isNullAt(1)))
  }

  test("chunking covers every token: windows overlap by stride and end at n") {
    val df = Registry.byName("dx_chunk").fn(spark, sfDir).cache()
    // recompute expected chunk hashes directly from the text in Scala —
    // proves the chunk CONTENT, not just the counts
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(got.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((docId, text) <- docs.take(500)) {
      val toks = text.trim.split("\\s+")
      val n = toks.length
      val nChunks = if (n <= 32) 1 else 1 + (n - 32 + 15) / 16
      val expected = (0 until nChunks).map { c =>
        val slice = toks.slice(c * 16, c * 16 + math.min(32, n - c * 16))
        val hex = md.digest(slice.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (docId, c.toLong) -> (slice.length.toLong, hex)
      }.toMap
      val mine = got.filter(_._1._1 == docId)
      assert(mine == expected, s"doc $docId chunks diverge")
    }
    df.unpersist()
  }

  test("substring dedup equals the brute-force shared-window count") {
    val k = 6
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(expr(s"size(toks) >= $k"))
      .select(col("doc_id"), expr(
        s"""array_distinct(transform(sequence(1, size(toks) - $k + 1),
           | i -> concat_ws(' ', slice(toks, i, $k))))""".stripMargin).as("wins"))
    val l = docs.select(col("doc_id").as("left_id"), col("wins").as("lw"))
    val r = docs.select(col("doc_id").as("right_id"), col("wins").as("rw"))
    val brute = l.crossJoin(r).filter(col("left_id") < col("right_id"))
      .withColumn("n_shared", expr("CAST(size(array_intersect(lw, rw)) AS BIGINT)"))
      .filter(col("n_shared") >= 1)
      .select("left_id", "right_id", "n_shared")
    val got = Registry.byName("dx_dedup_substring").fn(spark, sfDir)
    assert(Gate.sameRows(got, brute),
      "inverted-index substring pairs diverge from brute force")
  }

  test("temperature sampling honours quotas and damps the majority language") {
    val df = Registry.byName("dx_sample_temperature").fn(spark, sfDir).cache()
    val perLang = df.groupBy("lang")
      .agg(count(lit(1)).as("taken"), max("quota").as("quota"),
        max("rn").as("max_rn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val corpus = Tables(spark, sfDir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.nonEmpty)
    for ((lang, taken, quota) <- perLang)
      assert(taken == math.min(quota, corpus(lang)),
        s"$lang took $taken of quota $quota (corpus ${corpus(lang)})")
    // α=0.5 damping: the majority language's share of the SAMPLE must be
    // strictly below its share of the corpus — the reason this operator
    // exists at all
    val total = perLang.map(_._2).sum.toDouble
    val corpusTotal = corpus.values.sum.toDouble
    val (maxLang, maxN) = corpus.maxBy(_._2)
    val sampled = perLang.find(_._1 == maxLang).map(_._2).getOrElse(0L)
    assert(sampled / total < maxN / corpusTotal,
      s"$maxLang share not damped: ${sampled / total} vs ${maxN / corpusTotal}")
    df.unpersist()
  }

  test("exact dedup groups the synthesized duplicates") {
    val df = Registry.byName("dx_dedup_exact").fn(spark, sfDir)
    val dupGroups = df.filter(col("n_copies") === 2).count()
    val expected = Tables(spark, sfDir, "documents").filter(col("doc_id") % 7 === 0).count()
    assert(dupGroups == expected)
  }

  test("classifier filter score is the pinned weighted margin of its own features") {
    val df = Registry.byName("dx_classifier_filter").fn(spark, sfDir)
    // recompute the decision from the emitted features: the published
    // weights are the contract, the score column must be exactly w·f
    val bad = df.filter(
      col("score") =!= expr("greatest(0L, 40 * f_stop + 60 * f_len - 8 * abs(f_mtl - 55)) div 100") ||
        col("keep") =!= (col("score") >= 500)).count()
    assert(bad == 0)
    val bounds = df.agg(min("score"), max("score"), min("f_stop"), max("f_stop")).head()
    assert(bounds.getLong(0) >= 0 && bounds.getLong(1) <= 1000)
    assert(bounds.getLong(2) >= 0 && bounds.getLong(3) <= 1000)
    // both classes must be populated or the filter is vacuous
    assert(df.filter(col("keep")).count() > 0 && df.filter(!col("keep")).count() > 0)
  }

  test("token rarity matches a direct recomputation for sampled documents") {
    val df = Registry.byName("dx_token_rarity").fn(spark, sfDir)
    val docs = Tables(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("tok"))
    val sample = df.filter(col("doc_id") < 5).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val myToks = toks.filter(col("doc_id") === id).select("tok").collect().map(_.getString(0))
      // df of each token = number of distinct docs containing it, over the corpus
      val dfMap = toks.filter(col("tok").isin(myToks.distinct: _*))
        .groupBy("tok").agg(countDistinct("doc_id").as("df"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val sumDf = myToks.map(dfMap).sum
      assert(r.getAs[Long]("n_tokens") == myToks.length, s"doc $id token count")
      assert(r.getAs[Long]("sum_df") == sumDf, s"doc $id sum_df")
      assert(r.getAs[Long]("mean_df_milli") == 1000 * sumDf / myToks.length, s"doc $id mean")
    }
  }

  test("shard census covers every document exactly once with hex-nibble shards") {
    val df = Registry.byName("dx_shard").fn(spark, sfDir)
    val rows = df.collect()
    val total = Tables(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val nibbles = "0123456789abcdef".map(_.toString).toSet
    assert(rows.map(_.getAs[String]("shard")).toSet.subsetOf(nibbles))
    // assignment is content-derived, not order-derived: rerun is identical
    val again = Registry.byName("dx_shard").fn(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("corpus e2e pipeline composes scrub, dedup, filter and cap coherently") {
    val df = Registry.byName("dx_corpus_e2e").fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // dedup keeps the lowest id of each content group: a planted +1e6 copy
    // shares its original's scrubbed text (1e6 % 5 = 0 preserves the email
    // seeding), so no copy may survive into the curated roster
    assert(rows.forall(_.getAs[Long]("doc_id") < 1000000L))
    // classifier margin and per-language cap hold on every row
    assert(rows.forall(_.getAs[Long]("score") >= 500L))
    val perLang = rows.groupBy(_.getAs[String]("lang"))
    perLang.foreach { case (lang, rs) =>
      val rns = rs.map(_.getAs[Long]("rn")).sorted
      assert(rns.last <= 30, s"$lang over cap")
      assert(rns.sameElements(1L to rns.length), s"$lang ranks not dense")
    }
    // unseeded docs (no email appended, scrub is a no-op) score identically
    // in the standalone classifier — the composition changes nothing for them
    val standalone = Registry.byName("dx_classifier_filter").fn(spark, sfDir)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("score").as("s2"))
    val joined = df.filter(col("doc_id") % 5 =!= 0).join(standalone, "doc_id")
    assert(joined.filter(col("score") =!= col("s2")).count() == 0)
  }

  test("expectations evaluate in one scan and flag violations") {
    import graft.operators.Expectations._
    val df = Registry.byName("dx_expectations").fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getAs[Boolean]("ok")), s"corpus violates expectations: ${rows.toSeq}")
    // however many checks are declared, the table is scanned exactly once
    // (sparkPlan, not executedPlan: AQE's toString repeats the tree as
    // "initial" and "current" plans and would double-count the scan)
    val scans = df.queryExecution.sparkPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single scan, got $scans")
    // a violated band reports ok=false with the exact metric
    val docs = Tables(spark, sfDir, "documents")
    val bad = evaluate(docs, Seq(
      Check("impossible_band", compliance("lang = 'en'"), 999, 1000))).head()
    assert(!bad.getAs[Boolean]("ok") && bad.getAs[Long]("metric") < 999)
  }

  test("boilerplate stripping removes exactly the high-df tokens, order preserved") {
    val df = Registry.byName("dx_boilerplate").fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.forall(r => r.getAs[Long]("n_kept") <= r.getAs[Long]("n_tokens")))
    // recompute the common set and one document's cleaned text directly
    val docs = Tables(spark, sfDir, "documents")
    val n = docs.count()
    val common = docs
      .select(explode(expr("array_distinct(split(trim(text), '\\\\s+'))")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") * 5 > n * 4)
      .collect().map(_.getString(0)).toSet
    val sample = docs.filter(col("doc_id") < 3)
      .select(col("doc_id"), col("text")).collect()
    sample.foreach { r =>
      val toks = r.getString(1).trim.split("\\s+")
      val kept = toks.filterNot(common)
      val expectMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val got = rows.find(_.getAs[Long]("doc_id") == r.getLong(0)).get
      assert(got.getAs[Long]("n_kept") == kept.length)
      assert(got.getAs[String]("cleaned_md5") == expectMd5, s"doc ${r.getLong(0)} md5")
    }
  }

  test("OPQ rotation preserves cosine and composes with PQ above its floor") {
    import graft.operators.ann.{Knn, Opq}
    import graft.operators.embed.Pca
    val emb = Tables(spark, sfDir, "embeddings")
    val f = Pca.fit(emb, "embedding", 64, 64)
    // pure orthonormal map: pairwise cosines in rotated space equal the
    // originals (the property that lets the exact rerank skip any inverse
    // transform)
    val rot = Opq.rotate(emb, "embedding", f)
    val origSims = Knn.bruteForce(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rotSims = Knn.bruteForce(
      rot.filter(col("vec_id") < 5), rot, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rotSims.keySet == origSims.keySet,
      "rotation must not change the brute-force neighbor sets")
    rotSims.foreach { case (k2, s) =>
      assert(math.abs(s - origSims(k2)) < 1e-5,
        s"cosine not preserved at $k2: $s vs ${origSims(k2)}")
    }
    // composed search: recall vs brute at PQ's own floor
    val brute = Knn.bruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val opq = Opq.search(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val hits = brute.join(opq, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.6, s"OPQ recall $hits/$nBrute under 0.6")
  }

  test("NN-Descent graph: invariants, determinism, recall above the gate floor") {
    import graft.operators.ann.{Knn, NnDescent}
    val emb = Tables(spark, sfDir, "embeddings")
    val g = NnDescent.knnGraph(emb, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40).localCheckpoint(false)
    // ≤ k rows per node, no self-loops
    val perNode = g.groupBy("id").agg(count(lit(1)).as("n"))
    assert(perNode.filter(col("n") > 10).count() == 0)
    assert(g.filter(col("id") === col("nbr")).count() == 0)
    // edge sims are true cosines (recompute independently)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val recomputed = g
      .join(vecs.withColumnRenamed("vec_id", "id"), "id")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("e2")), "nbr")
      .withColumn("sim2", graft.functions.CosineSimilarity(col("embedding"), col("e2")))
      .filter(abs(col("sim") - col("sim2")) > 1e-9)
    assert(recomputed.count() == 0, "graph sims must be exact cosines")
    // deterministic: run twice, identical edge sets
    val g2 = NnDescent.knnGraph(emb, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40)
    assert(Gate.sameRows(g.select("id", "nbr"), g2.select("id", "nbr")))
    // top-5 recall vs brute force for the query slice (the gate's floor)
    val brute = Knn.bruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val top5 = graft.plans.TopK.perKey(
      g.filter(col("id") < 10), Seq("id"), "sim", 5, tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"))
    val nBrute = brute.count()
    val hits = brute.join(top5, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.7,
      s"NN-Descent recall $hits/$nBrute under the 0.7 gate floor")
  }

  test("graph beam search: bounded output, exact sims, recall over the gate floor") {
    import graft.operators.ann.{Knn, NnDescent}
    val emb = Tables(spark, sfDir, "embeddings")
    val g = NnDescent.knnGraph(emb, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40).localCheckpoint(false)
    val res = NnDescent.searchGraph(
      emb.filter(col("vec_id") < 10), g, emb, "vec_id", "embedding",
      k = 5, beam = 20, hops = 4, seeds = 8).localCheckpoint(false)
    // exactly 5 ranked rows per query, no self-matches
    val perQ = res.groupBy("query_id").agg(count(lit(1)).as("n"),
      max("rank").as("mr"))
    assert(perQ.filter(col("n") =!= 5 || col("mr") =!= 5).count() == 0)
    assert(res.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // reported sims are true cosines
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val wrong = res
      .join(vecs.withColumnRenamed("vec_id", "query_id"), "query_id")
      .join(vecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("e2")), "neighbor_id")
      .filter(abs(col("sim") -
        graft.functions.CosineSimilarity(col("embedding"), col("e2"))) > 1e-9)
    assert(wrong.count() == 0, "search sims must be exact cosines")
    // recall vs brute top-5 at the registry gate's floor
    val brute = Knn.bruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val hits = brute.join(res.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.7,
      s"graph-search recall $hits/$nBrute under the 0.7 gate floor")
  }

  test("random projection: deterministic ±1/√k matrix, JL distortion in band") {
    import graft.operators.embed.RandomProjection
    val m = RandomProjection.matrix(64, 16)
    assert(m.length == 16 && m.forall(_.length == 64))
    val s = 1.0 / math.sqrt(16.0)
    assert(m.flatten.forall(x => x == s || x == -s))
    assert(m == RandomProjection.matrix(64, 16), "matrix must be deterministic")
    // sign balance: a mixer whose signs skewed would bias every distance
    val pos = m.flatten.count(_ > 0)
    assert(math.abs(pos - 512) < 100, s"sign balance off: $pos/1024 positive")
    // projection drops wrong-length rows, keeps ids, emits k-dim vectors
    val emb = Tables(spark, sfDir, "embeddings")
    val proj = RandomProjection.project(emb, "embedding", 64, 16)
    assert(proj.count() == emb.count())
    assert(proj.filter(size(col("embedding")) =!= 16).count() == 0)
    // end-to-end distortion contract (the registry gate's own assertion)
    val row = graft.SparkEntry.queries("dx_embed_rp_gate")(spark, sfDir).head()
    assert(row.getLong(0) == 1225 && row.getBoolean(1) && row.getBoolean(2))
  }

  test("PQ search reranks exactly and beats the compression floor") {
    import graft.operators.ann.{Knn, Pq}
    val emb = Tables(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForce(q, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("sim").as("bsim"))
    val pq = Pq.search(q, emb, "vec_id", "embedding", 5)
    // the rerank is exact: wherever PQ and brute agree on a neighbor, the
    // similarity is bit-identical (same cosine over the true vectors)
    val joined = pq.join(brute, Seq("query_id", "neighbor_id"))
    assert(joined.count() > 0)
    assert(joined.filter(col("sim") =!= col("bsim")).count() == 0)
    // recall floor on the uniform-random worst case (gate mirrors this)
    val recall = joined.count().toDouble / brute.count()
    assert(recall >= 0.6, s"PQ recall $recall under floor")
    // codebook fit is deterministic: a second search returns identical rows
    val again = Pq.search(q, emb, "vec_id", "embedding", 5)
    assert(Gate.sameRows(pq, again))
    // IVF-PQ: cell-restricted compressed scan still reranks exactly
    val ivfpq = Pq.searchIvf(q, emb, "vec_id", "embedding", 5)
    val j2 = ivfpq.join(brute, Seq("query_id", "neighbor_id"))
    assert(j2.count() > 0)
    assert(j2.filter(col("sim") =!= col("bsim")).count() == 0)
  }

  test("percentile sketch meets its rank contract") {
    val df = Registry.byName("dx_percentile_gate").fn(spark, sfDir)
    val row = df.head()
    assert(row.getAs[Boolean]("rank_ok"))
    assert(row.getAs[Long]("n_rows") == Tables(spark, sfDir, "events").count())
  }

  test("CMS sketch holds its one-sided error contract at the spec sf too") {
    val row = Registry.byName("dx_cms_gate").fn(spark, sfDir).head()
    assert(row.getAs[Boolean]("no_undercount"))
    assert(row.getAs[Boolean]("bound_ok"))
    assert(row.getAs[Long]("v") > 0 && row.getAs[Long]("n") >= row.getAs[Long]("v"))
  }

  test("ngram novelty: corpus-first doc is fully novel, counts stay consistent") {
    val df = Registry.byName("dx_ngram_novelty").fn(spark, sfDir).localCheckpoint(false)
    val firstDoc = df.agg(min("doc_id")).head.getLong(0)
    assert(df.filter(col("doc_id") === firstDoc)
      .head.getAs[Long]("novelty_permille") == 1000L)
    assert(df.filter(col("n_novel") > col("n_shingles")).count() == 0)
    // every shingle has exactly one novel owner: novel counts sum to the
    // corpus-wide distinct shingle count
    val distinctShingles = df.agg(sum("n_novel")).head.getLong(0)
    assert(distinctShingles > 0 && distinctShingles <=
      df.agg(sum("n_shingles")).head.getLong(0))
  }

  test("k-anonymity census accounts for every record exactly once") {
    val df = Registry.byName("dx_kanonymity").fn(spark, sfDir)
    val total = df.agg(sum("n_records")).head.getLong(0)
    assert(total == Tables(spark, sfDir, "customer").count())
  }

  test("stratified split covers every document exactly once") {
    val df = Registry.byName("dx_split_stratified").fn(spark, sfDir)
    val total = df.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables(spark, sfDir, "documents").count())
    // permille shares of one language sum to ~1000 (floor rounding loses <3)
    val perLang = df.groupBy("lang").agg(sum("share_permille").as("s")).collect()
    assert(perLang.forall { r =>
      val s = r.getAs[Long]("s"); s >= 997 && s <= 1000
    })
  }

  test("embedding QC flags planted NaN, zero, and wrong-dimension vectors") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_eqc").toString
    Seq(
      (1L, Array(1.0f, 0.0f), 0),        // unit
      (2L, Array(0.0f, 0.0f), 0),        // zero vector
      (3L, Array(Float.NaN, 1.0f), 0),   // NaN
      (4L, Array(3.0f, 4.0f), 0),        // norm2 = 25 band
      (5L, Array(1.0f, 1.0f, 1.0f), 0))  // wrong dimension
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val rows = Registry.byName("dx_embedding_qc").fn(spark, out).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("norm_band")) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_nan"), r.getAs[Long]("n_zero"))).toMap
    assert(rows((2L, 1L)) == ((1L, 0L, 0L)))   // unit vector
    assert(rows((2L, 0L)) == ((1L, 0L, 1L)))   // zero vector flagged
    assert(rows((2L, -1L)) == ((1L, 1L, 0L)))  // NaN sentinel band
    assert(rows((2L, 25L)) == ((1L, 0L, 0L)))  // 3-4-5 norm
    assert(rows((3L, 3L)) == ((1L, 0L, 0L)))   // odd dimension isolated
  }

  test("funnel report is a consistent waterfall") {
    val rows = Registry.byName("dx_funnel_report").fn(spark, sfDir)
      .orderBy("stage").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in"))
      assert(r.getAs[Long]("dropped") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_out"))
    }
    // stages chain: each stage's input is the previous stage's output
    assert(rows(1).getAs[Long]("n_in") == rows(0).getAs[Long]("n_out"))
    assert(rows(2).getAs[Long]("n_in") == rows(1).getAs[Long]("n_out"))
  }
}
