package graft

import graft.operators.dedup.SimHash
import graft.operators.multimodal.Media
import org.apache.spark.sql.functions._

/** Video/audio perceptual near-dup contracts: frameDHash64's exactness
  * under fps retimes and prefix truncations, aHash64's exactness under
  * phase inversion and identity resamples, position-keyed banding ≡ the
  * positional brute-force join, and flagged (never silent) decode
  * failures.
  */
class MediaDedupSpec extends SparkSpec {
  import spark.implicits._

  private def clips() = Media.synthesizeAvi(
    Tables(spark, sfDir, "documents").orderBy("doc_id").limit(12),
    "doc_id", "text", 16, 16, nFrames = 5, fps = 10).localCheckpoint(false)

  private def wavs() = Media.synthesizeWav(
    Tables(spark, sfDir, "documents").orderBy("doc_id").limit(24),
    "doc_id", "text", sampleRate = 8000, durationMs = 50)
    .localCheckpoint(false)

  test("frame dHashes are exactly invariant under an fps retime") {
    val b = clips()
    val h0 = Media.frameDHash64(b).select("media_id", "frame_idx", "dhash")
    val hr = Media.frameDHash64(Media.retimeAvi(b, 20))
      .select(col("media_id"), col("frame_idx"), col("dhash").as("dh2"))
    // the retime really changed the container (fps header differs) …
    val fps = Media.aviMeta(Media.retimeAvi(b, 20))
      .select("fps").distinct().collect().map(_.getLong(0)).toSet
    assert(fps == Set(20L), s"retime should set fps 20, got $fps")
    // … while every frame hash survived bit-for-bit
    val diff = h0.join(hr, Seq("media_id", "frame_idx"))
      .filter(col("dhash") =!= col("dh2")).count()
    assert(diff == 0, "frame dHash changed under fps retime")
  }

  test("truncation keeps the prefix frames' hashes and drops the rest") {
    val b = clips()
    val h0 = Media.frameDHash64(b)
    val ht = Media.frameDHash64(Media.truncateAvi(b, 3))
    assert(ht.agg(max("n_frames")).head().getLong(0) == 3L)
    val joined = h0.filter(col("frame_idx") < 3)
      .select("media_id", "frame_idx", "dhash")
      .join(ht.select(col("media_id"), col("frame_idx"),
        col("dhash").as("dh2")), Seq("media_id", "frame_idx"), "full")
    assert(joined.filter(col("dhash").isNull || col("dh2").isNull).count() == 0,
      "truncated clip must carry exactly the prefix positions")
    assert(joined.filter(col("dhash") =!= col("dh2")).count() == 0,
      "prefix frame hashes changed under truncation")
  }

  test("position-keyed banding equals the positional brute hamming join") {
    val h0 = 0x0123456789abcdefL
    def flip(h: Long, bits: Seq[Int]) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    // two "clips" sharing positions 0/1 near-exactly, a third far away;
    // position 9 exists only on clip 1 (length mismatch must not match)
    val rows = Seq(
      (1L, 0L, h0), (1L, 1L, flip(h0, Seq(4))), (1L, 9L, h0),
      (2L, 0L, flip(h0, Seq(7))), (2L, 1L, flip(h0, Seq(4, 13, 50))),
      (3L, 0L, ~h0), (3L, 1L, 0L))
      .toDF("id", "k", "h")
    val got = SimHash.bandedHammingPairsKeyed(
        rows, "id", "k", "h", bands = 4, maxHamming = 3)
      .select("left_id", "right_id", "key", "hamming")
    val l = rows.select(col("id").as("left_id"), col("k").as("key"),
      col("h").as("lh"))
    val r = rows.select(col("id").as("right_id"), col("k").as("key"),
      col("h").as("rh"))
    val brute = l.join(r, Seq("key"))
      .filter(col("left_id") < col("right_id"))
      .withColumn("hamming", expr("CAST(bit_count(lh ^ rh) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("left_id", "right_id", "key", "hamming")
    assert(Gate.sameRows(got, brute),
      "keyed banded pairs must equal the positional brute join bit-for-bit")
    val gotSet = got.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(gotSet == Set((1L, 2L, 0L), (1L, 2L, 1L)),
      s"expected exactly the two aligned near positions, got $gotSet")
  }

  test("intro trim shifts frame positions while preserving frame hashes") {
    val b = clips()
    val h0 = Media.frameDHash64(b)
    val ht = Media.frameDHash64(Media.trimAviStart(b, 2))
    assert(ht.agg(max("n_frames")).head().getLong(0) == 3L)
    // frame i of the trim is frame i+2 of the base, hash bit-for-bit
    val joined = ht.select(col("media_id"), col("frame_idx"),
        col("dhash").as("dh2"))
      .join(h0.select(col("media_id"),
        (col("frame_idx") - 2).as("frame_idx"), col("dhash")),
        Seq("media_id", "frame_idx"), "left")
    assert(joined.filter(col("dhash").isNull).count() == 0)
    assert(joined.filter(col("dhash") =!= col("dh2")).count() == 0,
      "trimmed frame hashes must equal the base's at the +2 shift")
    // dropping everything yields a flagged null payload, not a crash
    assert(Media.trimAviStart(b, 5).filter(col("payload").isNull).count() ==
      b.count())
  }

  test("aHash is exactly invariant under phase inversion") {
    val b = wavs()
    val h0 = Media.aHash64(b).select("media_id", "ahash")
    val inv = Media.invertAudio(b)
    // bytes really changed (negated PCM) while the hash did not
    val sameBytes = b.join(inv.withColumnRenamed("payload", "p2"), "media_id")
      .filter(col("payload") === col("p2")).count()
    assert(sameBytes == 0, "phase inversion should produce different bytes")
    val hi = Media.aHash64(inv)
      .select(col("media_id"), col("ahash").as("ah2"))
    val diff = h0.join(hi, "media_id")
      .filter(col("ahash") =!= col("ah2")).count()
    assert(diff == 0, "aHash changed under phase inversion")
  }

  test("aHash is exactly invariant under an identity resample") {
    val b = wavs()
    val h0 = Media.aHash64(b).select("media_id", "ahash")
    val hr = Media.aHash64(
        Media.resampleAudio(b, 8000).select("media_id", "payload"))
      .select(col("media_id"), col("ahash").as("ah2"))
    val diff = h0.join(hr, "media_id")
      .filter(col("ahash") =!= col("ah2")).count()
    assert(diff == 0, "aHash changed under identity resample")
  }

  test("aHash distinguishes distinct clips (not a constant fingerprint)") {
    val n = Media.aHash64(wavs()).filter(col("decode_ok"))
      .select("ahash").distinct().count()
    assert(n > 12, s"expected many distinct acoustic fingerprints, got $n")
  }

  test("undecodable media is flagged, not dropped or fatal") {
    val junk = Seq((1L, Array[Byte](9, 9, 9)),
        (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val vf = Media.frameDHash64(junk).collect()
    assert(vf.length == 2 && vf.forall(r => !r.getBoolean(4) && r.getLong(1) == -1L))
    val af = Media.aHash64(junk).collect()
    assert(af.length == 2 && af.forall(!_.getBoolean(2)))
    assert(Media.retimeAvi(junk, 20).filter(col("payload").isNull).count() == 2)
    assert(Media.invertAudio(junk).filter(col("payload").isNull).count() == 2)
  }
}
