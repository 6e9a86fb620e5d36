package graft

import graft.operators.dedup.SimHash
import graft.operators.multimodal.Media
import org.apache.spark.sql.functions._

/** Perceptual image near-dup contracts: dHash's exactness properties
  * (invariance under pixel-replication upscales and lossless re-encodes),
  * banded-hamming blocking ≡ brute force at hamming ≤ bands − 1, and
  * flagged (never silent) decode failures.
  */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  private def base() = Media.synthesizePng(
    Tables(spark, sfDir, "documents").orderBy("doc_id").limit(24),
    "doc_id", "text", 16, 16).localCheckpoint(false)

  private def hashesOf(df: org.apache.spark.sql.DataFrame) =
    Media.dHash64(df).select("media_id", "dhash", "decode_ok")

  test("dHash is exactly invariant under pixel-replication upscales") {
    val b = base()
    val h0 = hashesOf(b)
    for (f <- Seq(2, 3)) {
      val hf = hashesOf(Media.scaleNearest(b, f))
      val diff = h0.join(hf.withColumnRenamed("dhash", "dh2"), "media_id")
        .filter(col("dhash") =!= col("dh2")).count()
      assert(diff == 0, s"dHash changed under ${f}x pixel replication")
    }
  }

  test("dHash is exactly invariant under lossless BMP re-encode") {
    val b = base()
    val h0 = hashesOf(b)
    val hb = hashesOf(Media.reencodeImages(b, "bmp"))
    // bytes really changed (different container) while the hash did not
    val sameBytes = b.join(
        Media.reencodeImages(b, "bmp").withColumnRenamed("payload", "p2"),
        "media_id")
      .filter(col("payload") === col("p2")).count()
    assert(sameBytes == 0, "BMP re-encode should produce different bytes")
    val diff = h0.join(hb.withColumnRenamed("dhash", "dh2"), "media_id")
      .filter(col("dhash") =!= col("dh2")).count()
    assert(diff == 0, "dHash changed under lossless re-encode")
  }

  test("banded blocking equals brute-force hamming join at k <= bands - 1") {
    // constructed fingerprints with known pairwise distances: a base hash,
    // variants at hamming 1/2/3 (within threshold) and 4/9 (beyond it),
    // plus unrelated far hashes
    val h0 = 0x0123456789abcdefL
    def flip(h: Long, bits: Seq[Int]) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val rows = Seq(
      1L -> h0,
      2L -> flip(h0, Seq(5)),
      3L -> flip(h0, Seq(17, 40)),
      4L -> flip(h0, Seq(3, 22, 63)),
      5L -> flip(h0, Seq(1, 18, 33, 52)),
      6L -> flip(h0, Seq(0, 7, 21, 29, 35, 44, 50, 58, 62)),
      7L -> ~h0,
      8L -> 0L)
    val df = rows.toDF("id", "h")
    val got = SimHash.bandedHammingPairs(df, "id", "h", bands = 4, maxHamming = 3)
      .select("left_id", "right_id", "hamming")
    val l = df.select(col("id").as("left_id"), col("h").as("lh"))
    val r = df.select(col("id").as("right_id"), col("h").as("rh"))
    val brute = l.join(r, col("left_id") < col("right_id"))
      .withColumn("hamming", expr("CAST(bit_count(lh ^ rh) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("left_id", "right_id", "hamming")
    assert(Gate.sameRows(got, brute),
      "banded pairs must equal the brute hamming join bit-for-bit")
    // the guaranteed-recall pairs are present with exact distances
    val want = Set((1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L))
    val gotSet = got.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(want.subsetOf(gotSet), s"missing planted pairs: ${want.diff(gotSet)}")
    assert(!gotSet.exists { case (a, b, _) => Set(a, b).contains(5L) },
      "hamming-4 pair leaked past the threshold")
  }

  test("undecodable payloads are flagged, not dropped or fatal") {
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val h = Media.dHash64(junk).collect()
    assert(h.length == 2 && h.forall(!_.getBoolean(2)))
  }
}
