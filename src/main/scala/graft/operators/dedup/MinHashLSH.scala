package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → minhash signature → band buckets → bucket equi-join →
  * exact-Jaccard verification of candidates only.
  *
  * Scale design: the only shuffle is the band-bucket self-join; bucket keys
  * are (band index, 64-bit bucket hash), so work distributes evenly unless a
  * bucket is genuinely hot. Oversized buckets (boilerplate shingle sets) are
  * capped — a bucket with more than `maxBucket` docs is dropped, the standard
  * guard against quadratic blowup on 100 TB corpora (those docs are caught by
  * other bands). Hash permutations use xxhash64 re-keying rather than the
  * classic (a*h+b) mod p, which would overflow under ANSI arithmetic.
  */
object MinHashLSH {

  def shingled(docs: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    docs.select(
      col(idCol).cast("long").as("id"),
      expr(
        s"""array_distinct(transform(
           |  sequence(1, greatest(size(split(trim($textCol), '\\\\s+')) - ${shingleSize - 1}, 1)),
           |  i -> concat_ws(' ', slice(split(trim($textCol), '\\\\s+'), i, $shingleSize))))"""
          .stripMargin).as("shingles"))

  /** 64-bit hashes of each shingle, computed once per doc. */
  /** (id, hs) distinct shingle-hash sets — works on batch and streaming
    * DataFrames alike (pure per-row expressions). Uses the fused native
    * tokenizer+shingler (graft.functions.ShingleHashes): one pass over the
    * text bytes, no split arrays or shingle strings materialised.
    */
  def setsOf(docs: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    docs.select(
      col(idCol).cast("long").as("id"),
      array_distinct(
        graft.functions.Sketches.shingleHashes(col(textCol), shingleSize)).as("hs"))

  /** One row per (id, band): bucket = hash of the band's signature slice.
    * Carries any extra columns of `sets` through.
    */
  def bandsOf(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val withSig = sets.withColumn("sig",
      graft.functions.Sketches.minhashSignature(col("hs"), numHashes))
    val bandExprs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"sig[${b * rows + r}]").mkString(", ")
      expr(s"named_struct('band', $b, 'bucket', xxhash64($slice))")
    }
    withSig
      .withColumn("bb", explode(array(bandExprs: _*)))
      .withColumn("band", col("bb.band"))
      .withColumn("bucket", col("bb.bucket"))
      .drop("bb", "sig")
  }

  def candidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    // Shingle-hash sets, computed once and materialised: the signature pass
    // reads them, and the verify step re-joins them for surviving
    // candidates only. Jaccard over the 64-bit shingle hashes equals
    // jaccard over the shingles (collisions negligible), and longs
    // compare ~10x cheaper than strings in array_intersect.
    val (sets, _) = graft.Ckpt.settle(setsOf(docs, idCol, textCol, shingleSize)).head

    // Native codegen'd signature: one fused pass over the shingle hashes
    // computes all k permutation minima (graft.functions.MinHashSignature).
    // The band table carries ONLY (id, band, bucket) — 3 longs — so the
    // explode, the bucket-cap window, and the self-join never shuffle the
    // shingle arrays.
    val exploded = bandsOf(sets, numHashes, bands).select("id", "band", "bucket")

    // Cap runaway buckets (boilerplate shingle sets) before the quadratic
    // join — the standard guard against hot-bucket blowup; capped docs are
    // caught by their other bands.
    val counted = exploded
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("bucket_n") <= maxBucket)

    val l = counted.select(col("band"), col("bucket"), col("id").as("left_id"))
    val r = counted.select(col("band"), col("bucket"), col("id").as("right_id"))
    val cands = l.join(r, Seq("band", "bucket"))
      .filter(col("left_id") < col("right_id"))
      .select("left_id", "right_id")
      .dropDuplicates("left_id", "right_id")

    cands
      .join(sets.select(col("id").as("left_id"), col("hs").as("ls")), "left_id")
      .join(sets.select(col("id").as("right_id"), col("hs").as("rs")), "right_id")
      .withColumn("jaccard",
        expr("""CAST(size(array_intersect(ls, rs)) AS DOUBLE) /
                size(array_union(ls, rs))"""))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }
}
