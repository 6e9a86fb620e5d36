package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 64-bit locality-sensitive fingerprints
  * with banded blocking and Hamming-distance verification.
  *
  * The fingerprint folds token hashes bit-wise: bit b of the simhash is 1
  * when more token hashes have bit b set than unset. Computed entirely with
  * codegen'd array/bit built-ins (no UDF): per-token ±1 votes are summed per
  * bit via a 64-slot counter array folded with `aggregate` + `zip_with`.
  *
  * Blocking: split the 64 bits into `bands` chunks; docs sharing any chunk
  * value are candidates (guarantees recall for hamming <= bands-1); verify
  * with bit_count(xor). The only shuffle is the chunk equi-join.
  */
object SimHash {

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("id"),
      // Fused native tokenize+hash (k=1 shingles = distinct token hashes),
      // then the native codegen'd bit-vote fold — no split arrays, no
      // interpreted lambdas anywhere in the fingerprint path.
      array_distinct(graft.functions.Sketches.shingleHashes(col(textCol), 1)).as("th"))
      .withColumn("simhash", graft.functions.Sketches.simhash64(col("th")))
      .select("id", "simhash")

  def candidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(simhash(docs, idCol, textCol), "id", "simhash",
      bands, maxHamming)

  /** Banded-hamming blocking over ANY 64-bit fingerprint table — the
    * machinery shared by the text SimHash family above and the image
    * dHash near-dup family ([[graft.operators.multimodal.Media.dHash64]]):
    * split the 64 bits into `bands` chunks, equi-join rows sharing any
    * chunk (lossless for hamming ≤ bands − 1 by pigeonhole), verify with
    * `bit_count(xor)` BEFORE the dedup exchange so only true near-dups
    * shuffle again. The only corpus-shaped shuffle is the chunk equi-join.
    */
  /** [[bandedHammingPairs]] with an extra alignment key: only rows that
    * share `keyCol` are candidates (the video near-dup family bands
    * per-FRAME hashes and aligns on frame position, so a clip never
    * compares against more than its band-bucket cohort AT THE SAME
    * position). Emits one row per matched (pair, key); the caller
    * aggregates keys into a pair-level similarity.
    */
  def bandedHammingPairsKeyed(
      hashes: DataFrame, idCol: String, keyCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0)
    val width = 64 / bands
    val sh = hashes.select(
      col(idCol).cast("long").as("id"), col(keyCol).cast("long").as("k"),
      col(hashCol).cast("long").as("h"))
    val chunkExprs = (0 until bands).map { b =>
      expr(s"named_struct('band', $b, 'chunk', shiftrightunsigned(h, ${b * width}) & ${(1L << width) - 1})")
    }
    val (exploded, _) = graft.Ckpt.settle(sh.select(col("id"), col("k"), col("h"),
        explode(array(chunkExprs: _*)).as("c"))
      .select(col("id"), col("k"), col("h"),
        col("c.band").as("band"), col("c.chunk").as("chunk"))).head
    val l = exploded.select(col("k"), col("band"), col("chunk"),
      col("id").as("left_id"), col("h").as("lh"))
    val r = exploded.select(col("k"), col("band"), col("chunk"),
      col("id").as("right_id"), col("h").as("rh"))
    l.join(r, Seq("k", "band", "chunk"))
      .filter(col("left_id") < col("right_id"))
      .withColumn("hamming", expr("bit_count(lh ^ rh)"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("left_id", "right_id", "k")
      .select(col("left_id"), col("right_id"), col("k").as("key"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Incremental member of the banded-hamming family: the near-dup pairs
    * with at least one endpoint in `delta`, against the accumulated
    * `state` ∪ `delta` fingerprint table — the per-trigger update of a
    * streaming dedup maintenance fold. Every pair is discovered EXACTLY
    * once across a fold (at the trigger where its later endpoint
    * arrives): state–state pairs have no delta endpoint and cannot
    * re-emerge, so the union of per-trigger outputs over any batch
    * decomposition is multiset-equal to [[bandedHammingPairs]] on the
    * full table — the claim `st_phash_gate` pins bit-for-bit. Schema and
    * blocking shape match the batch operator (band equi-join, hamming
    * verify before the dedup exchange); per-trigger cost is
    * |delta|·cohort, never |state|².
    */
  def incrementalBandedPairs(
      state: DataFrame, delta: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0)
    val width = 64 / bands
    def prep(df: DataFrame): DataFrame = {
      val sh = df.select(
        col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("h"))
      val chunkExprs = (0 until bands).map { b =>
        expr(s"named_struct('band', $b, 'chunk', shiftrightunsigned(h, ${b * width}) & ${(1L << width) - 1})")
      }
      sh.select(col("id"), col("h"), explode(array(chunkExprs: _*)).as("c"))
        .select(col("id"), col("h"), col("c.band").as("band"),
          col("c.chunk").as("chunk"))
    }
    val (d, _) = graft.Ckpt.settle(prep(delta)).head
    val all = prep(state).unionByName(d)
    d.select(col("band"), col("chunk"), col("id").as("d_id"), col("h").as("dh"))
      .join(all.select(col("band"), col("chunk"), col("id").as("o_id"),
        col("h").as("oh")), Seq("band", "chunk"))
      .filter(col("d_id") =!= col("o_id"))
      .withColumn("hamming", expr("bit_count(dh ^ oh)"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("d_id"), col("o_id")).as("left_id"),
        greatest(col("d_id"), col("o_id")).as("right_id"),
        col("hamming").cast("long").as("hamming"))
      .dropDuplicates("left_id", "right_id")
  }

  def bandedHammingPairs(
      hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0)
    val width = 64 / bands
    val sh = hashes.select(
      col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("h"))

    val chunkExprs = (0 until bands).map { b =>
      expr(s"named_struct('band', $b, 'chunk', shiftrightunsigned(h, ${b * width}) & ${(1L << width) - 1})")
    }
    // Materialised once: both sides of the self-join read the
    // fingerprints instead of recomputing them.
    val (exploded, _) = graft.Ckpt.settle(
      sh.select(col("id"), col("h"), explode(array(chunkExprs: _*)).as("c"))
        .select(col("id"), col("h"), col("c.band").as("band"), col("c.chunk").as("chunk"))).head

    val l = exploded.select(col("band"), col("chunk"), col("id").as("left_id"), col("h").as("lh"))
    val r = exploded.select(col("band"), col("chunk"), col("id").as("right_id"), col("h").as("rh"))
    // hamming verify BEFORE the dedup exchange: bit_count(xor) is a
    // row-local codegen'd filter, so only verified near-dups (a vanishing
    // fraction of raw band collisions) ever shuffle for the multi-band dedup
    l.join(r, Seq("band", "chunk"))
      .filter(col("left_id") < col("right_id"))
      .withColumn("hamming", expr("bit_count(lh ^ rh)"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("left_id", "right_id")
      .select(col("left_id"), col("right_id"), col("hamming").cast("long").as("hamming"))
  }
}
