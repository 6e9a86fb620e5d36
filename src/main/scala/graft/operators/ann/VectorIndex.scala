package graft.operators.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / serve-many persistence for the IVF-PQ index — the
  * compressed-domain sibling of [[GraphIndex]] (FAISS's `IVFx,PQy` index
  * file restated as a warehouse layout). A production deployment encodes
  * the corpus ONCE (a cluster job over 100 TB of embeddings) and every
  * retrieval batch afterwards pays only probe + ADC scan + selective
  * rerank; this object is that split.
  *
  * Storage layout, two halves:
  *   - `codes/` — the bulk index: (cell, neighbor_id, m int codes),
  *     parquet repartitioned by cell so a probe's equi-join reads
  *     co-located inverted lists (bucketBy(cell) on a warehouse
  *     deployment — SkewSpec's shuffle-free-join evidence). m bytes of
  *     payload per vector conceptually: the 32× smaller hot table.
  *   - `coarse/` + `cb/` — the kilobyte model (coarse centroids, residual
  *     codebooks) as long-form (indices, value) parquet; doubles
  *     round-trip parquet bit-exactly, so a reloaded model parameterizes
  *     bit-identical scan plans (spec-pinned: serve-over-loaded-index ≡
  *     inline `Pq.searchIvf` row for row).
  */
object VectorIndex {

  /** Fit + encode + persist to `path` (overwrite). */
  def build(
      targets: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 256,
      numFiles: Int = 8): Unit = {
    val s = targets.sparkSession
    import s.implicits._
    val model = Pq.fitIvf(targets, idCol, vecCol, nlist, m, ksub)
    Pq.encodeIvf(targets, idCol, vecCol, model)
      .repartition(math.max(1, numFiles), col("cell"))
      .write.mode("overwrite").parquet(s"$path/codes")
    model.coarse.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (v, d) => (i, d, v) } }
      .toDF("i", "dim", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    model.cb.zipWithIndex
      .flatMap { case (book, j) =>
        book.zipWithIndex.flatMap { case (c, code) =>
          c.zipWithIndex.map { case (v, d) => (j, code, d, v) } } }
      .toSeq.toDF("sub", "code", "dim", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cb")
  }

  /** Load the model (bounded driver collect — nlist·dim + m·ksub·dsub
    * doubles) and the compressed code table.
    */
  def load(s: SparkSession, path: String): (Pq.IvfPqModel, DataFrame) = {
    val coarseRows = s.read.parquet(s"$path/coarse")
      .select("i", "dim", "v").collect()
    val nlist = coarseRows.map(_.getInt(0)).max + 1
    val dim = coarseRows.map(_.getInt(1)).max + 1
    val coarse = Array.fill(nlist)(new Array[Double](dim))
    coarseRows.foreach(r => coarse(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val coarseSeq: Seq[Seq[Double]] = coarse.toSeq.map(_.toSeq)
    val cbRows = s.read.parquet(s"$path/cb")
      .select("sub", "code", "dim", "v").collect()
    val mSub = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val dsub = cbRows.map(_.getInt(2)).max + 1
    val cb = Array.fill(mSub, ksub)(new Array[Double](dsub))
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    (Pq.IvfPqModel(coarseSeq, cb), s.read.parquet(s"$path/codes"))
  }

  /** Search-only serving over a prebuilt index: probe + ADC scan over the
    * stored inverted lists + exact rerank against `targets` (the
    * full-precision store, read selectively).
    */
  def search(
      queries: DataFrame, path: String, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 6, rerankFactor: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val s = targets.sparkSession
    val (model, compressed) = load(s, path)
    Pq.scanIvf(queries, compressed, targets, idCol, vecCol, model, k,
      nprobe, rerankFactor, excludeSelf)
  }

  // ---- IVF-SQ codec (FAISS `IndexIVFScalarQuantizer` as a layout) -----
  //
  // Second codec in the same index-file-as-warehouse scheme: per-dimension
  // byte codes of cell residuals instead of PQ sub-codes. SQ carries ~4×
  // more bytes per vector than PQ (dim vs m codes) but near-lossless
  // fidelity — the right trade when neighbors sit at moderate cosine
  // (overlap-structured corpora like chunked text BoW, where m=8 PQ
  // distortion reorders the shortlist: PQ 0.70 recall at family params vs
  // SQ 0.985 on the same corpus, measured by dev/RagProbe — removed, see
  // git history at 872a12b) or when scan
  // cost is dominated by the probe, not the payload.

  /** Fit + encode + persist an IVF-SQ index to `path` (overwrite). */
  def buildSq(
      targets: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int = 16, numFiles: Int = 8): Unit = {
    val s = targets.sparkSession
    import s.implicits._
    val model = Sq.fitIvfSq(targets, idCol, vecCol, nlist)
    Sq.encodeIvfSq(targets, idCol, vecCol, model)
      .repartition(math.max(1, numFiles), col("cell"))
      .write.mode("overwrite").parquet(s"$path/codes")
    model.coarse.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (v, d) => (i, d, v) } }
      .toDF("i", "dim", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    model.lo.indices.map(d => (d, model.lo(d), model.span(d)))
      .toDF("dim", "lo", "span")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sq")
  }

  /** Load the SQ model (bounded driver collect — nlist·dim + 2·dim
    * doubles) and the compressed code table.
    */
  def loadSq(s: SparkSession, path: String): (Sq.IvfSqModel, DataFrame) = {
    val coarseRows = s.read.parquet(s"$path/coarse")
      .select("i", "dim", "v").collect()
    val nlist = coarseRows.map(_.getInt(0)).max + 1
    val dim = coarseRows.map(_.getInt(1)).max + 1
    val coarse = Array.fill(nlist)(new Array[Double](dim))
    coarseRows.foreach(r => coarse(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val bRows = s.read.parquet(s"$path/sq").select("dim", "lo", "span").collect()
    val d2 = bRows.map(_.getInt(0)).max + 1
    val lo = new Array[Double](d2)
    val span = new Array[Double](d2)
    bRows.foreach { r => lo(r.getInt(0)) = r.getDouble(1); span(r.getInt(0)) = r.getDouble(2) }
    (Sq.IvfSqModel(coarse.toSeq.map(_.toSeq), lo, span),
      s.read.parquet(s"$path/codes"))
  }

  /** Search-only IVF-SQ serving over a prebuilt index. */
  def searchSq(
      queries: DataFrame, path: String, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 6, rerankFactor: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val s = targets.sparkSession
    val (model, compressed) = loadSq(s, path)
    Sq.scanIvfSq(queries, compressed, targets, idCol, vecCol, model, k,
      nprobe, rerankFactor, excludeSelf)
  }
}
