package graft.operators.ann

import graft.functions.Centroids
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) ANN — the third member of the compression
  * family next to [[Pq]] and [[Ivf]] (FAISS `IndexScalarQuantizer`,
  * `QT_8bit` with train-time min/max): each dimension is independently
  * mapped to an unsigned-byte index `floor((x − lo_d) · 255 / span_d)`,
  * so a 64-dim float vector becomes 64 bytes — a 4× smaller scan with far
  * higher fidelity than PQ's 8 byte-codes, and "training" is a single
  * min/max aggregate instead of per-subspace Lloyd.
  *
  * Search scans the compressed table the way FAISS's SQ kernel does:
  * codes are DEQUANTIZED on the fly (`x̃_d = lo_d + (code_d + ½)·span_d /
  * 255` — the bucket midpoint, never the stored floats, which stay in
  * cold storage) and approximate cosine is computed on the
  * reconstruction — per-dimension error ≤ span/510, so the approximate
  * ranking tracks the true one to ~1e-2. The scan over-fetches a
  * `rerankFactor·k` shortlist per query, then exact-reranks only the
  * shortlist against the true float vectors — same contract as
  * [[Pq.search]]'s ADC + rerank. The per-pair fold is a sequential
  * left-to-right double sum (deterministic under any partitioning).
  *
  * 100 TB shape: the fit is one posexplode → per-dimension min/max
  * aggregate (partial aggregation makes the shuffle `partitions × dim`
  * rows, never `n × dim`; a production deployment would fit on a sample
  * shard), the compressed table is built once and persisted (here
  * settled — it IS the index, and the barrier keeps the encode
  * out of the join's per-pair loop), and the scan is a broadcast of the
  * tiny query set against the partitioned code table: the corpus never
  * shuffles. Codes ride as `array<long>` for plan transparency; a
  * warehouse deployment packs them into a 1-byte-per-dim binary column.
  */
object Sq {

  /** Per-dimension (lo, span) fitted over the target corpus. Driver state
    * is 2·dim doubles — a bounded fit in the [[Ivf.fitCentroids]] sense.
    * Degenerate dimensions (constant value) get span 1 so the quantizer
    * maps them to 0 instead of dividing by zero.
    */
  private[ann] def fitBounds(
      targets: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = targets
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .orderBy("pos")
      .collect()
    require(rows.nonEmpty, "cannot fit scalar quantizer on an empty target set")
    val lo = rows.map(_.getDouble(1))
    val span = rows.map(r => math.max(r.getDouble(2) - r.getDouble(1), 1e-12))
    (lo, span)
  }

  /** Quantize a float-array column to byte indices 0..255 (as longs). */
  private def quantize(v: Column, lo: Array[Double], span: Array[Double]): Column = {
    val loC = typedLit(lo)
    val spanC = typedLit(span)
    transform(v, (x, i) =>
      least(lit(255L), greatest(lit(0L),
        floor((x.cast("double") - element_at(loC, i + lit(1))) * lit(255.0)
          / element_at(spanC, i + lit(1))))))
  }

  /** Reconstruct the bucket midpoint from byte indices. */
  private def dequantize(c: Column, lo: Array[Double], span: Array[Double]): Column = {
    val loC = typedLit(lo)
    val spanC = typedLit(span)
    transform(c, (b, i) =>
      element_at(loC, i + lit(1))
        + (b.cast("double") + lit(0.5)) * element_at(spanC, i + lit(1)) / lit(255.0))
  }

  def search(
      queries: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      rerankFactor: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    require(rerankFactor >= 1)
    val (lo, span) = fitBounds(targets, vecCol)

    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    // The compressed table IS the index — built once, searched many times;
    // the checkpoint barrier also keeps the encode out of the broadcast
    // join's per-pair loop (same codegen-deferral hazard Pq documents).
    val (compressed, _) = graft.Ckpt.settle(t
      .select(col("neighbor_id"), quantize(col("te"), lo, span).as("tc"))).head

    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qe"))
    // Queries are the tiny broadcast side — dequantize them once up front
    // (quantize→dequantize, so both sides carry the same reconstruction
    // noise, the symmetric-error regime that keeps ranking unbiased).
    val qd = q.select(col("query_id"),
      dequantize(quantize(col("qe"), lo, span), lo, span).as("qd"))

    // Compressed-domain scan: codes dequantize on the fly, approximate
    // cosine on the reconstruction (FAISS SQ scan kernel shape).
    val approx = compressed
      .withColumn("td", dequantize(col("tc"), lo, span))
      .crossJoin(broadcast(qd))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("asim", expr(Knn.cosineExpr.format("qd", "td", "qd", "td")))
    val candidates = graft.plans.TopK.perKey(
      approx, Seq("query_id"), "asim", k * rerankFactor, tieCols = Seq("neighbor_id"))
      .select("query_id", "neighbor_id")

    val rescored = candidates
      .join(t, "neighbor_id")
      .join(broadcast(q.withColumnRenamed("query_id", "qid")),
        col("qid") === col("query_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("qe"), col("te")))
    Knn.topKPerQuery(rescored, k)
  }

  /** IVF-SQ: the FAISS `IndexIVFScalarQuantizer` composition — the coarse
    * quantizer bounds each query's scan to `nprobe` cells (per-query cost
    * ~N·nprobe/nlist rows) and the cells store byte-coded RESIDUALS
    * (t − centroid(cell); residuals concentrate near zero, so the 256
    * buckets per dimension spend their resolution where the data is —
    * the same argument as [[Pq.searchIvf]]'s residual codebooks, without
    * PQ's subspace training). The scan reconstructs `centroid + dequant
    * (codes)` on the fly and scores the RAW query against it (asymmetric
    * comparison — the query is never quantized here, halving the noise),
    * over-fetches, then exact-reranks against the true vectors.
    */
  def searchIvf(
      queries: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 6, rerankFactor: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val model = fitIvfSq(targets, idCol, vecCol, nlist)
    // inverted lists of byte codes — the persisted index (the barrier is
    // load-bearing: see Pq.search on codegen deferral into join loops)
    val (compressed, _) = graft.Ckpt.settle(encodeIvfSq(targets, idCol, vecCol, model)).head
    scanIvfSq(queries, compressed, targets, idCol, vecCol, model, k,
      nprobe, rerankFactor, excludeSelf)
  }

  /** The kilobyte IVF-SQ model: coarse centroids + per-dimension residual
    * bounds (nlist·dim + 2·dim doubles of driver state).
    */
  final case class IvfSqModel(
      coarse: Seq[Seq[Double]], lo: Array[Double], span: Array[Double])

  private def withResidual(
      df: DataFrame, coarse: Seq[Seq[Double]]): DataFrame = {
    val coarseLit = typedLit(coarse)
    df
      .withColumn("cell", element_at(Centroids.nearest(col("te"), coarse, 1), 1))
      .withColumn("cent", element_at(coarseLit, col("cell") + 1))
      .withColumn("resid",
        zip_with(col("te"), col("cent"), (x, c) => (x.cast("double") - c).cast("float")))
  }

  /** Fit half of [[searchIvf]] — split out (r16) so [[VectorIndex]] can
    * persist the model; expressions unchanged, inline results identical.
    */
  private[graft] def fitIvfSq(
      targets: DataFrame, idCol: String, vecCol: String,
      nlist: Int): IvfSqModel = {
    val coarse = Ivf.fitCentroids(targets, idCol, vecCol, nlist)
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    val (lo, span) = fitBounds(
      withResidual(t, coarse.map(_.toSeq).toSeq)
        .select(col("neighbor_id").as("id"), col("resid")), "resid")
    IvfSqModel(coarse.map(_.toSeq).toSeq, lo, span)
  }

  /** Encode half: (cell, neighbor_id, byte codes) — the inverted lists. */
  private[graft] def encodeIvfSq(
      targets: DataFrame, idCol: String, vecCol: String,
      model: IvfSqModel): DataFrame = {
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    withResidual(t, model.coarse)
      .select(col("cell"), col("neighbor_id"),
        quantize(col("resid"), model.lo, model.span).as("tc"))
  }

  /** Scan half: probe + on-the-fly dequantized approximate scan + exact
    * rerank over a PREBUILT compressed table.
    */
  private[graft] def scanIvfSq(
      queries: DataFrame, compressed: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, model: IvfSqModel, k: Int,
      nprobe: Int = 6, rerankFactor: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerankFactor >= 1)
    val coarseLit = typedLit(model.coarse)
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qe"))
    val probes = q.withColumn("cell",
      explode(Centroids.nearest(col("qe"), model.coarse, nprobe)))

    val approx = probes.join(compressed, "cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("td",
        zip_with(dequantize(col("tc"), model.lo, model.span),
          element_at(coarseLit, col("cell") + 1), (r, c) => r + c))
      .withColumn("asim", expr(Knn.cosineExpr.format("qe", "td", "qe", "td")))
    val candidates = graft.plans.TopK.perKey(
      approx, Seq("query_id"), "asim", k * rerankFactor, tieCols = Seq("neighbor_id"))
      .select("query_id", "neighbor_id")

    val rescored = candidates
      .join(t, "neighbor_id")
      .join(broadcast(q.withColumnRenamed("query_id", "qid")),
        col("qid") === col("query_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("qe"), col("te")))
    Knn.topKPerQuery(rescored, k)
  }
}
