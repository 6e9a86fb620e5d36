package graft.operators.ann

import graft.functions.Centroids
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compressed-domain ANN scan (Jégou et
  * al. 2011, "Product Quantization for Nearest Neighbor Search"; FAISS's
  * default storage format). Vectors split into `m` subspaces; each
  * subspace gets its own `ksub`-centroid codebook (driver-side Lloyd on a
  * deterministic hash-ordered sample, the same device as
  * [[Ivf.fitCentroids]]); a vector's code is its per-subspace nearest
  * centroid — `m` small ints instead of `dim` floats (64-dim float → 8
  * byte-codes here: 32× smaller scan at 100 TB, and the compressed table
  * is what stays hot while raw vectors stay in cold storage).
  *
  * Search scores queries in the COMPRESSED domain via ADC (asymmetric
  * distance computation — cos(q, reconstruction) computed straight from
  * the codes, [[graft.functions.PqAdcImpl]]; nothing is ever decoded),
  * takes an over-fetched candidate top-k from that scan, then
  * exact-reranks only those candidates against the true vectors. Encoding
  * runs on the native codegen'd [[graft.functions.NearestCentroids]] per
  * subspace slice — no interpreted lambda and no per-row allocation
  * anywhere in the scan loop.
  */
object Pq {

  /** Per-subspace codebooks fit on a bounded deterministic sample.
    * @return codebooks(j)(c) = centroid c of subspace j (length dim/m)
    */
  private[graft] def fitCodebooks(
      targets: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, maxSample: Int = 4096, iters: Int = 5,
      seed: Long = 42L): Array[Array[Array[Double]]] = {
    val sample = targets
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(maxSample)
      .select("v")
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot fit codebooks on an empty target set")
    // the codebooks ride with the plan as codegen reference objects (PqLut /
    // PqAdcIvfCosine / NearestCentroids, all via ctx.addReferenceObj — never
    // generated-source literals); bound their size so a misconfigured
    // m×ksub doesn't silently ship a multi-GB table to every task
    require(m.toLong * ksub * (sample.head.length / m) <= (1 << 20),
      s"codebook m=$m ksub=$ksub dim=${sample.head.length} exceeds the reference-object budget")
    val dim = sample.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val rnd = new java.util.Random(seed)
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      val cents = Array.tabulate(ksub)(_ => pts(rnd.nextInt(pts.length)).clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](sub))
        val counts = new Array[Long](ksub)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        for (c <- 0 until ksub if counts(c) > 0; i <- 0 until sub)
          cents(c)(i) = sums(c)(i) / counts(c)
      }
      cents
    }
  }

  /** PQ codes for a vector column: one int per subspace. */
  private def codeCols(vecCol: String, cb: Array[Array[Array[Double]]]): Seq[Column] = {
    val sub = cb.head.head.length
    cb.indices.map { j =>
      element_at(
        Centroids.nearest(
          slice(col(vecCol), j * sub + 1, sub), cb(j).map(_.toSeq).toSeq, 1), 1)
        .as(s"_pq$j")
    }
  }

  /** The m code columns packed as one `array<int>` — the row a 100 TB
    * deployment stores hot (m bytes conceptually; int array here).
    */
  private def codesCol(cb: Array[Array[Array[Double]]]): Column =
    array(cb.indices.map(j => col(s"_pq$j")): _*)

  /** @param rerankFactor over-fetch multiplier for the compressed-domain
    *   candidate top-k before the exact rerank
    * @param excludeSelf as in [[Knn.bruteForce]]
    */
  def search(
      queries: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 256, rerankFactor: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerankFactor >= 1)
    val cb = fitCodebooks(targets, idCol, vecCol, m, ksub)

    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    // the compressed table: id + m codes (what a 100 TB deployment stores hot).
    // Materialise the code table: it IS the index (built once, searched
    // many times — the FAISS lifecycle; at warehouse scale it would be a
    // persisted m-bytes-per-row table). Also load-bearing for the plan:
    // whole-stage codegen DEFERS stream-side expressions that are consumed
    // only above a join into the join's per-build-row loop, so without the
    // barrier the 8x nearest_centroids encode re-runs PER PAIR (measured
    // 4x slower; the pre-ADC formulation was saved only by its `transform`
    // HOF accidentally breaking codegen fusion).
    val (compressed, _) = graft.Ckpt.settle(t
      .select(col("neighbor_id") +: codeCols("te", cb): _*)
      .select(col("neighbor_id"), codesCol(cb).as("codes"))).head

    // ADC scan: codes never decode, nothing per-pair allocates
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qe"))
    val approx = compressed.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("sim", graft.functions.PqAdc.cosineDirect(col("qe"), col("codes"), cb))
    val candidates = graft.plans.TopK.perKey(
      approx, Seq("query_id"), "sim", k * rerankFactor, tieCols = Seq("neighbor_id"))
      .select("query_id", "neighbor_id")

    val rescored = candidates
      .join(t, "neighbor_id")
      .join(broadcast(q.withColumnRenamed("query_id", "qid")), col("qid") === col("query_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("qe"), col("te")))
    Knn.topKPerQuery(rescored, k)
  }

  /** IVF-PQ: the production composition (FAISS `IVFx,PQy`) — the coarse
    * quantizer bounds each query's scan to `nprobe` cells and PQ codes
    * make that scan compressed-domain, so per-query cost is
    * ~N·nprobe/nlist rows of `m` bytes each instead of N rows of `dim`
    * floats. As in FAISS, the codes quantize the coarse RESIDUAL
    * (t − centroid(cell(t))) — residuals concentrate near zero, so the
    * same codebook budget spends its resolution where the data actually
    * is — and the scan-side reconstruction is centroid + decoded
    * residual. Candidates are over-fetched from the probed cells, then
    * exact-reranked against the true vectors.
    */
  def searchIvf(
      queries: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 6,
      m: Int = 8, ksub: Int = 256, rerankFactor: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val model = fitIvf(targets, idCol, vecCol, nlist, m, ksub)
    // materialised index — see Pq.search for why this barrier is
    // load-bearing (codegen defers stream-side encode into join loops)
    val (compressed, _) = graft.Ckpt.settle(encodeIvf(targets, idCol, vecCol, model)).head
    scanIvf(queries, compressed, targets, idCol, vecCol, model, k,
      nprobe, rerankFactor, excludeSelf)
  }

  /** Fitted IVF-PQ model — the driver-resident, kilobyte-scale half of
    * the index (coarse centroids + residual codebooks). The fit is a pure
    * deterministic function of the target table (hash-ordered sample,
    * seeded Lloyd), so a persisted model reloads to bit-identical arrays
    * and the scan plans it parameterizes are bit-identical too — the
    * property [[VectorIndex]]'s round-trip spec pins.
    */
  private[graft] final case class IvfPqModel(
      coarse: Seq[Seq[Double]], cb: Array[Array[Array[Double]]])

  /** residual = te − centroid(cell): codebooks spend their resolution on
    * the coarse residual, where the data actually is (FAISS's IVF-PQ).
    */
  private def withResidual(df: DataFrame, coarse: Seq[Seq[Double]]): DataFrame = {
    val coarseLit = typedLit(coarse.map(_.toSeq))
    df.withColumn("cell", element_at(Centroids.nearest(col("te"), coarse, 1), 1))
      .withColumn("cent", element_at(coarseLit, col("cell") + 1))
      .withColumn("resid",
        zip_with(col("te"), col("cent"), (x, c) => (x.cast("double") - c).cast("float")))
  }

  private[graft] def fitIvf(
      targets: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int): IvfPqModel = {
    val coarse = Ivf.fitCentroids(targets, idCol, vecCol, nlist)
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    // codebooks fit on the residual stream
    val residuals = withResidual(t, coarse).select(col("neighbor_id").as("id"), col("resid"))
    IvfPqModel(coarse, fitCodebooks(residuals, "id", "resid", m, ksub))
  }

  /** Inverted lists of compressed codes — the scan side stores (cell, id,
    * m codes); nothing is ever decoded. This frame IS the bulk index
    * ([[VectorIndex.build]] persists it keyed by cell).
    */
  private[graft] def encodeIvf(
      targets: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel): DataFrame = {
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    withResidual(t, model.coarse)
      .select(col("cell") +: col("neighbor_id") +: codeCols("resid", model.cb): _*)
      .select(col("cell"), col("neighbor_id"), codesCol(model.cb).as("codes"))
  }

  /** The search half over an already-encoded index: probe, ADC-scan,
    * exact-rerank. `targets` supplies only the full-precision vectors for
    * the rerank (the cold store read selectively at scale).
    */
  private[graft] def scanIvf(
      queries: DataFrame, compressed: DataFrame, targets: DataFrame,
      idCol: String, vecCol: String, model: IvfPqModel, k: Int,
      nprobe: Int = 6, rerankFactor: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerankFactor >= 1)
    val coarse = model.coarse
    val cb = model.cb
    val t = targets.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("te"))
    // per-probe precomputation (queries × nprobe rows, the tiny side):
    // the residual-codebook LUT once per query, q·centroid once per probe;
    // the per-pair ADC is then m lookups against the driver-precomputed
    // cross-term and norm tables (see PqAdcImpl.cosineIvf)
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qe"))
      .withColumn("lutq", graft.functions.PqAdc.lut(col("qe"), cb))
    val probes = q
      .withColumn("cell", explode(Centroids.nearest(col("qe"), coarse, nprobe)))
      .withColumn("qcdot",
        graft.functions.PqAdc.centroidDot(col("qe"), col("cell"), coarse))

    val approx = probes.join(compressed, "cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("sim", graft.functions.PqAdc.cosineIvf(
        col("lutq"), col("codes"), col("cell"), col("qcdot"), coarse, cb))
    val candidates = graft.plans.TopK.perKey(
      approx, Seq("query_id"), "sim", k * rerankFactor, tieCols = Seq("neighbor_id"))
      .select("query_id", "neighbor_id")

    val rescored = candidates
      .join(t, "neighbor_id")
      .join(broadcast(q.withColumnRenamed("query_id", "qid")), col("qid") === col("query_id"))
      .withColumn("sim", graft.functions.CosineSimilarity(col("qe"), col("te")))
    Knn.topKPerQuery(rescored, k)
  }
}
