package graft.operators.cluster

import graft.functions.Centroids
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed spherical k-means (Lloyd) over an `array<float>` embedding
  * column — the corpus-organisation primitive behind topic bucketing,
  * diversity sampling and cluster-balanced mixture weighting of training
  * corpora.
  *
  * Contrast with [[graft.operators.ann.Ivf]]: the IVF coarse quantizer fits
  * on a bounded driver-side sample (cells only need to partition space);
  * this operator is the full distributed fit — every point votes in every
  * iteration, so it scales to corpora where no sample is representative:
  *
  *  - **assignment** is the native codegen'd
  *    [[graft.functions.NearestCentroids]] — centroids ride along as a flat
  *    `double[]` reference object, one fused loop per row, no shuffle;
  *  - **update** is a `(cell, dim)` groupBy over posexploded coordinates:
  *    map-side partial aggregation collapses each partition to at most
  *    k·dim rows before the exchange, so shuffle volume per iteration is
  *    `partitions · k · dim`, independent of corpus size;
  *  - **inertia** (Σ ||p̂ − c||² at assign time) falls out of the same
  *    aggregate via Σv², Σv and n per cell — no extra pass;
  *  - only `k · dim` aggregate rows ever reach the driver.
  *
  * Points are L2-normalized once up front (spherical k-means; matches the
  * cosine geometry of every other embedding operator here) and the
  * normalized frame is checkpointed so the per-iteration lineage stays one
  * scan. Initial centroids are a deterministic hash-ordered sample — same
  * recipe as Ivf.fitCentroids, so runs are reproducible.
  */
object KMeans {

  /** @param centroids  final centroids (not renormalized — plain Lloyd means
    *                    of the normalized point cloud)
    * @param inertia    Σ ||p̂ − c_assigned||² per iteration, in run order
    * @param assignments (id, cell) under the final centroids
    */
  final case class Fit(
      centroids: Seq[Seq[Double]],
      inertia: Seq[Double],
      assignments: DataFrame)

  def fit(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5): Fit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")

    // Normalize once; all-zero vectors stay zero (NearestCentroids assigns
    // them to the minimum-norm cell deterministically).
    val (pts, _) = graft.Ckpt.settle(points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("n2", expr("aggregate(v, 0D, (a, x) -> a + double(x) * double(x))"))
      .withColumn("nv",
        expr("transform(v, x -> float(double(x) / sqrt(greatest(n2, 1e-300))))"))
      .select("id", "nv")).head

    val init = pts
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    require(init.nonEmpty, "cannot fit k-means on an empty point set")
    val dim = init.head.length
    // fewer points than k: pad by reusing samples (cells may end up empty)
    var centroids: Array[Array[Double]] =
      Array.tabulate(k)(i => init(i % init.length).toArray)

    val inertias = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val cents = centroids.map(_.toSeq).toSeq
      val agg = pts
        .withColumn("cell", element_at(Centroids.nearest(col("nv"), cents, 1), 1))
        .select(col("cell"), posexplode(col("nv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(
          sum(col("x").cast("double")).as("s"),
          sum((col("x") * col("x")).cast("double")).as("s2"),
          count(lit(1)).as("n"))
        .collect()

      val sums = Array.fill(k)(new Array[Double](dim))
      val sq = new Array[Double](k)
      val counts = new Array[Long](k)
      agg.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getDouble(2)
        sq(c) += r.getDouble(3)
        counts(c) = r.getLong(4)
      }
      // inertia against the assign-time centroids:
      //   Σ||p̂ − c||² = Σ|p̂|² − 2·c·S_c + n_c·|c|²
      var inertia = 0.0
      for (c <- 0 until k if counts(c) > 0) {
        val ct = centroids(c)
        var dot = 0.0; var cn2 = 0.0; var i = 0
        while (i < dim) { dot += ct(i) * sums(c)(i); cn2 += ct(i) * ct(i); i += 1 }
        inertia += sq(c) - 2.0 * dot + counts(c) * cn2
      }
      inertias += inertia
      // Lloyd update; empty cells keep their previous centroid
      for (c <- 0 until k if counts(c) > 0; i <- 0 until dim)
        centroids(c)(i) = sums(c)(i) / counts(c)
    }

    val finalCents = centroids.map(_.toSeq).toSeq
    val assigned = pts
      .withColumn("cell",
        element_at(Centroids.nearest(col("nv"), finalCents, 1), 1).cast("long"))
      .select("id", "cell")
    Fit(finalCents, inertias.result(), assigned)
  }
}
