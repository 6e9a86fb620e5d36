package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.ann.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search / approximate-nearest-neighbor family over the
  * `embeddings` table (SURVEY.md §2, "similarity search"): the exact
  * brute-force baseline plus every index family — hyperplane LSH, IVF,
  * PQ/OPQ/IVF-PQ (ADC), SQ/IVF-SQ, and the NN-Descent k-NN graph with
  * batch beam-search serving — each rows-only query paired with an
  * oracle-pinned recall gate against the brute-force truth.
  */
object Ann {

  // ---- similarity search ---------------------------------------------
  private def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Knn.bruteForce(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  private val knnBruteSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |t AS (SELECT vec_id AS neighbor_id, embedding AS te FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |  list_reduce(list_transform(range(1, len(qe) + 1),
      |    i -> CAST(qe[i] AS DOUBLE) * CAST(te[i] AS DOUBLE)), (a, b) -> a + b)
      |  / (sqrt(list_reduce(list_transform(range(1, len(qe) + 1),
      |       i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b))
      |    * sqrt(list_reduce(list_transform(range(1, len(te) + 1),
      |       i -> CAST(te[i] AS DOUBLE) * CAST(te[i] AS DOUBLE)), (a, b) -> a + b))) AS sim
      |  FROM q, t WHERE query_id <> neighbor_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def knnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Pq.search(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** OPQ = PCA rotation ∘ PQ (operators/ann/Opq — the FAISS
    * `OPQMatrix,PQ` stack in its PCA-init form): the rotation is a pure
    * orthonormal map so the exact rerank returns true cosines, while the
    * ADC scan quantizes variance-aligned subspaces. Rows-only (iterative
    * Lloyd inside); the recall floor vs brute force is the gate — held to
    * PQ's own floor on the same corpus, the ≥-composition contract.
    */
  private def knnOpq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Opq.search(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** NN-Descent k-NN graph (operators/ann/NnDescent — the graph-ANN
    * family member: the cluster-scale construction job under HNSW-style
    * serving indexes). Builds the k=10 graph over the corpus by iterated
    * capped wedge joins, then reports the top-5 graph neighbors of the
    * query slice in the family's standard shape. Rows-only (iterative,
    * hash-seeded); the recall floor vs brute force is the gate.
    */
  private def knnGraphNnd(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val g = graft.operators.ann.NnDescent.knnGraph(
      emb, "vec_id", "embedding", k = 10, iters = 4, cap0 = 40)
    graft.plans.TopK.perKey(g.filter(col("id") < 10), Seq("id"), "sim", 5,
        tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"),
        col("rank"), round(col("sim"), 6).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** Beam search over the NN-Descent graph (the serving half of graph
    * ANN, batch-restated as joins — `NnDescent.searchGraph`). Build +
    * search in one plan, like every index family here. Rows-only; the
    * recall gate is the pin.
    */
  private def knnGraphSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val g = graft.operators.ann.NnDescent.knnGraph(
      emb, "vec_id", "embedding", k = 10, iters = 4, cap0 = 40)
    graft.operators.ann.NnDescent.searchGraph(
      emb.filter(col("vec_id") < 10), g, emb, "vec_id", "embedding",
      k = 5, beam = 20, hops = 4, seeds = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  private def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Pq.searchIvf(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  private def knnSq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Sq.search(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  private def knnIvfSq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Sq.searchIvf(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  private def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.Ivf.search(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5,
      nprobe = 6)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** 12 hash tables: these synthetic embeddings are uniform-random — the LSH
    * worst case (top-5 neighbor cosine ~0.6 → per-table hit rate p^6 ≈ 5%),
    * so recall is bought with tables, not planes. Measured recall ~0.45
    * here; a real embedding corpus (neighbor sims 0.9+) clears 0.95 with the
    * same config.
    */
  private def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Knn.lsh(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5,
      tables = 12)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** Driver-gated recall check for the approximate kNN paths: recall of the
    * approximate top-5 against the exact brute-force top-5, as a one-row
    * boolean the DuckDB oracle pins to `true`. This turns the ScalaTest-only
    * recall evidence into a hard per-round gate: if recall drops below the
    * floor, the hash comparison fails the round. (The recall *value* itself
    * is Spark-vs-Spark and has no SQL twin; the boolean does.)
    *
    * The `regime` column promotes the r14 two-regime protocol
    * (BASELINE.md "Graph-ANN recall at 100×") from evidence to contract:
    * the gate derives the corpus regime from the brute-force truth itself
    * — mean top-1 cosine ≥ 0.8 means the queries have near-duplicate
    * neighbors (the real-embedding "clustered" regime, where every family
    * measures ~1.0), below it the truth is uniform-noise maxima (the
    * adversarial "uniform" regime the per-family floors are tuned for) —
    * and applies that regime's floor. The oracle pins regime='uniform' at
    * the driver sfs, so a future testdata/replica change that flips the
    * corpus geometry fails the hash compare LOUDLY instead of silently
    * grading every family against an adversarial lower bound (the exact
    * failure mode dev/NOTES.md r14 documents).
    */
  private def knnRecallGate(
      approx: (SparkSession, String) => DataFrame, minRecall: Double,
      minRecallClustered: Double = 0.9)(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bruteTop = knnBrute(s, dir).localCheckpoint(false)
    val brute = bruteTop.select("query_id", "neighbor_id")
    val top1 = bruteTop.filter(col("rank") === 1)
      .agg(avg("sim_r")).head().getDouble(0)
    val clustered = top1 >= 0.8
    val regime = if (clustered) "clustered" else "uniform"
    val floor = if (clustered) minRecallClustered else minRecall
    val found = approx(s, dir).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val nHit = brute.join(found, Seq("query_id", "neighbor_id"), "left_semi").count()
    Seq((nBrute, regime, nHit.toDouble / nBrute >= floor))
      .toDF("n_brute", "regime", "recall_ok")
  }

  /** Oracle twin: brute-force truth size is 5 per query (any corpus bigger
    * than 6 vectors), the driver corpora are uniform-random (regime pinned
    * — see the gate doc), and the recall flag must come back true.
    */
  private val knnRecallGateSql =
    """SELECT CAST(5 * count(*) AS BIGINT) AS n_brute, 'uniform' AS regime,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  // ---- persisted serving index (build-once / serve-many) --------------

  private val cleanupPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit = {
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      cleanupPaths.asScala.foreach { p =>
        try java.nio.file.Files.walk(java.nio.file.Paths.get(p))
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        catch { case _: Throwable => () }
      }
    }
    ()
  }

  /** One persisted graph index per sf per JVM (built on first demand,
    * whichever of the index/serve queries runs first — bench's sorted
    * order makes that dx_knn_graph_index, so the serve query's wall is
    * search-only). Deleted recursively at JVM exit, like the Sources
    * scratch dirs.
    */
  private val builtIndexes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Always (re)builds into the sf's session index path — the BUILD query
    * must pay construction on every invocation (a min-of-2 bench remeasure
    * that silently reused the first run's artifact would publish a
    * near-zero wall for the registry's build row).
    */
  private def rebuildGraphIndex(s: SparkSession, dir: String): String = {
    val path = builtIndexes.getOrElseUpdate(s"$dir#graph", {
      cleanupHook
      val tmp = java.nio.file.Files.createTempDirectory("graft_annidx").toString
      cleanupPaths.add(tmp)
      s"$tmp/graph"
    })
    graft.operators.ann.GraphIndex.build(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", k = 10,
      path = path, iters = 4, numFiles = 8)
    path
  }

  /** Build-if-absent — the SERVE queries read whatever index exists and
    * only pay construction when nothing built one yet (standalone runs).
    */
  /** Existence goes through the Hadoop FileSystem of the path (not
    * java.io.File) so the session-index lifecycle holds when the index
    * root is hdfs://... or s3a://... on a real deployment — same class of
    * fix as the binaryGate write path (`Sources.scala`, r14 ADVICE).
    */
  private def indexExists(s: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def ensureGraphIndex(s: SparkSession, dir: String): String = {
    val path = builtIndexes.get(s"$dir#graph")
      .filter(p => indexExists(s, p))
    path.getOrElse(rebuildGraphIndex(s, dir))
  }

  /** Same session-index lifecycle for the IVF-PQ split: the BUILD query
    * always pays construction, the serve queries reuse.
    */
  private def rebuildVecIndex(s: SparkSession, dir: String): String = {
    val path = builtIndexes.getOrElseUpdate(s"$dir#ivfpq", {
      cleanupHook
      val tmp = java.nio.file.Files.createTempDirectory("graft_vecidx").toString
      cleanupPaths.add(tmp)
      s"$tmp/ivfpq"
    })
    graft.operators.ann.VectorIndex.build(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", path,
      numFiles = 8)
    path
  }

  private def ensureVecIndex(s: SparkSession, dir: String): String =
    builtIndexes.get(s"$dir#ivfpq")
      .filter(p => indexExists(s, p))
      .getOrElse(rebuildVecIndex(s, dir))

  /** Index-construction query — the build half of the serving split
    * ([[graft.operators.ann.GraphIndex]]): builds the NN-Descent graph +
    * hub long-links and persists it keyed by node id; emits the coverage
    * contract the oracle can pin (every corpus vector owns a base edge
    * list in the stored index).
    */
  private def knnGraphIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = graft.operators.ann.GraphIndex.load(s, rebuildGraphIndex(s, dir))
    val nIds = g.filter(!col("long")).select("id").distinct().count()
    val n = Tables(s, dir, "embeddings").count()
    Seq((nIds, nIds == n)).toDF("n_nodes", "covered")
  }

  private val knnGraphIndexSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(1 AS BOOLEAN) AS covered
      |FROM embeddings""".stripMargin

  /** Search-only serving query: beam search over the PREBUILT persisted
    * index (no inline graph construction — the cost a production
    * retrieval batch actually pays). Long-linked hubs cut the hop count:
    * hops=3/beam=32 here measures 1.0 recall at sf0.1 where the flat
    * inline graph needs hops=4 for 0.98 (each hop is three shuffles;
    * hops=2 bottoms at 0.64-0.70 on the uniform regime — noise maxima
    * leave routing no gradient, so the last hop can't be bought with
    * links). Rows-only; the recall gate is the pin.
    */
  private def knnGraphServe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val g = graft.operators.ann.GraphIndex.load(s, ensureGraphIndex(s, dir))
    graft.operators.ann.NnDescent.searchGraph(
      emb.filter(col("vec_id") < 10), g, emb, "vec_id", "embedding",
      k = 5, beam = 32, hops = 3, seeds = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** Incremental index maintenance ([[NnDescent.addVectors]]): build the
    * graph over the corpus MINUS a 20% delta slice, then fold the delta
    * in incrementally (beam-seeded inserts + localized descent) and
    * report the family-standard top-5 over the refreshed graph. The
    * recall gate checks the result against brute force on the FULL
    * corpus — the incremental ≡ rebuilt contract, same recipe as
    * `mb_components_incremental`. Rows-only (iterative, hash-seeded).
    */
  private def knnGraphIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ann.NnDescent
    val emb = Tables(s, dir, "embeddings")
    val delta = emb.filter(col("vec_id") % 5 === 3)
    val base = emb.filter(col("vec_id") % 5 =!= 3)
    val g0 = NnDescent.knnGraph(base, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40)
    val g = NnDescent.addVectors(g0, base, delta, "vec_id", "embedding",
      k = 10, iters = 2, cap0 = 40)
    graft.plans.TopK.perKey(g.filter(col("id") < 10), Seq("id"), "sim", 5,
        tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"),
        col("rank"), round(col("sim"), 6).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** Deletion half of incremental maintenance ([[NnDescent.removeVectors]]
    * — FreshDiskANN's tombstone + bridge-repair rule): build the graph
    * over the FULL corpus, delete a 20% slice, repair, and report the
    * family-standard top-5 over the reduced graph for the surviving
    * query slice. Rows-only; the reduced-corpus recall gate is the pin.
    */
  private def knnGraphDel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ann.NnDescent
    val emb = Tables(s, dir, "embeddings")
    val g0 = NnDescent.knnGraph(emb, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40)
    val g = NnDescent.removeVectors(g0, emb,
      emb.filter(col("vec_id") % 5 === 2).select("vec_id"),
      "vec_id", "embedding", k = 10, iters = 2, cap0 = 40)
    graft.plans.TopK.perKey(g.filter(col("id") < 10), Seq("id"), "sim", 5,
        tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"),
        col("rank"), round(col("sim"), 6).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** Reduced-corpus recall gate for the deletion path: brute-force truth
    * recomputed over corpus ∖ removed (the post-delete contract — a
    * deleted vector must neither be returned nor considered truth), same
    * regime derivation and per-regime floors as [[knnRecallGate]].
    */
  private def knnGraphDelGate(minRecall: Double,
      minRecallClustered: Double = 0.9)(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val kept = emb.filter(col("vec_id") % 5 =!= 2)
    val bruteTop = Knn.bruteForce(kept.filter(col("vec_id") < 10), kept,
        "vec_id", "embedding", k = 5)
      .localCheckpoint(false)
    val brute = bruteTop.select("query_id", "neighbor_id")
    val top1 = bruteTop.filter(col("rank") === 1)
      .agg(avg(round(col("sim"), 6))).head().getDouble(0)
    val clustered = top1 >= 0.8
    val regime = if (clustered) "clustered" else "uniform"
    val floor = if (clustered) minRecallClustered else minRecall
    val found = knnGraphDel(s, dir).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val nHit = brute.join(found, Seq("query_id", "neighbor_id"), "left_semi").count()
    Seq((nBrute, regime, nHit.toDouble / nBrute >= floor))
      .toDF("n_brute", "regime", "recall_ok")
  }

  private val knnGraphDelGateSql =
    """SELECT CAST(5 * count(*) AS BIGINT) AS n_brute, 'uniform' AS regime,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings WHERE vec_id < 10 AND vec_id % 5 <> 2""".stripMargin

  /** IVF-PQ index-construction query — the build half of the
    * compressed-domain serving split ([[graft.operators.ann.VectorIndex]]:
    * FAISS's index file as a warehouse layout — coarse centroids +
    * residual codebooks as a kilobyte model, inverted code lists keyed by
    * cell). Emits the oracle-pinned coverage contract: every corpus
    * vector owns exactly one m-code row in the stored index.
    */
  private def knnIvfPqIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, codes) = graft.operators.ann.VectorIndex.load(
      s, rebuildVecIndex(s, dir))
    // Expected code length comes from the LOADED model (m = number of
    // codebooks), not a literal — so a future m change keeps this gate
    // testing coverage, not an accidental constant (r15 ADVICE).
    val nCodes = codes.filter(size(col("codes")) === model.cb.length)
      .select("neighbor_id").distinct().count()
    val n = Tables(s, dir, "embeddings").count()
    Seq((nCodes, nCodes == n)).toDF("n_codes", "covered")
  }

  private val knnIvfPqIndexSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_codes,
      |  CAST(1 AS BOOLEAN) AS covered
      |FROM embeddings""".stripMargin

  /** Search-only IVF-PQ serving: probe + ADC scan over the PREBUILT
    * persisted inverted lists + exact rerank — the cost a production
    * compressed-domain retrieval batch pays (the model is kilobytes
    * loaded driver-side; the hot scan reads m-code rows, 32× smaller
    * than the raw vectors). Rows-only; the recall gate is the pin, floor
    * shared with the inline `dx_knn_ivfpq` family member.
    */
  private def knnIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.VectorIndex.search(
        emb.filter(col("vec_id") < 10), ensureVecIndex(s, dir), emb,
        "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** Session-index lifecycle for the IVF-SQ codec (r16 — the second
    * [[graft.operators.ann.VectorIndex]] codec): build always pays,
    * serve reuses.
    */
  private def rebuildSqIndex(s: SparkSession, dir: String): String = {
    val path = builtIndexes.getOrElseUpdate(s"$dir#ivfsq", {
      cleanupHook
      val tmp = java.nio.file.Files.createTempDirectory("graft_sqidx").toString
      cleanupPaths.add(tmp)
      s"$tmp/ivfsq"
    })
    graft.operators.ann.VectorIndex.buildSq(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", path,
      numFiles = 8)
    path
  }

  private def ensureSqIndex(s: SparkSession, dir: String): String =
    builtIndexes.get(s"$dir#ivfsq")
      .filter(p => indexExists(s, p))
      .getOrElse(rebuildSqIndex(s, dir))

  /** IVF-SQ index-construction query — coverage contract like
    * `dx_knn_ivfpq_index`: every corpus vector owns exactly one
    * dim-length code row in the stored inverted lists (code length from
    * the LOADED model's bounds, never a literal).
    */
  private def knnIvfSqIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, codes) = graft.operators.ann.VectorIndex.loadSq(
      s, rebuildSqIndex(s, dir))
    val nCodes = codes.filter(size(col("tc")) === model.lo.length)
      .select("neighbor_id").distinct().count()
    val n = Tables(s, dir, "embeddings").count()
    Seq((nCodes, nCodes == n)).toDF("n_codes", "covered")
  }

  private val knnIvfSqIndexSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_codes,
      |  CAST(1 AS BOOLEAN) AS covered
      |FROM embeddings""".stripMargin

  /** Search-only IVF-SQ serving over the prebuilt persisted inverted
    * lists — rows-only; the recall gate (inline family floor) is the pin.
    */
  private def knnIvfSqServe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.operators.ann.VectorIndex.searchSq(
        emb.filter(col("vec_id") < 10), ensureSqIndex(s, dir), emb,
        "vec_id", "embedding", k = 5)
      .withColumn("sim_r", round(col("sim"), 6))
      .drop("sim")
      .orderBy("query_id", "rank")
  }

  /** Streaming-serving gate for the compressed index
    * ([[graft.streaming.Streams.vecServeStream]]'s batch twin, the
    * `st_ann_serve_gate` recipe on the IVF-SQ codec): the same persisted
    * index served once over the full query set and once as three
    * disjoint micro-batches — union must be BIT-IDENTICAL (every
    * probe/scan/rerank stage keyed by query id). StreamingSpec drives
    * the same equality through a real MemoryStream + foreachBatch.
    */
  private def vecServeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val path = ensureSqIndex(s, dir)
    val queries = emb.filter(col("vec_id") < 12)
    def serve(qs: DataFrame): DataFrame =
      graft.operators.ann.VectorIndex.searchSq(
          qs, path, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim"), 9).as("s"))
    val full = serve(queries).localCheckpoint(false)
    val micro = (0 until 3)
      .map(i => serve(queries.filter(col("vec_id") % 3 === i)))
      .reduce(_ unionByName _)
      .localCheckpoint(false)
    val equal = micro.exceptAll(full).count() == 0 &&
      full.exceptAll(micro).count() == 0
    Seq((queries.count(), equal)).toDF("n_queries", "batch_equal_ok")
  }

  private val vecServeGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok
      |FROM embeddings WHERE vec_id < 12""".stripMargin

  // ---- composed retrieval flagship (dx_rag_e2e) -----------------------

  /** Chunk stage of the retrieval flagship — the `dx_chunk` window/stride
    * recipe (32-token windows advancing by 16), keeping chunk TEXT for
    * the encoder and packing (doc_id, chunk_no) into one serving id
    * (doc_id·1024 + chunk_no, overflow-guarded per row).
    */
  private def ragChunks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_chunks",
        expr("IF(n <= 32, 1L, 1L + (n - 32 + 15) DIV 16)"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_no"))
      .withColumn("ctext", expr(
        """IF(chunk_no < 1024,
          |  concat_ws(' ', slice(toks, CAST(chunk_no * 16 + 1 AS INT),
          |    CAST(least(32L, n - chunk_no * 16) AS INT))),
          |  raise_error('rag chunk_no overflows the cid encoding'))""".stripMargin))
      .select((col("doc_id") * 1024L + col("chunk_no")).as("cid"),
        col("ctext"))

  /** Chunk embeddings via the deterministic hashing-trick encoder
    * ([[graft.operators.embed.HashEmbed]]), with the embedding-QC
    * contract enforced BEFORE anything downstream sees the vectors (the
    * `dx_embedding_qc` discipline: an index built over NaN/zero/ragged
    * vectors fails silently at query time, so the pipeline refuses
    * loudly here instead).
    */
  private def ragEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.operators.embed.HashEmbed
      .embed(ragChunks(s, dir), "cid", "ctext", dim = 64)
      .localCheckpoint(false)
    val qc = emb.select(
        expr("CAST(size(embedding) AS BIGINT)").as("dim"),
        expr("exists(embedding, x -> isnan(x))").as("has_nan"),
        expr("""aggregate(embedding, 0D,
               | (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""".stripMargin)
          .as("norm2"))
      .agg(countDistinct("dim").as("nd"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("nn"),
        sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("nz"))
      .head()
    require(qc.getLong(0) == 1 && qc.getLong(1) == 0 && qc.getLong(2) == 0,
      s"rag embedding QC failed: dims=${qc.getLong(0)} nan=${qc.getLong(1)} zero=${qc.getLong(2)}")
    emb
  }

  private def rebuildRagIndex(s: SparkSession, dir: String): String =
    rebuildRagIndexFrom(ragEmbeddings(s, dir), s, dir)

  /** Build from an already-computed (checkpointed) embedding frame so the
    * flagship's single run never chunks + embeds the corpus twice.
    */
  private def rebuildRagIndexFrom(
      emb: DataFrame, s: SparkSession, dir: String): String = {
    val path = builtIndexes.getOrElseUpdate(s"$dir#rag", {
      cleanupHook
      val tmp = java.nio.file.Files.createTempDirectory("graft_ragidx").toString
      cleanupPaths.add(tmp)
      s"$tmp/rag"
    })
    // IVF-SQ, not the graph index and not IVF-PQ — the codec choice IS
    // part of what this flagship documents. The graph index's NN-Descent
    // build is corpus-quadratic-in-cap work (measured 21-32 s at sf0.1
    // for this 5×-the-embeddings-table chunk corpus; right where build
    // cost amortizes over heavy serving, and billed separately by the
    // dx_knn_graph family), while an IVF build is a sampled driver fit +
    // one map-only encode pass (~2 s here). Between the compressed
    // codecs, chunk-BoW neighbors sit at cosine ~0.78-0.82 (overlap
    // structure, not near-duplicates) and m=8 PQ distortion reorders
    // that shortlist badly — PQ 0.70-0.86 recall vs SQ 0.96-0.985 at
    // family params on the same corpus, measured by dev/RagProbe (removed;
    // see git history at 872a12b) — so the near-lossless per-dimension
    // codec wins at 4× the code bytes.
    graft.operators.ann.VectorIndex.buildSq(
      emb, "id", "embedding", path, numFiles = 4)
    path
  }

  private def ensureRagIndex(s: SparkSession, dir: String): String =
    builtIndexes.get(s"$dir#rag")
      .filter(p => indexExists(s, p))
      .getOrElse(rebuildRagIndex(s, dir))

  private def ragServe(emb: DataFrame, path: String): DataFrame =
    // nprobe 10 (vs the family's 6): 0.96/0.985 recall at sf0.01/sf0.1,
    // measured by dev/RagProbe (removed; see git history at 872a12b) —
    // comfortable headroom over the 0.9 clustered floor the gate enforces
    graft.operators.ann.VectorIndex.searchSq(
      emb.filter(col("id") < 5 * 1024L), path, emb, "id", "embedding",
      k = 5, nprobe = 10)

  /** Composed retrieval flagship — the retrieval-side twin of
    * `dx_corpus_e2e` / `mb_pipeline_e2e`, chaining the proven stages a
    * reference user actually ships as ONE query: chunk (`dx_chunk`
    * recipe) → deterministic encoder ([[graft.operators.embed.HashEmbed]]
    * — the neural-encoder slot) → embedding QC (`dx_embedding_qc`
    * contract, loud refusal) → build + PERSIST the serving index
    * ([[graft.operators.ann.VectorIndex]] IVF-SQ codec — see
    * `rebuildRagIndex` for the measured codec trade; rebuilt every run:
    * the flagship bills the whole pipeline) → serve the query batch (all chunks of
    * docs 0-4) → per-document retrieval census: how many of a query
    * doc's retrieved chunk neighbors come from the same document vs
    * elsewhere, and from how many distinct source docs. Rows-only (the
    * serve stage is approximate); `dx_rag_e2e_gate` pins chunk/query
    * cardinalities to the oracle and the serve recall to the family
    * floor.
    */
  private def ragE2e(s: SparkSession, dir: String): DataFrame = {
    val emb = ragEmbeddings(s, dir)
    ragServe(emb, rebuildRagIndexFrom(emb, s, dir))
      .withColumn("qdoc", expr("query_id DIV 1024"))
      .withColumn("same_doc",
        expr("IF(neighbor_id DIV 1024 = query_id DIV 1024, 1L, 0L)"))
      .groupBy(col("qdoc").as("doc_id"))
      .agg(countDistinct("query_id").as("n_chunks_queried"),
        count(lit(1)).as("n_retrieved"),
        sum("same_doc").as("n_same_doc"),
        countDistinct(expr("neighbor_id DIV 1024")).as("n_src_docs"))
      .orderBy("doc_id")
  }

  /** Gate for the flagship: chunk/query cardinalities recomputed by the
    * oracle from `documents` (so a chunking drift fails the hash), serve
    * recall vs brute force over the SAME derived chunk embeddings held
    * to the family floor, with the standard regime derivation (overlapping
    * and duplicated chunks make this corpus clustered — near-identical
    * bag-of-words neighbors — which the oracle pins).
    */
  private def ragGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = ragEmbeddings(s, dir)
    val queries = emb.filter(col("id") < 5 * 1024L)
    val bruteTop = Knn.bruteForce(queries, emb, "id", "embedding", k = 5)
      .localCheckpoint(false)
    val brute = bruteTop.select("query_id", "neighbor_id")
    val top1 = bruteTop.filter(col("rank") === 1)
      .agg(avg(round(col("sim"), 6))).head().getDouble(0)
    val clustered = top1 >= 0.8
    val regime = if (clustered) "clustered" else "uniform"
    val floor = if (clustered) 0.9 else 0.7
    val served = ragServe(emb, ensureRagIndex(s, dir))
      .select("query_id", "neighbor_id")
    val nChunks = emb.count()
    val nQueries = queries.select("id").distinct().count()
    val nBrute = brute.count()
    val nHit = brute.join(served, Seq("query_id", "neighbor_id"), "left_semi").count()
    Seq((nChunks, nQueries, regime, nHit.toDouble / nBrute >= floor))
      .toDF("n_chunks", "n_queries", "regime", "recall_ok")
  }

  private val ragGateSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 15) // 16 END AS nc
      |  FROM d)
      |SELECT CAST(sum(nc) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN doc_id < 5 THEN nc ELSE 0 END) AS BIGINT) AS n_queries,
      |  'clustered' AS regime,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM c""".stripMargin

  /** Streaming-serving gate ([[graft.streaming.Streams.annServeStream]]'s
    * batch twin): the same beam search over the same persisted index, run
    * once over the full query set and once as three disjoint micro-batches
    * — the union of micro-batch outputs must be BIT-IDENTICAL to the batch
    * answer (multiset equality via exceptAll both ways, executor-side).
    * This is the property that makes foreachBatch serving correct: every
    * stage of searchGraph is keyed by query id, so micro-batching is
    * value-neutral. The recall of the serve path itself is pinned
    * separately by `dx_knn_graph_serve_recall`; this gate pins the
    * STREAMING contract. StreamingSpec drives the same equality through a
    * real MemoryStream + foreachBatch.
    */
  private def annServeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val g = graft.operators.ann.GraphIndex.load(s, ensureGraphIndex(s, dir))
    val queries = emb.filter(col("vec_id") < 12)
    def serve(qs: DataFrame): DataFrame =
      graft.operators.ann.NnDescent.searchGraph(
          qs, g, emb, "vec_id", "embedding", k = 5, beam = 32, hops = 3,
          seeds = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim"), 9).as("s"))
    val full = serve(queries).localCheckpoint(false)
    val micro = (0 until 3)
      .map(i => serve(queries.filter(col("vec_id") % 3 === i)))
      .reduce(_ unionByName _)
      .localCheckpoint(false)
    val equal = micro.exceptAll(full).count() == 0 &&
      full.exceptAll(micro).count() == 0
    Seq((queries.count(), equal)).toDF("n_queries", "batch_equal_ok")
  }

  private val annServeGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS batch_equal_ok
      |FROM embeddings WHERE vec_id < 12""".stripMargin

  /** Streaming index-MAINTENANCE gate (r17 verdict #5 — the last spec-only
    * streaming surface promoted to a registered oracle row, the
    * `st_golden_apply_gate` recipe on ANN state): build the NN-Descent
    * graph over 80% of the corpus, then fold TWO disjoint delta
    * micro-batches through [[graft.operators.ann.NnDescent.addVectors]]
    * (beam-seeded inserts + delta-localized descent — exactly the
    * per-trigger state update StreamingSpec drives through a real
    * MemoryStream + foreachBatch). The oracle pins the invariants: every
    * union-corpus vector owns an edge list after the folds (coverage =
    * n_vectors), and the maintained graph's top-5 still meets the
    * family's per-regime recall floor vs brute force recomputed on the
    * FULL union — incremental maintenance ≡ rebuild, after ≥ 2 folds.
    */
  private def annMaintainGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.ann.NnDescent
    val emb = Tables(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 5 =!= 3)
    val deltas = Seq(
      emb.filter(col("vec_id") % 5 === 3 && col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 5 === 3 && col("vec_id") % 2 === 1))
    var g = NnDescent.knnGraph(base, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40).localCheckpoint(false)
    var known = base.select(col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    deltas.foreach { d =>
      g = NnDescent.addVectors(g, known, d, "vec_id", "embedding",
        k = 10, iters = 2, cap0 = 40).localCheckpoint(false)
      known = known.unionByName(d.select(col("vec_id"), col("embedding")))
        .localCheckpoint(false)
    }
    val n = emb.count()
    val covered = g.select("id").distinct().count()
    val bruteTop = Knn.bruteForce(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
      .localCheckpoint(false)
    val top1 = bruteTop.filter(col("rank") === 1)
      .agg(avg(round(col("sim"), 6))).head().getDouble(0)
    val clustered = top1 >= 0.8
    val regime = if (clustered) "clustered" else "uniform"
    val floor = if (clustered) 0.9 else 0.7
    val brute = bruteTop.select("query_id", "neighbor_id")
    val got = graft.plans.TopK.perKey(g.filter(col("id") < 10), Seq("id"),
        "sim", 5, tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"))
    val nBrute = brute.count()
    val nHit = brute.join(got, Seq("query_id", "neighbor_id"), "left_semi").count()
    Seq((n, covered == n, regime, nHit.toDouble / nBrute >= floor))
      .toDF("n_vectors", "covered", "regime", "recall_ok")
  }

  private val annMaintainGateSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(1 AS BOOLEAN) AS covered, 'uniform' AS regime,
      |  CAST(1 AS BOOLEAN) AS recall_ok
      |FROM embeddings""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dx_knn_brute", knnBrute, Some(knnBruteSql)),
    QueryDef("dx_knn_lsh", knnLsh, None),
    QueryDef("dx_knn_ivf", knnIvf, None),
    QueryDef("dx_knn_lsh_recall", knnRecallGate(knnLsh, 0.3), Some(knnRecallGateSql)),
    QueryDef("dx_knn_ivf_recall", knnRecallGate(knnIvf, 0.6), Some(knnRecallGateSql)),
    QueryDef("dx_knn_pq", knnPq, None),
    QueryDef("dx_knn_pq_recall", knnRecallGate(knnPq, 0.6), Some(knnRecallGateSql)),
    QueryDef("dx_knn_opq", knnOpq, None),
    QueryDef("dx_knn_opq_recall", knnRecallGate(knnOpq, 0.6), Some(knnRecallGateSql)),
    QueryDef("dx_knn_graph", knnGraphNnd, None),
    QueryDef("dx_knn_graph_recall", knnRecallGate(knnGraphNnd, 0.7), Some(knnRecallGateSql)),
    QueryDef("dx_knn_graph_search", knnGraphSearch, None),
    QueryDef("dx_knn_graph_search_recall", knnRecallGate(knnGraphSearch, 0.7), Some(knnRecallGateSql)),
    QueryDef("dx_knn_graph_index", knnGraphIndex, Some(knnGraphIndexSql)),
    QueryDef("dx_knn_graph_serve", knnGraphServe, None, warm = true),
    QueryDef("dx_knn_graph_serve_recall", knnRecallGate(knnGraphServe, 0.7), Some(knnRecallGateSql), warm = true),
    QueryDef("dx_knn_graph_incr", knnGraphIncr, None),
    QueryDef("dx_knn_graph_del", knnGraphDel, None),
    QueryDef("dx_knn_graph_del_recall", knnGraphDelGate(0.7), Some(knnGraphDelGateSql)),
    QueryDef("st_ann_serve_gate", annServeGate, Some(annServeGateSql), warm = true),
    QueryDef("st_ann_maintain_gate", annMaintainGate, Some(annMaintainGateSql)),
    QueryDef("dx_knn_graph_incr_recall", knnRecallGate(knnGraphIncr, 0.7), Some(knnRecallGateSql)),
    QueryDef("dx_knn_sq", knnSq, None),
    QueryDef("dx_knn_sq_recall", knnRecallGate(knnSq, 0.9), Some(knnRecallGateSql)),
    QueryDef("dx_knn_ivfsq", knnIvfSq, None),
    QueryDef("dx_knn_ivfsq_recall", knnRecallGate(knnIvfSq, 0.6), Some(knnRecallGateSql)),
    QueryDef("dx_knn_ivfpq", knnIvfPq, None),
    QueryDef("dx_knn_ivfpq_recall", knnRecallGate(knnIvfPq, 0.5), Some(knnRecallGateSql)),
    QueryDef("dx_knn_ivfpq_index", knnIvfPqIndex, Some(knnIvfPqIndexSql)),
    QueryDef("dx_knn_ivfpq_serve", knnIvfPqServe, None, warm = true),
    QueryDef("dx_knn_ivfpq_serve_recall", knnRecallGate(knnIvfPqServe, 0.5), Some(knnRecallGateSql), warm = true),
    QueryDef("dx_knn_ivfsq_index", knnIvfSqIndex, Some(knnIvfSqIndexSql)),
    QueryDef("st_vec_serve_gate", vecServeGate, Some(vecServeGateSql), warm = true),
    QueryDef("dx_knn_ivfsq_serve", knnIvfSqServe, None, warm = true),
    QueryDef("dx_knn_ivfsq_serve_recall", knnRecallGate(knnIvfSqServe, 0.6), Some(knnRecallGateSql), warm = true),
    QueryDef("dx_rag_e2e", ragE2e, None),
    QueryDef("dx_rag_e2e_gate", ragGate, Some(ragGateSql), warm = true))
}
