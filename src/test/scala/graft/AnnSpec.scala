package graft

import graft.operators.ann.{GraphIndex, Knn, NnDescent}
import org.apache.spark.sql.functions._

/** r15 ANN additions: persisted serving index (hub long-links),
  * incremental maintenance, cross-dataset seeding, and the degenerate-input
  * guards (zero-norm vectors, kBuild=1).
  */
class AnnSpec extends SparkSpec {

  private def emb = Tables(spark, sfDir, "embeddings")

  test("beam search seeds cross-dataset queries (ids disjoint from targets)") {
    // r15 ADVICE (medium): the old floor keyed a successor window by TARGET
    // id aliased as qid, so queries whose ids don't exist in the target set
    // silently got zero rows. Force the floor to be the ONLY seed source
    // (hubRate > n empties the coarse hub sample) and require every
    // disjoint-id query to still come back fully ranked.
    val targets = emb.filter(col("vec_id") >= 100)
    val g = NnDescent.knnGraph(targets, "vec_id", "embedding", k = 10,
      iters = 2, cap0 = 40).localCheckpoint(false)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val res = NnDescent.searchGraph(queries, g, targets, "vec_id",
      "embedding", k = 5, beam = 20, hops = 2, seeds = 4,
      hubRate = 1000000)
    val perQ = res.groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(perQ.count() == 10, "every disjoint-id query must seed")
    assert(perQ.filter(col("n") =!= 5).count() == 0,
      "every query must return k ranked rows")
  }

  test("addVectors: incremental update covers the union and matches brute recall") {
    val delta = emb.filter(col("vec_id") % 5 === 3)
    val base = emb.filter(col("vec_id") % 5 =!= 3)
    val g0 = NnDescent.knnGraph(base, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40).localCheckpoint(false)
    val g = NnDescent.addVectors(g0, base, delta, "vec_id", "embedding",
      k = 10, iters = 2, cap0 = 40).localCheckpoint(false)
    val n = emb.count()
    // every node of the UNION corpus has a list, ≤ k rows, no self-loops
    assert(g.select("id").distinct().count() == n,
      "incremental graph must cover base ∪ delta")
    assert(g.groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 10).count() == 0)
    assert(g.filter(col("id") === col("nbr")).count() == 0)
    // edge sims are exact cosines
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val wrong = g
      .join(vecs.withColumnRenamed("vec_id", "id"), "id")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("e2")), "nbr")
      .withColumn("sim2",
        graft.functions.CosineSimilarity(col("embedding"), col("e2")))
      .filter(abs(col("sim") - col("sim2")) > 1e-9)
    assert(wrong.count() == 0, "incremental sims must be exact cosines")
    // incremental ≡ rebuilt contract: top-5 recall vs brute on the union
    // corpus clears the family floor — for BASE queries (whose lists must
    // have absorbed new neighbors) and DELTA queries (freshly inserted)
    val brute = Knn.bruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").localCheckpoint(false)
    val top5 = graft.plans.TopK.perKey(
      g.filter(col("id") < 10), Seq("id"), "sim", 5, tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"))
    val nBrute = brute.count()
    val hits = brute.join(top5, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.7,
      s"incremental recall $hits/$nBrute under the 0.7 floor")
    // the delta truly entered old nodes' lists: at least one base node
    // lists a delta node as neighbor (20% of the corpus is delta — its
    // absence from every base list would mean old nodes never updated)
    val baseToDelta = g.filter(col("id") % 5 =!= 3 && col("nbr") % 5 === 3)
    assert(baseToDelta.count() > 0, "old nodes must absorb new neighbors")
  }

  test("removeVectors: tombstones are gone, survivors repaired, reduced-corpus recall holds") {
    val rmPred = col("vec_id") % 5 === 2
    val kept = emb.filter(!rmPred)
    val g0 = NnDescent.knnGraph(emb, "vec_id", "embedding", k = 10,
      iters = 4, cap0 = 40).localCheckpoint(false)
    val g = NnDescent.removeVectors(g0, emb, emb.filter(rmPred).select("vec_id"),
      "vec_id", "embedding", k = 10, iters = 2, cap0 = 40)
      .localCheckpoint(false)
    // no tombstone survives as source OR target
    assert(g.filter(col("id") % 5 === 2 || col("nbr") % 5 === 2).count() == 0,
      "removed ids must appear nowhere in the repaired graph")
    // every survivor still owns a list (the orphan guard's contract),
    // lists stay ≤ k, no self-loops
    assert(g.select("id").distinct().count() == kept.count(),
      "every surviving vector must keep an edge list")
    assert(g.groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 10).count() == 0)
    assert(g.filter(col("id") === col("nbr")).count() == 0)
    // edge sims are exact cosines (bridge candidates were re-scored, not
    // carried over)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val wrong = g
      .join(vecs.withColumnRenamed("vec_id", "id"), "id")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("e2")), "nbr")
      .withColumn("sim2",
        graft.functions.CosineSimilarity(col("embedding"), col("e2")))
      .filter(abs(col("sim") - col("sim2")) > 1e-9)
    assert(wrong.count() == 0, "repaired sims must be exact cosines")
    // deleted ≡ rebuilt contract: recall vs brute force on the REDUCED
    // corpus clears the family floor for the surviving query slice
    val brute = Knn.bruteForce(
      kept.filter(col("vec_id") < 10), kept, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").localCheckpoint(false)
    val top5 = graft.plans.TopK.perKey(
      g.filter(col("id") < 10), Seq("id"), "sim", 5, tieCols = Seq("nbr"))
      .select(col("id").as("query_id"), col("nbr").as("neighbor_id"))
    val nBrute = brute.count()
    val hits = brute.join(top5, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.7,
      s"post-delete recall $hits/$nBrute under the 0.7 floor")
    // removing nothing is the identity
    val same = NnDescent.removeVectors(g0, emb,
      emb.filter(col("vec_id") < 0).select("vec_id"),
      "vec_id", "embedding", k = 10)
    assert(Gate.sameRows(same, g0),
      "empty removal set must return the graph unchanged")
  }

  test("removeVectors: orphan guard re-inserts nodes whose whole neighborhood died") {
    import spark.implicits._
    // adversarial corpus: a 6-node clique (c*) far from a 30-node cloud;
    // node 100 points only into the clique. Removing the clique leaves
    // 100 with zero bridge candidates (every bridge endpoint removed), so
    // only the orphan re-insert path can keep it covered.
    val rng = new scala.util.Random(5)
    val dim = 8
    def jitter(base: Array[Double]) =
      base.zipWithIndex.map { case (x, i) => (x + rng.nextDouble() * 0.01).toFloat }.toSeq
    val cliqueBase = Array.fill(dim)(1.0)
    val clique = (0L until 6L).map(i => (200L + i, jitter(cliqueBase)))
    val cloud = (0L until 30L).map(i =>
      (i, Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)))
    val lone = Seq((100L, jitter(cliqueBase)))
    val corpus = (clique ++ cloud ++ lone).toDF("vec_id", "embedding")
    val g0 = NnDescent.knnGraph(corpus, "vec_id", "embedding", k = 4,
      iters = 3, cap0 = 20).localCheckpoint(false)
    val g = NnDescent.removeVectors(g0, corpus,
      corpus.filter(col("vec_id") >= 200).select("vec_id"),
      "vec_id", "embedding", k = 4, iters = 2, cap0 = 20)
    assert(g.filter(col("id") >= 200 || col("nbr") >= 200).count() == 0)
    assert(g.filter(col("id") === 100L).count() > 0,
      "the orphaned node must be re-inserted with a fresh edge list")
    assert(g.select("id").distinct().count() == 31)
  }

  test("GraphIndex: persisted round-trip, hub-only long links, serve recall") {
    val tmp = java.nio.file.Files.createTempDirectory("annspec_idx").toString
    val path = s"$tmp/g"
    GraphIndex.build(emb, "vec_id", "embedding", k = 10, path = path,
      iters = 4, numFiles = 2)
    val g = GraphIndex.load(spark, path).localCheckpoint(false)
    assert(g.columns.sorted.sameElements(Array("id", "long", "nbr", "sim")))
    // base edges cover the corpus
    assert(g.filter(!col("long")).select("id").distinct().count() == emb.count())
    // long links connect hub-sample nodes only (both endpoints)
    val nonHubLong = g.filter(col("long") &&
      !(NnDescent.hubSample(col("id"), 16) && NnDescent.hubSample(col("nbr"), 16)))
    assert(nonHubLong.count() == 0, "long links must join hubs to hubs")
    // serving over the stored index clears the gate floor
    val res = NnDescent.searchGraph(
      emb.filter(col("vec_id") < 10), g, emb, "vec_id", "embedding",
      k = 5, beam = 32, hops = 3, seeds = 8)
      .select("query_id", "neighbor_id")
    val brute = Knn.bruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").localCheckpoint(false)
    val nBrute = brute.count()
    val hits = brute.join(res, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / nBrute >= 0.7,
      s"serve recall $hits/$nBrute under the 0.7 floor")
    // determinism of the persisted artifact: rebuild → identical edge set
    GraphIndex.build(emb, "vec_id", "embedding", k = 10, path = s"$tmp/g2",
      iters = 4, numFiles = 2)
    val g2 = GraphIndex.load(spark, s"$tmp/g2")
    assert(Gate.sameRows(g, g2))
  }

  test("knnGraph degenerate params: kBuild=1 builds instead of analyze-failing") {
    val tiny = emb.filter(col("vec_id") < 50)
    val g = NnDescent.knnGraph(tiny, "vec_id", "embedding", k = 1,
      iters = 1, kBuild0 = 1)
    assert(g.groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count() == 0)
    assert(g.count() > 0)
  }

  test("NN-Descent parameters fail by name in all three entry points") {
    val tiny = emb.filter(col("vec_id") < 20)
    def named(what: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    named("k must be >= 1, got 0")(NnDescent.knnGraph(tiny, "vec_id", "embedding", k = 0))
    named("iters must be >= 1, got 0")(
      NnDescent.knnGraph(tiny, "vec_id", "embedding", k = 2, iters = 0))
    named("kBuild must be >= k (3), got 2")(
      NnDescent.knnGraph(tiny, "vec_id", "embedding", k = 3, kBuild0 = 2))
    named("cap must exceed kBuild (4), got 4")(
      NnDescent.knnGraph(tiny, "vec_id", "embedding", k = 2, cap0 = 4))
    val g = spark.createDataFrame(Seq((1L, 2L, 0.5))).toDF("id", "nbr", "sim")
    named("cap must exceed kBuild (4), got 3")(
      NnDescent.addVectors(g, tiny, tiny, "vec_id", "embedding", k = 2, cap0 = 3))
    named("iters must be >= 1, got 0")(
      NnDescent.removeVectors(g, tiny, tiny.select("vec_id"), "vec_id", "embedding", k = 2,
        iters = 0))
  }

  test("knnGraph over an empty corpus returns an empty graph") {
    val g = NnDescent.knnGraph(emb.filter(lit(false)), "vec_id", "embedding", k = 3)
    assert(g.columns.toSeq == Seq("id", "nbr", "sim"))
    assert(g.schema.map(_.dataType.typeName) == Seq("long", "long", "double"))
    assert(g.count() == 0)
  }

  test("VectorIndex: persisted IVF-PQ round-trips and serves the inline results") {
    import graft.operators.ann.{Pq, VectorIndex}
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("vecidx_spec").toString
    try {
      VectorIndex.build(corpus, "vec_id", "embedding", s"$tmp/idx", numFiles = 2)
      val queries = corpus.filter(col("vec_id") < 5)
      val served = VectorIndex.search(queries, s"$tmp/idx", corpus,
        "vec_id", "embedding", k = 5)
      // the fit is deterministic and doubles round-trip parquet exactly,
      // so serving over the reloaded model must be BIT-identical to the
      // inline fit+encode+scan — sims included, no rounding
      val inline = Pq.searchIvf(queries, corpus, "vec_id", "embedding", k = 5)
      assert(served.count() == 25)
      assert(Gate.sameRows(served, inline),
        "persisted-index serving diverged from the inline IVF-PQ search")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("VectorIndex: persisted IVF-SQ round-trips and serves the inline results") {
    import graft.operators.ann.{Sq, VectorIndex}
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("sqidx_spec").toString
    try {
      VectorIndex.buildSq(corpus, "vec_id", "embedding", s"$tmp/idx", numFiles = 2)
      val queries = corpus.filter(col("vec_id") < 5)
      val served = VectorIndex.searchSq(queries, s"$tmp/idx", corpus,
        "vec_id", "embedding", k = 5)
      // same contract as the PQ codec: deterministic fit + exact parquet
      // round-trip of doubles ⇒ serving over the reloaded model is
      // BIT-identical to the inline fit+encode+scan, sims un-rounded
      val inline = Sq.searchIvf(queries, corpus, "vec_id", "embedding", k = 5)
      assert(served.count() == 25)
      assert(Gate.sameRows(served, inline),
        "persisted-index serving diverged from the inline IVF-SQ search")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("rag flagship census invariants at sf0.001 (composition smoke)") {
    val census = graft.queries.Ann.defs.find(_.name == "dx_rag_e2e").get
      .fn(spark, sfDir).localCheckpoint(false)
    assert(census.count() == 5, "one census row per query document 0-4")
    // every queried chunk returns exactly k=5 neighbors
    assert(census.filter(col("n_retrieved") =!= col("n_chunks_queried") * 5)
      .count() == 0)
    assert(census.filter(col("n_same_doc") > col("n_retrieved")).count() == 0)
    assert(census.filter(col("n_src_docs") > col("n_retrieved")).count() == 0)
  }

  test("zero-norm vectors score 0.0, never NaN, in both cosine kernels") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 2.0f, 2.0f)),
      (3L, Array(2.0f, 1.0f, 2.0f))).toDF("id", "v")
    // scalar kernel (codegen path via a plain projection)
    val sims = df.as("a").crossJoin(df.as("b"))
      .select(col("a.id").as("x"), col("b.id").as("y"),
        graft.functions.CosineSimilarity(col("a.v"), col("b.v")).as("sim"))
      .collect()
    assert(sims.forall(r => !r.getDouble(2).isNaN))
    assert(sims.filter(r => r.getLong(0) == 1L || r.getLong(1) == 1L)
      .forall(_.getDouble(2) == 0.0))
    // descent round: a zero-norm member must not propose NaN edges. Node 0
    // (no vector) holds all three in one fresh neighbourhood, so each
    // unordered pair is proposed in both directions
    val hood = Seq((0L, 1L, 0.5, true), (0L, 2L, 0.5, true), (0L, 3L, 0.5, true))
      .toDF("id", "nbr", "sim", "fresh")
    val block = graft.plans.DescentRound(hood, df, 1, kBuild = 3, cap = 4)
      .filter(col("id") =!= 0L).collect()
    assert(block.length == 6)
    assert(block.map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .distinct.length == 3)
    assert(block.forall(r => !r.getDouble(2).isNaN))
    assert(block.filter(r => r.getLong(0) == 1L || r.getLong(1) == 1L)
      .forall(_.getDouble(2) == 0.0))
  }

  test("array<double> vectors fail by name in both cosine kernels and the search") {
    import spark.implicits._
    // read as floats, the doubles 0.5 and -0.25 would score as the halves
    // of their bit patterns — garbage, not an error — so each entry point
    // refuses them
    val dbl = Seq((1L, Seq(0.5, -0.25)), (2L, Seq(0.75, 0.1))).toDF("id", "v")
    val scalar = intercept[org.apache.spark.sql.AnalysisException](
      dbl.select(graft.functions.CosineSimilarity(col("v"), col("v"))))
    assert(scalar.getMessage.contains("cosine_sim requires array<float> inputs, got array<double>"),
      scalar.getMessage)
    val block = intercept[IllegalArgumentException](graft.plans.DescentRound(
      Seq((1L, 2L, 0.5, true)).toDF("id", "nbr", "sim", "fresh"), dbl, 1, kBuild = 1, cap = 2))
    assert(block.getMessage.contains("NN-Descent requires array<float> vectors, got array<double>"),
      block.getMessage)
    val search = intercept[IllegalArgumentException](NnDescent.searchGraph(dbl,
      Seq((1L, 2L)).toDF("id", "nbr"), dbl, "id", "v", k = 1, beam = 1, hops = 1, seeds = 1))
    assert(search.getMessage.contains("searchGraph requires array<float> query vectors, got array<double>"),
      search.getMessage)
  }
}
