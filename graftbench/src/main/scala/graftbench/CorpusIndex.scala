package graftbench

import graft.operators.Components
import graft.operators.ann.NnDescent
import graft.operators.dedup.MinHashLSH
import graft.operators.text.GopherRules
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data preparation: Gopher quality rules, MinHash-LSH near-dup
  * pairs, connected components over the verified pairs and one kept
  * document (the minimum id) per component; then an NN-Descent k-NN graph
  * over the kept documents' chunk embeddings. Ops run against the built
  * graph: batch searches, chunk inserts and chunk deletes.
  */
final class CorpusIndex(spark: SparkSession, tracer: Tracer, seed: Long, clusters: Int,
    maxCluster: Int, singletons: Int)
    extends Workload("corpus_index", spark, tracer) {
  import spark.implicits._

  // MinHashLSH.candidatePairs defaults, which the batch pass uses
  private val numHashes = 64
  private val bands = 16
  private val shingle = 3
  private val threshold = 0.5
  private val maxBucket = 1000
  private val k = 10

  private var gen: Gen.Corpus = _
  private var docs: DataFrame = _
  private var chunks: DataFrame = _
  private var indexed: Gen.Vecs = _
  private var baseGraph: DataFrame = _
  private var lastAssign: Map[Long, Long] = Map.empty
  private var lastKept: Set[Long] = Set.empty
  private var lastGraph: Array[(Long, Long, Double)] = Array.empty
  private var f1 = 0.0
  private val searchRecalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def records: Long = gen.docs.length.toLong + gen.chunks.ids.length
  def readsPerCycle = 2
  def writesPerCycle = 2
  // the insert seeds through searchGraph, so it warms the read path too
  override def warmUpOps: Seq[(String, Int)] = Seq("write" -> 0, "write" -> 1)

  private def docFrame(ds: Seq[Gen.Doc]): DataFrame = ds.map(d => (d.id, d.lines)).toDF("id", "lines")
  private def vecFrame(v: Gen.Vecs): DataFrame = v.ids.zip(v.v).toSeq.toDF("id", "v")

  def setup(dir: String): Seq[Input] = {
    gen = Gen.corpus(seed, clusters, maxCluster, singletons)
    docs = roundTrip(docFrame(gen.docs.toSeq), dir, "docs")
    chunks = roundTrip(vecFrame(gen.chunks).withColumn("doc_id", (col("id") / 100).cast("long")),
      dir, "chunks")
    val n = (docs.count(), chunks.count())
    check(n == ((gen.docs.length.toLong, gen.chunks.ids.length.toLong)),
      s"parquet round trip changed row counts: $n")
    val keep = gen.chunks.ids.indices.filter(i => gen.survivors(gen.chunks.ids(i) / 100))
    indexed = Gen.Vecs(keep.map(gen.chunks.ids).toArray, keep.map(gen.chunks.v).toArray)
    Seq(Input("docs", n._1, Gen.digest(gen.docs.iterator.map(d => s"${d.id}|${d.lines.mkString("\n")}"))),
      Input("chunks", n._2, Gen.digest(gen.chunks.ids.indices.iterator
        .map(i => s"${gen.chunks.ids(i)}|${gen.chunks.v(i).mkString(",")}"))))
  }

  private def gopher(ds: DataFrame): DataFrame = layer("text", "text.docs_kept") {
    GopherRules(ds).filter(col("gopher_pass")).select(col("id"), col("full"))
  }

  def batch(): Unit = {
    // the kept documents feed both the near-dup search and the survivor
    // step, so the job materializes them once
    val kept = gopher(docs).localCheckpoint(eager = true)
    val pairs = layer("dedup", "dedup.verified") {
      MinHashLSH.candidatePairs(kept, "id", "full", numHashes, bands, shingle, threshold, maxBucket)
    }
    note("components.edges_in", lastRows.toDouble)
    // threshold 0: always the distributed large-star/small-star rounds,
    // which a corpus past the driver path's 2,000,000-edge default runs
    val assign = layer("components") {
      Components.connected(pairs.select(col("left_id").as("src"), col("right_id").as("dst")),
        smallGraphThreshold = 0L)
    }.localCheckpoint(eager = true)
    val survivors = kept.select("id")
      .join(assign.filter(col("id") =!= col("component")), Seq("id"), "left_anti")
    val vectors = chunks.join(survivors.select(col("id").as("doc_id")), "doc_id").select("id", "v")
    lastGraph = layer("ann.build")(NnDescent.knnGraph(vectors, "id", "v", k))
      .select("id", "nbr", "sim").as[(Long, Long, Double)].collect()
    lastAssign = assign.as[(Long, Long)].collect().toMap
    lastKept = survivors.as[Long].collect().toSet
    note("components.clusters", lastAssign.values.toSet.size.toDouble)
  }

  /** Mean recall@k of `lists` against exact top-k over `v`. */
  private def recall(lists: Map[Long, Set[Long]], queries: Seq[(Long, Array[Float])], v: Gen.Vecs): Double =
    queries.map { case (q, x) =>
      lists.getOrElse(q, Set.empty).intersect(Stats.exactTopK(x, q, v.ids, v.v, k)).size.toDouble / k
    }.sum / queries.size

  private def lists(edges: Iterable[(Long, Long)]): Map[Long, Set[Long]] =
    edges.groupBy(_._1).map { case (q, es) => q -> es.map(_._2).toSet }

  /** Recall below which served or inserted results count as broken. The
    * recall level itself is the `quality` metric: on this corpus the
    * default search reaches 0.6-0.9 depending on the seed.
    */
  private val floor = 0.5

  /** The k-NN graph contract after an update: every expected node owns a
    * list of 1 to k neighbors, none of them itself or a deleted node.
    */
  private def checkGraph(op: String, g: Map[Long, Set[Long]], nodes: Int, dead: Set[Long]): Unit = {
    check(g.size == nodes, s"$op: graph covers ${g.size} nodes, want $nodes")
    check(g.values.forall(l => l.nonEmpty && l.size <= k), s"$op: a list is empty or longer than $k")
    check(g.forall { case (id, l) => !l.contains(id) && !dead(id) && !l.exists(dead) },
      s"$op: a self-loop or a deleted id is still linked")
  }

  def checkBatch(): Unit = {
    val passing = gen.docs.filter(_.gopher).map(_.id).toSet
    val nonMin = lastAssign.collect { case (id, c) if id != c => id }.toSet
    check(lastKept ++ nonMin == passing,
      s"Gopher kept ${(lastKept ++ nonMin).size} docs, want ${passing.size}")
    check(lastKept.intersect(nonMin).isEmpty, "a non-minimum component member survived")
    f1 = Stats.pairF1(lastAssign, gen.docs.map(d => d.id -> d.cluster).toMap)
    check(f1 == 1.0, s"dup_f1 $f1 < 1.0 against the planted clusters")
    check(lastKept == gen.survivors, s"kept ${lastKept.size} documents, want ${gen.survivors.size}")
    val g = lists(lastGraph.map(e => (e._1, e._2)))
    check(g.size == indexed.ids.length && g.values.forall(_.size == k),
      s"graph covers ${g.size} of ${indexed.ids.length} chunks or has lists shorter than $k")
    val sample = indexed.ids.indices.by(math.max(1, indexed.ids.length / 200))
      .map(i => (indexed.ids(i), indexed.v(i)))
    val r = recall(g, sample, indexed)
    check(r >= 0.9, f"build recall@$k $r%.4f < 0.9")
  }

  def prepareBase(): Unit =
    baseGraph = lastGraph.toSeq.toDF("id", "nbr", "sim").localCheckpoint(eager = true)

  private def baseVectors: DataFrame = vecFrame(indexed)

  /** Searches the graph for a batch of 50 unseen query vectors. */
  def read(i: Int): () => Unit = {
    val q = gen.queries(i % gen.queries.length)
    val got = layer("ann.search")(NnDescent.searchGraph(vecFrame(q), baseGraph, baseVectors, "id", "v", k))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    () => {
      val r = recall(lists(got), q.ids.zip(q.v).toSeq, indexed)
      searchRecalls += r
      check(r >= floor, f"search op $i: recall@$k $r%.4f < $floor")
    }
  }

  /** Even ops insert 50 chunks, odd ops delete 50; each from the base graph. */
  def write(i: Int): () => Unit = {
    val j = (i / 2) % gen.adds.length
    val n = indexed.ids.length
    if (i % 2 == 0) {
      val add = gen.adds(j)
      val got = layer("ann.add")(NnDescent.addVectors(baseGraph, baseVectors, vecFrame(add), "id", "v", k))
        .select("id", "nbr").as[(Long, Long)].collect()
      () => {
        val g = lists(got)
        checkGraph(s"insert op $i", g, n + add.ids.length, Set.empty)
        val r = recall(g, add.ids.zip(add.v).toSeq, Gen.Vecs(indexed.ids ++ add.ids, indexed.v ++ add.v))
        check(r >= floor, f"insert op $i: recall@$k of inserted chunks $r%.4f < $floor")
      }
    } else {
      val rm = gen.removes(j)
      val got = layer("ann.remove") {
        NnDescent.removeVectors(baseGraph, baseVectors, rm.toSeq.toDF("id"), "id", "v", k)
      }.select("id", "nbr").as[(Long, Long)].collect()
      () => checkGraph(s"delete op $i", lists(got), n - rm.length, rm.toSet)
    }
  }

  def quality: (String, Double) = ("recall_at_10", searchRecalls.sum / math.max(1, searchRecalls.size))

  /** Candidate pairs before verification, counted from the operator's own
    * band table: distinct pairs sharing a (band, bucket) no larger than
    * `maxBucket`.
    */
  override def tracedCounts(): Unit = {
    val kept = GopherRules(docs).filter(col("gopher_pass")).select(col("id"), col("full"))
    val b = MinHashLSH.bandsOf(MinHashLSH.setsOf(kept, "id", "full", shingle), numHashes, bands)
      .select("id", "band", "bucket")
    val capped = b.join(
      b.groupBy("band", "bucket").count().filter(col("count") <= maxBucket), Seq("band", "bucket"))
    val n = capped.select(col("band"), col("bucket"), col("id").as("l"))
      .join(capped.select(col("band"), col("bucket"), col("id").as("r")), Seq("band", "bucket"))
      .filter(col("l") < col("r")).select("l", "r").distinct().count()
    note("dedup.candidates", n.toDouble)
  }

  def kernels(): Map[String, Double] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val texts = gen.docs.map(d => UTF8String.fromString(d.lines.mkString(" ")))
    val sig = graft.functions.MinHashSignature(Literal(0L), numHashes)
    var hashSink = 0L
    val minhash = rowsPerSecond(texts.length.toLong) {
      var i = 0
      while (i < texts.length) {
        val hs = graft.functions.ShingleHashes.compute(texts(i), shingle)
        hashSink ^= sig.nullSafeEval(hs).asInstanceOf[ArrayData].getLong(0)
        i += 1
      }
    }
    val vs = indexed.v.map(a => UnsafeArrayData.fromPrimitiveArray(a))
    val cos = graft.functions.CosineSimilarity(Literal(0), Literal(0))
    val m = vs.length
    var cosSink = 0.0
    val cosine = rowsPerSecond(m.toLong * 20) {
      var i = 0
      while (i < m) {
        var j = 1
        while (j <= 20) { cosSink += cos.nullSafeEval(vs(i), vs((i + j * 97) % m)).asInstanceOf[Double]; j += 1 }
        i += 1
      }
    }
    check(!cosSink.isNaN, "cosine produced NaN")
    Map("functions.minhash.rows_per_s" -> minhash, "functions.cosine.rows_per_s" -> cosine)
  }
}
