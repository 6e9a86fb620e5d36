package graftbench

import graft.eval.PrecisionRecall
import graft.operators.{Components, Link, Lookup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** matchbox's core job: link source B's edited variants to source A,
  * resolve the links into clusters, serve the cluster lookup and score it.
  */
final class ErResolve(spark: SparkSession, tracer: Tracer, seed: Long, entities: Int)
    extends Workload("er_resolve", spark, tracer) {
  import spark.implicits._

  private var gen: Gen.Er = _
  private var a: DataFrame = _
  private var b: DataFrame = _
  private var judgements: DataFrame = _
  private var members: DataFrame = _
  private var baseAssign: DataFrame = _
  private var lastClusters: Map[Long, Long] = Map.empty
  private var lastEval: Row = _
  private var f1 = 0.0

  def records: Long = 3L * entities
  def readsPerCycle = 5
  def writesPerCycle = 3

  // name must reach the 0.9 Jaro-Winkler level and city the 0.85 level
  // (3 + 2 >= 5); the generator's single edits stay above both levels
  private val comparisons = Seq(
    Link.LevelComparison(
      Seq("l.name = r.name",
        "jaro_winkler_similarity(l.name, r.name) >= 0.9",
        "jaro_winkler_similarity(l.name, r.name) >= 0.8"),
      Seq(-4.0, 1.0, 3.0, 6.0)),
    Link.LevelComparison(
      Seq("l.city = r.city", "jaro_winkler_similarity(l.city, r.city) >= 0.85"),
      Seq(-3.0, 2.0, 3.0)))

  private def frame(rs: Seq[Gen.Rec]): DataFrame =
    rs.map(r => (r.id, r.recKey, r.name, r.city, r.blk)).toDF("id", "rec_key", "name", "city", "blk")

  def setup(dir: String): Seq[Input] = {
    gen = Gen.er(seed, entities)
    val g = gen
    def dig(rs: Array[Gen.Rec]) = Gen.digest(rs.iterator.map(_.toString))
    a = roundTrip(frame(g.a.toSeq), dir, "a")
    b = roundTrip(frame(g.b.toSeq), dir, "b")
    judgements = roundTrip(g.judgements.toSeq.toDF("left_id", "right_id", "verdict"), dir, "judgements")
    val counts = Seq(a, b, judgements).map(_.count())
    check(counts == Seq(g.a.length.toLong, g.b.length.toLong, g.judgements.length.toLong),
      s"parquet round trip changed row counts: $counts")
    Seq(Input("a", counts(0), dig(g.a)), Input("b", counts(1), dig(g.b)),
      Input("judgements", counts(2), Gen.digest(g.judgements.iterator.map(_.toString))))
  }

  private def link(right: DataFrame, candidates: Long): DataFrame = {
    val edges = layer("link", "link.kept") {
      Link.fellegiSunterLevels(a, right, "id", "id", "l.blk = r.blk", comparisons, 5.0)
        .select(col("left_id").as("src"), col("right_id").as("dst"))
    }
    note("link.candidates", candidates.toDouble)
    edges
  }

  private def membersOf(sources: (String, DataFrame)*): DataFrame =
    sources.map { case (s, df) => df.select(col("id"), lit(s).as("source"), col("rec_key")) }
      .reduce(_ unionByName _)

  def batch(): Unit = {
    val edges = link(b, gen.candidates)
    note("components.edges_in", lastRows.toDouble)
    val assign = layer("components")(Components.connected(edges))
    val lookup = layer("lookup") {
      Lookup.asLookup(assign, membersOf("a" -> a, "b" -> b)).select("id", "cluster_id")
    }
    lastClusters = lookup.as[(Long, Long)].collect().toMap
    lastEval = layer("eval")(PrecisionRecall(assign, judgements)).collect().head
    note("components.clusters",
      lastClusters.values.groupBy(identity).count(_._2.size > 1).toDouble)
  }

  def checkBatch(): Unit = {
    check(lastClusters.size == records, s"lookup has ${lastClusters.size} rows, want $records")
    val truth = (gen.a.iterator ++ gen.b.iterator).map(r => r.id -> r.entity).toMap
    f1 = Stats.pairF1(lastClusters, truth)
    if (f1 != 1.0) {
      val mixed = lastClusters.groupBy(_._2).count(_._2.keys.map(truth).toSet.size > 1)
      val split = truth.groupBy(_._2).filter(_._2.keys.map(lastClusters).toSet.size > 1).keys
      val example = split.headOption.map(e => (gen.a(e) +: gen.b.filter(_.entity == e)).mkString(", "))
      fail(s"pair_f1 $f1 < 1.0 against the planted entities: " +
        s"$mixed clusters mix entities, ${split.size} entities are split, e.g. $example")
    }
    // the evaluator's counts, recomputed from the judgements and clusters
    val net = gen.judgements.groupBy(j => (math.min(j._1, j._2), math.max(j._1, j._2)))
      .map { case (p, js) => p -> js.map(_._3).sum }.filter(_._2 != 0)
    val inUniverse = net.filter { case ((x, y), _) => lastClusters.contains(x) && lastClusters.contains(y) }
    val model = inUniverse.filter { case ((x, y), _) => lastClusters(x) == lastClusters(y) }
    val want = (model.count(_._2 > 0).toLong, model.size.toLong, inUniverse.count(_._2 > 0).toLong)
    val got = (lastEval.getAs[Long]("tp"), lastEval.getAs[Long]("n_model"),
      lastEval.getAs[Long]("n_validation"))
    check(got == want, s"PrecisionRecall (tp, n_model, n_validation) = $got, want $want")
  }

  private lazy val blockSize: Map[String, Long] =
    gen.a.groupBy(_.blk).map { case (k, v) => k -> v.length.toLong }

  def prepareBase(): Unit = {
    baseAssign = lastClusters.toSeq.toDF("id", "component").localCheckpoint(eager = true)
    members = membersOf("a" -> a, "b" -> b).localCheckpoint(eager = true)
  }

  /** Matches ~200 new records against A and folds the new edges into the
    * base resolution.
    */
  def write(i: Int): () => Unit = {
    val batch = gen.updates(i % gen.updates.length)
    val edges = link(frame(batch.toSeq), batch.map(r => blockSize(r.blk)).sum)
    note("components.edges_in", lastRows.toDouble)
    val updated = layer("components") {
      Components.addEdges(baseAssign, edges)
    }.as[(Long, Long)].collect().toMap
    () => {
      check(updated.size == records + batch.length,
        s"update op $i: resolution has ${updated.size} rows, want ${records + batch.length}")
      batch.foreach { r =>
        check(updated(r.id) == r.entity.toLong,
          s"update op $i: record ${r.id} joined cluster ${updated(r.id)}, want ${r.entity}")
      }
    }
  }

  /** Looks up the B keys co-clustered with ~200 probe A keys. */
  def read(i: Int): () => Unit = {
    val keys = gen.probes(i % gen.probes.length)
    val rows = layer("lookup") {
      Lookup.matchKeys(baseAssign,
        members.filter(col("source") === "b" || col("rec_key").isin(keys: _*)), "a", "b")
    }.as[(String, String)].collect()
    () => {
      val got = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      keys.distinct.foreach { k =>
        val e = k.drop(1).toInt
        val want = Set(f"b${2 * e}%07d", f"b${2 * e + 1}%07d")
        check(got.getOrElse(k, Set.empty) == want,
          s"read op $i: key $k matched ${got.getOrElse(k, Set.empty)}, want $want")
      }
    }
  }

  def quality: (String, Double) = ("pair_f1", f1)

  def kernels(): Map[String, Double] = {
    import org.apache.spark.unsafe.types.UTF8String
    // the candidate pairs of one heavy block plus every true pair
    val heavy = gen.a.filter(_.blk == gen.a(0).blk).map(r => UTF8String.fromString(r.name))
    val pairs = (for (x <- heavy; y <- heavy) yield (x, y)) ++
      gen.b.map(r => (UTF8String.fromString(gen.a(r.entity).name), UTF8String.fromString(r.name)))
    var sink = 0.0
    val rate = rowsPerSecond(pairs.length.toLong) {
      var i = 0
      while (i < pairs.length) {
        sink += graft.functions.JaroWinklerImpl.similarity(pairs(i)._1, pairs(i)._2); i += 1
      }
    }
    check(!sink.isNaN, "jaro_winkler produced NaN")
    Map("functions.jaro_winkler.rows_per_s" -> rate)
  }
}
