package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair-edge list.
  *
  * Re-expresses matchbox's resolver (reference:
  * src/matchbox/client/resolvers/components.py, which unions edges into a
  * driver-side DisjointSet — fine for one process, impossible at 100 TB)
  * as the alternating large-star / small-star algorithm of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC 2014): O(log n)
  * rounds, each round a groupBy-min plus an equi-join, all shuffle-partitioned
  * by node id. The rounds run through [[graft.Ckpt.iterate]].
  *
  * Output: one row per node, `(id, component)` where `component` is the
  * minimum node id in the component — a deterministic representative, unlike
  * the reference's arbitrary enumeration order.
  */
object Components {

  /** Adaptive entry point: materialize and count the oriented non-loop
    * edges in one job; when they fit `smallGraphThreshold`, collect them
    * and solve on the driver with a union-find in milliseconds (the
    * reference's DisjointSet, transform.py — correct and fastest when the
    * graph fits trivially in memory), otherwise run the distributed
    * large-star/small-star rounds.
    * The same adaptive trade AQE applies to join strategies, applied to
    * graph connectivity.
    *
    * `smallGraphThreshold < 0` (the default) reads the
    * `spark.graft.components.smallGraphThreshold` session conf
    * (default 2,000,000) so deployments can tune or disable (0) the driver
    * path without code changes.
    *
    * Edges as two long columns `src`, `dst`; undirected; self-loops ignored.
    */
  def connected(
      edges: DataFrame,
      maxIter: Int = 30,
      smallGraphThreshold: Long = -1L): DataFrame = {
    val spark = edges.sparkSession
    val threshold =
      if (smallGraphThreshold >= 0) smallGraphThreshold
      else spark.conf.get("spark.graft.components.smallGraphThreshold", "2000000").toLong
    // the settle job's row count picks the path: the driver path collects
    // the materialized edges (a union-find absorbs duplicates), the rounds
    // start from their distinct set
    val (oriented, n) = graft.Ckpt.settleBulk(edges
      .filter(col("src") =!= col("dst"))
      .select(
        greatest(col("src"), col("dst")).cast("long").as("u"),
        least(col("src"), col("dst")).cast("long").as("v"))).head
    if (n <= threshold) driverUnionFind(spark, oriented.collect())
    else distributed(oriented, maxIter)
  }

  /** Incrementally fold new edges into a persisted resolution — the batch
    * twin of the reference resolver's DisjointSet union-on-arrival
    * (components.py), re-expressed for scale: the new edges are translated
    * into the CONTRACTED component graph (each endpoint replaced by its
    * current representative via one equi-join per side; unseen nodes stand
    * for themselves), components are re-solved over that contracted graph —
    * proportional to the delta, not the edge history — and the surviving
    * labels remap the old assignment with one more equi-join. Because every
    * persisted representative is the minimum member id of its component,
    * the contracted labels are again global member minima, so the result is
    * IDENTICAL to a full recompute over the union of all edges (which is
    * what the oracle checks).
    *
    * Nodes participate only via non-degenerate edges: an isolated new node
    * (self-loop only) does not enter the resolution, matching [[connected]].
    *
    * @param assignment persisted `(id, component)` resolution, component =
    *                   min member id (the [[connected]] contract)
    * @param newEdges   `(src, dst)` new pair edges; endpoints may be new
    * @return updated `(id, component)` over old ids ∪ new-edge endpoints
    */
  def addEdges(
      assignment: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 30): DataFrame = {
    // the persisted resolution is read as is by the contraction and the remap
    val a = assignment.select(
      col("id").cast("long").as("id"), col("component").cast("long").as("component"))
    val contracted = newEdges
      .filter(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .join(a.select(col("id").as("src"), col("component").as("cs")), Seq("src"), "left")
      .join(a.select(col("id").as("dst"), col("component").as("cd")), Seq("dst"), "left")
      .select(
        coalesce(col("cs"), col("src")).as("src"),
        coalesce(col("cd"), col("dst")).as("dst"))
    // every new endpoint is a node of the contracted graph (an old
    // representative is an old id, so a new node never contracts into a
    // self-loop): the new edges are read once, by the contraction
    val solved = connected(contracted, maxIter)
    a.join(solved.select(col("id").as("rep"), col("component").as("new_comp")),
        col("component") === col("rep"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("component")).as("component"))
      .unionByName(solved.join(a.select("id"), Seq("id"), "left_anti"))
  }

  /** Driver-side union-find with path halving; emits (id, component=min id). */
  private def driverUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      orientedRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    orientedRows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // attach the larger root to the smaller: roots stay component minima
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val assigned = parent.keys.toSeq.map(id => (id, find(id)))
    spark.createDataset(assigned).toDF("id", "component")
  }

  /** Distributed alternating large-star / small-star rounds over edges
    * `(u, v)` already oriented large -> small by the caller, possibly with
    * duplicates; the invariant is maintained across rounds.
    */
  private def distributed(edges: DataFrame, maxIter: Int): DataFrame = {
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .distinct()

    // Edge-set signature for the convergence test: count + XOR of per-edge
    // hashes. XOR is commutative and cannot overflow (unlike a sum under
    // ANSI arithmetic), so it is safe at any scale; edges are distinct so
    // the set is characterised up to hash collisions. One job over the
    // round's checkpoint blocks: the hash is Spark's `xxhash64(u, v)`.
    def signature(df: DataFrame): (Long, Long) = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val (u, v) = (df.schema.fieldIndex("u"), df.schema.fieldIndex("v"))
      graft.Ckpt.rddOf(df).aggregate((0L, 0L))(
        (acc, r) =>
          (acc._1 + 1, acc._2 ^ XXH64.hashLong(r.getLong(v), XXH64.hashLong(r.getLong(u), 42L))),
        (a, b) => (a._1 + b._1, a._2 ^ b._2))
    }

    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      sym.join(mins, "a")
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(edges: DataFrame): DataFrame = {
      // input oriented u > v: all neighbors v of u are already the <= side
      val mins = edges.groupBy("u").agg(min("v").as("m"))
      val attachNeighbors = edges.join(mins, "u")
        .select(col("v").as("nu"), col("m").as("nv"))
      val attachSelf = mins.select(col("u").as("nu"), col("m").as("nv"))
      attachNeighbors.union(attachSelf)
        .where(col("nu") =!= col("nv"))
        .select(greatest(col("nu"), col("nv")).as("u"), least(col("nu"), col("nv")).as("v"))
        .distinct()
    }

    val rounds = graft.Ckpt.iterate("cc.round", edges.distinct(), maxIter, bulk = true)(
      (e, _) => smallStar(largeStar(e)))(
      signature, (prev: (Long, Long), next: (Long, Long)) => next == prev)

    // A maxIter bailout would silently emit split components (the final
    // groupBy-min does not finish the contraction) — fail loudly instead.
    // log2(n) rounds suffice in theory; 30 covers any realistic graph.
    if (!rounds.converged)
      throw new IllegalStateException(
        s"connected components did not reach a fixpoint in $maxIter rounds; " +
          "raise maxIter (graph is adversarially chained) or pre-contract the input")

    // At the fixpoint the edges are a forest of stars rooted at each
    // component's min.
    val assigned = rounds.frame.groupBy(col("u").as("id")).agg(min("v").as("component"))
    val roots = nodes.join(assigned, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    assigned.union(roots)
  }

  /** DuckDB oracle: recursive min-label transitive closure — only viable on
    * small test graphs; the Spark path above is the scale path.
    */
  def connectedSql(edgesSql: String): String =
    s"""WITH RECURSIVE
       |e0 AS ($edgesSql),
       |edges AS (SELECT src, dst FROM e0 WHERE src <> dst
       |          UNION SELECT dst, src FROM e0 WHERE src <> dst),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       |SELECT id, component FROM comp""".stripMargin
}
