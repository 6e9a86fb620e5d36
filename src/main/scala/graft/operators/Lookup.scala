package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Resolution lookup: cluster assignments joined back to source membership
  * (reference: client/results.py `ResolverMatches.as_lookup` and the server
  * `match` operation).
  */
object Lookup {

  /** Merge two resolutions (reference: results.py:182 `ResolverMatches
    * .merge`): the combined clustering is the connected components of the
    * union of both cluster maps' co-membership — each cluster contributes a
    * star from its minimum leaf to every other leaf, and components run over
    * the union. Input/output shape: (cluster_id, leaf_id). The reference
    * renumbers merged clusters with arbitrary negative ints; we use the
    * component's minimum leaf id — same partition, but deterministic and
    * stable under re-runs (documented divergence).
    */
  def mergeResolutions(a: DataFrame, b: DataFrame): DataFrame = {
    // Tag each resolution before the union: cluster ids are arbitrary and an
    // id reused by unrelated clusters in a and b must NOT collapse them into
    // one star — only co-membership within a single resolution is an edge.
    // Materialised once, before either reader runs: the star-edge
    // derivation AND the singleton restore both read it, and the inputs are
    // typically whole resolution pipelines that must not run twice.
    val (tagged, _) = graft.Ckpt.settle(
      a.select(col("cluster_id"), col("leaf_id")).withColumn("side", lit(0))
        .unionByName(b.select(col("cluster_id"), col("leaf_id")).withColumn("side", lit(1)))).head
    val edges = tagged
      .withColumn("rep", min("leaf_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("side", "cluster_id")))
      .filter(col("leaf_id") =!= col("rep"))
      .select(col("rep").as("src"), col("leaf_id").as("dst"))
    val comp = Components.connected(edges)
    // singletons (clusters of one leaf) have no edges; restore them
    val allLeaves = tagged.select(col("leaf_id")).distinct()
    allLeaves
      .join(comp.withColumnRenamed("id", "leaf_id"), Seq("leaf_id"), "left")
      .select(
        coalesce(col("component"), col("leaf_id")).as("cluster_id"),
        col("leaf_id"))
  }

  /** One cluster's source records across sources (reference: results.py:138
    * `view_cluster`): for each source whose keys appear in the cluster,
    * fetch its rows, qualify the key column (and, unless `mergeFields`,
    * every index field) with the source name, and diagonal-concat. Key
    * columns come first. `sources` maps source name → (data, keyCol,
    * lookup of (cluster_id, rec_key) for that source).
    */
  def viewCluster(
      clusterId: Long,
      sources: Seq[(String, DataFrame, String)],
      lookup: DataFrame,
      mergeFields: Boolean = false): DataFrame = {
    val perSource = sources.map { case (name, data, keyCol) =>
      val keys = lookup
        .filter(col("cluster_id") === clusterId && col("source") === name)
        .select(col("rec_key"))
      val qualifiedKey = s"${name}_$keyCol"
      val fetched = data.join(
        keys.withColumnRenamed("rec_key", keyCol), Seq(keyCol), "left_semi")
      val renamed = fetched.columns.foldLeft(fetched) { (df, c) =>
        if (c == keyCol) df.withColumnRenamed(c, qualifiedKey)
        else if (!mergeFields) df.withColumnRenamed(c, s"${name}_$c")
        else df
      }
      renamed
    }
    // diagonal concat: union over the union of all columns, null-filling
    val allCols = perSource.flatMap(_.columns).distinct
    val keyCols = sources.map { case (name, _, keyCol) => s"${name}_$keyCol" }
    val ordered = keyCols ++ allCols.filterNot(keyCols.contains)
    perSource
      .map { df =>
        val have = df.columns.toSet
        df.select(ordered.map(c =>
          if (have(c)) col(c) else lit(null).as(c)): _*)
      }
      .reduce(_ unionByName _)
  }

  /** Cluster ↔ source-key lookup. `members` carries one row per namespaced
    * record: (id, source, rec_key, ...extra columns). Records no model
    * touched keep their own singleton cluster (left join + coalesce).
    */
  def asLookup(assignments: DataFrame, members: DataFrame): DataFrame =
    members.join(assignments, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("id")))
      .drop("component")

  /** Leaf sets per cluster (reference results.py:132 `as_leaf_sets`): each
    * cluster's sorted distinct leaf ids as one array row. Partial
    * aggregation pre-combines the collect on the map side; sorting makes
    * array contents deterministic.
    */
  def asLeafSets(dump: DataFrame): DataFrame =
    dump.groupBy("cluster_id")
      .agg(sort_array(collect_set(col("leaf_id"))).as("leaf_ids"))

  /** `match`: for probe keys in one source, return the co-clustered keys of
    * a target source.
    */
  def matchKeys(
      assignments: DataFrame, members: DataFrame,
      probeSource: String, targetSource: String): DataFrame = {
    val lookup = asLookup(assignments, members)
    val probe = lookup.filter(col("source") === probeSource)
      .select(col("cluster_id"), col("rec_key").as("key"))
    val target = lookup.filter(col("source") === targetSource)
      .select(col("cluster_id"), col("rec_key").as("matched_key"))
    probe.join(target, "cluster_id").select("key", "matched_key")
  }
}
