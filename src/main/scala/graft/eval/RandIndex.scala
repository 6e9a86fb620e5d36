package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** (Adjusted) Rand index — the pair-counting clustering agreement metric
  * (Hubert & Arabie 1985), complementing [[BCubed]]'s per-record view.
  * Everything derives from the (cluster, class) contingency cells without
  * materialising a single pair: with C2(n) = n(n−1)/2,
  *   index   = Σ_ct C2(c_ct)          (pairs both agree on)
  *   sumC    = Σ_c  C2(n_c)           (within-cluster pairs)
  *   sumT    = Σ_t  C2(n_t)           (within-class pairs)
  *   total   = C2(N)
  *   ARI     = (index − sumC·sumT/total) / ((sumC+sumT)/2 − sumC·sumT/total)
  * [[stats]] emits the four INTEGER sums in one row — exact,
  * order-insensitive, oracle-hashable; [[adjusted]] folds them into the
  * double on the driver.
  *
  * Scale shape: identical to [[BCubed.stats]] — one id equi-join, one
  * cell groupBy, partial-aggregated scalar sums. Cost is contingency
  * cells, never n².
  */
object RandIndex {

  /** One row: (index_pairs, cluster_pairs, class_pairs, total_pairs) —
    * all exact BIGINTs. Inner-joins on id (shared-leaf convention).
    */
  def stats(assignment: DataFrame, truth: DataFrame): DataFrame = {
    val j = assignment
      .select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component"))
      .join(truth.select(col("id").cast("long").as("id"),
        col("entity_id").cast("long").as("entity_id")), "id")
    // feeds all four aggregates
    val (ct, _) = graft.Ckpt.settle(j.groupBy("component", "entity_id")
      .agg(count(lit(1)).as("c_ct"))).head
    // n(n−1) is even, so a right-shift IS the exact integer halving — all
    // arithmetic stays LongType (Column `/` is Divide, which would route
    // through DOUBLE and lose exactness past 2^53 pair counts).
    def c2(c: org.apache.spark.sql.Column) = shiftright(c * (c - 1), 1)
    val cells = ct.agg(sum(c2(col("c_ct"))).as("index_pairs"),
      sum(col("c_ct")).as("n_total"))
    val byCluster = ct.groupBy("component").agg(sum("c_ct").as("n"))
      .agg(sum(c2(col("n"))).as("cluster_pairs"))
    val byClass = ct.groupBy("entity_id").agg(sum("c_ct").as("n"))
      .agg(sum(c2(col("n"))).as("class_pairs"))
    cells.crossJoin(byCluster).crossJoin(byClass)
      .select(
        col("index_pairs").cast("long").as("index_pairs"),
        col("cluster_pairs").cast("long").as("cluster_pairs"),
        col("class_pairs").cast("long").as("class_pairs"),
        c2(col("n_total")).cast("long").as("total_pairs"))
  }

  /** Adjusted Rand Index from a [[stats]] row. 1 for identical
    * partitions; ~0 for independent ones; negative when agreement is
    * below chance. Degenerate case (expected == max, e.g. both
    * partitions all-singletons) returns 1 when the partitions agree
    * perfectly, else 0 — the scikit-learn convention.
    */
  def adjusted(stats: DataFrame): Double = {
    val r = stats.head()
    val (idx, sc, st, tot) =
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
    val expected = if (tot == 0) 0.0 else sc * st / tot
    val max = (sc + st) / 2
    if (max == expected) { if (idx == expected) 1.0 else 0.0 }
    else (idx - expected) / (max - expected)
  }
}
