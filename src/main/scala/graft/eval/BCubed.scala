package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** B-cubed (B³) extrinsic clustering evaluation (Bagga & Baldwin 1998;
  * the Amigó et al. 2009 survey's recommended metric family) — the
  * per-RECORD precision/recall view that the reference's pairwise
  * precision_recall (common/eval.py:52) does not cover: a record's
  * precision is the fraction of its cluster that shares its truth class,
  * its recall the fraction of its truth class that shares its cluster;
  * B³ precision/recall average these over all records, so singleton-heavy
  * and giant-cluster degenerate solutions are penalised where pairwise
  * counting under- or over-weights them.
  *
  * Everything reduces to the (cluster, class) contingency counts c_ct:
  * a record in cell (c, t) has precision c_ct/n_c and recall c_ct/n_t, so
  *   B³P = (1/N) Σ_c (Σ_t c_ct²)/n_c,  B³R = (1/N) Σ_t (Σ_c c_ct²)/n_t.
  * [[stats]] emits the per-group INTEGER sufficient statistics (n, Σc²)
  * — exact, order-insensitive, oracle-hashable — and [[precisionRecall]]
  * folds them into the two doubles with an exact integer+decimal
  * distributed reduction (two rows ever reach the driver).
  *
  * Scale shape: one equi-join on the record id, one groupBy on the
  * contingency cell, one groupBy per side — all partial-aggregated; no
  * pair materialisation (pairwise PR is Σn², B³ is Σ distinct cells).
  */
object BCubed {

  /** Exact sufficient statistics: one row per cluster (`side = "cluster"`)
    * and per truth class (`side = "class"`) with member count `n` and the
    * summed squared contingency overlaps `sq` = Σ c² over the other
    * dimension. B³ precision = (1/N)·Σ_cluster sq/n; recall symmetric
    * over classes.
    *
    * @param assignment (id, component) model clustering
    * @param truth      (id, entity_id) gold classes; inner-joined on id —
    *                   records absent from either side are excluded (the
    *                   shared-leaf convention of [[PrecisionRecall]])
    */
  def stats(assignment: DataFrame, truth: DataFrame): DataFrame = {
    val j = assignment
      .select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component"))
      .join(truth.select(col("id").cast("long").as("id"),
        col("entity_id").cast("long").as("entity_id")), "id")
    // feeds both side aggregates
    val (ct, _) = graft.Ckpt.settle(j.groupBy("component", "entity_id")
      .agg(count(lit(1)).as("c_ct"))).head
    val byCluster = ct.groupBy(col("component").as("group_id"))
      .agg(sum("c_ct").as("n"), sum(col("c_ct") * col("c_ct")).as("sq"))
      .withColumn("side", lit("cluster"))
    val byClass = ct.groupBy(col("entity_id").as("group_id"))
      .agg(sum("c_ct").as("n"), sum(col("c_ct") * col("c_ct")).as("sq"))
      .withColumn("side", lit("class"))
    byCluster.unionByName(byClass)
      .select(col("side"), col("group_id"), col("n"), col("sq"))
  }

  /** (B³ precision, B³ recall) from [[stats]] output — a fully
    * distributed reduction: the driver sees exactly TWO rows (one per
    * side) no matter how many clusters/classes exist, so a pathological
    * all-singletons clustering of a 100 TB corpus costs the driver
    * nothing.
    *
    * Determinism without driver ordering: Σ sq/n is split per group into
    * `sq DIV n` (exact BIGINT, order-insensitive sum) plus the proper
    * fraction `(sq mod n)/n` evaluated as a DECIMAL quotient — Spark
    * sizes DECIMAL(20,0)/DECIMAL(20,0) at precision 38 and adjusts the
    * result to DECIMAL(38,18), so the quotient lands at scale 18 —
    * rounded per ELEMENT (not per partial sum), so the decimal sum is
    * independent of partition order; total error ≤ G·5e-19 for G groups
    * (r12 ADVICE corrected the earlier scale-21/5e-22 claim).
    * A perfect clustering has sq = n² in every group, zero remainders,
    * and scores exactly 1.0.
    */
  def precisionRecall(stats: DataFrame): (Double, Double) = {
    val rows = stats.groupBy("side").agg(
        sum("n").as("nrec"),
        sum(expr("sq DIV n")).as("whole"),
        sum(expr("CAST(sq % n AS DECIMAL(20,0)) / CAST(n AS DECIMAL(20,0))"))
          .as("frac"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDecimal(3))))
      .toMap
    val total = rows("cluster")._1.toDouble
    def avg(side: String): Double = {
      val (_, whole, frac) = rows(side)
      (whole.toDouble + (if (frac == null) 0.0 else frac.doubleValue)) / total
    }
    (avg("cluster"), avg("class"))
  }
}
