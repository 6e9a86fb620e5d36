package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Judgement processing: convert (shown cluster, endorsed sub-cluster) rows
  * into net pair-wise verdicts (reference: src/matchbox/common/eval.py
  * `process_judgements`).
  *
  * A user shown cluster (1234) who endorses (1), (23), (4) implies +1 for
  * pair (2,3) and -1 for every other pair of (1234). Because each
  * endorsement arrives as its own row, the reference uses weighted scoring
  * that sums to the right net regardless of row order:
  *
  * - pairs within the endorsed set: `+1 + (|shown| - |endorsed|) / |shown|`
  * - other pairs of the shown set: `-|endorsed| / |shown|`
  *
  * Implemented distributed: expansion joins, pair generation with a
  * sorted-array `transform` (no driver-side combinations), explode, and a
  * groupBy-sum keyed on the canonical pair.
  */
object Judgements {

  /** All sorted pairs of an array column, as structs (a, b). */
  private def pairsExpr(arr: String): String =
    s"""flatten(transform(array_sort($arr), (x, i) ->
       |  transform(slice(array_sort($arr), i + 2, size($arr)), y ->
       |    named_struct('a', x, 'b', y))))""".stripMargin

  /** @param judgements (shown, endorsed) cluster-id rows
    * @param expansion  (root, leaves array<long>) cluster expansion; endorsed
    *                   ids without an expansion are treated as singleton leaves
    * @return (a, b, net) canonical pairs with net endorsement weight
    */
  def net(judgements: DataFrame, expansion: DataFrame): DataFrame = {
    // Same quadratic trap as eval pair expansion: one shown cluster of |C|
    // leaves emits |C|²/2 pairs from a single row. A judgement UI would
    // never show a 100k-member cluster, so an oversized expansion here
    // means upstream over-merge — fail loudly rather than OOM the task
    // (spark.graft.eval.maxClusterSize, shared with PrecisionRecall).
    val maxSize = judgements.sparkSession.conf
      .get("spark.graft.eval.maxClusterSize", "100000").toLong
    val oversized = expansion.filter(size(col("leaves")) > maxSize)
      .select(col("root"), size(col("leaves")).as("n")).take(1)
    if (oversized.nonEmpty) {
      val r = oversized.head
      throw new IllegalStateException(
        s"judgement cluster ${r.get(0)} has ${r.getInt(1)} leaves; netting would " +
          s"expand ~${r.getInt(1).toLong * r.getInt(1) / 2} pairs from one row. " +
          "Raise spark.graft.eval.maxClusterSize only if a cluster this size is " +
          "genuinely expected in judgements.")
    }
    val shownExp = expansion.select(col("root").as("shown"), col("leaves").as("shown_leaves"))
    val endorsedExp = expansion.select(col("root").as("endorsed"), col("leaves").as("endorsed_leaves"))
    // jid pins each judgement row for the two-stage pair fan-out below;
    // the checkpoint computes the id assignment once for all three reads.
    val (expanded, _) = graft.Ckpt.settle(judgements
      .join(shownExp, "shown")
      .join(endorsedExp, Seq("endorsed"), "left")
      .withColumn("endorsed_leaves",
        coalesce(col("endorsed_leaves"), array(col("endorsed").cast("long"))))
      .withColumn("n_shown", size(col("shown_leaves")))
      .withColumn("n_endorsed", size(col("endorsed_leaves")))
      .withColumn("jid", monotonically_increasing_id())
      .withColumn("sl", expr("array_sort(shown_leaves)"))
      .withColumn("el", expr("array_sort(endorsed_leaves)"))).head
    val arrays = expanded.select(col("jid"), col("sl"), col("el"))
    // Explicit partition count: the pre-explode rows are tiny, so AQE
    // would coalesce an expression-only repartition back to one partition
    // — blind to the ~|C|× amplification the explode applies after it. A
    // user-specified count is exempt from AQE coalescing.
    val fanout = judgements.sparkSession.sessionState.conf.numShufflePartitions

    // Pair generation in two distributed stages: explode the LEFT element
    // with its position, spread those rows across the cluster, re-attach
    // the (broadcast — judgement rows are human-scale) sorted array, and
    // emit only the tail pairs. A shown cluster of |C| leaves fans out as
    // |C| shuffled rows each emitting ≤|C| pairs, instead of |C|²/2 pairs
    // erupting from ONE task — the expansion parallelism now tracks leaf
    // count, not judgement count. Each pair still receives exactly the
    // same ≤2 weight terms, and IEEE addition of two terms is
    // order-insensitive, so the netting stays bit-exact.
    val positive = expanded
      .select(col("jid"),
        (lit(1.0) + (col("n_shown") - col("n_endorsed")) / col("n_shown")).as("w"),
        posexplode(col("el")).as(Seq("i", "a")))
      .repartition(fanout, col("jid"), col("i"))
      .join(broadcast(arrays.select(col("jid"), col("el"))), "jid")
      .select(col("a"), explode(expr("slice(el, i + 2, size(el))")).as("b"), col("w"))
    // negative = shown pairs not fully inside this row's endorsed set
    val negative = expanded
      .select(col("jid"),
        (-col("n_endorsed").cast("double") / col("n_shown")).as("w"),
        posexplode(col("sl")).as(Seq("i", "a")))
      .repartition(fanout, col("jid"), col("i"))
      .join(broadcast(arrays), "jid")
      .select(col("a"), explode(expr("slice(sl, i + 2, size(sl))")).as("b"),
        col("w"), col("el"))
      .filter(not(
        array_contains(col("el"), col("a")) && array_contains(col("el"), col("b"))))
      .select("a", "b", "w")

    positive.unionByName(negative)
      .groupBy(col("a"), col("b"))
      .agg(sum("w").as("net"))
  }

  /** Judgement well-formedness (reference eval.py Judgement
    * model_validators, `check_no_duplicates` / `check_consistency`): within
    * one judgement event (grouped by `idCol`), no leaf may appear in more
    * than one endorsed group (or twice in a group), and the union of
    * endorsed leaves must equal the shown cluster's leaves.
    *
    * Returns the violating events with a reason — distributed, so a
    * petabyte judgement log validates as a groupBy, not a driver loop.
    */
  def invalid(judgements: DataFrame, expansion: DataFrame, idCol: String): DataFrame = {
    val shownExp = expansion.select(col("root").as("shown"), col("leaves").as("shown_leaves"))
    val endorsedExp = expansion.select(col("root").as("endorsed"), col("leaves").as("endorsed_leaves"))
    judgements
      .join(shownExp, "shown")
      .join(endorsedExp, Seq("endorsed"), "left")
      .withColumn("endorsed_leaves",
        coalesce(col("endorsed_leaves"), array(col("endorsed").cast("long"))))
      .groupBy(col(idCol).as("judgement_id"))
      .agg(
        sum(size(col("endorsed_leaves"))).as("n_endorsed"),
        size(array_distinct(flatten(collect_list(col("endorsed_leaves"))))).as("n_distinct"),
        first(col("shown_leaves")).as("shown_leaves"),
        flatten(collect_list(col("endorsed_leaves"))).as("all_endorsed"))
      .withColumn("reason",
        when(col("n_endorsed") =!= col("n_distinct"), lit("repeated leaf in endorsement"))
          .when(size(array_except(col("shown_leaves"), col("all_endorsed"))) > 0 ||
                size(array_except(col("all_endorsed"), col("shown_leaves"))) > 0,
            lit("endorsed leaves inconsistent with shown cluster")))
      .filter(col("reason").isNotNull)
      .select("judgement_id", "reason")
  }

  /** Throws IllegalArgumentException if any judgement event is malformed. */
  def validate(judgements: DataFrame, expansion: DataFrame, idCol: String): Unit = {
    val bad = invalid(judgements, expansion, idCol).take(5)
    require(bad.isEmpty,
      s"malformed judgements: ${bad.map(r => s"${r.get(0)}: ${r.getString(1)}").mkString("; ")}")
  }

  /** All leaves endorsed across judgements (the judgement leaf universe). */
  def leaves(judgements: DataFrame, expansion: DataFrame): DataFrame = {
    val endorsedExp = expansion.select(col("root").as("endorsed"), col("leaves"))
    judgements
      .join(endorsedExp, Seq("endorsed"), "left")
      .withColumn("leaves", coalesce(col("leaves"), array(col("endorsed").cast("long"))))
      .select(explode(col("leaves")).as("id"))
      .distinct()
  }
}
