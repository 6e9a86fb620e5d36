package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise precision / recall of model clusters against human judgements
  * (reference: src/matchbox/common/eval.py `precision_recall`).
  *
  * The reference expands clusters to pairs with itertools.combinations on
  * the driver. Until r12 this twin expanded within-cluster pairs with a
  * self-equi-join too (guarded and triangle-blocked) — but every model
  * pair that can ever be COUNTED must also be a judged pair, so the
  * expansion ran quadratic work in cluster size only to throw almost all
  * of it away against the judgement-sized net. r13 inverts the join
  * (the r12 verdict's "pair-free sufficient statistics" ask): the netted
  * judgement pairs — the small side by construction — are annotated with
  * each endpoint's cluster assignment via two id equi-joins, and a pair
  * is a model pair iff both components are present and equal. All three
  * counts (tp, n_model, n_validation) then come from ONE aggregation over
  * the net: no pair expansion exists anywhere in the evaluator, so an
  * over-merged model — the exact thing eval exists to catch — costs
  * O(|net|) instead of Ω(|C|²), and the old maxClusterSize guard and
  * triangle-block expansion machinery are gone because the wall they
  * guarded is gone.
  *
  * Scale shape at 100 TB: two shuffles of the judgement net on id
  * (broadcast-able when judgements are human-scale, which they are — a
  * judgement is something a person produced), one scalar aggregate.
  * The assignment table is only ever probed, never self-joined.
  *
  * Assumes each id carries one assignment row per model (the reference's
  * dict-shaped input guarantees the same); duplicate assignment rows
  * would multiply pair counts identically in the reference combinatorial
  * formulation.
  */
object PrecisionRecall {

  /** @param assignments (id, component) cluster assignments (model output)
    * @param judgements  (left_id, right_id, verdict) verdict +1 endorsed / -1 rejected,
    *                    possibly many judgements per pair
    * @return single row: tp, n_model, n_validation, precision, recall
    *
    * Semantics follow the reference: model pairs are implied within-cluster
    * pairs restricted to leaves that were judged; neutrally-netted pairs
    * (sum verdict == 0) are discarded from both sides; validation pairs are
    * those with positive net. Ratios are computed as exact integer counts
    * divided once — deterministic across engines.
    */
  def apply(assignments: DataFrame, judgements: DataFrame): DataFrame =
    fromNet(assignments, netOf(judgements))

  /** Canonicalise (left, right) pair orientation and net the verdicts —
    * shared by single- and multi-model scoring so the netting semantics
    * cannot diverge between them.
    */
  private def netOf(judgements: DataFrame): DataFrame = judgements
    .select(
      least(col("left_id"), col("right_id")).as("a"),
      greatest(col("left_id"), col("right_id")).as("b"),
      col("verdict"))
    .groupBy("a", "b")
    .agg(sum("verdict").cast("double").as("net"))

  /** Full reference semantics: judgements as (shown, endorsed) cluster rows
    * plus a cluster expansion table — netted by [[Judgements.net]].
    */
  def fromJudgements(
      assignments: DataFrame, judgements: DataFrame, expansion: DataFrame): DataFrame =
    fromNet(assignments, Judgements.net(judgements, expansion))

  /** Multi-model scoring (reference eval.py:52-153 `precision_recall` over a
    * *list* of models): pairs are restricted to leaves present in **all**
    * models ∩ the judgement leaves, so every model is scored on the same
    * universe; validation pairs (net > 0 within shared leaves) are common to
    * all models. Returns one row per model: (model, tp, n_model,
    * n_validation, precision, recall), ordered by model index.
    */
  def multi(models: Seq[DataFrame], judgements: DataFrame): DataFrame = {
    val net = netOf(judgements)
    val leaves = net.filter(col("net") =!= 0.0)
      .select(col("a").as("id"))
      .union(net.filter(col("net") =!= 0.0).select(col("b").as("id")))
      .distinct()
    multiFromNet(models, net, leaves)
  }

  /** Multi-model scoring from (shown, endorsed) judgement rows + cluster
    * expansion — the full reference input shape (eval.py:52 signature).
    */
  def multiFromJudgements(
      models: Seq[DataFrame], judgements: DataFrame, expansion: DataFrame): DataFrame =
    multiFromNet(models, Judgements.net(judgements, expansion),
      Judgements.leaves(judgements, expansion))

  /** Attach one endpoint's component: left join so a missing assignment
    * shows as NULL (pair falls outside the model's leaf universe) rather
    * than dropping the row before the other flags are read.
    */
  private def withComponent(
      net: DataFrame, assignments: DataFrame, end: String, as: String): DataFrame =
    net.join(
      assignments.select(col("id").as(end), col("component").as(as)),
      Seq(end), "left")

  private def multiFromNet(
      models: Seq[DataFrame], rawNet: DataFrame,
      rawJudgementLeaves: DataFrame): DataFrame = {
    require(models.nonEmpty, "at least one model required")
    var annotated = rawNet.filter(col("net") =!= 0.0)
    models.zipWithIndex.foreach { case (m, i) =>
      annotated = withComponent(
        withComponent(annotated, m, "a", s"ca_$i"), m, "b", s"cb_$i")
    }
    annotated = annotated
      .join(rawJudgementLeaves.select(col("id").as("a"), lit(1).as("ja")), Seq("a"), "left")
      .join(rawJudgementLeaves.select(col("id").as("b"), lit(1).as("jb")), Seq("b"), "left")

    // shared-leaf universe: both endpoints assigned by EVERY model and
    // present among the judgement leaves (reference: intersection of all
    // leaf sets)
    val inUniverse: Column =
      models.indices.map(i => col(s"ca_$i").isNotNull && col(s"cb_$i").isNotNull)
        .reduce(_ && _) && col("ja").isNotNull && col("jb").isNotNull
    val isValidation: Column = inUniverse && col("net") > 0

    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

    val aggs = cnt(isValidation).as("n_validation") +:
      models.indices.flatMap { i =>
        val isModel = inUniverse && col(s"ca_$i") === col(s"cb_$i")
        Seq(cnt(isModel).as(s"n_model_$i"), cnt(isModel && col("net") > 0).as(s"tp_$i"))
      }
    // one physical pass: the single-row aggregate explodes into one row
    // per model, so the net joins run once whatever the model count
    val perModel = models.indices.map { i =>
      struct(
        lit(i.toLong).as("model"),
        col(s"tp_$i").as("tp"), col(s"n_model_$i").as("n_model"), col("n_validation"),
        ratio(col(s"tp_$i"), col(s"n_model_$i")).as("precision"),
        ratio(col(s"tp_$i"), col("n_validation")).as("recall"))
    }
    annotated.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(perModel: _*)).as("m"))
      .select("m.*").orderBy("model")
  }

  private def fromNet(assignments: DataFrame, rawNet: DataFrame): DataFrame = {
    // single-model universe (reference single-model path): model pairs
    // need both endpoints judged (automatic — they come from the net) and
    // co-clustered; validation pairs (net > 0) must lie within the
    // model's leaf universe, i.e. both endpoints carry an assignment
    val annotated = withComponent(
      withComponent(rawNet.filter(col("net") =!= 0.0), assignments, "a", "ca"),
      assignments, "b", "cb")

    val inUniverse = col("ca").isNotNull && col("cb").isNotNull
    val isModel = inUniverse && col("ca") === col("cb")
    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

    annotated
      .agg(
        cnt(isModel && col("net") > 0).as("tp"),
        cnt(isModel).as("n_model"),
        cnt(inUniverse && col("net") > 0).as("n_validation"))
      .select(
        col("tp"), col("n_model"), col("n_validation"),
        ratio(col("tp"), col("n_model")).as("precision"),
        ratio(col("tp"), col("n_validation")).as("recall"))
  }

  /** Exact-integer ratio as double; an empty denominator (nothing judged
    * within the universe) scores NaN instead of tripping the ANSI
    * divide-by-zero error — deterministic either way.
    */
  private def ratio(num: Column, den: Column): Column =
    when(den === 0L, lit(Double.NaN))
      .otherwise(num.cast("double") / den.cast("double"))
}
