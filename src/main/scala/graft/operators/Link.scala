package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linking methodologies: two datasets in, scored pair edges out
  * (reference: src/matchbox/client/models/linkers/). Comparison conditions
  * are SQL boolean expressions over aliases `l` and `r` (the matchbox
  * comparison surface, models/comparison.py). They are handed to Catalyst as
  * join conditions, so equality conjuncts become shuffle/broadcast equi-join
  * keys — a comparison like `l.k = r.k AND abs(l.x - r.x) < 10` plans as a
  * hash join on `k` with a post-filter, never a cross product.
  *
  * Fellegi–Sunter (1969; the splink model matchbox wraps) is one model
  * here. Each comparison is a ladder of levels ([[LevelComparison]]) and a
  * pair's gamma is the first level that holds; a binary agree/disagree
  * comparison is a one-level ladder. Every scorer builds the same gamma
  * frame and looks up one value per gamma: match weights add, likelihood
  * ratios multiply, in declared order. A term-frequency adjustment is a
  * property of an exact level: its u becomes the corpus frequency of the
  * agreed value. EM is a source of m/u over the same gamma frame, scored as
  * the posterior lr / (lr + 1) with lr = λ/(1−λ) × the ratio product.
  */
object Link {

  /** Validates a comparison condition the way the reference does
    * (models/comparison.py `comparison`): it must parse as a boolean
    * expression, every column must be qualified as `l.` or `r.`, and both
    * sides must be referenced — an unreferenced side means the "comparison"
    * is really a filter and the join it feeds a cross product. Parsed with
    * Spark's own SQL parser, so whatever passes here is exactly what the
    * join will evaluate.
    */
  def validateComparison(cond: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    val parsed =
      try CatalystSqlParser.parseExpression(cond)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"comparison does not parse: $cond", e)
      }
    // lambda arguments (`exists(l.tags, t -> ...)`) parse as plain
    // attributes in the body — binding happens at analysis — so collect
    // their names first and exempt them from the qualification rule
    val lambdaArgs = scala.collection.mutable.Set[String]()
    parsed.foreach {
      case f: LambdaFunction => f.arguments.foreach {
        case v: UnresolvedNamedLambdaVariable =>
          lambdaArgs ++= v.nameParts.map(_.toLowerCase)
        case _ => ()
      }
      case _ => ()
    }
    var left = false; var right = false
    def check(rawParts: Seq[String]): Unit = rawParts.map(_.toLowerCase) match {
      case parts if parts.length > 1 && parts.head == "l" => left = true
      case parts if parts.length > 1 && parts.head == "r" => right = true
      case parts if parts.length == 1 && lambdaArgs(parts.head) => ()
      case parts => throw new IllegalArgumentException(
        s"column ${parts.mkString(".")} must be qualified as l.<col> or r.<col> in: $cond")
    }
    parsed.foreach {
      case a: UnresolvedAttribute => check(a.nameParts)
      // the parser wraps EVERY attribute inside a lambda body as a
      // lambda-variable candidate (binding happens at analysis) — a
      // multi-part one is really an outer column reference
      case v: UnresolvedNamedLambdaVariable => check(v.nameParts)
      case _ => ()
    }
    require(left && right, s"comparison must reference both l. and r. columns: $cond")
  }

  private def pairs(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      condition: String): DataFrame =
    left.alias("l")
      .join(right.alias("r"), expr(condition))
      .select(
        col(s"l.$leftId").cast("long").as("left_id"),
        col(s"r.$rightId").cast("long").as("right_id"))

  /** DeterministicLinker, single round: the union of all comparisons'
    * matches (OR logic), distinct, score 1.0.
    * (reference: models/linkers/deterministic.py `_link_round`)
    */
  def deterministic(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      comparisons: Seq[String]): DataFrame = {
    require(comparisons.nonEmpty, "need at least one comparison")
    comparisons.foreach(validateComparison)
    comparisons
      .map(c => pairs(left, right, leftId, rightId, c))
      .reduce(_ union _)
      .distinct()
      .withColumn("score", lit(1.0))
  }

  /** DeterministicLinker, sequential rounds: after each round, every matched
    * left/right id is removed from the candidate pool (left anti join) before
    * the next round runs (reference: deterministic.py `link`).
    */
  def deterministicRounds(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      rounds: Seq[Seq[String]]): DataFrame = {
    require(rounds.nonEmpty, "deterministicRounds needs at least one round")
    var remainingL = left
    var remainingR = right
    rounds.zipWithIndex.map { case (round, i) =>
      val found = deterministic(remainingL, remainingR, leftId, rightId, round)
      if (i == rounds.size - 1) found
      else {
        // This round's matches feed the result union AND both anti-join
        // sides; the shrunken pools feed the next round. Without truncation
        // the plan for round r embeds the full join work of rounds 1..r-1
        // (and replays this round's join three times) — O(R^2) recompute.
        // Settling materializes each once and cuts lineage per round.
        val (matches, _) = graft.Ckpt.settle(found).head
        val ml = matches.select(col("left_id")).distinct()
        val mr = matches.select(col("right_id")).distinct()
        val Seq((l, _), (r, _)) = graft.Ckpt.settle(
          remainingL.join(ml, remainingL(leftId) === ml("left_id"), "left_anti"),
          remainingR.join(mr, remainingR(rightId) === mr("right_id"), "left_anti"))
        remainingL = l
        remainingR = r
        matches
      }
    }.reduce(_ union _)
  }

  /** Splits a comparison on top-level AND nodes of its *parsed* expression.
    * Walking the AST (not the text) means SQL precedence is respected —
    * `a AND b OR c` parses as `(a AND b) OR c`, whose top level is an Or, so
    * it yields a single conjunct — and ` AND ` inside string literals is
    * never mistaken for a connective.
    */
  private[graft] def splitConjuncts(cond: String)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    def walk(e: Expression): Seq[Expression] = e match {
      case And(a, b) => walk(a) ++ walk(b)
      case other => Seq(other)
    }
    walk(CatalystSqlParser.parseExpression(cond))
  }

  /** If `e` is an equality between an `l.`-qualified and an `r.`-qualified
    * column (either order), the canonical (leftCol, rightCol) pair. The
    * alias qualifier is matched case-insensitively, but column-name case is
    * PRESERVED: the caller rebuilds join conditions from these names, and
    * lower-casing them would break resolution under
    * spark.sql.caseSensitive=true (and wrongly fuse columns differing only
    * by case). Mixed-case spellings of the same column simply don't fuse —
    * a missed optimisation, never a wrong plan.
    */
  private[graft] def asEquiConjunct(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    def side(a: Any): Option[(String, String)] = a match {
      case attr: UnresolvedAttribute =>
        attr.nameParts match {
          case Seq(q, c) if q.equalsIgnoreCase("l") || q.equalsIgnoreCase("r") =>
            Some((q.toLowerCase, c))
          case _ => None
        }
      case _ => None
    }
    e match {
      case EqualTo(a, b) =>
        (side(a), side(b)) match {
          case (Some(("l", lc)), Some(("r", rc))) => Some((lc, rc))
          case (Some(("r", rc)), Some(("l", lc))) => Some((lc, rc))
          case _ => None
        }
      case _ => None
    }
  }

  /** WeightedDeterministicLinker: each comparison contributes its weight when
    * it matches; score = matched weight / total weight, kept when >=
    * threshold (reference: models/linkers/weighteddeterministic.py).
    * Weights are combined with exact integer arithmetic (milli-weights) so
    * scores are bit-identical across engines.
    *
    * Scale shape: comparisons whose top-level equality conjuncts
    * (`l.x = r.y`) are identical are **fused into one join** — the residual
    * conjuncts become per-comparison match flags — so N comparisons over a
    * shared blocking key cost one shuffle, not N. Matched comparisons are
    * carried as a bitmask and combined with a single `bit_or` groupBy (one
    * map-side-combinable shuffle) instead of per-comparison DISTINCTs.
    */
  def weighted(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      weightedComparisons: Seq[(String, Double)],
      threshold: Double): DataFrame = {
    require(weightedComparisons.nonEmpty, "need at least one comparison")
    require(weightedComparisons.size <= 63, "bitmask carries at most 63 comparisons")
    weightedComparisons.foreach(c => validateComparison(c._1))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val milli = weightedComparisons.map(w => math.round(w._2 * 1000))
    val totalMilli = milli.sum
    val parsed = weightedComparisons.zipWithIndex.map { case ((cond, _), idx) =>
      val conjuncts = splitConjuncts(cond).map(e => (asEquiConjunct(e), e))
      val (equis, residuals) = conjuncts.partition(_._1.isDefined)
      (equis.flatMap(_._1).sorted, residuals.map(_._2), idx, cond)
    }
    val tagged = parsed.groupBy(_._1).toSeq.sortBy(_._1.mkString(",")).map {
      case (equiKeys, members) =>
        if (equiKeys.isEmpty)
          // No top-level equality conjunct to block on (including pure-OR
          // comparisons): per-comparison join — the caller's condition
          // decides the join strategy, semantics untouched.
          members.map { case (_, _, idx, cond) =>
            pairs(left, right, leftId, rightId, cond)
              .withColumn("cmask", lit(1L << idx))
          }.reduce(_ unionByName _)
        else {
          val mask = members.map { case (_, residuals, idx, _) =>
            val flag =
              if (residuals.isEmpty) lit(true)
              else residuals.map(ColumnBridge.column).reduce(_ && _)
            when(flag, lit(1L << idx)).otherwise(lit(0L))
          }.reduce(_ + _)
          val joinCond = equiKeys
            .map { case (lc, rc) => col(s"l.$lc") === col(s"r.$rc") }
            .reduce(_ && _)
          left.alias("l")
            .join(right.alias("r"), joinCond)
            .select(
              col(s"l.$leftId").cast("long").as("left_id"),
              col(s"r.$rightId").cast("long").as("right_id"),
              mask.as("cmask"))
            .filter(col("cmask") =!= 0)
        }
    }.reduce(_ unionByName _)
    val weightFromMask = weightedComparisons.indices.map { i =>
      when(col("cmask").bitwiseAND(lit(1L << i)) =!= 0, lit(milli(i))).otherwise(lit(0L))
    }.reduce(_ + _)
    tagged.groupBy("left_id", "right_id")
      .agg(expr("bit_or(cmask)").as("cmask"))
      .withColumn("score", weightFromMask / (1.0 * totalMilli))
      .filter(col("score") >= threshold)
      .select("left_id", "right_id", "score")
  }

  /** One comparison: ordered levels, strongest first (splink's comparison
    * levels — reference splinklinker.py:112, `cl.jaro_winkler_at_thresholds`).
    * A pair's gamma is `levels.size - idx` for the FIRST level that holds,
    * 0 when none does. `weights(g)` is the literal gamma `g` contributes
    * (`weights(0)` = all levels miss): a match weight or a likelihood ratio,
    * so scores are literal sums or products — bit-exact across engines.
    * `nullLevel` is splink's null contract: when it holds (canonically
    * `l.f IS NULL OR r.f IS NULL`) the comparison is UNOBSERVED — gamma −1
    * contributes nothing and EM leaves the pair out of that comparison's
    * m/u, where a NULL would otherwise count as a miss and bias m/u down.
    */
  final case class LevelComparison(levels: Seq[String], weights: Seq[Double],
      nullLevel: Option[String] = None) {
    require(weights.size == levels.size + 1,
      s"need ${levels.size + 1} weights (levels + else), got ${weights.size}")
    def gammaOf: org.apache.spark.sql.Column = {
      val L = levels.size
      val withNull = nullLevel.foldLeft(
        org.apache.spark.sql.functions.when(lit(false), 0)) {
        (acc, cond) => acc.when(expr(cond), -1) // null check precedes levels
      }
      levels.zipWithIndex
        .foldLeft(withNull) {
          case (acc, (cond, idx)) => acc.when(expr(cond), L - idx)
        }.otherwise(0)
    }
    private[operators] def allConditions: Seq[String] = levels ++ nullLevel
  }

  /** `values(g)` at gamma g (0..L), `neutral` at the null level (gamma −1):
    * one array lookup that names `gamma` once. A `when` per level names it
    * L+1 times, and Catalyst inlines the gamma's whole CASE ladder at each
    * reference once the score filter is pushed into the join condition.
    */
  private def perLevel(gamma: Column, neutral: Double, values: Seq[Column]): Column =
    element_at(array(lit(neutral) +: values: _*), gamma + 2)

  /** The candidate builder behind every Fellegi–Sunter scorer: validates
    * every condition and returns the blocked pairs (still aliased `l`, `r`)
    * and the TF corpus row count (0 without TF). One rule is one equi-join;
    * several (splink's `blocking_rules_to_generate_predictions`) are the
    * deduplicated union of each rule's own equi-join, re-attributed once.
    * `tf` = (`l.` value, corpus, column) left-joins the value's corpus
    * frequency as `tf_cnt` from one groupBy, never a driver collect.
    */
  private def blocked(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String,
      blocking: Seq[String], comparisons: Seq[LevelComparison],
      tf: Option[(String, DataFrame, String)] = None): (DataFrame, Long) = {
    require(blocking.nonEmpty, "need at least one blocking rule")
    require(comparisons.nonEmpty, "need at least one comparison")
    blocking.foreach(validateComparison)
    comparisons.foreach(_.allConditions.foreach(validateComparison))
    val cand = blocking match {
      case Seq(rule) => left.alias("l").join(right.alias("r"), expr(rule))
      case rules => rules.map(pairs(left, right, leftId, rightId, _)).reduce(_ union _)
        .distinct()
        .join(left.alias("l"), col(s"l.$leftId").cast("long") === col("left_id"))
        .join(right.alias("r"), col(s"r.$rightId").cast("long") === col("right_id"))
    }
    tf.fold((cand, 0L)) { case (value, corpus, corpusCol) =>
      val total = corpus.count()
      require(total > 0, "TF corpus is empty")
      val freq = corpus.groupBy(col(corpusCol).as("tf_value")).agg(count(lit(1)).as("tf_cnt"))
      (cand.join(freq, expr(value) === col("tf_value"), "left"), total)
    }
  }

  /** (left_id, right_id, `carry` (source expr → name)[, tf_cnt], gamma per
    * comparison as `names`) of blocked pairs. A value the TF corpus lacks
    * floors at tf_cnt = 1, not a NULL ratio the threshold would drop.
    */
  private def gammas(
      cand: DataFrame, leftId: String, rightId: String,
      comparisons: Seq[LevelComparison], names: Seq[String],
      tf: Boolean = false, carry: Seq[(String, String)] = Nil): DataFrame =
    cand.select(
      (Seq(col(s"l.$leftId").cast("long").as("left_id"),
           col(s"r.$rightId").cast("long").as("right_id")) ++
        carry.map { case (src, dst) => col(src).as(dst) } ++
        (if (tf) Seq(coalesce(col("tf_cnt"), lit(1L)).as("tf_cnt")) else Nil) ++
        comparisons.zip(names).map { case (c, n) => c.gammaOf.as(n) }): _*)

  private def named(prefix: String, n: Int): Seq[String] = (0 until n).map(i => s"$prefix$i")

  /** The scoring tail: comparison i contributes `values(i)` at gamma column
    * `names(i)`, the neutral element at the null level; weights add (`sum`),
    * ratios multiply, in declared order. With `tfTotal` comparison 0's exact
    * slot holds m and contributes m / (tf_cnt / total); with `lambda` the
    * product becomes lr / (lr + 1), lr = λ/(1−λ) × product. Keeps
    * `out` >= threshold.
    */
  private def scored(
      frame: DataFrame, names: Seq[String], values: Seq[Seq[Double]], sum: Boolean,
      out: String, threshold: Double,
      tfTotal: Option[Long] = None, lambda: Option[Double] = None): DataFrame = {
    val slots = values.map(_.map(lit))
    val adjusted = tfTotal.fold(slots) { total =>
      (slots.head.init :+ slots.head.last /
        (col("tf_cnt").cast("double") / lit(total.toDouble))) +: slots.tail
    }
    // + 0.0 turns a −0.0 weight into 0.0, the zero the null level adds
    val terms = names.zip(adjusted).map { case (n, v) =>
      if (sum) perLevel(col(n), 0.0, v) + 0.0 else perLevel(col(n), 1.0, v)
    }
    val combined = if (sum) terms.reduce(_ + _) else terms.reduce(_ * _)
    val score = lambda.fold(combined) { l =>
      val lr = lit(l / (1 - l)) * combined
      lr / (lr + 1)
    }
    frame.withColumn(out, score).filter(col(out) >= threshold)
  }

  /** Fellegi–Sunter with fixed binary (cond, agreeWeight, disagreeWeight)
    * comparisons (splink with pre-estimated parameters — reference
    * splinklinker.py): one-level ladders scored by [[fellegiSunterLevels]];
    * a NULL condition is a disagreement. Returns (left_id, right_id,
    * match_weight).
    */
  def fellegiSunter(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      comparisons: Seq[(String, Double, Double)], // (cond, agreeWeight, disagreeWeight)
      threshold: Double): DataFrame =
    fellegiSunterLevels(left, right, leftId, rightId, blocking,
      comparisons.map { case (cond, a, d) => LevelComparison(Seq(cond), Seq(d, a)) },
      threshold)
      .select("left_id", "right_id", "match_weight")

  /** Fellegi–Sunter over multi-level comparisons with fixed per-level
    * weights: the gammas (`gamma<i>`, like splink's `gamma_<comparison>`)
    * and the summed `match_weight`, kept at or above `threshold`. One
    * equi-join on `blocking`; each level ladder (with the native
    * `jaro_winkler_similarity`) runs once in the join condition and once in
    * the projection, because the weight names each gamma once.
    */
  def fellegiSunterLevels(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[LevelComparison],
      threshold: Double): DataFrame =
    fellegiSunterLevelsMulti(left, right, leftId, rightId, Seq(blocking),
      comparisons, threshold)

  /** [[fellegiSunterLevels]] with a LIST of blocking rules: the candidates
    * are the deduplicated union of every rule's equi-join.
    */
  def fellegiSunterLevelsMulti(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String,
      blockingRules: Seq[String], comparisons: Seq[LevelComparison],
      threshold: Double): DataFrame =
    scoreLevels(blocked(left, right, leftId, rightId, blockingRules, comparisons)._1,
      leftId, rightId, comparisons, threshold)

  /** [[fellegiSunterLevels]] over blocked pairs (aliased `l`, `r`) that the
    * caller joined, e.g. the streaming twin's stream-static join.
    */
  private[graft] def scoreLevels(
      cand: DataFrame, leftId: String, rightId: String,
      comparisons: Seq[LevelComparison], threshold: Double,
      carry: Seq[(String, String)] = Nil): DataFrame = {
    val names = named("gamma", comparisons.size)
    scored(gammas(cand, leftId, rightId, comparisons, names, carry = carry), names,
      comparisons.map(_.weights), sum = true, "match_weight", threshold)
  }

  /** Fellegi–Sunter as a likelihood-ratio product (log2 differs in last
    * ulps across libms; ordered IEEE products do not) with splink's
    * `term_frequency_adjustments` (reference splinklinker.py:56-175) on the
    * exact level of `tfComparison` (exact equality on `tfLeftValue` first):
    * agreeing on a COMMON value is weaker evidence than on a rare one, so
    * that level's ratio is tfM / tf(value), tf = corpus frequency of the
    * agreed value; `tfLevelRatios` (gamma 0..L-1) and `others` ((levels,
    * ratio per gamma)) stay fixed, since a fuzzy match doesn't pin down
    * WHICH value was shared. The TF ratio comes first in the product.
    * Returns (left_id, right_id, gamma_tf, gamma<i> per other, match_ratio).
    */
  def fellegiSunterLevelsTf(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      tfComparison: Seq[String], tfLeftValue: String,
      tfM: Double, tfLevelRatios: Seq[Double],
      corpus: DataFrame, corpusCol: String,
      others: Seq[(Seq[String], Seq[Double])],
      threshold: Double): DataFrame = {
    require(tfLevelRatios.size == tfComparison.size,
      s"need ${tfComparison.size} non-exact ratios (gamma 0..${tfComparison.size - 1})")
    val comparisons = LevelComparison(tfComparison, tfLevelRatios :+ tfM) +:
      others.map { case (levels, ratios) => LevelComparison(levels, ratios) }
    val names = "gamma_tf" +: named("gamma", others.size)
    val (cand, total) = blocked(left, right, leftId, rightId, Seq(blocking), comparisons,
      Some((tfLeftValue, corpus, corpusCol)))
    scored(gammas(cand, leftId, rightId, comparisons, names, tf = true), names,
      comparisons.map(_.weights), sum = false, "match_ratio", threshold, Some(total))
      .drop("tf_cnt")
  }

  /** [[fellegiSunterLevelsTf]] with binary comparisons: `tfAgree` (ratio
    * tfM / tf(value), else `tfDisagreeRatio`) and (cond, agreeRatio,
    * disagreeRatio) `others`. Returns (left_id, right_id, match_ratio).
    */
  def fellegiSunterTf(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      tfAgree: String, tfLeftValue: String,
      tfM: Double, tfDisagreeRatio: Double,
      corpus: DataFrame, corpusCol: String,
      others: Seq[(String, Double, Double)],
      threshold: Double): DataFrame =
    fellegiSunterLevelsTf(left, right, leftId, rightId, blocking,
      Seq(tfAgree), tfLeftValue, tfM, Seq(tfDisagreeRatio), corpus, corpusCol,
      others.map { case (cond, a, d) => (Seq(cond), Seq(d, a)) }, threshold)
      .select("left_id", "right_id", "match_ratio")

  /** Fellegi–Sunter with EM-estimated m/u over binary comparisons:
    * [[emCandidates]] then [[fellegiSunterEmOnCandidates]]. `uInit` seeds u
    * (e.g. [[estimateU]]'s random-pair sample, the splink recipe); with
    * `trainU = false` it stays fixed and EM trains only λ and m — blocked
    * pairs over-represent agreement, so splink pins the sampled u.
    */
  def fellegiSunterEm(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      comparisons: Seq[String],
      iterations: Int = 20, lambdaInit: Double = 0.1, threshold: Double = 0.5,
      uInit: Option[Seq[Double]] = None,
      trainU: Boolean = true): (DataFrame, Seq[(Double, Double)]) =
    fellegiSunterEmOnCandidates(
      emCandidates(left, right, leftId, rightId, blocking, comparisons),
      comparisons.size, iterations, lambdaInit, threshold, uInit, trainU)

  /** [[emLevelsCandidates]] with binary (one-level) comparisons. */
  def emCandidates(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      comparisons: Seq[String]): DataFrame =
    emLevelsCandidates(left, right, leftId, rightId, blocking, comparisons.map(Seq(_)))

  /** Binary EM over an [[emCandidates]] frame: only the ≤ 2^k-row pattern
    * table reaches the driver. Returns (left_id, right_id, score) and (m, u)
    * per comparison.
    */
  def fellegiSunterEmOnCandidates(
      cand: DataFrame, nComparisons: Int,
      iterations: Int = 20, lambdaInit: Double = 0.1, threshold: Double = 0.5,
      uInit: Option[Seq[Double]] = None,
      trainU: Boolean = true): (DataFrame, Seq[(Double, Double)]) = {
    uInit.foreach(u => require(u.size == nComparisons,
      s"uInit has ${u.size} entries for $nComparisons comparisons"))
    val patterns = patternCounts(cand, nComparisons)
    var lambda = lambdaInit
    val m = Array.fill(nComparisons)(0.9)
    val u = uInit.map(_.toArray).getOrElse(Array.fill(nComparisons)(0.1))
    for (_ <- 1 to iterations) {
      // E-step on patterns; M-step accumulators
      var wSum = 0.0; var nSum = 0.0
      val mNum = Array.fill(nComparisons)(0.0)
      val uNum = Array.fill(nComparisons)(0.0)
      patterns.foreach { case (g, n) =>
        val pm = g.zipWithIndex.map { case (gi, i) => if (gi == 1) m(i) else 1 - m(i) }.product
        val pu = g.zipWithIndex.map { case (gi, i) => if (gi == 1) u(i) else 1 - u(i) }.product
        val w = lambda * pm / (lambda * pm + (1 - lambda) * pu)
        wSum += w * n; nSum += n
        g.zipWithIndex.foreach { case (gi, i) =>
          if (gi == 1) { mNum(i) += w * n; uNum(i) += (1 - w) * n }
        }
      }
      lambda = math.min(math.max(wSum / nSum, 1e-9), 1 - 1e-9)
      m.indices.foreach { i =>
        m(i) = math.min(math.max(mNum(i) / wSum, 1e-6), 1 - 1e-6)
        if (trainU)
          u(i) = math.min(math.max(uNum(i) / (nSum - wSum), 1e-6), 1 - 1e-6)
      }
    }
    val ratios = m.indices.map(i => Seq((1 - m(i)) / (1 - u(i)), m(i) / u(i)))
    (scored(cand, named("g", nComparisons), ratios, sum = false, "score", threshold,
      lambda = Some(lambda)).select("left_id", "right_id", "score"),
      m.indices.map(i => (m(i), u(i))))
  }

  /** The blocked candidates with gammas g0..g(k-1), one per level list
    * (`nullConditions`: none, or one null level per comparison). Exposed so
    * gates can settle the join once and re-run training + scoring.
    */
  def emLevelsCandidates(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      comparisons: Seq[Seq[String]],
      nullConditions: Seq[Option[String]] = Nil): DataFrame = {
    require(nullConditions.isEmpty || nullConditions.size == comparisons.size,
      "nullConditions must be empty or align with comparisons")
    val ladders = comparisons.zip(nullConditions.padTo(comparisons.size, None))
      .map { case (levels, nul) => LevelComparison(levels, Seq.fill(levels.size + 1)(0.0), nul) }
    gammas(blocked(left, right, leftId, rightId, Seq(blocking), ladders)._1,
      leftId, rightId, ladders, named("g", ladders.size))
  }

  /** [[emLevelsCandidates]] for `tfComparison +: others` plus `tf_cnt`;
    * returns (candidates, corpus row count).
    */
  def emLevelsTfCandidates(
      left: DataFrame, right: DataFrame, leftId: String, rightId: String, blocking: String,
      tfComparison: Seq[String], tfLeftValue: String,
      corpus: DataFrame, corpusCol: String,
      others: Seq[Seq[String]]): (DataFrame, Long) = {
    val ladders = (tfComparison +: others).map(l => LevelComparison(l, Seq.fill(l.size + 1)(0.0)))
    val (cand, total) = blocked(left, right, leftId, rightId, Seq(blocking), ladders,
      Some((tfLeftValue, corpus, corpusCol)))
    (gammas(cand, leftId, rightId, ladders, named("g", ladders.size), tf = true), total)
  }

  /** EM over ordinal gammas (`levelCounts(i)` = levels of comparison i):
    * per-(comparison, level) m/u fitted on the ≤ Π(Lᵢ+1)-row pattern table.
    * With `tfTotal` (an [[emLevelsTfCandidates]] frame's corpus count),
    * comparison 0's exact level swaps its trained u for tf(value) at
    * scoring (reference splinklinker.py:56-175). Returns (the candidate
    * columns plus `score`, per-comparison (m, u) indexed by gamma).
    */
  def fellegiSunterEmLevelsOnCandidates(
      cand: DataFrame, levelCounts: Seq[Int],
      iterations: Int = 20, lambdaInit: Double = 0.1, threshold: Double = 0.5,
      tfTotal: Option[Long] = None): (DataFrame, Seq[(Seq[Double], Seq[Double])]) = {
    val (lambda, m, u) = emFitLevels(patternCounts(cand, levelCounts.size),
      levelCounts.map(_ + 1), iterations, lambdaInit)
    val ratios = m.indices.map(i => m(i).indices.map(g =>
      if (tfTotal.isDefined && i == 0 && g == levelCounts(0)) m(i)(g) else m(i)(g) / u(i)(g)))
    (scored(cand, named("g", m.length), ratios, sum = false, "score", threshold, tfTotal,
      Some(lambda)), m.indices.map(i => (m(i).toSeq, u(i).toSeq)))
  }

  /** The distributed half of EM: the (g0..gN) → count table, collected and
    * sorted so the driver's float accumulation is bit-deterministic. Every EM
    * gate check is a function of it: collect once and derive.
    */
  private[graft] def patternCounts(
      cand: DataFrame, nComparisons: Int): Seq[(IndexedSeq[Int], Long)] = {
    val gCols = named("g", nComparisons)
    cand.groupBy(gCols.map(col): _*).count()
      .collect()
      .map(row => (gCols.map(row.getAs[Int]).toIndexedSeq, row.getAs[Long]("count")))
      .sortBy(_._1.mkString(","))
      .toSeq
  }

  /** Driver-side Fellegi–Sunter posterior for one gamma pattern under
    * trained (λ, m, u) — the same formula the distributed scoring column
    * compiles to (null gamma −1 ⇒ likelihood factor 1).
    */
  private[graft] def levelPatternScore(
      g: IndexedSeq[Int], lambda: Double,
      m: Array[Array[Double]], u: Array[Array[Double]]): Double = {
    val ratio = g.zipWithIndex.map { case (gi, i) =>
      if (gi < 0) 1.0 else m(i)(gi) / u(i)(gi)
    }.product
    val lr = lambda / (1 - lambda) * ratio
    lr / (lr + 1)
  }

  /** The ordinal-gamma EM fit of [[fellegiSunterEmLevelsOnCandidates]],
    * driver-side over the sorted pattern table: (λ, m, u) with m/u indexed
    * (comparison)(gamma level), bit-identical run to run.
    */
  private[graft] def emFitLevels(
      patterns: Seq[(IndexedSeq[Int], Long)],
      nLevels: Seq[Int],
      iterations: Int,
      lambdaInit: Double): (Double, Array[Array[Double]], Array[Array[Double]]) = {
    var lambda = lambdaInit
    // init: agreement probability mass rises with level under match, falls
    // under non-match — any monotone init in (0,1) works; EM refines it
    val m = nLevels.map { ln =>
      val raw = Array.tabulate(ln)(g => 1.0 + 3.0 * g)
      val s = raw.sum; raw.map(_ / s)
    }.toArray
    val u = nLevels.map { ln =>
      val raw = Array.tabulate(ln)(g => math.pow(0.2, g))
      val s = raw.sum; raw.map(_ / s)
    }.toArray
    for (_ <- 1 to iterations) {
      var wSum = 0.0; var nSum = 0.0
      val mNum = nLevels.map(ln => new Array[Double](ln)).toArray
      val uNum = nLevels.map(ln => new Array[Double](ln)).toArray
      // per-comparison denominators: a gamma of -1 (null level — the
      // comparison is unobserved on that pair, splink's null handling)
      // contributes likelihood factor 1 and is excluded from that
      // comparison's m/u mass, so null pairs never move its estimates
      val mDen = new Array[Double](nLevels.size)
      val uDen = new Array[Double](nLevels.size)
      patterns.foreach { case (g, n) =>
        val pm = g.zipWithIndex.map { case (gi, i) => if (gi < 0) 1.0 else m(i)(gi) }.product
        val pu = g.zipWithIndex.map { case (gi, i) => if (gi < 0) 1.0 else u(i)(gi) }.product
        val w = lambda * pm / (lambda * pm + (1 - lambda) * pu)
        wSum += w * n; nSum += n
        g.zipWithIndex.foreach { case (gi, i) =>
          if (gi >= 0) {
            mNum(i)(gi) += w * n; uNum(i)(gi) += (1 - w) * n
            mDen(i) += w * n; uDen(i) += (1 - w) * n
          }
        }
      }
      lambda = math.min(math.max(wSum / nSum, 1e-9), 1 - 1e-9)
      nLevels.indices.foreach { i =>
        (0 until nLevels(i)).foreach { g =>
          m(i)(g) = math.min(math.max(mNum(i)(g) / mDen(i), 1e-6), 1 - 1e-6)
          u(i)(g) = math.min(math.max(uNum(i)(g) / uDen(i), 1e-6), 1 - 1e-6)
        }
      }
    }
    (lambda, m, u)
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo 1995 —
    * the classic alternative to key blocking, absent from splink but
    * standard in the record-linkage literature): records sort by a fuzzy
    * key and every pair within `window` positions becomes a candidate, so
    * near-misses that share no exact blocking key (typos early in the
    * key) still meet if they sort adjacently.
    *
    * Scale shape: the sort is per-`block` (a window partition, never a
    * global single-reducer sort); one window pass computes all `window`
    * leads as an array that explodes map-side — no self-join on rank. Ties
    * break by id, so candidates are deterministic. Each block sorts within
    * ONE task, so block cardinality must be ≫ cores and per-block row
    * count bounded (e.g. a sort-key prefix as the block) — a handful of
    * giant blocks is the one shape this operator cannot spread. Pairs at
    * block boundaries are missed like in any blocked scheme; choose blocks
    * orthogonal to the sort key (or run multiple passes, the multi-key SN
    * standard) to cover them.
    *
    * @return (left_id, right_id, dist) — right follows left in sort order
    *         at distance 1..window
    */
  def sortedNeighborhood(
      df: DataFrame, idCol: String,
      sortKey: Column, block: Column, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sn_block").orderBy(col("sn_key"), col("sn_id"))
    df.select(col(idCol).cast("long").as("sn_id"),
        sortKey.as("sn_key"), block.as("sn_block"))
      .select(col("sn_id").as("left_id"),
        array((1 to window).map(k => lead(col("sn_id"), k).over(w)): _*)
          .as("nbrs"))
      .select(col("left_id"), posexplode(col("nbrs")).as(Seq("pos", "right_id")))
      .filter(col("right_id").isNotNull)
      .select(col("left_id"), col("right_id"),
        (col("pos") + 1).cast("int").as("dist"))
  }

  /** Estimate the prior probability that two random records match, from
    * deterministic rules of known recall (the splink
    * `estimate_probability_two_random_records_match` surface — reference:
    * models/linkers/splinklinker.py linker_training_functions). Distributed:
    * one count aggregate over the rule matches.
    */
  def estimateLambda(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      deterministicRules: Seq[String], recall: Double): Double = {
    require(recall > 0 && recall <= 1)
    require(deterministicRules.nonEmpty, "need at least one deterministic rule")
    deterministicRules.foreach(validateComparison)
    val matched = deterministicRules
      .map(c => pairs(left, right, leftId, rightId, c))
      .reduce(_ union _)
      .distinct()
      .count()
    val total = left.count().toDouble * right.count().toDouble
    math.min(math.max((matched / recall) / total, 1e-9), 1 - 1e-9)
  }

  /** u estimation from random pair sampling — the twin of splink's
    * `estimate_u_using_random_sampling` (reference splinklinker.py:80,
    * `linker_training_functions`). Random pairs are overwhelmingly
    * non-matches, so each comparison's agreement rate over a uniform pair
    * sample estimates u = P(agree | non-match) *without blocking bias*: u
    * trained only on blocked candidates is inflated, because blocking keys
    * correlate with the comparisons.
    *
    * Scale shape: √maxPairs rows are drawn from each side by xxhash64
    * ordering (deterministic pseudo-random, plans as a distributed top-k —
    * the same device as Ivf.fitCentroids), and their cross join is exactly
    * maxPairs distributed rows; all k agreement rates come back in ONE
    * aggregate. Nothing quadratic in the inputs ever runs.
    */
  def estimateU(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      comparisons: Seq[String],
      maxPairs: Long = 1000000L): Seq[Double] = {
    require(maxPairs >= 4, "maxPairs too small to sample")
    require(comparisons.nonEmpty, "need at least one comparison")
    comparisons.foreach(validateComparison)
    val perSide = math.max(2, math.sqrt(maxPairs.toDouble).toLong.toInt)
    def sample(df: DataFrame, id: String) =
      df.orderBy(xxhash64(col(id)), col(id)).limit(perSide)
    // A global sort-limit leaves ONE partition, which would run the whole
    // ~maxPairs-row nested-loop probe in a single task; spread the probe
    // side back across the cluster first (the agreement indicators are 0/1
    // doubles, so the partial averages re-combine exactly regardless of
    // partitioning — the estimate is bit-identical).
    val parallelism = left.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = sample(left, leftId).repartition(parallelism).alias("l")
      .crossJoin(broadcast(sample(right, rightId).alias("r")))
    val rates = pairs.agg(
      avg(when(expr(comparisons.head), 1.0).otherwise(0.0)).as("u0"),
      comparisons.tail.zipWithIndex.map { case (c, i) =>
        avg(when(expr(c), 1.0).otherwise(0.0)).as(s"u${i + 1}")
      }: _*).head()
    require(!rates.isNullAt(0),
      "cannot estimate u: the sampled pair set is empty (empty input side?)")
    comparisons.indices
      .map(i => math.min(math.max(rates.getDouble(i), 1e-6), 1 - 1e-6))
  }

  /** One blocking-rule-scoped EM training session plus its composition
    * across rules — splink's `estimate_parameters_using_expectation_
    * maximisation` workflow (reference splinklinker.py:80-140
    * `linker_training_functions`; splink trains per blocking rule).
    *
    * Splink's full recipe, which [[emPerRuleTraining]] composes:
    *   1. λ from deterministic rules of declared recall
    *      ([[estimateLambda]] — `estimate_probability_two_random_records_match`);
    *   2. u from unblocked random pair sampling ([[estimateU]] —
    *      `estimate_u_using_random_sampling`), held FIXED through EM
    *      (blocked pairs over-represent agreement, so the sampled u is the
    *      unbiased one — splink pins it the same way);
    *   3. one EM session per blocking rule: a comparison whose agreement
    *      the rule forces carries no signal within that session's
    *      candidates — splink drops it from the session's model, and so
    *      does this twin (`fixed` indices). The session trains m for the
    *      FREE comparisons only, with λ as the fixed prior;
    *   4. composition: a comparison trained in several sessions takes the
    *      arithmetic MEAN of its per-session m estimates, accumulated in
    *      declared session order (deterministic — splink combines repeated
    *      estimates the same way). Every comparison must be free in at
    *      least one session, or training is refused loudly.
    *
    * Scale shape: each session is one blocked equi-join reduced to its
    * ≤2^k-row pattern contingency table (the only thing that reaches the
    * driver), then a driver-side EM fit over that table — the identical
    * cost envelope as [[fellegiSunterEm]], once per rule.
    *
    * @param sessions (blockingRule, fixedComparisonIndices) in training order
    * @return (composed m per comparison,
    *         per-session m estimates — None where the comparison was fixed)
    */
  def emPerRuleTraining(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      sessions: Seq[(String, Set[Int])],
      comparisons: Seq[String],
      uFixed: Seq[Double],
      lambda: Double,
      iterations: Int = 20): (Seq[Double], Seq[Seq[Option[Double]]]) = {
    require(sessions.nonEmpty, "at least one training session required")
    require(uFixed.size == comparisons.size,
      s"uFixed has ${uFixed.size} entries for ${comparisons.size} comparisons")
    comparisons.foreach(validateComparison)
    sessions.foreach { case (rule, fixed) =>
      validateComparison(rule)
      fixed.foreach(i => require(i >= 0 && i < comparisons.size,
        s"fixed comparison index $i out of range for ${comparisons.size} comparisons"))
    }
    val untrained = comparisons.indices.filter(i => sessions.forall(_._2.contains(i)))
    require(untrained.isEmpty,
      s"comparisons ${untrained.mkString(", ")} are fixed by every blocking rule — " +
        "no session can estimate their m; add a session whose rule leaves them free " +
        "(splink raises the equivalent 'not trained' warning)")

    val perSession: Seq[Seq[Option[Double]]] = sessions.map { case (rule, fixed) =>
      val free = comparisons.indices.filterNot(fixed.contains)
      val cand = emCandidates(left, right, leftId, rightId, rule,
        free.map(comparisons))
      val (_, params) = fellegiSunterEmOnCandidates(
        cand, free.size, iterations, lambdaInit = lambda,
        threshold = 0.0, uInit = Some(free.map(uFixed)), trainU = false)
      val mFree = free.zip(params.map(_._1)).toMap
      comparisons.indices.map(i => mFree.get(i))
    }
    val composed = comparisons.indices.map { i =>
      val ests = perSession.flatMap(_(i))
      ests.sum / ests.size
    }
    (composed, perSession)
  }
}
