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
    var acc: Option[DataFrame] = None
    for (round <- rounds) {
      // Each round's matches feed the accumulator union AND both anti-join
      // sides; the shrunken pools feed the next round. Without truncation the
      // plan for round r embeds the full join work of rounds 1..r-1 (and
      // replays this round's join three times) — O(R^2) recompute. A lazy
      // localCheckpoint materialises each once and cuts lineage per round.
      val matches = deterministic(remainingL, remainingR, leftId, rightId, round)
        .localCheckpoint(false)
      acc = Some(acc.map(_ union matches).getOrElse(matches))
      val ml = matches.select(col("left_id")).distinct()
      val mr = matches.select(col("right_id")).distinct()
      remainingL = remainingL
        .join(ml, remainingL(leftId) === ml("left_id"), "left_anti")
        .localCheckpoint(false)
      remainingR = remainingR
        .join(mr, remainingR(rightId) === mr("right_id"), "left_anti")
        .localCheckpoint(false)
    }
    acc.get
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

  /** Fellegi–Sunter scorer with fixed per-comparison agreement /
    * disagreement log-weights (the splink surface with pre-estimated
    * parameters — reference: models/linkers/splinklinker.py). Candidate
    * pairs come from `blocking` (an equi-join condition); each comparison
    * adds its agreement weight when `cond` holds, else its disagreement
    * weight. Pairs with total match weight >= threshold survive.
    *
    * Weights are supplied as literal doubles (e.g. precomputed
    * log2(m/u)); the score is a sum of literals, so exact cross-engine.
    */
  def fellegiSunter(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[(String, Double, Double)], // (cond, agreeWeight, disagreeWeight)
      threshold: Double): DataFrame = {
    validateComparison(blocking)
    comparisons.foreach(c => validateComparison(c._1))
    val weight = comparisons
      .map { case (cond, a, d) => when(expr(cond), lit(a)).otherwise(lit(d)) }
      .reduce(_ + _)
    left.alias("l")
      .join(right.alias("r"), expr(blocking))
      .select(
        col(s"l.$leftId").cast("long").as("left_id"),
        col(s"r.$rightId").cast("long").as("right_id"),
        weight.as("match_weight"))
      .filter(col("match_weight") >= threshold)
  }

  /** One multi-level comparison: ordered levels, strongest first (the splink
    * comparison-level surface — reference: models/linkers/splinklinker.py:112,
    * `cl.jaro_winkler_at_thresholds`). A pair's gamma for this comparison is
    * `levels.size - idx` for the FIRST level whose condition holds (so the
    * strongest level carries the highest gamma) and 0 when none does.
    * `weights(g)` is the match weight carried by gamma level `g`
    * (`weights(0)` = the all-levels-miss weight); supplied as precomputed
    * literal doubles so scores are literal sums — bit-exact across engines.
    */
  /** Ordered fuzzy comparison levels with per-level weights. `nullLevel`
    * is splink's null-handling contract (reference splinklinker.py
    * comparison templates): when it holds (canonically
    * `l.f IS NULL OR r.f IS NULL`) the comparison is UNOBSERVED —
    * gamma = -1, weight contribution 0, and the EM path excludes the pair
    * from that comparison's m/u estimation. Without it a NULL evaluates
    * every level condition to false = "miss", biasing m/u downward on
    * sparse fields.
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

  /** Fellegi–Sunter scorer over multi-level fuzzy comparisons with fixed
    * per-level weights — the pre-estimated-parameter splink path extended
    * from binary agree/disagree to ordinal comparison levels (exact /
    * strong-fuzzy / weak-fuzzy / miss). Emits the per-comparison gamma
    * levels alongside the summed match weight, like splink's
    * `gamma_<comparison>` output columns.
    *
    * Scale shape: identical to [[fellegiSunter]] — one equi-join on the
    * blocking condition. Each comparison's level ladder (including
    * `jaro_winkler_similarity`, a native codegen expression) is evaluated
    * once in the join condition and once in the output projection, because
    * the weight references each gamma once. Nothing quadratic.
    */
  def fellegiSunterLevels(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[LevelComparison],
      threshold: Double): DataFrame = {
    validateComparison(blocking)
    comparisons.foreach(_.allConditions.foreach(validateComparison))
    val cand = left.alias("l").join(right.alias("r"), expr(blocking))
    scoreLevels(cand, leftId, rightId, comparisons, threshold)
  }

  /** Gamma + summed-weight columns for a candidate frame that carries `l`
    * and `r` aliases — the scoring tail shared by [[fellegiSunterLevels]],
    * [[fellegiSunterLevelsMulti]] and the streaming twin. `carry` threads
    * extra columns (source expr → output name) through the projection,
    * e.g. the stream's event-time column for a watermarked aggregation.
    */
  private[graft] def scoreLevels(
      cand: DataFrame, leftId: String, rightId: String,
      comparisons: Seq[LevelComparison], threshold: Double,
      carry: Seq[(String, String)] = Nil): DataFrame = {
    val gammaCols = comparisons.zipWithIndex.map { case (c, i) =>
      c.gammaOf.as(s"gamma$i")
    }
    // + 0.0 turns a −0.0 weight into 0.0, the zero the null level adds
    val weight = comparisons.zipWithIndex.map { case (c, i) =>
      perLevel(col(s"gamma$i"), 0.0, c.weights.map(lit)) + 0.0
    }.reduce(_ + _)
    cand
      .select(
        (Seq(col(s"l.$leftId").cast("long").as("left_id"),
             col(s"r.$rightId").cast("long").as("right_id")) ++
          carry.map { case (src, dst) => col(src).as(dst) } ++
          gammaCols): _*)
      .withColumn("match_weight", weight)
      .filter(col("match_weight") >= threshold)
  }

  /** [[fellegiSunterLevels]] with a LIST of blocking rules — splink's
    * `blocking_rules_to_generate_predictions`: the candidate set is the
    * deduplicated union of every rule's equi-join, so records missed by
    * one blocking key (a typo'd postcode) are still reached through
    * another (same name bucket). Each rule plans as its own equi-join;
    * the distinct is one shuffle on the pair id; attributes re-join once
    * for scoring. Nothing quadratic, and each rule's join is independently
    * AQE-planned (broadcast/skew per rule).
    */
  def fellegiSunterLevelsMulti(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blockingRules: Seq[String],
      comparisons: Seq[LevelComparison],
      threshold: Double): DataFrame = {
    require(blockingRules.nonEmpty, "need at least one blocking rule")
    blockingRules.foreach(validateComparison)
    comparisons.foreach(_.allConditions.foreach(validateComparison))
    val cand = blockingRules
      .map(rule => pairs(left, right, leftId, rightId, rule))
      .reduce(_ union _)
      .distinct()
    val attributed = cand
      .join(left.alias("l"),
        col(s"l.$leftId").cast("long") === col("left_id"))
      .join(right.alias("r"),
        col(s"r.$rightId").cast("long") === col("right_id"))
    scoreLevels(attributed, leftId, rightId, comparisons, threshold)
  }

  /** EM-trained Fellegi–Sunter over ordinal gammas: m and u become
    * per-(comparison, level) probability vectors, estimated on the pattern
    * contingency table exactly as in [[fellegiSunterEm]] (≤ Π(Lᵢ+1) rows —
    * still tiny — is all that reaches the driver; the pair set stays
    * distributed). Returns (scored pairs, per-comparison (m, u) vectors
    * indexed by gamma level).
    */
  def fellegiSunterEmLevels(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[Seq[String]], // per comparison: ordered level conditions
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5,
      nullConditions: Seq[Option[String]] = Nil): (DataFrame, Seq[(Seq[Double], Seq[Double])]) = {
    val cand = emLevelsCandidates(left, right, leftId, rightId, blocking,
      comparisons, nullConditions)
    fellegiSunterEmLevelsOnCandidates(cand, comparisons.map(_.size),
      iterations, lambdaInit, threshold)
  }

  /** Candidate frame for [[fellegiSunterEmLevels]]: the blocked equi-join
    * with ordinal gamma columns g0..g(k-1). Exposed so determinism gates
    * can localCheckpoint the join once and re-run only training + scoring
    * (same treatment as [[emCandidates]]).
    */
  def emLevelsCandidates(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[Seq[String]],
      nullConditions: Seq[Option[String]] = Nil): DataFrame = {
    validateComparison(blocking)
    require(nullConditions.isEmpty || nullConditions.size == comparisons.size,
      "nullConditions must be empty or align with comparisons")
    comparisons.foreach(_.foreach(validateComparison))
    nullConditions.flatten.foreach(validateComparison)
    val nulls =
      if (nullConditions.isEmpty) Seq.fill(comparisons.size)(None: Option[String])
      else nullConditions
    val gammas = comparisons.zipWithIndex.map { case (levels, i) =>
      LevelComparison(levels, Seq.fill(levels.size + 1)(0.0), nulls(i))
        .gammaOf.as(s"g$i")
    }
    left.alias("l").join(right.alias("r"), expr(blocking))
      .select(
        (Seq(col(s"l.$leftId").cast("long").as("left_id"),
             col(s"r.$rightId").cast("long").as("right_id")) ++ gammas): _*)
  }

  /** Training + scoring tail of [[fellegiSunterEmLevels]] over a prebuilt
    * [[emLevelsCandidates]] frame; `levelCounts(i)` = number of level
    * conditions of comparison i (gamma ranges 0..levelCounts(i)).
    */
  def fellegiSunterEmLevelsOnCandidates(
      cand: DataFrame, levelCounts: Seq[Int],
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5): (DataFrame, Seq[(Seq[Double], Seq[Double])]) = {
    val nLevels = levelCounts.map(_ + 1) // gamma ranges over 0..L
    val comparisons = levelCounts.indices
    val patterns = patternCounts(cand, levelCounts.size)

    val (lambda, m, u) = emFitLevels(patterns, nLevels, iterations, lambdaInit)

    val probability = {
      val ratio = comparisons.indices.map { i =>
        perLevel(col(s"g$i"), 1.0, (0 until nLevels(i)).map(g => lit(m(i)(g) / u(i)(g))))
      }.reduce(_ * _)
      val lr = lit(lambda / (1 - lambda)) * ratio
      lr / (lr + 1)
    }
    val scored = cand
      .withColumn("score", probability)
      .filter(col("score") >= threshold)
      .select("left_id", "right_id", "score")
    (scored, comparisons.indices.map(i => (m(i).toSeq, u(i).toSeq)))
  }

  /** The distributed half of ordinal-gamma EM training: the (g0..gN) →
    * count contingency table, collected and sorted so downstream float
    * accumulation is bit-deterministic. Everything the EM gates check
    * (fits, null invariants, scored counts) is a pure function of this
    * table, so gates should collect it once and derive, not re-run
    * distributed passes per check.
    */
  private[graft] def patternCounts(
      cand: DataFrame, nComparisons: Int): Seq[(IndexedSeq[Int], Long)] = {
    val gCols = (0 until nComparisons).map(i => s"g$i")
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

  /** The ordinal-gamma EM loop shared by [[fellegiSunterEmLevels]] and
    * [[fellegiSunterEmLevelsTf]]: driver-side over the (sorted, tiny)
    * pattern contingency table only. Returns (λ, m, u) with m/u indexed
    * (comparison)(gamma level). Accumulation order is fixed by the sorted
    * patterns, so results are bit-identical run to run.
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

  /** EM-trained ordinal Fellegi–Sunter WITH term-frequency adjustment
    * applied at prediction — the composed splink recipe (comparison levels
    * + `term_frequency_adjustments` + EM training in one settings object;
    * reference splinklinker.py:56-175): EM learns per-(comparison, level)
    * m/u vectors on the pattern contingency table exactly as in
    * [[fellegiSunterEmLevels]]; at scoring the TF comparison's EXACT level
    * swaps its trained *average* u for the value-specific corpus frequency
    * tf(v) — exact agreement on a rare value is stronger evidence than the
    * average exact agreement, on a common value weaker. Non-exact levels
    * keep their trained m/u (a fuzzy agreement doesn't pin down WHICH value
    * was shared, so no value-specific u exists for it).
    *
    * Scale shape: one blocked equi-join for candidates + one equi-join
    * against the corpus value-frequency table; only the ≤ Π(Lᵢ+1)-row
    * pattern table reaches the driver. Returns (scored pairs carrying the
    * gammas and tf_cnt — so callers can gate the monotone rarer-value ⇒
    * higher-score contract — and the per-comparison (m, u) level vectors).
    * A left value absent from the corpus gets the documented floor
    * tf_cnt = 1 (an unseen value is at most as common as one occurrence),
    * not a silent drop.
    */
  def fellegiSunterEmLevelsTf(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      tfComparison: Seq[String], tfLeftValue: String,
      corpus: DataFrame, corpusCol: String,
      others: Seq[Seq[String]],
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5): (DataFrame, Seq[(Seq[Double], Seq[Double])]) = {
    val (cand, total) = emLevelsTfCandidates(left, right, leftId, rightId,
      blocking, tfComparison, tfLeftValue, corpus, corpusCol, others)
    fellegiSunterEmLevelsTfOnCandidates(cand, total,
      tfComparison.size, others.map(_.size), iterations, lambdaInit,
      threshold)
  }

  /** Candidate frame for [[fellegiSunterEmLevelsTf]]: the blocked equi-join
    * with the TF frequency attached (tf_cnt, floored at 1 for uncovered
    * values) and ordinal gamma columns g0 (TF comparison) .. gK. Returns
    * (candidates, corpus row count). Exposed so determinism gates can
    * localCheckpoint the joins once and re-run only training + scoring.
    */
  def emLevelsTfCandidates(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      tfComparison: Seq[String], tfLeftValue: String,
      corpus: DataFrame, corpusCol: String,
      others: Seq[Seq[String]]): (DataFrame, Long) = {
    validateComparison(blocking)
    tfComparison.foreach(validateComparison)
    others.foreach(_.foreach(validateComparison))
    val comparisons = tfComparison +: others // index 0 = the TF comparison
    val gammas = comparisons.zipWithIndex.map { case (levels, i) =>
      LevelComparison(levels, Seq.fill(levels.size + 1)(0.0)).gammaOf.as(s"g$i")
    }
    val total = corpus.count()
    require(total > 0, "TF corpus is empty")
    val freq = corpus.groupBy(col(corpusCol).as("tf_value"))
      .agg(count(lit(1)).as("tf_cnt"))
    val cand = left.alias("l").join(right.alias("r"), expr(blocking))
      .join(freq, expr(tfLeftValue) === col("tf_value"), "left")
      .select(
        (Seq(col(s"l.$leftId").cast("long").as("left_id"),
             col(s"r.$rightId").cast("long").as("right_id"),
             coalesce(col("tf_cnt"), lit(1L)).as("tf_cnt")) ++ gammas): _*)
    (cand, total)
  }

  /** Training + scoring tail of [[fellegiSunterEmLevelsTf]] over a
    * prebuilt [[emLevelsTfCandidates]] frame.
    */
  def fellegiSunterEmLevelsTfOnCandidates(
      cand: DataFrame, total: Long,
      tfLevels: Int, otherLevels: Seq[Int],
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5): (DataFrame, Seq[(Seq[Double], Seq[Double])]) = {
    val nLevels = (tfLevels + 1) +: otherLevels.map(_ + 1)
    val comparisons = nLevels.indices
    val gCols = comparisons.map(i => s"g$i")
    // sorted for deterministic float accumulation (see fellegiSunterEm)
    val patterns = cand.groupBy(gCols.map(col): _*).count()
      .collect()
      .map(row => (gCols.map(row.getAs[Int]).toIndexedSeq, row.getAs[Long]("count")))
      .sortBy(_._1.mkString(","))
      .toSeq
    val (lambda, m, u) = emFitLevels(patterns, nLevels, iterations, lambdaInit)

    val L = tfLevels
    val exact = lit(m(0)(L)) / (col("tf_cnt").cast("double") / lit(total.toDouble))
    val tfRatio =
      perLevel(col("g0"), 1.0, (0 until L).map(g => lit(m(0)(g) / u(0)(g))) :+ exact)
    val ratio = otherLevels.indices.map { j =>
      val i = j + 1
      perLevel(col(s"g$i"), 1.0, (0 until nLevels(i)).map(g => lit(m(i)(g) / u(i)(g))))
    }.foldLeft(tfRatio)(_ * _)
    val lr = lit(lambda / (1 - lambda)) * ratio
    val scored = cand
      .withColumn("score", lr / (lr + lit(1.0)))
      .filter(col("score") >= threshold)
    (scored, comparisons.map(i => (m(i).toSeq, u(i).toSeq)))
  }

  /** Multi-level fuzzy comparison WITH term-frequency adjustment on its
    * exact-match level — the full splink shape (`jaro_winkler_at_thresholds`
    * + `term_frequency_adjustments` on one comparison): agreeing exactly on
    * a COMMON value is weaker evidence than on a rare one, while the fuzzy
    * levels keep their fixed ratios (a fuzzy match doesn't pin down WHICH
    * value was shared, so no value-specific u exists for it). Scoring is a
    * likelihood-RATIO product (log-free — see [[fellegiSunterTf]]):
    * exact level → tfM / tf(value); other levels → caller-supplied literal
    * ratios indexed by gamma.
    *
    * Scale shape: one blocked equi-join for candidates + one equi-join
    * against the corpus value-frequency table on the left value. Each
    * gamma's level ladder (including the native `jaro_winkler_similarity`)
    * is evaluated once in the join condition and once in the output
    * projection, because the ratio references each gamma once.
    *
    * @param tfComparison  levels for the TF-adjusted comparison, strongest
    *                      (exact equality on the TF column) first
    * @param tfLeftValue   `l.`-qualified TF column (the agreed value when
    *                      the exact level fires)
    * @param tfM           P(exact agree | match)
    * @param tfLevelRatios ratio literal per gamma 0..L-1 (miss..strongest
    *                      fuzzy); gamma L (exact) uses tfM / tf(value)
    * @param others        fixed multi-level comparisons: per comparison,
    *                      (levels, ratio literal per gamma 0..L)
    */
  def fellegiSunterLevelsTf(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      tfComparison: Seq[String], tfLeftValue: String,
      tfM: Double, tfLevelRatios: Seq[Double],
      corpus: DataFrame, corpusCol: String,
      others: Seq[(Seq[String], Seq[Double])],
      threshold: Double): DataFrame = {
    require(tfLevelRatios.size == tfComparison.size,
      s"need ${tfComparison.size} non-exact ratios (gamma 0..${tfComparison.size - 1})")
    others.foreach { case (levels, ratios) =>
      require(ratios.size == levels.size + 1,
        s"need ${levels.size + 1} ratios for ${levels.size} levels")
    }
    validateComparison(blocking)
    tfComparison.foreach(validateComparison)
    others.foreach(_._1.foreach(validateComparison))
    val total = corpus.count()
    require(total > 0, "TF corpus is empty")
    val freq = corpus.groupBy(col(corpusCol).as("tf_value"))
      .agg(count(lit(1)).as("tf_cnt"))
    val L = tfComparison.size
    val tfGamma = LevelComparison(tfComparison, Seq.fill(L + 1)(0.0)).gammaOf
    // tf_cnt is coalesced to 1 below: a left value absent from the corpus
    // is at most as common as one occurrence, not a silent drop (the left
    // join would otherwise NULL the ratio and the threshold filter would
    // discard the pair)
    val exact = lit(tfM) / (col("tf_cnt").cast("double") / lit(total.toDouble))
    val tfRatio = perLevel(col("gamma_tf"), 1.0, tfLevelRatios.map(lit) :+ exact)
    val otherGammas = others.zipWithIndex.map { case ((levels, _), i) =>
      LevelComparison(levels, Seq.fill(levels.size + 1)(0.0)).gammaOf.as(s"gamma$i")
    }
    val ratio = others.zipWithIndex.map { case ((_, ratios), i) =>
      perLevel(col(s"gamma$i"), 1.0, ratios.map(lit))
    }.foldLeft(tfRatio)(_ * _)
    left.alias("l")
      .join(right.alias("r"), expr(blocking))
      .join(freq, expr(s"$tfLeftValue") === col("tf_value"), "left")
      .select(
        (Seq(col(s"l.$leftId").cast("long").as("left_id"),
             col(s"r.$rightId").cast("long").as("right_id"),
             tfGamma.as("gamma_tf")) ++ otherGammas :+
             coalesce(col("tf_cnt"), lit(1L)).as("tf_cnt")): _*)
      .withColumn("match_ratio", ratio)
      .filter(col("match_ratio") >= threshold)
      .drop("tf_cnt")
  }

  /** Fellegi–Sunter with a term-frequency-adjusted comparison (the splink
    * `term_frequency_adjustments` setting — reference splinklinker.py:56-175
    * SplinkSettings pass-through): agreeing on a COMMON value (segment
    * "Smith") is weaker evidence than agreeing on a rare one, so the
    * agreement likelihood ratio for the TF column is m / tf(v) — the
    * value-specific u — instead of m / u_avg. Scores are likelihood-RATIO
    * products (no logs: log2 differs in last ulps across libms; products of
    * identically-ordered IEEE divisions are bit-exact cross-engine).
    *
    * Scale shape: the value-frequency table is one groupBy over the corpus;
    * candidates reach it by equi-join on the left value (tiny dims
    * broadcast via AQE, high-cardinality TF tables shuffle-join — never a
    * driver collect). Everything else is [[fellegiSunter]]'s one blocked
    * equi-join.
    *
    * @param tfAgree        SQL condition for agreement on the TF column
    * @param tfLeftValue    `l.`-qualified column whose corpus frequency is
    *                       the value-specific u
    * @param tfM            P(agree | match) for the TF comparison
    * @param tfDisagreeRatio precomputed (1-m)/(1-u_avg) literal
    * @param corpus         the concatenated input the frequencies come from
    * @param corpusCol      the TF column's name in `corpus`
    * @param others         (cond, agreeRatio, disagreeRatio) fixed-ratio
    *                       comparisons, ratios precomputed as literals
    */
  def fellegiSunterTf(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      tfAgree: String, tfLeftValue: String,
      tfM: Double, tfDisagreeRatio: Double,
      corpus: DataFrame, corpusCol: String,
      others: Seq[(String, Double, Double)],
      threshold: Double): DataFrame = {
    validateComparison(blocking)
    validateComparison(tfAgree)
    others.foreach(c => validateComparison(c._1))
    val total = corpus.count()
    val freq = corpus.groupBy(col(corpusCol).as("tf_value"))
      .agg(count(lit(1)).as("tf_cnt"))
    // coalesce: a left value absent from the corpus gets the floor
    // tf_cnt = 1 (at most as common as one occurrence) instead of a NULL
    // ratio that the threshold filter would silently drop
    val tfRatio = when(expr(tfAgree),
        lit(tfM) / (coalesce(col("tf_cnt"), lit(1L)).cast("double") /
          lit(total.toDouble)))
      .otherwise(lit(tfDisagreeRatio))
    val ratio = others.foldLeft(tfRatio) { case (acc, (cond, a, d)) =>
      acc * when(expr(cond), lit(a)).otherwise(lit(d))
    }
    left.alias("l")
      .join(right.alias("r"), expr(blocking))
      .join(freq, expr(s"$tfLeftValue") === col("tf_value"), "left")
      .select(
        col(s"l.$leftId").cast("long").as("left_id"),
        col(s"r.$rightId").cast("long").as("right_id"),
        ratio.as("match_ratio"))
      .filter(col("match_ratio") >= threshold)
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

  /** Fellegi–Sunter with EM-estimated m/u parameters.
    *
    * The E and M steps run as distributed aggregations over the *pattern
    * contingency table* (one row per distinct agreement vector — at most
    * 2^k rows for k comparisons), so only that tiny table ever reaches the
    * driver; the pair set itself stays distributed. Returns (scored pairs,
    * learned (m, u) per comparison).
    *
    * `uInit` seeds u (e.g. from [[estimateU]]'s random-pair sampling, the
    * splink training recipe); with `trainU = false` those values are held
    * fixed and EM trains only λ and m on the blocked candidates — blocked
    * pairs over-represent agreement, so a sampled u is the less biased
    * estimate and splink pins it.
    */
  def fellegiSunterEm(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[String],
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5,
      uInit: Option[Seq[Double]] = None,
      trainU: Boolean = true): (DataFrame, Seq[(Double, Double)]) = {
    uInit.foreach(u => require(u.size == comparisons.size,
      s"uInit has ${u.size} entries for ${comparisons.size} comparisons"))
    validateComparison(blocking)
    comparisons.foreach(validateComparison)
    val cand = emCandidates(left, right, leftId, rightId, blocking, comparisons)
    fellegiSunterEmOnCandidates(cand, comparisons.size, iterations,
      lambdaInit, threshold, uInit, trainU)
  }

  /** Candidate frame for [[fellegiSunterEm]]: the blocked equi-join with
    * binary gamma columns g0..g(k-1). Exposed so callers that score the
    * SAME candidates repeatedly (e.g. a run-twice determinism gate) can
    * localCheckpoint this frame once instead of re-running the join.
    */
  def emCandidates(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blocking: String,
      comparisons: Seq[String]): DataFrame = {
    validateComparison(blocking)
    comparisons.foreach(validateComparison)
    val gammas = comparisons.zipWithIndex.map { case (cond, i) =>
      when(expr(cond), 1).otherwise(0).as(s"g$i")
    }
    left.alias("l").join(right.alias("r"), expr(blocking))
      .select(
        (Seq(col(s"l.$leftId").cast("long").as("left_id"),
             col(s"r.$rightId").cast("long").as("right_id")) ++ gammas): _*)
  }

  /** The training + scoring tail of [[fellegiSunterEm]] over a prebuilt
    * [[emCandidates]] frame: pattern contingency aggregation (the only
    * thing that reaches the driver), EM fit, and the distributed score
    * projection.
    */
  def fellegiSunterEmOnCandidates(
      cand: DataFrame, nComparisons: Int,
      iterations: Int = 20,
      lambdaInit: Double = 0.1,
      threshold: Double = 0.5,
      uInit: Option[Seq[Double]] = None,
      trainU: Boolean = true): (DataFrame, Seq[(Double, Double)]) = {
    uInit.foreach(u => require(u.size == nComparisons,
      s"uInit has ${u.size} entries for $nComparisons comparisons"))
    val comparisons = 0 until nComparisons
    val gCols = comparisons.map(i => s"g$i")
    // Pattern contingency table: tiny (<= 2^k rows), collected to the driver.
    // Sorted by gamma vector: collect() order follows partition order, and
    // floating-point accumulation below is order-sensitive — an unsorted
    // table can flip last-ulp bits between runs and break the bit-exact
    // determinism the mb_link_em_gate asserts.
    val patterns = cand.groupBy(gCols.map(col): _*).count()
      .collect()
      .map(row => (gCols.map(row.getAs[Int]), row.getAs[Long]("count")))
      .sortBy(_._1.mkString(","))

    var lambda = lambdaInit
    var m = Array.fill(comparisons.size)(0.9)
    var u = uInit.map(_.toArray).getOrElse(Array.fill(comparisons.size)(0.1))
    for (_ <- 1 to iterations) {
      // E-step on patterns; M-step accumulators
      var wSum = 0.0; var nSum = 0.0
      val mNum = Array.fill(comparisons.size)(0.0)
      val uNum = Array.fill(comparisons.size)(0.0)
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
      comparisons.indices.foreach { i =>
        m(i) = math.min(math.max(mNum(i) / wSum, 1e-6), 1 - 1e-6)
        if (trainU)
          u(i) = math.min(math.max(uNum(i) / (nSum - wSum), 1e-6), 1 - 1e-6)
      }
    }

    val probability = {
      val ratio = comparisons.indices.map { i =>
        when(col(s"g$i") === 1, lit(m(i) / u(i))).otherwise(lit((1 - m(i)) / (1 - u(i))))
      }.reduce(_ * _)
      val lr = lit(lambda / (1 - lambda)) * ratio
      lr / (lr + 1)
    }
    val scored = cand
      .withColumn("score", probability)
      .filter(col("score") >= threshold)
      .select("left_id", "right_id", "score")
    (scored, comparisons.indices.map(i => (m(i), u(i))))
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
