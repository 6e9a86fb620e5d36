package graft.dags

import graft.operators.{Dedupe, Link, Resolver}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative, serializable pipeline configuration — the twin of the
  * reference's config-declared DAG (dags.py:88 `DAG.from_config`,
  * queries.py:78 `QueryConfig`): a pipeline built from these specs can be
  * written to JSON, stored, diffed, reloaded and rebuilt to an identical
  * [[Dag]]. Closure-built steps (Dag.addStep) remain available for anything
  * the spec surface doesn't cover; specs cover the reference's configurable
  * surface: sources, the deduper/linker model kinds, and the resolver.
  */
sealed trait StepSpec {
  def name: String
  def dependsOn: Seq[String]
}

/** A warehouse source: `spark.read.format(format).options(options)
  * .load(path)`, optionally column-pruned at the scan.
  */
final case class SourceSpec(
    name: String, path: String, format: String = "parquet",
    options: Map[String, String] = Map.empty,
    select: Seq[String] = Nil) extends StepSpec {
  override def dependsOn: Seq[String] = Nil
}

/** One comparison of a model. `weight` feeds the weighted linker;
  * `agree`/`disagree` feed the Fellegi–Sunter scorer; a bare condition
  * feeds the deterministic linker.
  */
final case class ComparisonSpec(
    cond: String,
    weight: Option[Double] = None,
    agree: Option[Double] = None,
    disagree: Option[Double] = None)

/** A model step (deduper or linker). `kind` selects the methodology —
  * `dedupe_naive` (single input, `uniqueFields`), `link_deterministic`,
  * `link_weighted`, `link_fellegi_sunter` (two inputs, comparisons).
  */
final case class ModelSpec(
    name: String,
    kind: String,
    inputs: Seq[String],
    leftId: String,
    rightId: Option[String] = None,
    uniqueFields: Seq[String] = Nil,
    comparisons: Seq[ComparisonSpec] = Nil,
    blocking: Option[String] = None,
    threshold: Option[Double] = None) extends StepSpec {
  override def dependsOn: Seq[String] = inputs
}

/** The resolver: connected components over its input models' scored edges,
  * each model filtered by its (optional) threshold first.
  */
final case class ResolverSpec(
    name: String, inputs: Seq[String],
    thresholds: Map[String, Double] = Map.empty) extends StepSpec {
  override def dependsOn: Seq[String] = inputs
}

final case class DagSpec(steps: Seq[StepSpec])

object DagConfig {

  import org.json4s.{Formats, ShortTypeHints}
  import org.json4s.jackson.Serialization

  private implicit val formats: Formats = Serialization.formats(
    ShortTypeHints(
      List(classOf[SourceSpec], classOf[ModelSpec], classOf[ResolverSpec]),
      typeHintFieldName = "type"))

  def toJson(spec: DagSpec): String = Serialization.writePretty(spec)

  def fromJson(json: String): DagSpec = Serialization.read[DagSpec](json)

  /** Builds a runnable [[Dag]] from a spec. Steps are wired in declaration
    * order, so dependencies must be declared before their dependents (the
    * same contract as Dag.addStep).
    */
  def build(spark: SparkSession, spec: DagSpec): Dag = {
    val dag = new Dag
    spec.steps.foreach {
      case s: SourceSpec =>
        dag.source(s.name) {
          val df = spark.read.format(s.format).options(s.options).load(s.path)
          if (s.select.isEmpty) df else df.select(s.select.map(df(_)): _*)
        }
      case m: ModelSpec =>
        dag.model(m.name, m.inputs)(deps => buildModel(m, deps))
      case r: ResolverSpec =>
        dag.resolver(r.name, r.inputs) { deps =>
          Resolver.computeClusters(
            r.inputs.map(i => i -> deps(i)).toMap, r.thresholds)
        }
    }
    dag
  }

  private def buildModel(m: ModelSpec, deps: Map[String, DataFrame]): DataFrame =
    m.kind match {
      case "dedupe_naive" =>
        require(m.inputs.size == 1, s"${m.name}: dedupe takes one input")
        require(m.uniqueFields.nonEmpty, s"${m.name}: dedupe needs uniqueFields")
        Dedupe.naive(deps(m.inputs.head), m.leftId, m.uniqueFields)
      case "link_deterministic" =>
        val (l, r) = linkInputs(m, deps)
        Link.deterministic(l, r, m.leftId, m.rightId.getOrElse(m.leftId),
          m.comparisons.map(_.cond))
      case "link_weighted" =>
        val (l, r) = linkInputs(m, deps)
        val weighted = m.comparisons.map(c => (c.cond, c.weight.getOrElse(
          throw new IllegalArgumentException(s"${m.name}: weighted comparison needs weight"))))
        Link.weighted(l, r, m.leftId, m.rightId.getOrElse(m.leftId), weighted,
          m.threshold.getOrElse(0.0))
      case "link_fellegi_sunter" =>
        val (l, r) = linkInputs(m, deps)
        val comps = m.comparisons.map(c => (c.cond,
          c.agree.getOrElse(throw new IllegalArgumentException(
            s"${m.name}: fellegi-sunter comparison needs agree weight")),
          c.disagree.getOrElse(0.0)))
        Link.fellegiSunter(l, r, m.leftId, m.rightId.getOrElse(m.leftId),
          m.blocking.getOrElse(throw new IllegalArgumentException(
            s"${m.name}: fellegi-sunter needs blocking")),
          comps, m.threshold.getOrElse(0.0))
      case other =>
        throw new IllegalArgumentException(s"${m.name}: unknown model kind $other")
    }

  private def linkInputs(
      m: ModelSpec, deps: Map[String, DataFrame]): (DataFrame, DataFrame) = {
    require(m.inputs.size == 2, s"${m.name}: linker takes two inputs")
    require(m.comparisons.nonEmpty, s"${m.name}: linker needs at least one comparison")
    (deps(m.inputs(0)), deps(m.inputs(1)))
  }
}
