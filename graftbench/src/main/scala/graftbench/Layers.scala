package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced cycle, derived from its spans, the engine
  * work the listener attributed to them and the counts the workload noted.
  */
final case class Layers(tracer: Tracer, listener: EngineListener) {

  private def engine(spans: Seq[Span]): Engine = {
    val e = new Engine
    spans.foreach(s => e += listener.forSpan(s.id))
    e
  }

  private def self(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(tracer.selfSeconds).sum

  /** Counts that must repeat exactly when a cycle is run again: per span
    * name its calls, jobs, stages, tasks and rows out, plus the noted counts.
    */
  def counts(spans: Seq[Span], noted: Map[String, Double]): Map[String, Double] =
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val e = engine(ss)
      Seq(s"$name.calls" -> ss.size.toDouble, s"$name.jobs" -> e.jobs.toDouble,
        s"$name.stages" -> e.stages.toDouble, s"$name.tasks" -> e.tasks.toDouble,
        s"$name.rows_out" -> ss.map(_.counts.getOrElse("rows_out", 0L)).sum.toDouble)
    } ++ noted

  def metrics(spans: Seq[Span], noted: Map[String, Double], untracedPassS: Double): Map[String, Double] = {
    val e = engine(spans)
    val roots = spans.filter(_.parent < 0)
    val jvm = roots.map(_.jvm).foldLeft(Jvm.zero)(_ + _)
    def n(k: String) = noted.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ann = spans.filter(_.name.startsWith("ann."))
    val annE = engine(ann)
    val pass = roots.filter(_.name == "pass")
    val passS = pass.map(_.seconds).sum
    val driverS = pass.map(tracer.selfSeconds).sum
    Map(
      "spark.jobs" -> e.jobs.toDouble,
      "spark.stages" -> e.stages.toDouble,
      "spark.tasks" -> e.tasks.toDouble,
      "spark.tasks_failed" -> e.tasksFailed.toDouble,
      "spark.task_s" -> e.taskMs / 1e3,
      "spark.task_wait_s" -> e.waitMs / 1e3,
      "spark.shuffle_read_mb" -> e.shuffleRead / 1e6,
      "spark.shuffle_write_mb" -> e.shuffleWrite / 1e6,
      "spark.spill_mb" -> e.spill / 1e6,
      "spark.janino_n" -> jvm.janinoN.toDouble,
      "spark.janino_ms" -> jvm.janinoNs / 1e6,
      "spark.optimizer_ms" -> jvm.ruleNs / 1e6,
      "jvm.gc_s" -> jvm.gcMs / 1e3,
      "jvm.cpu_s" -> jvm.cpuNs / 1e9,
      "link.s" -> self(spans, "link"),
      "link.candidates" -> n("link.candidates"),
      "link.kept" -> n("link.kept"),
      "link.kept_ratio" -> ratio(n("link.kept"), n("link.candidates")),
      "components.s" -> self(spans, "components"),
      "components.edges_in" -> n("components.edges_in"),
      "components.clusters" -> n("components.clusters"),
      "components.jobs" -> engine(spans.filter(_.name == "components")).jobs.toDouble,
      "dedup.s" -> self(spans, "dedup"),
      "dedup.candidates" -> n("dedup.candidates"),
      "dedup.verified" -> n("dedup.verified"),
      "dedup.verified_ratio" -> ratio(n("dedup.verified"), n("dedup.candidates")),
      "text.s" -> self(spans, "text"),
      "text.docs_kept" -> n("text.docs_kept"),
      "lookup.s" -> self(spans, "lookup"),
      "eval.s" -> self(spans, "eval"),
      "ann.build_s" -> self(spans, "ann.build"),
      "ann.search_s" -> self(spans, "ann.search"),
      "ann.add_s" -> self(spans, "ann.add"),
      "ann.remove_s" -> self(spans, "ann.remove"),
      "ann.jobs" -> annE.jobs.toDouble,
      "ann.shuffle_mb" -> annE.shuffleWrite / 1e6,
      "functions.jaro_winkler.rows_per_s" -> 0.0,
      "functions.minhash.rows_per_s" -> 0.0,
      "functions.cosine.rows_per_s" -> 0.0,
      "trace.pass_s" -> passS,
      "trace.pass_layers_s" -> (passS - driverS),
      "trace.pass_driver_s" -> driverS,
      "trace.untraced_pass_s" -> untracedPassS,
      "trace.overhead_s" -> (passS - untracedPassS))
  }

  /** Writes both cycles' spans as one JSON document. */
  def write(path: Path, run: String, cycles: Seq[Span]*): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = cycles.flatten.map(_.startNs).min
    val rows = cycles.zipWithIndex.flatMap { case (spans, c) =>
      spans.map { s =>
        val e = listener.forSpan(s.id)
        val j = tracer.selfJvm(s)
        val counts = s.counts.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
        s"""{"run": ${q(run)}, "cycle": ${c + 1}, "id": ${s.id}, "parent": ${s.parent}, """ +
          s""""name": ${q(s.name)}, "start_s": ${(s.startNs - t0) / 1e9}, "end_s": ${(s.endNs - t0) / 1e9}, """ +
          s""""self_s": ${tracer.selfSeconds(s)}, "jobs": ${e.jobs}, "stages": ${e.stages}, """ +
          s""""tasks": ${e.tasks}, "task_s": ${e.taskMs / 1e3}, "task_wait_s": ${e.waitMs / 1e3}, """ +
          s""""shuffle_read_mb": ${e.shuffleRead / 1e6}, "shuffle_write_mb": ${e.shuffleWrite / 1e6}, """ +
          s""""spill_mb": ${e.spill / 1e6}, "self_janino_n": ${j.janinoN}, "self_janino_ms": ${j.janinoNs / 1e6}, """ +
          s""""self_optimizer_ms": ${j.ruleNs / 1e6}, "self_gc_s": ${j.gcMs / 1e3}, "self_cpu_s": ${j.cpuNs / 1e9}, """ +
          s""""counts": {$counts}}"""
      }
    }
    Files.createDirectories(path.getParent)
    Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Layers {
  /** The end-to-end metrics of the result line. `cold_s` and
    * `peak_heap_mb` are measured and printed too, but vary too much from
    * run to run on a 4-core box to gate a change (see NOTES.md).
    */
  val endToEnd: Seq[String] = Seq("setup_s", "records_per_s", "cpu_s", "shuffle_mb",
    "query_ms_p50", "update_ms_p50", "quality")

  val perLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed", "spark.task_s",
    "spark.task_wait_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.janino_n", "spark.janino_ms", "spark.optimizer_ms", "jvm.gc_s", "jvm.cpu_s",
    "link.s", "link.candidates", "link.kept", "link.kept_ratio",
    "components.s", "components.edges_in", "components.clusters", "components.jobs",
    "dedup.s", "dedup.candidates", "dedup.verified", "dedup.verified_ratio",
    "text.s", "text.docs_kept", "lookup.s", "eval.s",
    "ann.build_s", "ann.search_s", "ann.add_s", "ann.remove_s", "ann.jobs", "ann.shuffle_mb",
    "functions.jaro_winkler.rows_per_s", "functions.minhash.rows_per_s", "functions.cosine.rows_per_s",
    "trace.pass_s", "trace.pass_layers_s", "trace.pass_driver_s", "trace.untraced_pass_s",
    "trace.overhead_s", "trace.count_mismatches")

  def unit(name: String): String =
    if (name.endsWith("rows_per_s")) "1/s"
    else if (name.endsWith("_ratio")) "ratio"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else "count"
}
