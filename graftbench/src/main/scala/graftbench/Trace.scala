package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Scheduler-side work attributed to one span (or to no span, id -1). */
final class Engine {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var taskMs = 0L
  var waitMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def +=(o: Engine): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    taskMs += o.taskMs; waitMs += o.waitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }

  def copy(): Engine = { val e = new Engine; e += this; e }
}

/** Collects job, stage and task metrics from the listener bus. A job belongs
  * to the span named by the `graftbench.span` local property of the thread
  * that submitted it; its stages and their tasks follow the job that first
  * ran them. Read only after [[drain]].
  */
final class EngineListener(sc: SparkContext) extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Engine]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private val all = new Engine

  private def at(span: Int): Engine = bySpan.getOrElseUpdate(span, new Engine)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val span = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    j.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    at(span).jobs += 1
    all.jobs += 1
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val i = s.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    stageSubmitted.remove((i.stageId, i.attemptNumber()))
    at(stageSpan.getOrElse(i.stageId, -1)).stages += 1
    all.stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val e = at(stageSpan.getOrElse(t.stageId, -1))
    for (x <- Seq(e, all)) {
      x.tasks += 1
      if (t.reason != org.apache.spark.Success) x.tasksFailed += 1
      if (t.taskInfo != null) {
        x.taskMs += t.taskInfo.duration
        stageSubmitted.get((t.stageId, t.stageAttemptId))
          .foreach(sub => x.waitMs += math.max(0L, t.taskInfo.launchTime - sub))
      }
      val m = t.taskMetrics
      if (m != null) {
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.diskBytesSpilled
      }
    }
  }

  /** Waits until every event of the actions run so far has been counted. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)

  def total(): Engine = { drain(); synchronized(all.copy()) }

  def forSpan(id: Int): Engine = { drain(); synchronized(bySpan.get(id).map(_.copy()).getOrElse(new Engine)) }
}

/** JVM-wide counters sampled at span boundaries: process CPU, GC, Janino
  * compiles and rule-executor time (analyzer, optimizer and AQE rules).
  */
final case class Jvm(cpuNs: Long, gcMs: Long, janinoN: Long, janinoNs: Long, ruleNs: Long) {
  def -(o: Jvm): Jvm =
    Jvm(cpuNs - o.cpuNs, gcMs - o.gcMs, janinoN - o.janinoN, janinoNs - o.janinoNs, ruleNs - o.ruleNs)
  def +(o: Jvm): Jvm =
    Jvm(cpuNs + o.cpuNs, gcMs + o.gcMs, janinoN + o.janinoN, janinoNs + o.janinoNs, ruleNs + o.ruleNs)
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  val zero: Jvm = Jvm(0, 0, 0, 0, 0)

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case other => throw new IllegalStateException(s"no process CPU time on ${other.getClass}")
  }

  def now(): Jvm = Jvm(
    cpuNs(),
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time)
}

/** One layer call: wall interval, parent, JVM counter deltas (inclusive of
  * children) and the row counts the benchmark recorded at the boundary.
  */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long, val jvm0: Jvm) {
  var endNs = 0L
  var jvm: Jvm = Jvm.zero
  val counts = mutable.LinkedHashMap.empty[String, Long]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Off, [[span]] only runs its
  * body. On, it opens a span, tags every job the body submits with the
  * span id (a local property of the benchmark thread) and samples JVM
  * counters at both ends. Spans are written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime(), Jvm.now())
      spans += s
      open.push(s)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.jvm = Jvm.now() - s.jvm0
        open.pop()
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Adds a row count to the innermost open span. */
  def count(key: String, n: Long): Unit =
    if (on) open.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0L) + n)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the time its children cover (children run
    * sequentially on the benchmark thread, so their intervals are disjoint).
    */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def selfJvm(s: Span): Jvm = children(s).foldLeft(s.jvm)((acc, c) => acc - c.jvm)
}

object Tracer {
  val SpanKey = "graftbench.span"
}
