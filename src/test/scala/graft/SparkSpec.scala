package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Every node of `df`'s executed plan, through adaptive query stages. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }

  /** Jobs submitted while `body` runs, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** `file:line: text` for every line of a `.scala` file under `dir`
    * (relative to the repo root) that `re` matches, unless `skip(file)`.
    */
  def sourceHits(dir: String, re: Regex, skip: String => Boolean = _ => false): Seq[String] = {
    val files = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under $dir: wrong working directory?")
    for {
      p <- files if !skip(p.toString)
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    BlockCleanup.muteBenignCleanupSpam()
    s
  }
}
