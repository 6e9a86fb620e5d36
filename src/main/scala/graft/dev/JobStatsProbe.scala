package graft.dev

import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). Runs each named registry query `reps` times in one session and
  * prints, per rep: wall, process CPU, and the scheduler-side shape —
  * jobs, stages, tasks, summed task time, shuffle bytes read/written —
  * collected from a SparkListener. The shape numbers are what the Spark
  * UI's stage pages would show, so plan-diff claims ("2 Exchange → 1")
  * can be checked against scheduler facts, not just explain() output.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   runMain graft.dev.JobStatsProbe <reps> <query> [query...]
  */
object JobStatsProbe {
  final class Stats extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val jobNames = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = j.stageInfos.lastOption.map(_.name.takeWhile(_ != ' '))
        .getOrElse("?")
      jobNames.merge(site, 1, (a, b) => a + b)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val info = s.stageInfo
      shufRead.addAndGet(info.taskMetrics.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(info.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      shufRead.set(0); shufWrite.set(0); jobNames.clear()
    }
  }

  private def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.BlockCleanup.muteBenignCleanupSpam()
    val st = new Stats
    spark.sparkContext.addSparkListener(st)
    // same warm-up as Bench
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      graft.Registry.byName("mb_components").fn(spark, "/root/testdata/sf0.001").count()
    } catch { case _: Throwable => () }
    def compileMs(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    def compileCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    for (n <- names; r <- 1 to reps) {
      val fn = graft.Registry.byName(n).fn
      Thread.sleep(200) // let listener events drain between reps
      st.reset()
      val cm0 = compileMs(); val cc0 = compileCount()
      val opt0 = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics
      val c0 = cpuNanos(); val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      val optMs = (org.apache.spark.sql.catalyst.rules.RuleExecutor
        .getCurrentMetrics.time - opt0.time) / 1e6
      val cMs = compileMs() - cm0
      val cN = compileCount() - cc0
      print(f"[xtra] $n rep$r janinoMs=$cMs janinoN=$cN optMs=$optMs%.0f%n")
      graft.BlockCleanup.dropRetainedBlocks(spark)
      Thread.sleep(300)
      println(f"[jobstats] $n rep$r wall=$wall%.2f cpu=$cpu%.1f " +
        f"jobs=${st.jobs.get} stages=${st.stages.get} tasks=${st.tasks.get} " +
        f"taskSec=${st.taskMs.get / 1e3}%.1f shufR=${st.shufRead.get / 1e6}%.1fMB " +
        f"shufW=${st.shufWrite.get / 1e6}%.1fMB")
      if (sys.env.contains("JOBSTATS_NAMES")) {
        import scala.jdk.CollectionConverters._
        val top = st.jobNames.asScala.toSeq.sortBy(-_._2).take(12)
          .map { case (k, v) => s"$k×$v" }.mkString(" ")
        println(s"[jobnames] $n rep$r $top")
      }
    }
    spark.stop()
  }
}
