package graft
import org.apache.spark.sql.SparkSession

/** Between-query block-manager cleanup shared by [[Bench]] and [[Verify]]:
  * drop every retained cache/localCheckpoint block so ~130 queries' worth
  * of leftovers don't squeeze the block manager and evict LATER queries'
  * checkpoints mid-job (the r7 dx_embed_kmeans 4x "regression" was exactly
  * this cross-query interference).
  *
  * Unpersisting a locally-checkpointed RDD is intentional here — the query
  * is finished and its frame discarded — but Spark logs a WARN that the
  * RDD's truncated lineage can no longer be recomputed. Those WARNs pollute
  * the bench tail (the driver keeps only the last ~2000 stdout chars) and
  * mask real warnings, so the `org.apache.spark.rdd` logger is held at
  * ERROR for just this loop and restored after.
  */
object BlockCleanup {

  /** Deny the benign post-cleanup DAGScheduler ERROR ("attempted to access
    * non-existent accumulator N") that straggler tasks emit when they report
    * AFTER ContextCleaner has dropped their job's accumulators — rc stays 0
    * and every result is already in, but the stack trace lands at the TAIL
    * of stdout/stderr, which is the only window the round driver keeps
    * (it truncated the r03 bench line and made the r14 artifact look
    * failure-adjacent). A context-wide log4j2 filter keyed on the message
    * text mutes exactly this event and nothing else; real scheduler errors
    * (job failures) still surface both in the log and as exceptions in the
    * caller's own try/catch. Idempotent; best-effort (a log4j2 API drift
    * must never fail a bench run).
    */
  def muteBenignCleanupSpam(): Unit =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.filter.AbstractFilter
      // Installation point matters (pinned by BlockCleanupSpec):
      // `Configuration.addFilter` registers a
      // CONTEXT-WIDE filter that log4j2 only consults on the pre-event
      // `isEnabled` fast paths — overload signatures our LogEvent
      // override never matched, so the r15 Verify log still carried the
      // spam. Per-EVENT filtering (the path that sees the throwable) runs
      // at the LoggerConfig level, so the filter must be added to the
      // root LoggerConfig (every logger without its own config delegates
      // there) and any named LoggerConfigs.
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val marker = "graft-mute-accumulator-cleanup"
      if (!cfg.getProperties.containsKey(marker)) {
        cfg.getProperties.put(marker, "true")
        val mute = new AbstractFilter() {
          // the marker can live in the event MESSAGE (DAGScheduler's
          // own logError) or only in the attached THROWABLE (downstream
          // components re-log the SparkException with a generic message,
          // and the stack trace is what actually pollutes the tail)
          private def hit(s: String): Boolean =
            s != null && s.contains("non-existent accumulator")
          private def hitT(t: Throwable): Boolean =
            t != null && (hit(t.getMessage) ||
              (t.getCause != null && hit(t.getCause.getMessage)))
          override def filter(event: LogEvent): Filter.Result = {
            val m = event.getMessage
            if ((m != null && hit(m.getFormattedMessage)) || hitT(event.getThrown))
              Filter.Result.DENY
            else Filter.Result.NEUTRAL
          }
          // pre-event fast paths (PrivateConfig.filter hands the raw
          // message + throwable before building a LogEvent)
          override def filter(
              l: org.apache.logging.log4j.core.Logger,
              lv: org.apache.logging.log4j.Level,
              mk: org.apache.logging.log4j.Marker,
              msg: Object, t: Throwable): Filter.Result =
            if (hitT(t) || (msg != null && hit(msg.toString))) Filter.Result.DENY
            else Filter.Result.NEUTRAL
          override def filter(
              l: org.apache.logging.log4j.core.Logger,
              lv: org.apache.logging.log4j.Level,
              mk: org.apache.logging.log4j.Marker,
              msg: org.apache.logging.log4j.message.Message,
              t: Throwable): Filter.Result =
            if (hitT(t) || (msg != null && hit(msg.getFormattedMessage)))
              Filter.Result.DENY
            else Filter.Result.NEUTRAL
        }
        mute.start()
        cfg.getRootLogger.addFilter(mute)
        import scala.jdk.CollectionConverters._
        cfg.getLoggers.values().asScala.foreach(_.addFilter(mute))
        ctx.updateLoggers()
      }
    } catch { case _: Throwable => () }

  def dropRetainedBlocks(spark: SparkSession): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val logger = "org.apache.spark.rdd"
    val prev: Level = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.ERROR)
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    finally Configurator.setLevel(logger, prev)
  }
}
