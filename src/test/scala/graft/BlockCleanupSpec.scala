package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

class BlockCleanupSpec extends SparkSpec {

  test("muteBenignCleanupSpam drops the accumulator-cleanup event and keeps real errors") {
    spark // the shared session installs the filter; installing twice is a no-op
    BlockCleanup.muteBenignCleanupSpam()
    val name = "org.apache.spark.scheduler.DAGScheduler"
    val tag = "BlockCleanupSpec"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        val m = event.getMessage.getFormattedMessage
        if (m.contains(tag)) seen.add(m)
      }
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration.getLoggerConfig(name)
    cfg.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      val log = org.slf4j.LoggerFactory.getLogger(name)
      // marker in the message only (DAGScheduler's own logError)
      log.error(s"$tag-1 Failed to update accumulator 99999 (Unknown class) for task 0: " +
        "attempted to access non-existent accumulator 99999")
      // marker in the attached throwable only (a generic re-log)
      log.error(s"$tag-2 Failed to update accumulator 99999 (Unknown class) for task 0",
        new org.apache.spark.SparkException("attempted to access non-existent accumulator 99999"))
      log.error(s"$tag-3 a real scheduler error must still surface")
    } finally {
      cfg.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toList == List(s"$tag-3 a real scheduler error must still surface"))
  }
}
