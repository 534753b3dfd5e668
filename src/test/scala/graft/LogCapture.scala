package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** What `body` logs on `loggerName` and the loggers under it, as (level,
  * message) pairs, through a log4j2 appender attached for the call.
  * Start Spark before calling: starting it may reconfigure log4j, which
  * would drop the appender. */
object LogCapture {
  def apply(loggerName: String)(body: => Unit): Seq[(Level, String)] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Level, String)]()
    val appender = new AbstractAppender(s"capture-$loggerName", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        events.add(e.getLevel -> e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    events.asScala.toSeq
  }
}
