package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Log messages containing `needle` that loggers named `logger` (or
  * below it; every logger for "") emit while `body` runs. The appender
  * sits on the root logger, so no logger configuration is changed.
  */
object LogCapture {
  def apply(logger: String, needle: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-log-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (e.getLoggerName.startsWith(logger) && m.contains(needle)) seen.add(m)
        ()
      }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try body
    finally {
      root.removeAppender(capture)
      capture.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Spark's warning when a task stores a cached block another task
    * already stored: the block's partition was computed twice.
    */
  def recomputedBlocks(body: => Unit): Seq[String] =
    apply("org.apache.spark.storage.BlockManager",
      "already exists on this machine; not re-adding it")(body)
}
