package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Collects the messages at `level` or above logged while `body` runs, as
  * `"<logger>: <message>"`, so a spec can assert that a code path does not
  * warn (or fail). Suites run one at a time in the forked test JVM, so
  * every line caught comes from the body.
  */
object LogCapture {
  def warnings[T](body: => T): (T, Seq[String]) = lines(Level.WARN)(body)

  def lines[T](level: Level)(body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try (body, seen.asScala.toSeq)
    finally { root.removeAppender(appender); appender.stop() }
  }
}
