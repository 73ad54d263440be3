package graft.testkit

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The AUDIT lines one block of code writes, beside its outcome: an
  * appender on the `AUDIT` logger keeps every message while the block
  * runs.
  */
object AuditLines {
  def of[A](body: => A): (Try[A], Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lines = new ConcurrentLinkedQueue[String]
    val name = s"spec-audit-${java.util.UUID.randomUUID()}"
    val appender = new AbstractAppender(name, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val audit = ctx.getConfiguration.getLoggerConfig("AUDIT")
    audit.addAppender(appender, null, null)
    ctx.updateLoggers()
    try (Try(body), lines.asScala.toSeq)
    finally {
      audit.removeAppender(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
