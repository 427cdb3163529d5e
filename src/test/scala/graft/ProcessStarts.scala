package graft

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The OS processes the JVM starts while a body runs, read from an
  * in-process flight recording of `jdk.ProcessStart` events.
  */
object ProcessStarts {

  /** `body`'s result and the command line of every process it started. */
  def apply[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      (out, RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")))
    } finally {
      rec.close()
      Files.deleteIfExists(f)
    }
  }
}
