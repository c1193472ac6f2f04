package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes a block starts from this JVM, read
  * from an in-process flight recording of `jdk.ProcessStart` events
  * (one per `ProcessBuilder.start`, from any thread). It records this
  * JVM only.
  */
object ProcessProbe {

  /** The command line of every process the block started, in order. */
  def started[T](f: => T): (T, Seq[String]) = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart").withoutStackTrace()
      recording.start()
      val r = f
      recording.stop()
      val dump = Files.createTempFile("graft-processes-", ".jfr")
      try {
        recording.dump(dump)
        val events = RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .sortBy(_.getStartTime)
        (r, events.map(_.getString("command")))
      } finally Files.deleteIfExists(dump)
    } finally recording.close()
  }
}
