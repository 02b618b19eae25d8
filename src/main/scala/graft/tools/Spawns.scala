package graft.tools

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** Counts the operating-system processes this JVM starts while `body` runs:
  * a JFR recording with only `jdk.ProcessStart` enabled, read back from its
  * dump. Every `ProcessBuilder.start` in the JVM counts, from any thread. */
object Spawns {
  def count[T](body: => T): (T, Long) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val dump = Files.createTempFile("spawns", ".jfr")
      try {
        rec.dump(dump)
        (out, RecordingFile.readAllEvents(dump).asScala
          .count(_.getEventType.getName == "jdk.ProcessStart").toLong)
      } finally Files.deleteIfExists(dump)
    } finally rec.close()
  }
}
