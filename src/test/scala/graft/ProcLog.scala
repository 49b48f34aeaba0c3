package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes a block of code starts, from an
  * in-process JFR recording of `jdk.ProcessStart` (every
  * `ProcessBuilder.start` in the JVM, from any thread): one command line
  * per start.
  */
object ProcLog {

  /** Run `body` and return what it returned plus the command line of
    * every process the JVM started meanwhile. Hadoop's one-time `Shell`
    * probe (`setsid`) runs when its class loads, before the recording.
    */
  def during[A](body: => A): (A, Seq[String]) = {
    Class.forName("org.apache.hadoop.util.Shell")
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      val out = try body finally r.stop()
      val f = Files.createTempFile("proclog", ".jfr")
      try {
        r.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")))
      } finally Files.delete(f)
    } finally r.close()
  }
}
