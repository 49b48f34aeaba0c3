package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code starts, as a listener sees
  * them: description and result-stage call site per job. Planning jobs
  * are the ones a file read starts before any action: Spark's parallel
  * partition discovery ("Listing leaf files and directories …") and
  * parquet schema inference, both submitted from inside
  * `DataFrameReader` while the read is being resolved.
  */
object JobLog {
  final case class Job(desc: String, site: String) {
    def listing: Boolean = desc.startsWith("Listing leaf files")
    def planning: Boolean = listing || site.contains("DataFrameReader")
  }

  /** Run `body` and return what it returned plus every job it started. */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[Job]()
    val sentinel = s"joblog-sentinel-${System.nanoTime()}"
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (desc == sentinel) drained = true
        else jobs.synchronized {
          jobs += Job(desc, if (e.stageInfos.isEmpty) ""
            else e.stageInfos.maxBy(_.stageId).details)
        }
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      // the bus delivers in order: once the sentinel's start arrives,
      // every job `body` started has been seen
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain within 30 s")
      (out, jobs.synchronized(jobs.toList))
    } finally sc.removeSparkListener(l)
  }
}
