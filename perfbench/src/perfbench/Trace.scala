package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around calls into the engine, plus a
  * SparkListener that files every Spark job under the engine module that
  * started it. Nothing here touches engine code: a job's module is read
  * off the call site Spark records for it (the innermost `graft.*`
  * frame, or the `callSite` property the engine's thread pool sets),
  * and its parent span is the innermost benchmark span open when the
  * job started.
  */
object Trace {
  /** The layers reported per run; any other `graft.*` module is `other`. */
  val Layers: Seq[String] = Seq("Curation", "Dedup", "IvfIndex", "PQ",
    "ImageHash", "Ledger", "StoreSwap", "queries", "other", "listing",
    "unattributed")

  final class Span(val id: Int, val name: String, val parent: Int,
                   val consume: String) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs: Long = Long.MaxValue
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val startMs: Long, val site: String,
                  val desc: String, val execId: String) {
    @volatile var endMs: Long = -1L
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
    var writeBytes = 0L
    var inputRecords = 0L
    var layer = ""
    var parent: Span = null
  }

  private val Listing = "Listing leaf files"
  private val ListingPaths = """for (\d+) paths""".r.unanchored

  /** The module of one stack frame (`graft.ext.PQ$.codesAt(...)` -> PQ). */
  def moduleOf(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
      .map(_.takeWhile(_ != '$'))
    cls.toSeq match {
      case Seq("graft", "ext", m, _*) => m
      case Seq("graft", pkg, _, _*) => pkg
      case Seq("graft", m) => m
      case _ => "graft"
    }
  }

  def layerOf(module: String): String =
    if (Layers.contains(module)) module else "other"

  /** Intervals' total length after merging overlaps, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += curE - curS
    total / 1000.0
  }
}

final class Trace extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()

  def allSpans: Seq[Span] = spans.toSeq

  /** Time `body` as a span named `name`. `consume` names the layer whose
    * lazily built result the benchmark itself executes inside this span
    * (its jobs carry no engine frames). */
  def span[A](name: String, consume: String = "")(body: => A): A = {
    val s = new Span(spans.size, name,
      open.headOption.map(_.id).getOrElse(-1), consume)
    spans += s
    open.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
      System.err.println(f"[perfbench] span ${s.name} ${s.seconds}%.3f s")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage is created by this job, so its call site is ours
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val props = Option(e.properties)
    val j = new Job(e.jobId, e.time, site,
      props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse(""))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    if (j == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    j.synchronized {
      j.taskMs += m.executorRunTime
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.writeBytes += m.outputMetrics.bytesWritten
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  /** Every finished job, attributed: listing jobs by description, then
    * the innermost `graft.*` frame, then a sibling job of the same SQL
    * execution (adaptive-execution stages, broadcasts and subqueries run
    * on Spark's own threads, whose stacks hold no caller frames), then
    * the layer the enclosing span declares it consumes (an engine-built
    * frame the benchmark itself executes); anything left is
    * `unattributed`. */
  def attributedJobs(): Seq[Job] = {
    val done = jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.id)
    val sp = spans.toSeq
    done.foreach { j =>
      j.parent = sp.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(_.startNs).lastOption.orNull
      j.layer =
        if (j.desc.startsWith(Listing)) "listing"
        else j.site.split('\n').map(_.trim).find(_.startsWith("graft."))
          .map(f => layerOf(moduleOf(f))).getOrElse("")
    }
    val byExec = done.filter(j => j.layer.nonEmpty && j.layer != "listing" &&
      j.execId.nonEmpty).groupBy(_.execId).map { case (k, v) => k -> v.head.layer }
    done.filter(_.layer.isEmpty).foreach { j =>
      j.layer = byExec.getOrElse(j.execId, Iterator.iterate(j.parent)(s =>
        if (s == null || s.parent < 0) null else sp(s.parent))
        .takeWhile(_ != null).map(_.consume).find(_.nonEmpty)
        .getOrElse("unattributed"))
    }
    done
  }

  def listingPaths(j: Job): Long = j.desc match {
    case ListingPaths(n) => n.toLong
    case _ => 0L
  }
}
