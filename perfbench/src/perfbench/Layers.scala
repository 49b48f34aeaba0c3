package perfbench

import java.io.File

import perfbench.Main.Run
import perfbench.Trace.{Job, Span, unionSeconds}

/** The traced run's per-layer table, from the job table and the spans of
  * the measured loop. Every value is per loop unit (an ingest tranche, a
  * serve request, an analytics pass) so runs of different lengths
  * compare; `query.<name>.s` stays a per-query median. */
object Layers {
  private val MB = 1048576.0

  private def jobIv(js: Seq[Job]): Seq[(Long, Long)] = js.map(j => (j.startMs, j.endMs))

  /** Seconds of `s` that jobs started inside it cover. */
  private def covered(s: Span, js: Seq[Job]): Double =
    unionSeconds(js.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
      .map(j => (j.startMs, math.min(j.endMs, s.endMs))))

  def report(run: Run): Unit = {
    val all = run.trace.attributedJobs()
    val jobs = all.filter(j => j.startMs >= run.loopStartMs && j.startMs <= run.loopEndMs)
    val spans = run.trace.allSpans.filter(s =>
      s.startMs >= run.loopStartMs && s.endMs <= run.loopEndMs)
    val u = run.units.toDouble
    Trace.Layers.foreach { l =>
      val js = jobs.filter(_.layer == l)
      run.metric(s"$l.jobs", js.size / u, "count")
      run.metric(s"$l.busy_s", unionSeconds(jobIv(js)) / u, "s")
      run.metric(s"$l.task_s", js.map(_.taskMs).sum / 1000.0 / u, "s")
      run.metric(s"$l.sched_s", sched(js) / u, "s")
      run.metric(s"$l.shuffle_mb", js.map(_.shuffleBytes).sum / MB / u, "MB")
      run.metric(s"$l.write_mb", js.map(_.writeBytes).sum / MB / u, "MB")
    }
    run.metric("spark.jobs", jobs.size / u, "count")
    run.metric("spark.sched_s", sched(jobs) / u, "s")
    val ops = spans.filter(_.parent < 0)
    run.metric("driver.s", ops.map(s => s.seconds - covered(s, jobs)).sum / u, "s")
    run.metric("gc.s", run.metrics.get("gc.s").map(_._1).getOrElse(0.0) / u, "s")
    val rowsOut = run.metrics.get("rows_out").map(_._1).getOrElse(0.0)
    run.metric("PQ.rows_per_result",
      if (rowsOut > 0) jobs.filter(_.layer == "PQ").map(_.inputRecords).sum / rowsOut
      else 0.0, "ratio")
    run.metric("listing.paths", jobs.map(run.trace.listingPaths).sum / u, "count")
    // the commit span's wall time split into job-covered and driver time
    val commits = spans.filter(_.name == "commitTranche")
    val n = math.max(1, commits.size).toDouble
    val wall = commits.map(_.seconds).sum
    val cov = commits.map(covered(_, jobs)).sum
    run.metric("commit.wall_s", wall / n, "s")
    run.metric("commit.jobs_s", cov / n, "s")
    run.metric("commit.driver_s", (wall - cov) / n, "s")
    if (commits.nonEmpty) run.notes += f"commit accounting: wall ${wall / n}%.3f s = " +
      f"jobs ${cov / n}%.3f s + driver ${(wall - cov) / n}%.3f s; per-layer busy: " +
      Trace.Layers.map(l => f"$l ${unionSeconds(jobIv(commits.flatMap(c =>
        jobs.filter(j => j.layer == l && j.startMs >= c.startMs && j.startMs <= c.endMs)))) / n}%.3f")
        .mkString(", ")
    val retracts = spans.filter(_.name == "retract")
    val m = math.max(1, retracts.size).toDouble
    run.metric("retract.wall_s", retracts.map(_.seconds).sum / m, "s")
    Seq("Curation", "listing", "unattributed").foreach { l =>
      run.metric(s"retract.$l.busy_s", retracts.map(t => unionSeconds(jobIv(
        jobs.filter(j => j.layer == l && j.startMs >= t.startMs && j.startMs <= t.endMs))))
        .sum / m, "s")
    }
  }

  private def sched(js: Seq[Job]): Double =
    js.map(j => math.max(0L, j.endMs - j.startMs - j.maxTaskMs)).sum / 1000.0

  /** All spans and attributed jobs, one JSON object a line. Job spans name
    * their parent: the benchmark span open when the job started. */
  def writeSpans(run: Run, path: String): Unit = {
    val q = Json.quote _
    val lines = run.trace.allSpans.map(s =>
      s"""{"span": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}}""") ++
      run.trace.attributedJobs().map(j =>
        s"""{"job": ${j.id}, "name": ${q("job." + j.layer)}, "parent": """ +
          s"""${Option(j.parent).map(_.id).getOrElse(-1)}, "start_ms": ${j.startMs}, """ +
          s""""end_ms": ${j.endMs}, "task_ms": ${j.taskMs}, "max_task_ms": ${j.maxTaskMs}, """ +
          s""""shuffle_bytes": ${j.shuffleBytes}, "write_bytes": ${j.writeBytes}, """ +
          s""""exec": ${q(j.execId)}, "site": ${q(j.site.takeWhile(_ != '\n'))}, """ +
          s""""frame": ${q(j.site.split('\n').map(_.trim).find(f =>
            f.startsWith("graft.") || f.startsWith("perfbench.")).getOrElse(""))}, """ +
          s""""desc": ${q(j.desc.take(120))}}""")
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
