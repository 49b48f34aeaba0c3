package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.queries.Builds

/** Round-17 measurement harness (guide §1): runs ONE named bench build
  * (or declared query) under a SparkListener that records every job's
  * wall-clock, description and stage breakdown, then prints a sorted
  * per-job table. The target is looked up in [[Builds.table]], and the
  * session starts where Bench's does. Purely diagnostic — never invoked
  * by the driver.
  *
  * Usage: sbt "runMain graft.ProfileBuild pq_commit_build"
  */
object ProfileBuild {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse(
      sys.error("usage: ProfileBuild <build item or declared query>"))
    val at = Builds.table.indexWhere(_._1 == target)
    val body: Builds.Build =
      if (at >= 0) Builds.table(at)._2
      else if (SparkEntry.queries.contains(target))
        (s, d) => SparkEntry.queries(target)(s, d).count()
      else sys.error(s"unknown target $target")
    val (spark, sfDir) = Bench.session("32")
    // price what Bench prices: every build Bench times before the target
    // (all of them, before a declared query) runs first, untimed
    Builds.table.take(if (at >= 0) at else Builds.table.size)
      .foreach { case (_, build) => build(spark, sfDir) }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    var stageTasks = 0L
    var stageMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribute each job to the deepest graft frame in its result
        // stage's callsite (the lifecycle method that issued the action)
        val graftFrames = js.stageInfos.lastOption.toSeq
          .flatMap(_.details.split('\n'))
          .filter(l => l.contains("graft.") && !l.contains("ProfileBuild"))
          .map(_.trim.stripPrefix("at ").takeWhile(_ != '('))
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(graftFrames.headOption.map { f =>
            graftFrames.take(3).mkString(" <- ")
          })
          .getOrElse("?")
        starts.put(js.jobId, (d, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (d, t0) =>
          jobs.put(je.jobId, (d, t0, System.nanoTime()))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageTasks += sc.stageInfo.numTasks
        for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
          stageMs += (c - s)
      }
    })

    val t0 = System.nanoTime()
    body(spark, sfDir)
    val totalSec = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    val recs = jobs.asScala.toSeq.map { case (id, (d, s, e)) =>
      (id, d, (e - s) / 1e6)
    }.sortBy(_._1)
    println(f"== $target: $totalSec%.2f s wall, ${recs.size} jobs, $stageTasks tasks, ${stageMs / 1e3}%.1f s summed-stage ==")
    // jobs overlap (StoreSwap.concurrently), so print both the timeline
    // and a by-description rollup
    val byDesc = recs.groupBy(_._2).map { case (d, rs) =>
      (d, rs.size, rs.map(_._3).sum)
    }.toSeq.sortBy(-_._3)
    println("-- by description (count, summed ms) --")
    byDesc.take(60).foreach { case (d, n, ms) =>
      println(f"$ms%9.0f ms  x$n%-4d $d")
    }
    println("-- slowest 40 individual jobs (start-ordered ids) --")
    recs.sortBy(-_._3).take(40).foreach { case (id, d, ms) =>
      println(f"  job $id%4d $ms%9.0f ms  $d")
    }
    spark.stop()
  }
}
