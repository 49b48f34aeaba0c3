package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Round-17 measurement harness (guide §1): runs ONE named bench build
  * (or declared query) under a SparkListener that records every job's
  * wall-clock, description and stage breakdown, then prints a sorted
  * per-job table. Purely diagnostic — never invoked by the driver.
  *
  * Usage: sbt "runMain graft.ProfileBuild pq_commit_build"
  */
object ProfileBuild {
  private case class JobRec(id: Int, desc: String, var ms: Long = 0,
                            start: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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

    // same warmup as Bench so the first job's JIT does not pollute
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try graft.ext.Dedup.minhashLshPairs(
      graft.model.Tables.documents(spark, sfDir).limit(2048),
      "doc_id", "text").count()
    catch { case _: Throwable => }
    jobs.clear()

    val target = args.headOption.getOrElse("pq_commit_build")
    import graft.queries.ExtQueries
    val body: () => Unit = target match {
      case "pq_commit_build" => () => ExtQueries.warmPqCommitServe(spark, sfDir)
      case "retraction_build" => () => ExtQueries.warmRetraction(spark, sfDir)
      case "release_registry_build" => () => ExtQueries.warmReleaseRegistry(spark, sfDir)
      case "commit_sequence_build" => () => ExtQueries.warmCommitSequence(spark, sfDir)
      case "fsck_audit_build" => () => ExtQueries.warmFsck(spark, sfDir)
      case "recall_probe_build" => () => { ExtQueries.warmPqCommitServe(spark, sfDir); jobs.clear(); ExtQueries.warmRecallProbe(spark, sfDir) }
      case "pq_serve_build" => () => ExtQueries.warmPqServe(spark, sfDir)
      case "release_publish_build" => () => { ExtQueries.warmRetraction(spark, sfDir); jobs.clear(); ExtQueries.warmReleases(spark, sfDir) }
      case "quality_train_build" => () => ExtQueries.warmQualityTraining(spark, sfDir)
      case "ledger_kernels_build" => () => ExtQueries.warmLedgerKernels(spark, sfDir)
      case "neardup_pairs_build" => () => ExtQueries.warmPairs(spark, sfDir)
      case "curation_builds" => () => ()  // handled below
      case q if SparkEntry.queries.contains(q) =>
        () => { SparkEntry.queries(q)(spark, sfDir).count(); () }
      case other => sys.error(s"unknown target $other")
    }
    val t0 = System.nanoTime()
    body()
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
