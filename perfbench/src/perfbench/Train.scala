package perfbench

/** The class-list run behind the benchmark's class-data-sharing archive
  * (run.py starts it once per build with `-XX:ArchiveClassesAtExit`).
  * It runs each workload's set-up and one loop operation on generated
  * inputs, so that the archive holds the classes measured runs load.
  *
  *   perfbench.Train <root> <workload>=<data dir> ...
  */
object Train {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = Main.session("train", root)
    try {
      args.drop(1).map(_.split("=", 2)).foreach { case Array(w, data) =>
        val run = new Main.Run(0.0, traced = false)
        val dir = s"$root/$w"
        w match {
          case "ingest" => Ingest.run(spark, run, data, dir)
          case "analytics" => Analytics.run(spark, run, data, dir)
          case "serve" => Serve.run(spark, run, data, dir)
        }
        if (run.failed > 0) println(s"train $w: ${run.notes.mkString("; ")}")
      }
    } finally spark.stop()
  }
}
