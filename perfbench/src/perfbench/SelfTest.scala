package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Curation, PQ}

/** Checks of the benchmark's own job attribution, run with
  * `python3 perfbench/run.py --selftest`:
  *  - call-site frames map to the right module and layer;
  *  - one `serveAnn` call files its jobs under `PQ` (with `Curation`'s
  *    tombstone read and `listing` as the only other layers);
  *  - a "Listing leaf files" job lands in `listing` with its path count;
  *  - the job table reports unattributed jobs as a layer of their own.
  * Prints one PASS/FAIL line per check; exits 1 if any fails.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val root = args(0)
    expect("moduleOf maps an ext frame to its object") {
      Trace.moduleOf("graft.ext.PQ$.codesAt(PQ.scala:437)") == "PQ"
    }
    expect("moduleOf maps the thread-pool call site to its caller") {
      Trace.moduleOf("graft.ext.Curation$.commitTranche(Curation.scala:612) [thunk 3]") ==
        "Curation"
    }
    expect("moduleOf maps a queries frame to the queries layer") {
      Trace.layerOf(Trace.moduleOf(
        "graft.queries.ExtQueries$.$anonfun$x90Bm25$1(ExtQueries.scala:4464)")) == "queries"
    }
    expect("a module outside the layer list is `other`") {
      Trace.layerOf(Trace.moduleOf("graft.ext.Retrieval$.bm25TopK(Retrieval.scala:9)")) ==
        "other"
    }
    expect("unionSeconds merges overlapping intervals") {
      Trace.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    try {
      import spark.implicits._
      val st = Main.stores(s"$root/deploy")
      val vecs = spark.range(400).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          sin(i.cast("double") * (col("id") + 1)).cast("float")).as("embedding"))
      Curation.commitTranche(
        spark.range(400).select(col("id").as("doc_id"),
          concat_ws(" ", lit("doc"), col("id"), lit("text")).as("text")),
        0L, st)
      PQ.writeIndex(vecs, st.pqIndex)
      Curation.retract(spark, Seq(7L).toDF("doc_id"), st)
      val q = vecs.filter(col("vec_id") < 4).withColumn("vec_id", col("vec_id") + 1000L)
        .localCheckpoint()
      val rows = trace.span("serveAnn", consume = "PQ")(
        Curation.serveAnn(spark, st, q, 5).collect())
      // partitioned past the parallel-discovery threshold (32 paths)
      spark.range(40).select(col("id"), col("id").as("p")).write
        .partitionBy("p").parquet(s"$root/listed")
      val listed = trace.span("listing")(spark.read.parquet(s"$root/listed").count())
      trace.span("plain")(spark.range(10).count())
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val jobs = trace.attributedJobs()
      def in(name: String) = jobs.filter(j => j.parent != null && j.parent.name == name)
      val serve = in("serveAnn")
      val byLayer = serve.groupBy(_.layer).map { case (k, v) => k -> v.size }
      println(s"serveAnn jobs by layer: $byLayer")
      expect("serveAnn returned 5 rows for each of 4 queries")(rows.length == 20)
      expect("serveAnn's jobs are mostly PQ") {
        byLayer.getOrElse("PQ", 0) > serve.size / 2
      }
      expect("serveAnn's jobs stay in PQ, Curation and listing") {
        byLayer.keySet.subsetOf(Set("PQ", "Curation", "listing"))
      }
      val lj = in("listing").filter(_.layer == "listing")
      expect(s"a Listing leaf files job lands in listing (${lj.size} found)")(lj.nonEmpty)
      expect("its path count is parsed")(lj.map(trace.listingPaths).sum == 40)
      expect("the listed table reads back whole")(listed == 40)
      expect("a job with no engine frame and no consuming span is unattributed") {
        in("plain").nonEmpty && in("plain").forall(_.layer == "unattributed")
      }
    } finally spark.stop()
    println(if (failures == 0) "selftest: all checks passed"
            else s"selftest: $failures check(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
