package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, IvfIndex, Ledger, PQ}

/** One benchmark run inside the JVM: set up the named workload from the
  * generated inputs in `--data`, run its closed loop for `--seconds`,
  * check outputs, and write a result JSON (metrics, counts, failure
  * notes) to `--out`. run.py drives it; see REASONING.md.
  *
  *   perfbench.Main --workload ingest --data D --root R --seconds 20
  *                  --trace 0 --out result.json [--spans spans.jsonl]
  */
object Main {

  final class Run(val seconds: Double, val traced: Boolean) {
    val trace = new Trace
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val notes = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    var units = 1L
    var loopStartMs = 0L
    var loopEndMs = 0L
    def metric(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)
    /** Count one operation; a thrown error or a false check fails it. */
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        notes += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
      }
    }
    def check(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val good = try ok catch { case e: Throwable =>
        notes += s"$what: ${e.getMessage}".take(400); false }
      if (!good) { failed += 1; notes += s"check failed: $what" }
    }
    def span[A](name: String, consume: String = "")(body: => A): A =
      trace.span(name, consume)(body)
    def timeLeft(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 < seconds
    /** The workload-neutral end-to-end metrics every workload reports:
      * its primary operation's median, and work items per second of loop
      * wall time. */
    def generic(op: Seq[Double], perSecond: Double): Unit = {
      metric("op_p50_s", median(op), "s")
      metric("throughput_per_s", perSecond, "1/s")
      notes += s"samples: op=${op.size}"
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val root = opt("root")
    val run = new Run(opt("seconds").toDouble, opt("trace") == "1")
    val sessionStart = System.nanoTime()
    val spark = session(workload, root)
    if (run.traced) spark.sparkContext.addSparkListener(run.trace)
    run.notes += f"setup.session ${(System.nanoTime() - sessionStart) / 1e9}%.2f s"
    try {
      workload match {
        case "ingest" => Ingest.run(spark, run, data, root)
        case "serve" => Serve.run(spark, run, data, root)
        case "analytics" => Analytics.run(spark, run, data, root)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      run.trace.allSpans.filter(s => s.name.startsWith("setup.") ||
        s.name.startsWith("check.")).foreach(s =>
        run.notes += f"${s.name} ${s.seconds}%.2f s")
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      run.metric("jvm_setup_s",
        (run.loopStartMs - jvmStart) / 1000.0, "s")
      run.metric("host.calib_s", calibrate(spark), "s")
      run.metric("live_heap_mb", liveHeapMb(), "MB")
      if (run.traced) {
        // let the listener bus drain before reading the job table
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.report(run)
        opt.get("spans").foreach(Layers.writeSpans(run, _))
      }
    } finally spark.stop()
    writeResult(run, opt("out"))
  }

  /** The local session every run uses: the engine's own bench settings
    * on at most four cores, with Spark's scratch space under `root`. */
  def session(name: String, root: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def writeResult(run: Run, path: String): Unit = {
    val ms = run.metrics.map { case (k, (v, u)) =>
      s"${Json.quote(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.quote(u)}}" }
    val json = s"""{"attempted": ${run.attempted}, "failed": ${run.failed},
      |"metrics": {${ms.mkString(", ")}},
      |"notes": [${run.notes.map(Json.quote).mkString(", ")}]}""".stripMargin
    java.nio.file.Files.writeString(new File(path).toPath, json)
  }

  /** Host speed: the median time of a fixed Spark job mix that runs no
    * engine code. A shared VM drifts by up to 1.5x within minutes, so
    * run.py scales the end-to-end times by it (see REASONING.md). */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      (0 until 4).foreach { i =>
        spark.range(0L, 200000L, 1L, 4).selectExpr(s"id % ${97 + i} AS k",
          "xxhash64(id) % 1000 AS h").groupBy("k").agg(sum("h")).collect()
      }
      (System.nanoTime() - t0) / 1e9
    }
    once()
    median(Seq.fill(3)(once()))
  }

  /** Bytes of every file under `dir`. */
  def duBytes(dir: File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(duBytes).sum).getOrElse(0L)

  def stores(root: String): Curation.Stores =
    Curation.Stores(s"$root/text", s"$root/img", s"$root/aud", s"$root/vid",
      s"$root/emb", s"$root/led", pqIndex = s"$root/pq")

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * unreferenced checkpoint and shuffle blocks asynchronously once a GC
    * has cleared their references, so collect until two readings agree. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var rounds = 0
    while (math.abs(cur - prev) > 1.0 && rounds < 8) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1000.0
}

/** `ingest`: one writer commits generated tranches through
  * `Curation.commitTranche`; after each commit a `retract` takes down a
  * few of the tranche's own documents. Whole tranches only, so every run
  * times at least one commit. `maintainDue` is left out: see
  * REASONING.md. */
object Ingest {
  import Main._

  def run(spark: SparkSession, run: Run, data: String, root: String): Unit = {
    val spec = Json.parse(new File(s"$data/tranches.json"))
    val tranches = spec("tranches").asInstanceOf[Seq[Map[String, Any]]]
    val st = stores(s"$root/deploy")
    def load(name: String): DataFrame =
      spark.read.parquet(s"$data/$name.parquet").localCheckpoint()
    // set-up: IVF codebook, a bootstrap tranche, a PQ serving store
    val boot = load("bootstrap")
    run.span("setup.bootstrap") {
      // small codebooks (one k-means iteration) keep set-up inside the run
      // budget; commits still route, probe and append through them
      run.span("setup.ivf")(IvfIndex.write(
        boot.select(col("doc_id").as("vec_id"), col("embedding")), st.embedding,
        k = 4, iters = 1))
      // the bootstrap vectors ARE the trained IVF store, so the tranche
      // commits without the embedding modality
      run.span("setup.commit")(Curation.commitTranche(boot.select("doc_id", "text"),
        0L, st, imgHashes = Some(boot.select("doc_id", "hash"))))
      run.span("setup.pq")(PQ.writeIndex(
        boot.select(col("doc_id").as("vec_id"), col("embedding")), st.pqIndex,
        iters = 1))
    }
    var inputBytes = spec("bootstrap_input_bytes").asInstanceOf[Double]
    var committed = Set.empty[Long] ++ boot.select("doc_id").collect().map(_.getLong(0))
    val commitS = mutable.ArrayBuffer[Double]()
    val retractS = mutable.ArrayBuffer[Double]()
    val exactCopies = mutable.ArrayBuffer[Long]()
    val verdicts = mutable.ArrayBuffer[Row]()
    var docs = 0L
    var next = 0
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    run.loopStartMs = System.currentTimeMillis()
    while ((run.timeLeft(t0) || next == 0) && next < tranches.size) {
      val t = tranches(next)
      val id = t("tranche").asInstanceOf[Double].toLong
      val df = load(s"tranche_$id")
      val n = df.count()
      val s0 = System.nanoTime()
      val v = run.op(s"commit $id")(run.span("commitTranche") {
        Curation.commitTranche(df.select("doc_id", "text"), id, st,
          imgHashes = Some(df.select("doc_id", "hash")),
          embeddings = Some(df.select(col("doc_id").as("vec_id"),
            col("embedding"))))
      })
      val dt = (System.nanoTime() - s0) / 1e9
      v.foreach { rows =>
        commitS += dt
        docs += n
        inputBytes += t("input_bytes").asInstanceOf[Double]
        committed ++= df.select("doc_id").collect().map(_.getLong(0))
        exactCopies ++= t("exact_copies").asInstanceOf[Seq[Double]].map(_.toLong)
        verdicts ++= rows.collect()
      }
      val victims = t("victims").asInstanceOf[Seq[Double]].map(_.toLong)
      val r0 = System.nanoTime()
      val ok = run.op(s"retract $id")(run.span("retract") {
        import spark.implicits._
        Curation.retract(spark, victims.toDF("doc_id"), st)
      })
      if (ok.nonEmpty) retractS += (System.nanoTime() - r0) / 1e9
      next += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    run.loopEndMs = System.currentTimeMillis()
    run.units = math.max(1, next)
    run.metric("gc.s", gcSeconds() - gc0, "s")
    run.metric("commit_p50_s", median(commitS.toSeq), "s")
    run.metric("ingest_docs_per_s", docs / wall, "1/s")
    run.metric("retract_p50_s", median(retractS.toSeq), "s")
    run.metric("store_bytes_per_input_byte",
      duBytes(new File(s"$root/deploy")) / inputBytes, "ratio")
    run.generic(commitS.toSeq, docs / wall)
    // correctness, untimed
    val byDoc = verdicts.groupBy(_.getLong(0))
    run.check("every injected exact copy is judged a duplicate in every modality") {
      exactCopies.nonEmpty && exactCopies.forall(id =>
        byDoc.get(id).exists(rs => rs.size == 3 &&
          rs.forall(_.getAs[String]("decision") != "kept")))
    }
    // a retract only tombstones; the ledger keeps the rows until a
    // maintenance pass, which this loop does not run
    val ledger = Ledger.read(spark, st.ledger).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    run.check(s"ledger ids (${ledger.size}) equal the committed ids (${committed.size})") {
      ledger == committed
    }
    // the full audit costs 5-8 s a run, more than the untraced runs' time
    // budget allows, so only traced runs pay it
    if (run.traced) {
      val violations = run.span("check.fsck")(Curation.fsck(spark, st)
        .filter(col("status") === "violation").collect())
      run.check("fsck reports no violation: " +
        violations.map(_.mkString(",")).mkString("; ")) { violations.isEmpty }
    }
  }
}

/** `serve`: one client alternates plain `serveAnn` top-k requests with
  * the same request restricted to a published release's manifest. */
object Serve {
  import Main._

  def run(spark: SparkSession, run: Run, data: String, root: String): Unit = {
    val p = Json.parse(new File(s"$data/workload.json"))
    val topK = p("top_k").asInstanceOf[Double].toInt
    val perReq = p("queries_per_request").asInstanceOf[Double].toInt
    val st = stores(s"$root/deploy")
    val store = spark.read.parquet(s"$data/store.parquet")
    val storeN = p("store_vectors").asInstanceOf[Double].toLong
    val released = spark.read.parquet(s"$data/release_docs.parquet")
    val takedown = spark.read.parquet(s"$data/takedown.parquet")
    val gone = takedown.collect().map(_.getLong(0)).toSet
    val relN = p("released_docs").asInstanceOf[Double].toLong
    run.span("setup.deployment") {
      run.span("setup.commit")(Curation.commitTranche(released, 0L, st))
      run.span("setup.pq")(PQ.writeIndex(store, st.pqIndex))
      run.span("setup.publish")(Curation.publishRelease(spark, st, 0L))
      // a takedown with no maintenance after it: the read-side
      // tombstone exclusion stays live for every request
      run.span("setup.retract")(Curation.retract(spark, takedown, st))
    }
    // each request's query batch is a driver-local frame, so a request
    // starts with no file scan of the benchmark's own
    val qs = spark.read.parquet(s"$data/queries.parquet")
    val batches = qs.collect().groupBy(_.getAs[Int]("batch")).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        spark.createDataFrame(rows.toSeq.asJava, qs.schema).select("vec_id", "embedding")
      }
    val plain = mutable.ArrayBuffer[Double]()
    val release = mutable.ArrayBuffer[Double]()
    var rowsOut = 0L
    def request(i: Int, timed: Boolean): Unit = {
      val q = batches(i % batches.size)
      val rel = i % 2 == 1
      val s0 = System.nanoTime()
      val rows = run.op(s"request $i")(run.span(if (rel) "release_request" else "ann_request") {
        val allowed = if (!rel) None else Some(run.span("readRelease")(
          Curation.readRelease(spark, st, 0L)).select(col("doc_id").as("vec_id")))
        run.span("serveAnn", consume = "PQ")(
          Curation.serveAnn(spark, st, q, topK, allowed).collect())
      })
      val dt = (System.nanoTime() - s0) * 1e-6
      rows.foreach { rs =>
        if (timed) { (if (rel) release else plain) += dt; rowsOut += rs.length }
        val cids = rs.map(_.getAs[Long]("cid"))
        val perQ = rs.groupBy(_.getAs[Long]("qid")).values.map(_.length)
        run.check(s"request $i: $topK rows for each of $perReq queries") {
          perQ.size == perReq && perQ.forall(_ == topK)
        }
        run.check(s"request $i: no tombstoned id") { !cids.exists(gone) }
        run.check(s"request $i: every id in the live ${if (rel) "release" else "corpus"}") {
          cids.forall(c => c >= 0 && c < (if (rel) relN else storeN))
        }
      }
    }
    run.span("setup.warmup")((0 until 4).foreach(request(_, timed = false)))
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    run.loopStartMs = System.currentTimeMillis()
    var i = 0
    while (run.timeLeft(t0) || i < 4) { request(i, timed = true); i += 1 }
    val wall = (System.nanoTime() - t0) / 1e9
    run.loopEndMs = System.currentTimeMillis()
    run.units = i
    run.metric("gc.s", gcSeconds() - gc0, "s")
    run.metric("ann_p50_ms", median(plain.toSeq), "ms")
    run.metric("ann_p90_ms", percentile(plain.toSeq, 90), "ms")
    run.metric("release_ann_p50_ms", median(release.toSeq), "ms")
    run.metric("rows_out", rowsOut.toDouble, "count")
    run.metric("store_bytes_per_input_byte", duBytes(new File(s"$root/deploy")) /
      Seq("store", "release_docs").map(n => duBytes(new File(s"$data/$n.parquet"))).sum,
      "ratio")
    run.generic(plain.map(_ / 1000).toSeq, (plain.size + release.size) * perReq / wall)
  }
}

/** `analytics`: timed passes over a fixed subset of declared queries,
  * each result consumed by an in-cluster hash over all its columns. */
object Analytics {
  import Main._

  def digest(df: DataFrame): Row = {
    val h = xxhash64(df.columns.map(df.col).toIndexedSeq: _*)
    df.agg(count(lit(1)), sum(h.bitwiseAND(0xFFFFFFFFL)), bit_xor(h)).head()
  }

  def run(spark: SparkSession, run: Run, data: String, root: String): Unit = {
    val p = Json.parse(new File(s"$data/workload.json"))
    val names = p("queries").asInstanceOf[Map[String, Any]].keys.toSeq.sorted
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    // untimed reference pass: outputs for the DuckDB oracle compare
    // (run.py) and the digest every timed pass must reproduce
    val expect = mutable.Map[String, Row]()
    new File(s"$root/oracle").mkdirs()
    val cold0 = System.nanoTime()
    run.span("setup.reference") {
      names.foreach { n =>
        run.op(s"reference $n")(run.span(s"setup.reference.$n") {
          queries(n)(spark, data).write.mode("overwrite").parquet(s"$root/oracle/$n")
          expect(n) = digest(spark.read.parquet(s"$root/oracle/$n"))
        })
      }
    }
    // the first execution of every query in a fresh session: what a
    // one-shot batch job of this subset pays
    val coldS = (System.nanoTime() - cold0) / 1e9
    val sql = names.flatMap(n => oracle.get(n).map(n -> _))
    java.nio.file.Files.writeString(new File(s"$root/oracle/oracle_sql.json").toPath,
      Json.write(sql.toMap))
    val passes = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    run.loopStartMs = System.currentTimeMillis()
    while (run.timeLeft(t0) || passes.isEmpty) {
      val p0 = System.nanoTime()
      run.span("pass") {
        names.foreach { n =>
          val q0 = System.nanoTime()
          val got = run.op(s"query $n")(run.span(s"query.$n", consume = "queries")(
            digest(queries(n)(spark, data))))
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) +=
            (System.nanoTime() - q0) / 1e9
          got.foreach(g => run.check(s"$n reproduces its reference digest") {
            expect.get(n).contains(g)
          })
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    run.loopEndMs = System.currentTimeMillis()
    run.units = passes.size
    run.metric("gc.s", gcSeconds() - gc0, "s")
    names.foreach(n => run.metric(s"query.$n.s", median(perQuery(n).toSeq), "s"))
    run.metric("analytics_pass_s", median(passes.toSeq), "s")
    run.metric("cold_pass_s", coldS, "s")
    run.generic(passes.toSeq, passes.size * names.size / wall)
  }
}
