package graft
import org.apache.spark.sql.SparkSession

import graft.queries.Builds
object Bench {

  /** Reader for a prior round's bench output: extracts per-query seconds.
    *
    * Three formats must work (VERDICT r5 #1 — the original marker-only
    * parse silently returned empty on driver artifacts, making the
    * regression gate vacuous):
    *  1. This object's own full line / `bench_full.json` — has a
    *     `"queries":{...}` min map; use it.
    *  2. A driver `BENCH_r{N}.json` wrapper — keeps only the LAST 2000
    *     chars of stdout as an escaped `"tail"` string; since r3 the
    *     `"queries":{` marker is cut off, so fall back to scraping every
    *     `"name":number` pair (later occurrences win, i.e. the raw pass2
    *     map in the r3–r5 print order). Escaped quotes are unescaped
    *     first so wrapper tails match.
    *  3. Missing/garbled file — empty map, gate degrades to no-op loudly
    *     (caller prints `"compared":0`).
    */
  private[graft] def prevQueryTimes(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    try {
      val txt = scala.io.Source.fromFile(f).mkString.replace("\\\"", "\"")
      val start = txt.indexOf("\"queries\":{")
      val body =
        if (start >= 0)
          txt.substring(start + "\"queries\":{".length, txt.indexOf('}', start))
        else txt
      // value must start with a digit/sign so `"sf":"/root/..."` and other
      // string-valued keys never match; keys are ALLOWLISTED to the
      // current query surface + the build line items, which the gate
      // compares like any query (VERDICT r7 #1) (ADVICE r6: the old
      // metadata-key denylist let any future numeric wrapper key
      // silently enter the map and fire phantom regressions).
      val queryNames = SparkEntry.queries.keySet ++ Builds.table.map(_._1)
      "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter { case (k, _) => queryNames(k) }
        .toMap
    } catch { case _: Throwable => Map.empty }
  }

  /** Temp root for a session-keyed deployment ([[graft.queries.Builds
    * .deployment]]), with a janitor sweep (VERDICT r13 nit #3): siblings
    * with the same prefix left by earlier runs are dead weight in the
    * temp dir — reclaim any older than two hours (old enough that no
    * live session still reads them; a concurrent run's fresh deployment
    * is never touched).
    */
  private[graft] def freshDeploymentRoot(prefix: String): String = {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    def deleteRec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRec)
      f.delete(); ()
    }
    // ownership guard (ADVICE r14): a >2h run on a loaded box must not
    // have its LIVE cached deployment swept by a newer concurrent run —
    // each root carries its creator's pid, and the janitor skips any
    // sibling whose owner process is still alive (the age cutoff alone
    // was the race)
    def ownerAlive(f: java.io.File): Boolean = {
      val owner = new java.io.File(f, ".owner")
      if (!owner.isFile) false
      else
        try {
          val pid = new String(java.nio.file.Files
            .readAllBytes(owner.toPath), "UTF-8").trim
          // ProcessHandle, not a /proc probe: /proc exists only on
          // Linux, and "every owner reads dead" elsewhere is exactly
          // the concurrent-run race this guard closes (ADVICE r15)
          pid.nonEmpty && pid.length <= 18 && pid.forall(_.isDigit) &&
            ProcessHandle.of(pid.toLong)
              .map[java.lang.Boolean](h => Boolean.box(h.isAlive))
              .orElse(java.lang.Boolean.FALSE).booleanValue
        } catch { case _: java.io.IOException => false }
    }
    val sibs = tmpRoot.listFiles()
    if (sibs != null)
      sibs.filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.lastModified < cutoff && !ownerAlive(f)).foreach(deleteRec)
    val root = java.nio.file.Files.createTempDirectory(prefix)
    java.nio.file.Files.write(root.resolve(".owner"),
      ProcessHandle.current.pid.toString.getBytes("UTF-8"))
    root.toString
  }

  /** The bench session over `SPARK_GRAFT_SF_DIR`, warmed up untimed so
    * the timed builds and queries measure themselves, not JVM start.
    * ProfileBuild starts from the same state.
    */
  private[graft] def session(defaultCpus: String): (SparkSession, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // touch every table (parquet footers, codegen, JIT)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    // codegen/JIT warmup of the MinHash-LSH pipeline on a 2048-doc
    // sample: the pair build's generated classes (WordShingles,
    // signature aggs, band join, SortedLongIntersect) first-compile
    // here, so the timed `neardup_pairs_build` measures the
    // data-proportional work (~1.5 s warm at sf0.1) instead of ~3.5 s
    // of one-time JIT — the r7 "build doubled" signal was mostly this
    // noise floor moving, which the gate can now see past.
    try graft.ext.Dedup.minhashLshPairs(
      graft.model.Tables.documents(spark, sfDir).limit(2048),
      "doc_id", "text").count()
    catch { case _: Throwable => }
    (spark, sfDir)
  }

  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = session("4")
    // One-shot build line items, in the build table's order: each shared
    // persisted/memoized artifact is constructed up front and timed as
    // its own visible line (VERDICT r2/r7: whichever query ran first used
    // to absorb the build cost, and untimed builds escaped the
    // regression gate). A failed build is reported and its time kept.
    val builds = Builds.table.map { case (name, build) =>
      val t0 = System.nanoTime()
      try build(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Two timed passes, report the per-query MINIMUM. A single pass is
    // hostage to whatever else the container is doing (the r3 driver run
    // recorded 16.3 s for a query that takes ~3 s locally); min-of-two
    // measures the query, not the co-tenant. The build line items stay
    // one-shot — their second evaluation would hit the persist/memo
    // caches. Both raw passes ride the output file so warm/cold is
    // visible, not inferred.
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Optional args filter to named queries for fast local iteration —
    // the driver invokes with no args, which benches the full surface.
    val wanted = args.toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would " +
        "silently bench nothing and exit green")
    def selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => wanted(k) }
    def onePass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val p1 = onePass()
    val p2 = onePass()
    val results0 = p1.map { case (k, v) => k -> math.min(v, p2.getOrElse(k, v)) }
    val results = results0 ++ builds
    // Regression gate vs the previous round's bench (VERDICT r4 #9,
    // repaired per VERDICT r5 #1): any query >2x its prior min is flagged
    // loudly NOW, in-round. Prev defaults to the committed bench_full.json
    // (the complete artifact this run also rewrites — read BEFORE write);
    // prevQueryTimes still understands truncated driver tails as fallback.
    // `compared` rides the output so a vacuous comparison is visible.
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", "bench_full.json")
    // the gate compares the BUILD line items too (VERDICT r7 #1): a
    // shared build doubling is a regression like any query doubling
    val prev = prevQueryTimes(prevPath)
    val compared = results.keysIterator.count(prev.contains)
    val regressions = results.toSeq
      .flatMap { case (k, v) =>
        prev.get(k).collect {
          case p if p > 0.05 && v > 2 * p => (k, p, v)
        }
      }.sortBy(-_._3)
    regressions.foreach { case (k, p, v) =>
      System.err.println(
        f"[bench] REGRESSION $k: $v%.2fs vs $p%.2fs prev (${v / p}%.1fx)")
    }
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regs = regressions.map { case (k, p, v) =>
      f"""{"query":"$k","prev":$p,"now":$v}"""
    }.mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full artifact (min map + both raw passes) goes to a committed repo
    // file — the driver's BENCH_r{N}.json keeps only the last 2000 chars
    // of stdout, which truncated every line since r3. Next round's gate
    // reads this file, not a tail.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","compared":$compared,"queries":${jmap(results)},"pass1":${jmap(p1)},"pass2":${jmap(p2)},"regressions":$regs,"failed":$fs}"""
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // stdout line: per-query map FIRST, headline numbers LAST, raw passes
    // omitted (they live in bench_full.json) — so the driver's 2000-char
    // tail always ends with regressions/compared/failed/total, and what
    // truncation eats is only the head of the min map (VERDICT r5 #2).
    println(s"""{"sf":"$sfDir","pass_detail":"$fullPath","queries":${jmap(results)},"regressions":$regs,"compared":$compared,"failed":$fs,"metric":"total","value":$total,"unit":"sec"}""")
    spark.stop()
  }
}
