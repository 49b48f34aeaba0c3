package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.Tables
import graft.resolve.MockResolver

/** Streaming end-to-end: file-source link stream → enrichment →
  * single-JSON-array sink (E2/E3), and event-time windows vs their batch
  * equivalents.
  */
class StreamingSpec extends SparkSpec {

  test("station stream drains a link directory into one JSON array (AvailableNow)") {
    val dir = tempDir("links")
    val out = tempDir("out") + "/output.json"
    val ckpt = tempDir("ckpt")
    Files.write(Paths.get(dir, "links.txt"),
      ("# comment\n\nhttps://www.youtube.com/watch?v=AAAAAAAAAAA\n" +
        "https://www.youtube.com/watch?v=BBBBBBBBBBB\n" +
        "https://www.youtube.com/watch?v=AAAAAAAAAAA\n").getBytes)

    val q = StationStream.run(spark, dir, out, ckpt, new MockResolver().stage(spark))
    q.awaitTermination(60000)

    val json = new String(Files.readAllBytes(Paths.get(out)))
    assert(json.startsWith("[") && json.trim.endsWith("]"))
    assert(json.contains("\"stationuuid\""))
    // dedup-in-motion: AAA appears once
    assert("AAAAAAAAAAA".r.findAllIn(json).length == 1)
  }

  test("sink merges incremental batches: second drain keeps first drain's stations") {
    val dir = tempDir("links3")
    val out = tempDir("out3") + "/output.json"
    val ckpt = tempDir("ckpt3")
    Files.write(Paths.get(dir, "a.txt"), "https://www.youtube.com/watch?v=FIRST0000001\n".getBytes)
    StationStream.run(spark, dir, out, ckpt, new MockResolver().stage(spark))
      .awaitTermination(60000)
    Files.write(Paths.get(dir, "b.txt"), "https://www.youtube.com/watch?v=SECOND000001\n".getBytes)
    StationStream.run(spark, dir, out, ckpt, new MockResolver().stage(spark))
      .awaitTermination(60000)
    val json = new String(Files.readAllBytes(Paths.get(out)))
    assert(json.contains("FIRST0000001"), "first batch lost after second drain")
    assert(json.contains("SECOND000001"))
  }

  test("sink merge survives a reformatted file and recovers from a corrupt one") {
    import spark.implicits._
    val out = Paths.get(tempDir("sinkrec"), "output.json")
    def batch(url: String) = Seq((url, s"name-$url")).toDF("url", "name")
    StationStream.writeJsonArray(batch("u1"), out.toString)
    // another writer pretty-prints the array: the Jackson parser (not the
    // old line/regex heuristic) must still find and key every entry
    val pretty = new String(Files.readAllBytes(out))
      .replace("{", "{\n    ").replace(",\"", ",\n    \"")
    Files.write(out, pretty.getBytes)
    StationStream.writeJsonArray(batch("u2"), out.toString)
    val merged = new String(Files.readAllBytes(out))
    assert(merged.contains("u1") && merged.contains("u2"))
    // corrupt file (e.g. torn by an external writer): lenient recovery
    // rewrites from the current batch instead of crashing the stream
    Files.write(out, "[{\"url\":\"u1\",\"na".getBytes)
    StationStream.writeJsonArray(batch("u3"), out.toString)
    val recovered = new String(Files.readAllBytes(out))
    assert(recovered.contains("u3"))
    assert(com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(recovered).isArray)
  }

  test("pretty sink is byte-identical to json.dump(indent=2, ensure_ascii=False)") {
    import spark.implicits._
    val out = Paths.get(tempDir("pretty"), "output.json")
    val df = Seq(("u1", "café \"quoted\"\nline\ttab", 1L), ("u2", "plain", 3L))
      .toDF("url", "name", "n")
    StationStream.writeJsonArray(df, out.toString, pretty = true)
    val got = new String(Files.readAllBytes(out), java.nio.charset.StandardCharsets.UTF_8)
    // golden bytes produced by the reference's exact write-call shape:
    // python json.dumps(rows, indent=2, ensure_ascii=False)
    val expected = "[\n  {\n    \"url\": \"u1\",\n    \"name\": \"café \\\"quoted\\\"\\nline\\ttab\",\n    \"n\": 1\n  },\n  {\n    \"url\": \"u2\",\n    \"name\": \"plain\",\n    \"n\": 3\n  }\n]"
    assert(got == expected, got)
    // a second pretty drain merges and stays in the pretty byte format
    StationStream.writeJsonArray(
      Seq(("u3", "x", 9L)).toDF("url", "name", "n"), out.toString, pretty = true)
    val merged = new String(Files.readAllBytes(out), java.nio.charset.StandardCharsets.UTF_8)
    assert(merged.contains("\n    \"url\": \"u1\",") && merged.contains("\"u3\""))
    assert(com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(merged).isArray)
  }

  test("streaming tumbling counts equal the batch groupBy (complete mode)") {
    val events = Tables.events(spark, sf())
    // stream the same rows through a file source
    val dir = tempDir("ev")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)

    val streamed = EventWindows.drainToMemory(
      spark, EventWindows.tumbling(stream), "tumb", OutputMode.Complete)
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

    val batch = events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming session windows equal the batch session_window (complete mode)") {
    val events = Tables.events(spark, sf())
    val dir = tempDir("ev3")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)

    val streamed = EventWindows.drainToMemory(
      spark, EventWindows.sessions(stream), "sess", OutputMode.Complete)
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))

    val batch = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))

    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("processing-time trigger (daemon mode, C5) drains and keeps running") {
    val dir = tempDir("links2")
    val out = tempDir("out2") + "/output.json"
    val ckpt = tempDir("ckpt2")
    Files.write(Paths.get(dir, "links.txt"),
      "https://www.youtube.com/watch?v=PT0000000001\n".getBytes)
    val q = StationStream.run(spark, dir, out, ckpt,
      new MockResolver().stage(spark), availableNow = false, interval = "1 second")
    try {
      q.processAllAvailable()
      assert(q.isActive)
      val json = new String(Files.readAllBytes(Paths.get(out)))
      assert(json.contains("PT0000000001"))
    } finally q.stop()
  }

  test("stream-static join: streaming events enrich against a static dimension") {
    val events = Tables.events(spark, sf())
    val dir = tempDir("ev4")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val dim = Tables.customer(spark, sf())
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))

    val joined = stream.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val streamed = EventWindows.drainToMemory(spark, joined, "ssj", OutputMode.Complete)

    val batch = events.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream interval join matches the batch equivalent") {
    val events = Tables.events(spark, sf())
    val dir = tempDir("ev5")
    events.write.mode("overwrite").parquet(dir)
    def stream() = spark.readStream.schema(events.schema).parquet(dir)

    // purchases joined to clicks by the same user within the prior 30 min
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("click_ts"))
    val streamed = EventWindows.drainToMemory(spark, joined, "ssj2", OutputMode.Append)

    val bc = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val bp = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = bp.join(bc,
      col("p_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("click_ts"))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateless curation operators run unchanged over a stream (sample + tokenize)") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("docs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)

    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Sampling.hashSample(df, col("doc_id"), 3000, ":st")
        .select(col("doc_id"),
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.expr.SubwordTokenCount(
              org.apache.spark.sql.GraftColumnBridge.expression(col("text"))))
            .as("n_sub"),
          // PII scrub is a stateless projection too — identical per-row
          // output in batch and stream
          md5(graft.ext.Redact.redact(
            concat(col("text"), lit(" mail "), col("doc_id").cast("string"),
              lit("@x.example.net")))).as("redacted_md5"))

    val streamed = EventWindows.drainToMemory(spark, curate(stream), "curate_stream")
    val batch = curate(docs)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("watermark drops late events in append mode; on-time windows finalize once") {
    import spark.implicits._
    val dir = tempDir("late")
    def write(name: String, rows: Seq[String]): Unit =
      rows.toDF("s").select(col("s").cast("timestamp").as("ts"))
        .write.parquet(s"$dir/$name")
    // batch 1: one 10:30 event (window 10:00) and a 12:05 event that
    // advances the watermark past 11:00, finalizing the 10:00 window
    write("f1", Seq("2024-01-01 10:30:00", "2024-01-01 12:05:00"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val agg = stream.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("ws"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_drop").start()
    q.processAllAvailable()
    // batch 2: a LATE 10:45 event (below the 12:05 watermark — must be
    // dropped) plus a 13:10 event that finalizes the 12:00 window
    write("f2", Seq("2024-01-01 10:45:00", "2024-01-01 13:10:00"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("late_drop").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 10:00 window emitted once with ONLY the on-time event; the late row
    // neither re-opened nor re-emitted it
    assert(got("2024-01-01 10:00:00") == 1L, got.toString)
    assert(got("2024-01-01 12:00:00") == 1L, got.toString)
    assert(!got.contains("2024-01-01 13:00:00"), got.toString)
  }

  test("S6 streaming: named observe + listener counts rows/resolved/failed per microbatch") {
    import spark.implicits._
    val df = Seq(("u1", Option("s1")), ("u2", None: Option[String]), ("u3", Option("s3")))
      .toDF("url", "stream_url")
    val dir = tempDir("s6")
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
    val listener = new graft.sources.Sources.SinkMetricsListener("sm_test")
    spark.streams.addListener(listener)
    try {
      val instrumented =
        graft.sources.Sources.withSinkMetricsStream(stream, "stream_url", "sm_test")
      val q = instrumented.writeStream.format("memory").queryName("sm_out")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      q.stop()
      // the listener bus is async — bounded wait for delivery
      val deadline = System.currentTimeMillis() + 10000
      while (listener.rows < 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(listener.rows == 3 && listener.resolved == 2 && listener.failed == 1,
        s"rows=${listener.rows} resolved=${listener.resolved} failed=${listener.failed}")
      // the batch helper refuses streaming frames instead of throwing mid-plan
      val err = intercept[IllegalArgumentException] {
        graft.sources.Sources.withSinkMetrics(stream, "stream_url")
      }
      assert(err.getMessage.contains("batch-only"))
    } finally spark.streams.removeListener(listener)
  }

  test("streaming count-min sketch equals the batch sketch (complete mode)") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("cms")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    def terms(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("term"))
    val streamed = EventWindows.drainToMemory(spark,
      graft.ext.Dedup.countMinSketch(terms(stream), "term").cells,
      "cms_stream", OutputMode.Complete)
    val batch = graft.ext.Dedup.countMinSketch(terms(docs), "term").cells
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming exact dedup keeps one row per content hash") {
    import spark.implicits._
    val docs = Seq((0L, "same text"), (1L, "same text"), (2L, "other text"))
      .toDF("doc_id", "text")
    val dir = tempDir("dd")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val deduped = stream
      .withColumn("h", md5(col("text")))
      .withColumn("seen_at", current_timestamp())
      .withWatermark("seen_at", "1 hour")
      .dropDuplicatesWithinWatermark("h")
    val got = EventWindows.drainToMemory(spark, deduped, "dd", OutputMode.Append)
    assert(got.count() == 2)
    assert(got.select("h").distinct().count() == 2)
  }

  test("streaming curation profile equals the batch profile (foreachBatch)") {
    // cross-doc dup + surprisal are corpus-global multi-aggregation
    // pipelines — like repetitionStats, the supported streaming
    // deployment is foreachBatch recompute over the accumulated corpus.
    import graft.ext.{Dedup, TextAnalytics}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("curdocs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got ++= Dedup.crossDocDup(batch.toDF(), "doc_id", "text")
          .join(TextAnalytics.bigramSurprisal(batch.toDF(), "doc_id", "text"),
            "doc_id")
          .select("doc_id", "dup_frac", "mean_surprisal").collect()
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    val expected = Dedup.crossDocDup(docs, "doc_id", "text")
      .join(TextAnalytics.bigramSurprisal(docs, "doc_id", "text"), "doc_id")
      .select("doc_id", "dup_frac", "mean_surprisal").collect()
    assert(got.sortBy(_.getLong(0)) == expected.sortBy(_.getLong(0)).toSeq)
  }

  test("streaming canonical-URL dedup collapses tracking variants incrementally") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://cdn.example.org/a.mp3?expire=1"),
      (2L, "HTTPS://CDN.EXAMPLE.ORG/a.mp3?utm_source=x"), // same canonical as 1
      (3L, "https://cdn.example.org/a.mp3?quality=hi"))   // real param -> distinct
      .toDF("id", "u")
    val dir = tempDir("canon")
    urls.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(urls.schema).parquet(dir)
    val deduped = stream
      .withColumn("canon", graft.ext.UrlCanon.canonicalize(col("u")))
      .withColumn("seen_at", current_timestamp())
      .withWatermark("seen_at", "1 hour")
      .dropDuplicatesWithinWatermark("canon")
    val got = EventWindows.drainToMemory(spark, deduped, "canonDD", OutputMode.Append)
    assert(got.count() == 2)
    assert(got.select("canon").as[String].collect().toSet ==
      Set("https://cdn.example.org/a.mp3", "https://cdn.example.org/a.mp3?quality=hi"))
  }

  test("MinHashAggregator maintains signatures incrementally over a stream") {
    import graft.ext.{Dedup, Hashing, MinHashAggregator}
    val docs = Tables.documents(spark, sf())
    val dir = tempDir("docs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)

    val minhash = udaf(new MinHashAggregator(16), org.apache.spark.sql.Encoders.scalaLong)
    def sigs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("text"), 2)).as("s"))
      .select(col("doc_id"), Hashing.h32(col("s")).as("h"))
      .groupBy("doc_id").agg(minhash(col("h")).as("sig"))

    val streamed = EventWindows.drainToMemory(spark, sigs(stream), "mh", OutputMode.Complete)
    val batch = sigs(docs)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming hll_sketch registers equal the batch registers (complete mode)") {
    // the sketch's whole point is mergeability: register files built per
    // microbatch and merged by elementwise max must land on EXACTLY the
    // batch registers (and hence the identical estimate)
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf())
    val dir = tempDir("hll_docs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    def regs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), explode(Dedup.shinglesOf(col("text"), 3)).as("s"))
      .groupBy("source").agg(graft.expr.HllSketchAgg.sketch(col("s")).as("regs"))
    val streamed = EventWindows.drainToMemory(spark, regs(stream), "hll", OutputMode.Complete)
    val batch = regs(docs)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming bloom_sketch words equal the batch words (complete mode)") {
    // merge is elementwise OR, so filters built per microbatch must land
    // on EXACTLY the batch bit file — the incremental-standing-corpus
    // story of x75 (yesterday's filter OR today's arrivals)
    val docs = Tables.documents(spark, sf())
    val dir = tempDir("bloom_docs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    def words(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(col("text")).as("fp"))
      .agg(graft.expr.BloomSketchAgg.sketch(col("fp"), 32768, 3).as("words"))
    val streamed = EventWindows.drainToMemory(spark, words(stream), "bloom", OutputMode.Complete)
    val batch = words(docs)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming as-of enrichment matches batch as-of across microbatch boundaries") {
    val events = Tables.events(spark, sf())
    val orders = Tables.orders(spark, sf())
    val lb = events.select(col("user_id").cast("long").as("key"),
      unix_micros(col("ts").cast("timestamp")).as("ts"),
      col("event_id").cast("long").as("leftId"))
    val rb = orders.select(col("o_custkey").cast("long").as("key"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("rts"))
    val expected = graft.ext.AsOf.asOfTime(lb, rb, "key", "ts", "rts")
      .select(col("leftId"), col("key"), col("matched"))

    // rights land in batch 1, lefts in batch 2 — cross-batch state
    val rDir = tempDir("asof_r")
    val lDir = tempDir("asof_l")
    rb.withColumnRenamed("rts", "ts").write.mode("overwrite").parquet(rDir)
    val lSchema = lb.schema
    val rStream = spark.readStream.schema(rb.withColumnRenamed("rts", "ts").schema).parquet(rDir)
    val lStream = spark.readStream.schema(lSchema).parquet(lDir)
    // prune at the earliest left time: everything the pruner may drop is
    // provably not the as-of match of any left — output must be identical
    val horizon = lb.agg(min("ts")).collect()(0).getLong(0)
    val out = StreamingAsOf.asOfStream(lStream, rStream, pruneBelow = horizon)
    val q = out.toDF().writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable() // batch 1: rights only
    lb.write.mode("overwrite").parquet(lDir)
    q.processAllAvailable() // batch 2: lefts
    q.stop()
    val streamed = spark.table("asof_stream")
    assert(streamed.count() == expected.count())
    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty)
  }

  test("streaming repetition stats equal the batch stats (foreachBatch)") {
    // repetitionStats chains two aggregations + a join of aggregates —
    // not expressible as ONE incremental streaming query; the supported
    // deployment is foreachBatch (recompute per microbatch), which is
    // what this exercises.
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("repdocs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val got = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got ++= graft.ext.TextAnalytics.repetitionStats(batch.toDF(), "doc_id", "text")
          .collect()
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    val expected = graft.ext.TextAnalytics.repetitionStats(docs, "doc_id", "text").collect()
    assert(got.sortBy(_.getLong(0)) == expected.sortBy(_.getLong(0)).toSeq)
  }

  test("streaming as-of drops null-keyed rows on BOTH sides instead of NPEing") {
    import spark.implicits._
    val lDir = tempDir("asofn_l")
    val rDir = tempDir("asofn_r")
    // one good left row, one null-key, one null-ts; right: one good + one null-key
    Seq((Some(1L), Some(100L), Some(10L)), (None, Some(101L), Some(11L)),
      (Some(1L), None, Some(12L)))
      .toDF("key", "ts", "leftId").write.mode("overwrite").parquet(lDir)
    Seq((Some(1L), Some(50L)), (None, Some(60L)))
      .toDF("key", "ts").write.mode("overwrite").parquet(rDir)
    val lSchema = spark.read.parquet(lDir).schema
    val rSchema = spark.read.parquet(rDir).schema
    val out = StreamingAsOf.asOfStream(
      spark.readStream.schema(lSchema).parquet(lDir),
      spark.readStream.schema(rSchema).parquet(rDir))
    val q = out.toDF().writeStream.format("memory").queryName("asof_nulls")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("asof_nulls").collect()
    assert(rows.length == 1) // only the fully-non-null left survives
    assert(rows.head.getLong(0) == 10L && rows.head.getLong(2) == 50L)
  }

  test("mapGroupsWithState tracks per-user counts") {
    val events = Tables.events(spark, sf())
    val dir = tempDir("ev2")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)

    val activity = EventWindows.userActivity(spark, stream)
    val got = EventWindows.drainToMemory(spark, activity.toDF(), "act", OutputMode.Update)
    // last update per user must match the batch count
    val latest = got.groupBy("userId").agg(max(col("events")).as("events"))
    val expected = events.groupBy(col("user_id").as("userId")).agg(count(lit(1)).as("events"))
    assert(latest.exceptAll(expected).isEmpty && expected.exceptAll(latest).isEmpty)
  }

  test("streaming dropDuplicates matches x63's first-occurrence classification per tranche") {
    // The real streaming counterpart of the declared x63 row: tranche 1
    // arrives as microbatch 1, tranche 2 (new content + re-crawls +
    // within-batch copies) as microbatch 2, and dropDuplicatesWithin-
    // Watermark on the content hash must keep exactly the content x63
    // classifies 'kept' — with each surviving key attributed to the
    // same tranche (cross-batch duplicates die against carried state;
    // within-batch firsts survive).
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val t1 = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), lit(1).as("tranche"),
        col("doc_id").as("arrival_id"), col("text"))
    val t2 = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(2).as("tranche"),
        (col("doc_id") + 1000000L).as("arrival_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2).as("tranche"),
          (col("doc_id") + 2000000L).as("arrival_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit(2).as("tranche"),
          (col("doc_id") + 3000000L).as("arrival_id"), col("text")))
    val dir = tempDir("focdocs")
    t1.coalesce(1).write.mode("overwrite").parquet(dir)
    t2.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(t1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val deduped = stream
      .withColumn("h", md5(col("text")))
      .withColumn("seen_at", current_timestamp())
      .withWatermark("seen_at", "1 hour")
      .dropDuplicatesWithinWatermark("h")
    val got = EventWindows.drainToMemory(spark, deduped, "focdd", OutputMode.Append)
      .select(col("h"), col("tranche"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val expected = Dedup.firstOccurrenceDedup(t1.unionAll(t2), md5(col("text")),
      col("tranche"), col("arrival_id"))
      .filter(col("status") === "kept")
      .select(md5(col("text")).as("h"), col("tranche"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got.size == expected.size)
    assert(got == expected,
      "streaming survivors (key -> tranche) diverge from the batch classification")
  }

  test("streaming MinHash LSH pairs equal the batch pairs over a growing corpus") {
    // The near-dup deployment shape at ingest time: each microbatch
    // appends to the accumulated corpus and candidate pairs are
    // recomputed over everything seen so far (foreachBatch — LSH pairs
    // are corpus-global, like the curation profile). After the last
    // microbatch the pair set must equal a one-shot batch run, i.e.
    // growing the corpus incrementally loses/invents no candidates.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("mhdocs")
    val accDir = tempDir("mhacc")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    var batches = 0
    var last: Set[(Long, Long)] = Set.empty
    var grewMonotonically = true
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().write.mode("append").parquet(accDir)
        val pairs = Dedup.minhashLshPairs(spark.read.parquet(accDir), "doc_id", "text")
          .select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        grewMonotonically &&= last.subsetOf(pairs)
        last = pairs
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 2, s"expected >=2 microbatches, got $batches")
    assert(grewMonotonically, "a later corpus lost an earlier candidate pair")
    val expected = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(last == expected)
  }

  test("streaming incremental LSH maintenance equals the monolithic pair set") {
    // The x87 shape under a real stream: each microbatch probes the
    // STANDING corpus' band index (incrementalNearDupPairs — work
    // proportional to the batch), appends its pairs to the maintained
    // relation, then joins the standing corpus. Unlike the
    // minhashLshPairs foreachBatch test above (which recomputes the
    // full pair set every batch), nothing here ever re-derives a
    // standing×standing pair — and the final accumulated relation must
    // STILL equal the one-shot monolithic run exactly.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("ilshdocs")
    val accDir = tempDir("ilshacc")
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val acc = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val standing =
          if (batches == 0) docs.filter(lit(false))
          else spark.read.parquet(accDir)
        acc ++= Dedup.incrementalNearDupPairs(standing, batch.toDF(), "doc_id", "text")
          .select("a_id", "b_id", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        batch.toDF().write.mode("append").parquet(accDir)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val expected = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(acc.toSet == expected)
  }

  test("streaming persisted near-dup index: probe + append per microbatch equals monolithic") {
    // VERDICT r7 #7 — the x87 API as the production streaming path: the
    // standing corpus' RAW TEXT is never rescanned; each microbatch (a)
    // probes the persisted band/sets/members index files for the pairs
    // it adds, then (b) APPENDS itself to the same index. After the
    // stream drains, the accumulated pair relation must equal the
    // one-shot monolithic run exactly.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("ndixdocs")
    val idxDir = tempDir("ndix")
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val acc = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val idx =
          if (batches == 0) Dedup.nearDupIndex(docs.filter(lit(false)), "doc_id", "text")
          else Dedup.readNearDupIndex(spark, idxDir)
        acc ++= Dedup.probeNearDupIndex(idx, batch.toDF(), "doc_id", "text")
          .select("a_id", "b_id", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        Dedup.writeNearDupIndex(batch.toDF(), "doc_id", "text", idxDir)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val expected = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(acc.toSet == expected)
  }

  test("streaming curation ledger: per-tranche probe+append rows equal the batch ledger", graft.Slow) {
    // VERDICT r8 #5 — the end-to-end production shape of incremental
    // curation: each arriving tranche (a) probes the persisted near-dup
    // index, (b) emits its x111-style ledger rows (exact_dup/near_dup
    // under first-seen precedence, low_quality layered on the dedup
    // survivors), (c) appends itself to the index. The accumulated
    // ledger must equal the batch ledger computed over the union corpus
    // under arrival order — verdicts are FINAL at arrival, never
    // revised. Planted re-crawls (id+10⁶, which land in a DIFFERENT %3
    // tranche than their source) keep the exact branch live in both
    // directions: copies arriving after their source lose, and a copy
    // arriving BEFORE its source wins while the source loses.
    import graft.ext.{Dedup, Ledger}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = docs.unionAll(docs.filter(col("doc_id") % 97 === 13)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val dir = tempDir("ledgdocs")
    val idxDir = tempDir("ledgidx")
    val ledDir = tempDir("ledgout")
    (0 to 2).foreach { t =>
      corpus.filter(col("doc_id") % 3 === t).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val idx =
          if (batches == 0) Dedup.nearDupIndex(docs.filter(lit(false)), "doc_id", "text")
          else Dedup.readNearDupIndex(spark, idxDir)
        // the verdicts LAND ON DISK (VERDICT r9 #4): appended per
        // tranche, partitioned by (tranche, modality) — no driver-side
        // accumulation anywhere in the pipeline
        Ledger.append(Dedup.ledgerProbe(idx, batch.toDF(), "doc_id", "text"),
          batches.toLong, "text", ledDir)
        Dedup.writeNearDupIndex(batch.toDF(), "doc_id", "text", idxDir)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    // the ON-DISK accumulated ledger: one final row per doc, correctly
    // tranche-stamped (a doc's row sits in its own arrival tranche)
    val onDisk = Ledger.read(spark, ledDir).collect()
    assert(onDisk.forall(_.getString(3) == "text"))
    assert(onDisk.forall(r => r.getLong(2) == r.getLong(0) % 3))
    val acc = onDisk.map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch replay over the union corpus under arrival order:
    // ord = tranche * base + doc_id (the x63 encoding)
    val rowsC = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val ord = rowsC.map { case (id, _) => id -> ((id % 3) * 10000000L + id) }.toMap
    val eligible = rowsC.filter(_._2.split(" ", -1).length >= 2).map(_._1).toSet
    val byContent = rowsC.filter(t => eligible(t._1)).groupBy(_._2)
    val exactLosers = byContent.values.flatMap { g =>
      val first = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == first)
    }.toSet
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nearLosers = pairs.flatMap { case (a, b) =>
      Seq(if (ord(a) > ord(b)) a else b)
    }.toSet -- exactLosers
    val expected = rowsC.map { case (id, _) =>
      id -> (if (exactLosers(id)) "exact_dup"
             else if (nearLosers(id)) "near_dup"
             else "kept")
    }.toMap
    assert(acc.toMap == expected)
    // all three dedup branches are live, including a copy that arrived
    // before its source (source loses, copy keeps)
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(acc.values.toSet))
    assert(exactLosers.exists(_ < 1000000L),
      "no source lost to a copy that arrived first — the plant is vacuous")
    // the x111 quality layer composes per-doc on top of the dedup
    // verdicts identically on both sides (decide kept -> low_quality)
    def rule(text: String): Boolean = {
      val tk = text.split(" ", -1)
      tk.count(w => w == "the" || w == "a") * 16 > tk.length
    }
    val textOf = rowsC.toMap
    val layered = acc.map { case (id, d) =>
      id -> (if (d == "kept" && !rule(textOf(id))) "low_quality" else d)
    }
    assert(layered.values.exists(_ == "low_quality"))
  }

  test("streaming multimodal tranche: all five modality probes append one persisted ledger equal to batch", graft.Slow) {
    // VERDICT r9 #7 — the full production ingestion shape the north
    // star names: each arriving tranche runs the text (x116),
    // perceptual image/audio (x117), video (x118) and semantic
    // (embedding) verdict probes against the PERSISTED standing
    // indexes, appends its verdicts to the ONE persisted multimodal
    // ledger, and appends itself to every index. The accumulated
    // on-disk ledger must equal the batch multimodal first-seen ledger
    // computed over the union corpus under arrival order — per
    // modality, per document, no revision.
    import graft.ext.{AudioHash, Bmp, Curation, Dedup, ImageHash, Ledger, Similarity, VideoHash, Wav}
    import spark.implicits._
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = docs.unionAll(docs.filter(col("doc_id") % 97 === 13)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .cache()
    // semantic layer: every doc's embedding; re-crawls carry COPIES of
    // their source's vector (byte-identical doc ⇒ identical embedding)
    val emb = Tables.embeddings(spark, sf())
    val corpusEmb = emb.unionAll(emb.filter(col("vec_id") % 97 === 13)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding"), col("label")))
      .cache()
    def imgHashes(df: org.apache.spark.sql.DataFrame) =
      df.filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, ImageHash.dHash(
          Bmp.parse(Bmp.write(16, t.getBytes("US-ASCII"))))) }
        .toDF("doc_id", "hash")
    def audHashes(df: org.apache.spark.sql.DataFrame) =
      df.filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, AudioHash.eHash(
          Wav.parse(Wav.write(t.getBytes("US-ASCII"))))) }
        .toDF("doc_id", "hash")
    val srcDir = tempDir("mmdocs")
    // one deployment root; store paths must not pre-exist (Curation
    // bootstraps each standing side as empty on first touch)
    val root = tempDir("mmstores")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led")
    val ledDir = stores.ledger
    (0 to 2).foreach { t =>
      corpus.filter(col("doc_id") % 3 === t).coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        // the whole per-tranche loop is ONE library call now
        Curation.commitTranche(b, batches.toLong, stores,
          imgHashes = Some(imgHashes(b)),
          audHashes = Some(audHashes(b)),
          vidFrames = Some(VideoHash.frameHashes(b, "doc_id", "text")),
          embeddings = Some(corpusEmb.join(
            b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
        // mid-stream maintenance: compacting the text index and the
        // ledger between tranches must not disturb later verdicts
        if (batches == 1) Curation.maintain(spark, stores)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")

    // batch replay: per modality, first-seen verdicts over the union
    // corpus under arrival order ord = tranche * base + doc_id
    val allIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSeq
    val ord = allIds.map(id => id -> ((id % 3) * 10000000L + id)).toMap
    def firstSeen(members: Map[Long, String], pairs: Seq[(Long, Long)],
                  domain: Set[Long]): Map[Long, String] = {
      val exactLosers = members.toSeq.groupBy(_._2).values.flatMap { g =>
        val f = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == f)
      }.toSet
      val nearLosers = pairs.map { case (a, b) =>
        if (ord(a) > ord(b)) a else b }.toSet -- exactLosers
      domain.map(id => id -> (
        if (exactLosers(id)) "exact_dup"
        else if (nearLosers(id)) "near_dup"
        else "kept")).toMap
    }
    val textMembers = corpus
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val textPairs = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allImg = imgHashes(corpus)
    val imgMembers = allImg.collect()
      .map(r => r.getLong(0) -> r.getLong(1).toString).toMap
    val imgPairs = ImageHash.hammingNearDups(allImg, "doc_id", "hash")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allAud = audHashes(corpus)
    val audMembers = allAud.collect()
      .map(r => r.getLong(0) -> r.getLong(1).toString).toMap
    val audPairs = ImageHash.hammingNearDups(allAud, "doc_id", "hash")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allFrames = VideoHash.frameHashes(corpus, "doc_id", "text")
    val vidMembers = VideoHash.sequenceIds(allFrames).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vidPairs = VideoHash.sequenceNearDups(allFrames)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val embMembers = corpusEmb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).mkString(",")).toMap
    val embPairs = Similarity.embeddingNearDups(corpusEmb, "label", 0.35)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected =
      firstSeen(textMembers, textPairs, allIds.toSet)
        .map { case (id, d) => (id, "text") -> d } ++
      firstSeen(imgMembers, imgPairs, imgMembers.keySet)
        .map { case (id, d) => (id, "image") -> d } ++
      firstSeen(audMembers, audPairs, audMembers.keySet)
        .map { case (id, d) => (id, "audio") -> d } ++
      firstSeen(vidMembers, vidPairs, allIds.toSet)
        .map { case (id, d) => (id, "video") -> d } ++
      firstSeen(embMembers, embPairs, allIds.toSet)
        .map { case (id, d) => (id, "embedding") -> d }
    val onDisk = Ledger.read(spark, ledDir).collect()
      .map(r => (r.getLong(0), r.getString(3)) -> r.getString(1)).toMap
    assert(onDisk.size ==
      allIds.size * 3 + imgMembers.size + audMembers.size)
    assert(onDisk == expected)
    // the plants keep every modality's dup branch live on disk
    Seq("text", "image", "audio", "video", "embedding").foreach { m =>
      assert(onDisk.exists(kv => kv._1._2 == m && kv._2 == "exact_dup"),
        s"no exact_dup row in the $m layer")
    }
    corpusEmb.unpersist(); corpus.unpersist(); ()
  }

  test("Curation.sink: foreachBatch commits each micro-batch as the tranche batchId") {
    import graft.ext.{Curation, Ledger}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 90)
    val srcDir = tempDir("sinkdocs")
    val root = tempDir("sinkstores")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led")
    // file 1: the even docs; file 2: the odd docs plus a byte-identical
    // copy of one even doc under a fresh id — whichever batch arrives
    // second must judge its copy exact_dup against the other's standing
    val copySrc = docs.filter(col("doc_id") % 2 === 0)
      .orderBy("doc_id").limit(1)
    val origId = copySrc.collect()(0).getLong(0)
    val copyId = origId + 1000000L
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") % 2 === 1)
      .unionAll(copySrc.select(lit(copyId).as("doc_id"), col("text")))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .option("checkpointLocation",
        tempDir("sinkckpt"))
      .foreachBatch(Curation.sink(stores))
      .start()
    q.processAllAvailable()
    q.stop()
    val led = Ledger.read(spark, stores.ledger)
    assert(led.select("tranche").distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L),
      "batchIds did not become trancheIds")
    assert(led.count() == docs.count() + 1)
    val pair = led.filter(col("doc_id").isin(origId, copyId)).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(pair.keySet == Set("kept", "exact_dup"),
      s"cross-batch copy pair verdicts: $pair")
    assert(pair("kept") < pair("exact_dup"),
      s"first-seen inverted across batches: $pair")
  }

  test("Curation.sink maintainEvery: the stream schedules its own compaction without changing verdicts", graft.Slow) {
    import graft.ext.{Curation, Ledger}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val srcDir = tempDir("msinkdocs")
    (0 until 4).foreach { i =>
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    def run(maintainEvery: Int): Curation.Stores = {
      val root = tempDir("msinkstores")
      val stores = Curation.Stores(s"$root/text", s"$root/img",
        s"$root/aud", s"$root/vid", s"$root/emb", s"$root/led")
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .option("checkpointLocation",
          tempDir("msinkckpt"))
        .foreachBatch(Curation.sink(stores, maintainEvery = maintainEvery,
          maxFilesPerBucket = 1))
        .start()
      q.processAllAvailable()
      q.stop()
      stores
    }
    val maintained = run(maintainEvery = 2)
    val plain = run(maintainEvery = 0)
    // the scheduled passes changed NOTHING observable in the verdicts
    val a = Ledger.read(spark, maintained.ledger)
      .orderBy("doc_id").collect().toSeq
    val b = Ledger.read(spark, plain.ledger)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "maintainEvery changed the committed ledger")
    // ...but the maintained deployment ended compacted: the last batch
    // (batchId 3, (3+1) % 2 == 0) ran maintainDue at the same
    // aggressive threshold, so nothing can still be due, while the
    // unmaintained one carries per-batch append amplification
    val dueAfter = Curation.maintenanceReport(spark, maintained,
        maxFilesPerBucket = 1)
      .filter(col("due")).count()
    assert(dueAfter == 0, "scheduled maintenance left drifted stores")
    val duePlain = Curation.maintenanceReport(spark, plain,
        maxFilesPerBucket = 1)
      .filter(col("due")).count()
    assert(duePlain > 0,
      "4-batch append amplification should trip the aggressive threshold")
  }

  test("Curation.sink: PQ serving stays fresh — commits feed it, a takedown leaves it at the next window", graft.Slow) {
    import graft.ext.{Curation, Ledger, PQ}
    // VERDICT r12 next #5: the serving lifecycle under a live stream.
    // A committed tranche's kept vectors become ANN-searchable after
    // its own batch (commitTranche feeds the registered PQ store), and
    // a mid-stream retraction leaves serving at the next scheduled
    // maintenance window (erasure is never budgeted).
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 150)
    val emb = Tables.embeddings(spark, sf())
    def embOf(p: org.apache.spark.sql.Column) = emb.join(
      docs.filter(p).select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val srcDir = tempDir("pqsinkdocs")
    val root = tempDir("pqsinkstores")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led", pqIndex = s"$root/pq")
    val modalities = (b: org.apache.spark.sql.DataFrame) =>
      Curation.ModalityFrames(embeddings = Some(emb.join(
        b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .option("checkpointLocation",
        tempDir("pqsinkckpt"))
      .foreachBatch(Curation.sink(stores, modalities,
        maintainEvery = 1, maxFilesPerBucket = 8, maintainBudget = 4))
      .start()
    def codesIds() = PQ.readCodes(spark, stores.pqIndex)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    def keptEmb() = Ledger.read(spark, stores.ledger)
      .filter(col("modality") === "embedding" && col("decision") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 0 bootstraps the corpus; the serving store is not trained
    // yet, so the commit cannot (and does not) feed it
    docs.filter(col("doc_id") % 3 === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    assert(!new java.io.File(stores.pqIndex).exists(),
      "commit bootstrapped a PQ store without a trained codebook")
    // train ONCE on the bootstrapped CURATED corpus while the stream is
    // idle — the deployment lifecycle (Curation.trainServing derives
    // the kept vectors from the deployment's own stores, then commits
    // append)
    Curation.trainServing(spark, stores)
    val trained = codesIds()
    // batch 1: its kept vectors are searchable after its own batch
    docs.filter(col("doc_id") % 3 === 1)
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    val batch1Ids = embOf(col("doc_id") % 3 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expect1 = trained ++ keptEmb().intersect(batch1Ids)
    assert(codesIds() == expect1,
      s"serving stale after batch 1: missing ${expect1.diff(codesIds())}, " +
        s"extra ${codesIds().diff(expect1)}")
    // mid-stream takedown: logically gone at once, physically owed to
    // the next scheduled window
    val gone = trained.toSeq.sorted.take(2)
    import spark.implicits._
    Curation.retract(spark, gone.toDF("doc_id"), stores)
    assert(gone.forall(codesIds().contains),
      "takedown rewrote the serving store on the retract path")
    // the takedown is invisible to SERVING immediately — the read-side
    // exclusion (Curation.serveAnn), not the store rewrite, carries
    // the contract until the next scheduled window erases physically
    val servedMidStream = Curation.serveAnn(spark, stores,
      embOf(col("doc_id") % 3 === 1).select("vec_id", "embedding").limit(3),
      topK = 5).select("cid").collect().map(_.getLong(0)).toSet
    assert(servedMidStream.intersect(gone.toSet).isEmpty,
      s"serveAnn returned a mid-stream takedown before its window: " +
        s"${servedMidStream.intersect(gone.toSet)}")
    // batch 2 commits; its scheduled window applies the erasure
    // (never budgeted) AND the new tranche keeps serving fresh
    docs.filter(col("doc_id") % 3 === 2)
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val finalIds = codesIds()
    assert(gone.forall(id => !finalIds.contains(id)),
      "retracted vectors still searchable after the scheduled window")
    val batch2Ids = embOf(col("doc_id") % 3 === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expect2 = (expect1 ++ keptEmb().intersect(batch2Ids)) -- gone
    assert(finalIds == expect2,
      s"post-window serving set wrong: missing ${expect2.diff(finalIds)}, " +
        s"extra ${finalIds.diff(expect2)}")
    // disk ADC never returns a retracted id again
    val served = PQ.adcTopKIndex(
      embOf(col("doc_id") % 3 === 2).select("vec_id", "embedding").limit(3),
      stores.pqIndex, topK = 5).select("cid").collect()
      .map(_.getLong(0)).toSet
    assert(served.intersect(gone.toSet).isEmpty,
      s"ADC served a retracted id: ${served.intersect(gone.toSet)}")
    // and the deployment audits clean end to end
    assert(Curation.fsck(spark, stores).filter(col("status") === "violation")
      .count() == 0, "stream left the deployment in violation")
  }

  test("Curation.sink: re-releases under a scheduled stream keep generations bounded", graft.Slow) {
    import graft.ext.{Curation, PQ}
    // VERDICT r13 missing #2 under a LIVE stream: every codebook
    // re-release retires a full serving-store generation, and an
    // operator who never calls gc used to accumulate one per
    // re-release forever. The stream's own scheduled windows
    // (sink maintainEvery -> maintainDue keepRetiredGens) apply the
    // keep-last-N retention, so the store never grows past live + 1 —
    // while the kept retired generation preserves the in-flight
    // lock-free reader's files.
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val emb = Tables.embeddings(spark, sf())
    val srcDir = tempDir("pqretdocs")
    val root = tempDir("pqretstores")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led", pqIndex = s"$root/pq")
    val modalities = (b: org.apache.spark.sql.DataFrame) =>
      Curation.ModalityFrames(embeddings = Some(emb.join(
        b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .option("checkpointLocation",
        tempDir("pqretckpt"))
      .foreachBatch(Curation.sink(stores, modalities, maintainEvery = 1))
      .start()
    docs.filter(col("doc_id") % 4 === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    Curation.trainServing(spark, stores)
    def gens() = PQ.completeGens(spark, stores.pqIndex)
    (1 to 3).foreach { i =>
      // operator re-release between batches (census-driven in prod),
      // then the next batch's scheduled window applies retention
      Curation.rereleaseServing(spark, stores)
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(gens().size <= 2,
        s"round $i: stream retention left ${gens().size} generations: " +
          s"${gens()}")
    }
    q.stop()
    // serving stayed healthy on the live generation, fed by the stream
    val served = Curation.serveAnn(spark, stores,
      emb.join(docs.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        .select("vec_id", "embedding").limit(3), topK = 5)
    assert(served.count() > 0, "serving broke under streamed retention")
  }

  test("Curation.sink maintainBudget: online windows keep verdicts, drift converges", graft.Slow) {
    import graft.ext.{Curation, Ledger}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val srcDir = tempDir("bsinkdocs")
    (0 until 4).foreach { i =>
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    def run(maintainEvery: Int, budget: Int): Curation.Stores = {
      val root = tempDir("bsinkstores")
      val stores = Curation.Stores(s"$root/text", s"$root/img",
        s"$root/aud", s"$root/vid", s"$root/emb", s"$root/led")
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .option("checkpointLocation",
          tempDir("bsinkckpt"))
        .foreachBatch(Curation.sink(stores, maintainEvery = maintainEvery,
          maxFilesPerBucket = 1, maintainBudget = budget))
        .start()
      q.processAllAvailable()
      q.stop()
      stores
    }
    // tightly budgeted online windows (8 buckets per window, every
    // batch) change NOTHING observable in the verdicts
    val online = run(maintainEvery = 1, budget = 8)
    val plain = run(maintainEvery = 0, budget = 0)
    assert(Ledger.read(spark, online.ledger).orderBy("doc_id").collect()
      .toSeq == Ledger.read(spark, plain.ledger).orderBy("doc_id")
      .collect().toSeq, "budgeted online maintenance changed the ledger")
    // post-stream, the remaining (deferred) drift drains window by
    // window and converges
    var rounds = 0
    while (Curation.maintainDue(spark, online, maxFilesPerBucket = 1,
        maxBucketsPerPass = 8).nonEmpty && rounds < 60) rounds += 1
    assert(rounds < 60, "budgeted windows did not converge post-stream")
    assert(Curation.maintenanceReport(spark, online, maxFilesPerBucket = 1)
      .filter(col("due")).count() == 0,
      "drift left after budgeted convergence")
  }

  test("Curation.sink snapshotEvery: streamed backups act on drift; restore revives serving", graft.Slow) {
    // VERDICT r15 #2 under a LIVE stream: the sink schedules its own
    // backups — every n-th batch takes a writer-locked snapshot iff
    // the deployment drifted past the newest standing one, with
    // keep-last-N retention — so an operator who never calls snapshot
    // still has a recovery path whose cost tracks drift. Then the
    // drill: wipe the serving store, restore from the newest scheduled
    // backup, serve identical.
    import graft.ext.{Curation, PQ}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val emb = Tables.embeddings(spark, sf())
    val srcDir = tempDir("snapsinkdocs")
    val root = tempDir("snapsinkstores")
    val snapRoot = tempDir("snapsinkdest")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led", pqIndex = s"$root/pq")
    val modalities = (b: org.apache.spark.sql.DataFrame) =>
      Curation.ModalityFrames(embeddings = Some(emb.join(
        b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
    def snaps(): Seq[String] =
      Option(new java.io.File(snapRoot).listFiles())
        .fold(Seq.empty[String])(
          _.toSeq.map(_.getName).filter(_.startsWith("snap-")).sorted)
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .option("checkpointLocation",
        tempDir("snapsinkckpt"))
      .foreachBatch(Curation.sink(stores, modalities,
        snapshotEvery = 1, snapshotDest = snapRoot, keepSnapshots = 2))
      .start()
    docs.filter(col("doc_id") % 4 === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    assert(snaps() == Seq("snap-000000"),
      s"first batch took no scheduled backup: ${snaps()}")
    Curation.trainServing(spark, stores)
    (1 to 2).foreach { i =>
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    }
    q.stop()
    // three drift windows, keep-last-2 under DIFFERENTIAL chaining:
    // the beyond-keep dir is the chain's only physical copy of the
    // unchanged files, so retention RETAINS it (a rebase window
    // reclaims it later — CurationSpec drives that arc); the later
    // snapshots copied only their drift
    assert(snaps() == Seq("snap-000000", "snap-000001", "snap-000002"),
      s"retention under the stream: ${snaps()}")
    // no drift since the last batch -> the due form takes nothing
    assert(Curation.snapshotDue(spark, stores, snapRoot).isEmpty,
      "undrifted snapshotDue copied bytes")
    assert(snaps().size == 3)
    // the drill: lose the serving store, restore from the newest
    // scheduled backup, serving answers byte-identically
    val query = emb.join(docs.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .select("vec_id", "embedding").orderBy("vec_id").limit(3)
    val served = Curation.serveAnn(spark, stores, query, topK = 5)
      .orderBy("qid", "rank").collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(stores.pqIndex)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stores.pqIndex), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${stores.pqIndex}.init"), true)
    val racts = Curation.restore(spark, stores,
      s"$snapRoot/${snaps().last}")
    assert(racts.exists(_.contains("restored pq live generation")),
      s"drill restore: $racts")
    assert(Curation.serveAnn(spark, stores, query, topK = 5)
      .orderBy("qid", "rank").collect().toSeq == served,
      "restored serving diverges from pre-loss serving")
  }

  test("streaming perceptual dedup: hash-layer probe per microbatch equals monolithic") {
    // the x115 contract under a real stream — the multimodal twin of
    // the LSH maintenance test above: each microbatch of images (their
    // dHashes) probes the accumulated hash index for the pairs it adds,
    // then appends its own hashes; after the stream drains, the
    // accumulated relation equals the one-shot monolithic banded
    // Hamming join. The standing side is a tiny (id, hash) parquet —
    // fingerprints, never pixels, are what the index carries.
    import spark.implicits._
    val hashes = Tables.documents(spark, sf())
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.ext.ImageHash.dHash(
          graft.ext.Bmp.parse(graft.ext.Bmp.write(16, t.getBytes("US-ASCII")))))
      }.toDF("doc_id", "hash")
    val dir = tempDir("phdocs")
    val idxDir = tempDir("phidx")
    (0 to 2).foreach { t =>
      hashes.filter(col("doc_id") % 3 === t).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(hashes.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val acc = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val standing =
          if (batches == 0) hashes.filter(lit(false))
          else spark.read.parquet(idxDir)
        acc ++= graft.ext.ImageHash.hammingProbe(
            standing, batch.toDF(), "doc_id", "hash")
          .select("a_id", "b_id", "hamming").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        batch.toDF().write.mode("append").parquet(idxDir)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val expected = graft.ext.ImageHash.hammingNearDups(hashes, "doc_id", "hash")
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(acc.toSet == expected)
  }

  test("streaming vector ingest: microbatches append to the persisted IVF index and stay searchable") {
    // the IvfIndex contract under a real stream — the ANN twin of the
    // persisted near-dup index test: the codebook trains ONCE on the
    // standing corpus and persists; each arriving embedding microbatch
    // routes through the PERSISTED integer codebook (no retrain) and
    // appends to the cell-partitioned store; after the stream drains,
    // every appended vector sits in the cell the in-session assignWith
    // would give it, and a probe of the grown index finds the appended
    // vectors.
    import spark.implicits._
    def planted(n: Int, idBase: Long) =
      (0 until n).map { j =>
        val e = Array.fill(64)(0.001f)
        e(j % 4) = 1.0f
        e(60) = 0.001f * (j % 7 + 1)
        (idBase + j, e.toSeq)
      }.toDF("vec_id", "embedding")
    val standing = planted(120, 0L)
    val dir = tempDir("ivfstream")
    val srcDir = tempDir("ivfsrc")
    graft.ext.IvfIndex.write(standing, dir, k = 4, iters = 2)
    val arriving = planted(60, 1000L)
    (0 to 2).foreach { t =>
      arriving.filter(col("vec_id") % 3 === t).coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    var batches = 0
    val q = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.ext.IvfIndex.append(batch.toDF(), dir)
          batches += 1
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() == 180)
    val viaSession = graft.ext.KMeans
      .assignWith(arriving, standing, k = 4, iters = 2)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    vecs.filter(col("vec_id") >= 1000L).select("vec_id", "cell").collect()
      .foreach { r =>
        assert(r.get(1).toString == viaSession(r.getLong(0)), r.toString)
      }
    // k = 40 reaches past the 30 standing members of the probed cell
    // (near-1 sims tie-break on cid asc, so standing ids rank first)
    val got = graft.ext.IvfIndex.topK(spark, dir,
      planted(4, 2000L), k = 40, probes = 1).collect()
    assert(got.nonEmpty && got.forall(r =>
      r.getAs[Long]("cid") % 4 == r.getAs[Long]("qid") % 4))
    assert(got.exists(_.getAs[Long]("cid") >= 1000L),
      "no appended vector surfaced in the probe")
  }

  test("streaming semantic dedup: disk IVF verdicts + persisted ledger + append per microbatch") {
    // the production semantic-dedup loop end to end: the vector index
    // trains once and persists; each arriving tranche (a) gets
    // first-seen verdicts from IvfIndex.ledgerProbe — identity exact,
    // cell-pruned cosine near — (b) lands them in the persisted
    // Ledger, (c) appends itself to the index, becoming standing for
    // the next tranche. Planted tranches make every verdict
    // deterministic: 10 exact copies of standing vectors, 10 vectors
    // colinear with standing clusters (near), and 10 mutually-colinear
    // vectors in a direction fresh to THIS tranche (first-seen: the
    // min id keeps, the other 9 are near).
    import spark.implicits._
    import graft.ext.{IvfIndex, Ledger}
    def base(g: Int, j60: Float): Seq[Float] = {
      val e = Array.fill(64)(0.001f); e(g) = 1.0f; e(60) = j60; e.toSeq
    }
    val standing = (0 until 120).map { j =>
      (j.toLong, base(j % 4, 0.001f * (j % 7 + 1)))
    }.toDF("vec_id", "embedding")
    val idxDir = tempDir("ivfsemidx")
    val srcDir = tempDir("ivfsemsrc")
    val ledDir = tempDir("ivfsemled")
    IvfIndex.write(standing, idxDir, k = 4, iters = 2)
    def trancheDf(t: Int) = {
      val idBase = 10000L + t * 1000L
      val exacts = (0 until 10).map(j =>
        (idBase + j, base(j % 4, 0.001f * (j % 7 + 1))))
      val nears = (0 until 10).map(k =>
        (idBase + 100 + k, base(k % 4, 0.01f * (t + 1) + 0.0001f * k)))
      val fresh = (0 until 10).map(k =>
        (idBase + 200 + k, base(5 + t, 0.003f + 0.0001f * k)))
      (exacts ++ nears ++ fresh).toDF("vec_id", "embedding")
    }
    (0 to 2).foreach { t =>
      trancheDf(t).coalesce(1).write.mode("append").parquet(srcDir)
    }
    var batches = 0
    val q = spark.readStream.schema(trancheDf(0).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val b = batch.toDF()
          Ledger.append(IvfIndex.ledgerProbe(spark, idxDir, b,
            "vec_id", "embedding", threshold = 0.9),
            batches.toLong, "embedding", ledDir)
          IvfIndex.append(b, idxDir)
          batches += 1
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val led = Ledger.read(spark, ledDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(led.size == 90)
    (0 to 2).foreach { t =>
      val idBase = 10000L + t * 1000L
      (0 until 10).foreach { j =>
        assert(led(idBase + j) == "exact_dup", s"t=$t exact copy $j: ${led(idBase + j)}")
        assert(led(idBase + 100 + j) == "near_dup", s"t=$t near $j: ${led(idBase + 100 + j)}")
      }
      // fresh direction: the first arrival keeps, every later one is a
      // near-dup of it — and the direction never leaks across tranches
      assert(led(idBase + 200) == "kept", s"t=$t fresh first: ${led(idBase + 200)}")
      (1 until 10).foreach { k =>
        assert(led(idBase + 200 + k) == "near_dup", s"t=$t fresh $k: ${led(idBase + 200 + k)}")
      }
    }
    // the index grew tranche by tranche
    assert(spark.read.parquet(s"$idxDir/vectors").count() == 120 + 90)
  }

  test("streaming quality gate: microbatches scored against the persisted model equal batch") {
    // the x93 model in its deployment shape: the perceptron trains ONCE
    // on the standing labeled corpus and persists as a (bucket, wt)
    // parquet artifact — the model file a curation service ships; each
    // arriving microbatch is scored against the LOADED weights (per-doc
    // independent, so streaming must equal batch exactly), gating docs
    // at the keep flag with no retrain on the hot path
    import graft.ext.{ModelStore, QualityModel}
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val tk = split(col("text"), " ")
    val labels = docs.select(col("doc_id"),
      when(size(filter(tk, x => x === "the" || x === "a")) * 16 > size(tk),
        lit(1L)).otherwise(lit(-1L)).as("y"))
    val wDir = tempDir("qwmodel")
    ModelStore.writeQualityWeights(
      QualityModel.trainPerceptron(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", labels, 4096, rounds = 8), wDir)
    val dir = tempDir("qgdocs")
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Int)]
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = ModelStore.readQualityWeights(spark, wDir)
        acc ++= QualityModel.scoreDocuments(batch.toDF(), "doc_id", "text", w, 4096)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 3, s"expected >=3 microbatches, got $batches")
    val expected = QualityModel.scoreDocuments(
        docs, "doc_id", "text", ModelStore.readQualityWeights(spark, wDir), 4096)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(acc.toMap == expected)
    // the gate is non-trivial: both classes appear in the decisions
    val keeps = acc.values.map(_._3).toSet
    assert(keeps == Set(0, 1), s"degenerate gate: keep flags $keeps")
  }

  test("streaming codebook drift monitor: calm tranches stay quiet, a shifted one flags") {
    // The x89 monitor in its deployment shape: embedding tranches
    // arrive as a stream; each microbatch is routed into the STANDING
    // codebook (no retrain) and its per-cell drift is checked via
    // foreachBatch. Two calm tranches must raise nothing; the
    // distribution-shifted third must flag.
    import spark.implicits._
    def vec(base: Double, jitter: Double): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(0) = base.toFloat; a(1) = jitter.toFloat; a
    }
    val standing = (0 until 40).map { i =>
      (i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0, (i % 5) / 100.0))
    }.toDF("vec_id", "embedding")
    def tranche(ids: Range, base: Long => Double) =
      ids.map(i => (i.toLong, vec(base(i.toLong), (i % 5) / 100.0)))
        .toDF("vec_id", "embedding")
    val dir = tempDir("drift")
    tranche(100 until 120, i => if (i % 2 == 0) 1.0 else -1.0)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    tranche(200 until 220, i => if (i % 2 == 0) 1.0 else -1.0)
      .coalesce(1).write.mode("append").parquet(dir)
    tranche(300 until 320, _ => 8.0)
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(standing.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val flagged = scala.collection.mutable.ArrayBuffer.empty[Long]
    var batches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val flags = graft.ext.KMeans
          .codebookDrift(standing, batch.toDF(), k = 2, iters = 2)
          .filter(col("retrain") === 1).count()
        if (flags > 0)
          flagged += batch.toDF().agg(min("vec_id")).collect()(0).getLong(0)
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches == 3, s"expected 3 microbatches, got $batches")
    assert(flagged.toSeq == Seq(300L),
      s"only the shifted tranche may flag, got first-ids $flagged")
  }

  test("streaming chunk dedup equals the batch result over a growing corpus") {
    // Span dedup at ingest: winners are corpus-global (first occurrence
    // wins), so each microbatch recomputes over the accumulated corpus
    // (foreachBatch, like the MinHash/curation shapes). After the last
    // microbatch the per-doc (n_kept, text_dedup) rows must equal a
    // one-shot batch run — late-arriving docs with smaller ids may
    // legitimately STEAL chunks from docs seen earlier, and the final
    // state must reflect that, not the arrival order.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("cddocs")
    val accDir = tempDir("cdacc")
    // odd ids land FIRST so the second file's even ids out-rank them
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    var batches = 0
    var last: Map[Long, (Long, Long, String)] = Map.empty
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().write.mode("append").parquet(accDir)
        last = Dedup.chunkDedup(spark.read.parquet(accDir), "doc_id", "text")
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
          .toMap
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 2, s"expected >=2 microbatches, got $batches")
    val expected = Dedup.chunkDedup(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(last == expected)
  }

  test("streaming substring dedup equals the batch result over a growing corpus") {
    // Every-alignment span dedup at ingest, same foreachBatch shape:
    // recompute over the accumulated corpus per microbatch; the final
    // per-doc (n_removed, text_clean) state must equal a one-shot run.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tempDir("sddocs")
    val accDir = tempDir("sdacc")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    var batches = 0
    var last: Map[Long, (Long, String)] = Map.empty
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().write.mode("append").parquet(accDir)
        last = Dedup.substringDedup(spark.read.parquet(accDir), "doc_id", "text")
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
        batches += 1
        ()
    }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 2, s"expected >=2 microbatches, got $batches")
    val expected = Dedup.substringDedup(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(last == expected)
  }
}
