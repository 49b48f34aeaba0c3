package graft.ext

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sanity checks for the dedup / similarity / text-analytics operators
  * on planted inputs where the right answer is known.
  */
class ExtSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank", "s0"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bend", "s0"), // near-dup of 0
      (2L, "completely different words about spark catalyst optimizer plans", "s0"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank", "s1")  // exact dup of 0
    ).toDF("doc_id", "text", "source")
  }

  test("exact dedup groups identical content") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text")
    assert(groups.count() == 3)
    assert(groups.filter(col("n") === 2).select("keep_id").collect().head.getLong(0) == 0L)
  }

  test("cluster-level splits eliminate the near-dup leakage doc-level splits have") {
    // the x67 -> x68 loop on real data: the doc-level hash split leaks
    // near-dup pairs across the boundary; re-keying the SAME split hash
    // by cluster root must drive the audit to exactly zero
    val docs = graft.model.Tables.documents(spark, sf()).select("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).localCheckpoint()
    val clusters = Dedup.dedupClusters(pairs)
    def leaked(splits: org.apache.spark.sql.DataFrame): Long =
      pairs
        .join(splits.select(col("doc_id").as("a_id"), col("split").as("a_split")), "a_id")
        .join(splits.select(col("doc_id").as("b_id"), col("split").as("b_split")), "b_id")
        .filter(col("a_split") =!= col("b_split")).count()
    val cuts = Seq("train" -> 8000, "valid" -> 9000, "test" -> 10000)
    val docSplit = Sampling.assignSplits(docs.select("doc_id"), col("doc_id"), cuts, ":sp")
    assert(leaked(docSplit) > 0, "doc-level split should leak on this corpus (x67's point)")
    val keyed = docs.select("doc_id").join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
    val clSplit = Sampling.assignSplits(keyed, col("split_key"), cuts, ":sp")
    assert(leaked(clSplit) == 0, "cluster-level split must be leakage-free by construction")
  }

  test("containmentPairs catches an embedded doc that whole-doc Jaccard scores low") {
    import spark.implicits._
    // B is the 10-word prefix of the 60-word A: every one of B's
    // shingles is in A (containment 1.0) but Jaccard is only 9/59 —
    // the x2 near-dup pass (jaccard >= 0.6) filters the pair out, and
    // MinHash bands rarely collide at that similarity. The rare-shingle
    // inverted index must surface it anyway.
    val words = (0 until 60).map(i => s"w$i")
    val corpus = Seq(
      (0L, words.mkString(" ")),
      (1L, words.take(10).mkString(" ")),
      (2L, (100 until 140).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val found = Dedup.containmentPairs(corpus, "doc_id", "text",
      k = 2, maxDf = 5, minContainment = 0.8).collect()
    assert(found.length == 1)
    val r = found.head
    assert(r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 1L)
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("jaccard") < 0.6,
      "the pair must be one the symmetric near-dup threshold would discard")
    // and the symmetric pass really does discard it
    val sym = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).count()
    assert(sym == 0L)
  }

  test("sq8 quantization error is within the theoretical cell bound on every dimension") {
    // recon = mn + (code·span) div 255 with code = ((vi−mn)·255) div span
    // implies err < span/255 + 1 — if any dim breaks this, the integer
    // quantizer is wrong (not just imprecise)
    val emb = graft.model.Tables.embeddings(spark, sf())
    val stats = Quantize.sq8Stats(emb, "embedding").collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      val span = r.getAs[Long]("mx") - r.getAs[Long]("mn")
      assert(span >= 0)
      assert(r.getAs[Long]("max_err") <= span / 255 + 1,
        s"dim ${r.getAs[Long]("dim")}: max_err ${r.getAs[Long]("max_err")} exceeds bound for span $span")
    }
    // and reconstruction must agree with the stats pass: the max abs
    // micro-unit error measured on reconVectors' output matches
    val recon = Quantize.reconVectors(emb, "vec_id", "embedding")
    val joined = emb.join(recon, "vec_id")
      .select(explode(arrays_zip(col("embedding"), col("recon"))).as("z"))
      .select(abs(floor(col("z.embedding").cast("double") * 1000000d).cast("long") -
        round(col("z.recon") * 1000000d).cast("long")).as("err"))
      .agg(max("err")).collect().head.getLong(0)
    assert(joined == stats.map(_.getAs[Long]("max_err")).max)
  }

  test("curriculumInterleave cuts equal tiers and interleaves them") {
    import spark.implicits._
    // 10 docs, scores 100..1000 — with 4 buckets the tier sizes must be
    // (3,2,3,2)-ish (never differing by >1) and ordering by (pos,bucket)
    // must start with one doc from every tier
    val rows = (1L to 10L).map(i => (i, i * 100L)).toDF("doc_id", "score_ppm")
    val out = Sampling.curriculumInterleave(rows, "doc_id", "score_ppm", 4)
      .orderBy("pos", "bucket").collect()
    assert(out.length == 10)
    val sizes = out.groupBy(_.getAs[Long]("bucket")).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L, 3L))
    assert(sizes.values.max - sizes.values.min <= 1)
    // first 4 rows in curriculum order: one per bucket
    assert(out.take(4).map(_.getAs[Long]("bucket")).toSet == Set(0L, 1L, 2L, 3L))
    // bucket 0 is the TOP tier: it must hold the highest scores
    val b0 = out.filter(_.getAs[Long]("bucket") == 0L).map(_.getAs[Long]("score_ppm")).min
    val b3 = out.filter(_.getAs[Long]("bucket") == 3L).map(_.getAs[Long]("score_ppm")).max
    assert(b0 > b3)
  }

  test("mixture resampling downsamples the oversized source and keeps the small one whole") {
    import spark.implicits._
    // source A: 10 docs x 100 tokens (overrepresented); B: 1 doc x 10
    // tokens. alpha=0.5 weights give A a sub-1 rate and B rate 1.
    val d = ((1L to 10L).map(i => (i, "A", 100L)) :+ (11L, "B", 10L))
      .toDF("doc_id", "source", "nt")
    val perSource = d.groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens"))).cast("long"))
    val tot = perSource.agg(sum(col("w")).as("tot_w"), sum(col("n_tokens")).as("tot_n"))
    val rates = perSource.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("least(1000000L, (((w * 1000000) div tot_w) * tot_n) div n_tokens)")
          .as("rate_ppm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("A") < 1000000L, "overrepresented source must be downsampled")
    assert(rates("B") == 1000000L, "small source must pass at rate 1")
    // rate boundaries: ppm 0 keeps nothing, ppm 10^6 keeps everything,
    // and the decision is a pure function of (key, salt)
    assert(Sampling.rateResamplePpm(d, col("doc_id"), lit(0L), ":mix").count() == 0L)
    assert(Sampling.rateResamplePpm(d, col("doc_id"), lit(1000000L), ":mix").count() == 11L)
    val once = Sampling.rateResamplePpm(d, col("doc_id"), lit(500000L), ":mix")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.rateResamplePpm(d.orderBy(col("doc_id").desc), col("doc_id"),
      lit(500000L), ":mix").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again)
  }

  test("hll_sketch is duplicate-insensitive, layout-stable, and accurate at planted cardinality") {
    import spark.implicits._
    val n = 10000L
    val terms = spark.range(n).select(concat(lit("t"), col("id")).as("s"))
    def est(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(graft.expr.HllSketchAgg.sketch(col("s")).as("regs"))
        .select(graft.expr.HllSketchAgg.estimate(col("regs"))).collect()(0).getDouble(0)
    val e1 = est(terms)
    // duplicates must not move a single register
    assert(est(terms.unionAll(terms)) == e1)
    // nor may the partition layout (merge is elementwise max)
    assert(est(terms.repartition(17)) == e1)
    // raw HLL at m=256 is ~6.5% sigma; 20% is a 3-sigma envelope
    assert(math.abs(e1 - n) / n < 0.2, s"HLL estimate $e1 too far from planted $n")
  }

  test("bloom_sketch has zero false negatives, OR-merges, and a bounded FP rate") {
    import spark.implicits._
    val mBits = 32768; val k = 3
    val n = 2000L
    val inserted = spark.range(n).select(concat(lit("in"), col("id")).as("s"))
    def words(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(graft.expr.BloomSketchAgg.sketch(col("s"), mBits, k).as("w"))
        .collect()(0).getSeq[Long](0)
    val w1 = words(inserted)
    // duplicates must not flip a single bit, nor may partition layout
    // (merge is elementwise OR)
    assert(words(inserted.unionAll(inserted)) == w1)
    assert(words(inserted.repartition(17)) == w1)
    // column-side probe: every inserted key tests positive (no false
    // negatives — including keys landing in sign-bit words), and the
    // FP rate over disjoint keys stays near (1-e^(-kn/m))^k ~ 2.9%
    val filt = inserted.agg(
      graft.expr.BloomSketchAgg.sketch(col("s"), mBits, k).as("w"))
    val probes = spark.range(3 * n).select(
      when(col("id") < n, concat(lit("in"), col("id")))
        .otherwise(concat(lit("out"), col("id"))).as("s"),
      (col("id") < n).as("planted"))
    val got = probes.crossJoin(broadcast(filt))
      .withColumn("pos",
        graft.expr.BloomSketchAgg.mightContain(col("w"), col("s"), mBits, k))
      .groupBy("planted").agg(
        count(lit(1)).as("n"), count(when(col("pos"), 1)).as("npos"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(true) == (n, n), s"false negatives: ${got(true)}")
    val fpRate = got(false)._2.toDouble / got(false)._1
    assert(fpRate < 0.06, s"FP rate $fpRate out of envelope")
    // the JVM-side probe agrees with the column-side probe bit for bit
    val bits = new graft.expr.BloomBits(mBits, k)
    bits.words.indices.foreach(i => bits.words(i) = w1(i))
    assert(bits.mightContain(
      org.apache.spark.unsafe.types.UTF8String.fromString("in7")))
    assert(bits.bitsSet == w1.map(java.lang.Long.bitCount).sum)
  }

  test("budgetSelect keeps the maximal quality-prefix under the token budget") {
    import spark.implicits._
    // quality order: a (9), b (9, higher id), c (5), d (1)
    // budget 25: a (cum 10), b (cum 20) kept; c overflows (cum 120);
    // d would FIT individually (n=1) but prefix semantics exclude it
    val rows = Seq(
      (1L, 9L, 10L), (2L, 9L, 10L), (3L, 5L, 100L), (4L, 1L, 1L)
    ).toDF("doc_id", "quality", "n_tokens")
    val kept = Sampling.budgetSelect(rows, "quality", "doc_id", "n_tokens", 25L)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 10L, 2L -> 20L))
    // zero budget keeps nothing; budget >= total keeps everything
    assert(Sampling.budgetSelect(rows, "quality", "doc_id", "n_tokens", 0L).count() == 0)
    assert(Sampling.budgetSelect(rows, "quality", "doc_id", "n_tokens", 1000L).count() == 4)
    // two-phase offsets: forcing many range partitions must not change
    // the result (each partition's cumsum starts from the fold offset)
    val many = Sampling.budgetSelect(rows, "quality", "doc_id", "n_tokens", 25L,
      numPartitions = 3)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(many == kept)
  }

  test("clusterCanonical keeps the best-quality member, not the min id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq(
      (1L, 10L, 5L),   // min id but short
      (2L, 30L, 8L),   // longest -> canonical for cluster 1
      (3L, 30L, 4L),   // same n_tokens, fewer distinct -> loses tiebreak
      (7L, 12L, 6L), (9L, 12L, 6L) // full tie -> lower id 7 wins
    ).toDF("doc_id", "n_tokens", "n_distinct")
    val got = Dedup.clusterCanonical(clusters, quality, Seq("n_tokens", "n_distinct"))
      .select("cluster_id", "keep_id", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (7L, 7L, 2L)))
  }

  test("firstOccurrenceDedup: first wins, later rows classified cross vs within tranche") {
    import spark.implicits._
    // arrival ids deliberately NOT globally ordered across tranches:
    // tranche 2's arrival 5 still loses to tranche 1's arrival 10
    val stream = Seq(
      (1L, 1, 10L, "A"), (2L, 1, 11L, "B"),
      (3L, 2, 5L, "A"),                       // content A seen in tranche 1 -> dup_cross
      (4L, 2, 6L, "C"), (5L, 2, 7L, "C"),     // C first appears IN tranche 2: 4 kept, 5 dup_within
      (6L, 2, 8L, "B")                        // dup_cross
    ).toDF("id", "tranche", "arrival", "text")
    val out = Dedup.firstOccurrenceDedup(stream, md5(col("text")),
      col("tranche"), col("arrival"))
      .select("id", "status", "keep_ord").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ("kept", 100000010L))
    assert(out(2L) == ("kept", 100000011L))
    assert(out(3L) == ("dup_cross", 100000010L))
    assert(out(4L) == ("kept", 200000006L))
    assert(out(5L) == ("dup_within", 200000006L))
    assert(out(6L) == ("dup_cross", 100000011L))
  }

  test("minhash LSH finds the planted near-dup pair with high jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
    val nearDup = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(nearDup.isDefined, s"expected (0,1) among ${pairs.mkString(",")}")
    assert(nearDup.get.getDouble(2) > 0.7)
    // exact dup pair has jaccard 1.0 if banded together
    pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 3L)
      .foreach(r => assert(r.getDouble(2) == 1.0))
  }

  test("dedup clusters: chained near-dups collapse to one component, isolated docs omitted") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").filter(col("jaccard") >= 0.6)
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0, 1, 3 are pairwise near/exact dups -> one cluster rooted at 0
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 3L -> 0L))
    // transitivity through a chain: a-b and b-c but never a-c directly
    import spark.implicits._
    val chain = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("a_id", "b_id")
    val got = Dedup.dedupClusters(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L))
  }

  test("simhash: identical docs share sketches, near-dups are close") {
    val sk = Dedup.simhashSketch(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sk(0L) == sk(3L))
    val hamming = sk(0L).zip(sk(1L)).count { case (a, b) => a != b }
    assert(hamming < 12, s"hamming=$hamming")
    val hammingFar = sk(0L).zip(sk(2L)).count { case (a, b) => a != b }
    assert(hammingFar > hamming)
  }

  test("cosine similarity: orthogonal vs identical") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f, 0f, 0f), Array(1f, 0f, 0f, 0f)),
      (Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))).toDF("a", "b")
    val sims = df.select(round(Similarity.cosine(col("a"), col("b")), 6)).collect().map(_.getDouble(0))
    assert(sims(0) == 1.0 && sims(1) == 0.0)
  }

  test("brute-force topk ranks by similarity then id") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0.01f), 0),
      (2L, Array(0f, 1f), 0), (3L, Array(1f, 0.02f), 0)).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 2).collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 3L))
  }

  test("top_k_pairs native aggregate matches the windowed row_number formulation") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (i % 7L, (i * 37 % 100).toLong, s"t$i"))
    val df = rows.toDF("g", "score", "term").repartition(5)
    val viaAgg = df.groupBy("g")
      .agg(graft.expr.TopKPairs.topK(col("score"), col("term"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "ts")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("ts.score").as("score"),
        col("ts.key").as("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("term"))
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("g", "rank", "score", "term")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("top_k_pairs: k larger than group, nulls skipped, duplicate scores tie-break by key") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(5L), Some("b")), (1L, Some(5L), Some("a")), (1L, None, Some("z")),
      (1L, Some(7L), None), (2L, Some(1L), Some("only"))).toDF("g", "score", "term")
    val got = df.groupBy("g")
      .agg(graft.expr.TopKPairs.topK(col("score"), col("term"), 10).as("top"))
      .orderBy("g")
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getString(1))))
    assert(got(0) == Seq((5L, "a"), (5L, "b")))
    assert(got(1) == Seq((1L, "only")))
  }

  test("decontamination flags near-copies of benchmark docs, not unrelated docs") {
    import spark.implicits._
    val benchText = (0 until 30).map(i => s"bench$i").mkString(" ")
    val nearCopy = ((0 until 25).map(i => s"bench$i") ++ Seq("x", "y", "z")).mkString(" ")
    val unrelated = (0 until 30).map(i => s"other$i").mkString(" ")
    val train = Seq((1L, nearCopy), (2L, unrelated), (100L, benchText))
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val flagged = Dedup.contamination(train, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((1L, 100L)))
  }

  test("count-min estimates upper-bound exact counts and are tight for heavy hitters") {
    import spark.implicits._
    val stream = (Seq.fill(500)("heavy") ++ Seq.tabulate(200)(i => s"rare$i")).toDF("term")
    val sketch = Dedup.countMinSketch(stream, "term")
    val probes = Seq("heavy", "rare7", "absent").toDF("term")
    val est = Dedup.cmsEstimates(sketch, probes, "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("heavy") >= 500L)
    assert(est("rare7") >= 1L)
    // CMS never under-counts; with 700 items in 1024-wide rows the min
    // over 4 rows is almost surely exact for the dominant key
    assert(est("heavy") <= 520L)
    assert(est("absent") <= 5L)
  }

  test("native cms_sketch aggregate is cell-identical to the relational sketch") {
    import spark.implicits._
    val stream = (Seq.fill(500)("heavy") ++ Seq.tabulate(200)(i => s"rare$i"))
      .toDF("term").repartition(8) // partial matrices must merge correctly
    val native = Dedup.countMinSketchNative(stream, "term")
      .collect().head.getSeq[Long](0)
    val relational = Dedup.countMinSketch(stream, "term").cells
      .collect().map(r => (r.getInt(0) * 1024 + r.getLong(1).toInt, r.getLong(2))).toMap
    assert(native.length == 4 * 1024)
    native.zipWithIndex.foreach { case (c, i) =>
      assert(c == relational.getOrElse(i, 0L), s"cell $i")
    }
    // and the probe path agrees with the relational estimates
    val probes = Seq("heavy", "rare7", "absent").toDF("term")
    val en = Dedup.cmsEstimatesNative(Dedup.countMinSketchNative(stream, "term"), probes, "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val er = Dedup.cmsEstimates(Dedup.countMinSketch(stream, "term"), probes, "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(en == er)
  }

  test("hash sampling is deterministic, rate-accurate, and stable under growth") {
    val d = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val s1 = Sampling.hashSample(d, col("doc_id"), 2000, ":t").select("doc_id").collect().toSet
    val s2 = Sampling.hashSample(d, col("doc_id"), 2000, ":t").select("doc_id").collect().toSet
    assert(s1 == s2)
    val n = d.count().toDouble
    assert(math.abs(s1.size / n - 0.2) < 0.05)
    // growth stability: the sample of a prefix is a subset of the full sample
    val prefix = Sampling.hashSample(d.filter(col("doc_id") < 100), col("doc_id"), 2000, ":t")
      .select("doc_id").collect().toSet
    assert(prefix.subsetOf(s1))
    // a different salt decorrelates
    val other = Sampling.hashSample(d, col("doc_id"), 2000, ":u").select("doc_id").collect().toSet
    assert(other != s1)
  }

  test("IVF multi-probe recall is at least single-probe recall") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val pred = col("vec_id") < 10
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, pred, 5))
    val p1 = pairs(Similarity.ivfTopK(emb, pred, 5, probes = 1))
    val p2 = pairs(Similarity.ivfTopK(emb, pred, 5, probes = 2))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    assert(recall(p2) >= recall(p1))
    // probing a second cell can only widen each query's candidate pool
    assert(p1.groupBy(_._1).keySet.subsetOf(p2.groupBy(_._1).keySet))
  }

  test("k-means IVF: learned centroids give decent recall vs brute force, assignment is total") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val n = emb.count()
    // every vector lands in exactly one of the k cells, more than one
    // cell is populated (2 Lloyd rounds actually separated the space)
    val a = KMeans.assign(emb, k = 8, iters = 2)
    assert(a.count() == n)
    assert(a.select("vec_id").distinct().count() == n)
    val cells = a.select("cell").distinct().count()
    assert(cells > 1 && cells <= 8, s"cells=$cells")
    // Lloyd improves (or at least never worsens) the quantization error
    val e1 = KMeans.assign(emb, k = 8, iters = 1).agg(sum("dist")).collect()(0).getLong(0)
    val e2 = a.agg(sum("dist")).collect()(0).getLong(0)
    assert(e2 <= e1, s"iter2 error $e2 > iter1 error $e1")
    // IVF search over the learned centroids: recall vs brute force
    val pred = col("vec_id") < 10
    val cent = KMeans.centroids(emb, k = 8, iters = 2)
      .select(col("cell").as("cent_label"), col("ce"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, pred, 5))
    val km1 = pairs(Similarity.ivfTopKWith(emb, cent, pred, 5, probes = 1))
    val km2 = pairs(Similarity.ivfTopKWith(emb, cent, pred, 5, probes = 2))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    assert(recall(km2) >= recall(km1))
    assert(recall(km2) > 0.2, f"kmeans-IVF probe-2 recall ${recall(km2)}%.2f")
  }

  test("PQ: codes are total per subspace, duplicates share codes, ADC finds planted twins") {
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val n = base.count()
    // plant exact duplicates: vec_id + 100000 carries an identical vector
    val twins = base.withColumn("vec_id", col("vec_id") + 100000L)
    val emb = base.unionAll(twins)
    val codes = PQ.codes(emb, m = 4, k = 4, iters = 2, subWidth = 16)
    // one code per (vector, subspace)
    assert(codes.count() == 2 * n * 4)
    // identical vectors quantize to identical codes in every subspace
    val joined = codes.alias("a")
      .join(codes.alias("b"),
        col("a.vec_id") + 100000L === col("b.vec_id") && col("a.sub") === col("b.sub"))
    assert(joined.filter(col("a.cell") =!= col("b.cell")).count() == 0)
    // ADC: each query's planted twin has lookup distance equal to the
    // query's own quantization error — the minimum possible — so it must
    // appear at rank 1 (cid tie-break can only prefer another exact twin)
    val top = PQ.adcTopK(emb, col("vec_id") < 5, topK = 1,
      m = 4, k = 4, iters = 2, subWidth = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(top.length == 5)
    top.foreach { case (qid, cid, _) =>
      val sameCode = codes.filter(col("vec_id").isin(qid, cid))
        .groupBy("sub").agg(countDistinct("cell").as("nc"))
        .filter(col("nc") > 1).count()
      assert(sameCode == 0, s"ADC top-1 of $qid is $cid with a different code")
    }
    // IVF-PQ composition: the twin shares the query's coarse cell (same
    // vector → same coarse assignment), so cell restriction keeps it and
    // ADC still ranks a same-code candidate first
    val topIvf = PQ.ivfAdcTopK(emb, col("vec_id") < 5, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(topIvf.length == 5)
    topIvf.foreach { case (qid, cid) =>
      val sameCode = codes.filter(col("vec_id").isin(qid, cid))
        .groupBy("sub").agg(countDistinct("cell").as("nc"))
        .filter(col("nc") > 1).count()
      assert(sameCode == 0, s"IVF-PQ top-1 of $qid is $cid with a different code")
    }
  }

  test("persisted PQ index: disk ADC equals in-memory; frozen-codebook append routes identically") {
    // the deployment artifact: centroids + codes on disk, searched and
    // grown without raw corpus vectors or retraining
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val standing = base.filter(col("vec_id") % 4 =!= 0)
    val dir = tempDir("pqidx") + "/pq"
    PQ.writeIndex(standing, dir, m = 4, k = 4, iters = 2, subWidth = 16)
    val cent = PQ.readCentroids(spark, dir)
    assert(cent.count() > 0 && cent.count() <= 4 * 4 * 16,
      "codebook is (sub, cid, i, v), at most m*k*subWidth rows")
    // parquet round-trip: the persisted code table IS the session's
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "sub", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val memCodes = codeSet(PQ.codes(standing, 4, 4, 2, 16))
    assert(codeSet(PQ.readCodes(spark, dir)) == memCodes)
    // disk-native ADC search equals the in-memory path (same memoized
    // codebook, deterministic tie-break)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val gotDisk = top(PQ.adcTopKIndex(
      standing.filter(col("vec_id") < 20), dir, topK = 3))
    val gotMem = top(PQ.adcTopK(standing, col("vec_id") < 20, topK = 3,
      m = 4, k = 4, iters = 2, subWidth = 16))
    assert(gotDisk == gotMem, "disk ADC diverged from the in-memory path")
    // frozen-codebook append: byte-identical copies of trained vectors
    // must route to the SAME code in every subspace (identity parity)
    val copies = standing.filter(col("vec_id") % 16 === 1)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    assert(PQ.readIndexParams(spark, dir) == ((4, 4, 2, 16)),
      "store must carry its training geometry")
    PQ.appendIndex(copies, dir)
    val all = PQ.readCodes(spark, dir)
    val mismatched = all.alias("a").join(all.alias("b"),
        col("a.vec_id") === col("b.vec_id") + 1000000L &&
          col("a.sub") === col("b.sub"))
      .filter(col("a.cell") =!= col("b.cell")).count()
    assert(all.filter(col("vec_id") >= 1000000L).count() > 0)
    assert(mismatched == 0, "appended copies routed differently from their sources")
    // and appended codes are immediately searchable: a source query's
    // top-1 candidate shares its code in every subspace
    val t1 = PQ.adcTopKIndex(standing.filter(col("vec_id") % 16 === 1)
        .limit(3), dir, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    t1.foreach { case (qid, cid) =>
      val diff = all.filter(col("vec_id").isin(qid, cid))
        .groupBy("sub").agg(countDistinct("cell").as("nc"))
        .filter(col("nc") > 1).count()
      assert(diff == 0, s"top-1 of $qid is $cid with a different code")
    }
  }

  test("PQ codes census surfaces ingest drift; rewriteIndex re-releases with ADC parity") {
    // the serving-store codebook-drift story (VERDICT r12 stretch):
    // appends route into a frozen codebook forever, so drift must be
    // visible (codesCensus) and fixable (rewriteIndex's atomic swap)
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val standing = base.filter(col("vec_id") % 4 =!= 0)
    val dir = tempDir("pqcen") + "/pq"
    PQ.writeIndex(standing, dir, m = 4, k = 4, iters = 2, subWidth = 16)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // re-release on the UNDRIFTED corpus: the deterministic integer
    // training reproduces the codebook, so disk ADC is preserved
    // exactly and the old generation is retained for rollback
    val t1 = top(PQ.adcTopKIndex(standing.filter(col("vec_id") < 20),
      dir, topK = 3))
    PQ.rewriteIndex(spark, dir, standing)
    assert(PQ.completeGens(spark, dir).size == 2,
      "re-release must retain the previous generation for in-flight " +
        "readers (gc is the retention boundary)")
    val t2 = top(PQ.adcTopKIndex(standing.filter(col("vec_id") < 20),
      dir, topK = 3))
    assert(t1 == t2, "re-release on undrifted data changed ADC top-k")
    // census: one row per codebook (sub, cell), totals exact
    def census() = PQ.codesCensus(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val before = census()
    assert(before.size.toLong == PQ.readCentroids(spark, dir)
      .select("sub", "cid").distinct().count(),
      "census must cover every codebook entry")
    val n = standing.count()
    assert(before.groupBy(_._1._1).values
      .forall(_.map(_._2._1).sum == n),
      "per-subspace code counts must total the corpus")
    // a drifted hot batch: 40 copies of ONE trained vector pile onto
    // its exact code in every subspace — that cell's skew must rise
    val hotId = standing.orderBy("vec_id").limit(1)
      .collect()(0).getLong(0)
    val hot = standing.filter(col("vec_id") === hotId)
      .crossJoin(spark.range(40).select((col("id") + 1L).as("cp")))
      .select((col("vec_id") + col("cp") * 1000000L).as("vec_id"),
        col("embedding"), col("label"))
    PQ.appendIndex(hot, dir)
    val hotCells = PQ.readCodes(spark, dir)
      .filter(col("vec_id") === hotId).collect()
      .map(r => r.getAs[Int]("sub") -> r.getAs[Long]("cell")).toMap
    val after = census()
    hotCells.foreach { case (sub, cell) =>
      assert(after((sub, cell))._2 > before((sub, cell))._2,
        s"hot drift invisible in the census at (sub=$sub, cell=$cell): " +
          s"${before((sub, cell))} -> ${after((sub, cell))}")
    }
  }

  test("serving never blinks: disk ADC stays correct through concurrent re-releases") {
    // the generational-pointer contract: a re-release writes the next
    // generation beside the live one and flips a pointer, so a
    // lock-free reader NEVER observes a missing store or a torn
    // params/centroids/codes mix — on an undrifted corpus every read,
    // before/during/after the flips, returns the identical top-k
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val standing = base.filter(col("vec_id") % 4 =!= 0)
    val dir = tempDir("pqgen") + "/pq"
    PQ.writeIndex(standing, dir, m = 4, k = 4, iters = 2, subWidth = 16)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val queries = standing.filter(col("vec_id") < 8)
    val expected = top(PQ.adcTopKIndex(queries, dir, topK = 3))
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() => {
      while (!stop)
        try {
          val got = top(PQ.adcTopKIndex(queries, dir, topK = 3))
          if (got != expected)
            throw new AssertionError(s"torn read: $got")
          reads.incrementAndGet()
        } catch { case t: Throwable => failures.add(t); stop = true }
    })
    reader.start()
    try {
      PQ.rewriteIndex(spark, dir, standing)
      PQ.rewriteIndex(spark, dir, standing)
    } finally { stop = true; reader.join(120000) }
    assert(failures.isEmpty,
      s"serving blinked during a re-release: ${failures.peek()}")
    assert(reads.get() > 0, "reader never completed a read")
    // every generation is still on disk (gc is the retention boundary)
    // and the pointer names the newest
    assert(PQ.completeGens(spark, dir).size == 3,
      s"expected 3 retained generations: ${PQ.completeGens(spark, dir)}")
    assert(top(PQ.adcTopKIndex(queries, dir, topK = 3)) == expected)
  }

  test("filtered disk ADC is top-k AMONG the allowed, not allowed among top-k") {
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val standing = base.filter(col("vec_id") % 4 =!= 0)
    val dir = tempDir("pqflt") + "/pq"
    PQ.writeIndex(standing, dir, m = 4, k = 4, iters = 2, subWidth = 16)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val queries = standing.filter(col("vec_id") < 20)
    // an all-permissive filter is the unfiltered search exactly
    val unfiltered = top(PQ.adcTopKIndex(queries, dir, topK = 3))
    assert(top(PQ.adcTopKIndexWhere(queries, dir, topK = 3,
      allowed = standing.select("vec_id"))) == unfiltered,
      "allowed=everything diverged from the unfiltered search")
    // restrict to an attribute slice: every returned candidate obeys it
    val allowed = standing.filter(col("label") <= 3).select("vec_id")
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val filtered = top(PQ.adcTopKIndexWhere(queries, dir, topK = 3,
      allowed = allowed))
    assert(filtered.nonEmpty, "attribute slice served nothing")
    assert(filtered.forall { case (_, _, cid, _) => allowedIds(cid) },
      "a disallowed candidate leaked through the filter")
    // the load-bearing semantics: for a query whose GLOBAL top-1 is
    // disallowed, the filtered search must still return its best
    // allowed candidates (a post-filter of the global top-k would
    // return fewer than k, or none)
    val evicted = unfiltered.filter { case (_, rank, cid, _) =>
      rank == 1 && !allowedIds(cid) }
    assert(evicted.nonEmpty,
      "fixture too permissive: every global top-1 is already allowed")
    val byQ = filtered.groupBy(_._1)
    evicted.foreach { case (qid, _, _, _) =>
      val got = byQ.getOrElse(qid, Seq.empty)
      assert(got.size == 3 && got.forall(r => allowedIds(r._3)),
        s"query $qid (global best disallowed) lost candidates: $got")
    }
  }

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of the big side shares one hot key
    val big = (0 until 1000).map(i => (if (i < 900) 7L else i.toLong % 50, i))
      .toDF("k", "payload")
    val small = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val plain = big.join(small, "k")
    val salted = Skew.saltedJoin(big, small, "k", 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("language guess picks the marked language") {
    import spark.implicits._
    val df = Seq(
      (0L, "der hund und die katze ist hier"),
      (1L, "the cat of the house and a dog"),
      (2L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalytics.langGuess(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "de" && got(1L) == "en" && got(2L) == "und")
  }

  test("fingerprint is deterministic and content-sensitive") {
    val fps = docs.select(col("doc_id"), TextAnalytics.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(3L))
    assert(fps(0L) != fps(2L))
  }

  test("HLL sketch (approx_count_distinct) stays within its error bound") {
    val events = graft.model.Tables.events(spark, sf())
    val row = events.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.02).as("approx")).collect().head
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("MinHashAggregator matches the declarative signature computation") {
    import spark.implicits._
    val minhash = udaf(new MinHashAggregator(16), Encoders.scalaLong)
    val viaAgg = docs
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("text"), 2)).as("s"))
      .select(col("doc_id"), Hashing.h32(col("s")).as("h"))
      .groupBy("doc_id").agg(minhash(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // declarative: min over ((2j+1)h + 7919j) % P per slot
    val viaSql = docs
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("text"), 2)).as("s"))
      .select(col("doc_id"), Hashing.h32(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(
        min((lit(1L) * col("h")) % lit(4294967311L)).as("s0"),
        (1 until 16).map(j =>
          min((lit(2L * j + 1) * col("h") + lit(7919L * j)) % lit(4294967311L)).as(s"s$j")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_)).toSeq).toMap
    assert(viaAgg == viaSql)
  }

  test("as-of join picks the latest right row at or before each left time") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 205L), (2L, 50L)).toDF("k", "t")
    val right = Seq((1L, 90L), (1L, 100L), (1L, 210L), (2L, 60L)).toDF("k", "rt")
    val got = AsOf.asOfTime(left, right, "k", "t", "rt")
      .select("k", "t", "matched").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // t=100 matches the equal-time right row; t=205 matches 100 (210 is
    // after); k=2 t=50 has no preceding right row -> null
    assert(got == Set((1L, 100L, 100L), (1L, 205L, 100L), (2L, 50L, -1L)))
  }

  test("salted aggregation equals the direct groupBy") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, if (i % 10 == 0) "hot" else s"k${i % 7}"))
      .toDF("event_id", "event_type")
    val salted = Skew.saltedCounts(df, "event_type", 8)
    val direct = df.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("multimodal resize stage bounds payload size and preserves schema") {
    val assets = Multimodal.asAssets(docs, "doc_id", "text")
    val resized = Multimodal.resizeAssets(spark, assets, targetBytes = 16)
    val rows = resized.select("doc_id", "n_bytes_resized").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) <= 16))
    assert(resized.columns.contains("width") && resized.columns.contains("mime"))
  }

  test("multimodal frame sampling windows the payload") {
    val assets = Multimodal.asAssets(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, assets).collect()
    val d0 = docs.collect().find(_.getLong(0) == 0L).get.getString(1)
    val expected = math.ceil(d0.length / 64.0).toInt
    assert(frames.count(_.docId == 0L) == expected)
    assert(frames.forall(f => f.feature >= 0.0 && f.feature <= 1.0))
  }

  test("repetition stats: a looping doc fails the gate, a diverse doc passes") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // all distinct
      (1L, "spam spam spam spam spam spam ham spam spam spam")          // generation loop
    ).toDF("doc_id", "text")
    // thresholds sized for these 10-word docs (the defaults are tuned
    // for the ~50-word corpus, where 1/n_bigrams is far below 0.05)
    val s = TextAnalytics.repetitionStats(d, "doc_id", "text",
      maxDupWordFrac = 0.5, maxTopBigramFrac = 0.2).collect()
    val diverse = s.find(_.getLong(0) == 0L).get
    val looping = s.find(_.getLong(0) == 1L).get
    assert(diverse.getAs[Double]("dup_word_frac") == 0.0)
    assert(diverse.getAs[Int]("pass") == 1)
    assert(looping.getAs[Double]("dup_word_frac") == 0.8)
    assert(looping.getAs[Double]("top_word_frac") == 0.9)
    assert(looping.getAs[Double]("top_bigram_frac") > 0.5)
    assert(looping.getAs[Int]("pass") == 0)
  }

  test("redact masks planted email, phone and ip but leaves clean text alone") {
    import spark.implicits._
    val d = Seq(
      "reach me at jo.doe+x@corp.example.org or +49 170-1234 from 192.168.0.1 thanks",
      "no pii in this sentence at all").toDF("t")
    val out = d.select(Redact.redact(col("t")).as("r")).collect().map(_.getString(0))
    assert(out(0) == "reach me at <EMAIL> or <PHONE> from <IP> thanks")
    assert(out(1) == "no pii in this sentence at all")
    val cnt = d.select(Redact.counts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .collect()
    assert(cnt(0).getInt(0) == 1 && cnt(0).getInt(1) == 1 && cnt(0).getInt(2) == 1)
    assert(cnt(1).getInt(0) == 0 && cnt(1).getInt(1) == 0 && cnt(1).getInt(2) == 0)
  }

  test("priority sampling: deterministic under repartition, drops non-positive weights") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, if (i % 50 == 0) 0L else 1L + i % 7)).toDF("id", "w")
    val s1 = Sampling.priorityWeighted(d, col("id"), col("w"), 40)
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.priorityWeighted(d.repartition(13), col("id"), col("w"), 40)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                       // content-hash priority, not partition order
    assert(s1.size == 40)
    assert(s1.intersect(Set(0L, 50L, 100L, 150L)).isEmpty) // zero-weight never sampled
  }

  test("token offsets: distributed prefix sum equals the sequential scan") {
    import spark.implicits._
    val d = (0L until 300L).map(i => (i, 1L + i % 37)).toDF("doc_id", "n")
    val got = graft.ext.Packing.tokenOffsets(d.repartition(7), "doc_id", "n", 100L)
      .orderBy("doc_id")
      .select("doc_id", "token_offset", "bin_id", "bin_pos")
      .collect()
    var cum = 0L
    (0L until 300L).zip(got).foreach { case (i, r) =>
      assert(r.getLong(0) == i)
      assert(r.getLong(1) == cum, s"offset at $i")
      assert(r.getLong(2) == cum / 100 && r.getLong(3) == cum % 100)
      cum += 1 + i % 37
    }
  }

  test("decode errors route to classified rows without killing the partition") {
    import spark.implicits._
    val assets = Seq(
      (0L, "a healthy payload with plenty of bytes".getBytes("UTF-8")),
      (1L, Array.empty[Byte]),                 // empty
      (2L, Array[Byte](1, 2)),                 // truncated (< 4 bytes)
      (3L, Array[Byte](0, 9, 9, 9, 9, 9)),     // bad magic (leading zero)
      (4L, "another good one".getBytes("UTF-8"))
    ).toDF("doc_id", "payload").repartition(1) // all five share ONE partition
    val out = Multimodal.sampleFramesWithErrors(spark, assets, every = 8).collect()
    val errs = out.filter(_.error != null).map(r => r.docId -> r.error).toMap
    assert(errs == Map(1L -> "empty", 2L -> "truncated", 3L -> "bad_magic"))
    // the good assets on the same partition still decoded fully
    val good = out.filter(_.error == null)
    assert(good.count(_.docId == 0L) == math.ceil(38 / 8.0).toInt)
    assert(good.count(_.docId == 4L) == 2)
    assert(out.filter(_.error != null).forall(_.frameIdx == -1))
  }

  test("chunking: overlap, short docs, and exact-multiple lengths") {
    import spark.implicits._
    def words(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, words(5)), (1L, words(32)), (2L, words(33)), (3L, words(80)))
      .toDF("doc_id", "text")
    val c = TextAnalytics.chunk(d, "doc_id", "text", window = 32, stride = 24)
      .collect().groupBy(_.getLong(0))
    assert(c(0L).length == 1 && c(0L).head.getLong(3) == 5)   // short doc: one chunk
    assert(c(1L).length == 1 && c(1L).head.getLong(3) == 32)  // exactly one window
    assert(c(2L).length == 2)                                  // one token spills over
    // 80 tokens: starts 0,24,48 -> 3 chunks; last has 32 tokens exactly
    assert(c(3L).map(_.getLong(1)).sorted.toSeq == Seq(0L, 1L, 2L))
    val last = c(3L).maxBy(_.getLong(1))
    assert(last.getLong(3) == 32 && last.getString(2).startsWith("w48 "))
    // consecutive chunks overlap by window - stride = 8 tokens
    val ch0 = c(3L).find(_.getLong(1) == 0L).get.getString(2).split(" ")
    val ch1 = c(3L).find(_.getLong(1) == 1L).get.getString(2).split(" ")
    assert(ch0.takeRight(8).toSeq == ch1.take(8).toSeq)
  }

  test("kmeans quantization rejects inputs outside the [-10,10] parity domain") {
    import spark.implicits._
    // -10.0 quantizes to exactly 0 (still positive-domain); -10.1 goes negative
    val ok = Seq((0L, Array(-10.0, 10.0))).toDF("vec_id", "embedding")
    assert(KMeans.quantized(ok).select(expr("e[0]")).collect().head.getLong(0) == 0L)
    val bad = Seq((0L, Array(-10.1))).toDF("vec_id", "embedding")
    val e = intercept[Exception] { KMeans.quantized(bad).collect() }
    assert(e.getMessage.contains("below supported domain") ||
      Option(e.getCause).exists(_.getMessage.contains("below supported domain")))
  }

  test("cross-doc duplication: exact dups read 1.0, unique doc reads 0, near-dup in between") {
    val r = Dedup.crossDocDup(docs, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap
    // docs 0 and 3 are identical -> every shingle shared
    assert(r(0L).getDouble(3) == 1.0 && r(3L).getDouble(3) == 1.0)
    // doc 2 shares no 3-gram with anyone
    assert(r(2L).getLong(2) == 0L && r(2L).getDouble(3) == 0.0)
    // doc 1 differs from 0 only in the last word, which sits in exactly
    // one 3-gram -> 10 of its 11 shingles shared
    assert(r(1L).getLong(1) == 11L && r(1L).getLong(2) == 10L)
  }

  test("bigram surprisal: exact integer weights, rare follow-up scores highest") {
    import spark.implicits._
    val d = Seq((0L, "a b a b a b"), (1L, "a b a c")).toDF("doc_id", "text")
    val r = TextAnalytics.bigramSurprisal(d, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap
    // corpus: cb(a b)=4, cb(b a)=3, cb(a c)=1; first-word counts a=5, b=3
    // weights: a b -> 5e6 div 4 = 1_250_000; b a -> 1_000_000; a c -> 5_000_000
    assert(r(0L).getLong(2) == 3L * 1250000 + 2L * 1000000)
    assert(r(1L).getLong(2) == 1250000L + 1000000L + 5000000L)
    assert(r(1L).getDouble(3) > r(0L).getDouble(3))
  }

  test("dedupClusters fails loudly instead of mislabeling when rounds run out") {
    import spark.implicits._
    // a 64-node chain needs ~log2(64)=6 pointer-jumping rounds; 1 round
    // cannot converge — silent acceptance would split the component
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.dedupClusters(chain, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain is ONE component labeled 0
    val ok = Dedup.dedupClusters(chain).select("cluster_id").distinct().collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("cross-doc dup and surprisal are layout-independent") {
    val base = docs
    val a = Dedup.crossDocDup(base, "doc_id", "text").orderBy("doc_id").collect().toSeq
    val b = Dedup.crossDocDup(base.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    val s1 = TextAnalytics.bigramSurprisal(base, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val s2 = TextAnalytics.bigramSurprisal(base.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(s1 == s2)
  }

  test("URL canonicalization collapses tracking noise but preserves real params") {
    import spark.implicits._
    val urls = Seq(
      "HTTPS://CDN.Example.org/a.mp3?expire=1&utm_source=x",
      "https://cdn.example.org/a.mp3",
      "https://h.org/p?utm_a=1&q=2&utm_b=3#frag",
      "https://h.org/p?utm_a=1").toDF("u")
    val got = urls.select(UrlCanon.canonicalize(col("u")).as("c"))
      .as[String].collect()
    assert(got(0) == "https://cdn.example.org/a.mp3") // host lowered, tracking gone
    assert(got(0) == got(1))                          // variant collapses to raw
    assert(got(2) == "https://h.org/p?q=2")           // real param survives, frag gone
    assert(got(3) == "https://h.org/p")               // empty query tidied away
  }

  test("morton keys are monotone per dimension, bound 2-D boxes, and biject the grid") {
    import spark.implicits._
    val pts = (for { x <- 0 to 15; y <- 0 to 15 } yield (x.toLong, y.toLong)).toDF("x", "y")
    val z = pts.select(col("x"), col("y"), ZOrder.morton8(col("x"), col("y")).as("z"))
      .collect()
    val zm = z.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(zm((3L, 5L)) < zm((4L, 5L)) && zm((3L, 5L)) < zm((3L, 6L)))
    val lo = zm((2L, 3L)); val hi = zm((5L, 6L))
    for (x <- 2L to 5L; y <- 3L to 6L)
      assert(zm((x, y)) >= lo && zm((x, y)) <= hi) // reader's superset range
    assert(z.map(_.getLong(2)).distinct.length == 256)
  }

  test("denseRankDesc refuses NULL rank values instead of silently skewing offsets") {
    import spark.implicits._
    val withNull = Seq(Some(3L), Some(1L), None, Some(2L)).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Ranking.denseRankDesc(withNull, "v", "rnk").collect()
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("chunkDedup keeps first occurrences, empties exact dups, reconstructs uniques") {
    import spark.implicits._
    val w16 = (1 to 16).map(i => s"w$i").mkString(" ")   // exactly one window
    val docs = Seq(
      (0L, s"$w16 unique tail zero"),      // chunk0 = w16, chunk1 = "unique tail zero"
      (1L, s"$w16 other suffix here"),     // chunk0 duplicates doc0's chunk0
      (2L, s"$w16 unique tail zero"),      // exact dup of doc0 -> loses everything
      (3L, "totally fresh words")          // untouched singleton
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "doc_id", "text", window = 16)
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L)) // total over input docs
    assert(got(0).getLong(2) == 2 && got(0).getString(3) == s"$w16 unique tail zero")
    assert(got(1).getLong(2) == 1 && got(1).getString(3) == "other suffix here")
    assert(got(2).getLong(2) == 0 && got(2).getString(3) == "") // exact dup emptied
    assert(got(3).getLong(2) == 1 && got(3).getString(3) == "totally fresh words")
    // a corpus with no repeated chunks reconstructs every doc exactly
    val uniq = (0L until 40L).map(i =>
      (i, (0 until 37).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val mism = Dedup.chunkDedup(uniq, "doc_id", "text", window = 16)
      .join(uniq, "doc_id").filter(col("text_dedup") =!= col("text")).count()
    assert(mism == 0L)
  }

  test("substringDedup removes repeated spans at any offset, keeps first occurrence") {
    import spark.implicits._
    val span = (1 to 16).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"lead tokens here $span trail"),   // first occurrence of span (offset 3)
      (1L, s"$span different ending words"),   // same span at offset 0 -> removed
      (2L, s"lead tokens here $span trail"),   // exact dup of doc0 -> fully emptied
      (3L, "short doc under window")           // < 16 tokens, untouched
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", window = 16)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(2) == 0 &&
      got(0).getString(3) == s"lead tokens here $span trail") // winner untouched
    assert(got(1).getLong(2) == 16 &&
      got(1).getString(3) == "different ending words")        // shifted span caught
    assert(got(2).getLong(2) == got(2).getLong(1) &&
      got(2).getString(3) == "")                              // exact dup emptied
    assert(got(3).getLong(2) == 0 &&
      got(3).getString(3) == "short doc under window")
    // a corpus with no repeated 16-gram reconstructs every doc exactly
    val uniq = (0L until 30L).map(i =>
      (i, (0 until 41).map(j => s"u${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val mism = Dedup.substringDedup(uniq, "doc_id", "text", window = 16)
      .join(uniq, "doc_id").filter(col("text_clean") =!= col("text")).count()
    assert(mism == 0L)
  }

  test("pageRankInt ranks hubs above leaves, is partition-invariant, rejects dangling") {
    import spark.implicits._
    // undirected star a=0 with leaves 1..4, plus an isolated pair 5-6
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val r = Graph.pageRankInt(edges, "u", "v", iters = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 7)
    assert(r(0L) > r(1L), s"hub must out-rank leaves: $r")          // centrality
    assert(Set(1L, 2L, 3L, 4L).map(r).size == 1)                    // symmetry
    assert(r(5L) == r(6L))                                          // pair symmetry
    // truncating divisions only ever LOSE mass: total <= nodes * scale
    assert(r.values.sum <= 7L * 1000000000L && r.values.min > 0L)
    val r2 = Graph.pageRankInt(edges.repartition(13), "u", "v", iters = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == r2)                                                 // bit-identical
    val e = intercept[IllegalArgumentException] {
      Graph.pageRankInt(Seq((1L, 2L)).toDF("u", "v"), "u", "v")
    }
    assert(e.getMessage.contains("out-edges"))
  }

  test("Bmp codec round-trips, classifies real failures, and guards header bombs") {
    val gray = (0 until 40).map(i => (i * 6).toByte).toArray // 16-wide -> 3 rows
    val img = Bmp.parse(Bmp.write(16, gray))
    assert(img.width == 16 && img.height == 3)
    assert(img.gray.take(40).toSeq == gray.map(_ & 0xff).toSeq) // mean of 3 equal channels
    assert(img.gray.drop(40).forall(_ == 0))                    // zero padding
    def kind(b: Array[Byte]): String =
      intercept[Multimodal.MediaFormatException](Bmp.parse(b)).kind
    assert(kind(Array.empty[Byte]) == "empty")
    assert(kind(Array[Byte]('B')) == "truncated")
    assert(kind("XXXX".getBytes("US-ASCII")) == "bad_magic")
    assert(kind(Bmp.write(16, gray).take(20)) == "truncated")
    val bomb = Bmp.write(16, gray)
    bomb(22) = 0x7f.toByte; bomb(23) = 0x7f.toByte // absurd declared height
    assert(kind(bomb) == "truncated")              // checked before any allocation
    // Int-overflow bomb: width 0x55555556 makes an Int stride wrap to 4,
    // which would sneak past a 32-bit size check into a giant allocation
    val wBomb = Bmp.write(16, gray)
    wBomb(18) = 0x56.toByte; wBomb(19) = 0x55.toByte
    wBomb(20) = 0x55.toByte; wBomb(21) = 0x55.toByte
    assert(kind(wBomb) == "truncated")             // Long math keeps the guard exact
    val badBpp = Bmp.write(16, gray); badBpp(28) = 8
    assert(kind(badBpp) == "unsupported")
    // frames: 3 rows in bands of 2 -> sizes 2*48 and 1*48; black -> 0 feature
    val fr = new BmpDecoder().frames(7L, Bmp.write(16, new Array[Byte](48)), 2).toSeq
    assert(fr.map(_.nBytes) == Seq(96L, 48L) && fr.forall(_.feature == 0.0))
  }

  test("resizeNearest halves a BMP with exact pixel sampling and re-encodes validly") {
    val gray = (0 until 64).map(i => (i * 4).toByte).toArray // 16x4 image
    val img = Bmp.parse(Bmp.write(16, gray))
    val small = BmpOps.resizeNearest(img, 8, 2, 2, 2)
    assert(small.width == 8 && small.height == 2)
    for (r <- 0 until 2; c <- 0 until 8)
      assert(small.gray(r * 8 + c) == (((r * 32 + c * 2) * 4) & 0xff))
    val rt = Bmp.parse(Bmp.write(8, small.gray.map(_.toByte)))
    assert(rt.gray.toSeq == small.gray.toSeq) // resized artifact is a valid BMP
  }

  test("codec fuzz: Wav and Bmp parsers never fail outside the error taxonomy") {
    // random payloads and bit-flipped valid files must either decode or
    // raise the typed MediaFormatException — an IndexOutOfBounds /
    // NegativeArraySize / infinite loop here would kill a 100 TB decode
    // job instead of routing one asset to the error side
    val rnd = new scala.util.Random(42)
    val kinds = Set("empty", "truncated", "bad_magic", "unsupported")
    def probe(parse: Array[Byte] => Any, b: Array[Byte]): Unit =
      try { parse(b); () } catch {
        case e: Multimodal.MediaFormatException =>
          assert(kinds(e.kind), s"unknown error kind ${e.kind}")
      }
    val validWav = Wav.write((0 until 200).map(_.toByte).toArray)
    val validBmp = Bmp.write(16, (0 until 200).map(_.toByte).toArray)
    (0 until 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(junk)
      probe(Wav.parse, junk); probe(Bmp.parse, junk)
      def mutate(v: Array[Byte]): Array[Byte] = {
        val m = v.clone()
        (0 until 1 + rnd.nextInt(8)).foreach { _ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        }
        m.take(if (rnd.nextBoolean()) m.length else rnd.nextInt(m.length + 1))
      }
      probe(Wav.parse, mutate(validWav)); probe(Bmp.parse, mutate(validBmp))
    }
  }

  test("personalizedPageRankInt localizes mass at seeds and stays sparse beyond hops") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6-7 (undirected), seed at node 0
    val und = (0L until 7L).map(i => (i, i + 1))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val seeds = Seq(0L).toDF("doc_id")
    val r = Graph.personalizedPageRankInt(edges, "u", "v", seeds, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == 8)
    // mass sloshes on a path (the degree-1 seed exports everything each
    // round), so no monotone-ordering claim — the exact semantics are:
    // the seed always holds at least its teleport base, every node
    // within `iters` hops is reached, and beyond `iters` hops the rank
    // is EXACTLY zero (mass enters only at seeds)
    assert(r(0L) >= 150000000L)
    assert(r(1L) > 0L && r(2L) > 0L && r(3L) > 0L)          // <= 3 hops: reached
    assert(r(4L) == 0L && r(7L) == 0L)                      // beyond iters: exactly 0
    // no seeds at all -> every rank is exactly 0
    val r0 = Graph.personalizedPageRankInt(edges, "u", "v",
      Seq.empty[Long].toDF("doc_id"), iters = 3)
      .agg(max(col("rank"))).collect()(0).getLong(0)
    assert(r0 == 0L)
  }

  test("weightedPageRankInt: weights steer rank, residual gate stops a converged graph") {
    import spark.implicits._
    // star A-B (w=9) / A-C (w=1), symmetrized: A's mass splits 9:1, so
    // B must outrank C; integer arithmetic makes the gap exact
    val star = Seq((0L, 1L, 9L), (1L, 0L, 9L), (0L, 2L, 1L), (2L, 0L, 1L))
      .toDF("u", "v", "w")
    val (ranks, _) = Graph.weightedPageRankInt(star, "u", "v", "w",
      maxIters = 8, epsScaled = 0L)
    val r = ranks.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(2L), s"heavy edge must outrank light: $r")
    // uniformly-weighted K4 IS the damped fixed point after one step:
    // round 1 lands within integer-truncation distance (resid 4), round
    // 2 reproduces itself exactly (resid 0) -> the gate stops at 2 of 8
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b, 5L))
      .toDF("u", "v", "w")
    val (kr, rounds) = Graph.weightedPageRankInt(k4, "u", "v", "w",
      maxIters = 8, epsScaled = 0L)
    assert(rounds == 2, s"K4 must converge-stop at round 2, ran $rounds")
    assert(kr.collect().forall(_.getLong(1) == 999999999L))
    // equal weights must reproduce the unweighted kernel bit-for-bit
    val ring = (0L to 9L).flatMap(i =>
      Seq((i, (i + 1) % 10, 7L), ((i + 1) % 10, i, 7L))).toDF("u", "v", "w")
    val (wr, _) = Graph.weightedPageRankInt(ring, "u", "v", "w",
      maxIters = 4, epsScaled = -0L, scale = 1000000000L)
    val uw = Graph.pageRankInt(ring, "u", "v", iters = 4)
    assert(wr.orderBy("node").collect().map(_.getLong(1)).toSeq ==
      uw.orderBy("node").collect().map(_.getLong(1)).toSeq)
  }

  test("bpeTrain learns the planted merge sequence: weighted, overlap-counted, sequential") {
    import spark.implicits._
    // hand-built frequency table exercising all three load-bearing
    // details: counts weighted by n, overlapping occurrences counted
    // ("a a a" contributes TWO "a a"), and sequential non-overlapping
    // merge ("a a a b" -> "a_a a b", not "a_a a_b's middle").
    // round 1: "a a" = 2x10 = 20 beats "a b" = 10+5 = 15
    //   -> reprs "a_a a b" (3 toks) / "a b"; corpus = 10*3 + 5*2 = 40
    // round 2: "a b" = 10+5 = 15 beats "a_a a" = 10
    //   -> reprs "a_a a_b" / "a_b"; corpus = 10*2 + 5*1 = 25
    val wf = Seq(("aaab", 10L), ("ab", 5L)).toDF("word", "n")
    val (merges, vocab) = TextAnalytics.bpeTrain(wf, rounds = 2)
    assert(merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((1, "a a", 20L, 40L), (2, "a b", 15L, 25L)))
    assert(vocab.orderBy("word").collect()
      .map(r => (r.getString(0), r.getString(2)))
      .toSeq == Seq(("aaab", "a_a a_b"), ("ab", "a_b")))
  }

  test("bpeTrainLocal is bit-identical to the distributed bpeTrain") {
    val wf = TextAnalytics.wordFreq(
      graft.model.Tables.documents(spark, sf()), "text")
    val (dm, dv) = TextAnalytics.bpeTrain(wf, rounds = 8)
    val distMerges = dm.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val distVocab = dv.orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val (lm, lv) = TextAnalytics.bpeTrainLocal(wf, rounds = 8)
    assert(lm == distMerges)
    assert(lv.sortBy(_._1) == distVocab)
  }

  test("applyMerges replays the learned table: per-word segmentation matches vocab repr") {
    import spark.implicits._
    // the chained-replace expression is the property-check oracle for
    // the vocab-join tokenizer (x62): applying all 64 learned merges to
    // each word's char sequence must land on exactly its trained repr
    val wf = TextAnalytics.wordFreq(
      graft.model.Tables.documents(spark, sf()), "text")
    val (merges, vocab) = TextAnalytics.bpeTrainLocal(wf, rounds = 64)
    val pairs = merges.map(_._2)
    val spaced = vocab.map { case (w, _, _) =>
      (w, w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        .mkString(" "))
    }.toDF("word", "chars")
    val replayed = spaced
      .select(col("word"), TextAnalytics.applyMerges(col("chars"), pairs).as("repr"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val trained = vocab.map { case (w, _, rep) => w -> rep }.toMap
    assert(replayed == trained)
    // and the corpus-token trajectory is monotone non-increasing
    val traj = merges.map(_._4)
    assert(traj.zip(traj.tail).forall { case (a, b) => b <= a })
  }

  test("bpeTrain is a pure function of the frequency table: scaling n by 7 scales counts by 7") {
    import spark.implicits._
    // the structural scale guarantee of the wordFreq formulation: the
    // trainer sees ONLY (word, n) — replicating the corpus 7x (same
    // table, n*7) yields the identical merge sequence and segmentations
    // with every count exactly 7x. No corpus-shaped input exists to
    // rescan.
    val wf = TextAnalytics.wordFreq(
      graft.model.Tables.documents(spark, sf()), "text")
    val wf7 = wf.select(col("word"), (col("n") * 7).as("n"))
    val (m1, v1) = TextAnalytics.bpeTrainLocal(wf, rounds = 12)
    val (m7, v7) = TextAnalytics.bpeTrainLocal(wf7, rounds = 12)
    assert(m7 == m1.map { case (r, p, n, t) => (r, p, n * 7, t * 7) })
    assert(v7.map(v => (v._1, v._3)) == v1.map(v => (v._1, v._3)))
  }

  test("quality model score equals a naive JVM re-computation of hashed features") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf()).limit(50)
    val got = graft.ext.QualityModel.scoreDocuments(
        docs, "doc_id", "text", graft.ext.QualityModel.hashedWeights(spark, 4096), 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    def bucket(f: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 4096
    }
    def wt(b: Long): Long = (b * 2654435761L) % 2001 - 1000
    val expected = docs.select("doc_id", "text").collect().map { r =>
      val words = r.getString(1).split(" ", -1).toSeq
      val feats = words ++ words.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val score = feats.map(f => wt(bucket(f))).sum
      r.getLong(0) -> ((feats.size.toLong, score, if (score > 0) 1 else 0))
    }.toMap
    assert(got == expected)
    // the deterministic weights must actually discriminate: both classes
    // occur, so the keep flag is a decision, not a constant
    assert(got.values.exists(_._3 == 1) && got.values.exists(_._3 == 0))
    // sparse-model semantics: pruning a bucket from the weight table
    // zeroes its contribution but never shrinks the feature count
    import spark.implicits._
    val usedBuckets = graft.ext.QualityModel
      .featureBuckets(docs, "doc_id", "text", 4096)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
    val pruned = graft.ext.QualityModel.hashedWeights(spark, 4096)
      .filter(!col("bucket").isin(usedBuckets.take(3).toSeq: _*))
    val sparse = graft.ext.QualityModel.scoreDocuments(
        docs, "doc_id", "text", pruned, 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparse.keySet == got.keySet)
    assert(sparse.forall { case (id, nf) => nf == got(id)._1 },
      "pruning weight rows must not change n_features")
  }

  test("incremental LSH pairs are exactly the missing slice of the monolithic run") {
    val docs = graft.model.Tables.documents(spark, sf())
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = Dedup.incrementalNearDupPairs(standing, incoming, "doc_id", "text")
    val incrPairs = pairSet(incr)
    val standingOnly = pairSet(Dedup.minhashLshPairs(standing, "doc_id", "text"))
    val monolithic = pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    // band keys are per-document, so partitioning the corpus partitions
    // the pair set: standing-only ∪ incremental == full rebuild, and the
    // two slices are disjoint
    assert((standingOnly ++ incrPairs) == monolithic)
    assert(standingOnly.intersect(incrPairs).isEmpty)
    // provenance labels match the tranche split
    val bySrc = incr.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(bySrc.forall { case (a, b, src) =>
      if (src == "within") a % 4 == 0 && b % 4 == 0
      else (a % 4 == 0) != (b % 4 == 0)
    })
  }

  test("model quality scorer composes into budget selection (score-ordered token budget)") {
    // VERDICT r6 next-round #4: the learned filter's output IS a
    // quality column — feed the kept documents straight into the
    // token-budget prefix selection and check the greedy invariants
    // against a driver-side replay.
    val docs = graft.model.Tables.documents(spark, sf()).limit(120)
    val scored = graft.ext.QualityModel.scoreDocuments(
      docs, "doc_id", "text", graft.ext.QualityModel.hashedWeights(spark, 4096), 4096)
      .filter(col("keep") === 1)
    val budget = 2000L
    val sel = graft.ext.Sampling.budgetSelect(
      scored, "score", "doc_id", "n_features", budget).collect()
    val all = scored.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy { case (id, _, s) => (-s, id) }
    var cum = 0L
    val expected = all.takeWhile { case (_, nf, _) =>
      cum += nf; cum <= budget }.map(_._1).toSet
    assert(sel.map(_.getAs[Long]("doc_id")).toSet == expected)
    assert(sel.map(_.getAs[Long]("n_features")).sum <= budget)
  }

  test("persisted near-dup index round-trips and probes identically to the direct path", graft.Slow) {
    val docs = graft.model.Tables.documents(spark, sf())
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    val dir = tempDir("ndidx")
    Dedup.writeNearDupIndex(standing, "doc_id", "text", dir)
    val idx = Dedup.readNearDupIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard", "src").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val viaIndex = rows(
      Dedup.probeNearDupIndex(idx, incoming, "doc_id", "text"))
    val direct = rows(
      Dedup.incrementalNearDupPairs(standing, incoming, "doc_id", "text"))
    assert(viaIndex == direct)
    // the production cycle: after probing, the tranche is APPENDED to
    // the same index files; the next (disjoint) tranche's probe must
    // see standing ∪ appended
    Dedup.writeNearDupIndex(incoming, "doc_id", "text", dir)
    val next = spark.range(5000, 5040).select(col("id").as("doc_id"),
      concat(lit("key agg row scan slow fast table value part hash tail"),
        (col("id") % 7).cast("string")).as("text"))
    val idx2 = Dedup.readNearDupIndex(spark, dir)
    val grown = rows(Dedup.probeNearDupIndex(idx2, next, "doc_id", "text"))
    val expected = rows(Dedup.incrementalNearDupPairs(
      standing.unionByName(incoming), next, "doc_id", "text"))
    assert(grown == expected)
    assert(grown.exists(_._4 == "within"),
      "the synthetic tranche should produce within-batch near-dups")
    // the store is self-describing, and an append under different
    // shingle/band geometry is refused instead of silently corrupting
    assert(Dedup.readNearDupIndexParams(spark, dir) == ((2, 8, 2)))
    intercept[IllegalArgumentException] {
      Dedup.writeNearDupIndex(next, "doc_id", "text", dir, k = 3)
    }
  }

  test("compactNearDupIndex pays the re-crawl collapse once; probes unchanged", graft.Slow) {
    // append-mode tranche commits leave one bands/sets row per
    // (content x tranche it re-entered in); readNearDupIndex collapses
    // the redundancy on every read. Compaction rewrites the store
    // duplicate-free so standing probes stop paying for re-crawl
    // history, without changing any probe result.
    val docs = graft.model.Tables.documents(spark, sf())
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    val dir = tempDir("ndcomp") + "/idx"
    Dedup.writeNearDupIndex(standing, "doc_id", "text", dir)
    // a re-run double-appends the same tranche; a re-crawl tranche
    // carries byte-identical texts under new ids
    Dedup.writeNearDupIndex(standing, "doc_id", "text", dir)
    Dedup.writeNearDupIndex(
      standing.filter(col("doc_id") % 16 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
      "doc_id", "text", dir)
    def raw(frame: String) = spark.read.parquet(s"$dir/$frame").count()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard", "src").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val bandsBefore = raw("bands")
    val distinctBands = spark.read.parquet(s"$dir/bands")
      .dropDuplicates("ch", "bk").count()
    assert(bandsBefore > 2 * distinctBands,
      s"premise: re-appends tripled most band rows ($bandsBefore vs $distinctBands)")
    val membersBefore = raw("members")
    val probeBefore = rows(Dedup.probeNearDupIndex(
      Dedup.readNearDupIndex(spark, dir), incoming, "doc_id", "text"))
    Maintenance.rewrite(spark, Dedup.nearDupStore(dir))
    assert(raw("bands") == distinctBands, "bands not collapsed on disk")
    assert(raw("sets") == spark.read.parquet(s"$dir/sets")
      .dropDuplicates("ch").count(), "sets not collapsed on disk")
    // members: the double-appended tranche collapses; the re-crawl ids
    // (distinct rows) survive
    assert(raw("members") < membersBefore)
    assert(spark.read.parquet(s"$dir/members")
      .filter(col("id") >= 1000000L).count() > 0)
    val probeAfter = rows(Dedup.probeNearDupIndex(
      Dedup.readNearDupIndex(spark, dir), incoming, "doc_id", "text"))
    assert(probeAfter == probeBefore, "compaction changed probe results")
    assert(Dedup.readNearDupIndexParams(spark, dir) == ((2, 8, 2)),
      "compaction must carry the geometry params through the swap")
    assert(new java.io.File(s"$dir.old/bands").isDirectory,
      "previous store not retained for rollback")
    // the cycle continues: append the probed tranche to the compacted
    // store and read it back; a SECOND compaction replaces the stale
    // .old instead of failing on it
    Dedup.writeNearDupIndex(incoming, "doc_id", "text", dir)
    Maintenance.rewrite(spark, Dedup.nearDupStore(dir))
    assert(Dedup.readNearDupIndex(spark, dir).members
      .join(incoming.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .count() > 0)
  }

  test("probe bucket cap drops cross-content candidates but never exact duplicates") {
    // ADVICE r7: the doc-level index's cap could silently lose
    // exact-duplicate pairs and blow up quadratically on boilerplate.
    // The content-level probe must (a) keep every exact-dup pair under
    // ANY cap, (b) report what the cap dropped, (c) only ever drop —
    // never invent — pairs.
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val standing = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler + " tail one")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, boiler), (11L, boiler + " tail two")
    ).toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(standing, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard", "src").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val uncapped = rows(Dedup.probeNearDupIndex(idx, incoming, "doc_id", "text"))
    val capped = rows(Dedup.probeNearDupIndex(idx, incoming, "doc_id", "text",
      maxBucket = 1))
    // exact-dup pairs of the new copy against BOTH standing copies, and
    // against its fellow... (10 vs 1, 2 cross; none within — 11 differs)
    Seq((1L, 10L), (2L, 10L)).foreach { case (a, b) =>
      assert(capped.contains((a, b, 1.0, "cross")), s"capped lost exact dup ($a,$b)")
    }
    assert(capped.subsetOf(uncapped))
    // boiler and its near-variants share band buckets, so a cap of 1
    // must both drop something and report it
    assert(uncapped.exists { case (_, _, j, _) => j < 1.0 },
      "test needs near (non-exact) candidates to be meaningful")
    assert(Dedup.nearDupIndexDroppedBuckets(idx, 1).count() > 0)
  }

  test("image dHash near-dup: planted near-identical images caught, unrelated ones not") {
    import spark.implicits._
    // base: a 16x32 gradient image with real structure; nearDup: the
    // same pixels with a handful flipped (a re-encode/noise stand-in);
    // exact: byte-identical; far: unrelated texture
    val basePx = Array.tabulate(16 * 32)(i => ((i * 7) % 251).toByte)
    val nearPx = basePx.clone(); (0 until 5).foreach(i => nearPx(i * 97) = 0)
    val farPx = Array.tabulate(16 * 32)(i => (255 - (i * 13) % 241).toByte)
    def hash(px: Array[Byte]) = ImageHash.dHash(Bmp.parse(Bmp.write(16, px)))
    val hashes = Seq(
      (1L, hash(basePx)), (2L, hash(nearPx)), (3L, hash(basePx)),
      (4L, hash(farPx))).toDF("doc_id", "hash")
    val pairs = ImageHash.hammingNearDups(hashes, "doc_id", "hash")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) == 0,
      s"exact image dup missed: $pairs")
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0,
      s"planted near-identical image missed: $pairs")
    assert(pairs.contains((2L, 3L)), s"near pair vs the dup copy missed: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated image paired: $pairs")
    // maxDist >= bands would break the pigeonhole exactness guarantee
    intercept[IllegalArgumentException] {
      ImageHash.hammingNearDups(hashes, "doc_id", "hash", bands = 4, maxDist = 4)
    }
  }

  test("perceptron training beats the majority-class baseline and fits its split") {
    // the learn→score→select loop with REAL learning (VERDICT r7 #3):
    // on a target that is linear in the model's own feature space the
    // trainer must (a) exactly fit the training split, (b) generalize
    // past the majority-class baseline on the full corpus
    val out = graft.queries.ExtQueries.x93TrainedQuality(spark, sf()).collect()
    val n = out.length
    val baseline = math.max(
      out.count(_.getAs[Long]("y") == 1L),
      out.count(_.getAs[Long]("y") == -1L)).toDouble / n
    val acc = out.count(_.getAs[Int]("correct") == 1).toDouble / n
    assert(acc > baseline + 0.05,
      f"trained accuracy $acc%.3f does not clear the baseline $baseline%.3f")
    val train = out.filter(_.getAs[Long]("doc_id") % 10 == 0)
    assert(train.nonEmpty && train.forall(_.getAs[Int]("correct") == 1),
      "perceptron failed to fit its own (separable) training split")
  }

  test("x113: unigram-LM trainer — exact fixed-point costs, lossless segmentation, bounded vocab") {
    import spark.implicits._
    import graft.ext.UnigramLm
    // fixed-point -log2: exact at powers of two, within quantization
    // error elsewhere (2^-16 granularity)
    assert(UnigramLm.neglog2fp(1, 1) == 0L)
    assert(UnigramLm.neglog2fp(1, 2) == 65536L)
    assert(UnigramLm.neglog2fp(1, 4) == 131072L)
    for ((n, d) <- Seq((3L, 7L), (5L, 9L), (123L, 100000L))) {
      val fp = UnigramLm.neglog2fp(n, d)
      val exact = -math.log(n.toDouble / d) / math.log(2.0) * 65536
      assert(math.abs(fp - exact) <= 2, s"$n/$d: $fp vs $exact")
    }
    // Viterbi: equal-cost tie keeps the latest split (shortest final
    // piece); a strictly cheaper multi-char piece wins
    assert(UnigramLm.segment("ab",
      Map("a" -> 100L, "b" -> 100L, "ab" -> 200L), 4).toSeq == Seq("a", "b"))
    assert(UnigramLm.segment("ab",
      Map("a" -> 100L, "b" -> 100L, "ab" -> 150L), 4).toSeq == Seq("ab"))
    // trained on the corpus: every character survives pruning, the
    // multi-piece set respects the cap, and every distinct word
    // re-segments losslessly under the final costs
    val wf = graft.ext.TextAnalytics.wordFreq(
      graft.model.Tables.documents(spark, sf()), "text")
    val m = UnigramLm.trainModel(wf)
    val singles = m.pieces.collect { case (p, _, _) if p.length == 1 => p }.toSet
    val words = wf.select("word").as[String].collect()
    assert(words.flatMap(_.toCharArray.map(_.toString)).toSet.subsetOf(singles),
      "a corpus character fell out of the vocabulary")
    assert(m.pieces.count(_._1.length > 1) <= 48)
    words.foreach { w =>
      assert(UnigramLm.segment(w, m.cost, 4).mkString == w, s"lossy: $w")
    }
  }

  test("x114: holdout accuracy beats the train-split majority baseline") {
    // generalization measured on labels the trainer never saw: the
    // held-out slice (doc_id % 10 == 5) must score above the
    // majority-class predictor fit on the TRAINING split, and the
    // confusion counts must be internally consistent
    val out = graft.queries.ExtQueries.x114HoldoutEval(spark, sf()).collect()
    assert(out.map(_.getAs[String]("slice")).toSeq == Seq("holdout", "train"))
    out.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") + r.getAs[Long]("tn")
        + r.getAs[Long]("fn") == r.getAs[Long]("n"), r.toString)
      assert(r.getAs[Long]("tp") + r.getAs[Long]("tn") == r.getAs[Long]("n_correct"),
        r.toString)
    }
    val ho = out.find(_.getAs[String]("slice") == "holdout").get
    assert(ho.getAs[Long]("n_correct") > ho.getAs[Long]("majority_correct"),
      s"holdout does not beat the majority baseline: $ho")
  }

  test("perceptron convergence short-circuit returns the full-round weights") {
    // once the misclassified set empties, every later round is a no-op,
    // so exiting early must produce weights IDENTICAL to running the
    // full round count — the property that lets the oracle unroll all
    // rounds while the engine stops at convergence
    import spark.implicits._
    val docs = Seq(
      (0L, "the the the a a quick fox"), (1L, "rare words only here"),
      (2L, "the a the a the a"), (3L, "zeta omega kappa lambda"),
      (4L, "a the a quick brown fox"), (5L, "completely novel tokens"))
      .toDF("doc_id", "text")
    val tk = split(col("text"), " ")
    val labels = docs.select(col("doc_id"),
      when(size(filter(tk, x => x === "the" || x === "a")) * 4 > size(tk),
        lit(1L)).otherwise(lit(-1L)).as("y"))
    def weights(rounds: Int) = graft.ext.QualityModel
      .trainPerceptron(docs, "doc_id", "text", labels, 256, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // 48 rounds vastly exceeds convergence on 6 separable docs; the
    // short-circuit (or its absence) must not change a single weight
    assert(weights(48) == weights(12))
  }

  test("x104: LM fit ranks in-domain text above novel text; trained slice fits best") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat on the mat"), (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat again"), (3L, "qq ww ee rr tt yy"),
      (4L, "one")).toDF("doc_id", "text")
    val out = graft.ext.NgramLm
      .perplexityScores(docs, "doc_id", "text", col("doc_id") <= 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // per-bigram average fit: a doc the LM trained on scores strictly
    // above an all-novel-token doc that can only back off
    def avgLp(id: Long) =
      out(id).getAs[Double]("logprob") / out(id).getAs[Long]("n_bigrams")
    assert(avgLp(0L) > avgLp(3L), s"in-domain ${avgLp(0L)} !> novel ${avgLp(3L)}")
    // a single-token doc has no bigram and must land in 'unscored'
    assert(out(4L).getAs[Long]("n_bigrams") == 0 &&
      out(4L).getAs[String]("ppl_bucket") == "unscored")
    // corpus-level (the declared query): the rule-positive slice the LM
    // trained on fits better ON AVERAGE than the rest — the CCNet
    // property the head/middle/tail split exists to exploit
    val tk = split(col("text"), " ")
    val labeled = graft.queries.ExtQueries.queries("x104_lm_perplexity")(spark, sf())
      .join(graft.model.Tables.documents(spark, sf()).select(col("doc_id"),
        (size(filter(tk, x => x === "the" || x === "a")) * 16 > size(tk)).as("is_t")),
        "doc_id")
      .groupBy("is_t").agg(avg("bin").as("b"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(labeled(true) > labeled(false),
      s"target-slice mean bin ${labeled(true)} !> rest ${labeled(false)}")
  }

  test("x105: within-document dedup keeps first occurrence, reassembles in order") {
    import spark.implicits._
    // 10 tokens, aligned width-4 segments: [a b c d][a b c d][e f] —
    // the repeated opening collapses, the tail survives, order holds
    val docs = Seq((1L, "a b c d a b c d e f"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = graft.ext.Boilerplate.dedupWithinDocuments(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_segs") == 3 &&
      out(1L).getAs[Long]("n_removed") == 1 &&
      out(1L).getAs[String]("clean_text") == "a b c d e f", out(1L).toString)
    assert(out(2L).getAs[Long]("n_removed") == 0 &&
      out(2L).getAs[String]("clean_text") == "x y z w")
    // declared query: every planted degenerate doc loses at least one
    // segment, while natural aligned width-4 self-repeats stay rare
    // (sf0.001 has exactly one — a tail-alignment coincidence — so the
    // bound is a rate, not zero)
    val full = graft.queries.ExtQueries.queries("x105_intradoc_dedup")(spark, sf())
      .collect()
    val (planted, clean) = full.partition(_.getAs[Long]("doc_id") % 10 == 7)
    assert(planted.nonEmpty && planted.forall(_.getAs[Long]("n_removed") >= 1),
      "a planted repetition loop survived intra-doc dedup")
    val naturals = clean.count(_.getAs[Long]("n_removed") > 0)
    assert(naturals <= clean.length / 100,
      s"$naturals of ${clean.length} unplanted docs lost segments — the " +
        "planted signal no longer dominates")
  }

  test("x111: the curation ledger accounts for every doc under pipeline precedence") {
    val out = graft.queries.ExtQueries.queries("x111_curation_ledger")(spark, sf())
      .collect()
    val valid = Set("exact_dup", "near_dup", "contaminated", "low_quality", "kept")
    assert(out.forall(r => valid(r.getAs[String]("decision"))))
    // every planted re-crawl copy is an exact-dup loser pointing at its source
    val planted = out.filter(_.getAs[Long]("doc_id") >= 1000000L)
    assert(planted.nonEmpty && planted.forall { r =>
      r.getAs[String]("decision") == "exact_dup" &&
        r.getAs[Long]("keep_id") == r.getAs[Long]("doc_id") - 1000000L
    }, "a planted re-crawl escaped the exact-dup branch")
    // survivors are their own canonical on both axes — a 'kept' doc
    // that lost a cluster or a content group would be double-counted
    assert(out.filter(_.getAs[String]("decision") == "kept").forall(r =>
      r.getAs[Long]("keep_id") == r.getAs[Long]("doc_id") &&
        r.getAs[Long]("cluster_id") == r.getAs[Long]("doc_id")))
    // the ledger is complete: corpus + planted rows, nothing dropped
    val base = graft.model.Tables.documents(spark, sf()).count()
    assert(out.length == base + planted.length,
      s"${out.length} ledger rows for $base docs + ${planted.length} planted")
  }

  test("x115: hamming probe pairs are exactly the missing slice of the monolithic run") {
    // the incremental-LSH partition property at the hash layer:
    // standing-only pairs ∪ probe pairs == monolithic hammingNearDups
    // over the union, row for row (hamming values included)
    import spark.implicits._
    val hashes = graft.model.Tables.documents(spark, sf())
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.ext.ImageHash.dHash(
          graft.ext.Bmp.parse(graft.ext.Bmp.write(16, t.getBytes("US-ASCII")))))
      }.toDF("doc_id", "hash")
    val standing = hashes.filter(col("doc_id") % 4 =!= 0)
    val incoming = hashes.filter(col("doc_id") % 4 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probe = graft.ext.ImageHash.hammingProbe(
      standing, incoming, "doc_id", "hash")
    val standingOnly = pairSet(
      graft.ext.ImageHash.hammingNearDups(standing, "doc_id", "hash"))
    val monolithic = pairSet(
      graft.ext.ImageHash.hammingNearDups(hashes, "doc_id", "hash"))
    assert(standingOnly ++ pairSet(probe) == monolithic)
    assert(standingOnly.intersect(pairSet(probe)).isEmpty,
      "probe re-derived a standing-only pair")
    // provenance labels: within iff both sides are tranche docs
    probe.collect().foreach { r =>
      val within = r.getAs[Long]("a_id") % 4 == 0 && r.getAs[Long]("b_id") % 4 == 0
      assert(r.getAs[String]("src") == (if (within) "within" else "cross"), r.toString)
    }
  }

  test("x118: video sequence probe pairs are exactly the missing slice of the monolithic run") {
    // the x115 partition property at the shingle-containment layer
    val frames = graft.ext.VideoHash.frameHashes(
      graft.model.Tables.documents(spark, sf()), "doc_id", "text")
    val standing = frames.filter(col("doc_id") % 4 =!= 0)
    val incoming = frames.filter(col("doc_id") % 4 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "shared", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val probe = graft.ext.VideoHash.sequenceProbe(standing, incoming)
    val standingOnly = pairSet(graft.ext.VideoHash.sequenceNearDups(standing))
    val monolithic = pairSet(graft.ext.VideoHash.sequenceNearDups(frames))
    assert(standingOnly ++ pairSet(probe) == monolithic)
    assert(standingOnly.intersect(pairSet(probe)).isEmpty,
      "probe re-derived a standing-only pair")
    probe.collect().foreach { r =>
      val within = r.getAs[Long]("a_id") % 4 == 0 && r.getAs[Long]("b_id") % 4 == 0
      assert(r.getAs[String]("src") == (if (within) "within" else "cross"), r.toString)
    }
  }

  test("perceptual ledger verdicts accumulate tranche-by-tranche to the batch replay") {
    // the x112 verdict semantics at the hash layer under incremental
    // arrival: three tranches applied sequentially through
    // ImageHash.ledgerProbe must reproduce the batch first-seen replay
    // over the union (ord = tranche*base + id), with planted re-crawls
    // keeping the exact branch live
    import spark.implicits._
    val base = graft.model.Tables.documents(spark, sf())
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.ext.ImageHash.dHash(
          graft.ext.Bmp.parse(graft.ext.Bmp.write(16, t.getBytes("US-ASCII")))))
      }.toDF("doc_id", "hash")
    // plants: byte-identical re-crawls (exact branch) and one-bit-
    // flipped copies (hamming-1 near branch — at this SF no natural
    // distinct-hash pair sits within the Hamming radius)
    val corpus = base
      .unionAll(base.filter(col("doc_id") % 97 === 13)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("hash")))
      .unionAll(base.filter(col("doc_id") % 101 === 17)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("hash").bitwiseXOR(lit(1L)).as("hash")))
    val acc = scala.collection.mutable.Map.empty[Long, String]
    (0 to 2).foreach { t =>
      val standing = corpus.filter(col("doc_id") % 3 < t)
      val tranche = corpus.filter(col("doc_id") % 3 === t)
      acc ++= graft.ext.ImageHash.ledgerProbe(standing, tranche, "doc_id", "hash")
        .collect().map(r => r.getLong(0) -> r.getString(1))
    }
    // batch replay under arrival order
    val rows = corpus.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ord = rows.map { case (id, _) => id -> ((id % 3) * 10000000L + id) }.toMap
    val exactLosers = rows.groupBy(_._2).values.flatMap { g =>
      val first = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == first)
    }.toSet
    val nearLosers = graft.ext.ImageHash
      .hammingNearDups(corpus, "doc_id", "hash")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => if (ord(a) > ord(b)) a else b }
      .toSet -- exactLosers
    val expected = rows.map { case (id, _) =>
      id -> (if (exactLosers(id)) "exact_dup"
             else if (nearLosers(id)) "near_dup" else "kept")
    }.toMap
    assert(acc.toMap == expected)
    assert(exactLosers.nonEmpty && nearLosers.nonEmpty)
  }

  test("x112 composes with the persisted ledger: the multimodal frame lands on disk", graft.Slow) {
    import java.nio.file.Files
    val out = graft.queries.ExtQueries.queries("x112_multimodal_ledger")(spark, sf())
    val dir = tempDir("x112led")
    graft.ext.Ledger.appendMultimodal(out, tranche = 7L, dir)
    val back = graft.ext.Ledger.read(spark, dir).collect()
    assert(back.forall(_.getLong(2) == 7L))
    val disk = back.map(r => (r.getLong(0), r.getString(3)) -> r.getString(1)).toMap
    val mem = out.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("modality")) ->
        r.getAs[String]("decision")).toMap
    assert(disk == mem)
    // partition pruning: one (tranche, modality) slice reads one
    // partition directory, not the table
    assert(new java.io.File(s"$dir/tranche=7/modality=image").isDirectory)
  }

  test("embedding ledgerProbe: semantic verdicts under first-seen precedence") {
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat)
    val standing = Seq(
      (1L, v(1, 0, 0, 0), 0), (2L, v(0, 1, 0, 0), 1))
      .toDF("vec_id", "embedding", "label")
    val tranche = Seq(
      (10L, v(1, 0, 0, 0), 0),       // identical to standing 1 → exact
      (11L, v(2, 0, 0.1, 0), 0),     // colinear with 1, same label → near (cross)
      (12L, v(0, 1, 0, 0), 5),       // identical VECTOR, different label → exact
      (13L, v(0, 0, 1, 0), 2),       // fresh, first of its pair → kept
      (14L, v(0, 0, 1, 0.05), 2),    // near 13, arrives later → near (within)
      (15L, v(0.99, 0.05, 0, 0), 3), // near standing 1 numerically, other label → kept
      (16L, v(1, 0, 0, 0), 0))       // smaller-id copy (10) shares the tranche → exact
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ledgerProbe(standing, tranche,
        "vec_id", "embedding", "label", 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(10L -> "exact_dup", 11L -> "near_dup",
      12L -> "exact_dup", 13L -> "kept", 14L -> "near_dup",
      15L -> "kept", 16L -> "exact_dup"), out.toString)
  }

  test("x112: the multimodal ledger exercises every modality's branch on the plants") {
    val out = graft.queries.ExtQueries.queries("x112_multimodal_ledger")(spark, sf())
      .collect()
    // one row per (doc, modality), all five modalities per doc
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(
      _.map(_.getAs[String]("modality")).toSet ==
        Set("text", "image", "audio", "video", "embedding")))
    // planted re-crawls (byte-identical copies): exact_dup at the text
    // layer, near_dup at every perceptual layer with a hash (all docs
    // are non-empty) and at the embedding layer (a copied vector is
    // cosine-1 colinear with its source), each pointing at the
    // smaller-id canonical
    val planted = out.filter(_.getAs[Long]("doc_id") >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { r =>
      val expect = r.getAs[String]("modality") match {
        case "text" => "exact_dup"
        case "video" =>
          // a 1-frame video has no temporal shingles and cannot pair
          if (r.getAs[String]("decision") == "kept") "kept" else "near_dup"
        case _ => "near_dup"
      }
      assert(r.getAs[String]("decision") == expect, r.toString)
      if (r.getAs[String]("decision") != "kept")
        assert(r.getAs[Long]("keep_id") < r.getAs[Long]("doc_id"), r.toString)
    }
    // at least one planted re-crawl is long enough to lose at the video
    // layer too (>= 2 frames → shared shingles with its source)
    assert(planted.exists(r => r.getAs[String]("modality") == "video" &&
      r.getAs[String]("decision") == "near_dup"))
    // the x105-style plants carry nonzero within-doc removal mass
    val repeats = out.filter(r => r.getAs[String]("modality") == "text" &&
      r.getAs[Long]("doc_id") % 10 == 7 && r.getAs[Long]("doc_id") < 1000000L)
    assert(repeats.nonEmpty && repeats.forall(_.getAs[Long]("n_removed") >= 1L),
      "a planted degenerate-repeat doc shows zero removal mass")
  }

  test("x105: within-document dedup is idempotent") {
    // applying the filter to its own output must remove nothing — the
    // invariant that makes re-running a curation pass safe (a second
    // pass that kept trimming would mean the reassembly itself
    // manufactures new aligned repeats)
    val rep8 = array_join(slice(split(col("text"), " "), 1, 8), " ")
    val planted = graft.model.Tables.documents(spark, sf())
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 7,
          concat_ws(" ", col("text"), rep8, rep8)).otherwise(col("text")).as("text"))
    val once = graft.ext.Boilerplate
      .dedupWithinDocuments(planted, "doc_id", "text", 4)
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = graft.ext.Boilerplate
      .dedupWithinDocuments(once, "doc_id", "text", 4)
    assert(twice.agg(sum("n_removed")).collect()(0).getLong(0) == 0L,
      "second dedup pass trimmed again — reassembly creates new repeats")
  }

  test("x107: ensemble vote is the majority of three genuinely-disagreeing signals") {
    val out = graft.queries.ExtQueries.queries("x107_quality_ensemble")(spark, sf())
      .collect()
    // internal consistency: votes is the flag sum, keep is majority-2
    assert(out.forall { r =>
      r.getAs[Int]("votes") == r.getAs[Int]("rule_keep") +
        r.getAs[Int]("dsir_keep") + r.getAs[Int]("lm_keep") &&
        r.getAs[Int]("ensemble_keep") == (if (r.getAs[Int]("votes") >= 2) 1 else 0)
    })
    // the ensemble must be non-vacuous: the three signals disagree on
    // some documents (otherwise any single filter would do) while
    // agreeing on others (otherwise majority voting is a coin toss)
    val split = out.count(r => r.getAs[Int]("votes") == 1 || r.getAs[Int]("votes") == 2)
    assert(split > 0, "signals never disagree — the ensemble is vacuous")
    assert(split < out.length, "signals always disagree — no consensus mass")
  }

  test("x108: trimmed footage clusters to its source; the longest video is canonical") {
    import spark.implicits._
    // frames with a controlled gradient: ascending frames carry rising
    // byte comparisons (distinct per rotation), the decoy's descending
    // frames carry none — so full/trim share frames exactly while the
    // decoy never pairs
    def frame(rot: Int, asc: Boolean): String =
      (0 until 64).map { j =>
        val d = (j / 7 + rot) % 10
        if (asc) ('0' + d).toChar else ('9' - d).toChar
      }.mkString
    val full = (0 until 4).map(frame(_, asc = true)).mkString   // 4 frames
    val trim = full.take(192)                                   // its first 3
    val decoy = (0 until 3).map(frame(_, asc = false)).mkString
    val docs = Seq((10L, full), (11L, trim), (20L, decoy)).toDF("doc_id", "text")
    val frames = graft.ext.VideoHash.frameHashes(docs, "doc_id", "text")
    val out = Dedup.clusterCanonical(
        Dedup.dedupClusters(graft.ext.VideoHash.sequenceNearDups(frames)),
        frames.groupBy("doc_id").agg(count(lit(1)).as("n_frames")),
        Seq("n_frames"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("n_frames")))
    // exactly one cluster: {full, trim}, canonical = the 4-frame full
    assert(out.toSeq == Seq((10L, 2L, 4L)), out.mkString(","))
  }

  test("x109: PSI stays calm on a random split and alarms on a shifted tranche") {
    import graft.ext.{Drift, QualityModel}
    val docs = graft.model.Tables.documents(spark, sf())
    def scores(d: org.apache.spark.sql.DataFrame) =
      QualityModel.scoreDocuments(d, "doc_id", "text",
          QualityModel.hashedWeights(spark, 4096), 4096)
        .select(col("doc_id"), col("score"))
    val std = scores(docs.filter(col("doc_id") % 3 =!= 0))
    def totalPsi(incoming: org.apache.spark.sql.DataFrame) =
      Drift.scorePsi(std, incoming, "score")
        .agg(sum("psi")).collect()(0).getDouble(0)
    // calm: the declared query's split — every 3rd doc is a tranche
    // drawn from the same distribution
    val calm = totalPsi(scores(docs.filter(col("doc_id") % 3 === 0)))
    assert(calm < 0.2, f"calm split alarms: PSI $calm%.4f")
    // shifted: the same tranche padded with 32 stopword tokens — the
    // padding moves every score by a near-constant delta, which is
    // exactly the bin-mass migration PSI exists to catch (measured
    // 1.46 vs calm 0.13 at sf0.001)
    val shifted = totalPsi(scores(
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat_ws(" ", (Seq(col("text")) ++ Seq.fill(32)(lit("the"))): _*)
            .as("text"))))
    assert(shifted > 0.5, f"shifted tranche stays quiet: PSI $shifted%.4f")
    assert(shifted > 5 * calm,
      f"alarm not separable from noise: $shifted%.4f vs $calm%.4f")
  }

  test("x110: LSH recall is total at high Jaccard and lossy at low — the banding curve") {
    val out = graft.queries.ExtQueries.queries("x110_lsh_recall")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.nonEmpty, "no truth pairs at all — the audit is vacuous")
    out.foreach { case (band, t, c) =>
      assert(c <= t, s"caught > truth in band $band") }
    // 8 bands x 2 rows: P(candidate) = 1-(1-j^2)^8 — essentially 1 at
    // j >= 0.9, far below 1 at j in [0.1, 0.2); the audit must show
    // the curve, not a flat 100%
    val top = out.filter(_._1 >= 8)
    assert(top.nonEmpty && top.forall(b => b._2 == b._3),
      s"high-jaccard truth pairs escaped LSH: ${out.mkString(",")}")
    val low = out.filter(_._1 <= 2)
    assert(low.nonEmpty && low.exists(b => b._3 < b._2),
      s"low-jaccard recall reads total — audit not measuring: ${out.mkString(",")}")
  }

  test("RRF fusion ranks first a hit neither system alone ranks first") {
    // the planted hybrid case (VERDICT r7 #4): lexical ranks a keyword
    // decoy first, semantic ranks an embedding decoy first, but only
    // the TRUE hit appears near the top of BOTH lists — RRF must fuse
    // it to rank 1 while each decoy collects one list's vote
    import spark.implicits._
    val bm25 = Seq((1L, 100L, 1), (1L, 7L, 2), (1L, 101L, 3))
      .toDF("qid", "doc_id", "rank")
    val ann = Seq((1L, 200L, 1), (1L, 7L, 2), (1L, 201L, 3))
      .toDF("qid", "doc_id", "rank")
    val fused = Retrieval.reciprocalRankFusion(Seq(bm25, ann), 60, 10)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(fused.head == ((1, 7L, math.rint(2.0 / 62 * 1e6) / 1e6, 2L)),
      s"true hit must fuse to rank 1: ${fused.mkString(",")}")
    val byDoc = fused.map(f => f._2 -> f).toMap
    assert(byDoc(100L)._4 == 1L && byDoc(200L)._4 == 1L,
      "decoys carry a single list's vote")
    assert(byDoc(100L)._1 > 1 && byDoc(200L)._1 > 1,
      s"no single-list decoy may outrank the fused hit: ${fused.mkString(",")}")
  }

  test("FFD packing: whole docs, no overfull bin, less waste than id-order next-fit") {
    val lens = graft.model.Tables.documents(spark, sf())
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
    val packed = Packing.ffdPackBuckets(lens, "doc_id", "len", 256L, 32L)
      .localCheckpoint()
    // every doc lands in exactly one bin, and no bin is overfull
    assert(packed.count() == lens.count())
    assert(packed.groupBy("bucket", "bin").agg(sum("len").as("u"))
      .filter(col("u") > 256).count() == 0)
    // padding waste (bins*256 - tokens) beats the naive packer that
    // keeps id order and opens a new bin whenever the next doc misses
    val nBinsFfd = packed.select("bucket", "bin").distinct().count()
    val naive = {
      val ls = lens.orderBy("doc_id").collect().map(_.getLong(1))
      var bins = 1L; var rem = 256L
      ls.foreach { l => if (l > rem) { bins += 1; rem = 256L }; rem -= l }
      bins
    }
    assert(nBinsFfd < naive,
      s"FFD used $nBinsFfd bins, naive next-fit $naive — no waste won back")
    // x31's concat-and-chunk is the zero-padding benchmark, but it
    // SPLITS documents across windows — FFD's waste buys whole docs
    val chunked = Packing.tokenOffsets(lens, "doc_id", "len", 256L)
    assert(chunked.filter(col("bin_pos") + col("len") > 256).count() > 0,
      "chunking should split at least one doc at this SF")
  }

  test("audio energy hash: planted near-identical streams caught, unrelated not") {
    import spark.implicits._
    // base: a varying-amplitude stream with real envelope structure;
    // near: a handful of samples perturbed (noise/re-encode stand-in);
    // far: inverted envelope
    val basePx = Array.tabulate(1300)(i =>
      (128 + ((i / 20) % 64) * (if ((i / 130) % 2 == 0) 1 else -1)).toByte)
    val nearPx = basePx.clone(); (0 until 6).foreach(i => nearPx(i * 199) = 128.toByte)
    val farPx = Array.tabulate(1300)(i => (128 + (63 - (i / 20) % 64)).toByte)
    def hash(px: Array[Byte]) = AudioHash.eHash(Wav.parse(Wav.write(px)))
    val hashes = Seq(
      (1L, hash(basePx)), (2L, hash(nearPx)), (3L, hash(basePx)),
      (4L, hash(farPx))).toDF("doc_id", "hash")
    val pairs = ImageHash.hammingNearDups(hashes, "doc_id", "hash")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) == 0,
      s"exact audio dup missed: $pairs")
    assert(pairs.contains((1L, 2L)),
      s"planted near-identical stream missed: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated stream paired: $pairs")
  }

  test("assignWith routes the training set exactly as training-time assignment") {
    val emb = graft.model.Tables.embeddings(spark, sf())
    val standing = emb.filter(col("vec_id") % 4 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // assigning the training vectors under the trained codebook must
    // reproduce KMeans.assign bit-for-bit (same centroids, same
    // distance, same tie-break)
    assert(rows(graft.ext.KMeans.assignWith(standing, standing)) ==
      rows(graft.ext.KMeans.assign(standing)))
    // appended vectors: every one gets a cell from the standing
    // codebook, distances are non-negative
    val app = graft.ext.KMeans.assignWith(
      emb.filter(col("vec_id") % 4 === 0), standing).collect()
    assert(app.nonEmpty)
    assert(app.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8 && r.getLong(2) >= 0))
  }

  test("bm25 matches a hand-computed reference and ranks full matches above partial ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query engine"),
      (2L, "spark spark spark runtime"),
      (3L, "query planner"),
      (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    val queries = Seq((1L, "spark query")).toDF("qid", "qtext")
    val got = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text", queries, topK = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // independent JVM replay of the formula
    val lens = Map(1L -> 3.0, 2L -> 4.0, 3L -> 2.0, 4L -> 4.0)
    val avgdl = lens.values.sum / 4
    def idf(df: Int): Double = math.log(1 + (4.0 - df + 0.5) / (df + 0.5))
    def w(tf: Long, df: Int, len: Double): Double =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avgdl))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = r6(w(1, 2, lens(1L)) + w(1, 2, lens(1L) /* query */))
    // doc 1: spark tf=1 df=2; query tf=1 df=2 — recompute properly:
    val exp = Map(
      1L -> (r6(w(1, 2, 3.0) + w(1, 2, 3.0)), 2L),
      2L -> (r6(w(3, 2, 4.0)), 1L),
      3L -> (r6(w(1, 2, 2.0)), 1L))
    assert(got.length == 3, got.mkString(","))
    assert(got.head._2 == 1L, s"full match must rank first: ${got.mkString(",")}")
    got.foreach { case (_, id, score, hits) =>
      assert((score, hits) == ((exp(id)._1, exp(id)._2)),
        s"doc $id: got ($score,$hits) expected ${exp(id)}")
    }
    assert(s1 == exp(1L)._1)
  }

  test("codebook drift flags a shifted tranche and stays quiet on in-distribution appends") {
    import spark.implicits._
    // standing: two tight clusters around +1 and -1 (first dim carries
    // the signal, slight per-vector jitter in dim 2 so means are
    // non-degenerate); k=2 learns one centroid per cluster
    def vec(base: Double, jitter: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(0) = base.toFloat; a(1) = jitter.toFloat; a
    }
    val standing = (0 until 40).map { i =>
      (i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0, (i % 5) / 100.0))
    }.toDF("vec_id", "embedding")
    // in-distribution append: same clusters, same jitter envelope
    val calm = (100 until 120).map { i =>
      (i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0, (i % 5) / 100.0))
    }.toDF("vec_id", "embedding")
    val calmDrift = graft.ext.KMeans.codebookDrift(standing, calm, k = 2, iters = 2)
      .collect().map(r => r.getInt(5)).toSeq
    assert(calmDrift.forall(_ == 0), s"in-distribution append flagged: $calmDrift")
    // shifted append: a third cluster far from both centroids — every
    // cell that receives it must flag for retraining
    val shifted = (200 until 220).map { i => (i.toLong, vec(8.0, 0.0)) }
      .toDF("vec_id", "embedding")
    val drift = graft.ext.KMeans.codebookDrift(standing, shifted, k = 2, iters = 2)
      .collect().map(r => (r.getLong(2), r.getInt(5)))
    assert(drift.exists { case (nNew, flag) => nNew > 0 && flag == 1 },
      s"shifted tranche not flagged: ${drift.mkString(",")}")
    assert(drift.forall { case (nNew, flag) => nNew > 0 || flag == 0 },
      "a cell with no appended vectors cannot demand retraining")
  }

  test("bpeTrainLocalFast is bit-identical to the rescanning bpeTrainLocal") {
    import spark.implicits._
    // bigram units exercise the overlap/re-pick paths harder than plain
    // words (repeated unit texts share long runs); 96 rounds crosses
    // many index-staleness events
    val docs = graft.model.Tables.documents(spark, sf())
    val bridge = org.apache.spark.sql.GraftColumnBridge
    val bigrams = bridge.column(graft.expr.WordShingles(
      bridge.expression(col("text").cast("string")), 2))
    val wf = docs.select(explode(bigrams).as("bg"))
      .select(regexp_replace(col("bg"), " ", "+").as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val (ms, vs) = TextAnalytics.bpeTrainLocal(wf, rounds = 96)
    val (mf, vf) = TextAnalytics.bpeTrainLocalFast(wf, rounds = 96)
    assert(mf == ms)
    assert(vf.sortBy(_._1) == vs.sortBy(_._1))
    // and the overlap semantics specifically: "a a a a" merges
    // alternately, the residual pair is re-picked next round
    val tiny = Seq(("aaaa", 1L)).toDF("word", "n")
    val (m2, v2) = TextAnalytics.bpeTrainLocalFast(tiny, rounds = 2)
    val (m2s, v2s) = TextAnalytics.bpeTrainLocal(tiny, rounds = 2)
    assert(m2 == m2s && v2.sortBy(_._1) == v2s.sortBy(_._1))
  }

  test("1024-merge BPE on trigram units: reconstruction, token accounting, real compression") {
    import spark.implicits._
    val docs = graft.model.Tables.documents(spark, sf())
    val bridge = org.apache.spark.sql.GraftColumnBridge
    val trigrams = bridge.column(graft.expr.WordShingles(
      bridge.expression(col("text").cast("string")), 3))
    val wf = docs.select(explode(trigrams).as("tg"))
      .select(regexp_replace(col("tg"), " ", "+").as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val (merges, vocab) = TextAnalytics.bpeTrainLocalFast(wf, rounds = 1024)
    assert(merges.size == 1024)
    // every final repr reconstructs its unit exactly (merges only ever
    // fuse adjacent symbols — nothing is lost or invented)
    assert(vocab.forall { case (w, _, rep) =>
      rep.replace(" ", "").replace("_", "") == w })
    // the trajectory's final corpus token count equals the vocab-join
    // accounting the declared query uses (Σ n · n_sub)
    val viaVocab = vocab.map { case (_, n, rep) =>
      n * (rep.count(_ == ' ') + 1L) }.sum
    assert(merges.last._4 == viaVocab)
    // 1024 merges must actually compress: well below one token per
    // char, but not yet fully collapsed (exhaustion headroom is real)
    val chars = vocab.map { case (w, n, _) => n * w.length }.sum
    assert(viaVocab * 2 < chars, s"no real compression: $viaVocab vs $chars chars")
    val collapsed = vocab.count { case (_, _, rep) => !rep.contains(" ") }
    assert(collapsed * 10 < vocab.size,
      s"$collapsed of ${vocab.size} units fully collapsed — too close to exhaustion")
  }

  test("video sequence near-dup: edits, trims, stills, and unrelated footage behave") {
    import spark.implicits._
    // 64-char frames built from distinct repeated words so frame
    // hashes differ between frames; the doc text is ASCII like the
    // corpus. A=4 frames; B=A with the LAST frame replaced (shares 2
    // of 3 shingles -> pair); C=unrelated (no pair); D=exact copy of A
    // (all shingles); E=single frame (no shingles, never pairs);
    // F=A trimmed to its first 3 frames (containment: both its
    // shingles are A's -> pair despite different lengths)
    def frame(w: String): String =
      (w * 32).substring(0, 63) + "." // 64 chars incl. a terminator
    val fA = Seq("alpha ", "bravo ", "carol ", "delta ").map(frame)
    val a = fA.mkString
    val b = fA.take(3).mkString + frame("zulu! ")
    val c = Seq("echo! ", "fanta ", "gamma ", "hotel ").map(frame).mkString
    val d = a
    val e = frame("india ")
    val f = fA.take(3).mkString
    val docs = Seq(0L -> a, 1L -> b, 2L -> c, 3L -> d, 4L -> e, 5L -> f)
      .toDF("doc_id", "text")
    val frames = VideoHash.frameHashes(docs, "doc_id", "text")
    assert(frames.filter(col("doc_id") === 0L).count() == 4)
    assert(frames.filter(col("doc_id") === 4L).count() == 1)
    val pairs = VideoHash.sequenceNearDups(frames)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L))._1 == 2L,
      s"edited copy must share 2 of 3 shingles: $pairs")
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) == ((3L, 3L, 3L)))
    assert(pairs.contains((0L, 5L)) && pairs((0L, 5L))._1 == 2L,
      "trimmed prefix copy must pair by containment")
    assert(!pairs.keys.exists { case (x, y) => x == 2L || y == 2L },
      s"unrelated footage must not pair: $pairs")
    assert(!pairs.keys.exists { case (x, y) => x == 4L || y == 4L },
      "single-frame still has no shingles and cannot pair")
    // the hot-shingle cap drops corpus-wide runs: with maxBucket=1
    // every shared shingle bucket (>=2 videos) is dropped, so no pairs
    // survive and the drop report names the buckets
    assert(VideoHash.sequenceNearDups(frames, maxBucket = 1).count() == 0)
    assert(VideoHash.droppedShingleBuckets(frames, maxBucket = 1).count() > 0)
  }

  test("calibration bins partition the x93 scores; keep tracks the sign boundary") {
    val out = graft.queries.ExtQueries.queries("x102_score_calibration")(
      spark, sf()).collect()
    assert(out.nonEmpty && out.length <= 10)
    val total = out.map(_.getLong(1)).sum
    val corpus = graft.model.Tables.documents(spark, sf()).count()
    assert(total == corpus, s"bins must partition the corpus: $total vs $corpus")
    out.foreach { r =>
      val (bin, n, nKeep, minS, maxS) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6))
      assert(bin >= 0 && bin <= 9)
      if (minS > 0) assert(nKeep == n, s"bin $bin above 0 must keep all")
      if (maxS <= 0) assert(nKeep == 0L, s"bin $bin at/below 0 must keep none")
    }
  }

  test("hard negatives are near but strictly cross-class") {
    val emb = graft.model.Tables.embeddings(spark, sf())
    val qLabels = emb.filter(col("vec_id") < 5)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = graft.queries.ExtQueries.queries("x103_hard_negatives")(
      spark, sf()).collect()
    assert(out.length == qLabels.size * 5)
    out.foreach { r =>
      val (qid, cid, neg) = (r.getLong(0), r.getLong(2), r.getInt(4))
      assert(neg != qLabels(qid), s"negative $cid shares class with query $qid")
    }
    // ranks are 1..5 per query and similarities non-increasing
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("boilerplate removal strips EVERY occurrence above the df threshold, keeps the rest") {
    import spark.implicits._
    // width=4 segments; "nav bar cookie banner" planted in docs 0,1,2
    // (df=3 → boilerplate, removed everywhere incl. the first
    // occurrence — the semantic x56 chunk-dedup does NOT have); "rare
    // shared footer here" in docs 3,4 only (df=2 < 3 → kept); doc 5 is
    // ALL boilerplate and must survive as an empty row, not vanish
    val d = Seq(
      (0L, "nav bar cookie banner unique words zero zero"),
      (1L, "nav bar cookie banner other content one one"),
      (2L, "nav bar cookie banner more body text two"),
      (3L, "rare shared footer here alpha beta gamma delta"),
      (4L, "rare shared footer here epsilon zeta eta theta"),
      (5L, "nav bar cookie banner")
    ).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(d, "doc_id", "text",
      width = 4, minDocs = 3).orderBy("doc_id").collect()
    assert(out.length == 6)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byId(0L) == ((2L, 1L, "unique words zero zero")))
    assert(byId(1L) == ((2L, 1L, "other content one one")))
    assert(byId(2L) == ((2L, 1L, "more body text two")))
    // df=2 segment survives intact
    assert(byId(3L)._2 == 0L && byId(3L)._3.startsWith("rare shared footer here"))
    assert(byId(4L)._2 == 0L)
    // fully-boilerplate doc: present, empty
    assert(byId(5L) == ((1L, 1L, "")))
  }

  test("DSIR importance weights separate target-like from raw-only documents") {
    import spark.implicits._
    // target split = docs marked is_t; their vocabulary is {aa, bb},
    // the raw-only noise vocabulary is {zz, yy}. Target-vocab docs
    // must score logw > 0 (selected), pure-noise docs < 0 — including
    // an UNLABELED doc whose text is target-like (the generalization
    // DSIR exists for: the estimate transfers off the exemplar split)
    val d = Seq(
      (0L, "aa bb aa bb aa", true),
      (1L, "bb aa bb aa bb", true),
      (2L, "zz yy zz yy zz yy", false),
      (3L, "yy zz yy zz", false),
      (4L, "aa aa bb bb", false), // target-like but unlabeled
      (5L, "zz zz yy yy", false)
    ).toDF("doc_id", "text", "is_t")
    // buckets must be small relative to the token mass: add-one
    // smoothing over B buckets pulls every λ toward ln((Tr+B)/(Tt+B)),
    // which at B >> Tt is uniformly negative — the planted corpus has
    // ~10 target tokens, so B=8 keeps the signal above the smoothing
    val out = Dsir.importanceWeights(d, "doc_id", "text", col("is_t"),
      buckets = 8).orderBy("doc_id").collect()
    assert(out.length == 6)
    val sel = out.map(r => r.getLong(0) -> r.getInt(3)).toMap
    val logw = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(0L, 1L, 4L).forall(sel(_) == 1),
      s"target-vocab docs must be selected: $logw")
    assert(Seq(2L, 3L, 5L).forall(sel(_) == 0),
      s"noise-vocab docs must not be selected: $logw")
    // weights are per-token comparable: doc 4's positive weight comes
    // from the same λ table the exemplars used
    assert(logw(4L) > 0 && logw(2L) < 0)
  }

  test("a read pinned to a retired pq generation survives scheduled windows; only gc(keepRetired=0) reclaims it", graft.Slow) {
    // ADVICE r13 #5's accepted risk, pinned now that keepRetired = 1
    // is the scheduled default: a lock-free query that resolved
    // liveDir just before a re-release keeps reading the retired
    // generation. The scheduled window (maintainDue) preserves the
    // NEWEST retired generation indefinitely -- however many windows
    // run -- and the only action that can pull files out from under
    // the reader is the operator's explicit gc(keepRetired = 0).
    import graft.model.Tables
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 160)
    val emb = Tables.embeddings(spark, sf())
    val base0 = tempDir("gcrace")
    val stores = Curation.Stores(s"$base0/text", s"$base0/img",
      s"$base0/aud", s"$base0/vid", s"$base0/emb", s"$base0/led",
      pqIndex = s"$base0/pq")
    val embOf = emb.join(docs.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    Curation.commitTranche(docs, 0L, stores, embeddings = Some(embOf))
    Curation.trainServing(spark, stores)
    // the in-flight reader's one-time resolution (PQ's documented
    // consistent-read discipline: resolve once, reuse the path)
    val pinned = PQ.liveDir(spark, stores.pqIndex)
    val pinnedRows = spark.read.parquet(s"$pinned/codes").count()
    assert(pinnedRows > 0)
    // a re-release + repeated scheduled windows run UNDER the reader
    Curation.rereleaseServing(spark, stores)
    assert(PQ.liveDir(spark, stores.pqIndex) != pinned, "fixture: no flip")
    (1 to 3).foreach(_ => Curation.maintainDue(spark, stores))
    assert(spark.read.parquet(s"$pinned/codes").count() == pinnedRows,
      "a scheduled window pulled the kept generation from a reader")
    assert(spark.read.parquet(s"$pinned/params").count() == 1)
    // the default gc ALSO spares it when told to keep one
    Curation.gc(spark, stores, keepRetired = 1)
    assert(spark.read.parquet(s"$pinned/codes").count() == pinnedRows,
      "gc(keepRetired=1) reclaimed the kept generation")
    // only the operator's explicit full reclaim breaks the pin
    Curation.gc(spark, stores, keepRetired = 0)
    assert(!StoreSwap.fsOf(spark, pinned)
      .exists(new org.apache.hadoop.fs.Path(pinned)),
      "gc(keepRetired=0) left the retired generation standing")
    // and serving is untouched throughout
    assert(Curation.serveAnn(spark, stores,
      embOf.orderBy("vec_id").limit(2).select("vec_id", "embedding"),
      topK = 3).count() > 0)
  }

  test("the x117/x121/x124 fixtures build under owner-stamped, janitored roots") {
    import java.nio.file.Files
    // a root that carries no owner stamp is never swept by the janitor
    // and leaks one temp directory per run
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Seq("x117_phash_ledger", "x121_video_ledger", "x124_commit_sequence")
      .foreach(q => graft.queries.ExtQueries.queries(q)(spark, sf()).count())
    val prefixes = Seq("phashidx", "seqidx", "x124cur")
    val roots = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .toSeq.filter(f => f.isDirectory && prefixes.exists(f.getName.startsWith) &&
        Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
          .creationTime.toMillis >= started)
    def owner(r: java.io.File): Option[String] = {
      val f = new java.io.File(r, ".owner")
      if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
      else None
    }
    // another JVM building the same fixtures meanwhile stamps its own pid
    val unowned = roots.filter(owner(_).isEmpty)
    assert(unowned.isEmpty, s"fixture roots without an owner stamp: $unowned")
    val pid = ProcessHandle.current.pid.toString
    assert(prefixes.forall(p => roots.exists(r =>
      r.getName.startsWith(p) && owner(r).contains(pid))),
      s"premise: each fixture built a root stamped by this JVM: $roots")
  }
}
