package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.plans.AsOfJoinNative

/** Randomized cross-implementation properties: independently generated
  * inputs, two formulations, results must agree.
  */
class PropertySpec extends SparkSpec {

  test("property: native and composed as-of agree on random key/time data") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(42L)
    val gen = Gen.listOfN(400, for {
      k <- Gen.choose(0L, 20L)
      t <- Gen.choose(0L, 1000L)
    } yield (k, t))
    val leftRows = gen.pureApply(Gen.Parameters.default, seed)
    val rightRows = gen.pureApply(Gen.Parameters.default, seed.next)
    // unique-ify left rows so the comparison has no duplicate ambiguity
    val left = leftRows.zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("id", "k", "t")
    val right = rightRows.toDF("k", "rt")

    val native = AsOfJoinNative.asOf(left, right, "k", "t", "rt")
      .select("id", "matched")
    val composed = AsOf.asOfTime(left, right, "k", "t", "rt")
      .select("id", "matched")
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
    assert(native.count() == left.count())
  }

  test("property: forward as-of equals the min-aggregated theta join on random data") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(7L)
    val gen = Gen.listOfN(400, for {
      k <- Gen.choose(0L, 20L)
      t <- Gen.choose(0L, 1000L)
    } yield (k, t))
    val leftRows = gen.pureApply(Gen.Parameters.default, seed)
    val rightRows = gen.pureApply(Gen.Parameters.default, seed.next)
    val left = leftRows.zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("id", "k", "t")
    val right = rightRows.toDF("k", "rt")

    val native = AsOfJoinNative.asOf(left, right, "k", "t", "rt", direction = "forward")
      .select("id", "matched")
    val reference = left.as("l")
      .join(right.as("r"), col("l.k") === col("r.k") && col("rt") >= col("t"), "left")
      .groupBy(col("id")).agg(min("rt").as("matched"))
    assert(native.exceptAll(reference).isEmpty && reference.exceptAll(native).isEmpty)
    assert(native.count() == left.count())
  }

  test("property: native range join equals the bucketized join on random intervals") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(13L)
    val pGen = Gen.listOfN(500, Gen.choose(0.0, 500.0))
    val iGen = Gen.listOfN(60, for {
      lo <- Gen.choose(0.0, 480.0)
      len <- Gen.choose(0.0, 60.0)
    } yield (lo, lo + len))
    val pts = pGen.pureApply(Gen.Parameters.default, seed)
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("pid", "p")
      .repartition(7) // exercise the per-partition sweep across many partitions
    val ivs = iGen.pureApply(Gen.Parameters.default, seed.next)
      .zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      .toDF("iid", "lo", "hi")
    val native = graft.plans.RangeJoinNative.pointsInIntervals(pts, ivs, "p", "lo", "hi")
      .select("pid", "iid")
    val bucketized = RangeJoin.pointsInIntervals(spark, pts, ivs, "p", "lo", "hi",
      bucketWidth = 25.0).select("pid", "iid")
    assert(native.exceptAll(bucketized).isEmpty && bucketized.exceptAll(native).isEmpty)
  }

  test("property: minhash signature agreement rate tracks true jaccard") {
    import spark.implicits._
    // three corpora of known overlap: identical, ~half, disjoint
    val base = (0 until 200).map(i => s"tok$i")
    val half = (0 until 100).map(i => s"tok$i") ++ (0 until 100).map(i => s"alt$i")
    val disjoint = (0 until 200).map(i => s"other$i")
    val df = Seq(
      (0L, base.mkString(" ")), (1L, base.mkString(" ")),
      (2L, half.mkString(" ")), (3L, disjoint.mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = df
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("s"))
      .select(col("doc_id"), Hashing.h32(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(udaf(new MinHashAggregator(64), org.apache.spark.sql.Encoders.scalaLong)(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 64.0
    assert(agree(0L, 1L) == 1.0)                   // identical -> all slots agree
    val est = agree(0L, 2L)                         // true jaccard ~ 100/300 = 0.33
    assert(est > 0.15 && est < 0.55, s"est=$est")
    assert(agree(0L, 3L) < 0.15)                    // disjoint -> near zero
  }

  test("property: incremental LSH == monolithic slice on random tranche splits", graft.Slow) {
    import spark.implicits._
    // random corpus with planted structure: words drawn from a tiny
    // alphabet so near-dups arise by chance, plus exact-dup injections;
    // three different tranche splits of the SAME corpus must each
    // satisfy standing ∪ incremental == monolithic
    val seed = org.scalacheck.rng.Seed(23L)
    val docGen = Gen.listOfN(120, Gen.listOfN(12, Gen.choose(0, 7).map(i => s"w$i"))
      .map(_.mkString(" ")))
    val texts0 = docGen.pureApply(Gen.Parameters.default, seed)
    // inject exact duplicates (every 10th doc repeats the previous text)
    val texts = texts0.zipWithIndex.map { case (t, i) =>
      if (i % 10 == 9) texts0(i - 1) else t }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").localCheckpoint()
    val monolithic = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (m <- Seq(2L, 3L, 5L)) {
      val standing = docs.filter(col("doc_id") % m =!= 0)
      val incoming = docs.filter(col("doc_id") % m === 0)
      val incr = Dedup.incrementalNearDupPairs(standing, incoming, "doc_id", "text")
        .select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val standingOnly = Dedup.minhashLshPairs(standing, "doc_id", "text")
        .select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert((standingOnly ++ incr) == monolithic, s"split % $m diverged")
      assert(standingOnly.intersect(incr).isEmpty, s"split % $m overlapped")
    }
  }

  test("property: token offsets telescope over random lengths and partition counts") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(11L)
    val lens = Gen.listOfN(500, Gen.choose(0L, 400L))
      .pureApply(Gen.Parameters.default, seed)
    val d = lens.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("doc_id", "n")
    for (parts <- Seq(1, 5, 32)) {
      val got = Packing.tokenOffsets(d.repartition(parts), "doc_id", "n", 64L)
        .orderBy("doc_id").select("doc_id", "n", "token_offset").collect()
      var cum = 0L
      got.foreach { r =>
        assert(r.getLong(2) == cum, s"parts=$parts doc=${r.getLong(0)}")
        cum += r.getLong(1)
      }
      assert(cum == lens.sum)
    }
  }

  test("property: priority sample is nested in k and respects zero weights") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(13L)
    val ws = Gen.listOfN(300, Gen.choose(0L, 9L))
      .pureApply(Gen.Parameters.default, seed)
    val d = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    val positives = ws.count(_ > 0)
    def sel(k: Int) = Sampling.priorityWeighted(d, col("id"), col("w"), k)
      .select("id").collect().map(_.getLong(0)).toSet
    val s50 = sel(50)
    val s100 = sel(100)
    assert(s50.subsetOf(s100))                      // top-k nests
    assert(s50.size == 50 && s100.size == 100)
    assert(sel(1000).size == positives)             // zero weights never selected
  }

  test("property: chunking with stride == window reconstructs the document exactly") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(17L)
    val texts = Gen.listOfN(60, Gen.choose(1, 90).map(n =>
      (0 until n).map(i => s"t$i").mkString(" ")))
      .pureApply(Gen.Parameters.default, seed)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rebuilt = TextAnalytics.chunk(d, "doc_id", "text", window = 16, stride = 16)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        s => s.getField("chunk_text")), " ").as("re"))
    // array_sort on struct(chunk_idx, text) orders by chunk_idx first
    val joined = d.join(rebuilt, "doc_id")
      .filter(col("text") =!= col("re")).count()
    assert(joined == 0L)
  }

  test("property: split assignment is total, exclusive, and near the target fractions") {
    import spark.implicits._
    val d = (0L until 20000L).toDF("id")
    val s = Sampling.assignSplits(d, col("id"),
      Seq("train" -> 8000, "valid" -> 9000, "test" -> 10000), ":p")
    val counts = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 20000L)             // total & exclusive
    assert(math.abs(counts("train") - 16000L) < 400, s"train=${counts("train")}")
    assert(math.abs(counts("valid") - 2000L) < 200, s"valid=${counts("valid")}")
    assert(math.abs(counts("test") - 2000L) < 200, s"test=${counts("test")}")
  }

  test("property: native url_canonical is byte-identical to the regex chain") {
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(23L)
    // Adversarial URL-ish strings: every token the six regexes key on,
    // plus terminators / unicode / uppercase schemes / degenerate runs.
    val piece = Gen.oneOf(
      "http://", "HTTPS://", "ftp+x-1.://", "://", "example.org", "EX.org",
      "ÜBER.example", "/path/p", "?", "&", "#", "=", "=v", "utm_", "utm_source",
      "utm_=", "utm_x-y", "expire", "ref", "refx", "fbclid", "q", "1", "a=b",
      "&&", "??", "?&", "#frag", "\n", "\r", "\r\n", "\u0085", "\u2028",
      "é", ":", "+", ".", "-", "_", " ", "%20", "", "utm_a=1&utm_b=2")
    val gen = Gen.listOfN(800,
      Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece).map(_.mkString)))
    val strs = gen.pureApply(Gen.Parameters.default, seed) ++ Seq(
      "", "#", "?", "&", "?&", "?utm_a=1", "x?utm_a=1&utm_b=2",
      "HTTP://H.org/P?expire=1#f", "a#b\nc?utm_x=1&q=2",
      "https://h.org/p?q=2&\n", "?&\r\n", "s://h?ref=1&refx=2")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "u")
    val diff = df.select(col("id"), col("u"),
        UrlCanon.canonicalize(col("u")).as("native"),
        UrlCanon.canonicalizeRegex(col("u")).as("regex"))
      .filter(col("native") =!= col("regex") ||
        col("native").isNull =!= col("regex").isNull)
      .collect()
    assert(diff.isEmpty, diff.take(5).map(r =>
      s"in=${r.getString(1)} native=${r.getString(2)} regex=${r.getString(3)}")
      .mkString("; "))
  }

  test("property: unigram-LM model is self-consistent on random word tables") {
    // Three invariants recomputable from the trained model alone, on
    // randomized inputs the DuckDB oracle's single configuration never
    // sees: (1) every cost is exactly neglog2fp(cnt+1, Σ(cnt+1)) of the
    // model's OWN counts — the M-step replayed from the output; (2)
    // segmentation under the final costs is lossless for every input
    // word; (3) Viterbi beats or ties the all-singles segmentation —
    // optimality against the one decomposition that always exists.
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(31L)
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val gen = Gen.listOfN(40, for {
      w <- wordGen
      f <- Gen.choose(1L, 20L)
    } yield (w, f))
    for (s <- Seq(seed, seed.next, seed.next.next)) {
      val rows = gen.pureApply(Gen.Parameters.default, s)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val wf = rows.toDF("word", "n")
      val m = UnigramLm.trainModel(wf, multiK = 8, rounds = 2)
      val total = m.pieces.map(_._2 + 1).sum
      m.pieces.foreach { case (p, cnt, cost) =>
        assert(cost == UnigramLm.neglog2fp(cnt + 1, total),
          s"cost drifted from the model's own counts: $p $cnt $cost")
      }
      rows.map(_._1).foreach { w =>
        val segs = UnigramLm.segment(w, m.cost, 4)
        assert(segs.mkString == w, s"lossy: $w -> ${segs.mkString("|")}")
        val vitCost = segs.map(m.cost).sum
        val singleCost = w.map(c => m.cost(c.toString)).sum
        assert(vitCost <= singleCost,
          s"Viterbi worse than all-singles on $w: $vitCost > $singleCost")
      }
    }
  }

  test("property: content-collapsed ledgerProbe equals the doc-level first-seen replay") {
    // The r10 collapse (verdicts judged per DISTINCT content via a
    // min-id first-occurrence frame) against the naive formulation it
    // replaced: doc-level pairs over the union corpus, loser = the
    // later arrival. Random corpora from a tiny vocabulary so exact
    // duplicates, near duplicates, below-shingle-floor docs and
    // within-tranche-only contents all occur organically.
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(99L)
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = for {
      n <- Gen.choose(0, 8) // 0/1-token docs sit below the shingle floor
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val gen = Gen.listOfN(120, docGen)
    val standingTexts = gen.pureApply(Gen.Parameters.default, seed)
    val trancheTexts = gen.pureApply(Gen.Parameters.default, seed.next)
    val standing = standingTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val tranche = trancheTexts.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
    val got = Dedup.ledgerProbe(
        Dedup.nearDupIndex(standing, "doc_id", "text"),
        tranche, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // replay: arrival order = standing before tranche, ids within
    val union = standing.unionByName(tranche)
    def ord(id: Long): Long = if (id < 1000L) id else 10000000L + id
    val members = Dedup.contentMembers(union, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exactLosers = members.toSeq.groupBy(_._2).values.flatMap { g =>
      val first = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == first)
    }.toSet
    val pairs = Dedup.minhashLshPairs(union, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nearLosers = pairs.map { case (a, b) =>
      if (ord(a) > ord(b)) a else b }.toSet -- exactLosers
    val expected = trancheTexts.indices.map { i =>
      val id = 1000L + i
      id -> (if (exactLosers(id)) "exact_dup"
             else if (nearLosers(id)) "near_dup"
             else "kept")
    }.toMap
    assert(got == expected)
    // the generated corpus genuinely exercises all three branches
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(got.values.toSet))
  }

  test("property: hash-layer ledgerProbe equals an independent first-seen replay") {
    // ImageHash.ledgerProbe vs a driver replay that shares NO library
    // code: all-pairs Hamming over the union, loser = later arrival.
    // The banded pigeonhole is exact for maxDist < bands, so equality
    // is exact, not probabilistic. Hashes are ≤14-bit flips of four
    // far-apart base patterns: same-base pairs straddle the ≤6
    // threshold organically (either side of it), and the replay does
    // not assume anything about cross-base pairs — it measures them.
    import spark.implicits._
    val seed = org.scalacheck.rng.Seed(21L)
    val bases = Seq(0L, -1L, 0x00FF00FF00FF00FFL, 0xF0F0F0F0F0F0F0F0L)
    val hashGen = for {
      b <- Gen.oneOf(bases)
      // bimodal flip counts: the small mode yields exact collisions
      // (0 flips) and tight near pairs; the large mode yields hashes
      // whose nearest neighbor often sits beyond the ≤6 threshold
      nf <- Gen.oneOf(0, 1, 2, 10, 12, 14)
      flips <- Gen.listOfN(nf, Gen.choose(0, 63))
    } yield flips.foldLeft(b)((h, i) => h ^ (1L << i))
    val gen = Gen.listOfN(60, hashGen)
    // three sentinels guarantee every branch is live regardless of the
    // random draw: an exact copy of a planted standing hash, a 1-bit
    // neighbor of it, and a hash ≥18 bits from every possible random
    // hash (bases are ≥32 apart, flips ≤14)
    val planted = 0x123456789ABCDEF0L
    val farAway = 0x5A5A5A5A5A5A5A5AL
    val standingH = gen.pureApply(Gen.Parameters.default, seed) :+ planted
    val trancheH = gen.pureApply(Gen.Parameters.default, seed.next) ++
      Seq(planted, planted ^ 1L, farAway)
    val standing = standingH.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "hash")
    val tranche = trancheH.zipWithIndex
      .map { case (h, i) => (1000L + i, h) }.toDF("doc_id", "hash")
    val got = ImageHash.ledgerProbe(standing, tranche, "doc_id", "hash")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val all = standingH.zipWithIndex.map { case (h, i) => (i.toLong, h) } ++
      trancheH.zipWithIndex.map { case (h, i) => (1000L + i, h) }
    def ord(id: Long): Long = if (id < 1000L) id else 10000000L + id
    val exactLosers = all.groupBy(_._2).values.flatMap { g =>
      val first = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == first)
    }.toSet
    val nearLosers = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 6 && ha != hb
    } yield if (ord(ia) > ord(ib)) ia else ib).toSet -- exactLosers
    val expected = trancheH.indices.map { i =>
      val id = 1000L + i
      id -> (if (exactLosers(id)) "exact_dup"
             else if (nearLosers(id)) "near_dup"
             else "kept")
    }.toMap
    assert(got == expected)
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(got.values.toSet))
  }

  // the first-seen replay shared by the indexed-path properties below:
  // `standing` docs arrive before `tranche` docs, ids ascending within
  // each; exact losers are every later copy of a key, near losers the
  // later side of a near pair that is not an exact loser
  private def firstSeenReplay(standingIds: Seq[Long], tranche: Seq[Long],
                              key: Long => Any,
                              near: (Long, Long) => Boolean): Map[Long, String] = {
    val all = standingIds ++ tranche
    val arrival = all.zipWithIndex.toMap
    val exactLosers = all.groupBy(key).values.flatMap { g =>
      val first = g.minBy(arrival); g.filterNot(_ == first)
    }.toSet
    val nearLosers = (for {
      a <- all; b <- all
      if arrival(a) < arrival(b) && key(a) != key(b) && near(a, b)
    } yield b).toSet -- exactLosers
    tranche.map(id => id -> (if (exactLosers(id)) "exact_dup"
      else if (nearLosers(id)) "near_dup" else "kept")).toMap
  }

  test("property: the indexed text and hash probes equal the first-seen replay, a failed attempt's rows excluded") {
    // Dedup.probeView + ledgerProbeFrom and ImageHash.ledgerProbeIndexed
    // — the commit's store-backed paths through the shared verdict core
    // — against a replay over the union corpus. The store already holds
    // the tranche (a failed first attempt's append); the probes exclude
    // the tranche's ids, so the verdicts must equal the replay that
    // never saw those rows. In-tranche copies (of a tranche doc and of
    // a standing doc) are planted on top of the organic duplicates.
    import spark.implicits._
    import java.nio.file.Files
    val root = tempDir("fsidx")
    val seed = org.scalacheck.rng.Seed(77L)
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = for {
      n <- Gen.choose(0, 8)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val standingT = Gen.listOfN(100, docGen).pureApply(Gen.Parameters.default, seed)
    val trancheT0 = Gen.listOfN(100, docGen).pureApply(Gen.Parameters.default, seed.next)
    val trancheT = trancheT0 ++ Seq(trancheT0(7), standingT(11), "aa bb cc dd ee ff aa bb")
    val standing = standingT.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val tranche = trancheT.zipWithIndex.map { case (t, i) => (1000L + i, t) }
      .toDF("doc_id", "text")
    val ids = tranche.select("doc_id")
    val textDir = s"$root/text"
    Dedup.writeNearDupIndex(standing, "doc_id", "text", textDir)
    Dedup.writeNearDupIndex(tranche, "doc_id", "text", textDir)
    val idxN = Dedup.nearDupIndex(tranche, "doc_id", "text")
    val gotText = Dedup.ledgerProbeFrom(
        Dedup.probeView(spark, textDir, idxN, Some(ids)), idxN, tranche, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val union = standing.unionByName(tranche)
    val content = Dedup.contentMembers(union, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.minhashLshPairs(union, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).select("a_id", "b_id")
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    // docs below the shingle floor have no content and are kept
    val textIds = trancheT.indices.map(1000L + _)
    val expText = firstSeenReplay(standingT.indices.map(_.toLong), textIds,
      id => content.getOrElse(id, s"none-$id"), (a, b) => pairs(Set(a, b)))
    assert(gotText == expText)
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(gotText.values.toSet))

    // hash layer: ≤14-bit flips of four far-apart bases (the hash-layer
    // property's generator), plus copies of a tranche hash and of a
    // standing hash
    val bases = Seq(0L, -1L, 0x00FF00FF00FF00FFL, 0xF0F0F0F0F0F0F0F0L)
    val hashGen = for {
      b <- Gen.oneOf(bases)
      nf <- Gen.oneOf(0, 1, 2, 10, 12, 14)
      flips <- Gen.listOfN(nf, Gen.choose(0, 63))
    } yield flips.foldLeft(b)((h, i) => h ^ (1L << i))
    val standingH = Gen.listOfN(60, hashGen).pureApply(Gen.Parameters.default, seed.next.next)
    val trancheH0 = Gen.listOfN(60, hashGen).pureApply(Gen.Parameters.default,
      seed.next.next.next)
    val trancheH = trancheH0 ++ Seq(trancheH0(3), standingH(4), standingH(5) ^ 1L)
    val hStanding = standingH.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "hash")
    val hTranche = trancheH.zipWithIndex.map { case (h, i) => (1000L + i, h) }
      .toDF("doc_id", "hash")
    val hashDir = s"$root/img"
    ImageHash.appendHashIndex(hStanding, "doc_id", "hash", hashDir)
    ImageHash.appendHashIndex(hTranche, "doc_id", "hash", hashDir)
    val gotHash = ImageHash.ledgerProbeIndexed(spark, hashDir, hTranche,
        "doc_id", "hash", exclude = Some(hTranche.select("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hashOf = (standingH.zipWithIndex.map { case (h, i) => i.toLong -> h } ++
      trancheH.zipWithIndex.map { case (h, i) => (1000L + i) -> h }).toMap
    val expHash = firstSeenReplay(standingH.indices.map(_.toLong),
      trancheH.indices.map(1000L + _), hashOf,
      (a, b) => java.lang.Long.bitCount(hashOf(a) ^ hashOf(b)) <= 6)
    assert(gotHash == expHash)
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(gotHash.values.toSet))
  }

  test("property: the IVF vector probe equals an independent first-seen replay, a failed attempt's rows excluded") {
    // IvfIndex.ledgerProbe through the shared verdict core against a
    // replay in plain doubles. Every cell is probed (probes = k), so a
    // standing partner anywhere counts; tranche partners count within
    // the assigned cell, which the replay reads off the store (the
    // failed attempt's append routed every tranche vector there).
    // Vectors are small perturbations of four directions, so cosines
    // straddle the threshold organically; exact copies of a standing and
    // of a tranche vector are planted.
    import spark.implicits._
    import java.nio.file.Files
    val dir = tempDir("fsivf")
    val seed = org.scalacheck.rng.Seed(55L)
    val dim = 6
    val bases = Seq(Seq(1f, 0f, 0f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f, 0f, 0f),
      Seq(0.6f, 0.8f, 0f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 1f, 0f, 0f))
    val vecGen = for {
      b <- Gen.oneOf(bases)
      bare <- Gen.oneOf(true, false, false, false)
      noise <- Gen.listOfN(dim, Gen.choose(-0.3f, 0.3f))
    } yield if (bare) b else b.zip(noise).map { case (x, n) => x + n }
    val standingV = Gen.listOfN(50, vecGen).pureApply(Gen.Parameters.default, seed)
    val trancheV0 = Gen.listOfN(50, vecGen).pureApply(Gen.Parameters.default, seed.next)
    val trancheV = trancheV0 ++ Seq(trancheV0(2), standingV(9))
    val standing = standingV.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val tranche = trancheV.zipWithIndex.map { case (v, i) => (1000L + i, v) }
      .toDF("vec_id", "embedding")
    val k = 2
    IvfIndex.write(standing, dir, k = k, iters = 2)
    IvfIndex.append(tranche, dir)
    val got = IvfIndex.ledgerProbe(spark, dir, tranche, "vec_id", "embedding",
        threshold = 0.9, probes = k, exclude = Some(tranche.select("vec_id")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cellOf = spark.read.parquet(s"$dir/vectors").filter(col("vec_id") >= 1000L)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    val vecOf = (standingV.zipWithIndex.map { case (v, i) => i.toLong -> v } ++
      trancheV.zipWithIndex.map { case (v, i) => (1000L + i) -> v })
      .toMap.map { case (id, v) => id -> v.map(_.toDouble) }
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def unit(a: Seq[Double]) = { val n = math.sqrt(dot(a, a)); a.map(_ / n) }
    def cos(a: Long, b: Long) = BigDecimal(dot(unit(vecOf(a)), unit(vecOf(b))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = firstSeenReplay(standingV.indices.map(_.toLong),
      trancheV.indices.map(1000L + _), vecOf,
      (a, b) => cos(a, b) >= 0.9 && (a < 1000L || cellOf(a) == cellOf(b)))
    assert(got == exp)
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(got.values.toSet))
  }

  test("property: the disk curation loop equals the first-seen replay under random tranching", graft.Slow) {
    // Curation.commitTranche end-to-end (disk standing index, ledger
    // appends, index appends between commits) on a random corpus split
    // into three tranches by a RANDOM assignment — the streaming test
    // proves one fixed arrival order; this pins the invariant over an
    // arbitrary one. Tiny vocabulary so exact duplicates, near
    // duplicates and below-shingle-floor docs occur organically both
    // within and across tranches.
    import spark.implicits._
    import java.nio.file.Files
    val seed = org.scalacheck.rng.Seed(1234L)
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = for {
      n <- Gen.choose(0, 8)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val texts = Gen.listOfN(150, docGen)
      .pureApply(Gen.Parameters.default, seed)
    val assign = Gen.listOfN(150, Gen.choose(0, 2))
      .pureApply(Gen.Parameters.default, seed.next)
    val root = tempDir("curprop")
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led")
    (0 to 2).foreach { tr =>
      val b = texts.zipWithIndex.collect {
        case (t, i) if assign(i) == tr => (i.toLong, t)
      }.toDF("doc_id", "text")
      Curation.commitTranche(b, tr.toLong, stores)
      ()
    }
    val got = Ledger.read(spark, stores.ledger).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // replay: arrival order = (assigned tranche, id within)
    def ord(id: Long): Long = assign(id.toInt).toLong * 10000000L + id
    val union = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val members = Dedup.contentMembers(union, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exactLosers = members.toSeq.groupBy(_._2).values.flatMap { g =>
      val first = g.map(_._1).minBy(ord); g.map(_._1).filterNot(_ == first)
    }.toSet
    val pairs = Dedup.minhashLshPairs(union, "doc_id", "text")
      .filter(col("jaccard") >= 0.6).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nearLosers = pairs.map { case (a, b) =>
      if (ord(a) > ord(b)) a else b }.toSet -- exactLosers
    val expected = texts.indices.map { i =>
      val id = i.toLong
      (id,
        if (exactLosers(id)) "exact_dup"
        else if (nearLosers(id)) "near_dup"
        else "kept",
        assign(i).toLong)
    }.toSet
    assert(got == expected)
    assert(got.map(_._2).toSeq.distinct.size == 3,
      "the random corpus should exercise all three verdicts")
    // cross-tranche duplication must actually occur for this to prove
    // the standing-store path, not just within-tranche collapse
    assert(exactLosers.exists(id => {
      val grp = members.toSeq.filter(_._2 == members(id)).map(_._1)
      grp.map(i => assign(i.toInt)).distinct.size > 1
    }), "no exact-dup group spans tranches — seed regression")
  }
}
