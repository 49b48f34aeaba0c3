package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import StoreLayout.StoreWrite

/** Deduplication operators for large text corpora — the training-data
  * pipeline extensions mandated by the north star (BASELINE.json), all
  * declarative DataFrame transforms so Catalyst plans them.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash-groupBy: one shuffle on a 128-bit content
  *    hash, map-side partial aggregation, no skew (hashes are uniform);
  *  - MinHash-LSH replaces the quadratic all-pairs comparison with an
  *    equi-join on band keys: candidates ∝ actual near-dups, and the
  *    band join shuffles on uniformly distributed keys;
  *  - SimHash gives a per-doc 64-bit sketch joinable on rotated prefixes;
  *  - verification (exact Jaccard) runs only on LSH candidates.
  */
object Dedup {

  // observation names must be unique per live query: concurrent
  // dedupClusters calls (the x112 kernels build in parallel) would
  // otherwise cross-match each other's 'changed' metrics through the
  // shared listener bus and corrupt convergence decisions
  private val ccSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Whitespace tokens; mirrors DuckDB `string_split(c, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  /** Distinct k-word shingles of a token array (lambda composition —
    * kept as the reference implementation; [[shinglesOf]] is the
    * codegen'd fast path used by the operators).
    */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(toks) - lit(k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Distinct k-word shingles straight from the text column via the
    * codegen'd [[graft.expr.WordShingles]] expression (single pass, no
    * interpreted lambdas).
    */
  def shinglesOf(text: Column, k: Int): Column =
    array_distinct(org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.WordShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(text.cast("string")), k)))

  /** 16-element MinHash signature over a 32-bit shingle-hash array,
    * universal-hash family ((2j+1)·x + 7919j) mod 4294967311 (prime >
    * 2^32) for j = 0..15 — coefficients stay below 64-bit overflow.
    */
  def minhashSignature(shingleHashes: Column): Column =
    transform(sequence(lit(0), lit(15)), j =>
      array_min(transform(shingleHashes, x =>
        ((lit(2) * j + 1) * x + lit(7919) * j) % lit(4294967311L))))

  /** LSH band keys: `bands` groups of `rows` consecutive signature slots
    * rendered `b:v1-v2-…`; docs sharing any key are candidates.
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat(b.cast("string"), lit(":"),
        array_join(transform(slice(sig, b * lit(rows) + 1, lit(rows)),
          v => v.cast("string")), "-")))

  /** Exact duplicate groups by full-content hash: one row per distinct
    * content, with the kept (minimum) id and the duplicate count.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Canonical-member selection for near-dup clusters: production dedup
    * keeps the BEST duplicate, not an arbitrary one — the min-id rule of
    * [[exactDupGroups]]/[[dedupClusters]] is the tie-break of last
    * resort, not the policy. Picks, per cluster, the member maximizing
    * `qualityCols` lexicographically (descending, id ascending as the
    * final tie-break) and carries the cluster size.
    *
    * One shuffle: the size count and the rank ride the same
    * cluster-partitioned window. Cluster sizes are near-dup group
    * multiplicities — bounded in practice; a pathological mega-cluster
    * concentrates one partition, but any per-cluster argmax must
    * co-locate the cluster somewhere.
    *
    * `clusters` is (doc_id, cluster_id) (as produced by
    * [[dedupClusters]]); `quality` is (doc_id, qualityCols…).
    */
  def clusterCanonical(clusters: DataFrame, quality: DataFrame,
                       qualityCols: Seq[String]): DataFrame = {
    require(qualityCols.nonEmpty, "clusterCanonical: need at least one quality column")
    val members = clusters.join(quality, "doc_id")
    val order = qualityCols.map(c => col(c).desc) :+ col("doc_id").asc
    val w = Window.partitionBy("cluster_id").orderBy(order: _*)
    members
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumnRenamed("doc_id", "keep_id")
  }

  /** Incremental first-occurrence-wins dedup over a growing corpus —
    * the batch formulation of streaming `dropDuplicatesWithinWatermark`:
    * rows arrive in (tranche, arrival) order; the first occurrence of
    * each content key survives, later ones are classified by WHERE
    * their first occurrence lives ('dup_cross': an earlier tranche —
    * the state-store hit a streaming dedup drops against carried
    * state; 'dup_within': the same tranche — the within-batch dedup a
    * new micro-batch performs on itself).
    *
    * Arrival order is encoded as ONE integer `tranche·base + arrival`
    * so the per-key first occurrence is `min(ord)` windowed over the
    * content key — ONE pass over the stream and ONE shuffle (a
    * groupBy + join-back would scan the input twice and, once the
    * distinct-content set outgrows a broadcast, shuffle it twice); the
    * first occurrence's tranche is recovered with an integer div.
    * Caller contract: `0 <= arrival < base` and `tranche·base +
    * arrival` fits a BIGINT (at base 1e8 that allows ~9.2e10 tranches —
    * unbounded for any real ingestion cadence).
    *
    * Appends (status, keep_ord) to the stream's columns; `keep_ord %
    * base` is the surviving row's arrival id.
    */
  def firstOccurrenceDedup(stream: DataFrame, key: Column,
                           tranche: Column, arrival: Column,
                           base: Long = 100000000L): DataFrame =
    stream
      .withColumn("__k", key)
      .withColumn("__ord", tranche.cast("long") * base + arrival.cast("long"))
      .withColumn("__first_ord",
        min(col("__ord")).over(Window.partitionBy("__k")))
      .withColumn("status",
        when(col("__ord") === col("__first_ord"), lit("kept"))
          .when(expr(s"__first_ord div ${base}L") < tranche.cast("long"),
            lit("dup_cross"))
          .otherwise(lit("dup_within")))
      .withColumn("keep_ord", col("__first_ord"))
      .drop("__k", "__ord", "__first_ord")

  /** Per-doc (id, extra…, shingle-set array + the signature columns),
    * computed the shuffle-friendly way: explode distinct shingles to
    * rows (so the md5 hash runs in whole-stage codegen, not inside an
    * interpreted array lambda), then ONE partial-aggregating groupBy
    * producing all `nSig` MinHash slots (`min` combines map-side) and
    * re-collecting the shingle set for later exact verification.
    */
  private def shingleSigs(df: DataFrame, idCol: String, textCol: String,
                          extraCols: Seq[String], k: Int, nSig: Int): DataFrame = {
    val sh = shinglesOf(col(textCol), k)
    val exploded = df.filter(size(sh) >= 1)
      .select((Seq(col(idCol).as("id")) ++ extraCols.map(col) :+
        explode(sh).as("s")): _*)
    // hash each shingle ONCE in the (codegen'd) projection; every MinHash
    // slot and the collected set reuse the value
    val hashed = exploded.select(
      (Seq(col("id")) ++ extraCols.map(col) :+ Hashing.h32(col("s")).as("h")): _*)
    val sigAggs = (0 until nSig).map { j =>
      min((lit(2L * j + 1) * col("h") + lit(7919L * j)) % lit(4294967311L)).as(s"sig_$j")
    }
    // the shingle set is kept as a SORTED DISTINCT hash array (collect_set:
    // h32 collisions between distinct shingles inside one doc would
    // otherwise leave duplicates that push the jaccard formula past 1.0);
    // exact verification then runs as an allocation-free primitive merge
    // (SortedLongIntersect) instead of per-pair string hash sets
    val aggs = sort_array(collect_set(col("h"))).as("sh") +: sigAggs
    hashed.groupBy((col("id") +: extraCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash+LSH near-duplicate candidates with exact-Jaccard
    * verification: (a_id, b_id, jaccard), totally ordered.
    *
    * Pipeline: explode shingles → codegen'd hash → partial-agg MinHash
    * signature → band-key explode → self-equi-join on band key (the
    * scalable step; both sides shuffle identically, so the exchange is
    * computed once and reused) → exact Jaccard on candidates → distinct.
    */
  // NOTE: deliberately NOT memoized here. A plan-keyed cache looks safe
  // but is not: two reads of the same parquet ROOT canonicalize equal
  // even after new files were appended, so a growing corpus (the
  // streaming foreachBatch shape — caught by StreamingSpec) would get
  // stale pairs. The declared queries memoize one level up, keyed by
  // the immutable (session, sfDir) corpus — the SynthLinks contract.
  //
  // Scale hardening (VERDICT r6 #1): the band self-join is O(|bucket|²)
  // per band bucket, and on a boilerplate-heavy corpus (millions of
  // near-identical template pages — the 100 TB case) one hot band key
  // explodes quadratically. Two guards:
  //  1. EXACT duplicates — the main bucket inflators, since identical
  //     text means identical signature means co-residency in EVERY
  //     band — are collapsed to one representative per distinct content
  //     BEFORE signatures; their pairs are reconstructed afterwards by
  //     content-group expansion (output-proportional work, never wasted
  //     join work). Output is IDENTICAL to the uncollapsed join: exact
  //     dups always collide (jaccard 1.0), and a member pair is a
  //     candidate iff its representatives' signatures collide.
  //  2. Remaining band buckets LARGER than `maxBucket` distinct
  //     contents are dropped from candidate generation (the df ≤ maxDf
  //     cap of [[rareShingleCandidates]], applied at the band layer);
  //     [[lshDroppedBandBuckets]] reports what a cap drops. The default
  //     cap never triggers at the tested SFs (bucket sizes are orders
  //     of magnitude below it), so declared results stay oracle-exact.

  /** (id, ch) for every doc with at least one k-shingle (shorter docs
    * never enter the minhash pipeline — same contract as the original
    * uncollapsed join); ch = md5(text), the content-group key.
    */
  private def chMembers(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val sh = shinglesOf(col(textCol), k)
    df.filter(size(sh) >= 1)
      .select(col(idCol).as("id"), md5(col(textCol)).as("ch"))
  }

  /** Signature pipeline keyed by CONTENT HASH instead of doc id: every
    * copy of a text explodes its shingles into the same ch group, and
    * both aggregates are duplicate-idempotent (`min` for the signature
    * slots, `collect_set` for the verification set), so the output is
    * one row per DISTINCT content with NO separate representative
    * selection and no full-text shuffle anywhere — only (ch, h32) rows
    * ride the exchange, partially collapsed map-side.
    */
  private def chSigs(df: DataFrame, idCol: String, textCol: String,
                     k: Int, nSig: Int): DataFrame =
    shingleSigs(
      df.select(md5(col(textCol)).as("__ch"), col(textCol).as("__text")),
      "__ch", "__text", Nil, k, nSig)
      .withColumnRenamed("id", "ch")

  /** The (id, ch) doc→content-hash membership frame — public so a
    * caller that owns an immutable corpus (the queries layer, Bench)
    * can persist it once and feed [[minhashLshPairsFrom]]; the pure
    * entry point [[minhashLshPairs]] derives it per call.
    */
  def contentMembers(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 2): DataFrame =
    chMembers(df, idCol, textCol, k)

  /** One row per DISTINCT content: (ch, sh, sig_0..sig_{nSig-1}) — the
    * sorted shingle-hash set plus the MinHash signature. Public for the
    * same persist-once reason as [[contentMembers]]: inside one
    * evaluation of [[minhashLshPairs]] this subtree is consumed five
    * times (band explode, bucket census, both verification joins) and
    * only the exchange is reused — the final aggregation re-runs per
    * consumer unless the caller materializes the frame.
    */
  def contentSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 2, nSig: Int = 16): DataFrame =
    chSigs(df, idCol, textCol, k, nSig)

  /** Capped band join + exact verification at the distinct-content
    * level: (a_ch, b_ch, jaccard), a_ch < b_ch.
    */
  private def chRepPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int, bands: Int, rows: Int,
                         maxBucket: Int): DataFrame =
    chRepPairsFrom(chSigs(df, idCol, textCol, k, bands * rows),
      bands, rows, maxBucket)

  private def chRepPairsFrom(sigs: DataFrame, bands: Int, rows: Int,
                             maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val bandKeys = (0 until bands).map { b =>
      concat(lit(s"$b:"), concat_ws("-",
        (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    // Candidate generation joins (ch, band-key) ONLY — the shingle sets
    // never ride the band shuffle (they dominate the row width; at corpus
    // scale that shuffle is the whole job). Pairs found in several bands
    // are deduped BEFORE verification, so exact Jaccard runs once per
    // candidate, not once per colliding band. The shingle sets are then
    // fetched by two ch-equi-joins; the explode→exchange(ch) feeding the
    // signature aggregation is an identical subtree in all three uses, so
    // Spark's ReuseExchange materializes it once.
    val banded = sigs.select(col("ch"), explode(array(bandKeys: _*)).as("bk"))
    // bucket cap (VERDICT r6 #1): the oversized-key set is tiny by
    // construction (only keys above the cap), so the exclusion is a
    // broadcast anti-join; the bucket census shuffles only partial
    // (bk, count) rows. [[lshDroppedBandBuckets]] reports what a cap
    // drops — callers surface it instead of silently losing coverage.
    val oversized = banded.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("bk")
    val capped = banded.join(broadcast(oversized), Seq("bk"), "left_anti")
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.bk") === col("b.bk") && col("a.ch") < col("b.ch"))
      .select(col("a.ch").as("a_ch"), col("b.ch").as("b_ch"))
      .distinct()
    val sets = sigs.select(col("ch"), col("sh"))
    pairs
      .join(sets.select(col("ch").as("a_ch"), col("sh").as("sa")), "a_ch")
      .join(sets.select(col("ch").as("b_ch"), col("sh").as("sb")), "b_ch")
      .select(col("a_ch"), col("b_ch"),
        jaccardHashed(col("sa"), col("sb")).as("jaccard"))
  }

  /** Near-dup candidate pairs at the DISTINCT-CONTENT level, labeled by
    * each content group's minimum doc id: (a_id, b_id, jaccard). This is
    * the frame whose volume stays linear on a boilerplate-heavy corpus
    * (a 10k-copy template page is ONE row here); [[minhashLshPairs]]
    * expands it back to member-level pairs for the declared
    * whole-corpus contract.
    */
  def minhashLshRepPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 2, bands: Int = 8, rows: Int = 2,
                         maxBucket: Int = 4096): DataFrame = {
    val repId = chMembers(df, idCol, textCol, k)
      .groupBy("ch").agg(min("id").as("rid"))
    chRepPairs(df, idCol, textCol, k, bands, rows, maxBucket)
      .join(repId.select(col("ch").as("a_ch"), col("rid").as("ra")), "a_ch")
      .join(repId.select(col("ch").as("b_ch"), col("rid").as("rb")), "b_ch")
      .select(least(col("ra"), col("rb")).as("a_id"),
        greatest(col("ra"), col("rb")).as("b_id"), col("jaccard"))
  }

  /** The band buckets a given cap would drop — (bk, n_contents) over
    * DISTINCT contents — so a pipeline can report dropped candidate
    * volume instead of silently truncating coverage.
    */
  def lshDroppedBandBuckets(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 2, bands: Int = 8, rows: Int = 2,
                            maxBucket: Int = 4096): DataFrame = {
    val sigs = chSigs(df, idCol, textCol, k, bands * rows)
    val bandKeys = (0 until bands).map { b =>
      concat(lit(s"$b:"), concat_ws("-",
        (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    sigs.select(col("ch"), explode(array(bandKeys: _*)).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("n_contents"))
      .filter(col("n_contents") > maxBucket)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 2, bands: Int = 8, rows: Int = 2,
                      maxBucket: Int = 4096): DataFrame =
    minhashLshPairsFrom(chMembers(df, idCol, textCol, k),
      chSigs(df, idCol, textCol, k, bands * rows), bands, rows, maxBucket)

  /** [[minhashLshPairs]] from pre-built [[contentMembers]] /
    * [[contentSignatures]] frames. The caller may persist both (valid
    * only for an immutable corpus — a persisted frame would serve stale
    * rows after an append); with unpersisted inputs the plan is
    * IDENTICAL to [[minhashLshPairs]].
    */
  def minhashLshPairsFrom(members: DataFrame, sigs: DataFrame,
                          bands: Int = 8, rows: Int = 2,
                          maxBucket: Int = 4096): DataFrame = {
    val repPairs = chRepPairsFrom(sigs, bands, rows, maxBucket)
    // Expansion back to the whole-corpus pair contract. Work here is
    // proportional to the OUTPUT pair count (each joined row is an
    // emitted pair), never to bucket sizes:
    //  - cross pairs: every (member of A) × (member of B) inherits the
    //    content pair's exact jaccard (identical text ⇒ identical
    //    shingle set);
    //  - within pairs: all member pairs of one content group, jaccard
    //    exactly 1.0 — emitted regardless of the bucket cap, so exact
    //    duplicates can never be lost to it.
    // Output is IDENTICAL to the uncollapsed self-join when no bucket
    // exceeds the cap: exact dups always collide in every band
    // (identical signatures), and a member pair is a candidate iff its
    // content pair's signatures collide on some band.
    val cross = repPairs
      .join(members.select(col("ch").as("a_ch"), col("id").as("ia")), "a_ch")
      .join(members.select(col("ch").as("b_ch"), col("id").as("ib")), "b_ch")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("jaccard"))
    val within = members.as("a")
      .join(members.as("b"),
        col("a.ch") === col("b.ch") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within).orderBy("a_id", "b_id")
  }

  /** Exact Jaccard over two SORTED hash arrays (as built by the minhash
    * pipeline): membership-count via one primitive merge. Numerically the
    * oracle's `length(list_filter(ha, x -> list_contains(hb, x)))` — both
    * engines hash identically, so collisions (if any) affect both the
    * same way.
    */
  def jaccardHashed(a: Column, b: Column): Column = {
    val inter = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.SortedLongIntersect(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)
  }

  /** LSH recall audit over a bounded document sample — what x53's
    * recall@5 report is to the ANN family, this is to the dedup
    * family: the bands×rows split (8×2 here ⇒ P(candidate) =
    * 1−(1−j²)^8) trades recall at low Jaccard for candidate volume,
    * and this measures the realized curve instead of trusting the
    * formula. Ground truth is the EXACT all-pairs Jaccard over the
    * sample (brute force is the point — that is why the sample must be
    * bounded; the caller passes a slice, production audits a few
    * thousand docs out of the corpus); candidates are the production
    * [[minhashLshPairs]] run on the same slice. Output per Jaccard
    * decile: (jband, n_truth, n_caught) — recall = n_caught/n_truth,
    * integer counts so the report replays exactly.
    *
    * The truth join broadcasts the (id, shingle-set) sample (one side
    * is sample-sized by construction) and verifies with the
    * allocation-free [[graft.expr.SortedLongIntersect]] merge.
    */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double = 0.1): DataFrame = {
    val sh = shinglesOf(col(textCol), 2)
    val sets = docs.filter(size(sh) >= 1)
      .select(col(idCol).as("id"), explode(sh).as("s"))
      .select(col("id"), Hashing.h32(col("s")).as("h"))
      .groupBy("id").agg(sort_array(collect_set(col("h"))).as("sh"))
    val truth = sets.select(col("id").as("a_id"), col("sh").as("sa"))
      .join(broadcast(sets.select(col("id").as("b_id"), col("sh").as("sb"))),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), jaccardHashed(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= minJaccard)
    val cand = minhashLshPairs(docs, idCol, textCol)
      .select(col("a_id"), col("b_id"), lit(1).as("caught"))
    truth.join(cand, Seq("a_id", "b_id"), "left")
      .groupBy(least(floor(col("j") * 10), lit(9L)).as("jband"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("caught"), lit(0))).as("n_caught"))
  }

  /** Incremental MinHash-LSH maintenance for a GROWING corpus (VERDICT
    * r6 "what's missing" #3): a standing corpus already carries a
    * near-dup pair set; when a new tranche arrives, the only pairs that
    * can appear are new×standing and new×new — recomputing the full
    * standing×standing join per batch is the thing a 100 TB pipeline
    * cannot afford. This probes a standing BAND-KEY INDEX with the new
    * tranche instead:
    *
    *  - the index is the standing tranche's exploded (band_key, id)
    *    frame — in production persisted once (parquet/Delta, bucketed
    *    by band_key) and only APPENDED to as tranches commit, never
    *    rebuilt (it is computed here from `standing` because tests
    *    hand in raw frames);
    *  - per batch: signatures for the NEW rows only (work ∝ |new|),
    *    band keys joined against the index (cross candidates) and
    *    against themselves (within candidates), exact-Jaccard verify
    *    on the union. Candidate volume is output-proportional — the
    *    standing corpus is touched only at matching band keys;
    *  - `maxBucket` caps oversized STANDING buckets via broadcast
    *    anti-join (same boilerplate-corpus guard as
    *    [[minhashLshPairs]]; the within-batch side is |new|-bounded).
    *
    * Returns (a_id, b_id, jaccard, src) with a_id < b_id and src ∈
    * {cross, within}; union with the standing pair set to maintain the
    * full relation. Exactly equal to the missing slice of a full-batch
    * [[minhashLshPairs]]-style doc-level join on standing ∪ new: band
    * keys are per-document, so a pair is a candidate in the full run
    * iff it is a candidate in the partition that contains it
    * (standing×standing | cross | within) — IncrementalLshSpec asserts
    * the three-way union equals the monolithic run row-for-row.
    */
  def incrementalNearDupPairs(standing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 2, bands: Int = 8, rows: Int = 2,
                              maxBucket: Int = 4096): DataFrame =
    probeNearDupIndex(nearDupIndex(standing, idCol, textCol, k, bands, rows),
      incoming, idCol, textCol, k, bands, rows, maxBucket)

  /** A corpus' near-dup index at the DISTINCT-CONTENT level (ADVICE r7:
    * the former doc-level index re-introduced the quadratic boilerplate
    * blowup the content-hash collapse exists to prevent, and its
    * bucket cap could silently drop exact-duplicate pairs). Three
    * frames:
    *  - `bands`  (bk, ch): one row per band key per distinct content —
    *    the probe key;
    *  - `sets`   (ch, sh): sorted shingle-hash set per distinct
    *    content — exact verification;
    *  - `members` (ch, id): doc→content membership — pair expansion.
    * In production all three are written once per tranche and APPENDED
    * as tranches commit ([[writeNearDupIndex]] / [[readNearDupIndex]];
    * bucket the band frame by `bk` on a real cluster so probes
    * co-locate without a shuffle). A 10k-copy template page is ONE row
    * in `bands`/`sets` and 10k rows only in the (narrow) `members`
    * frame.
    */
  final case class NearDupIndexFrames(bands: DataFrame, sets: DataFrame,
                                      members: DataFrame)

  def nearDupIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 2, bands: Int = 8, rows: Int = 2)
    : NearDupIndexFrames =
    indexOf(chSigs(df, idCol, textCol, k, bands * rows),
      chMembers(df, idCol, textCol, k), bands, rows)

  /** The index frames of [[contentSignatures]] rows (nSig = bands ×
    * rows) and [[contentMembers]] rows: bands and sets are narrow
    * projections of the signatures, so a caller that materializes the
    * signatures once ([[Curation.commitTranche]]) derives both from one
    * MinHash pass.
    */
  private[ext] def indexOf(sigs: DataFrame, members: DataFrame, bands: Int,
                           rows: Int): NearDupIndexFrames = {
    val bandKeys = (0 until bands).map { b =>
      concat(lit(s"$b:"), concat_ws("-",
        (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    NearDupIndexFrames(
      sigs.select(col("ch"), explode(array(bandKeys: _*)).as("bk")),
      sigs.select(col("ch"), col("sh")), members)
  }

  /** Probe a standing corpus' index with a new tranche: the only pairs
    * a growing corpus can add — those touching at least one new doc —
    * exact-Jaccard verified and provenance-labeled (src = 'within'
    * when both docs are new, 'cross' otherwise). Returns (a_id, b_id,
    * jaccard, src), a_id < b_id.
    *
    * Candidate generation runs entirely at the distinct-content level
    * (same machinery as [[minhashLshPairs]]): the tranche's content
    * band keys join the standing index (cross-content) and themselves
    * (within-tranche — |distinct new contents|-bounded, so a
    * boilerplate-heavy tranche collapses instead of exploding
    * quadratically). Verified content pairs then expand to member
    * pairs through the membership frames, generating ONLY pairs with a
    * new member on at least one side — output-proportional work.
    * Same-content pairs (exact duplicates, jaccard 1.0) are expanded
    * directly from the membership frames WITHOUT touching the band
    * index, so the bucket cap can never lose an exact duplicate.
    *
    * `maxBucket` caps oversized standing band buckets, censused over
    * DISTINCT CONTENTS (the same guard as [[minhashLshPairs]]'s);
    * [[nearDupIndexDroppedBuckets]] reports what a cap drops. Below
    * the cap the output is exactly the missing slice of a monolithic
    * [[minhashLshPairs]] over standing ∪ new (IncrementalLsh tests
    * assert the three-way union row-for-row).
    */
  /** Verified near-dup candidate pairs at the DISTINCT-CONTENT level
    * between a standing index and an incoming tranche's index:
    * (a_ch, b_ch, jaccard) with a_ch < b_ch, over cross (tranche ×
    * standing at colliding band keys) and within (tranche × tranche)
    * candidates; a pair repeats (identical rows) when one of its
    * contents is both standing and in the tranche. Same-content pairs
    * (ch = ch) are excluded — exact duplication is decidable from
    * membership alone and must never depend on the band bucket cap. `maxBucket` caps oversized
    * STANDING buckets censused over distinct contents. Shared by
    * [[probeNearDupIndex]] (which expands to member pairs) and
    * [[ledgerProbe]] (which judges contents directly — no expansion).
    */
  private def verifiedContentPairs(index: NearDupIndexFrames,
                                   idxN: NearDupIndexFrames,
                                   maxBucket: Int): DataFrame = {
    val oversized = index.bands.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("bk")
    val bandScap = index.bands.join(broadcast(oversized), Seq("bk"), "left_anti")
    // content-level candidates: new contents × standing contents at
    // colliding band keys, plus new×new within the tranche; a content
    // present in both tranches meets itself in the cross join — that is
    // the same-content case, handled by callers without bands, so
    // ch-equal rows are excluded here
    val crossC = idxN.bands.as("n")
      .join(bandScap.as("s"),
        col("n.bk") === col("s.bk") && col("n.ch") =!= col("s.ch"))
      .select(least(col("n.ch"), col("s.ch")).as("a_ch"),
        greatest(col("n.ch"), col("s.ch")).as("b_ch"))
    val withinC = idxN.bands.as("a")
      .join(idxN.bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.ch") < col("b.ch"))
      .select(col("a.ch").as("a_ch"), col("b.ch").as("b_ch"))
    val candC = crossC.unionByName(withinC).distinct()
    // exact verification per distinct content pair; a content on both
    // sides has identical set rows there, so its pairs repeat with
    // identical jaccards (every consumer reads them as a set). Both
    // lookups alias the same frame and share one exchange
    val sets = index.sets.unionByName(idxN.sets)
    candC
      .join(sets.as("sa"), col("a_ch") === col("sa.ch"))
      .join(sets.as("sb"), col("b_ch") === col("sb.ch"))
      .select(col("a_ch"), col("b_ch"),
        jaccardHashed(col("sa.sh"), col("sb.sh")).as("jaccard"))
  }

  def probeNearDupIndex(index: NearDupIndexFrames,
                        incoming: DataFrame, idCol: String, textCol: String,
                        k: Int = 2, bands: Int = 8, rows: Int = 2,
                        maxBucket: Int = 4096): DataFrame =
    probeNearDupIndexFrom(index,
      nearDupIndex(incoming, idCol, textCol, k, bands, rows),
      incoming, idCol, maxBucket)

  /** Materialize an index's three frames as eager localCheckpoints —
    * three concurrent jobs, pay the slowest (the
    * [[Curation.commitTranche]] ckpt discipline, exposed for callers
    * outside graft.ext like the x87 probe).
    */
  def materialize(idx: NearDupIndexFrames): NearDupIndexFrames = {
    val Seq(b, s, m) = StoreSwap.concurrentlyAll(Seq(
      () => idx.bands.localCheckpoint(),
      () => idx.sets.localCheckpoint(),
      () => idx.members.localCheckpoint()))
    NearDupIndexFrames(b, s, m)
  }

  /** [[probeNearDupIndex]] from an already-built (possibly
    * checkpointed) tranche index — the [[ledgerProbeFrom]] split
    * applied to the pair probe (round-18, guide §1.2/§5): the probe
    * plan references the tranche's MinHash pipeline many times (band
    * keys twice, sets once, members four times), so an
    * un-materialized tranche index re-derives the shingle/signature
    * pass per reference — the x87 plan carried 20 scans of the corpus
    * where 3 materialization jobs + cached reads do.
    */
  def probeNearDupIndexFrom(index: NearDupIndexFrames,
                            idxN: NearDupIndexFrames,
                            incoming: DataFrame, idCol: String,
                            maxBucket: Int = 4096): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val verified = verifiedContentPairs(index, idxN, maxBucket)
    // member expansion, new-side-anchored so work ∝ emitted pairs: each
    // verified content pair expands through (all members) × (new
    // members) in both orientations; both-new pairs appear in both and
    // collapse in the final distinct
    val memS = index.members.withColumn("nw", lit(false))
    val memN = idxN.members.withColumn("nw", lit(true))
    val memAll = memS.unionByName(memN)
    def expand(left: DataFrame, right: DataFrame): DataFrame =
      verified
        .join(left.select(col("ch").as("a_ch"), col("id").as("ia"),
          col("nw").as("na")), "a_ch")
        .join(right.select(col("ch").as("b_ch"), col("id").as("ib"),
          col("nw").as("nb")), "b_ch")
        .select(least(col("ia"), col("ib")).as("a_id"),
          greatest(col("ia"), col("ib")).as("b_id"), col("jaccard"),
          when(col("na") && col("nb"), lit("within"))
            .otherwise(lit("cross")).as("src"))
    val crossPairs = expand(memAll, memN).unionByName(expand(memN, memAll))
    // same-content pairs: every new copy pairs with all standing copies
    // (cross) and all other new copies (within) at jaccard exactly 1.0 —
    // derived from membership alone, immune to the bucket cap
    val sameCross = memN.select(col("ch"), col("id").as("ia"))
      .join(memS.select(col("ch"), col("id").as("ib")), "ch")
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"),
        lit(1.0).as("jaccard"), lit("cross").as("src"))
    val sameWithin = memN.as("a")
      .join(memN.as("b"),
        col("a.ch") === col("b.ch") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        lit(1.0).as("jaccard"), lit("within").as("src"))
    crossPairs.unionByName(sameCross).unionByName(sameWithin).distinct()
  }

  /** First-occurrence curation verdicts for an arriving tranche probed
    * against the standing index — the per-tranche LEDGER emitter of a
    * streaming curation pipeline (the x111/x112 provenance shape at
    * ingest time): one row per incoming doc, (doc_id, decision) with
    *
    *   exact_dup — its content already lives in the standing index, or
    *               a smaller-id copy arrived in the same tranche;
    *   near_dup  — an exact-survivor with a verified pair (jaccard ≥
    *               `jThresh`) against ANY standing doc, or against a
    *               smaller-id doc of the same tranche;
    *   kept      — survived both.
    *
    * First-seen precedence (the `dropDuplicatesWithinWatermark` /x63
    * semantics): a doc's verdict is FINAL at arrival — standing docs
    * always outrank the tranche, same-tranche ties break to the
    * smaller id — so appending tranche ledgers reproduces exactly the
    * batch ledger computed over the union corpus under arrival order
    * (StreamingSpec asserts it). Work is probe-shaped AND
    * content-collapsed: ∝ tranche size + verified DISTINCT-CONTENT
    * pairs, never a standing re-scan and never m² member pairs per
    * duplicate group (ScaleSmoke feeds a 15k-copy single-content
    * tranche through and asserts collapse). Docs below the shingle
    * floor (< k tokens, i.e. zero k-shingles — outside the whole x2
    * family's dedup domain) are kept. Quality layers compose on top exactly as in x111
    * (decide kept → low_quality downstream; dedup verdicts here).
    */
  def ledgerProbe(index: NearDupIndexFrames, incoming: DataFrame,
                  idCol: String, textCol: String, jThresh: Double = 0.6,
                  k: Int = 2, bands: Int = 8, rows: Int = 2,
                  maxBucket: Int = 4096): DataFrame =
    ledgerProbeFrom(index,
      nearDupIndex(incoming, idCol, textCol, k, bands, rows),
      incoming, idCol, jThresh, maxBucket)

  /** [[ledgerProbe]] from an already-built (possibly checkpointed)
    * tranche index — the probe plan references the tranche's signature
    * pipeline several times, so a caller that ALSO appends the tranche
    * to the standing store ([[Curation.commitTranche]]) materializes
    * `idxN` once and shares it between the probe and the append instead
    * of recomputing the MinHash pass per reference.
    */
  def ledgerProbeFrom(index: NearDupIndexFrames, idxN: NearDupIndexFrames,
                      incoming: DataFrame, idCol: String,
                      jThresh: Double = 0.6,
                      maxBucket: Int = 4096): DataFrame = {
    // verdicts are decidable at the DISTINCT-CONTENT level — a 10k-copy
    // template page in the tranche is ONE judged content, never m²
    // member pairs; a content is near iff a verified pair links it to a
    // standing content or to a tranche content whose first copy has a
    // smaller id, which reproduces the member-pair semantics exactly
    FirstSeen.verdicts(
      idxN.members.select(col("id"), col("ch").as("key")),
      index.members.select(col("ch").as("key")),
      verifiedContentPairs(index, idxN, maxBucket)
        .filter(col("jaccard") >= jThresh)
        .select(col("a_ch").as("a"), col("b_ch").as("b")),
      incoming.select(col(idCol).as("doc_id")))
  }

  /** The standing band buckets a given cap would drop in
    * [[probeNearDupIndex]] — (bk, n_contents) over distinct contents —
    * so an ingestion pipeline can report dropped candidate volume
    * instead of silently truncating coverage.
    */
  def nearDupIndexDroppedBuckets(index: NearDupIndexFrames,
                                 maxBucket: Int = 4096): DataFrame =
    index.bands.groupBy("bk").agg(count(lit(1)).as("n_contents"))
      .filter(col("n_contents") > maxBucket)

  /** Materialize a corpus' near-dup index under `dir` (`dir/bands`,
    * `dir/sets`, `dir/members`) — append-mode so each committed tranche
    * extends the standing index instead of rebuilding it. NOTE: a
    * content appearing in several tranches contributes one `bands`/
    * `sets` row PER TRANCHE; [[readNearDupIndex]] re-collapses with
    * dropDuplicates (idempotent rows — same content, same signature),
    * so probes stay distinct-content-exact.
    */
  def writeNearDupIndex(df: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 2, bands: Int = 8,
                        rows: Int = 2): Unit = {
    ensureNearDupIndexParams(df.sparkSession, dir, k, bands, rows)
    writeNearDupIndexFrames(
      nearDupIndex(df, idCol, textCol, k, bands, rows), dir)
  }

  /** The store is self-describing: shingle/band geometry is part of the
    * index, and an append under DIFFERENT geometry would corrupt it
    * silently (band keys from mismatched signatures never collide
    * correctly) — so the first write records the params and every later
    * append must match them.
    */
  private[ext] def ensureNearDupIndexParams(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, bands: Int, rows: Int): Unit =
    if (storeExists(spark, s"$dir/params")) {
      val p = readNearDupIndexParams(spark, dir)
      require(p == ((k, bands, rows)),
        s"near-dup index at $dir was built with (k, bands, rows) = $p; " +
          s"refusing an append with (${k}, ${bands}, ${rows})")
    } else {
      import spark.implicits._
      Seq((k, bands, rows)).toDF("k", "bands", "rows")
        .coalesce(1).storeWrite.mode("overwrite").parquet(s"$dir/params")
    }

  /** Append already-built index frames (no geometry guard — callers
    * come through [[writeNearDupIndex]] or own the frames' provenance,
    * like [[Curation.commitTranche]] sharing one checkpointed tranche
    * index between probe and append).
    *
    * Probe-key partitioned layout (VERDICT r10 #1): `bands` is
    * partitioned by a band-key bucket, `sets`/`members` by a
    * content-hash bucket ([[StoreLayout.part]]), so a tranche probe
    * ([[probeView]]) pushes its touched buckets into the scans as
    * literal partition filters and reads colliding partitions only —
    * commit-time standing access is tranche-proportional, never
    * O(standing corpus). Each append lands at one file per touched
    * partition ([[StoreLayout.appendBuckets]]; the writer would
    * otherwise emit tasks × partitions small files).
    */
  def writeNearDupIndexFrames(idx: NearDupIndexFrames, dir: String): Unit =
    StoreSwap.concurrently(
      () => StoreLayout.appendBuckets(idx.bands, BandsTable, s"$dir/bands"),
      () => StoreLayout.appendBuckets(idx.sets, SetsTable, s"$dir/sets"),
      () => StoreLayout.appendBuckets(idx.members, MembersTable,
        s"$dir/members"))

  // the persisted tables (what the writers above produce; StoreLayoutSpec
  // pins each against its writer). Content-keyed: a takedown scrubs
  // members, then the bands and sets of contents left with no member
  private[ext] val ParamsTable = StoreLayout.Table("k INT, bands INT, rows INT")
  private[ext] val BandsTable =
    StoreLayout.Table("ch STRING, bk STRING, bkp INT", Seq("bkp"), key = "bk",
      collapse = Some(Seq("ch", "bk")), erase = StoreLayout.ByContent("ch"))
  private[ext] val SetsTable =
    StoreLayout.Table("ch STRING, sh ARRAY<BIGINT>, chp INT", Seq("chp"),
      key = "ch", collapse = Some(Seq("ch")), erase = StoreLayout.ByContent("ch"))
  private[ext] val MembersTable =
    StoreLayout.Table("id BIGINT, ch STRING, chp INT", Seq("chp"), key = "ch",
      collapse = Some(Seq("id", "ch")), erase = StoreLayout.ById("id"))

  /** The near-dup index under `dir` as one maintained store. */
  private[graft] def nearDupStore(dir: String): Maintenance.Store =
    Maintenance.Store(dir, Seq("bands" -> BandsTable, "sets" -> SetsTable,
      "members" -> MembersTable, "params" -> ParamsTable))

  /** The persisted shingle/band geometry: (k, bands, rows). Probes of a
    * persisted index must run with exactly these.
    */
  def readNearDupIndexParams(spark: org.apache.spark.sql.SparkSession,
                             dir: String): (Int, Int, Int) = {
    val p = StoreLayout.read(spark, s"$dir/params", ParamsTable).collect()(0)
    (p.getInt(0), p.getInt(1), p.getInt(2))
  }

  /** Load a persisted near-dup index, re-collapsing contents duplicated
    * across tranche appends; partition columns never surface to
    * callers.
    */
  def readNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): NearDupIndexFrames =
    NearDupIndexFrames(
      BandsTable.collapsed(spark.read.parquet(s"$dir/bands").drop("bkp")),
      SetsTable.collapsed(spark.read.parquet(s"$dir/sets").drop("chp")),
      spark.read.parquet(s"$dir/members").drop("chp"))

  /** PRUNED standing view of a persisted index for probing with the
    * tranche index `idxN` — the commit-time access path of
    * [[Curation.commitTranche]] (VERDICT r10 #1). Instead of scanning
    * (and worse, checkpointing) the whole standing store per tranche,
    * the three frames come back restricted to what THIS tranche can
    * touch, with the restriction pushed into the parquet scans as
    * literal partition filters:
    *
    *  - `bands`: only partitions holding a band-key bucket the tranche
    *    bands hash into — EXACT for the candidate equi-join, since a
    *    standing band row in an untouched bucket cannot collide with
    *    any tranche band key (the partition value is a function of the
    *    key). Because whole buckets live in one partition, the
    *    oversized-bucket census over the pruned slice counts each
    *    surviving bucket exactly as a full scan would.
    *  - `sets`/`members`: only partitions holding a content-hash bucket
    *    of (tranche contents ∪ contents present in the pruned bands) —
    *    covers every exact-duplicate lookup and every candidate
    *    partner's verification set / membership row.
    *
    * Both touched-partition sets are bounded by [[StoreLayout.Parts]]
    * by construction, so the two driver collects are codebook-sized
    * (the [[IvfIndex.topK]] discipline), never data-sized.
    *
    * `excludeIds`: drop these member ids from the standing side (the
    * re-run-of-a-failed-commit self-exclusion), and — fixing the
    * ADVICE r10 census finding — drop every content whose members are
    * ALL excluded from `bands`/`sets` too: a content standing only via
    * a failed append must not inflate the bucket census or pair as a
    * standing candidate, or a re-run at the cap boundary would diverge
    * from the first attempt.
    */
  def probeView(spark: org.apache.spark.sql.SparkSession, dir: String,
                idxN: NearDupIndexFrames,
                excludeIds: Option[DataFrame] = None,
                materialize: Boolean = true,
                trancheParts: Option[(Seq[Long], Seq[Long])] = None
               ): NearDupIndexFrames = {
    // LAZY checkpoints throughout: the probe plan references each
    // standing frame several times (bucket census + capped join, exact
    // lookup + partner flags), and without materialization every
    // reference re-scans and re-collapses the slice. Lazy (not eager —
    // the r10 finding) means nothing is materialized beyond what the
    // probe actually computes, the materialized unit is the PRUNED
    // slice (tranche-reachable, not the store), and the blocks are
    // released when the frames go out of scope. `materialize = false`
    // keeps the raw plans (checkpointing swaps the subtree for an RDD
    // scan) so tests/ScaleSmoke can assert the literal partition
    // filters on the SAME builder code the production path runs.
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(false) else df
    // the tranche-side touched-bucket sets (band-key buckets, content
    // buckets — each ≤ StoreLayout.Parts by construction): the caller's
    // (the commit collects every tranche-side bucket set in one job),
    // or ONE driver job here; the only other pre-probe collect is the
    // partner-bucket discovery over the pruned bands. The store reads
    // list only those buckets, on the driver
    val (bkps, chpsT) = trancheParts.getOrElse {
      val ps = idxN.bands.select(lit(0).as("t"), StoreLayout.part(col("bk")).as("p"))
        .unionByName(idxN.sets.select(lit(1).as("t"),
          StoreLayout.part(col("ch")).as("p")))
        .distinct().limit(2 * StoreLayout.Parts + 1).collect()
      (ps.filter(_.getInt(0) == 0).map(_.getLong(1)).toSeq,
        ps.filter(_.getInt(0) == 1).map(_.getLong(1)).toSeq)
    }
    val bandsP = StoreLayout.read(spark, s"$dir/bands", BandsTable, Some(bkps))
      .filter(col("bkp").isin(bkps: _*)).drop("bkp")
    val bands0 = BandsTable.collapsed(bandsP)
    // contents this probe can touch: the tranche's own (exact-dup
    // lookups) plus any content colliding in the pruned bands (candidate
    // partners) — both bounded, collected as literals
    val chps = (chpsT ++ StoreLayout.partsOf(bandsP, col("ch"))).distinct
    val members0 = StoreLayout.read(spark, s"$dir/members", MembersTable, Some(chps))
      .filter(col("chp").isin(chps: _*)).drop("chp")
    val sets0 = SetsTable.collapsed(
      StoreLayout.read(spark, s"$dir/sets", SetsTable, Some(chps))
        .filter(col("chp").isin(chps: _*)).drop("chp"))
    val members = ckpt(excludeIds.fold(members0)(ids =>
      members0.join(broadcast(ids.select(col(ids.columns.head).as("id"))),
        Seq("id"), "left_anti")))
    // live contents = at least one surviving member; a failed append's
    // contents (members all excluded) leave the band census and the
    // candidate pool entirely
    val live = ckpt(members.select("ch").distinct())
    NearDupIndexFrames(
      ckpt(bands0.join(live, Seq("ch"), "left_semi")),
      ckpt(sets0.join(live, Seq("ch"), "left_semi")),
      members)
  }

  /** Store-FS existence check (local path or URI — java.io.File would
    * silently report every hdfs://-style store absent).
    */
  private[ext] def storeExists(spark: org.apache.spark.sql.SparkSession,
                               dir: String): Boolean = {
    StoreSwap.fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))
  }

  /** Duplicate-cluster resolution: connected components of the near-dup
    * pair graph, labeling every member with the minimum doc id of its
    * component (the canonical "keep" document). Docs in no pair are
    * singletons and are omitted.
    *
    * Iterative min-label propagation: each round every vertex takes the
    * min of its own label and its neighbors' labels — one equi-join +
    * one partial-aggregating groupBy per round, converging in
    * O(component diameter) rounds (near-dup clusters are shallow). This
    * is the standard distributed connected-components shape: no driver
    * collect of the graph, each round shuffles only (vertex, label)
    * pairs, and every intermediate is persisted then dropped so lineage
    * stays O(1) instead of growing per round.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // Eager localCheckpoint (not persist): the loop's self-join doubles
    // the logical plan every round, so without lineage truncation
    // Catalyst re-analyzes an exponentially growing plan each iteration
    // even though execution hits the cache — planning time, not compute,
    // becomes the bottleneck. Checkpointing keeps every round's plan a
    // flat scan. (On a real cluster prefer reliable `checkpoint` with a
    // checkpoint dir for executor-loss tolerance.)
    // materialize the (possibly expensive) pair pipeline ONCE, then derive
    // both edge directions from the checkpointed rows
    val p0 = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
      .localCheckpoint()
    val edges = p0.union(p0.select(col("v").as("u"), col("u").as("v")))
    // initialize each vertex at min(self, direct neighbors) — the first
    // propagation round folded into the (already necessary) vertex-set
    // aggregation, saving one full join round on shallow components
    var lbl = edges.groupBy(col("u").as("id"))
      .agg(least(col("id"), min(col("v"))).as("lbl")).localCheckpoint()
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val neighborMin = edges
        .join(lbl.select(col("id").as("u"), col("lbl")), "u")
        .groupBy(col("v").as("id")).agg(min("lbl").as("nlbl"))
      // carry the pre-round label so convergence is decided from the
      // SAME rows the round materializes — no second join+count job
      val stepped = lbl.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jumping (path halving): also adopt the label OF the
      // current label, turning O(diameter) convergence into O(log n) —
      // a chain component would otherwise need one round per hop
      val obs = new org.apache.spark.sql.Observation(
        s"cc_${ccSeq.incrementAndGet()}_round_$iter")
      val next = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("ll")), Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl"),
          col("old"))
        .observe(obs, count(when(col("lbl") =!= col("old"), 1)).as("changed"))
        .localCheckpoint()
      // the eager checkpoint IS the round's one job; the observed metric
      // arrives on the (async) listener bus — bounded wait, then fall
      // back to a scan of the already-checkpointed rows (still no join).
      // The waiter is a dedicated daemon thread that gets INTERRUPTED on
      // timeout (Observation.get blocks in Object.wait, which is
      // interruptible) — a fire-and-forget Future here would leak one
      // permanently-blocked pool thread per timed-out round.
      val changed = {
        import java.util.concurrent.{Executors, TimeUnit, TimeoutException, Callable}
        val ex = Executors.newSingleThreadExecutor { r =>
          val t = new Thread(r, "cc-observe-wait"); t.setDaemon(true); t
        }
        try {
          val fut = ex.submit(new Callable[Long] {
            def call(): Long = obs.get("changed").asInstanceOf[Long]
          })
          try fut.get(10, TimeUnit.SECONDS)
          catch { case _: TimeoutException =>
            fut.cancel(true)
            next.filter(col("lbl") =!= col("old")).count()
          }
        } finally ex.shutdownNow()
      }
      lbl = next.select("id", "lbl")
      done = changed == 0
      iter += 1
    }
    // silent non-convergence would label one component with several
    // cluster ids and keep duplicates as "canonical" — fail loudly instead
    if (!done) throw new IllegalStateException(
      s"dedupClusters did not converge in $maxIters rounds; raise maxIters")
    lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id")).orderBy("doc_id")
  }

  /** Exact Jaccard of two distinct-element arrays, rounded to 6 dp (the
    * rounding absorbs engine-order float differences; the division itself
    * is exact small-int / small-int). `array_intersect` is hash-based —
    * O(|a|+|b|) per pair, vs O(|a|·|b|) for a contains-filter — which is
    * what keeps candidate verification cheap on wide shingle sets.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)
  }

  /** 60-bit SimHash of a token array, rendered as a '0'/'1' string
    * (msb-last; bit b of the hash at position b). Uses an `expr` because
    * the shift amount is a lambda variable (DSL `shiftright` only takes
    * literal shifts).
    */
  def simhash60(tokenHashesCol: String): Column =
    expr(
      s"""array_join(transform(sequence(0, 59), b ->
         |  case when aggregate($tokenHashesCol, 0L, (acc, x) ->
         |    acc + (case when shiftright(x, b) % 2 = 1 then 1 else -1 end)) > 0
         |  then '1' else '0' end), '')""".stripMargin)

  /** Per-doc SimHash sketch: (id, simhash). */
  def simhashSketch(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      transform(tokens(col(textCol)), t => Hashing.h60(t)).as("th"))
      .select(col("id"), simhash60("th").as("simhash"))

  /** Count-min sketch as a relation: the depth×width counter matrix of a
    * term stream, built with ONE shuffle on (row, bucket) — each term
    * explodes into `depth` (row, h_row(term) mod width) cells and a
    * partial-aggregating groupBy counts them. Engine-portable hashing
    * (row-salted md5 prefix), so the oracle can build the identical
    * sketch. Query-time estimate for a term = min over rows of its cell
    * count (the classic CMS upper bound).
    *
    * At corpus scale this is the point of the sketch: the counter matrix
    * is `depth·width` cells regardless of cardinality, the build is one
    * map-side-combining shuffle of the exploded stream, and estimates
    * are a broadcast lookup — no full term-frequency table materialized.
    */
  /** Benchmark decontamination: flag training docs sharing at least
    * `minShared` distinct k-gram shingles with any benchmark item — the
    * standard n-gram-overlap contamination check run before training.
    *
    * Shape at scale: per-doc DISTINCT shingle hashes as exploded rows
    * (never materialized as arrays), one equi-join on the hash (benchmark
    * side is small → broadcast), one partial-aggregating count per
    * (train, bench) pair. Output: (t_id, b_id, n_shared).
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 3, minShared: Int = 10): DataFrame = {
    def hashes(df: DataFrame, as: String): DataFrame = {
      val sh = shinglesOf(col(textCol), k)
      df.filter(size(sh) >= 1)
        .select(col(idCol).as(as), explode(sh).as("s"))
        .select(col(as), Hashing.h32(col("s")).as("h"))
        .distinct()
    }
    hashes(train, "t_id")
      .join(broadcast(hashes(bench, "b_id")), "h")
      .filter(col("t_id") =!= col("b_id"))
      .groupBy("t_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document duplication profile (the CCNet/FineWeb "fraction of
    * duplicated n-grams" quality signal): for each document, how many of
    * its DISTINCT k-gram shingle hashes also appear in at least one
    * other document, and that count as a fraction of the doc's shingles.
    * High `dup_frac` → boilerplate / template / mirrored content.
    *
    * Shape at scale: distinct shingle hashes as exploded rows (never
    * arrays on the shuffle), one partial-aggregating corpus count per
    * hash, one equi-join back, one per-doc count — two shuffles total,
    * all on uniformly distributed 32-bit hashes. `dup_frac` is a single
    * division of two exact BIGINTs (bit-identical in any engine; no
    * float accumulation order to drift).
    *
    * Because every hash key is `(doc count ≥ 2)`-classified corpus-wide,
    * this is the degenerate single-round case of the shingle-join used
    * by [[contamination]] — but self-joined and fraction-valued.
    */
  def crossDocDup(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3): DataFrame = {
    val sh = shinglesOf(col(textCol), k)
    val hashes = docs
      .select(col(idCol).as("doc_id"), explode(sh).as("s"))
      .select(col("doc_id"), Hashing.h32(col("s")).as("h"))
      .distinct()
    val perHash = hashes.groupBy("h").agg(count(lit(1)).as("nd"))
    hashes.join(perHash, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared") / col("n_shingles"), 6).as("dup_frac"))
  }

  /** A built sketch carries its (depth, width) so probes can never hash
    * against mismatched parameters — a width drift would silently break
    * the never-undercount guarantee.
    */
  final case class CmsSketch(cells: DataFrame, depth: Int, width: Int)

  /** (row, bucket) cell of every term × sketch row — the ONE hash
    * definition shared by build and probe.
    */
  private def cmsCells(df: DataFrame, termCol: String,
                       depth: Int, width: Int): DataFrame =
    df.select(col(termCol).as("t"),
      explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("t"), col("r"),
        (Hashing.h32(concat(col("r").cast("string"), lit(":"), col("t"))) % width).as("b"))

  def countMinSketch(terms: DataFrame, termCol: String,
                     depth: Int = 4, width: Int = 1024): CmsSketch =
    CmsSketch(
      cmsCells(terms, termCol, depth, width)
        .groupBy("r", "b").agg(count(lit(1)).as("c")),
      depth, width)

  /** CMS point estimates for `probes` (small, broadcast): (term, est). */
  def cmsEstimates(sketch: CmsSketch, probes: DataFrame, termCol: String): DataFrame =
    cmsCells(probes, termCol, sketch.depth, sketch.width)
      .join(broadcast(sketch.cells), Seq("r", "b"), "left")
      .groupBy("t").agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** The same sketch via the native `cms_sketch` aggregate: ONE row with
    * the row-major depth×width matrix. Cell-identical to
    * [[countMinSketch]] (same portable hash), but the exchange carries a
    * fixed-size matrix per partition instead of partial counts for every
    * touched (r, b) cell — the preferred shape when the term stream is
    * huge and the matrix is small.
    */
  def countMinSketchNative(terms: DataFrame, termCol: String,
                           depth: Int = 4, width: Int = 1024): DataFrame =
    terms.agg(graft.expr.CmsSketchAgg.sketch(col(termCol), depth, width).as("sk"))

  /** Point estimates against a native one-row sketch: least over the
    * `depth` probed cells (1-based `element_at` into the flat matrix).
    */
  def cmsEstimatesNative(sketch: DataFrame, probes: DataFrame, termCol: String,
                         depth: Int = 4, width: Int = 1024): DataFrame = {
    val est = (0 until depth).map { r =>
      coalesce(try_element_at(col("sk"),
        (lit(r * width) +
          (Hashing.h32(concat(lit(s"$r:"), col("t"))) % width) + 1).cast("int")),
        lit(0L))
    }.reduce(least(_, _))
    probes.select(col(termCol).as("t"))
      .crossJoin(broadcast(sketch))
      .select(col("t"), est.as("est"))
  }

  /** N-gram Jaccard over blocked candidate pairs: same `blockCol`, id
    * within `window` ahead — a deterministic, bounded candidate set that
    * exercises the verification kernel without the quadratic blowup.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 3, window: Int = 10): DataFrame = {
    // sorted hash-array shingle sets (same kernel as the minhash path):
    // narrower join rows, and verification is the allocation-free merge
    val sh = shinglesOf(col(textCol), k)
    val exploded = df.filter(size(sh) >= 1)
      .select(col(idCol).as("id"), col(blockCol).as("blk"), explode(sh).as("s"))
      .select(col("id"), col("blk"), Hashing.h32(col("s")).as("h"))
    val base = exploded.groupBy("id", "blk")
      .agg(sort_array(collect_set(col("h"))).as("sh"))
    // Bucketize the id-window predicate into an equi-join key so the
    // hash join emits ~2·window candidates per row instead of the whole
    // per-block cross product (blocks can be huge — the blow-up guard is
    // what survives a 100× scale-up): a matches b only when
    // a.id div W ∈ {b.id div W, b.id div W − 1}, so explode b into both.
    val a = base.select(col("id").as("a_id"), col("blk"), col("sh").as("sa"),
      expr(s"id div $window").as("ga"))
    val b = base.select(col("id").as("b_id"), col("blk").as("blkb"), col("sh").as("sb"),
      explode(array(expr(s"id div $window"), expr(s"id div $window - 1"))).as("gb"))
    a.join(b,
        col("blk") === col("blkb") && col("ga") === col("gb") &&
          col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
      .select(col("a_id"), col("b_id"), jaccardHashed(col("sa"), col("sb")).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Sub-document exact dedup at chunk granularity (the C4/FineWeb
    * "remove repeated spans" pass, between whole-doc [[exact]] and the
    * probabilistic [[minhashLshPairs]]): split each document into
    * non-overlapping `window`-token chunks, keep each DISTINCT chunk
    * text only at its lexicographically-first corpus position
    * `(doc_id, chunk_idx)`, and reassemble every document from the
    * chunks it keeps. Exact duplicates of a document lose all their
    * chunks; near-duplicates lose the chunk-aligned unedited spans;
    * boilerplate repeated across documents is kept once, at its first
    * occurrence. Reference analog: the duplicate-URL skip before
    * re-extraction, `video_processor.py:150-166`, lifted from whole
    * records to spans.
    *
    * Shape at scale: the chunker is a narrow explode (chunk count rides
    * each row); the winner election is ONE partial-aggregating groupBy
    * whose shuffle key is a chunk — bounded at `window` tokens, unlike a
    * whole-document key — and whose value is a 12-byte (doc_id, idx)
    * struct min; reassembly is one bounded groupBy(doc_id) with an
    * in-group sort by chunk index. No windows, no joins against the
    * corpus, no row wider than `window` tokens on either shuffle.
    *
    * Returns one row per input document: `doc_id, n_chunks, n_kept,
    * text_dedup` (empty string when every chunk of the doc first
    * occurred elsewhere).
    */
  /** Exact-substring dedup at EVERY alignment (the suffix-array dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): a `window`-token shingle is
    * taken at every position of every document; for each shingle text
    * that occurs more than once corpus-wide, every occurrence except the
    * lexicographically-first keeps nothing — the tokens it covers are
    * removed from its document — and documents are rebuilt from their
    * surviving tokens. Strictly stronger than [[chunkDedup]]: a repeated
    * span is caught at ANY offset, not only when it lands on a chunk
    * boundary; an exact-duplicate document still collapses to empty
    * text while the first copy survives untouched.
    *
    * Shape at scale (all shuffle keys bounded, no windows):
    * one groupBy over `window`-token shingle texts (count + 12-byte
    * first-occurrence min), one hash equi-join of positions against the
    * duplicated subset, a 16× bounded explode of removed positions into
    * covered token indices, one left-anti join of (doc_id, idx) tokens
    * against covered, and one per-document reassembly groupBy. The
    * position explode is ~1 row per corpus token — the same weight as
    * any tokenizing pass.
    *
    * Returns one row per input document:
    * `doc_id, n_tokens, n_removed, text_clean` (empty when every token
    * was covered by spans first seen elsewhere).
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 16): DataFrame = {
    require(window >= 2, s"substringDedup: window must be >= 2, got $window")
    val tk = split(col(textCol), " ")
    val base = docs.select(col(idCol).as("doc_id"), tk.as("tk"),
      size(tk).cast("long").as("n"))
    val pos = base.filter(col("n") >= window)
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), col("n") - window)).as("p"))
      .select(col("doc_id"), col("p"),
        array_join(slice(col("tk"), col("p") + 1, lit(window)), " ").as("s"))
    val dupShingles = pos.groupBy("s")
      .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("p"))).as("w"))
      .filter(col("c") >= 2)
    val removed = pos.join(dupShingles, "s")
      .filter(!(col("doc_id") === col("w.doc_id") && col("p") === col("w.p")))
      .select(col("doc_id"), col("p"))
    val covered = removed
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + window - 1)).as("idx"))
      .distinct()
    val toks = base
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("idx", "tok")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("tok"))
    val rebuilt = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok")), " ").as("text_clean"))
    base.select("doc_id", "n").join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Candidate pairs from a RARE-shingle inverted index: every pair of
    * docs sharing at least one shingle whose corpus document-frequency
    * is ≤ `maxDf`. This is the candidate generator for ASYMMETRIC
    * (containment) duplicates, where MinHash-LSH is structurally blind:
    * a short doc embedded in a long one has low Jaccard, so its minhash
    * signatures rarely collide on any band — but it shares *all* of its
    * shingles, including its rare ones, with the container.
    *
    * Scale shape: the self-join key is restricted to shingles with
    * df ≤ maxDf, so candidate volume is bounded by Σ_rare df² ≤
    * maxDf · Σ df — linear in corpus size with a small constant, never
    * the quadratic blowup a raw shared-shingle join would produce on
    * common shingles (stopword bigrams). The df computation itself is
    * one map-side-combined groupBy on a uniform hash key.
    */
  def rareShingleCandidates(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 2, maxDf: Int = 5): DataFrame = {
    val ex = docs
      .select(col(idCol).as("id"), explode(shinglesOf(col(textCol), k)).as("s"))
      .select(col("id"), Hashing.h32(col("s")).as("h"))
      .distinct()
    val rare = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("h")
    val indexed = ex.join(rare, "h")
    indexed.as("a")
      .join(indexed.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** Containment dedup: (a_id, b_id, la, lb, inter, jaccard,
    * containment) for candidate pairs with containment =
    * |A∩B| / min(|A|,|B|) ≥ `minContainment` — the asymmetric-duplicate
    * pass that catches a document quoted or embedded inside another,
    * which whole-doc Jaccard (x2) scores low and filters out.
    *
    * Candidates are the union of the symmetric MinHash-LSH pairs
    * (callers that already materialized them pass them in via
    * `extraCandidates` so the work is shared) and the rare-shingle
    * inverted index ([[rareShingleCandidates]]) that specifically
    * surfaces asymmetric pairs. Verification is the same sorted-hash-set
    * primitive merge as the Jaccard path — exact, allocation-free, and
    * run once per distinct candidate.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 2, maxDf: Int = 5,
                       minContainment: Double = 0.8,
                       extraCandidates: Option[DataFrame] = None): DataFrame = {
    val rare = rareShingleCandidates(docs, idCol, textCol, k, maxDf)
    val cands = extraCandidates
      .map(e => rare.unionByName(e.select(col("a_id"), col("b_id"))).distinct())
      .getOrElse(rare)
    val sets = shingleSigs(docs, idCol, textCol, Nil, k, nSig = 1)
      .select(col("id"), col("sh"))
    val inter = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.SortedLongIntersect(
        org.apache.spark.sql.GraftColumnBridge.expression(col("sa")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("sb"))))
    cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("sh").as("sb")), "b_id")
      .withColumn("inter", inter)
      .select(col("a_id"), col("b_id"),
        size(col("sa")).cast("long").as("la"),
        size(col("sb")).cast("long").as("lb"),
        col("inter").cast("long").as("inter"),
        round(col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")), 6).as("jaccard"),
        round(col("inter").cast("double") /
          least(size(col("sa")), size(col("sb"))), 6).as("containment"))
      .filter(col("containment") >= minContainment)
      .orderBy("a_id", "b_id")
  }

  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 window: Int = 16): DataFrame = {
    val chunks = TextAnalytics.chunk(docs, idCol, textCol, window, stride = window)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val winners = chunks.groupBy("chunk_text")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_idx").as("chunk_idx"),
        col("chunk_text"))
    val kept = winners.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("text_dedup"))
    val totals = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }
}
