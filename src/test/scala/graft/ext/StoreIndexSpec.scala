package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** The r11 persisted standing indexes (probe-key partitioned text
  * near-dup store, banded hash index, video sequence index): every
  * indexed probe must be ROW-IDENTICAL to its in-memory twin on the
  * same data, read the store through literal partition filters, and
  * honor the re-run self-exclusion contract.
  */
class StoreIndexSpec extends SparkSpec {

  private def prunedPlan(df: org.apache.spark.sql.DataFrame,
                         part: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(s"PartitionFilters: \\[[^\\]]*$part".r.findFirstIn(plan).isDefined,
      s"no $part partition pruning on the standing scan:\n${plan.take(3000)}")
  }

  test("text probeView: pruned disk probe equals the in-memory ledgerProbe", graft.Slow) {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    // plant a byte-identical copy of a standing doc so the exact_dup
    // branch is live at this SF
    val tranche = docs.filter(col("doc_id") % 4 === 0)
      .unionAll(standing.orderBy("doc_id").limit(1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val dir = tempDir("ndidx") + "/text"
    Dedup.writeNearDupIndex(standing, "doc_id", "text", dir)
    val trIdx = Dedup.nearDupIndex(tranche, "doc_id", "text")
    val disk = Dedup.ledgerProbeFrom(
      Dedup.probeView(spark, dir, trIdx), trIdx, tranche, "doc_id")
    // pruning asserted on the SAME builder with checkpoints off (a
    // checkpointed frame's plan hides the file scan behind an RDD scan)
    prunedPlan(Dedup.ledgerProbeFrom(
      Dedup.probeView(spark, dir, trIdx, materialize = false),
      trIdx, tranche, "doc_id"), "bkp")
    val mem = Dedup.ledgerProbe(
      Dedup.nearDupIndex(standing, "doc_id", "text"), tranche,
      "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows(disk) == rows(mem))
    // every verdict branch is live in the fixture
    assert(rows(disk).map(_._2).toSet ==
      Set("exact_dup", "near_dup", "kept"))
    // self-exclusion: after appending the tranche itself (the failed-
    // commit shape), excluding its ids reproduces the same verdicts
    Dedup.writeNearDupIndexFrames(trIdx, dir)
    val rerun = Dedup.ledgerProbeFrom(
      Dedup.probeView(spark, dir, trIdx,
        Some(tranche.select("doc_id"))), trIdx, tranche, "doc_id")
    assert(rows(rerun) == rows(mem),
      "self-exclusion did not reproduce the first attempt")
  }

  test("banded hash index: indexed probe equals the in-memory ledgerProbe", graft.Slow) {
    import spark.implicits._
    // planted 64-bit hashes: 20 base patterns; standing carries base +
    // a duplicate, the tranche carries exact copies, 1-bit flips
    // (hamming 1 → near), a within-tranche duplicate pair and fresh
    // far-away patterns
    def base(g: Int): Long = 0x0101010101010101L * (g + 1)
    val standing = (0 until 20).flatMap(g =>
      Seq((100L + g, base(g)), (200L + g, base(g))))
      .toDF("doc_id", "hash")
    val tranche = (
      (0 until 5).map(g => (1000L + g, base(g))) ++          // exact
      (5 until 10).map(g => (1100L + g, base(g) ^ 4L)) ++    // near (1 bit)
      Seq((1200L, 0x4242424242424242L),                      // within pair
        (1201L, 0x4242424242424242L)) ++
      // fresh: the same byte-replicated pattern family (every pair of
      // family members is ≥ 8 bits apart — one bit per byte), far from
      // all standing multipliers and their 1-bit flips
      (0 until 5).map(g => (1300L + g, base(40 + g))))
      .toDF("doc_id", "hash")
    val dir = tempDir("hashidx") + "/img"
    ImageHash.appendHashIndex(standing, "doc_id", "hash", dir)
    val disk = ImageHash.ledgerProbeIndexed(spark, dir, tranche,
      "doc_id", "hash")
    prunedPlan(ImageHash.ledgerProbeIndexed(spark, dir, tranche,
      "doc_id", "hash", materialize = false), "bkp")
    val mem = ImageHash.ledgerProbe(standing, tranche, "doc_id", "hash")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows(disk) == rows(mem))
    assert(rows(disk).map(_._2).toSet ==
      Set("exact_dup", "near_dup", "kept"))
    // exact fixture accounting: 5 standing copies + 1 within-loser
    assert(rows(disk).count(_._2 == "exact_dup") == 6)
    assert(rows(disk).count(_._2 == "near_dup") == 5)
    // re-run shape: append the tranche, probe again with exclusion
    ImageHash.appendHashIndex(tranche, "doc_id", "hash", dir)
    val rerun = ImageHash.ledgerProbeIndexed(spark, dir, tranche,
      "doc_id", "hash", exclude = Some(tranche.select("doc_id")))
    assert(rows(rerun) == rows(mem),
      "self-exclusion did not reproduce the first attempt")
    // compaction collapses the double-banded rows without changing
    // geometry or verdicts
    Maintenance.rewrite(spark, ImageHash.hashStore(dir))
    assert(ImageHash.readHashIndexParams(spark, dir) == 8)
    val again = ImageHash.ledgerProbeIndexed(spark, dir, tranche,
      "doc_id", "hash", exclude = Some(tranche.select("doc_id")))
    assert(rows(again) == rows(mem))
  }

  test("video sequence index: indexed probe equals the in-memory ledgerProbe", graft.Slow) {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val tranche = docs.filter(col("doc_id") % 4 === 0)
    val sFrames = VideoHash.frameHashes(standing, "doc_id", "text")
    val tFrames = VideoHash.frameHashes(tranche, "doc_id", "text")
    val dir = tempDir("seqidx") + "/vid"
    VideoHash.appendSeqIndex(sFrames, dir)
    val disk = VideoHash.ledgerProbeIndexed(spark, dir, tFrames, tranche,
      "doc_id")
    prunedPlan(VideoHash.ledgerProbeIndexed(spark, dir, tFrames, tranche,
      "doc_id", materialize = false), "sqp")
    val mem = VideoHash.ledgerProbe(sFrames, tFrames, tranche, "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows(disk) == rows(mem))
    // re-run shape with exclusion + compaction stability
    VideoHash.appendSeqIndex(tFrames, dir)
    val rerun = VideoHash.ledgerProbeIndexed(spark, dir, tFrames, tranche,
      "doc_id", exclude = Some(tranche.select("doc_id")))
    assert(rows(rerun) == rows(mem),
      "self-exclusion did not reproduce the first attempt")
    Maintenance.rewrite(spark, VideoHash.seqStore(dir))
    val again = VideoHash.ledgerProbeIndexed(spark, dir, tFrames, tranche,
      "doc_id", exclude = Some(tranche.select("doc_id")))
    assert(rows(again) == rows(mem))
  }
}
