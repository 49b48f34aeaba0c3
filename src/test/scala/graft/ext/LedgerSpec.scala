package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted curation ledger's write discipline: append-shaped
  * growth across tranches, idempotent re-run of a single tranche
  * (dynamic partition overwrite — a retried failed tranche replaces
  * its own partitions and touches nothing committed), and the
  * partition-pruned audit view.
  */
class LedgerSpec extends SparkSpec {

  private def verdicts(ids: Seq[(Long, String)]) = {
    import spark.implicits._
    ids.toDF("doc_id", "decision")
  }

  test("tranche appends accumulate; re-running one tranche is idempotent") {
    val dir = tempDir("ledidem")
    Ledger.append(verdicts(Seq(1L -> "kept", 2L -> "exact_dup")),
      0L, "text", dir)
    Ledger.append(verdicts(Seq(3L -> "near_dup")), 1L, "text", dir)
    Ledger.append(verdicts(Seq(1L -> "kept")), 0L, "image", dir)
    val once = Ledger.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    assert(once.size == 4)
    // a failed tranche re-runs: same tranche, same modality, same rows
    // — the ledger must not double-count
    Ledger.append(verdicts(Seq(1L -> "kept", 2L -> "exact_dup")),
      0L, "text", dir)
    val twice = Ledger.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    assert(twice == once, "tranche re-run double-counted")
    // and a re-run only replaces ITS partitions: tranche 1 and the
    // tranche-0 image layer survived untouched
    assert(twice.contains((3L, "near_dup", 1L, "text")))
    assert(twice.contains((1L, "kept", 0L, "image")))
  }

  test("compact: one file per partition, rows exact, old store retained") {
    val dir = tempDir("ledcomp") + "/ledger"
    // several appends per (tranche, modality) partition — the
    // accumulation shape that makes the table file-count-bound
    Ledger.append(verdicts((1L to 40L).map(_ -> "kept")), 0L, "text", dir)
    Ledger.append(verdicts(Seq(41L -> "exact_dup")), 0L, "image", dir)
    Ledger.append(verdicts((1L to 30L).map(_ -> "near_dup")), 1L, "text", dir)
    def files(d: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).filter(_.getName.endsWith(".parquet"))
    }
    def rows(d: String) = Ledger.read(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    // the append writer lands one file per touched partition; simulate
    // a LEGACY fragmented store (pre-shuffle writer shape) with a raw
    // multi-task append — the accumulation the compactor exists for
    verdicts((60L to 70L).map(_ -> "kept"))
      .withColumn("tranche", lit(0L)).withColumn("modality", lit("text"))
      .repartition(4)
      .write.mode("append").partitionBy("tranche", "modality").parquet(dir)
    val before = rows(dir)
    assert(files(dir).size > 3, s"premise: >1 file somewhere, got ${files(dir).size}")
    Maintenance.rewrite(spark, Ledger.store(dir))
    assert(rows(dir) == before, "compaction changed the ledger's rows")
    val perPart = files(dir).groupBy(_.getParentFile.getPath)
    assert(perPart.size == 3 && perPart.values.forall(_.size == 1),
      s"expected one file per (tranche, modality) partition: " +
        perPart.view.mapValues(_.size).toMap.toString)
    assert(new java.io.File(s"$dir.old").isDirectory,
      "previous store not retained for rollback")
    // appends continue against the compacted store unchanged
    Ledger.append(verdicts(Seq(50L -> "kept")), 2L, "text", dir)
    assert(rows(dir).size == before.size + 1)
    // maintenance is re-runnable: a second compaction replaces the
    // stale .old instead of failing on it — and a stale tmp from a
    // CRASHED earlier pass is cleared, not tripped over
    val staleTmp = new java.io.File(s"$dir.compact/bands")
    staleTmp.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir.compact/bands/junk"), "crashed pass")
    val after = rows(dir)
    Maintenance.rewrite(spark, Ledger.store(dir))
    assert(rows(dir) == after)
  }

  test("readRange reads only its tranche partitions (structural pruning)") {
    val dir = tempDir("ledrange") + "/ledger"
    (0L to 4L).foreach { t =>
      Ledger.append(verdicts(Seq(t * 10 -> "kept", t * 10 + 1 -> "near_dup")),
        t, "text", dir)
      Ledger.append(verdicts(Seq(t * 10 + 2 -> "kept")), t, "image", dir)
    }
    val sliced = Ledger.readRange(spark, dir, 1L, 2L)
    val got = sliced.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    assert(got.map(_._3).distinct.sorted == Seq(1L, 2L))
    assert(got.size == 6)
    // the range filter must land on the partition key: the executed
    // scan reads 2 tranches x 2 modalities = 4 of 10 directories
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case s: QueryStageExec => fileScans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(fileScans)
    }
    sliced.collect()
    val parts = fileScans(sliced.queryExecution.executedPlan)
      .headOption.map(_.selectedPartitions.partitionCount)
    assert(parts.contains(4), s"expected 4 of 10 partitions read, got $parts")
  }

  test("auditSummary counts per (tranche, modality, decision)") {
    val dir = tempDir("ledaudit")
    Ledger.append(verdicts(Seq(1L -> "kept", 2L -> "kept", 3L -> "exact_dup")),
      0L, "text", dir)
    Ledger.append(verdicts(Seq(4L -> "near_dup", 5L -> "kept")), 1L, "text", dir)
    val got = Ledger.auditSummary(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (0L, "text", "exact_dup", 1L),
      (0L, "text", "kept", 2L),
      (1L, "text", "kept", 1L),
      (1L, "text", "near_dup", 1L)))
  }
}
