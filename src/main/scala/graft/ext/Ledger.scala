package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import StoreLayout.StoreWrite

/** The PERSISTED, appendable curation ledger (VERDICT r9 "what's
  * missing" #2): the on-disk artifact a production ingestion pipeline
  * actually ships — one row per (document, modality) verdict, appended
  * per committed tranche, partitioned by (tranche, modality) so
  * downstream audits prune to the slice they read ("what did tranche
  * 17's image layer reject?" touches two partitions, never the
  * table).
  *
  * Verdicts are FINAL at arrival (the ledgerProbe first-seen
  * contract), so append-only growth is the correct discipline: no row
  * is ever revised, and the accumulated ledger over tranches 0..n
  * EQUALS the batch multimodal ledger computed over the union corpus
  * under arrival order (StreamingSpec asserts it on disk). Writes use
  * DYNAMIC partition overwrite: only the (tranche, modality)
  * partitions present in the written frame are replaced, so the table
  * grows append-shaped across tranches while a RE-RUN of a failed
  * tranche is idempotent — it replaces its own partitions and touches
  * nothing committed by other tranches (LedgerSpec asserts both).
  */
object Ledger {

  // one file per touched (tranche, modality) partition (the shared
  // StoreLayout append discipline): without the pre-write shuffle every
  // append lands as many files per partition as it had write tasks,
  // and the table goes file-count-bound at commit cadence
  private def write(rows: DataFrame, dir: String): Unit =
    rows.repartition(LedgerTable.partCols.map(col): _*)
      .storeWrite.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(LedgerTable.partCols: _*).parquet(dir)

  /** Append one tranche's verdicts for one modality. `verdicts` is the
    * ledgerProbe shape (doc_id, decision) — [[Dedup.ledgerProbe]],
    * [[ImageHash.ledgerProbe]] or [[VideoHash.ledgerProbe]] output
    * passes through unchanged.
    */
  def append(verdicts: DataFrame, tranche: Long, modality: String,
             dir: String): Unit =
    write(verdicts.select(col("doc_id"), col("decision"),
      lit(tranche).as("tranche"), lit(modality).as("modality")), dir)

  /** Append a full multimodal tranche in one call: `byModality` maps
    * modality name → that modality's (doc_id, decision) verdicts.
    * The modality frames union into ONE dynamic-overwrite write
    * (round-18, guide §2): the per-modality loop paid one full write
    * job per modality for rows the writer routes by column value
    * anyway — same rows, same (tranche, modality) partitions, same
    * one-file-per-partition layout, one job instead of five.
    */
  def appendTranche(byModality: Map[String, DataFrame], tranche: Long,
                    dir: String): Unit =
    if (byModality.nonEmpty)
      write(byModality.map { case (m, v) =>
        v.select(col("doc_id"), col("decision"),
          lit(tranche).as("tranche"), lit(m).as("modality"))
      }.reduce(_ unionByName _), dir)

  /** Append a frame that already carries its `modality` column — the
    * x112 composition: the batch multimodal ledger IS the artifact
    * that lands on disk, one write, rows routed to their
    * (tranche, modality) partitions by the writer.
    */
  def appendMultimodal(rows: DataFrame, tranche: Long, dir: String): Unit =
    write(rows.select(col("doc_id"), col("decision"),
      lit(tranche).as("tranche"), col("modality")), dir)

  // the ledger's full shape, declared so reads never depend on schema
  // inference — a store whose every tranche was retracted
  // ([[dropTranche]]) has no files to infer from but must read as the
  // empty ledger, not fail. Doc-keyed; no collapse key: appends replace
  // their own partitions, so a partition never holds duplicates
  private[ext] val LedgerTable = StoreLayout.Table(
    "doc_id BIGINT, decision STRING, tranche BIGINT, modality STRING",
    Seq("tranche", "modality"), erase = StoreLayout.ById("doc_id"))

  /** The ledger at `dir` as one maintained store. */
  private[graft] def store(dir: String): Maintenance.Store =
    Maintenance.Store(dir, Seq("" -> LedgerTable))

  /** The accumulated ledger: (doc_id, decision, tranche, modality).
    * Partition columns come back typed by the declared schema; cast to
    * the written shape so readers compare stably.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    StoreLayout.read(spark, dir, LedgerTable)
      .select(col("doc_id"), col("decision"),
        col("tranche").cast("long").as("tranche"),
        col("modality").cast("string").as("modality"))

  /** A tranche-range slice [from, to] of the ledger. The range filter
    * lands on the partition KEY before the projection's cast, so the
    * scan prunes to the named tranche directories — at production
    * tranche counts an incident audit ("what changed between commits
    * 4100 and 4200?") touches its slice, never the table.
    */
  def readRange(spark: SparkSession, dir: String, from: Long,
                to: Long): DataFrame =
    StoreLayout.read(spark, dir, LedgerTable)
      .filter(col("tranche") >= from && col("tranche") <= to)
      .select(col("doc_id"), col("decision"),
        col("tranche").cast("long").as("tranche"),
        col("modality").cast("string").as("modality"))

  /** Drop ONE tranche's verdict rows — a partition-pruned delete of the
    * `tranche=<id>` directory (all modalities), the ledger side of
    * [[Curation.retractTranche]]. Nothing outside the named tranche is
    * touched; dropping an absent tranche is a no-op.
    */
  def dropTranche(spark: SparkSession, dir: String, tranche: Long): Unit = {
    StoreSwap.fsOf(spark, dir).delete(
      new org.apache.hadoop.fs.Path(s"$dir/tranche=$tranche"), true)
    ()
  }

  /** The downstream monitor's view: verdict counts per (tranche,
    * modality, decision), ordered for drift reading — rejection-rate
    * trends over tranches are one window away. Scans only the
    * partition keys + decision column.
    */
  def auditSummary(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)
      .groupBy("tranche", "modality", "decision")
      .agg(count(lit(1)).as("n"))
      .orderBy("tranche", "modality", "decision")
}
