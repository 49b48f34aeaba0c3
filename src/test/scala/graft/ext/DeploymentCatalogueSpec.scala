package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobLog, SparkSpec}
import graft.model.Tables

/** What every deployment-wide arc reads off a deployment's stores:
  * census rows, maintenance units, fsck checks, export content refs,
  * snapshot role directories and a store-wide swap's repair. Pinned on
  * the ingest benchmark's IVF deployment ([[StoreLayoutSpec.deployment]]
  * with its next tranche committed, audio hashes added) and on a small
  * flat-embedding deployment, so a change to how the stores are
  * declared cannot move any of them.
  */
class DeploymentCatalogueSpec extends SparkSpec {

  private def audOf(b: DataFrame) =
    b.select(col("doc_id"), xxhash64(col("text"), lit("audio")).as("hash"))

  private lazy val ivf: (String, Curation.Stores) = {
    val root = tempDir("catalogue")
    val d = StoreLayoutSpec.deployment(spark, sf(), root)
    Curation.commitTranche(d.tranche, 1L, d.stores, imgHashes = Some(d.imgs),
      audHashes = Some(audOf(d.tranche)), vidFrames = Some(d.vids),
      embeddings = Some(d.embs))
    (root, d.stores)
  }

  private lazy val flat: (String, Curation.Stores) = {
    val root = tempDir("catflat")
    val st = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led")
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
      .filter(col("doc_id") < 60)
    val emb = Tables.embeddings(spark, sf()).join(
      docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    Curation.commitTranche(docs.filter(col("doc_id") % 2 === 0), 0L, st,
      imgHashes = Some(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), xxhash64(col("text")).as("hash"))),
      embeddings = Some(emb.filter(col("vec_id") % 2 === 0)))
    Curation.commitTranche(docs.filter(col("doc_id") % 2 === 1), 1L, st,
      embeddings = Some(emb.filter(col("vec_id") % 2 === 1)))
    Curation.retract(spark, docs.select("doc_id").filter(col("doc_id") < 4), st)
    (root, st)
  }

  private def census(st: Curation.Stores): Seq[(String, String, Long)] =
    Curation.storeCensus(spark, st).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  private def reportStores(st: Curation.Stores): Seq[String] =
    Curation.maintenanceReport(spark, st).collect().map(_.getString(0))
      .toSeq.sorted

  private def fsckChecks(st: Curation.Stores): Seq[String] =
    Curation.fsck(spark, st).collect().map(_.getString(0)).toSeq

  private def exportRefs(st: Curation.Stores): Seq[(String, Long)] = {
    Curation.publishRelease(spark, st, 1L)
    Curation.exportRelease(spark, st, 1L)
      .filter(col("content_ref").isNotNull)
      .groupBy("modality").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
  }

  private def snapshotRoles(st: Curation.Stores, dest: String): Seq[String] = {
    Curation.snapshot(spark, st, dest)
    new java.io.File(dest).listFiles().map(_.getName).toSeq.sorted
  }

  test("the IVF deployment's census, units, checks, export refs, snapshot roles and swap repair") {
    val (root, st) = ivf
    assert(census(st) == Seq(
      ("audio_index", "band_rows", 800L), ("audio_index", "hashes", 100L),
      ("audio_index", "member_rows", 100L), ("embedding_ivf", "cells", 4L),
      ("embedding_ivf", "max_skew_pct", 112L), ("embedding_ivf", "vectors", 500L),
      ("id_registry", "ids", 500L), ("image_index", "band_rows", 4000L),
      ("image_index", "hashes", 500L), ("image_index", "member_rows", 500L),
      ("ledger", "rows", 1700L), ("pq_index", "code_rows", 1884L),
      ("pq_index", "retired_generations", 0L), ("pq_index", "vectors", 471L),
      ("text_index", "band_rows", 4000L), ("text_index", "contents", 500L),
      ("text_index", "member_rows", 500L), ("text_index", "set_rows", 500L),
      ("tombstones", "ids", 3L), ("video_index", "seq_rows", 500L),
      ("video_index", "shingle_rows", 2140L)))
    assert(reportStores(st) == Seq("audio_index", "embedding_ivf",
      "id_registry", "image_index", "ledger", "pq_index", "text_index",
      "tombstones", "video_index"))
    assert(fsckChecks(st) == Seq("audio_index_crashed_rewrite",
      "audio_index_watermark", "audio_tombstoned_members",
      "embedding_ivf_crashed_rewrite", "embedding_ivf_watermark",
      "embedding_tombstoned_vectors", "id_registry_crashed_rewrite",
      "image_index_crashed_rewrite", "image_index_watermark",
      "image_tombstoned_members", "ivf_cells_in_codebook",
      "ledger_crashed_rewrite", "ledger_ids_registered",
      "ledger_tombstoned_rows", "ledger_watermark",
      "pq_index_crashed_rewrite", "pq_index_watermark", "pq_publish",
      "pq_tombstoned_codes", "text_contents_in_sets",
      "text_index_crashed_rewrite", "text_index_watermark",
      "text_members_registered", "text_tombstoned_members",
      "tombstones_crashed_rewrite", "video_index_crashed_rewrite",
      "video_index_watermark", "video_tombstoned_seqs"))
    assert(exportRefs(st) == Seq("text" -> 473L, "video" -> 475L))
    assert(snapshotRoles(st, tempDir("catsnap") + "/s") == Seq(
      ".ledger.format.crc", ".tombstones.epoch.crc", "_files", "_meta",
      "audio", "audio.init", "embedding", "embedding.init", "ids", "ids.init",
      "image", "image.init", "ledger", "ledger.format", "ledger.init", "pq",
      "pq.init", "releases", "releases_registry", "text", "text.init",
      "tombstones", "tombstones.epoch", "tombstones.init", "video",
      "video.init"))
    // a store-wide swap that crashed between its renames: the live
    // image store is gone, its complete replacement stands in the tmp
    assert(new java.io.File(st.image)
      .renameTo(new java.io.File(s"${st.image}.compact")))
    assert(Curation.repair(spark, st).map(_.replace(root, "<root>")) ==
      Seq("promoted <root>/img.compact to <root>/img (image store-wide swap crash)"))
  }

  test("the flat-embedding deployment's census, units, checks and export refs") {
    val (_, st) = flat
    assert(census(st) == Seq(("embedding_flat", "vectors", 60L),
      ("id_registry", "ids", 60L), ("image_index", "band_rows", 240L),
      ("image_index", "hashes", 30L), ("image_index", "member_rows", 30L),
      ("ledger", "rows", 150L), ("text_index", "band_rows", 480L),
      ("text_index", "contents", 60L), ("text_index", "member_rows", 60L),
      ("text_index", "set_rows", 60L), ("tombstones", "ids", 4L)))
    assert(reportStores(st) == Seq("embedding_flat", "id_registry",
      "image_index", "ledger", "text_index", "tombstones"))
    assert(fsckChecks(st) == Seq("embedding_flat_crashed_rewrite",
      "embedding_flat_watermark", "id_registry_crashed_rewrite",
      "image_index_crashed_rewrite", "image_index_watermark",
      "image_tombstoned_members", "ledger_crashed_rewrite",
      "ledger_ids_registered", "ledger_tombstoned_rows", "ledger_watermark",
      "text_contents_in_sets", "text_index_crashed_rewrite",
      "text_index_watermark", "text_members_registered",
      "text_tombstoned_members", "tombstones_crashed_rewrite"))
    assert(exportRefs(st) == Seq("text" -> 54L))
  }

  test("storeCensus plans every store read on the driver") {
    val (_, st) = ivf
    // premise: the text member table spans more bucket directories than
    // Spark lists without a job
    val buckets = new java.io.File(s"${st.textIndex}/members").listFiles()
      .count(_.getName.startsWith("chp="))
    assert(buckets == StoreLayout.Parts, s"premise: $buckets text member buckets")
    val (_, jobs) = JobLog.during(spark)(Curation.storeCensus(spark, st).collect())
    assert(!jobs.exists(_.listing), s"storeCensus started " +
      s"${jobs.count(_.listing)} partition-listing jobs")
  }
}
