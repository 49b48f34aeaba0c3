package graft.queries

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ext.{Curation, IvfIndex, KMeans, PQ}
import graft.model.Tables

/** The shared one-time builds behind the declared rows: which exist, in
  * what order [[graft.Bench]] times them, and how each is cached. Every
  * shared persisted or memoized artifact is built up front and timed as
  * its own Bench line item, so no declared query absorbs a build's cost
  * and a build that doubles trips the regression gate like any query.
  */
object Builds {

  /** One value per (session, corpus), built on first use — the corpus
    * under `sfDir` is immutable by the driver contract. Entries of
    * stopped sessions are dropped first, so the map pins no dead session
    * (and its cached blocks) for the JVM lifetime. Each memo keeps its
    * own map: a build may read another memo while it is being built
    * (`releaseStores` reads `retractionStores`), and one shared
    * `ConcurrentHashMap` would refuse that nested `computeIfAbsent`.
    */
  private[queries] final class Memo[V](build: (SparkSession, String) => V) {
    private val built =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()
    def apply(spark: SparkSession, sfDir: String): V = {
      built.keySet.removeIf(_._1.sparkContext.isStopped)
      built.computeIfAbsent((spark, sfDir),
        (k: (SparkSession, String)) => build(k._1, k._2))
    }
  }

  /** A fresh, empty curation deployment: every store under one
    * janitored temp root named by `prefix`; `withPq` also names a PQ
    * serving index there.
    */
  private[graft] def deployment(prefix: String,
                                withPq: Boolean = false): Curation.Stores = {
    val root = graft.Bench.freshDeploymentRoot(prefix)
    Curation.Stores(s"$root/text", s"$root/img", s"$root/aud", s"$root/vid",
      s"$root/emb", s"$root/led", pqIndex = if (withPq) s"$root/pq" else "")
  }

  // Bench's own curation deployment: the production ingestion loop
  // (Curation.commitTranche) as two line items, following the x87
  // discipline — the one-time bootstrap (IVF codebook trained on the
  // bootstrap slice's embeddings + 25% of the corpus onto empty stores)
  // and the RECURRING steady-state commit (a 5% tranche probing real
  // standing stores, embeddings included). Every standing side is read
  // through literal partition filters, so the commit line is the one
  // that must stay tranche-proportional as deployments grow (the
  // doubled-standing flatness pair is asserted in ScaleSmoke). A failed
  // bootstrap is kept, not retried: the commit then refuses to run, so
  // a misleadingly cheap commit over half-bootstrapped stores never
  // enters the regression baseline.
  private def benchTranche(spark: SparkSession, sfDir: String,
                           pred: org.apache.spark.sql.Column) =
    Tables.documents(spark, sfDir).select("doc_id", "text").filter(pred)

  private val benchCuration = new Memo((spark, sfDir) => Try {
    val stores = deployment("benchcur")
    val boot = benchTranche(spark, sfDir, col("doc_id") % 4 === 0)
    // the bootstrap tranche commits without the embedding modality: its
    // vectors ARE the trained store, re-appending them would only
    // duplicate rows
    IvfIndex.write(Tables.embeddings(spark, sfDir)
      .join(boot.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select("vec_id", "embedding"), stores.embedding)
    Curation.commitTranche(boot, 0L, stores)
    stores
  })

  private def benchCommit(spark: SparkSession, sfDir: String): Unit = {
    val stores = benchCuration(spark, sfDir).getOrElse(
      throw new IllegalStateException("skipped: the bootstrap failed"))
    val b = benchTranche(spark, sfDir, col("doc_id") % 20 === 1)
    Curation.commitTranche(b, 1L, stores,
      embeddings = Some(Tables.embeddings(spark, sfDir)
        .join(b.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")))
  }

  private[graft] type Build = (SparkSession, String) => Unit
  private def item(name: String)(build: Build): (String, Build) = name -> build

  /** Every Bench build line item, in the order Bench times them. Each
    * entry builds its artifact for (session, corpus); entries that read
    * an earlier entry's artifact (the ledger kernels read the pairs and
    * standing index, the release publishes ride the retraction
    * deployment, the recall probe reads the x129 deployment) find it
    * memoized, so each line prices its own work.
    */
  private[graft] val table: Seq[(String, Build)] = {
    import ExtQueries._
    Seq(
      // the shared persisted link corpus: ~16 queries start from it
      item("synthlinks_build")((s, d) => SynthLinks.links(s, d).count()),
      // the MinHash-LSH pairs behind x2/x17/x38/x58/x61
      item("neardup_pairs_build")((s, d) => nearDupPairs(s, d).count()),
      // PQ and coarse k-means training: x26/x27/x51/x52/x53 train on
      // exactly these keys, so they read the memoized codebooks
      item("pq_train_build")((s, d) => PQ.codes(Tables.embeddings(s, d),
        m = 4, k = 4, iters = 2, subWidth = 16).count()),
      item("kmeans_train_build")((s, d) =>
        KMeans.assign(Tables.embeddings(s, d), k = 8, iters = 2).count()),
      item("quality_train_build")((s, d) => qualityWeights(s, d).count()),
      item("neardup_index_build") { (s, d) =>
        val idx = standingNearDupIndex(s, d)
        idx.bands.count(); idx.sets.count(); idx.members.count()
      },
      // the kernel frames' lazy tails are independent: materialize them
      // concurrently, like the cluster builds inside the kernel memo
      item("ledger_kernels_build") { (s, d) =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        ledgerKernels(s, d).frames.map(f => Future(f.count()))
          .foreach(Await.result(_, Duration.Inf))
      },
      item("unigram_train_build")(unigramLmModel(_, _)),
      // the persisted standing stores and deployments the x117, x121,
      // x124, x125, x127, x128, x129, x134 and x138 rows read back
      item("phash_index_build")(phashIndexDir(_, _)),
      item("videoseq_index_build")(seqIndexDir(_, _)),
      item("commit_sequence_build")(commitSequenceLedger(_, _)),
      item("retraction_build")(retractionStores(_, _)),
      item("fsck_audit_build")(fsckStores(_, _)),
      item("pq_serve_build")(pqServingDir(_, _)),
      item("pq_commit_build")(pqCommitStores(_, _)),
      item("release_publish_build")(releaseStores(_, _)),
      // the sampled self-recall probe over the x129 deployment: its scale
      // argument is this line staying sample-bounded, never corpus-priced
      item("recall_probe_build")((s, d) => Curation.maintenanceReport(s,
        pqCommitStores(s, d), minRecall = 0.01).collect()),
      item("release_registry_build")(registryStores(_, _)),
      item("curation_bootstrap_build")(benchCuration(_, _).get),
      item("curation_commit_build")(benchCommit))
  }
}
