package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import StoreLayout.{ByContent, ById, Keep, StoreWrite, Table}

/** The one maintenance path of every index store: three passes over
  * the stores' table declarations ([[StoreLayout.Table]]), and nothing
  * store-specific.
  *
  *  - [[collapse]]: bucket-local collapse of drifted leaf buckets. Exact
  *    bucket by bucket, because every bucket value is a function of the
  *    table's collapse key (bk → bkp, ch → chp, vec_id → idp; IVF's
  *    frozen codebook routes every copy of a vec_id to one cell).
  *  - [[erase]]: surgical erasure of a takedown, rewriting only the
  *    buckets the retracted rows live in.
  *  - [[rewrite]]: the store-wide pass — every table collapsed, a
  *    takedown applied, the new store swapped in whole
  *    ([[StoreSwap.swap]]).
  *
  * [[Curation.maintain]] runs [[rewrite]] over every store;
  * [[Curation.maintainDue]] runs [[erase]] and [[collapse]] over what
  * is due.
  */
private[graft] object Maintenance {

  /** One maintained store: its tables by path relative to `root` (an
    * empty path is the root itself). The root is what a store-wide
    * [[rewrite]] swaps. `guard` runs before any rewrite and refuses by
    * throwing (the IVF store while a cell split is in flight).
    */
  final case class Store(root: String, tables: Seq[(String, Table)],
                         guard: () => Unit = () => ()) {
    def path(rel: String): String = if (rel.isEmpty) root else s"$root/$rel"

    /** The tables whose file count can drift: every one with a bucket
      * column or a collapse key. A parameter table has neither; a
      * rewrite copies it as it is. */
    def maintained: Seq[String] = tables.collect {
      case (rel, t) if t.partCols.nonEmpty || t.collapse.nonEmpty => path(rel)
    }

    def erasable: Boolean = tables.exists(_._2.erase != Keep)

    private[Maintenance] def tableOf(leaf: String): Table =
      tables.collectFirst {
        case (rel, t) if t.partCols.nonEmpty && leaf.startsWith(path(rel) + "/") => t
      }.getOrElse(throw new IllegalArgumentException(
        s"$leaf is not a leaf bucket of the store at $root"))
  }

  /** Collapse duplicate rows and per-append small files in ONLY the
    * named leaf bucket directories — write work bounded by the buckets
    * that drifted, never the store. A table with no collapse key (the
    * ledger) is re-packed as it is.
    */
  def collapse(spark: SparkSession, s: Store, leafDirs: Seq[String]): Unit =
    if (leafDirs.nonEmpty) {
      s.guard()
      leafDirs.groupBy(s.tableOf).foreach { case (t, ds) =>
        StoreSwap.rewriteLeafDirsShared(spark, ds, t.collapsed)
      }
    }

  /** The most buckets one erasure discovers by scanning a table; a
    * takedown that reaches more rewrites the store whole. Tables bucketed
    * by `part(key)` have at most [[StoreLayout.Parts]]; the bound holds
    * the IVF cells and the ledger's (tranche, modality) partitions.
    */
  private val MaxScannedBuckets = 4096

  /** Physically erase the ids in `ids`' first column from the store by
    * rewriting ONLY the buckets their rows live in.
    *
    * Discovery never reads a payload column. The buckets holding given
    * values of a column are computed ([[StoreLayout.partsOf]]) when the
    * table's bucket key is that column, and otherwise found by a
    * column-pruned scan of (column, bucket columns).
    *
    * A doc-keyed store is one anti-join per table. A content-keyed
    * store is scrubbed members first: the retracted ids' member rows go,
    * then the contents left with no surviving member go from the
    * dependent tables, found through those contents' buckets. The
    * members scrub is the one correctness-critical step: probes derive
    * a content's liveness from its members at read time, so dependent
    * rows orphaned by a crash between the steps are verdict-neutral
    * space the next rewrite reclaims. Every step is idempotent, and a
    * crash mid-pass leaves the remaining rows tombstone-excluded (the
    * applied watermark advances only after this returns), so a re-run
    * completes the erasure.
    *
    * An erasable table with no bucket column, or a takedown reaching
    * more than [[MaxScannedBuckets]] buckets of a scanned table, takes
    * the store-wide [[rewrite]] instead.
    */
  def erase(spark: SparkSession, s: Store, ids: DataFrame): Unit = {
    val fs = StoreSwap.fsOf(spark, s.root)
    def exists(d: String) = fs.exists(new Path(d))
    val tables = s.tables.filter { case (rel, _) => exists(s.path(rel)) }
      .map { case (rel, t) => (s.path(rel), t) }
    val members = tables.flatMap { case (p, t) =>
      t.erase match { case ById(c) => Some((p, t, c)); case _ => None } }
    val dependents = tables.flatMap { case (p, t) =>
      t.erase match { case ByContent(c) => Some((p, t, c)); case _ => None } }
    if ((members ++ dependents).exists(_._2.partCols.isEmpty))
      return rewrite(spark, s, Some(ids))
    s.guard()
    val idf = ids.select(col(ids.columns.head)).localCheckpoint()
    def idsAs(c: String) = idf.toDF(c)
    def leaf(p: String, t: Table, v: Seq[Any]) =
      t.partCols.zip(v).map { case (pc, x) => s"$pc=$x" }.mkString(s"$p/", "/", "")
    // the bucket values of table `t` at `p` holding rows whose column
    // `c` is in `victims`; None past the bound
    def touched(p: String, t: Table, c: String,
                victims: DataFrame): Option[Seq[Seq[Any]]] =
      if (t.key == c) Some(StoreLayout.partsOf(victims, col(c)).map(Seq(_)))
      else {
        // bucket values come back typed by the read (INT for a small
        // value, the declared type otherwise): rendered, never assumed
        val vs = StoreLayout.read(spark, p, t)
          .join(broadcast(victims), Seq(c), "left_semi")
          .select(t.partCols.map(col): _*).distinct()
          .limit(MaxScannedBuckets + 1).collect()
          .map(r => t.partCols.indices.map(r.get)).toSeq
        if (vs.size > MaxScannedBuckets) None else Some(vs)
      }
    def scrub(dirs: Seq[String], c: String, victims: DataFrame): Unit =
      StoreSwap.rewriteLeafDirsShared(spark, dirs.filter(exists),
        (df: DataFrame) => df.join(broadcast(victims), Seq(c), "left_anti"))
    if (dependents.isEmpty) {
      val plan = members.map { case (p, t, c) =>
        (p, t, c, touched(p, t, c, idsAs(c))) }
      if (plan.exists(_._4.isEmpty)) return rewrite(spark, s, Some(ids))
      plan.foreach { case (p, t, c, vs) =>
        scrub(vs.get.map(leaf(p, t, _)), c, idsAs(c)) }
    } else {
      require(members.size == 1 && dependents.map(_._3).distinct.size == 1,
        s"a content-keyed store has one member table and one content column: ${s.root}")
      val (mp, mt, id) = members.head
      val cc = dependents.head._3
      val mem = StoreLayout.read(spark, mp, mt)
      // the contents the retracted ids belong to: bounded by the
      // takedown (docs × contents per doc), checkpointed, never collected
      val hit = mem.join(broadcast(idsAs(id)), Seq(id), "left_semi")
        .select(cc).distinct().localCheckpoint()
      val mv = touched(mp, mt, cc, hit)
        .getOrElse(return rewrite(spark, s, Some(ids)))
      if (mv.isEmpty) return
      // contents with NO surviving member leave the dependents too —
      // decided BEFORE the scrub, from the touched buckets only (a
      // content's membership lives in one bucket)
      val survivors =
        if (mt.partCols.size != 1) mem
        else StoreLayout.read(spark, mp, mt, Some(mv.map(_.head)))
          .filter(col(mt.partCol).isin(mv.map(_.head): _*))
      val dead = hit.join(
          survivors.join(broadcast(idsAs(id)), Seq(id), "left_anti")
            .select(cc).distinct(),
          Seq(cc), "left_anti").localCheckpoint()
      val anyDead = dead.limit(1).count() > 0
      val dv = if (!anyDead) Seq.empty
        else dependents.map { case (p, t, c) =>
          (p, t, touched(p, t, c, dead)) }
      if (dv.exists(_._3.isEmpty)) return rewrite(spark, s, Some(ids))
      // members first (the correctness-critical step), then the
      // dependents — skipped entirely when every touched content keeps
      // a surviving member (the common takedown: rows die, no content)
      scrub(mv.map(leaf(mp, mt, _)), id, idsAs(id))
      if (anyDead)
        scrub(dv.flatMap { case (p, t, vs) => vs.get.map(leaf(p, t, _)) },
          cc, dead)
    }
  }

  /** Rewrite the store whole and swap it in: every table's rows
    * collapsed by its collapse key, `removeIds` erased (doc-keyed rows
    * of the ids, then contents left with no surviving member), bucketed
    * tables re-packed at one file per bucket, other tables at
    * [[StoreSwap.filesFor]] their bytes (a parameter table is copied
    * as it is). The new store is written to `<root>.compact` first and
    * the previous one kept under `<root>.old` ([[StoreSwap.swap]]).
    * Probe results are unchanged by construction: every probe reads
    * through the same collapse.
    */
  def rewrite(spark: SparkSession, s: Store,
              removeIds: Option[DataFrame] = None): Unit = {
    s.guard()
    val fs = StoreSwap.fsOf(spark, s.root)
    val tables = s.tables.filter { case (rel, _) =>
      fs.exists(new Path(s.path(rel))) }
    def erased(rel: String, t: Table): DataFrame = {
      val df = StoreLayout.read(spark, s.path(rel), t)
      (t.erase, removeIds) match {
        case (ById(c), Some(ids)) =>
          df.join(ids.select(col(ids.columns.head).as(c)), Seq(c), "left_anti")
        case (ByContent(c), Some(_)) =>
          // the contents that keep a surviving member
          val live = tables.collectFirst {
            case (mr, mt) if mt.erase.isInstanceOf[ById] =>
              erased(mr, mt).select(c).distinct() }
          live.fold(df)(df.join(_, Seq(c), "left_semi"))
        case _ => df
      }
    }
    val tmp = StoreSwap.prepareTmp(spark, s"${s.root}.compact")
    // tables are independent directories: written concurrently
    StoreSwap.concurrently(tables.map { case (rel, t) => () =>
      val out = t.collapsed(erased(rel, t))
      val dest = if (rel.isEmpty) tmp else s"$tmp/$rel"
      if (t.partCols.isEmpty)
        out.coalesce(StoreSwap.filesFor(
            fs.getContentSummary(new Path(s.path(rel))).getLength))
          .storeWrite.parquet(dest)
      else
        out.repartition(t.partCols.map(col): _*)
          .storeWrite.partitionBy(t.partCols: _*).parquet(dest)
    }: _*)
    StoreSwap.swap(spark, s.root, tmp)
  }
}
