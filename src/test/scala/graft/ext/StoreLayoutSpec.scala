package graft.ext

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{JobLog, ProcLog, SparkSpec}
import graft.model.Tables

/** The commit path's store reader ([[StoreLayout.read]]) against
  * `spark.read.parquet` on every table it serves: same rows, same
  * partition filters in the executed plan, hidden entries skipped, flat
  * tables still readable, no Spark job to plan any of it; every
  * declared read schema equal to what its writer produces; and the
  * store writer ([[StoreLayout.LocalFs]]) against a plain Spark write:
  * same tree, bytes and modes, no process started.
  */
class StoreLayoutSpec extends SparkSpec {
  import StoreLayoutSpec._

  private lazy val dep = {
    val d = deployment(spark, sf(), tempDir("layout"))
    Curation.commitTranche(d.tranche, 1L, d.stores, imgHashes = Some(d.imgs),
      vidFrames = Some(d.vids), embeddings = Some(d.embs))
    d
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def partitionFilters(df: DataFrame): Option[String] =
    "PartitionFilters: \\[[^\\]]*\\]".r
      .findFirstIn(df.queryExecution.executedPlan.toString)
      .map(_.replaceAll("#\\d+", "")) // expression ids differ per plan

  test("every declared read schema equals what its writer produces") {
    tables(spark, dep.stores).filter(_._3.schema.nonEmpty)
      .foreach { case (name, dir, t) =>
        val written = spark.read.parquet(dir).schema
        assert(t.schema.get == written,
          s"$name declares ${t.ddl} but its writer produces ${written.toDDL}")
      }
  }

  test("the reader returns spark.read.parquet's rows and partition filters, planning no job") {
    tables(spark, dep.stores).foreach { case (name, dir, t) =>
      val theirs = spark.read.parquet(dir)
      val (mine, jobs) = JobLog.during(spark)(StoreLayout.read(spark, dir, t))
      assert(jobs.isEmpty, s"$name: planning the read started $jobs")
      assert(mine.schema == theirs.schema, s"$name: schema")
      assert(rows(mine) == rows(theirs), s"$name: rows")
      if (t.partCol.nonEmpty) {
        val pc = col(t.partCol)
        val all = theirs.select(pc).distinct().collect().map(_.get(0))
        assert(all.length == StoreLayout.Parts || name.startsWith("tombstones") ||
          name.startsWith("ivf"), s"$name: premise, ${all.length} buckets")
        val ps = all.sortBy(_.toString).take(3).toSeq
        val (slice, sliceJobs) = JobLog.during(spark)(
          StoreLayout.read(spark, dir, t, Some(ps)).filter(pc.isin(ps: _*)))
        assert(sliceJobs.isEmpty, s"$name: planning the slice started $sliceJobs")
        val ref = theirs.filter(pc.isin(ps: _*))
        assert(rows(slice) == rows(ref), s"$name: sliced rows")
        assert(partitionFilters(slice).isDefined &&
          partitionFilters(slice) == partitionFilters(ref),
          s"$name: ${partitionFilters(slice)} vs ${partitionFilters(ref)}")
      }
    }
  }

  test("hidden files and directories are never read") {
    val src = s"${dep.stores.image}/members"
    val dir = tempDir("hidden") + "/members"
    val fs = StoreSwap.fsOf(spark, src)
    FileUtil.copy(fs, new Path(src), fs, new Path(dir), false,
      spark.sessionState.newHadoopConf())
    val bucket = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("hp=")).head
    val data = fs.listStatus(bucket).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    // real parquet rows under every hidden name Spark and StoreSwap use:
    // reading any of them would duplicate rows
    def plant(to: Path): Unit =
      FileUtil.copy(fs, data, fs, to, false, spark.sessionState.newHadoopConf())
    plant(new Path(dir, "_junk.parquet"))
    plant(new Path(dir, ".hidden.parquet"))
    plant(new Path(dir, s".compact_${bucket.getName}/part-0.parquet"))
    plant(new Path(dir, s".old_${bucket.getName}/part-0.parquet"))
    plant(new Path(dir, "_temporary/0/part-0.parquet"))
    plant(new Path(bucket, "_tmp.parquet"))
    plant(new Path(bucket, ".part-copy.parquet"))
    plant(new Path(bucket, "part-copy.parquet._COPYING_"))
    val expect = rows(spark.read.parquet(src))
    assert(rows(StoreLayout.read(spark, dir, ImageHash.MembersTable)) == expect)
    assert(rows(StoreLayout.read(spark, dir, ImageHash.MembersTable,
      Some(Seq(bucket.getName.drop(3))))) ==
      rows(spark.read.parquet(src).filter(col("hp") === bucket.getName.drop(3).toInt)))
    // Spark's own discovery agrees on the same directory
    assert(rows(spark.read.parquet(dir)) == expect)
  }

  test("flat tables read correctly, declared flat or left from a legacy layout") {
    val params = s"${dep.stores.textIndex}/params"
    assert(rows(StoreLayout.read(spark, params, Dedup.ParamsTable)) ==
      rows(spark.read.parquet(params)))
    // a pre-partitioned flat copy of a partitioned table: read whole,
    // without the partition column, exactly as Spark reads it
    val flat = tempDir("flat") + "/members"
    spark.read.parquet(s"${dep.stores.image}/members").drop("hp")
      .write.parquet(flat)
    val mine = StoreLayout.read(spark, flat, ImageHash.MembersTable, Some(Seq(1, 2)))
    assert(!mine.columns.contains("hp"))
    assert(rows(mine) == rows(spark.read.parquet(flat)))
  }

  // every entry under `root` by relative path (writer UUIDs masked):
  // its POSIX mode bits, sticky/setuid/setgid included, and a file's bytes
  private def tree(root: String): Map[String, (Int, Seq[Byte])] = {
    val r = java.nio.file.Paths.get(root)
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r
    Files.walk(r).iterator().asScala.map { p =>
      uuid.replaceAllIn(r.relativize(p).toString, "<uuid>") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff,
          if (Files.isDirectory(p)) Nil else Files.readAllBytes(p).toSeq)
    }.toMap
  }

  test("a store append writes the tree, bytes and modes of a plain Spark write, starting no process") {
    val df = spark.range(0, 128, 1, 1)
      .select(col("id"), (col("id") * 7 % 64).cast("int").as("p"))
    val root = tempDir("sameout")
    val (_, plainProcs) = ProcLog.during(df.repartition(col("p"))
      .write.mode("append").partitionBy("p").parquet(s"$root/plain"))
    val (_, storeProcs) = ProcLog.during(
      StoreLayout.appendBuckets(df, StoreLayout.Table("id BIGINT, p INT", Seq("p")),
        s"$root/store"))
    // control: the plain write set its modes through Hadoop's `chmod`
    assert(plainProcs.count(_.startsWith("chmod")) > 64, plainProcs.take(3))
    assert(storeProcs.isEmpty, storeProcs.take(3))
    val (plain, store) = (tree(s"$root/plain"), tree(s"$root/store"))
    assert(store.keySet == plain.keySet)
    assert(plain.keys.count(_.startsWith("p=")) == 64 + 2 * 64)
    assert(plain.keySet.exists(_.endsWith(".crc")) && plain.keySet("_SUCCESS"))
    plain.foreach { case (rel, (mode, bytes)) =>
      assert(store(rel)._1 == mode, f"$rel: mode ${store(rel)._1}%o vs $mode%o")
      assert(store(rel)._2 == bytes, s"$rel: bytes differ")
    }
    assert(plain.values.map(_._1).toSet == Set(0x1a4, 0x1ed)) // 0644, 0755
    assert(rows(spark.read.parquet(s"$root/store")) ==
      rows(spark.read.parquet(s"$root/plain")))
  }

  test("the store FS sets a mode in-process and leaves bits above 0777 to Hadoop") {
    val local = java.nio.file.Paths.get(tempDir("modes")).resolve("d")
    val d = new Path(local.toString)
    val fs = StoreSwap.fsOf(spark, d.toString)
    assert(fs.isInstanceOf[StoreLayout.LocalFs])
    assert(fs.mkdirs(d))
    def mode = Files.getAttribute(local, "unix:mode").asInstanceOf[Int] & 0xfff
    def set(octal: String) = ProcLog.during(fs.setPermission(d,
      new FsPermission(Integer.parseInt(octal, 8).toShort)))._2
    assert(set("750").isEmpty && mode == Integer.parseInt("750", 8))
    val sticky = set("1755")
    assert(sticky.exists(_.startsWith("chmod 1755")), sticky)
    assert(mode == Integer.parseInt("1755", 8))
  }
}

object StoreLayoutSpec {
  final case class Deployment(stores: Curation.Stores, tranche: DataFrame,
                              imgs: DataFrame, vids: DataFrame,
                              embs: DataFrame)

  /** A deployment under `root` shaped like the ingest benchmark's: an IVF codebook,
    * a bootstrap tranche (every doc with doc_id % 5 != 0) over text,
    * image hashes and video frames, a PQ serving store and a three-doc
    * takedown, so every table a commit reads exists and the 64-bucket
    * ones have all buckets populated. Returns the next tranche
    * (doc_id % 5 == 0) with its image hashes, video frames and
    * embeddings, uncommitted.
    */
  def deployment(spark: SparkSession, sfDir: String,
                 root: String): Deployment = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sfDir)
    val stores = Curation.Stores(s"$root/text", s"$root/img", s"$root/aud",
      s"$root/vid", s"$root/emb", s"$root/led", pqIndex = s"$root/pq")
    def imgOf(b: DataFrame) =
      b.select(col("doc_id"), xxhash64(col("text")).as("hash"))
    def embOf(b: DataFrame) = emb.join(b.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi").select("vec_id", "embedding")
    val t0 = docs.filter(col("doc_id") % 5 =!= 0)
    val t1 = docs.filter(col("doc_id") % 5 === 0)
    IvfIndex.write(embOf(t0), stores.embedding, k = 4, iters = 1)
    Curation.commitTranche(t0, 0L, stores, imgHashes = Some(imgOf(t0)),
      vidFrames = Some(VideoHash.frameHashes(t0, "doc_id", "text")))
    PQ.writeIndex(embOf(t0), stores.pqIndex, iters = 1)
    Curation.retract(spark, t0.select("doc_id").orderBy("doc_id").limit(3),
      stores)
    Deployment(stores, t1, imgOf(t1), VideoHash.frameHashes(t1, "doc_id", "text"),
      embOf(t1))
  }

  /** Every table the commit path reads through [[StoreLayout.read]]. */
  def tables(spark: SparkSession,
             st: Curation.Stores): Seq[(String, String, StoreLayout.Table)] = {
    val pq = PQ.liveDir(spark, st.pqIndex)
    Seq(
      ("text params", s"${st.textIndex}/params", Dedup.ParamsTable),
      ("text bands", s"${st.textIndex}/bands", Dedup.BandsTable),
      ("text sets", s"${st.textIndex}/sets", Dedup.SetsTable),
      ("text members", s"${st.textIndex}/members", Dedup.MembersTable),
      ("image params", s"${st.image}/params", ImageHash.ParamsTable),
      ("image bands", s"${st.image}/bands", ImageHash.BandsTable),
      ("image members", s"${st.image}/members", ImageHash.MembersTable),
      ("video shingles", s"${st.video}/shingles", VideoHash.ShinglesTable),
      ("video seqs", s"${st.video}/seqs", VideoHash.SeqsTable),
      ("pq params", s"$pq/params", PQ.ParamsTable),
      ("pq centroids", s"$pq/centroids", PQ.CentroidsTable),
      ("pq codes", s"$pq/codes", PQ.CodesTable),
      ("ivf centroids", s"${st.embedding}/centroids", IvfIndex.CentroidsTable),
      ("ivf centroids_q", s"${st.embedding}/centroids_q", IvfIndex.CentroidsQTable),
      ("ivf vectors", s"${st.embedding}/vectors", IvfIndex.VectorsTable),
      ("id registry", s"${st.ledger}.ids", Curation.IdsTable),
      ("tombstones", s"${st.ledger}.tombstones", Curation.TombstonesTable))
  }
}
