package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The batched leaf-bucket rewrite's own contracts (ADVICE r17 #5 —
  * callers exercised it only incidentally): the multi-bucket batch
  * equals the per-dir path row-for-row, an all-rows-die bucket keeps
  * its schema-preserving empty directory, crash residue under the
  * staging dir is reclaimed by the next pass, and a leaf name that
  * does not survive the read/re-render round trip is NEVER batched
  * (the row-mixing hazard): its rows stay in their own bucket.
  */
class StoreSwapSpec extends SparkSpec {

  private def mkStore(parts: Int = 6, rowsPer: Int = 50): String = {
    import spark.implicits._
    val root = tempDir("swapspec")
    val df = (0 until parts).flatMap(p =>
      (0 until rowsPer).map(i => (p.toLong * 1000 + i, s"v$i", p.toLong)))
      .toDF("id", "payload", "idp")
    df.repartition(col("idp"))
      .write.partitionBy("idp").parquet(s"$root/codes")
    s"$root/codes"
  }

  private def readAll(dir: String) =
    spark.read.parquet(dir).select("id", "payload", "idp")

  test("batched multi-bucket rewrite drops exactly the transform's rows") {
    val dir = mkStore()
    val before = readAll(dir).count()
    val dirs = (0 until 6).map(p => s"$dir/idp=$p")
    StoreSwap.rewriteLeafDirsShared(spark, dirs,
      df => df.filter(col("id") % 2 === 0))
    val after = readAll(dir)
    assert(after.count() === before / 2)
    assert(after.filter(col("id") % 2 =!= 0).count() === 0)
    // every bucket re-packed to one file, buckets unchanged otherwise
    val fs = StoreSwap.fsOf(spark, dir)
    (0 until 6).foreach { p =>
      val leaf = new org.apache.hadoop.fs.Path(s"$dir/idp=$p")
      assert(fs.exists(leaf), s"bucket idp=$p must survive")
      val files = fs.listStatus(leaf).filter(_.getPath.getName.startsWith("part-"))
      assert(files.length === 1, s"bucket idp=$p should re-pack to one file")
      // no cross-bucket row movement: idp is a function of the rows
      assert(spark.read.parquet(s"$dir/idp=$p")
        .filter(floor(col("id") / 1000) =!= p).count() === 0)
    }
    // staging residue cleaned up after a successful pass
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith(".batchrw")))
  }

  test("a bucket whose rows all die keeps a schema-preserving empty dir") {
    val dir = mkStore()
    val dirs = (0 until 6).map(p => s"$dir/idp=$p")
    // kill every row of bucket 3, keep the rest
    StoreSwap.rewriteLeafDirsShared(spark, dirs,
      df => df.filter(floor(col("id") / 1000) =!= 3))
    val fs = StoreSwap.fsOf(spark, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idp=3")),
      "the emptied bucket directory must survive (per-dir fallback)")
    assert(spark.read.parquet(s"$dir/idp=3").count() === 0)
    assert(readAll(dir).count() === 5 * 50)
  }

  test("stale staging residue from a crashed pass is reclaimed") {
    val dir = mkStore()
    val fs = StoreSwap.fsOf(spark, dir)
    // simulate a crashed earlier batch: stale staging with garbage
    val stale = new org.apache.hadoop.fs.Path(s"$dir/.batchrw_compact_")
    fs.mkdirs(new org.apache.hadoop.fs.Path(stale, "idp=0"))
    val out = fs.create(new org.apache.hadoop.fs.Path(stale, "idp=0/junk"))
    out.write("junk".getBytes("UTF-8")); out.close()
    StoreSwap.rewriteLeafDirsShared(spark,
      (0 until 6).map(p => s"$dir/idp=$p"), df => df)
    assert(!fs.exists(stale), "the pass must reclaim its staging dir")
    assert(readAll(dir).count() === 6 * 50)
  }

  test("a non-round-tripping leaf name is never batched into another bucket") {
    val dir = mkStore(parts = 3)
    val fs = StoreSwap.fsOf(spark, dir)
    // hand-build a zero-padded sibling whose value re-renders as 1
    // (idp=01 infers as 1, would re-render into live bucket idp=1)
    import spark.implicits._
    val tmp = s"${tempDir("swapspec07")}/p"
    Seq((9901L, "x"), (9902L, "y")).toDF("id", "payload")
      .coalesce(1).write.parquet(tmp)
    val padded = new org.apache.hadoop.fs.Path(s"$dir/idp=01")
    fs.mkdirs(padded.getParent)
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.startsWith("part-"))
      .foreach(s => fs.rename(s.getPath, new org.apache.hadoop.fs.Path(
        padded, s.getPath.getName)))
    val liveBefore = spark.read.parquet(s"$dir/idp=1").count()
    StoreSwap.rewriteLeafDirsShared(spark,
      Seq(s"$dir/idp=01", s"$dir/idp=1", s"$dir/idp=2"), df => df)
    // the padded bucket kept its own rows (per-dir path), and the live
    // canonical bucket did NOT absorb them
    assert(spark.read.parquet(s"$dir/idp=01").count() === 2)
    assert(spark.read.parquet(s"$dir/idp=1").count() === liveBefore)
  }
}
