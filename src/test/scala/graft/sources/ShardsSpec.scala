package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** The shard-export contract: content-addressed assignment, in-shard id
  * order, and bit-stability across re-runs — the properties a training
  * data loader builds its epoch ordering on.
  */
class ShardsSpec extends SparkSpec {

  private val nShards = 8

  test("writeTrainingShards: deterministic assignment, sorted shards, stable re-runs") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val total = docs.count()
    val out1 = tempDir("shards1")
    val written = Shards.writeTrainingShards(docs, "doc_id", out1, nShards)
    assert(written == total)

    val back = Shards.readShards(spark, out1)
    assert(back.count() == total, "no rows lost or duplicated")
    // every row sits in its content-addressed shard
    val misplaced = back.filter(
      col("shard") =!= Shards.shardOf(col("doc_id"), nShards)).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong shard")
    // all shards materialized (hash uniformity at 500 rows / 8 shards)
    assert(back.select("shard").distinct().count() == nShards)

    // in-shard file order is id order: each shard dir holds one file,
    // small enough to read as a single partition whose row order IS
    // the file order
    (0 until nShards).foreach { s =>
      val ids = spark.read.parquet(s"$out1/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"shard $s not sorted by doc_id")
      assert(ids.nonEmpty)
    }

    // re-run (different input partitioning) → identical shard contents
    val out2 = tempDir("shards2")
    Shards.writeTrainingShards(docs.repartition(13), "doc_id", out2, nShards)
    (0 until nShards).foreach { s =>
      val a = spark.read.parquet(s"$out1/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$out2/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(a == b, s"shard $s content changed across re-runs")
    }
  }
}
