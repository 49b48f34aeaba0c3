package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persistent IVF index: write → probe → append → probe, with the
  * partition-pruned scan asserted on the plan.
  */
class IvfIndexSpec extends SparkSpec {

  // 4 well-separated clusters of 64-d vectors: cluster g points along
  // axis g with a small per-vector jitter on a far dimension, so cosine
  // within a cluster is ~1 and across clusters is ~0 — argmin ties are
  // impossible and recall against brute force must be exactly 1
  private def planted(n: Int, idBase: Long) = {
    import spark.implicits._
    (0 until n).map { j =>
      val g = j % 4
      val e = Array.fill(64)(0.001f)
      e(g) = 1.0f
      e(60) = 0.001f * (j % 7 + 1)
      (idBase + j, e.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("write -> probe: disk top-k equals brute force on planted clusters; scan prunes cells") {
    val emb = planted(120, 0L)
    val dir = tempDir("ivfidx")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // centroids + integer codebook + cell-partitioned vectors all exist
    assert(spark.read.parquet(s"$dir/centroids").count() == 4)
    assert(spark.read.parquet(s"$dir/vectors").count() == 120)
    val queries = emb.filter(col("vec_id") < 4)
    val got = IvfIndex.topK(spark, dir, queries, k = 5, probes = 1)
    // the probed scan lists its cells as literal partition filters
    val plan = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"no partition pruning on the vector scan:\n${plan.take(3000)}")
    val rows = got.collect()
    assert(rows.length == 4 * 5)
    // every neighbor of query q (cluster q % 4) is from q's own cluster
    rows.foreach { r =>
      assert(r.getAs[Long]("cid") % 4 == r.getAs[Long]("qid") % 4, r.toString)
    }
    // exact agreement with in-session brute force (well-separated data)
    val bf = Similarity.bruteForceTopK(emb, col("vec_id") < 4, 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("cid"))).toSet
    val disk = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
      r.getAs[Long]("cid"))).toSet
    assert(disk == bf)
  }

  test("append routes through the persisted integer codebook and is immediately searchable") {
    val emb = planted(120, 0L)
    val dir = tempDir("ivfidx2")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // the appended batch replays the same clusters under fresh ids
    val batch = planted(40, 1000L)
    IvfIndex.append(batch, dir)
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() == 160)
    // every appended vector shares its cell with the standing members of
    // its own cluster — the exact integer routing of KMeans.assignWith
    val cellOf = vecs.filter(col("vec_id") < 1000L)
      .select((col("vec_id") % 4).as("g"), col("cell")).distinct()
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(cellOf.size == 4, s"standing clusters not cell-pure: $cellOf")
    vecs.filter(col("vec_id") >= 1000L)
      .select(col("vec_id"), col("cell")).collect().foreach { r =>
        assert(r.get(1) == cellOf(r.getLong(0) % 4), r.toString)
      }
    // in-session parity: disk routing == assignWith on the same training
    val viaSession = KMeans.assignWith(batch, emb, k = 4, iters = 2)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    vecs.filter(col("vec_id") >= 1000L).select("vec_id", "cell").collect()
      .foreach { r =>
        assert(r.get(1).toString == viaSession(r.getLong(0)).toString, r.toString)
      }
    // the appended vectors are found by a fresh probe
    val got = IvfIndex.topK(spark, dir,
      planted(4, 2000L), k = 3, probes = 1).collect()
    assert(got.nonEmpty && got.forall(r =>
      r.getAs[Long]("cid") % 4 == r.getAs[Long]("qid") % 4))
  }

  test("semantic ledgerProbe from disk: identity exact, cell-pruned near, first-seen") {
    import spark.implicits._
    val emb = planted(120, 0L)
    val dir = tempDir("ivfled")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    def custom(g: Int, j60: Float) = {
      val e = Array.fill(64)(0.001f); e(g) = 1.0f; e(60) = j60; e.toSeq
    }
    val tranche = Seq(
      (1000L, custom(0, 0.001f)),  // identical to standing vec 0 → exact
      (1001L, custom(1, 0.0005f)), // colinear with cluster 1, new vector → near
      (1002L, custom(1, 0.0005f)), // tranche copy of 1001 → exact (within)
      (1003L, custom(5, 0.003f))) // unplanted direction → kept
      .toDF("vec_id", "embedding")
    val out = IvfIndex.ledgerProbe(spark, dir, tranche,
      "vec_id", "embedding", threshold = 0.9)
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the standing scan reads ONLY the probed cells' partitions
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"no partition pruning on the vector scan:\n${plan.take(3000)}")
    assert(got == Map(1000L -> "exact_dup", 1001L -> "near_dup",
      1002L -> "exact_dup", 1003L -> "kept"), got.toString)
  }

  test("splitCell: a hot cell splits in place — probe parity, identity exact, cold cells untouched", graft.Slow) {
    import spark.implicits._
    val emb = planted(120, 0L)
    val dir = tempDir("ivfsplit")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // hot append: a second, well-separated direction (argmax dim 7 vs
    // the cell's native dim) routed into one cell by a slight lean —
    // the exact shape cellCensus flags and splitCell exists to heal
    val hot = (0 until 200).map { j =>
      val e = Array.fill(64)(0.001f)
      e(7) = 1.0f
      e(0) = 0.05f
      e(60) = 0.001f * (j % 7 + 1)
      (5000L + j, e.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.append(hot, dir)
    val census = IvfIndex.cellCensus(spark, dir).collect()
    val hotCell = census.maxBy(_.getAs[Long]("n_vectors"))
      .getAs[Any]("cell").toString.toLong
    // all-cell scans are brute-force-equivalent: with probes >= cell
    // count the probe reads every partition, so its results depend only
    // on the stored VECTORS, not the codebook — the before/after parity
    // oracle for a pure re-partitioning
    def allCellTopK(nCells: Int) = IvfIndex.topK(spark, dir,
        planted(4, 9000L), k = 5, probes = nCells)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("cid"), r.getAs[Double]("sim"))).toSet
    val before = allCellTopK(4)
    // cold-cell fingerprint: exact row sets per untouched partition
    def cellRows(c: Long) = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell") === c).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val coldCells = census.map(_.getAs[Any]("cell").toString.toLong)
      .filterNot(_ == hotCell)
    val coldBefore = coldCells.map(c => c -> cellRows(c)).toMap
    IvfIndex.splitCell(spark, dir, hotCell, kSplit = 2, iters = 2)
    // codebook: 4 - 1 + 2 cells; population preserved exactly
    val after = IvfIndex.cellCensus(spark, dir).collect()
    assert(after.length == 5, after.mkString(","))
    assert(after.map(_.getAs[Long]("n_vectors")).sum == 320)
    assert(after.forall(_.getAs[Any]("cell").toString.toLong != hotCell),
      "retired cell still in the codebook")
    // the two sub-cells separate the mixed directions (well-separated
    // sub-clusters ⇒ 2-means splits them): no cell mixes argmax
    // directions anymore, so standing probes stop scanning the
    // appended mass — the census's remediation goal, reached without
    // touching cold data. (The 200-vector sub-cell still reports high
    // OCCUPANCY skew — that is honest population imbalance, not
    // mixing.)
    val dirPurity = spark.read.parquet(s"$dir/vectors")
      .select(col("cell"),
        array_position(col("embedding"), array_max(col("embedding")))
          .as("direction"))
      .groupBy("cell").agg(countDistinct("direction").as("n_dirs"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(dirPurity.values.forall(_ == 1L),
      s"split left a direction-mixed cell: $dirPurity")
    coldCells.foreach { c =>
      assert(cellRows(c) == coldBefore(c), s"cold cell $c was disturbed")
    }
    // probe parity: the all-cell scan is row-identical across the split
    assert(allCellTopK(5) == before, "splitCell changed stored search results")
    // identity exactness survives the split: an identical copy of a
    // SUB-CELL vector and of a COLD vector both judge exact_dup
    val probe = Seq(
      (9100L, hot.filter(col("vec_id") === 5000L)
        .collect()(0).getSeq[Float](1)),
      (9101L, emb.filter(col("vec_id") === 1L)
        .collect()(0).getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val verdicts = IvfIndex.ledgerProbe(spark, dir, probe,
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(9100L) == "exact_dup" && verdicts(9101L) == "exact_dup",
      verdicts.toString)
    // append routing still agrees with storage: a vector appended
    // AFTER the split routes through the spliced integer codebook, and
    // an identical copy arriving later finds it — identity exactness
    // across split + post-split append
    IvfIndex.append(Seq((9200L, hot.filter(col("vec_id") === 5001L)
      .collect()(0).getSeq[Float](1))).toDF("vec_id", "embedding"), dir)
    val post = IvfIndex.ledgerProbe(spark, dir,
        Seq((9300L, hot.filter(col("vec_id") === 5001L)
          .collect()(0).getSeq[Float](1))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(post(9300L) == "exact_dup", post.toString)
  }

  test("heal: census-driven splits remediate every hot cell, nothing else", graft.Slow) {
    import spark.implicits._
    val emb = planted(120, 0L)
    val dir = tempDir("ivfheal")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // the census-test hot append: 200 vectors the frozen codebook
    // routes into one cell (~7.7x mean occupancy after)
    val hot = (0 until 200).map { j =>
      val e = Array.fill(64)(0.001f)
      e(7) = 1.0f
      e(0) = 0.05f
      e(60) = 0.001f * (j % 7 + 1)
      (5000L + j, e.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.append(hot, dir)
    val skewBefore = IvfIndex.cellCensus(spark, dir).collect()
      .map(_.getAs[Double]("skew")).max
    assert(skewBefore > 2.5, s"setup not skewed: $skewBefore")
    val splits = IvfIndex.heal(spark, dir, maxSkew = 2.0, iters = 2)
    assert(splits >= 1, "heal did not split the hot cell")
    val after = IvfIndex.cellCensus(spark, dir).collect()
    assert(after.map(_.getAs[Long]("n_vectors")).sum == 320,
      "heal lost or duplicated vectors")
    assert(after.forall(_.getAs[Double]("skew") <= 2.0),
      s"heal left a hot cell: ${after.mkString(", ")}")
    // identity still exact through the healed codebook
    val probe = IvfIndex.ledgerProbe(spark, dir,
        hot.filter(col("vec_id") === 5003L)
          .select((col("vec_id") + 90000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(_.getString(1)).toSeq
    assert(probe == Seq("exact_dup"), s"identity lost across heal: $probe")
  }

  test("heal stops on a degenerate hot cell instead of burning the split budget") {
    import spark.implicits._
    // three jittered clusters plus 60 BYTE-IDENTICAL vectors: k-means
    // cannot separate the identical mass, so its split grafts one full
    // sub-cell (plus empties) and the skew survives. heal must mark
    // that sub-cell stuck and stop — not spend maxSplits full-store
    // routing passes re-splitting it.
    val base = (0 until 30).map { j =>
      val g = j % 3
      val e = Array.fill(64)(0.001f)
      e(g) = 1.0f
      e(60) = 0.001f * (j % 7 + 1)
      (j.toLong, e.toSeq)
    }
    val degen = (0 until 60).map { j =>
      val e = Array.fill(64)(0.001f)
      e(3) = 1.0f
      (1000L + j, e.toSeq)
    }
    val emb = (base ++ degen).toDF("vec_id", "embedding")
    val dir = tempDir("ivfdegen")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    val skewBefore = IvfIndex.cellCensus(spark, dir).collect()
      .map(_.getAs[Double]("skew")).max
    assert(skewBefore > 2.0, s"setup not skewed: $skewBefore")
    val splits = IvfIndex.heal(spark, dir, maxSkew = 2.0, maxSplits = 6)
    assert(splits <= 2,
      s"heal burned $splits splits on an unsplittable identical mass")
    // nothing lost, store still serves
    assert(spark.read.parquet(s"$dir/vectors")
      .select("vec_id").distinct().count() == 90,
      "degenerate heal lost or duplicated vectors")
    val probe = IvfIndex.ledgerProbe(spark, dir,
        emb.filter(col("vec_id") === 1000L)
          .select((col("vec_id") + 90000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(_.getString(1)).toSeq
    assert(probe == Seq("exact_dup"), s"identity lost after heal: $probe")
  }

  test("compactCells collapses per-append files without changing serving") {
    val emb = planted(120, 0L)
    val dir = tempDir("ivfcompact")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    IvfIndex.append(planted(40, 2000L), dir)
    IvfIndex.append(planted(40, 3000L), dir)
    def cellFiles(): Map[String, Int] = {
      val vec = new java.io.File(s"$dir/vectors")
      vec.listFiles().filter(_.getName.startsWith("cell=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      ).toMap
    }
    assert(cellFiles().values.max >= 3,
      s"setup carries no append amplification: ${cellFiles()}")
    val before = IvfIndex.topK(spark, dir,
        emb.filter(col("vec_id") < 4), k = 5, probes = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("cid"))).toSet
    Maintenance.rewrite(spark, IvfIndex.vectorsStore(spark, dir))
    assert(cellFiles().values.max == 1,
      s"compactCells left small files: ${cellFiles()}")
    val after = IvfIndex.topK(spark, dir,
        emb.filter(col("vec_id") < 4), k = 5, probes = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("cid"))).toSet
    assert(after == before, "compactCells changed serving results")
    assert(spark.read.parquet(s"$dir/vectors").count() == 200,
      "compactCells lost or duplicated vectors")
  }

  test("removeIds: surgical erasure rewrites only the affected cells") {
    val emb = planted(120, 0L)
    val dir = tempDir("ivfrm")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // victims: three vectors that all live in ONE cell
    val victims = spark.read.parquet(s"$dir/vectors")
      .orderBy("cell", "vec_id").limit(3)
      .select("vec_id", "cell").collect()
    val victimCell = victims(0).get(1).toString
    assert(victims.forall(_.get(1).toString == victimCell))
    val victimIds = victims.map(_.getLong(0)).toSet
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def cellFiles(): Map[String, Set[String]] = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/vectors"))
      .filter(_.getPath.getName.startsWith("cell="))
      .map(s => s.getPath.getName -> fs.listStatus(s.getPath)
        .map(f => f.getPath.getName + ":" + f.getModificationTime).toSet)
      .toMap
    val before = cellFiles()
    import spark.implicits._
    Maintenance.erase(spark, IvfIndex.vectorsStore(spark, dir),
      victimIds.toSeq.toDF("vec_id"))
    val after = cellFiles()
    assert(!spark.read.parquet(s"$dir/vectors").select("vec_id").collect()
      .map(_.getLong(0)).toSet.exists(victimIds), "victims survived")
    assert(spark.read.parquet(s"$dir/vectors").count() == 117)
    // every cell except the victims' is byte-untouched (same files,
    // same modification times) — the erasure was surgical
    before.keys.filterNot(_ == s"cell=$victimCell").foreach { c =>
      assert(before(c) == after(c), s"removeIds touched unaffected $c")
    }
    assert(before(s"cell=$victimCell") != after(s"cell=$victimCell"),
      "victim cell not rewritten")
  }

  test("cell census: a skewed append is visible as occupancy skew") {
    import spark.implicits._
    val emb = planted(120, 0L)
    val dir = tempDir("ivfcensus")
    IvfIndex.write(emb, dir, k = 4, iters = 2)
    // balanced plant: every cell within rounding of mean occupancy
    val before = IvfIndex.cellCensus(spark, dir).collect()
    assert(before.length == 4)
    assert(before.map(_.getAs[Long]("n_vectors")).sum == 120)
    assert(before.forall(r => math.abs(r.getAs[Double]("skew") - 1.0) < 0.01))
    // a hot append: 200 vectors in a direction the codebook has never
    // seen (argmax dim 7), with a slight lean toward cluster 0 so the
    // frozen codebook routes ALL of them decisively into that one cell
    // (a perfectly orthogonal direction would tie-break on jitter)
    val hot = (0 until 200).map { j =>
      val e = Array.fill(64)(0.001f)
      e(7) = 1.0f
      e(0) = 0.05f
      e(60) = 0.001f * (j % 7 + 1)
      (5000L + j, e.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.append(hot, dir)
    val after = IvfIndex.cellCensus(spark, dir).collect()
    assert(after.length == 4)
    assert(after.map(_.getAs[Long]("n_vectors")).sum == 320)
    // the hot cell holds its 30 standing + 200 appended vectors and
    // reports the skew an ingestion monitor would alert on
    val hotRow = after.maxBy(_.getAs[Long]("n_vectors"))
    assert(hotRow.getAs[Long]("n_vectors") == 230)
    assert(hotRow.getAs[Double]("skew") > 2.5, hotRow.toString)
    // cold cells dropped below mean
    assert(after.count(_.getAs[Double]("skew") < 0.5) == 3)

    // the census's consequence before remediation: the grown cell MIXES
    // the new direction with a standing one, so probes of that standing
    // direction scan 200 junk vectors per query
    def cellDirections() = spark.read.parquet(s"$dir/vectors")
      .select(col("cell"),
        array_position(col("embedding"), array_max(col("embedding")))
          .as("direction"))
      .groupBy("cell")
      .agg(countDistinct("direction").as("n_dirs"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(cellDirections().values.max == 2, "hot cell should mix directions")

    // the remediation rewrite re-trains the codebook from the CURRENT
    // population: with a centroid budget for the new direction, every
    // cell is direction-pure again and standing probes stop paying for
    // the appended mass; the old store is retained for rollback
    IvfIndex.rewrite(spark, dir, k = 5, iters = 4)
    assert(spark.read.parquet(s"$dir/vectors").count() == 320)
    val purity = cellDirections()
    assert(purity.values.forall(_ == 1L),
      s"rewrite left a mixed cell: $purity")
    val got = IvfIndex.topK(spark, dir, planted(4, 9000L), k = 3, probes = 1)
      .collect()
    assert(got.length == 4 * 3 && got.forall(r =>
      r.getAs[Long]("cid") % 4 == r.getAs[Long]("qid") % 4))
    assert(new java.io.File(s"$dir.old/vectors").isDirectory,
      "previous store not retained for rollback")
  }
}
