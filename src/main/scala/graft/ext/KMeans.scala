package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd k-means for IVF coarse quantization, in EXACT integer
  * arithmetic so any engine reproduces it bit-for-bit (the x26 oracle
  * runs the same rounds in DuckDB):
  *
  *  - embeddings quantize to `round(x·10^6) + 10^7` — for inputs in the
  *    supported domain |x| ≤ 10 the offset keeps every value positive
  *    (enforced at runtime in [[quantized]]; a negative quantized value
  *    would make `div` diverge between engines — Spark truncates toward
  *    zero, DuckDB `//` floors), so integer division for the means is
  *    floor == truncate in every engine, and it cancels in distances
  *    ((a+o)−(b+o) = a−b), leaving assignments unaffected;
  *  - seeds are the k lowest `vec_id`s (deterministic, no RNG);
  *  - each round: assign to the nearest centroid by integer squared L2
  *    (ties → lowest centroid id), then recompute centroids as
  *    element-wise `sum div count`.
  *
  * The distributed shape is the classic one (VERDICT r2 §missing #3):
  * centroids are k·dim rows broadcast to the assignment join, the
  * assignment is one partial-aggregating groupBy per round, and every
  * round's output is checkpointed so lineage stays flat. Magnitudes:
  * |x| ≤ 10 ⇒ v ≤ 2·10^7, per-pair dist ≤ 64·(4·10^7)² ≈ 1.0·10^17 —
  * two orders of magnitude inside signed-64 (max 9.2·10^18) for the
  * 64-dim unit-ish embeddings this targets.
  */
object KMeans {

  val Scale = 1000000L
  val Offset = 10000000L

  /** (vec_id, e: ARRAY<BIGINT>) quantized positive integer embeddings.
    * Values outside the supported domain (quantized < 0, i.e. x < −10)
    * fail the job loudly rather than silently breaking cross-engine
    * floor/truncate division parity.
    */
  private[ext] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => {
        val v = round(x.cast("double") * Scale).cast("long") + Offset
        when(v >= 0L, v).otherwise(raise_error(concat(
          lit("KMeans.quantized: embedding value below supported domain [-10, 10]: "),
          x.cast("string"))))
      }).as("e"))

  /** Memoized training per (session, input plan, params) — x26, x52's
    * coarse quantizer, and x53's recall derivation all train the same
    * codebook, so train once per session (the PQ.cache pattern). Keyed
    * by the 32-bit semanticHash; the stored plan is re-checked with
    * sameResult on every hit so a hash collision retrains instead of
    * returning the wrong centroids.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, Int, Int, Int, Int),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      (DataFrame, DataFrame))]()

  private def run(emb: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val plan = emb.queryExecution.analyzed
    // the file-set signature rides the key: two reads of one parquet
    // root canonicalize equal (sameResult) even after files were
    // appended, so a plan-only key would hand a growing corpus stale
    // centroids — the same hazard Dedup documents for candidate pairs
    val files = java.util.Arrays.hashCode(
      emb.inputFiles.sorted.asInstanceOf[Array[AnyRef]])
    val key = (emb.sparkSession, plan.semanticHash(), files, k, iters)
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    val hit = cache.get(key)
    if (hit != null && hit._1.sameResult(plan)) hit._2
    else {
      val r = runImpl(emb, k, iters)
      cache.put(key, (plan, r))
      r
    }
  }

  private def runImpl(emb: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1, "kmeans: k and iters must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = quantized(emb).localCheckpoint()
    val qe = q.select(col("vec_id"), posexplode(col("e")).as(Seq("i", "v")))
    val seedIds = q.select("vec_id").orderBy("vec_id").limit(k)
      .collect().map(_.getLong(0))
    val seedDf = seedIds.sorted.zipWithIndex
      .map { case (id, c) => (id, c.toLong) }.toSeq.toDF("vec_id", "cid")
    var centE = qe.join(broadcast(seedDf), "vec_id")
      .select(col("cid"), col("i"), col("v"))
      .localCheckpoint()
    var assign: DataFrame = null
    for (it <- 1 to iters) {
      val dists = qe
        .join(broadcast(centE.select(col("cid"), col("i"), col("v").as("cv"))), "i")
        .groupBy("vec_id", "cid")
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
      // argmin with deterministic tie-break: min over (dist, cid) structs
      assign = dists.groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
        .localCheckpoint()
      if (it < iters)
        centE = qe.join(assign.select("vec_id", "cid"), "vec_id")
          .groupBy("cid", "i").agg(expr("sum(v) div count(1)").as("v"))
          .localCheckpoint()
    }
    (assign, centE)
  }

  /** Final cell assignment: (vec_id, cell, dist) — `dist` is the exact
    * integer squared L2 to the winning centroid in quantized units.
    */
  def assign(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    run(emb, k, iters)._1
      .select(col("vec_id"), col("cid").as("cell"), col("dist"))

  /** The raw integer centroid table (cid, i, v) — the exact-arithmetic
    * artifact [[assignWith]] routes appends through; [[graft.ext.IvfIndex]]
    * persists it so on-disk indexes route appended batches with the
    * SAME integer distances as in-session training.
    */
  private[ext] def centroidsQuantized(emb: DataFrame, k: Int = 8,
                                      iters: Int = 2): DataFrame =
    run(emb, k, iters)._2

  /** Learned centroids de-quantized for ANN search:
    * (cell, ce: ARRAY<DOUBLE>).
    */
  def centroids(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    run(emb, k, iters)._2
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        s => (s.getField("v") - Offset).cast("double") / Scale).as("ce"))
      .select(col("cid").as("cell"), col("ce"))

  /** Assignment of arbitrary vectors under the centroids LEARNED ON
    * `train` — the IVF index-append path: a new tranche is routed into
    * the standing codebook without retraining (the codebook is the
    * persisted artifact; retraining per batch would both cost a full
    * corpus pass and silently re-shuffle every existing cell
    * assignment). Same integer distance and (dist, cid) tie-break as
    * training-time assignment; `train`'s memoized centroids are reused
    * across calls in a session. Returns (vec_id, cell, dist).
    */
  def assignWith(emb: DataFrame, train: DataFrame,
                 k: Int = 8, iters: Int = 2): DataFrame = {
    val centE = run(train, k, iters)._2
    val qe = quantized(emb)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "v")))
    qe.join(broadcast(centE.select(col("cid"), col("i"), col("v").as("cv"))), "i")
      .groupBy("vec_id", "cid")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"), col("m.dist").as("dist"))
  }

  /** Per-cell drift report after [[assignWith]]-style appends: standing
    * vs appended population and mean assignment distance, with a
    * retrain flag where the appended mean exceeds `ratio`× the standing
    * mean — the monitor that tells an IVF deployment its fixed codebook
    * no longer fits the arriving data. Distance sums ride
    * DECIMAL(38,0) (a 64-bit sum overflows around 10^4 vectors/cell at
    * the quantized magnitude bound); the means floor back to BIGINT,
    * exact in any engine since every distance is non-negative.
    */
  def codebookDrift(standing: DataFrame, incoming: DataFrame,
                    k: Int = 8, iters: Int = 2, ratio: Int = 2): DataFrame = {
    require(ratio >= 1, s"ratio must be >= 1, got $ratio")
    def cellStats(a: DataFrame, nCol: String, mCol: String) =
      a.groupBy("cell").agg(count(lit(1)).as(nCol),
        expr("CAST(sum(CAST(dist AS DECIMAL(38,0))) div count(1) AS BIGINT)").as(mCol))
    // FULL outer join (ADVICE r7): k-means can leave a centroid with no
    // standing members, and a shifted tranche routed into that empty
    // cell is exactly the drift event the monitor exists to catch — a
    // standing-keyed left join made such cells vanish from the report.
    cellStats(assign(standing, k, iters), "n_standing", "mean_std")
      .join(cellStats(assignWith(incoming, standing, k, iters), "n_new", "mean_new"),
        Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_standing"), lit(0L)).as("n_standing"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("mean_std"), lit(0L)).as("mean_std"),
        coalesce(col("mean_new"), lit(0L)).as("mean_new"),
        when(
          (coalesce(col("n_new"), lit(0L)) > 0 &&
            coalesce(col("n_standing"), lit(0L)) === 0) ||
            coalesce(col("mean_new"), lit(0L)) >
              coalesce(col("mean_std"), lit(0L)) * ratio,
          lit(1)).otherwise(lit(0)).as("retrain"))
  }
}
