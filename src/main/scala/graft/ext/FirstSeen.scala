package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The first-seen verdict core shared by the modality ledger probes
  * ([[Dedup.ledgerProbeFrom]], [[ImageHash.ledgerProbe]] and
  * [[ImageHash.ledgerProbeIndexed]], [[IvfIndex.ledgerProbe]]). Each
  * modality reduces its tranche to member rows keyed by a fingerprint
  * (text content hash, perceptual hash, vector) and its candidate
  * search to verified near pairs of keys; the verdicts then follow from
  * one rule:
  *
  *   exact_dup — the doc's key stands, or a smaller-id tranche copy
  *               shares it;
  *   near_dup  — a verified pair links its key to a key that arrived
  *               earlier: a standing key, or a tranche key whose first
  *               copy has a smaller id;
  *   kept      — otherwise (and for docs with no member row).
  *
  * Verdicts are judged per DISTINCT key — a 10k-copy template is one
  * judged key, never m² member pairs.
  *
  * Plan shape: one content table (key, fid, st) over the tranche's keys
  * — a single aggregation of the tranche members and the standing keys
  * — joined through alias-identical broadcasts (both pair sides and the
  * member rows read the same broadcast exchange, which adaptive
  * execution reuses), exact and near flagged per member row, and one
  * broadcast join onto `incoming`.
  *
  * Two verdict cores stay apart because their near rule differs:
  * [[VideoHash]]'s containment pairs join first-occurrence DOCS, and a
  * standing partner carries no sequence key; [[Similarity.ledgerProbe]]
  * lets a standing vector outrank a tranche vector only inside its own
  * label block and under the block cap, where this rule would let any
  * standing copy of a within-tranche partner outrank it.
  */
private[ext] object FirstSeen {

  /** (doc_id, decision) for every row of `incoming`.
    *
    * @param memN     tranche member rows (id, key)
    * @param standing standing keys reachable by this probe (key); repeats
    *                 allowed
    * @param pairs    verified near pairs (a, b) of keys, either
    *                 orientation, repeats allowed; a key that is not a
    *                 tranche key must be a standing key (every caller's
    *                 pairs join a tranche key to a tranche key or to a
    *                 live standing key)
    * @param incoming the judged docs (doc_id); a doc without a member row
    *                 is kept
    */
  def verdicts(memN: DataFrame, standing: DataFrame, pairs: DataFrame,
               incoming: DataFrame): DataFrame = {
    val idType = memN.schema("id").dataType
    // tranche keys only (fid non-null), so the broadcast stays bounded
    // by the tranche however large the probed standing slice is
    val content = broadcast(memN.select(col("key"), col("id").as("fid"),
        lit(0).as("st"))
      .unionByName(standing.select(col("key"),
        lit(null).cast(idType).as("fid"), lit(1).as("st")))
      .groupBy("key").agg(min(col("fid")).as("fid"), max(col("st")).as("st"))
      .filter(col("fid").isNotNull))
    // `p` outranks tranche key `x`: p is a standing key (absent from the
    // content table, or standing there too) or p's first copy is earlier
    def outranks(p: String, x: String) =
      col(s"$x.fid").isNotNull && (col(s"$p.fid").isNull ||
        col(s"$p.st") === 1 || col(s"$p.fid") < col(s"$x.fid"))
    val near = pairs
      .join(content.as("ca"), col("a") === col("ca.key"), "left")
      .join(content.as("cb"), col("b") === col("cb.key"), "left")
      .select(explode(array(
        when(outranks("cb", "ca"), col("a")),
        when(outranks("ca", "cb"), col("b")))).as("key"))
      .filter(col("key").isNotNull)
    val flags = memN.as("m").join(content.as("cm"), col("m.key") === col("cm.key"))
      .select(col("m.id").as("id"),
        (col("cm.st") === 1 || col("m.id") =!= col("cm.fid")).as("ex"),
        lit(false).as("nd"))
      .unionByName(memN.join(broadcast(near), Seq("key"), "left_semi")
        .select(col("id"), lit(false).as("ex"), lit(true).as("nd")))
      .groupBy(col("id").as("doc_id"))
      .agg(max(col("ex")).as("ex"), max(col("nd")).as("nd"))
    incoming.select(col("doc_id"))
      .join(broadcast(flags), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex"), lit("exact_dup"))
          .when(col("nd"), lit("near_dup"))
          .otherwise(lit("kept")).as("decision"))
  }
}
