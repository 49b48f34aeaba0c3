package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Deterministic synthetic "link" records derived from the driver's
  * TPC-H-ish tables, so the reference's enrichment pipeline
  * (`video_processor.py:253-323`) can be exercised — and oracle-checked —
  * on driver-generated data (SURVEY.md §7.2 step 1).
  *
  * One link per lineitem row (`lkey = l_orderkey*10 + l_linenumber`,
  * unique), title from the joined `part.p_name` plus a language-bearing
  * suffix, resolution outcomes (null / still-a-watch-page / CDN URL with
  * a rotating extension) assigned by modular arithmetic on `lkey` so
  * every downstream branch of the pipeline gets coverage:
  * D3/D4 failure paths, all 8 extension cases of P4/P5, the null-title
  * (P12) and null-thumbnail (P11) fallbacks, and all 6 language branches
  * of P7.
  *
  * The DuckDB mirror of this derivation is [[SynthLinks.cte]]; the Spark
  * and SQL sides must stay in lock-step — the driver hash-compares them.
  *
  * Scale note: `part` is the small side and is broadcast by Catalyst
  * (20k rows at sf0.1); the derivation itself is a narrow projection, no
  * shuffle beyond the broadcast join.
  */
object SynthLinks {

  private val langSuffixes = Seq(
    " tamil melody", " hindi dance beats", " english classics",
    " telugu folk song", " malayalam hits", " kannada beats",
    " the official video song hd", "")

  private val extSuffixes = Seq(
    ".m4a", ".mp3", ".webm", ".m3u8", ".ogg", ".aac", ".mp4", "")

  // Materialized shared intermediate: ~16 declared queries start from this
  // derivation (lineitem ⋈ part + groupBy), so build it once per
  // (session, sfDir) and persist. The derivation *shrinks* its input
  // (~7.6% of lineitem rows, 6 narrow columns), so at 100 TB this is the
  // classic "materialize the shared dimension-like intermediate" move —
  // one shuffle total instead of one per consuming query. MEMORY_AND_DISK
  // spills instead of recomputing under memory pressure.
  private val memo = new Builds.Memo((spark, sfDir) =>
    build(spark, sfDir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Synthetic links table: lkey, url, title, thumbnail, stream_url, ts. */
  def links(spark: SparkSession, sfDir: String): DataFrame = memo(spark, sfDir)

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    // lkey is de-duplicated via GROUP BY + min() because the generator's
    // l_linenumber is random within an order — (l_orderkey, l_linenumber)
    // is not unique — and the declared queries need a total order on a
    // genuinely unique key (SURVEY.md §7.4 risk 4).
    val base = li
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy((col("l_orderkey") * 10 + col("l_linenumber")).as("lkey"))
      .agg(min(col("p_name")).as("p_name"), min(col("l_shipdate")).as("ts"))

    val lkey = col("lkey")
    val langSfx = element_at(array(langSuffixes.map(lit): _*), (lkey % 8).cast("int") + 1)
    val extSfx = element_at(array(extSuffixes.map(lit): _*), (lkey % 8).cast("int") + 1)
    base.select(
      lkey,
      concat(lit("https://www.youtube.com/watch?v="), lkey).as("url"),
      when(lkey % 31 === 2, lit(null).cast("string"))
        .otherwise(concat(col("p_name"), langSfx)).as("title"),
      when(lkey % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("https://i.example.org/"), lkey, lit("/thumb.jpg")))
        .as("thumbnail"),
      when(lkey % 37 === 0, lit(null).cast("string"))
        .when(lkey % 37 === 1, concat(lit("https://www.youtube.com/watch?v="), lkey))
        .otherwise(concat(
          lit("https://cdn.example.org/media/"), lkey, extSfx, lit("?expire=86400")))
        .as("stream_url"),
      col("ts"))
  }

  /** Links that survived resolution: D4 (null) + D3 (watch-page) filters
    * (`video_processor.py:261-273`).
    */
  def resolved(spark: SparkSession, sfDir: String): DataFrame =
    links(spark, sfDir)
      .filter(col("stream_url").isNotNull)
      .filter(!col("stream_url").contains("youtube.com/watch"))

  /** DuckDB CTE prefix mirroring [[links]] and [[resolved]] exactly.
    * Append a `SELECT ... FROM links|resolved` to build an oracle query.
    */
  val cte: String =
    """WITH base AS (
      |  SELECT l_orderkey*10 + l_linenumber AS lkey,
      |    min(p_name) AS p_name, min(l_shipdate) AS ts
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1
      |), links AS (
      |  SELECT lkey,
      |    'https://www.youtube.com/watch?v=' || lkey AS url,
      |    CASE WHEN lkey % 31 = 2 THEN NULL ELSE p_name ||
      |      CASE CAST(lkey % 8 AS INT)
      |        WHEN 0 THEN ' tamil melody' WHEN 1 THEN ' hindi dance beats'
      |        WHEN 2 THEN ' english classics' WHEN 3 THEN ' telugu folk song'
      |        WHEN 4 THEN ' malayalam hits' WHEN 5 THEN ' kannada beats'
      |        WHEN 6 THEN ' the official video song hd' ELSE '' END END AS title,
      |    CASE WHEN lkey % 5 = 0 THEN NULL
      |         ELSE 'https://i.example.org/' || lkey || '/thumb.jpg' END AS thumbnail,
      |    CASE WHEN lkey % 37 = 0 THEN NULL
      |         WHEN lkey % 37 = 1 THEN 'https://www.youtube.com/watch?v=' || lkey
      |         ELSE 'https://cdn.example.org/media/' || lkey ||
      |           CASE CAST(lkey % 8 AS INT)
      |             WHEN 0 THEN '.m4a' WHEN 1 THEN '.mp3' WHEN 2 THEN '.webm'
      |             WHEN 3 THEN '.m3u8' WHEN 4 THEN '.ogg' WHEN 5 THEN '.aac'
      |             WHEN 6 THEN '.mp4' ELSE '' END || '?expire=86400' END AS stream_url,
      |    ts
      |  FROM base
      |), resolved AS (
      |  SELECT * FROM links
      |  WHERE stream_url IS NOT NULL
      |    AND stream_url NOT LIKE '%youtube.com/watch%'
      |)""".stripMargin
}
