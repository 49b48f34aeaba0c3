package graft.expr

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.{Boilerplate, Curation, Dedup, Drift, ImageHash, KMeans, NgramLm, Packing,
  Profile, QualityModel, Quantize, Retrieval, Sampling, Similarity, TextAnalytics, UnigramLm}
import graft.plans.{AsOfJoinNative, RangeJoinNative}

/** `SparkSessionExtensions` installer (SURVEY.md §7.3 tier (c) machinery):
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.expr.GraftExtensions` exposes the custom
  * expression library and the engine's table functions to SQL, and
  * installs the opt-in approx-distinct optimizer rule. Each function is
  * declared once in the companion (`scalars`, `tables`); `SqlSurfaceSpec`
  * pins the registered names and usage texts and calls every function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    // tier-(c) optimizer rule: opt-in approx-distinct mode
    // (spark.graft.approxCountDistinct=true) — see plans/ApproxDistinctRule
    e.injectOptimizerRule(spark => graft.plans.ApproxDistinctRule(spark))
    scalars.foreach(f => e.injectFunction(f.entry(identity)))
    tables.foreach(f => e.injectTableFunction(f.entry(_.queryExecution.analyzed)))
  }
}

object GraftExtensions {

  /** How an argument is read: `read` takes the expressions this kind
    * accepts, `noun` names them when a call passes anything else. */
  private final case class Kind(noun: String, read: PartialFunction[Expression, Any])

  private val AnyExpr = Kind("an expression", { case e => e })
  private val Str = Kind("a string literal", { case Literal(s: UTF8String, _) => s.toString })
  // a catalog table or view, named by a string literal
  private val Table = Kind("a string literal",
    { case Literal(s: UTF8String, _) => SparkSession.active.table(s.toString) })
  // a BIGINT literal outside INT range is refused, never wrapped
  private val Int32 = Kind("an integer literal within INT range", {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
  })
  private val Int64 = Kind("an integer literal", {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
  })
  private val Num = Kind("a numeric literal", {
    case Literal(v: Decimal, _) => v.toDouble
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
  })

  /** One declared parameter; `optional` ones form a form's tail, all
    * passed or none. */
  private final case class Param(name: String, kind: Kind, optional: Boolean = false) {
    def opt: Param = copy(optional = true)
    /** The one literal reader: `what` labels the argument in the refusal. */
    def read(e: Expression, what: String): Any = kind.read.applyOrElse(e,
      (_: Expression) => throw new IllegalArgumentException(s"$what must be ${kind.noun}, got $e"))
  }
  private def expr(name: String) = Param(name, AnyExpr)
  private def str(name: String) = Param(name, Str)
  private def table(name: String) = Param(name, Table)
  private def int(name: String) = Param(name, Int32)
  private def long(name: String) = Param(name, Int64)
  private def dbl(name: String) = Param(name, Num)

  /** One call's arguments, read by their declared kinds, by parameter name. */
  private final class Args(values: Map[String, Any]) {
    def spark: SparkSession = SparkSession.active
    def has(p: String): Boolean = values.contains(p)
    def expr(p: String): Expression = values(p).asInstanceOf[Expression]
    def str(p: String): String = values(p).asInstanceOf[String]
    def df(p: String): DataFrame = values(p).asInstanceOf[DataFrame]
    def int(p: String): Int = values(p).asInstanceOf[Int]
    def long(p: String): Long = values(p).asInstanceOf[Long]
    def dbl(p: String): Double = values(p).asInstanceOf[Double]

    /** The deployment the call addresses through its path parameters
      * (textPath … ledgerPath, pqPath), `paths` taking precedence; a path
      * the call does not pass is blank, so a ledger-only call reads the
      * ledger-side state alone. */
    def stores(paths: (String, String)*): Curation.Stores = {
      val p = paths.toMap.withDefault(n => if (has(n)) str(n) else "")
      Curation.Stores(p("textPath"), p("imagePath"), p("audioPath"), p("videoPath"),
        p("embeddingPath"), p("ledgerPath"), pqIndex = p("pqPath"))
    }
  }

  /** One SQL function: its name, the parameter lists it accepts, its
    * usage text after the signature, and its body. */
  private final class Fn[T](name: String, forms: Seq[Seq[Param]], doc: String, body: Args => T) {
    val signature: String = forms.map { ps =>
      val (req, opt) = ps.span(!_.optional)
      req.map(_.name).mkString(", ") +
        (if (opt.isEmpty) "" else opt.map(_.name).mkString("[, ", ", ", "]"))
    }.mkString(" | ")
    private def arities(ps: Seq[Param]) = Seq(ps.count(!_.optional), ps.size).distinct

    /** The registry entry. Its builder checks the arity, reads every
      * argument, and runs the body and `finish` under
      * [[Curation.consoleRead]]: a table-function builder runs inside the
      * session catalog's monitor, so any driver-side fan-out the body
      * starts must stay on the calling thread. */
    def entry[R](finish: T => R): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => R) =
      (new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          s"$name($signature) - $doc", ""),
        exprs => Curation.consoleRead {
          val ps = forms.find(arities(_).contains(exprs.size)).getOrElse(
            throw new IllegalArgumentException(s"$name takes ($signature): " +
              s"${forms.flatMap(arities).distinct.sorted.mkString(" or ")} argument(s), " +
              s"got ${exprs.size}"))
          finish(body(new Args(ps.zip(exprs).map { case (p, e) =>
            p.name -> p.read(e, s"$name ${p.name}") }.toMap)))
        })
  }
  private def fn[T](name: String, params: Param*)(doc: String)(body: Args => T): Fn[T] =
    new Fn(name, Seq(params), doc, body)

  private val scalars: Seq[Fn[Expression]] = Seq(
    fn("md5_prefix64", expr("str"), int("digits"))(
      "value of the first `digits` hex chars of md5(str); digits must be an integer " +
        "literal in [1, 15]")(
      a => Md5Prefix64(a.expr("str"), a.int("digits"))),
    fn("word_shingles", expr("str"), int("k"))(
      "overlapping k-word shingles of a space-tokenized string; k must be an integer " +
        "literal")(
      a => WordShingles(a.expr("str"), a.int("k"))),
    fn("vec_dot", expr("a"), expr("b"))(
      "dot product of two ARRAY<DOUBLE> of equal length")(
      a => VecDot(a.expr("a"), a.expr("b"))),
    fn("vec_l2sq", expr("a"), expr("b"))(
      "squared L2 distance of two ARRAY<DOUBLE> of equal length")(
      a => VecL2Sq(a.expr("a"), a.expr("b"))),
    fn("sorted_long_intersect", expr("a"), expr("b"))(
      "count of elements of a present in b. BOTH ARRAY<BIGINT> INPUTS MUST BE SORTED " +
        "ASCENDING (e.g. sort_array(...)); unsorted input silently under-counts - run " +
        "with -Dgraft.sorted.check=true to turn misuse into an error")(
      a => SortedLongIntersect(a.expr("a"), a.expr("b"))),
    fn("subword_token_count", expr("str"))(
      "BPE-ish subword token count of a string")(
      a => SubwordTokenCount(a.expr("str"))),
    fn("url_canonical", expr("str"))(
      "canonical dedup key of a URL: fragment dropped, scheme/authority lowercased, " +
        "tracking params (utm_*, expire, ref, fbclid) stripped, ?/& punctuation " +
        "tidied; single-pass codegen")(
      a => UrlCanonical(a.expr("str"))),
    // aggregates: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression itself
    fn("top_k_pairs", expr("score"), expr("key"), int("k"))(
      "aggregate: the k best (BIGINT score, STRING key) pairs per group, ordered score " +
        "DESC then key ASC; k must be an integer literal")(
      a => TopKPairs(a.expr("score"), a.expr("key"), a.int("k"))),
    fn("cms_sketch", expr("term"), int("depth"), int("width"))(
      "aggregate: count-min sketch of STRING terms as a row-major depth*width " +
        "ARRAY<BIGINT>; depth and width must be integer literals")(
      a => CmsSketchAgg(a.expr("term"), a.int("depth"), a.int("width"))),
    fn("hll_sketch", expr("term"))(
      "aggregate: HyperLogLog register file (p=8) of STRING terms as ARRAY<INT>(256); " +
        "estimate = 0.7213/(1+1.079/256)*65536 / sum(2^-Mj), mergeable by elementwise " +
        "max")(
      a => HllSketchAgg(a.expr("term"))),
    fn("bloom_sketch", expr("term"), int("mBits"), int("k"))(
      "aggregate: Bloom filter of STRING terms as ARRAY<BIGINT> (mBits/64 words); zero " +
        "false negatives, mergeable by elementwise OR; mBits and k must be integer " +
        "literals")(
      a => BloomSketchAgg(a.expr("term"), a.int("mBits"), a.int("k"))),
    fn("bloom_might_contain", expr("words"), expr("term"), int("mBits"), int("k"))(
      "membership probe against a bloom_sketch word array built with the same (mBits, " +
        "k); true iff all k bit positions of term are set. mBits and k must be integer " +
        "literals")(
      a => BloomSketchAgg.mightContainExpr(
        a.expr("words"), a.expr("term"), a.int("mBits"), a.int("k"))))

  // the console's two addressing forms: the ledger path alone audits the
  // ledger-side state (ledger, id registry, tombstones, releases), the
  // full 6/7-path form the whole deployment including modality stores and
  // the PQ serving index
  private val deployment = Seq(Seq(str("ledgerPath")),
    Seq("textPath", "imagePath", "audioPath", "videoPath", "embeddingPath", "ledgerPath")
      .map(str) :+ str("pqPath").opt)

  // Table functions name catalog tables/views and columns by string
  // literals; the curation read, serve, export and console sides address a
  // deployment by its store paths (Args.stores).
  private val tables: Seq[Fn[DataFrame]] = Seq(
    // the native planner nodes (plans/AsOfJoinNative, RangeJoinNative),
    // so a SQL-only user gets the single-exchange merge and the broadcast
    // interval sweep, not the windowed composition
    fn("asof_join", table("left"), table("right"), str("key"), str("time"),
      str("direction").opt)(
      "table function: point-in-time join of catalog tables/views `left` and " +
        "`right` on `key`, matching the latest right `time` <= left `time` " +
        "(direction 'backward', default) or earliest >= ('forward'); appends a " +
        "`matched` column. All arguments string literals.") { a =>
      AsOfJoinNative.asOf(a.df("left"), a.df("right"), a.str("key"), a.str("time"),
        a.str("time"), direction = if (a.has("direction")) a.str("direction") else "backward")
    },
    fn("range_join", table("points"), table("intervals"), str("point"), str("lo"), str("hi"))(
      "table function: rows of catalog table/view `points` joined to every " +
        "`intervals` row whose [lo, hi] contains `point`. All arguments string " +
        "literals.") { a =>
      RangeJoinNative.pointsInIntervals(a.df("points"), a.df("intervals"), a.str("point"),
        a.str("lo"), a.str("hi"))
    },
    fn("chunk_dedup", table("table"), str("idCol"), str("textCol"), int("window"))(
      "table function: keep each distinct window-token chunk only at its first " +
        "corpus position and reassemble documents; returns (doc_id, n_chunks, " +
        "n_kept, text_dedup). table/idCol/textCol string literals, window an " +
        "integer literal.") { a =>
      Dedup.chunkDedup(a.df("table"), a.str("idCol"), a.str("textCol"), a.int("window"))
    },
    fn("substring_dedup", table("table"), str("idCol"), str("textCol"), int("window"))(
      "table function: exact-substring dedup at every alignment (non-first " +
        "occurrences of corpus-duplicated window-token shingles lose their " +
        "tokens); returns (doc_id, n_tokens, n_removed, text_clean). " +
        "table/idCol/textCol string literals, window an integer literal.") { a =>
      Dedup.substringDedup(a.df("table"), a.str("idCol"), a.str("textCol"), a.int("window"))
    },
    fn("budget_select", table("table"), str("qualityCol"), str("idCol"), str("nCol"),
      long("budget"))(
      "table function: keep the maximal quality-descending prefix of `table` " +
        "whose cumulative `nCol` stays <= budget (two-phase distributed prefix " +
        "sum); appends cum_tokens. Cols string literals, budget an integer " +
        "literal.") { a =>
      Sampling.budgetSelect(a.df("table"), a.str("qualityCol"), a.str("idCol"),
        a.str("nCol"), a.long("budget"))
    },
    fn("first_occurrence_dedup", table("table"), str("keyCol"), str("trancheCol"),
      str("arrivalCol"))(
      "table function: classify every row of `table` as kept / dup_cross / " +
        "dup_within by first occurrence of `keyCol` in (tranche, arrival) order; " +
        "appends (status, keep_ord). All arguments string literals.") { a =>
      Dedup.firstOccurrenceDedup(a.df("table"), col(a.str("keyCol")),
        col(a.str("trancheCol")), col(a.str("arrivalCol")))
    },
    fn("curation_releases", str("ledgerPath"))(
      "table function: the published-release registry of the deployment whose " +
        "ledger lives at ledgerPath; returns (cutoff, rows, digest, " +
        "published_at, withdrawn, withdrawn_reason, withdrawn_at). ledgerPath a " +
        "string literal.") { a =>
      Curation.releases(a.spark, a.stores())
    },
    fn("corpus_asof", str("ledgerPath"), long("cutoff"))(
      "table function: the curated corpus as it ships at tranche `cutoff` — kept " +
        "(doc_id, tranche, modality) rows minus every retracted id " +
        "(Curation.corpusAsOf). ledgerPath a string literal, cutoff an integer " +
        "literal.") { a =>
      Curation.corpusAsOf(a.spark, a.stores(), a.long("cutoff"))
    },
    fn("corpus_diff", str("ledgerPath"), long("a"), long("b"))(
      "table function: what changed between the re-cuts at cutoffs a and b — " +
        "rows of corpus_asof(b) absent at a tagged 'added', rows of the earlier " +
        "cut absent from the later tagged 'removed' (Curation.corpusDiff). " +
        "ledgerPath a string literal, a/b integer literals.") { a =>
      Curation.corpusDiff(a.spark, a.stores(), a.long("a"), a.long("b"))
    },
    fn("serve_ann", str("ledgerPath"), str("pqPath"), table("queryTable"), int("topK"))(
      "table function: disk-native ADC top-k over the deployment's live PQ " +
        "serving generation with every UNAPPLIED tombstone excluded from the " +
        "candidate side before ranking (Curation.serveAnn). queryTable names a " +
        "catalog table/view with (vec_id, embedding). " +
        "ledgerPath/pqPath/queryTable string literals, topK an integer literal.") { a =>
      Curation.serveAnn(a.spark, a.stores(), a.df("queryTable"), topK = a.int("topK"))
    },
    fn("export_release", str("ledgerPath"), long("cutoff"), str("textPath").opt,
      str("imagePath").opt, str("audioPath").opt, str("videoPath").opt,
      str("embeddingPath").opt)(
      "table function: materialize the published release at `cutoff` — one row " +
        "per pinned manifest (doc_id, modality) with status exported/hole, " +
        "takedown holes named instead of silently absent " +
        "(Curation.exportRelease). The 2-arg form exports statuses from the " +
        "ledger alone (content refs null); the 7-arg form joins each modality " +
        "store for content_rows/content_ref. Paths string literals, cutoff an " +
        "integer literal; refuses a withdrawn release.") { a =>
      Curation.exportRelease(a.spark, a.stores(), a.long("cutoff"))
    },
    fn("export_release_payload", str("ledgerPath"), long("cutoff"), str("modality"),
      str("storePath"))(
      "table function: the train-ready payload of a published release for one " +
        "modality — the pinned manifest's rows joined back to the modality's " +
        "store content with takedown holes EXCLUDED " +
        "(Curation.exportReleasePayload). modality one of " +
        "text/image/audio/video/embedding; storePath that modality's store root. " +
        "Paths/modality string literals, cutoff an integer literal; refuses a " +
        "withdrawn release.") { a =>
      // the store path fills the modality's slot; an unknown modality
      // fills none and exportReleasePayload names the accepted ones
      val modality = a.str("modality")
      Curation.exportReleasePayload(a.spark,
        a.stores(s"${modality}Path" -> a.str("storePath")), a.long("cutoff"), modality)
    },
    new Fn("curation_fsck", deployment,
      "table function: the deployment audit (Curation.fsck) — one row per check, " +
        "(check, status ok/pending/violation, n, detail); `pending` resolves at the " +
        "next scheduled pass by design, `violation` names lost state with its recovery. " +
        "Read-only, lock-free. Paths string literals.",
      a => Curation.fsck(a.spark, a.stores())),
    new Fn("maintenance_report", deployment,
      "table function: the scheduled-maintenance due report (Curation.maintenanceReport " +
        "at default thresholds) — one row per existing store: (store, files, buckets, " +
        "files_per_bucket, tombstones_pending, due, skew, retired). Metadata-bounded, " +
        "read-only. Paths string literals.",
      a => Curation.maintenanceReport(a.spark, a.stores())),
    fn("verify_release", str("ledgerPath"), long("cutoff"))(
      "table function: audit one published release against its registry pin " +
        "(Curation.verifyRelease) — one row: (cutoff, pinned_rows, " +
        "pinned_digest, artifact_intact, recut_matches). recut_matches flips " +
        "false the moment a takedown lands after publication, by design. " +
        "ledgerPath a string literal, cutoff an integer literal.") { a =>
      Curation.verifyRelease(a.spark, a.stores(), a.long("cutoff"))
    },
    fn("verify_snapshot", str("srcPath"))(
      "table function: audit one backup's integrity against its copy-time " +
        "manifest, chain-resolved (Curation.verifySnapshot) — one row per role: " +
        "(role, files_expected, files_found, bytes_expected, bytes_found, " +
        "intact). srcPath a string literal naming the snapshot dir.") { a =>
      Curation.verifySnapshot(a.spark, a.str("srcPath"))
    },
    fn("containment_pairs", table("table"), str("idCol"), str("textCol"), int("maxDf"),
      dbl("minContainment"))(
      "table function: asymmetric (containment) duplicate pairs via a " +
        "rare-shingle inverted index; returns (a_id, b_id, la, lb, inter, " +
        "jaccard, containment). Cols string literals, maxDf an integer literal, " +
        "minContainment a numeric literal.") { a =>
      Dedup.containmentPairs(a.df("table"), a.str("idCol"), a.str("textCol"),
        maxDf = a.int("maxDf"), minContainment = a.dbl("minContainment"))
    },
    fn("curriculum_interleave", table("table"), str("idCol"), str("scoreCol"),
      int("nBuckets"))(
      "table function: rank by score desc (id tie-break), cut into nBuckets " +
        "difficulty tiers, append (rank, bucket, pos); ordering by (pos, bucket) " +
        "interleaves the tiers. Cols string literals, nBuckets an integer " +
        "literal.") { a =>
      Sampling.curriculumInterleave(a.df("table"), a.str("idCol"), a.str("scoreCol"),
        a.int("nBuckets"))
    },
    fn("table_profile", table("table"))(
      "table function: one-scan per-column profile of a catalog table/view; " +
        "returns (col_name, n_nonnull, n_null, n_distinct, hll_est, min_s, " +
        "max_s). Argument a string literal.") { a =>
      Profile.tableProfile(a.df("table"))
    },
    fn("snapshot_diff", table("a"), table("b"), str("idCol"))(
      "table function: classify every id across two same-schema catalog " +
        "tables/views as added / removed / changed / unchanged by " +
        "row-fingerprint comparison. All arguments string literals.") { a =>
      Profile.snapshotDiff(a.df("a"), a.df("b"), a.str("idCol"))
    },
    fn("sq8_stats", table("table"), str("vecCol"))(
      "table function: per-dimension int8 scalar-quantization error report over " +
        "a float-array column; returns (dim, mn, mx, n, sum_abs_err, max_err) in " +
        "micro-units. Both arguments string literals.") { a =>
      Quantize.sq8Stats(a.df("table"), a.str("vecCol"))
    },
    fn("model_quality_score", table("table"), table("weights"), str("idCol"), str("textCol"),
      int("buckets"))(
      "table function: score every document of `table` against the (bucket, wt) " +
        "linear model in `weights` over hashed unigram+bigram features; returns " +
        "(doc_id, n_features, score, keep). Table/col arguments string literals, " +
        "buckets an integer literal.") { a =>
      QualityModel.scoreDocuments(a.df("table"), a.str("idCol"), a.str("textCol"),
        a.df("weights"), a.int("buckets"))
    },
    fn("incremental_neardup_pairs", table("standing"), table("incoming"), str("idCol"),
      str("textCol"))(
      "table function: MinHash-LSH near-dup pairs a new tranche adds to a " +
        "standing corpus (new x standing via the band index, new x new within " +
        "the tranche); returns (a_id, b_id, jaccard, src). All arguments string " +
        "literals.") { a =>
      Dedup.incrementalNearDupPairs(a.df("standing"), a.df("incoming"), a.str("idCol"),
        a.str("textCol"))
    },
    fn("ivf_assign_with", table("incoming"), table("train"), int("k"), int("iters"))(
      "table function: assign `incoming`'s (vec_id, embedding) rows into the IVF " +
        "codebook learned on `train` (no retrain — the index-append path); " +
        "returns (vec_id, cell, dist). Tables string literals, k/iters integer " +
        "literals.") { a =>
      KMeans.assignWith(a.df("incoming"), a.df("train"), a.int("k"), a.int("iters"))
    },
    fn("codebook_drift", table("standing"), table("incoming"), int("k"), int("iters"),
      int("ratio"))(
      "table function: per-cell drift report after IVF appends (n_standing, " +
        "n_new, mean_std, mean_new, retrain flag at ratio x drift). Tables " +
        "string literals, k/iters/ratio integer literals.") { a =>
      KMeans.codebookDrift(a.df("standing"), a.df("incoming"), a.int("k"), a.int("iters"),
        a.int("ratio"))
    },
    fn("bm25_topk", table("docs"), table("queries"), str("idCol"), str("textCol"),
      int("topK"))(
      "table function: top-K documents per query by BM25 (k1=1.2, b=0.75) over a " +
        "(qid, qtext) query table; returns (qid, rank, doc_id, score, n_hits). " +
        "Tables/cols string literals, topK an integer literal.") { a =>
      Retrieval.bm25TopK(a.df("docs"), a.str("idCol"), a.str("textCol"), a.df("queries"),
        topK = a.int("topK"))
    },
    fn("hamming_neardup_pairs", table("hashes"), str("idCol"), str("hashCol"),
      int("maxDist"))(
      "table function: all id pairs whose 64-bit perceptual hashes are within " +
        "Hamming distance maxDist (banded equi-join, exact by pigeonhole); " +
        "returns (a_id, b_id, hamming). Table/cols string literals, maxDist an " +
        "integer literal < 8.") { a =>
      ImageHash.hammingNearDups(a.df("hashes"), a.str("idCol"), a.str("hashCol"),
        maxDist = a.int("maxDist"))
    },
    fn("rrf_fuse", table("rankA"), table("rankB"), int("kRrf"), int("topK"))(
      "table function: reciprocal-rank fusion of two (qid, doc_id, rank) " +
        "retrieval lists; returns (qid, rank, doc_id, rrf, n_lists). Tables " +
        "string literals, kRrf/topK integer literals.") { a =>
      Retrieval.reciprocalRankFusion(Seq(a.df("rankA"), a.df("rankB")), a.int("kRrf"),
        a.int("topK"))
    },
    fn("train_quality_model", table("docs"), table("labels"), str("idCol"), str("textCol"),
      int("buckets"), int("rounds"))(
      "table function: batch-perceptron training of the hashed linear quality " +
        "model against a (doc_id, y) label table (y in {-1, 1}); returns the " +
        "(bucket, wt) weight table model_quality_score consumes. Tables/cols " +
        "string literals, buckets/rounds integer literals.") { a =>
      QualityModel.trainPerceptron(a.df("docs"), a.str("idCol"), a.str("textCol"),
        a.df("labels"), a.int("buckets"), a.int("rounds"))
    },
    fn("ffd_pack", table("table"), str("idCol"), str("lenCol"), long("binSize"),
      long("bucketWidth"))(
      "table function: first-fit-decreasing whole-document packing within length " +
        "buckets; returns (doc_id, len, bucket, bin). Table/cols string " +
        "literals, binSize/bucketWidth integer literals.") { a =>
      Packing.ffdPackBuckets(a.df("table"), a.str("idCol"), a.str("lenCol"),
        a.long("binSize"), a.long("bucketWidth"))
    },
    fn("lm_perplexity", table("table"), str("idCol"), str("textCol"), str("targetExpr"))(
      "table function: score every document under a stupid-backoff hashed bigram " +
        "LM trained on the rows where the SQL boolean `targetExpr` holds; " +
        "returns (doc_id, n_bigrams, logprob, bin, ppl_bucket). All arguments " +
        "string literals; targetExpr is a SQL expression over the table's " +
        "columns.") { a =>
      NgramLm.perplexityScores(a.df("table"), a.str("idCol"), a.str("textCol"),
        org.apache.spark.sql.functions.expr(a.str("targetExpr")))
    },
    fn("intradoc_dedup", table("table"), str("idCol"), str("textCol"), int("width"))(
      "table function: keep only the first within-document occurrence of each " +
        "aligned width-token segment (degenerate-repetition removal); returns " +
        "(doc_id, n_segs, n_removed, clean_text). Table/cols string literals, " +
        "width an integer literal.") { a =>
      Boilerplate.dedupWithinDocuments(a.df("table"), a.str("idCol"), a.str("textCol"),
        a.int("width"))
    },
    fn("score_psi", table("standing"), table("incoming"), str("scoreCol"), int("bins"))(
      "table function: population-stability report between two integer-score " +
        "tables; returns (bin, n_std, n_new, psi), total PSI = sum(psi), alarm " +
        "conventionally at 0.2. Tables/col string literals, bins an integer " +
        "literal.") { a =>
      Drift.scorePsi(a.df("standing"), a.df("incoming"), a.str("scoreCol"), a.int("bins"))
    },
    fn("lsh_recall_audit", table("table"), str("idCol"), str("textCol"))(
      "table function: exact all-pairs Jaccard over the (bounded!) sample table " +
        "vs the MinHash-LSH candidate pipeline; returns per Jaccard decile " +
        "(jband, n_truth, n_caught). All arguments string literals.") { a =>
      Dedup.lshRecallAudit(a.df("table"), a.str("idCol"), a.str("textCol"))
    },
    fn("unigram_train", table("table"), str("textCol"), int("multiK"), int("rounds"))(
      "table function: SentencePiece-style hard-EM unigram tokenizer training " +
        "over the table's word stream; returns the final (piece, cnt, cost_fp) " +
        "vocabulary with fixed-point -log2 likelihood costs. Table/col string " +
        "literals, multiK/rounds integer literals.") { a =>
      UnigramLm.train(TextAnalytics.wordFreq(a.df("table"), a.str("textCol")),
        multiK = a.int("multiK"), rounds = a.int("rounds"))
    },
    fn("ledger_probe", table("standing"), table("incoming"), str("idCol"), str("textCol"))(
      "table function: first-occurrence curation verdicts for the incoming " +
        "tranche against the standing corpus' near-dup index; returns (doc_id, " +
        "decision in exact_dup|near_dup|kept). All arguments string literals.") { a =>
      Dedup.ledgerProbe(Dedup.nearDupIndex(a.df("standing"), a.str("idCol"), a.str("textCol")),
        a.df("incoming"), a.str("idCol"), a.str("textCol"))
    },
    fn("embedding_ledger_probe", table("standing"), table("incoming"), str("idCol"),
      str("embCol"), str("blockCol"))(
      "table function: first-occurrence semantic curation verdicts for the " +
        "incoming embedding tranche against the standing corpus (identity exact, " +
        "block-scoped cosine >= 0.35 near); returns (doc_id, decision in " +
        "exact_dup|near_dup|kept). All arguments string literals.") { a =>
      Similarity.ledgerProbe(a.df("standing"), a.df("incoming"), a.str("idCol"),
        a.str("embCol"), a.str("blockCol"), threshold = 0.35)
    })
}
