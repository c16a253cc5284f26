package graft.pipeline

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/** The eight checkpointed dedup stages (SURVEY.md §3.2), written once:
  *
  *   docs → shingles → signatures → bands → census → candidates → verified_pairs → clusters
  *
  * as one sequence over a PRIOR SNAPSHOT of the store. A build
  * ([[CheckpointedDedup.run]]) is an increment onto an empty store: its
  * prior is None. An increment ([[IncrementalDedup.run]]) runs over the
  * base ∪ its committed increments. The two entries supply only the
  * [[StageRunner]] (the base dir, or the increment's staging dir), the
  * stage hashes and the manifest tags.
  *
  * What each stage stores: docs, shingles, signatures and bands hold the
  * new docs' rows and the census the new docs' bucket counts (counts are
  * ADDITIVE: a full census is the sum over snapshots); candidates,
  * verified_pairs and clusters hold the union (O(dup pairs), not
  * O(corpus text)). Old text is never re-shingled.
  *
  * Per stage, what a prior adds:
  *  - docs: a url already stored is a re-crawl of the same document
  *    (byte-identical-text-per-url contract) and is dropped. ID STABILITY:
  *    existing ids never change; a new url whose hash collides with a
  *    stored id is rehashed on the NEW side only ([[DocIds.assign]] with
  *    the existing ids). A from-scratch build would rehash both sides — a
  *    disclosed divergence that fires at ~2⁻⁶⁴ per pair;
  *  - census: the TOUCHED census — for each bucket a new doc lands in, its
  *    size before (`prev_size`, the prior's census ⋉ the new keys) and
  *    after (`bucket_size`). Old-old pairs are invariant: a bucket with no
  *    new member adds nothing, and an over-cap bucket never comes back
  *    under the cap. Skew stats are cumulative;
  *  - candidates: the prior's band rows, read through the gate probe,
  *    extend one side of the new rows' bucket self-join; salted pairs only
  *    when a touched bucket is hot (an untouched hot bucket's window pairs
  *    are already stored), over the touched buckets' full membership from
  *    the narrow bands/signatures checkpoints; one dedup over prior ∪ new.
  *    With no touched in-cap or hot bucket the prior's pairs stand, and no
  *    prior band row is read;
  *  - verified_pairs: only pairs the prior has not adjudicated (a prior
  *    candidate has a verdict — kept in `verified_pairs` or failed); prior
  *    verified pairs are always kept, even when their bucket later crossed
  *    the cap (MONOTONE: verified knowledge is never un-learned; a
  *    from-scratch build would drop the over-cap bucket's candidates);
  *  - clusters: connected components warm-started from the prior's
  *    clusters when the entry supplies them ([[ConnectedComponents.fromLabels]]).
  *
  * Where a step reads the prior, a build reads an empty relation, which
  * the optimizer folds away: the build runs the plan it would run alone.
  * Otherwise an increment's output equals a build over old ∪ new pages
  * (IncrementalDedupSpec, with planted duplicates crossing the split).
  */
private[graft] object DedupStages {

  val Names: Seq[String] = Seq("docs", "shingles", "signatures", "bands", "census",
    "candidates", "verified_pairs", "clusters")

  /** The config fields each stage after docs reads — its chain salt, so a
    * change to (say) the verify threshold leaves upstream checkpoints
    * valid. saltWindow is in the candidates salt because that stage READS
    * it (it gates salted hot-pair generation): without it a saltWindow
    * change would resume from a stale candidates checkpoint. */
  private def salt(stage: String, cfg: DedupConfig): String = stage match {
    case "shingles" => s"${cfg.shingleWords}:${cfg.charShingles}:${cfg.seed}"
    case "signatures" => s"${cfg.numHashes}:${cfg.seed}"
    case "bands" => s"${cfg.bands}:${cfg.seed}"
    case "census" => "counts"
    case "candidates" => s"${cfg.maxBucket}:${cfg.saltWindow}"
    case "verified_pairs" => s"${cfg.threshold}"
    case "clusters" => "cc"
  }

  /** The per-stage chained config hashes downstream of the docs stage's
    * `h0`. An increment recomputes them from the base docs manifest to
    * prove the supplied cfg IS the base run's config — an increment with
    * a different seed/numHashes/bands would otherwise silently union
    * signatures from different hash families and miss every cross-split
    * near-dup (ADVICE r3). */
  private[pipeline] def chainFrom(h0: String, cfg: DedupConfig): Seq[(String, String)] =
    Names.tail.scanLeft("docs" -> h0) { case ((_, prev), s) =>
      s -> StageRunner.chainHash(prev, s, salt(s, cfg))
    }.tail

  /** The store as of its latest snapshot: the text-width stages and the
    * census as base ∪ increments, the pair stages as the latest
    * snapshot's. `labels` start connected components: the warm-start
    * `clusters` when given, else every stored doc on its own (cold start).
    * Stages are opened when a step first reads them. */
  final class Prior(
      spark: SparkSession, baseDir: String, incs: Seq[(Int, String)],
      clusters: Option[DataFrame]) {
    private def union(stage: String) = IncDirs.union(spark, baseDir, incs, stage)
    lazy val docs: DataFrame = union("docs")
    lazy val signatures: DataFrame = union("signatures")
    lazy val bands: DataFrame = union("bands")
    lazy val census: DataFrame = union("census")
    lazy val candidates: DataFrame = IncDirs.latest(spark, baseDir, incs, "candidates")
    lazy val verified: DataFrame = IncDirs.latest(spark, baseDir, incs, "verified_pairs")
    lazy val labels: DataFrame = clusters.getOrElse(selfLabels(docs)).select("id", "cluster_id")
    /** The cumulative skew stats of the latest census manifest. */
    lazy val skew: Map[String, String] =
      TableIO.readManifest(s"${incs.lastOption.fold(baseDir)(_._2)}/census")
        .map(_.extra).getOrElse(Map.empty)
  }

  private def selfLabels(docs: DataFrame): DataFrame = docs.select(col("id"), col("id").as("cluster_id"))

  /** What a run added: its new docs and the candidate pairs it verified. */
  final case class Added(docs: Long, pairsVerified: Long)

  /** Run (or resume) every stage through `runner`, in order. `hash` gives
    * each stage's config hash; `tags` are added to every manifest. With a
    * prior, `pages` (cached by the increment entry) is released once the
    * docs stage is written. */
  def run(
      spark: SparkSession,
      runner: StageRunner,
      pages: DataFrame,
      cfg: DedupConfig,
      hash: String => String,
      tags: Map[String, String],
      prior: Option[Prior]): Added = {
    def stage(name: String, extra: => Map[String, String] = Map.empty)(
        compute: => DataFrame): StageResult =
      runner.stage(name, hash(name), extra ++ tags)(compute)
    // frames cached for the stage being written (and, for the touched
    // census, the next one), released once the last reader is written
    val pinned = ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df.cache(); df }
    def release(): Unit = { pinned.foreach(_.unpersist(blocking = false)); pinned.clear() }
    // the prior's relation, or no rows with `like`'s schema: a join or union
    // side over it folds away, so the step runs the build's plan
    def earlier(read: Prior => DataFrame, like: => DataFrame): DataFrame =
      prior.fold(Dedup.none(like))(read)

    // 1. docs: stable id = seeded hash of url (no monotonically_increasing_id
    // — partition-dependent), with birthday collisions detected and rehashed
    // away (a 64-bit url hash alone silently merges ~3×10⁴ doc pairs at
    // 10^12 docs). The fresh pages are cached: the id collision check and
    // the stage write would each re-run the anti-join against the
    // corpus-sized url column.
    val docs = stage("docs") {
      val fresh = prior.fold(pages) { p =>
        pinned += pages
        pin(pages.join(p.docs.select("url").hint("shuffle_hash"), Seq("url"), "left_anti"))
      }
      DocIds.assign(fresh, existing = prior.map(_.docs.select("id")))
        .select(col("id"), col("url"), col("text"))
    }
    release()

    // 2-4. text-width stages for the new rows, as codegen kernels (a large
    // backfill is corpus-shaped and would pay interpreted-UDF boxing for
    // every row). Bands are 16 B/row and stateless per doc, so a snapshot
    // extends them without re-banding the store.
    graft.functions.GraftExpressions.register(spark)
    val shingles = stage("shingles") {
      docs.df.select(col("id"), Dedup.shingleHashes(cfg)(col("text")).as("shingles"))
    }
    val signatures = stage("signatures") {
      shingles.df.select(col("id"), Dedup.minhashSig(cfg)(col("shingles")).as("sig"))
    }
    val bands = stage("bands")(Dedup.bands(signatures.df, cfg))
    val nNew = runner.manifest("docs").map(_.rows).getOrElse(0L)

    // 5. census: ONE cached touched census and ONE stats job. With a prior,
    // the prior's census is consulted only for the new keys — a broadcast
    // semi-join probe at the columnar checkpoint scan when the new band
    // rows (nNew·bands of them) are few, a shuffle probe for a
    // backfill-sized increment — and the new rows are counted in the same
    // aggregate as the prior sizes. An increment with no new doc touches
    // nothing.
    lazy val touched = pin {
      prior.filter(_ => nNew > 0).fold(Dedup.withoutPrior(Dedup.bucketCensus(bands.df))) { p =>
        val keys = Dedup.probeSide(bands.df.select("band_hash"),
          nNew * cfg.bands <= Dedup.BroadcastKeyLimit)
        p.census.join(keys, Seq("band_hash"), "left_semi")
          .select(col("band_hash"), col("bucket_size").as("prev_size"), col("bucket_size"))
          .unionByName(bands.df.select(col("band_hash"), lit(0L).as("prev_size"), lit(1L).as("bucket_size")))
          .groupBy("band_hash")
          .agg(sum("prev_size").as("prev_size"), sum("bucket_size").as("bucket_size"))
      }
    }
    lazy val stats =
      if (nNew == 0) Dedup.CensusStats(0L, 0L, 0L, 0L) else Dedup.censusStats(touched, cfg)
    val priorSkew = prior.fold(Map.empty[String, String])(_.skew)
    def priorStat(key: String) = priorSkew.get(key).map(_.toLong).getOrElse(0L)
    // buckets only grow: the cumulative capped count is the prior's plus
    // the touched buckets that crossed the cap in this snapshot
    val census = stage("census", Map(
        "cappedBuckets" -> (priorStat("cappedBuckets") + stats.hot - stats.prevHot).toString,
        "maxBucketSize" -> math.max(priorStat("maxBucketSize"), stats.maxBucket).toString,
        "saltWindow" -> cfg.saltWindow.toString)) {
      touched.select(col("band_hash"), (col("bucket_size") - col("prev_size")).as("bucket_size"))
    }
    // A build's census IS its touched census and its touched hot count is
    // its capped count: both are read from the checkpoint (written above or
    // resumed), with no job, and the build's cache is done.
    val skew = runner.manifest("census").map(_.extra).getOrElse(Map.empty)
    val (touchedCensus, touchedHot) = prior.fold {
      release()
      (census.df, skew.get("cappedBuckets").map(_.toLong).getOrElse(0L))
    } { _ => (touched.select("band_hash", "bucket_size"), stats.hot) }

    // 6. candidates (the manifest discloses the skew stats)
    val candidates = stage("candidates", skew) {
      // an increment counted its gate: with no new doc, or no touched
      // in-cap bucket and no touched hot one (an untouched hot bucket's
      // window pairs are already stored), the prior's pairs stand
      Dedup.candidatePairs(bands.df, touchedCensus, signatures.df, cfg, touchedHot > 0,
        earlier(_.bands, bands.df), earlier(_.signatures, signatures.df),
        earlier(_.candidates, bands.df.select(col("id").as("id_a"), col("id").as("id_b"))),
        gateKeys = prior.map(_ => stats.gate))
    }
    release()

    // 7. verify: the docs are PRUNED to the pair ids (Dedup.prunedVerify),
    // so the verify is O(pairs), not O(corpus). A build counts its pairs
    // from the candidates manifest (no job); an increment's unadjudicated
    // pairs are cached, since the count materializes them anyway.
    val allDocs = earlier(_.docs, docs.df).unionByName(docs.df)
    var nPairs = 0L
    var nPrunedDocs = 0L
    val verified = stage("verified_pairs", Map(
        "verifyPruned" -> "true",
        "verifyPairCount" -> nPairs.toString,
        "verifyPrunedDocs" -> nPrunedDocs.toString)) {
      val pairs = prior.fold(candidates.df) { p =>
        pin(candidates.df.join(p.candidates.hint("shuffle_hash"), Seq("id_a", "id_b"), "left_anti"))
      }
      nPairs = prior.fold(runner.manifest("candidates").map(_.rows).getOrElse(-1L))(_ => pairs.count())
      // zero unadjudicated pairs — the common daily case — skips the verify
      // sub-plan (its prune, Jaccard and LCS joins over an empty pair set)
      prior.filter(_ => nPairs == 0).map(_.verified).getOrElse {
        val (fresh, prunedDocs) = Dedup.prunedVerify(pairs, nPairs, allDocs, cfg)
        pinned += prunedDocs
        nPrunedDocs = prunedDocs.count()
        // disjoint: each prior verified pair is a prior candidate, which
        // `pairs` excludes
        earlier(_.verified, fresh).unionByName(fresh)
      }
    }
    release()

    // 8. clusters over every id and the union verified pairs: stored docs
    // start at the prior's labels, new docs at their own ids
    stage("clusters") {
      ConnectedComponents.fromLabels(
        earlier(_.labels, selfLabels(docs.df)).unionByName(selfLabels(docs.df)),
        verified.df.select("id_a", "id_b"))
    }
    Added(nNew,
      runner.manifest("verified_pairs").flatMap(_.extra.get("verifyPairCount")).map(_.toLong)
        .getOrElse(0L))
  }
}
