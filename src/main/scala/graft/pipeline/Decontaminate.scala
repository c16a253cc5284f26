package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eval-set decontamination: flag every corpus document that is a
  * near-duplicate of a held-out evaluation/benchmark document — the
  * train/test-leak scrub every LLM training-data pipeline runs before
  * training. Same candidate semantics as [[Dedup]] (banded MinHash,
  * OR-amplification, exact-Jaccard adjudication; reference contract
  * /root/reference/src/hashes/minhash.jl:142 + similarities.jl:230-238) but
  * ASYMMETRIC, which changes the scale shape completely:
  *
  *  - the eval side is tiny (benchmark suites: 10³-10⁶ docs) while the
  *    corpus is the full 100 TB — so the eval side's band table is shipped
  *    as an explicit BROADCAST and the corpus band relation is probed at
  *    the scan with NO corpus-wide shuffle at all (the symmetric pipeline's
  *    bucket groupBy — its biggest exchange — does not exist here);
  *  - candidate volume is bounded by true contamination (each corpus row
  *    joins at most its matching eval buckets), so no census gate is
  *    needed: a boilerplate bucket shared with an eval doc is genuine
  *    contamination output, linear in its size, not an O(n²) self-join;
  *  - verification is O(pairs): the candidate ids are counted (they are
  *    already materialized by the pair-dedup exchange) and the corpus text
  *    is re-read through an id probe — broadcast when the count proves it
  *    small, shuffle_hash above [[Dedup.BroadcastKeyLimit]]; the posture of
  *    [[Dedup.prunedVerify]], the stores' one verify — so corpus-wide
  *    shingle relations are never shuffled for a handful of contaminated
  *    docs.
  *
  * Two entry shapes:
  *  - [[pairsWithHandle]] over an in-memory (id, text) corpus;
  *  - [[pairsFromCheckpoints]] over a completed (possibly incremented)
  *    [[CheckpointedDedup]] store — the production shape when a NEW
  *    benchmark arrives after the corpus was already processed: the
  *    store's `bands` checkpoint is probed directly and corpus text is
  *    touched only for the O(pairs) pruned verify, so NO corpus text is
  *    re-hashed (the increments' never-re-hash-old-text contract, applied
  *    cross-operator).
  *
  * Output: (doc_id, eval_id, jaccard) — one row per (corpus doc, eval doc)
  * pair with exact word/char-shingle Jaccard ≥ cfg.threshold. Deterministic
  * under any partitioning (stateless seeded hashing + exact verification).
  * A doc id present in BOTH inputs IS flagged (as the self-pair
  * (id, id, 1.0)): for the scrub semantics the benchmark page itself
  * sitting in the training corpus is the worst leak, not a non-pair —
  * with url-derived ids (Main.asEval / DocIds) a corpus crawl of the
  * benchmark's own page lands on exactly this case, and the round-5 review
  * showed the previous same-id exclusion shipped it into clean().
  *
  * Documents with EMPTY shingle sets (null text, or shorter than one
  * shingle) are dropped from both sides before banding: an empty-set MinHash
  * signature is the constant all-lanes −1, so every empty doc lands in the
  * SAME band bucket per band — one short eval item would candidate-pair
  * with every near-empty corpus page (millions at web scale, and this
  * asymmetric operator deliberately has no census gate to absorb it) only
  * for every such pair to verify to J(∅,∅) = 0. The filter is exact:
  * J ≥ threshold > 0 is unreachable for an empty set.
  */
object Decontaminate {

  /** Above this many eval-side band rows (nEval·bands) the explicit
    * broadcast falls back to a shuffle probe — ~16 B/row, so this caps the
    * broadcast at ~80 MB. */
  private[pipeline] val EvalBandLimit = 5000000L

  /** Byte budget for broadcasting the eval SHINGLE relation in the verify
    * join. Unlike band rows (16 B flat), shingle arrays are ~8 B per
    * SHINGLE — a web page is KBs of hashes — so this decision is made on
    * the measured total (one agg over the already-cached tiny side), not
    * on the doc count. */
  private[pipeline] val EvalShingleBytes = 64L << 20

  /** The three counted broadcast-or-shuffle cutovers of one run: eval band
    * rows, eval shingle bytes and candidate pairs; specs lower them to
    * reach every fallback. */
  private[graft] final case class Limits(
      bandRows: Long = EvalBandLimit,
      shingleBytes: Long = EvalShingleBytes,
      pairs: Long = Dedup.BroadcastKeyLimit)

  private def emptyResult(spark: SparkSession): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    (Seq.empty[(Long, Long, Double)].toDF("doc_id", "eval_id", "jaccard"), Seq.empty)
  }

  /** Shared candidate+verify assembly, parameterized over where the corpus
    * side comes from (in-memory text vs checkpoint tables).
    *
    * @param corpusBands (id, band_hash) — one narrow pass or a checkpoint scan
    * @param corpusDocs  (id, text) — read only at the candidate ids
    */
  private def flagAgainstEval(
      evalSigs: DataFrame,
      nEval: Long,
      evalShingleBytes: Long,
      corpusBands: DataFrame,
      corpusDocs: DataFrame,
      cfg: DedupConfig,
      limits: Limits): (DataFrame, Seq[DataFrame]) = {
    val spark = evalSigs.sparkSession
    val evalBands = Dedup.bands(evalSigs, cfg)
      .select(col("id").as("eval_id"), col("band_hash"))
    val cand = corpusBands
      .join(Dedup.probeSide(evalBands, nEval * cfg.bands <= limits.bandRows), "band_hash")
      .select(col("id").as("doc_id"), col("eval_id"))
    // Partitioned by doc_id ONLY (dedupPairs rationale): the verify join on
    // doc_id reuses this exchange instead of re-shuffling the pair relation.
    val pairs = cand.repartition(col("doc_id"))
      .dropDuplicates("doc_id", "eval_id")
      .cache()
    val nPairs = pairs.count()
    if (nPairs == 0L) {
      pairs.unpersist(blocking = false)
      evalSigs.unpersist(blocking = false)
      return emptyResult(spark)
    }

    // Verify: exact Jaccard over the docs pruned to the candidate ids
    // (nPairs > 0: never an empty broadcast), shingles RE-DERIVED from text
    val corpusSh = corpusDocs
      .join(Dedup.probeSide(pairs.select(col("doc_id").as("id")).distinct(),
        nPairs <= limits.pairs), "id")
      .select(col("id").as("doc_id"), Dedup.shingleHashes(cfg)(col("text")).as("sh_a"))
    val evalSh = evalSigs.select(col("id").as("eval_id"), col("shingles").as("sh_b"))
    val out = pairs
      .join(corpusSh, "doc_id")
      .join(Dedup.probeSide(evalSh, evalShingleBytes <= limits.shingleBytes), "eval_id")
      .select(col("doc_id"), col("eval_id"),
        call_function("graft_jaccard_sorted", col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= cfg.threshold)
    (out, Seq(evalSigs, pairs))
  }

  /** Eval signatures (empty-shingle docs dropped — see class doc), cached,
    * with doc count AND total shingle count from ONE agg pass (the action
    * materializes the cache, drives every broadcast decision, and gates the
    * empty short-circuit — building the candidate plan for an empty eval
    * set would explicitly broadcast an EMPTY long-keyed relation, the
    * phantom-broadcast shape this runtime accounts ~513 MiB for;
    * BENCH/BASELINE.md. The shingle total is MEASURED, not doc-count-
    * estimated: an eval set of long documents can be GBs of shingles at a
    * doc count whose 16 B/row band table still broadcasts fine). */
  private def evalSide(evalSet: DataFrame, cfg: DedupConfig): (DataFrame, Long, Long) = {
    val evalSigs = Dedup.signatures(evalSet, cfg)
      .where(size(col("shingles")) > 0).cache()
    val stats = evalSigs
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(size(col("shingles"))).cast("long"), lit(0L)).as("sh"))
      .first()
    val nEval = stats.getLong(0)
    if (nEval == 0L) evalSigs.unpersist(blocking = false)
    (evalSigs, nEval, 8L * stats.getLong(1))
  }

  /** Contaminated pairs plus every DataFrame the plan pinned (caller
    * unpersists after materializing — the [[Dedup.nearDupPairsWithHandle]]
    * contract). Both inputs carry the pipeline's (id LONG, text STRING)
    * schema. */
  def pairsWithHandle(
      corpus: DataFrame,
      evalSet: DataFrame,
      cfg: DedupConfig): (DataFrame, Seq[DataFrame]) =
    pairsWithHandle(corpus, evalSet, cfg, Limits())

  private[graft] def pairsWithHandle(
      corpus: DataFrame,
      evalSet: DataFrame,
      cfg: DedupConfig,
      limits: Limits): (DataFrame, Seq[DataFrame]) = {
    val spark = corpus.sparkSession
    graft.functions.GraftExpressions.register(spark)
    val (evalSigs, nEval, evalShBytes) = evalSide(evalSet, cfg)
    if (nEval == 0L) return emptyResult(spark)
    flagAgainstEval(
      evalSigs, nEval, evalShBytes,
      // one narrow text→sig→band pass over the corpus (empty-shingle docs
      // dropped — the constant-signature bucket, see class doc); with the
      // broadcast engaged the only corpus-wide exchange in the WHOLE
      // operator is the O(candidates) pair-dedup repartition
      corpusBands = Dedup.bands(
        Dedup.signatures(corpus, cfg).where(size(col("shingles")) > 0), cfg),
      corpusDocs = corpus,
      cfg, limits)
  }

  /** Decontamination over a COMPLETED (possibly incremented)
    * [[CheckpointedDedup]] store: the corpus side comes entirely from the
    * store's checkpoints — `bands` (16 B/row, probed by the eval
    * broadcast) and `docs` only for the O(pairs) pruned verify — so NO
    * corpus text is re-hashed. The store is validated first
    * ([[IncrementalDedup.validateStore]]): every stage must exist under
    * exactly this cfg's hash family, and every committed increment must
    * carry the same family tag. */
  def pairsFromCheckpoints(
      spark: SparkSession,
      baseDir: String,
      evalSet: DataFrame,
      cfg: DedupConfig): (DataFrame, Seq[DataFrame]) =
    pairsFromCheckpoints(spark, baseDir, evalSet, cfg, Limits())

  private[graft] def pairsFromCheckpoints(
      spark: SparkSession,
      baseDir: String,
      evalSet: DataFrame,
      cfg: DedupConfig,
      limits: Limits): (DataFrame, Seq[DataFrame]) = {
    graft.functions.GraftExpressions.register(spark)
    val (_, incs) = IncrementalDedup.validateStore(baseDir, cfg)
    val (evalSigs, nEval, evalShBytes) = evalSide(evalSet, cfg)
    if (nEval == 0L) return emptyResult(spark)
    flagAgainstEval(
      evalSigs, nEval, evalShBytes,
      // checkpointed band rows of empty-shingle docs cannot be filtered
      // away here, but they are inert: with the EVAL side's empty docs
      // dropped, the constant empty-signature band hash matches nothing
      // (up to a 64-bit collision, which exact verify then rejects)
      corpusBands = IncDirs.union(spark, baseDir, incs, "bands"),
      corpusDocs = IncDirs.union(spark, baseDir, incs, "docs"),
      cfg, limits)
  }

  /** Convenience form; leaves the pinned relations cached until the caller
    * clears the session cache (what Verify/Bench do between queries). */
  def pairs(corpus: DataFrame, evalSet: DataFrame, cfg: DedupConfig): DataFrame =
    pairsWithHandle(corpus, evalSet, cfg)._1

  /** The scrub itself: corpus docs with NO near-duplicate in the eval set —
    * what a pipeline actually writes out as the decontaminated training
    * corpus. The flagged-id relation is materialized (it is
    * O(contamination)) and the anti-join side chosen EXPLICITLY: broadcast
    * when sparse — a static Catalyst size estimate of the candidate+verify
    * subtree routinely exceeds the auto-broadcast threshold, and the
    * resulting sort-merge anti-join would shuffle-WRITE the whole corpus
    * text payload even when AQE later localizes the read — shuffle_hash
    * above [[Dedup.BroadcastKeyLimit]] (never a corpus broadcast), the
    * verify's own [[Dedup.probeSide]] choice.
    * Zero flags short-circuit to the corpus unchanged (broadcasting an
    * EMPTY long-keyed relation is the phantom-broadcast trap). Pinned
    * relations are O(eval)+O(pairs); released at the caller's next
    * clearCache like the other convenience entries. */
  def clean(corpus: DataFrame, evalSet: DataFrame, cfg: DedupConfig): DataFrame = {
    val ids = pairs(corpus, evalSet, cfg)
      .select(col("doc_id").as("id")).distinct().cache()
    val nFlagged = ids.count()
    if (nFlagged == 0L) {
      ids.unpersist(blocking = false)
      return corpus
    }
    corpus.join(Dedup.probeSide(ids, nFlagged <= Dedup.BroadcastKeyLimit), Seq("id"), "left_anti")
  }
}
